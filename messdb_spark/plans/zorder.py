"""Z-order (Morton-interleaved) multi-column clustering with
manifest-level min/max data skipping.

The range-bucketed layout (``range_layout.py``) is the trie's ordered
fan-out (``/root/reference/messdb-base/src/MessDB/Trie.hs:492-510``)
for a SINGLE key: a range read opens only the buckets whose span
intersects the query. But a table is often filtered on TWO independent
columns (customer AND order id, time AND tenant), and a layout sorted
on one dimension cannot prune on the other — a y-band query over an
x-sorted table opens every bucket.

This module is the standard lakehouse answer (Delta/Iceberg OPTIMIZE
ZORDER BY; "z-ordering" in the Hudi/Databricks literature, all public):

- each clustering column is quantile-binned into ``cells`` rank cells
  (split points from one ``percentile_approx`` pass per column, the
  same codebook-sized artifact as ``range_layout._split_points``);
- the cell ids' bits are INTERLEAVED into a Morton z-value, a pure
  whole-stage-codegen integer expression (shift/or chain, no UDF);
- rows are range-bucketed on the z-value, so each bucket covers a
  small HYPER-RECTANGLE of the value space rather than a stripe;
- the manifest records, per bucket, the ACTUAL min/max of every
  clustering column (one group-by pass over the tagged frame) — the
  file-statistics move (parquet footers / Delta file stats) lifted to
  object granularity, decided driver-side with no file opened;
- a box read opens only the buckets whose per-column [min, max]
  intersects the box ON EVERY DIMENSION, then applies the exact
  residual predicate to the survivors.

Correctness never depends on the z-mapping: pruning uses only the
recorded min/max (sound for any layout), and the residual filter
restores exact box semantics. The z-order is purely a LOCALITY
optimization — it is what makes the min/max ranges tight on BOTH
dimensions so that both single-dimension bands and 2-D boxes skip
most objects. At 100 TB with ~GB buckets, a 10% × 10% box opens ~1-2%
of objects instead of 10% (x-sorted) or 100% (y-band on x-sorted).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..store import ObjectStore
from .incremental import _BUCKET, EMPTY, _write_tagged_buckets
from .range_layout import _key_as_number, _key_kind, _split_points

_CELL_BITS = 4                      # 16 rank cells per dimension
_CELLS = 1 << _CELL_BITS


def _cell_col(col: str, kind: str, splits: tuple[float, ...]) -> F.Column:
    """Quantile cell id (0..cells-1) as a codegen WHEN-ladder — same
    shape as range_layout._range_bucket_col."""
    num = _key_as_number(col, kind)
    expr = None
    for i, b in enumerate(splits):
        cond = num < F.lit(float(b))
        expr = F.when(cond, i) if expr is None else expr.when(cond, i)
    if expr is None:
        return F.lit(0)
    return expr.otherwise(len(splits))


def _morton2(cx: F.Column, cy: F.Column, bits: int = _CELL_BITS) -> F.Column:
    """Interleave two ``bits``-bit cell ids into a 2·bits-bit z-value:
    bit i of x lands at position 2i+1, bit i of y at 2i. A pure
    shift/and/or integer chain — stays inside whole-stage codegen."""
    z = F.lit(0)
    for i in range(bits):
        z = (z.bitwiseOR(
                F.shiftleft(F.shiftright(cx, i).bitwiseAND(F.lit(1)),
                            2 * i + 1))
              .bitwiseOR(
                F.shiftleft(F.shiftright(cy, i).bitwiseAND(F.lit(1)),
                            2 * i)))
    return z


@dataclass(frozen=True)
class ZClusteredRef:
    """Manifest: z-bucket object hashes + per-bucket per-column
    min/max statistics (the skipping index)."""
    cluster_cols: tuple[str, ...]          # exactly two columns
    col_kinds: tuple[str, ...]
    col_splits: tuple[tuple[float, ...], ...]
    z_boundaries: tuple[float, ...]        # range split of the z-value
    bucket_hashes: tuple[str, ...]
    # stats[b] = {col: [min_num, max_num]} over the bucket's ROWS
    # (numeric projection); absent for empty buckets
    stats: tuple[dict, ...]
    schema_json: str

    @property
    def n_buckets(self) -> int:
        return len(self.bucket_hashes)

    @property
    def table_hash(self) -> str:
        payload = json.dumps(
            {"kind": "z_clustered", "buckets": list(self.bucket_hashes),
             "cols": list(self.cluster_cols),
             "z_boundaries": list(self.z_boundaries)}, sort_keys=True)
        return hashlib.sha256(payload.encode()).hexdigest()

    def overlapping(self, box: dict) -> list[int]:
        """Bucket ids a box query must open. ``box`` maps column →
        (lo, hi) inclusive NUMERIC bounds (None = unbounded). A bucket
        survives only if, for EVERY constrained column, its recorded
        [min, max] intersects [lo, hi] — sound for any layout, tight
        under z-order."""
        out = []
        for b in range(self.n_buckets):
            if self.bucket_hashes[b] == EMPTY:
                continue
            st = self.stats[b]
            keep = True
            for col, (lo, hi) in box.items():
                mn, mx = st[col]
                if (lo is not None and mx < lo) or \
                   (hi is not None and mn > hi):
                    keep = False
                    break
            if keep:
                out.append(b)
        return out


def write_zclustered(store: ObjectStore, df: DataFrame,
                     cols: tuple[str, str],
                     n_buckets: int = 16) -> ZClusteredRef:
    """Materialize ``df`` as z-ordered bucket objects with min/max
    stats. Three scans total (two fold into one job each): per-column
    split points, the partitioned bucket write, and the per-bucket
    stats aggregation — all full scans a layout rewrite pays anyway;
    no per-bucket jobs (``_write_tagged_buckets`` is one write)."""
    kinds = tuple(_key_kind(df, c) for c in cols)
    splits = tuple(_split_points(df, c, k, _CELLS)
                   for c, k in zip(cols, kinds))
    cx = _cell_col(cols[0], kinds[0], splits[0])
    cy = _cell_col(cols[1], kinds[1], splits[1])
    zcol = _morton2(cx, cy)
    # range-bucket the z-value so each bucket is a compact z-interval
    # (a union of few small hyper-rectangles)
    zb = [i * (_CELLS * _CELLS) / n_buckets for i in range(1, n_buckets)]
    z_boundaries = tuple(float(b) for b in zb)
    bcol = None
    for i, b in enumerate(z_boundaries):
        cond = zcol < F.lit(b)
        bcol = F.when(cond, i) if bcol is None else bcol.when(cond, i)
    bcol = F.lit(0) if bcol is None else bcol.otherwise(len(z_boundaries))
    with_b = (df.withColumn(_BUCKET, bcol)
                .repartition(F.col(_BUCKET))
                .sortWithinPartitions(_BUCKET, *cols))
    hashes = _write_tagged_buckets(store, with_b, pre_arranged=True)
    stat_rows = (with_b
                 .groupBy(_BUCKET)
                 .agg(*[a for c, k in zip(cols, kinds) for a in (
                     F.min(_key_as_number(c, k)).alias(f"mn_{c}"),
                     F.max(_key_as_number(c, k)).alias(f"mx_{c}"))])
                 .collect())
    stats: list[dict] = [{} for _ in range(n_buckets)]
    for r in stat_rows:
        stats[int(r[_BUCKET])] = {
            c: [float(r[f"mn_{c}"]), float(r[f"mx_{c}"])] for c in cols}
    return ZClusteredRef(
        cluster_cols=tuple(cols), col_kinds=kinds, col_splits=splits,
        z_boundaries=z_boundaries,
        bucket_hashes=tuple(hashes.get(b, EMPTY) for b in range(n_buckets)),
        stats=tuple(stats), schema_json=df.schema.json())


def read_box(spark: SparkSession, store: ObjectStore, ref: ZClusteredRef,
             box: dict) -> DataFrame:
    """Exact box read: manifest min/max skip → parquet scan of the
    surviving objects → residual predicate. ``box`` maps clustering
    column → (lo, hi) inclusive bounds in the column's own type
    (numeric here; dates/timestamps go through their epoch numbers as
    in range_layout)."""
    num_box = {c: (None if lo is None else float(lo),
                   None if hi is None else float(hi))
               for c, (lo, hi) in box.items()}
    wanted = ref.overlapping(num_box)
    df = store.load_objects(spark, [ref.bucket_hashes[b] for b in wanted],
                            ref.schema_json)
    for c, (lo, hi) in box.items():
        if lo is not None:
            df = df.filter(F.col(c) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(c) <= F.lit(hi))
    return df
