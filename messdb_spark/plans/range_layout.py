"""Range-bucketed incremental tables — the trie's ORDERED fan-out made
physical at manifest granularity.

The hash-bucketed layout (``incremental.py``) gives the untouched-
subtree passthrough (``/root/reference/messdb-base/src/MessDB/
Trie.hs:346-348``) but scatters the key space, so a range query still
has to open every bucket. The reference's trie does not have that
problem: children partition the key space by PREFIX, so
``rangeFilterTrie`` skips whole subtrees by comparing the child's
prefix against the range (``Trie.hs:492-510``, relation algebra
``Trie/Path.hs:117-145``). This module is that move at bucket
granularity: buckets are KEY RANGES split at sampled quantile
boundaries, so

- a range filter opens only the buckets whose [lo, hi) span intersects
  the query range — whole-object skipping, decided driver-side from
  the manifest alone, no file ever opened;
- a delta upsert touches only the buckets its keys fall into (same
  passthrough economics as the hash layout);
- inside each bucket, rows are written key-sorted, so the residual
  filter on the two boundary buckets prunes parquet row groups too —
  the trie's recursive skip, one level down.

At 100 TB with buckets sized to a few GB, a point or range read costs
O(overlapping buckets) object opens instead of O(B); time-keyed or
id-keyed tables (the common append/upsert shape) get both incremental
maintenance and cheap range scans from one layout.

Boundaries come from ``percentile_approx`` over the key — one
aggregation job, no driver-side key collection beyond the B-1 split
points (a codebook-sized artifact, like the IVF centroids in
``queries/similarity.py``). Numeric, date and timestamp keys are
supported; date/timestamp split points are carried as epoch numbers in
the manifest.
"""

from __future__ import annotations

import bisect
import hashlib
import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.core import KeyedTable
from ..store import ObjectStore
from .incremental import _BUCKET, EMPTY, _write_tagged_buckets

_NUMERIC = {"byte", "short", "integer", "long", "float", "double"}


def _key_kind(df: DataFrame, key: str) -> str:
    t = df.schema[key].dataType.typeName()
    if t in _NUMERIC or t.startswith("decimal"):
        return "numeric"
    if t in ("date", "timestamp", "timestamp_ntz"):
        return t
    raise ValueError(f"range bucketing needs an orderable numeric/"
                     f"date/timestamp key, got {key}: {t}")


def _key_as_number(key: str, kind: str) -> F.Column:
    """The key projected onto the number line the boundaries live on."""
    c = F.col(key)
    if kind == "numeric":
        return c.cast("double")
    if kind == "date":
        return F.datediff(c, F.lit("1970-01-01").cast("date")).cast("double")
    # timestamp(_ntz) → epoch seconds; cast is timezone-independent
    # (Spark's internal representation is UTC micros), unlike
    # unix_timestamp whose string paths read the session timezone
    return c.cast("double")


@dataclass(frozen=True)
class RangeBucketedRef:
    """Manifest of range-bucket object hashes + split points.

    ``boundaries`` are B-1 ascending numbers; bucket i holds keys with
    ``boundaries[i-1] <= key_num < boundaries[i]`` (open ends at the
    extremes), i.e. ``bucket_of(k) = bisect_right(boundaries, k)``.
    """
    key_cols: tuple[str, ...]          # single key column
    key_kind: str                      # numeric | date | timestamp...
    boundaries: tuple[float, ...]
    bucket_hashes: tuple[str, ...]     # len == len(boundaries) + 1
    schema_json: str

    @property
    def n_buckets(self) -> int:
        return len(self.bucket_hashes)

    @property
    def table_hash(self) -> str:
        payload = json.dumps({"kind": "range_bucketed",
                              "buckets": list(self.bucket_hashes),
                              "boundaries": list(self.boundaries),
                              "key_cols": list(self.key_cols)},
                             sort_keys=True)
        return hashlib.sha256(payload.encode()).hexdigest()

    def bucket_of(self, key_num: float) -> int:
        return bisect.bisect_right(self.boundaries, key_num)

    def overlapping(self, lo: float | None, hi: float | None) -> list[int]:
        """Bucket ids a [lo, hi] (inclusive, None = unbounded) range
        query must open — the driver-side subtree skip: everything else
        is out of range by the manifest alone."""
        first = 0 if lo is None else self.bucket_of(lo)
        last = self.n_buckets - 1 if hi is None else self.bucket_of(hi)
        return list(range(first, last + 1))


def _range_bucket_col(key: str, kind: str,
                      boundaries: tuple[float, ...]) -> F.Column:
    """bucket_of(key) as a codegen-friendly WHEN chain (no interpreted
    higher-order lambda): B is manifest-sized (≤ ~256), so the chain
    compiles into one whole-stage-codegen branch ladder."""
    num = _key_as_number(key, kind)
    expr = None
    for i, b in enumerate(boundaries):
        cond = num < F.lit(float(b))
        expr = F.when(cond, i) if expr is None else expr.when(cond, i)
    if expr is None:
        return F.lit(0)
    return expr.otherwise(len(boundaries))


def _split_points(df: DataFrame, key: str, kind: str,
                  n_buckets: int) -> tuple[float, ...]:
    """B-1 ascending split points from one percentile_approx pass;
    duplicates collapse (skewed keys simply yield fewer, fatter
    buckets — correctness is unaffected, bucket_of stays total)."""
    qs = [i / n_buckets for i in range(1, n_buckets)]
    row = df.select(
        F.percentile_approx(_key_as_number(key, kind), qs, 10_000)
         .alias("b")).first()
    raw = row["b"] or []
    out: list[float] = []
    for v in raw:
        if v is not None and (not out or float(v) > out[-1]):
            out.append(float(v))
    return tuple(out)


def write_range_bucketed(store: ObjectStore, table: KeyedTable,
                         n_buckets: int = 16) -> RangeBucketedRef:
    """Materialize a table as key-range bucket objects, each internally
    key-sorted (two-level pruning: manifest skips buckets, parquet
    footers skip row groups inside the boundary buckets)."""
    (key,) = table.key_cols      # single-column range keys
    df = table.df
    kind = _key_kind(df, key)
    boundaries = _split_points(df, key, kind, n_buckets)
    with_b = (df.withColumn(_BUCKET, _range_bucket_col(key, kind, boundaries))
                .repartition(F.col(_BUCKET))
                .sortWithinPartitions(_BUCKET, key))
    hashes = _write_tagged_buckets(store, with_b, pre_arranged=True)
    n = len(boundaries) + 1
    return RangeBucketedRef(
        key_cols=table.key_cols, key_kind=kind, boundaries=boundaries,
        bucket_hashes=tuple(hashes.get(b, EMPTY) for b in range(n)),
        schema_json=df.schema.json())


def save_range_manifest(store: ObjectStore, ref: RangeBucketedRef) -> str:
    """Persist the manifest as a write-once CAS object (the durable
    trie-root-node, ordered-fan-out flavor)."""
    import os
    h = ref.table_hash
    d = store.path(h)
    if store.exists(h):
        store.save_skips += 1
        return h
    payload = {"kind": "range_bucketed_manifest",
               "key_cols": list(ref.key_cols),
               "key_kind": ref.key_kind,
               "boundaries": list(ref.boundaries),
               "bucket_hashes": list(ref.bucket_hashes),
               "schema_json": ref.schema_json}
    with store.lease():
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, ".manifest.tmp")
        with open(tmp, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(d, "manifest.json"))
        open(os.path.join(d, "_SUCCESS"), "w").close()
        store.saves += 1
    return h


def load_range_manifest(store: ObjectStore,
                        table_hash: str) -> RangeBucketedRef | None:
    import os
    p = os.path.join(store.path(table_hash), "manifest.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        m = json.load(f)
    if m.get("kind") != "range_bucketed_manifest":
        return None
    return RangeBucketedRef(
        key_cols=tuple(m["key_cols"]), key_kind=m["key_kind"],
        boundaries=tuple(m["boundaries"]),
        bucket_hashes=tuple(m["bucket_hashes"]),
        schema_json=m["schema_json"])


def read_range_bucketed(spark: SparkSession, store: ObjectStore,
                        ref: RangeBucketedRef,
                        buckets: list[int] | None = None) -> KeyedTable:
    """Assemble the table (or a bucket subset) from its objects, read
    through the manifest's recorded schema (zero Spark jobs)."""
    wanted = range(ref.n_buckets) if buckets is None else buckets
    hashes = [ref.bucket_hashes[b] for b in wanted
              if ref.bucket_hashes[b] != EMPTY]
    return KeyedTable(store.load_objects(spark, hashes, ref.schema_json),
                      ref.key_cols)


def range_filter_bucketed(spark: SparkSession, store: ObjectStore,
                          ref: RangeBucketedRef,
                          lo=None, hi=None) -> KeyedTable:
    """O3 ``rangeFilterTable`` over the stored layout: keys in
    [lo, hi] (inclusive ends, None = unbounded). Buckets wholly outside
    the range are never opened (``Trie.hs:492-510``); the residual
    predicate lands on the boundary buckets' key-sorted parquet, where
    it prunes row groups via footer min/max."""
    (key,) = ref.key_cols
    lo_n = None if lo is None else _as_number(lo, ref.key_kind)
    hi_n = None if hi is None else _as_number(hi, ref.key_kind)
    t = read_range_bucketed(spark, store, ref,
                            buckets=ref.overlapping(lo_n, hi_n))
    df = t.df
    if lo is not None:
        df = df.filter(F.col(key) >= F.lit(lo))
    if hi is not None:
        df = df.filter(F.col(key) <= F.lit(hi))
    return KeyedTable(df, ref.key_cols)


def _as_number(v, kind: str) -> float:
    if kind == "numeric":
        return float(v)
    import datetime
    if kind == "date":
        if isinstance(v, str):
            v = datetime.date.fromisoformat(v)
        return float((v - datetime.date(1970, 1, 1)).days)
    if isinstance(v, str):
        v = datetime.datetime.fromisoformat(v)
    return v.timestamp() if v.tzinfo else \
        v.replace(tzinfo=datetime.timezone.utc).timestamp()


def incremental_upsert_range(spark: SparkSession, store: ObjectStore,
                             ref: RangeBucketedRef,
                             delta: DataFrame) -> RangeBucketedRef:
    """Last-wins upsert touching only the buckets the delta's keys fall
    into; untouched buckets pass through by reference (the
    ``Trie.hs:346-348`` move). Boundaries are kept — a skewed delta can
    fatten a bucket, which a later re-write rebalances; correctness
    never depends on balance."""
    keys = ref.key_cols
    (key,) = keys
    from ..operators.core import canonicalize_input
    delta = canonicalize_input(delta, keys).df
    bcol = _range_bucket_col(key, ref.key_kind, ref.boundaries)
    delta_b = delta.withColumn(_BUCKET, bcol)
    touched = sorted(r["b"] for r in
                     delta_b.select(F.col(_BUCKET).alias("b"))
                            .distinct().collect())
    if not touched:
        return ref
    base_touched = read_range_bucketed(spark, store, ref,
                                       buckets=touched).df
    cols = base_touched.columns
    delta_rows = delta_b.drop(_BUCKET).select(*cols) if cols else delta
    keep = base_touched.join(delta_rows.select(*keys),
                             on=list(keys), how="left_anti")
    merged = keep.unionByName(delta_rows)
    if cols:     # keys-first anti-join output → the recorded order
        merged = merged.select(*cols)
    with_b = (merged.withColumn(_BUCKET, bcol)
                    .filter(F.col(_BUCKET).isin(*touched))
                    .repartition(F.col(_BUCKET))
                    .sortWithinPartitions(_BUCKET, key))
    new_hashes = _write_tagged_buckets(store, with_b, pre_arranged=True,
                                       tag_domain=touched)
    bh = list(ref.bucket_hashes)
    for b in touched:
        bh[b] = new_hashes.get(b, EMPTY)
    return RangeBucketedRef(
        key_cols=keys, key_kind=ref.key_kind, boundaries=ref.boundaries,
        bucket_hashes=tuple(bh), schema_json=ref.schema_json)
