"""Adaptive bucket split/merge — the trie's inline/external node
discipline (``/root/reference/messdb-base/src/MessDB/Trie.hs:214-220``:
a node over the size threshold splits into child nodes, undersized
nodes inline) applied to the bucket-granular incremental layout.

Why a FIXED fan-out fails at 100 TB (round-5 verdict): with
``n_buckets`` frozen at write time, a growing table either leaves
1.5 TB buckets (far too big to be the refresh/read granule) or needs
millions of manifest entries up front (manifest bloat, tiny objects).
The trie solves this with *local* adaptivity: only the hot subtree
splits. Here:

- an ``AdaptiveRef`` manifest entry is either one bucket object hash
  or a ``[child0 .. childF-1]`` list — a TWO-LEVEL manifest where a
  bucket that outgrew ``split_bytes`` fans its rows out by an
  independent second-level hash;
- upsert cost is ∝ the delta's touched *leaves* (child buckets for
  split entries), so a hot key-range splits until the refresh granule
  is back to object size while cold buckets stay single objects;
- ``compact_adaptive`` is the inverse (the trie's merge-on-delete):
  a split entry whose children shrank below ``merge_bytes`` collapses
  back to one object, bounding manifest growth.

Level-2 bucket of a row = ``pmod(xxhash64(1, key...), fanout)`` — the
lit(1) salt decorrelates it from the level-1 hash, so a bucket's rows
spread evenly over its children. Two levels bound the manifest at
``n_buckets × fanout`` leaves; the same move applies recursively if a
third level is ever warranted.

Objects/digests are shared with the flat layout (same canonical row
encoding, tag excluded), so a split changes the MANIFEST but never the
logical content hash — asserted by tests.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.core import KeyedTable
from ..store import ObjectStore, as_schema, empty_frame
from .incremental import (EMPTY, _BUCKET, _bucket_expr, _write_tagged_buckets)

Entry = "str | tuple[str, ...]"     # one object hash, EMPTY, or children


@dataclass(frozen=True)
class AdaptiveRef:
    """Two-level manifest: ``entries[b]`` is a bucket object hash
    (or EMPTY), or a tuple of ``fanout`` child object hashes when
    bucket ``b`` is split."""
    key_cols: tuple[str, ...]
    n_buckets: int
    fanout: int
    entries: tuple            # of Entry
    schema_json: str

    @property
    def table_hash(self) -> str:
        payload = json.dumps(
            {"buckets": [list(e) if isinstance(e, tuple) else e
                         for e in self.entries],
             "fanout": self.fanout,
             "key_cols": list(self.key_cols)}, sort_keys=True)
        return hashlib.sha256(payload.encode()).hexdigest()

    @property
    def split_buckets(self) -> list[int]:
        return [b for b, e in enumerate(self.entries)
                if isinstance(e, tuple)]

    def leaf_hashes(self) -> list[str]:
        out = []
        for e in self.entries:
            if isinstance(e, tuple):
                out += [h for h in e if h != EMPTY]
            elif e != EMPTY:
                out.append(e)
        return out


def _child_expr(key_cols, fanout: int) -> F.Column:
    # lit(1) salt → independent of the level-1 bucket hash
    return F.pmod(F.xxhash64(F.lit(1), *[F.col(k) for k in key_cols]),
                  F.lit(fanout))


def _tag_expr(key_cols, n_buckets: int, fanout: int,
              split_buckets: list[int]) -> F.Column:
    """Leaf tag of a row: ``"b"`` for unsplit buckets, ``"b_c"`` for
    split ones — ONE expression, so a whole delta tags in a single
    narrow map regardless of how many buckets are split."""
    b = _bucket_expr(tuple(key_cols), n_buckets)
    if not split_buckets:
        return b.cast("string")
    c = _child_expr(key_cols, fanout)
    return (F.when(b.isin(*split_buckets),
                   F.concat_ws("_", b.cast("string"), c.cast("string")))
             .otherwise(b.cast("string")))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _parse_tag(tag: str) -> tuple[int, int | None]:
    if "_" in tag:
        b, c = tag.split("_")
        return int(b), int(c)
    return int(tag), None


def write_adaptive(store: ObjectStore, table: KeyedTable,
                   n_buckets: int = 64, fanout: int = 8,
                   split_bytes: int = 64 * 1024 * 1024) -> AdaptiveRef:
    """Materialize with post-write split of oversized buckets."""
    tag = _tag_expr(table.key_cols, n_buckets, fanout, [])
    hashes = _write_tagged_buckets(
        store, table.df.withColumn(_BUCKET, tag), key_fn=str,
        n_parts=n_buckets)
    entries = [hashes.get(str(b), EMPTY) for b in range(n_buckets)]
    ref = AdaptiveRef(key_cols=tuple(table.key_cols), n_buckets=n_buckets,
                      fanout=fanout, entries=tuple(entries),
                      schema_json=table.df.schema.json())
    return _split_oversized(table.df.sparkSession, store, ref,
                            split_bytes, candidates=range(n_buckets))


def _split_oversized(spark: SparkSession, store: ObjectStore,
                     ref: AdaptiveRef, split_bytes: int,
                     candidates) -> AdaptiveRef:
    """Split every candidate unsplit bucket above ``split_bytes`` into
    ``fanout`` children — one combined tagged write for ALL splitting
    buckets (never a job per bucket)."""
    to_split = [b for b in candidates
                if isinstance(ref.entries[b], str)
                and ref.entries[b] != EMPTY
                and _dir_bytes(store.path(ref.entries[b])) > split_bytes]
    if not to_split:
        return ref
    df = store.load_objects(spark, [ref.entries[b] for b in to_split],
                            ref.schema_json)
    tag = _tag_expr(ref.key_cols, ref.n_buckets, ref.fanout, to_split)
    hashes = _write_tagged_buckets(
        store, df.withColumn(_BUCKET, tag), key_fn=str,
        n_parts=len(to_split) * ref.fanout)
    entries = list(ref.entries)
    for b in to_split:
        entries[b] = tuple(hashes.get(f"{b}_{c}", EMPTY)
                           for c in range(ref.fanout))
    return AdaptiveRef(key_cols=ref.key_cols, n_buckets=ref.n_buckets,
                       fanout=ref.fanout, entries=tuple(entries),
                       schema_json=ref.schema_json)


def read_adaptive(spark: SparkSession, store: ObjectStore,
                  ref: AdaptiveRef, buckets: list[int] | None = None,
                  tags: list[str] | None = None) -> KeyedTable:
    """Assemble the table, a bucket subset, or an exact leaf-tag subset
    (``tags`` — child-granular pruning for point lookups into split
    buckets)."""
    if tags is not None:
        hashes = []
        for t in tags:
            b, c = _parse_tag(t)
            e = ref.entries[b]
            h = e[c] if isinstance(e, tuple) and c is not None else \
                (e if isinstance(e, str) else EMPTY)
            if h != EMPTY:
                hashes.append(h)
    else:
        wanted = range(ref.n_buckets) if buckets is None else buckets
        hashes = []
        for b in wanted:
            e = ref.entries[b]
            if isinstance(e, tuple):
                hashes += [h for h in e if h != EMPTY]
            elif e != EMPTY:
                hashes.append(e)
    return KeyedTable(store.load_objects(spark, hashes, ref.schema_json),
                      ref.key_cols)


def upsert_adaptive(spark: SparkSession, store: ObjectStore,
                    ref: AdaptiveRef, delta: DataFrame,
                    split_bytes: int = 64 * 1024 * 1024) -> AdaptiveRef:
    """Last-wins upsert touching only the delta's LEAVES: an unsplit
    touched bucket re-merges whole (as in the flat layout); a split
    touched bucket re-merges only the touched CHILDREN — the refresh
    granule the split exists to restore. Buckets that grew past
    ``split_bytes`` in this upsert split before returning, so a
    sustained hot-key stream keeps the granule bounded."""
    from ..operators.core import canonicalize_input

    keys = ref.key_cols
    delta = canonicalize_input(delta, keys).df
    split = ref.split_buckets
    tag = _tag_expr(keys, ref.n_buckets, ref.fanout, split)
    delta_t = delta.withColumn(_BUCKET, tag)
    touched = sorted(r["t"] for r in
                     delta_t.select(F.col(_BUCKET).alias("t"))
                            .distinct().collect())
    if not touched:
        return ref
    base = read_adaptive(spark, store, ref, tags=touched).df
    cols = base.columns
    delta_rows = delta_t.drop(_BUCKET).select(*cols) if cols else delta
    keep = base.join(delta_rows.select(*keys), on=list(keys),
                     how="left_anti")
    merged = keep.unionByName(delta_rows)
    if cols:     # keys-first anti-join output → the recorded order
        merged = merged.select(*cols)
    merged = merged.withColumn(_BUCKET, tag)
    merged = merged.filter(F.col(_BUCKET).isin(*touched))
    new_hashes = _write_tagged_buckets(store, merged, key_fn=str,
                                       n_parts=len(touched),
                                       tag_domain=touched)
    entries = list(ref.entries)
    touched_buckets = set()
    for t in touched:
        b, c = _parse_tag(t)
        touched_buckets.add(b)
        h = new_hashes.get(t, EMPTY)
        if c is None:
            entries[b] = h
        else:
            ch = list(entries[b])
            ch[c] = h
            entries[b] = tuple(ch)
    out = AdaptiveRef(key_cols=keys, n_buckets=ref.n_buckets,
                      fanout=ref.fanout, entries=tuple(entries),
                      schema_json=ref.schema_json)
    return _split_oversized(spark, store, out, split_bytes,
                            candidates=sorted(touched_buckets))


def compact_adaptive(spark: SparkSession, store: ObjectStore,
                     ref: AdaptiveRef,
                     merge_bytes: int = 16 * 1024 * 1024) -> AdaptiveRef:
    """Merge-on-shrink (the trie's inline move): every split entry
    whose children total under ``merge_bytes`` collapses back to a
    single bucket object — one combined write for all collapsing
    buckets. Run at compaction time to bound manifest size after
    deletes/compactions shrink hot ranges."""
    to_merge = []
    for b in ref.split_buckets:
        total = sum(_dir_bytes(store.path(h))
                    for h in ref.entries[b] if h != EMPTY)
        if total < merge_bytes:
            to_merge.append(b)
    if not to_merge:
        return ref
    leaves = [h for b in to_merge for h in ref.entries[b] if h != EMPTY]
    entries = list(ref.entries)
    if leaves:
        df = store.load_objects(spark, leaves, ref.schema_json)
        tag = _tag_expr(ref.key_cols, ref.n_buckets, ref.fanout, [])
        # a merge rewrites whole buckets: no tag_domain, so the digest
        # is the staged read-back, as for any full rewrite (a 256-row,
        # 64-bucket merge write on 4 cores took 1.77 s folded, 0.75 s
        # read back)
        hashes = _write_tagged_buckets(
            store, df.withColumn(_BUCKET, tag), key_fn=str,
            n_parts=len(to_merge))
    else:
        hashes = {}
    for b in to_merge:
        entries[b] = hashes.get(str(b), EMPTY)
    return AdaptiveRef(key_cols=ref.key_cols, n_buckets=ref.n_buckets,
                       fanout=ref.fanout, entries=tuple(entries),
                       schema_json=ref.schema_json)


def save_adaptive_manifest(store: ObjectStore, ref: AdaptiveRef) -> str:
    """Persist as a write-once CAS object (durable two-level trie
    root); GC/sync reach the leaves via ``manifest_children``."""
    h = ref.table_hash
    d = store.path(h)
    if store.exists(h):
        store.save_skips += 1
        return h
    payload = {"kind": "adaptive_bucketed_manifest",
               "key_cols": list(ref.key_cols),
               "n_buckets": ref.n_buckets,
               "fanout": ref.fanout,
               "bucket_hashes": [list(e) if isinstance(e, tuple) else e
                                 for e in ref.entries],
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


def load_adaptive_manifest(store: ObjectStore,
                           table_hash: str) -> AdaptiveRef | None:
    p = os.path.join(store.path(table_hash), "manifest.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        m = json.load(f)
    if m.get("kind") != "adaptive_bucketed_manifest":
        return None
    return AdaptiveRef(
        key_cols=tuple(m["key_cols"]), n_buckets=m["n_buckets"],
        fanout=m["fanout"],
        entries=tuple(tuple(e) if isinstance(e, list) else e
                      for e in m["bucket_hashes"]),
        schema_json=m["schema_json"])


def leaf_items(ref: AdaptiveRef) -> list[tuple[str, str]]:
    """(tag, object hash) for every non-empty leaf — ``"b"`` for
    unsplit buckets, ``"b_c"`` for children of split ones."""
    out = []
    for b, e in enumerate(ref.entries):
        if isinstance(e, tuple):
            out += [(f"{b}_{c}", h) for c, h in enumerate(e) if h != EMPTY]
        elif e != EMPTY:
            out.append((str(b), e))
    return out


def adaptive_agg_view(spark: SparkSession, store: ObjectStore, memo,
                      ref: AdaptiveRef, view_key: str,
                      group_cols: list, aggs: dict):
    """Incrementally-maintained AGGREGATION view over an ADAPTIVE
    table — ``incremental_agg_view`` with the LEAF as the memo granule:

        sha256(OP_AGG_LEAF ‖ view key ‖ leaf object hash)

    After an upsert (which touches only delta leaves), refresh
    recomputes only the touched leaves' partials — so when a hot
    bucket splits, the view's refresh granule splits WITH it: the
    maintenance cost of a view over a skewed table tracks the child
    buckets of the hot range, not whole pre-split buckets. Empty
    partials memoize as EMPTY (ADVICE r5 discipline). Same
    distributive/algebraic recombine rule (sum→sum, count→sum,
    max→max, min→min); returns the combined KeyedTable."""
    import hashlib as _hl

    from ..operators.core import KeyedTable

    recombine = {"sum": F.sum, "count": F.sum, "max": F.max, "min": F.min}
    for name, (op, _c) in aggs.items():
        if op not in recombine:
            raise ValueError(f"{name}: non-distributive recombine op {op}")

    def digest(leaf_hash: str) -> str:
        return _hl.sha256(
            f"OP_AGG_LEAF|{view_key}|{leaf_hash}".encode()).hexdigest()

    def partials_of(base: DataFrame) -> DataFrame:
        tag_col = _tag_expr(ref.key_cols, ref.n_buckets, ref.fanout,
                            ref.split_buckets)
        return (base.withColumn(_BUCKET, tag_col)
                .groupBy(_BUCKET, *group_cols)
                .agg(*[c.alias(n) for n, (_op, c) in aggs.items()]))

    partial_hashes: list[str] = []
    missed: list[tuple[str, str]] = []
    for tag, h in leaf_items(ref):
        hit = memo.get(digest(h))
        if hit == EMPTY:
            continue
        if hit is not None and store.exists(hit):
            partial_hashes.append(hit)
        else:
            missed.append((tag, h))

    if missed:
        partials = partials_of(read_adaptive(
            spark, store, ref, tags=[t for t, _h in missed]).df)
        new_hashes = _write_tagged_buckets(store, partials, key_fn=str,
                                           n_parts=len(missed),
                                           tag_domain=[t for t, _h in missed])
        for tag, h in missed:
            ph = new_hashes.get(tag, EMPTY)
            memo.put(digest(h), ph)
            if ph != EMPTY:
                partial_hashes.append(ph)

    # the partials' schema is the partial plan's, analysed over an
    # empty input — no job; no partials at all → an empty combine
    no_partials = partials_of(empty_frame(spark, ref.schema_json))
    parts = store.load_objects(spark, partial_hashes,
                               no_partials.drop(_BUCKET).schema)
    combined = parts.groupBy(*group_cols).agg(
        *[recombine[op](F.col(n)).alias(n) for n, (op, _c) in aggs.items()])
    return KeyedTable(combined, tuple(group_cols))


def lookup_adaptive(spark: SparkSession, store: ObjectStore,
                    ref: AdaptiveRef, key_values: tuple) -> list:
    """Point lookup opening exactly ONE leaf object: the key's leaf
    tag is computed by running the tag expression over a one-row
    literal frame (same hash the data was written with — no Python
    reimplementation of xxhash64 to drift), then only that leaf is
    read and filtered. The flat layout's bucket-pruned point read
    (``read_bucketed(buckets=[...])``) at child granularity — on a
    split hot bucket the lookup IO shrinks by the fan-out."""
    dtypes = {f.name: f.dataType.simpleString()
              for f in as_schema(ref.schema_json).fields}
    row = spark.createDataFrame(
        [tuple(key_values)],
        ", ".join(f"{k} {dtypes[k]}" for k in ref.key_cols))
    tag = row.select(_tag_expr(ref.key_cols, ref.n_buckets, ref.fanout,
                               ref.split_buckets).alias("t")) \
             .collect()[0]["t"]
    t = read_adaptive(spark, store, ref, tags=[tag])
    cond = None
    for k, v in zip(ref.key_cols, key_values):
        c = F.col(k) == F.lit(v)
        cond = c if cond is None else (cond & c)
    return t.df.filter(cond).collect()
