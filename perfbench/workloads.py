"""The three benchmark workloads.

Each workload builds its state in :meth:`setup`, then runs operations
through :meth:`op`. An operation times its phases
(:attr:`Workload.phases`) through the ``phase`` context manager the
runner passes in, so the runner can attach counters, job statistics and
trace spans to each phase. Work the runner should not time (writing the
client's input files, checking results) happens outside the phases.

==============  =====================  =====================  ================
workload        load / upsert          refresh                read
==============  =====================  =====================  ================
bulk_load       load a fresh table     two SQL views (memo    key-range read
                                       misses) + commit
delta_refresh   upsert a delta         aggregation view       point lookup +
                                                              memo-hit view
dedup_maintain  upsert a churn batch   near-dup verb +        the verb again
                                       commit                 (no-op)
==============  =====================  =====================  ================
"""

from __future__ import annotations

import contextlib
import os
import time

import pyarrow as pa
from pyspark.sql import functions as F

import inputs
# the engine is called through module attributes, never through names
# bound here, so a traced run's wrappers (tracer.py) see every call
from messdb_spark import hashing
from messdb_spark.engine import Engine
from messdb_spark.operators.core import KeyBound, KeyedTable, range_filter
from messdb_spark.plans import incremental as inc
from messdb_spark.plans import views
from messdb_spark.queries import graph

KEYS = inputs.LINEITEM_KEYS


def _changed_buckets(old, new) -> int:
    return sum(a != b for a, b in zip(old.bucket_hashes, new.bucket_hashes))


class Workload:
    #: the timed phases of one operation, in order; the first writes
    phases = ("upsert", "refresh", "read")
    #: operations per schedule cycle; the timed loop stops on a cycle
    #: boundary, so every run measures whole cycles
    cycle = 1

    def __init__(self, spark, workdir: str, seed: int) -> None:
        self.spark = spark
        self.dir = workdir
        self.seed = seed
        self.eng: Engine | None = None
        self._warehouses = 0

    def fresh_engine(self) -> Engine:
        self._warehouses += 1
        return Engine(self.spark, os.path.join(self.dir,
                                               f"wh{self._warehouses}"))

    def path(self, name: str) -> str:
        return os.path.join(self.dir, "inputs", name)

    def read(self, path: str, schema: str):
        return self.spark.read.schema(schema).parquet(path)


class BulkLoad(Workload):
    """A fresh, seed-perturbed lineitem copy per operation: nothing is
    shared with earlier loads, so no object is deduplicated and no view
    is a memo hit. The data-proportional path: Spark compute, the
    content digest and the object store writes."""

    name = "bulk_load"
    phases = ("load", "refresh", "read")
    ROWS = 200_000
    BUCKETS = 64
    WARMUP_LOADS = 3
    VIEW_QUERIES = (
        "SELECT l_linenumber, sum(l_quantity) AS q, count(*) AS n "
        "FROM li GROUP BY l_linenumber",
        "SELECT l_partkey % 97 AS pk, max(l_extendedprice) AS mx "
        "FROM li GROUP BY l_partkey % 97")

    def setup(self) -> list[float]:
        self.base = inputs.lineitem(self.seed, self.ROWS)
        self.eng = self.fresh_engine()
        builds = []
        for k in range(self.WARMUP_LOADS):
            p = self.prepare(1_000_000 + k)
            t0 = time.perf_counter()
            self.op(p, lambda _name: contextlib.nullcontext({}))
            builds.append(time.perf_counter() - t0)
        return builds

    def prepare(self, i: int) -> dict:
        t = inputs.perturbed_lineitem(self.base, self.seed, i)
        path = self.path(f"load{i}.parquet")
        n_orders = self.ROWS // inputs.LINES_PER_ORDER
        lo = 1 + (i * 7919) % (n_orders - 500)
        q = t.column("l_quantity").to_numpy()
        ok = t.column("l_orderkey").to_numpy()
        ln = t.column("l_linenumber").to_numpy()
        sel = (ok >= lo) & (ok <= lo + 499)
        return {"i": i, "path": path, "rows": t.num_rows,
                "input_bytes": inputs.write_parquet(t, path),
                "lo": lo, "expect_range": (int(sel.sum()), int(q[sel].sum())),
                "expect_view": {int(x): (int(q[ln == x].sum()),
                                         int((ln == x).sum()))
                                for x in set(ln.tolist())}}

    def op(self, p: dict, phase) -> None:
        eng = self.eng
        self.last_path = p["path"]
        df = self.read(p["path"], inputs.LINEITEM_SCHEMA)
        with contextlib.ExitStack() as txn:
            txn.enter_context(eng.transaction())
            with phase("load") as rec:
                eng.save_table("lineitem", KeyedTable(df, KEYS))
                ref = inc.write_bucketed(eng.objects, KeyedTable(df, KEYS),
                                         self.BUCKETS)
                eng.save_bucketed_table("lineitem_b", ref)
                rec.update(buckets_touched=self.BUCKETS,
                           n_buckets=self.BUCKETS)
            with phase("refresh"):
                scan = views.scan(eng.table_hash("lineitem"), list(KEYS))
                p["views"] = [eng.materializer.materialize(
                    views.sql_view(q, {"li": scan}))
                    for q in self.VIEW_QUERIES]
                txn.close()                      # the commit
        with phase("read"):
            t = range_filter(eng.load_table("lineitem"), KeyBound((p["lo"],)),
                             KeyBound((p["lo"] + 499,)))
            p["range"] = t.df.agg(F.count(F.lit(1)),
                                  F.sum("l_quantity")).collect()[0]

    def verify(self, p: dict) -> bool:
        got = {r["l_linenumber"]: (r["q"], r["n"]) for r in
               self.eng.objects.load(self.spark, p["views"][0]).collect()}
        return (got == p["expect_view"]
                and tuple(p["range"]) == p["expect_range"])

    def check(self) -> bool:
        """The last load's plain and bucketed tables hold the same
        content as the rows submitted."""
        h = hashing.table_content_hash
        want = h(self.read(self.last_path, inputs.LINEITEM_SCHEMA))
        return (h(self.eng.load_table("lineitem").df) == want
                and h(self.eng.load_table("lineitem_b").df) == want)


class DeltaRefresh(Workload):
    """Seeded deltas of 1 key (plus two deleted keys) and 512 keys into a
    64-bucket table, each followed by a refresh of an incrementally
    maintained aggregation view and four reads. Untouched buckets and
    their view partials are shared by reference, so the cost follows the
    delta, and most memo lookups hit."""

    name = "delta_refresh"
    cycle = len(inputs.DELTA_SIZES)
    ROWS = 50_000
    BUCKETS = 64
    LOOKUPS = 4
    VIEW_KEY = "lineitem_by_line"

    @staticmethod
    def aggs() -> dict:
        """The view's aggregates: output name → (recombine op, partial)."""
        return {"q": ("sum", F.sum("l_quantity")),
                "n": ("count", F.count(F.lit(1))),
                "mx": ("max", F.max("l_extendedprice")),
                "p": ("sum", F.sum("l_extendedprice"))}
    DIM_QUERY = ("SELECT l_linenumber, count(*) AS n FROM li "
                 "GROUP BY l_linenumber")

    def setup(self) -> list[float]:
        base = inputs.lineitem(self.seed, self.ROWS)
        self.stream = inputs.DeltaStream(self.seed, base)
        t0 = time.perf_counter()
        self.eng, self.ref = self._build(base, "base")
        builds = [time.perf_counter() - t0]
        # an unchanged view over a plain table: re-materializing it is
        # the memo hit of every read
        eng = self.eng
        eng.save_table("orders_1k", KeyedTable(
            self.read(self.path("base.parquet"), inputs.LINEITEM_SCHEMA)
            .filter(F.col("l_orderkey") <= 1000), KEYS))
        self.dim_view = views.sql_view(self.DIM_QUERY, {"li": views.scan(
            eng.table_hash("orders_1k"), list(KEYS))})
        self.dim_hash = eng.materializer.materialize(self.dim_view)
        return builds

    def _build(self, table, tag: str):
        """Commit ``table`` as the 64-bucket table of a fresh warehouse and
        build the aggregation view over it."""
        path = self.path(f"{tag}.parquet")
        inputs.write_parquet(table, path)
        eng = self.fresh_engine()
        ref = inc.write_bucketed(eng.objects, KeyedTable(
            self.read(path, inputs.LINEITEM_SCHEMA), KEYS), self.BUCKETS)
        eng.save_bucketed_table("lineitem", ref)
        self.view(eng, ref).collect()
        return eng, ref

    def view(self, eng, ref):
        return inc.incremental_agg_view(self.spark, eng.objects, eng.memo,
                                        ref, self.VIEW_KEY, ["l_linenumber"],
                                        self.aggs()).df

    def prepare(self, i: int) -> dict:
        up, dels, size = self.stream.batch(i)
        path = self.path(f"delta{i}.parquet")
        nbytes = inputs.write_parquet(up, path)
        p = {"i": i, "path": path, "rows": size, "del_path": None}
        if dels is not None:
            p["del_path"] = self.path(f"deletes{i}.parquet")
            nbytes += inputs.write_parquet(dels, p["del_path"])
        p["input_bytes"] = nbytes
        # the reads look up the delta's last row and two other live rows;
        # their buckets are found here, outside the timed phases
        last = ((up.column("l_orderkey")[-1].as_py() - 1)
                * inputs.LINES_PER_ORDER
                + up.column("l_linenumber")[-1].as_py() - 1)
        ids = [last] + [x for x in self.stream.lookups(i, self.LOOKUPS)
                        if x != last][:self.LOOKUPS - 1]
        p["expect_rows"] = [self.stream.row(x) for x in ids]
        keys = [r[:2] for r in p["expect_rows"]]
        p["buckets"] = [r["b"] for r in self.spark.createDataFrame(
            keys, "l_orderkey bigint, l_linenumber int").select(
            inc._bucket_expr(KEYS, self.BUCKETS).alias("b")).collect()]
        p["expect_view"] = self.stream.expected_view()
        return p

    def op(self, p: dict, phase) -> None:
        eng = self.eng
        delta = self.read(p["path"], inputs.LINEITEM_SCHEMA)
        dels = (self.read(p["del_path"],
                          "l_orderkey bigint, l_linenumber int")
                if p["del_path"] else None)
        with phase("upsert") as rec:
            with eng.transaction():
                ref = inc.incremental_upsert(self.spark, eng.objects,
                                             self.ref, delta, dels)
                eng.save_bucketed_table("lineitem", ref)
            rec.update(buckets_touched=_changed_buckets(self.ref, ref),
                       n_buckets=self.BUCKETS)
        self.ref = ref
        with phase("refresh"):
            p["view"] = self.view(eng, ref).collect()
        p["rows_read"], p["dims"] = [], []
        for key, b in zip(p["expect_rows"], p["buckets"]):
            with phase("read"):
                t = inc.read_bucketed(self.spark, eng.objects, ref,
                                      buckets=[b])
                p["rows_read"].append(t.df.filter(
                    (F.col("l_orderkey") == key[0])
                    & (F.col("l_linenumber") == key[1])).collect())
                p["dims"].append(eng.materializer.materialize(self.dim_view))

    def verify(self, p: dict) -> bool:
        got = {r["l_linenumber"]: (r["q"], r["n"], r["mx"], r["p"])
               for r in p["view"]}
        cols = ("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
                "l_extendedprice")
        rows = [[tuple(r[c] for c in cols) for r in rs]
                for rs in p["rows_read"]]
        return (got == p["expect_view"]
                and rows == [[r] for r in p["expect_rows"]]
                and set(p["dims"]) == {self.dim_hash})

    def check(self) -> bool:
        """The maintained view equals a from-scratch ``groupBy`` over the
        maintained table, and the maintained table holds the model's
        final rows, both by content hash."""
        kept = self.view(self.eng, self.ref)
        table = inc.read_bucketed(self.spark, self.eng.objects, self.ref).df
        scratch = table.groupBy("l_linenumber").agg(
            *[c.alias(n) for n, (_op, c) in self.aggs().items()])
        path = self.path("final.parquet")
        inputs.write_parquet(self.stream.table(), path)
        model = self.read(path, inputs.LINEITEM_SCHEMA)
        h = hashing.table_content_hash
        return h(kept) == h(scratch) and h(table) == h(model)


class DedupMaintain(Workload):
    """A documents corpus under churn, with the maintained near-duplicate
    verb refreshed after every batch. Few rows change, but the verb runs
    its state machine and many small Spark jobs: driver and job overhead.
    The maintained substring verb, which runs the same state machine, is
    left out: it would add about a third to every run."""

    name = "dedup_maintain"
    DOCS = 600
    BUCKETS = 16
    #: a churn batch arrives as this many upserts; the verb refreshes
    #: once after all of them, in the same transaction
    MICRO_BATCHES = 2
    #: no-op re-runs of the verb per operation
    READS = 4
    OUTPUTS = ("docs", "docs_near", "docs_near_clusters")

    def setup(self) -> list[float]:
        self.corpus = inputs.Corpus(self.seed, self.DOCS)
        t0 = time.perf_counter()
        self.eng, self.ref = self._build(self.corpus.table(), "corpus")
        return [time.perf_counter() - t0]

    def _build(self, table, tag: str):
        """Commit ``table`` as the bucketed corpus of a fresh warehouse
        and build the verb's state and outputs there."""
        path = self.path(f"{tag}.parquet")
        inputs.write_parquet(table, path)
        eng = self.fresh_engine()
        ref = inc.write_bucketed(eng.objects, KeyedTable(
            self.read(path, inputs.DOCS_SCHEMA), ("doc_id",)), self.BUCKETS)
        eng.save_bucketed_table("docs", ref)
        self._verb(eng)
        return eng, ref

    @staticmethod
    def _verb(eng) -> dict:
        return graph.dedup_near_incremental(
            eng, "docs", "docs_near", clusters_table="docs_near_clusters")

    def prepare(self, i: int) -> dict:
        up, dels, size = self.corpus.churn(i)
        k = self.MICRO_BATCHES
        p = {"i": i, "rows": size, "input_bytes": 0, "batches": []}
        for j in range(k):
            paths = (self.path(f"churn{i}_{j}.parquet"),
                     self.path(f"churn_deletes{i}_{j}.parquet"))
            for table, path in zip((up, dels), paths):
                rows = pa.array(range(j, table.num_rows, k), pa.int64())
                p["input_bytes"] += inputs.write_parquet(table.take(rows),
                                                         path)
            p["batches"].append(paths)
        return p

    def op(self, p: dict, phase) -> None:
        eng = self.eng
        with contextlib.ExitStack() as txn:
            txn.enter_context(eng.transaction())
            for up_path, del_path in p["batches"]:
                up = self.read(up_path, inputs.DOCS_SCHEMA)
                dels = self.read(del_path, "doc_id bigint")
                with phase("upsert") as rec:
                    ref = inc.incremental_upsert(self.spark, eng.objects,
                                                 self.ref, up, dels)
                    eng.save_bucketed_table("docs", ref)
                    rec.update(buckets_touched=_changed_buckets(self.ref,
                                                                ref),
                               n_buckets=self.BUCKETS)
                self.ref = ref
            with phase("refresh") as rec:
                p["refresh"] = near = self._verb(eng)
                rec.update(cc_input_docs=near.get("cc_input_docs", 0),
                           labels_passthrough=near.get("labels_passthrough",
                                                       0))
                txn.close()                      # the commit
        p["reread"] = []
        for _ in range(self.READS):
            with phase("read"):
                p["reread"].append(self._verb(eng))

    def verify(self, p: dict) -> bool:
        return (p["refresh"]["mode"] == "refresh"
                and {s["mode"] for s in p["reread"]} == {"noop"})

    def check(self) -> bool:
        """Rebuild the verb's outputs over the final corpus in a fresh
        warehouse (no memoized signatures to lean on) and require every
        maintained table to be hash-equal to its rebuilt twin. The
        rebuild's time is a second set-up sample."""
        t0 = time.perf_counter()
        fresh, _ref = self._build(self.corpus.table(), "final")
        self.rebuild_s = time.perf_counter() - t0
        return all(self.eng.table_hash(n) == fresh.table_hash(n)
                   for n in self.OUTPUTS)

WORKLOADS = {w.name: w for w in (BulkLoad, DeltaRefresh, DedupMaintain)}
