"""Regression tests for the round-1 advisor findings: DDL re-run
safety, single-evaluation CAS writes, sqlite memo replace semantics,
and content-hash encoding unambiguity."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from messdb_spark.engine import Engine
from messdb_spark.operators.core import KeyedTable
from messdb_spark.sql_ddl import SqlError


def test_create_table_if_not_exists_preserves_data(spark, warehouse):
    eng = Engine(spark, warehouse)
    eng.ddl("CREATE TABLE t (k BIGINT PRIMARY KEY, v VARCHAR)")
    df = spark.createDataFrame([(1, "x")], "k bigint, v string")
    eng.save_table("t", KeyedTable(df, ("k",)))
    # IF NOT EXISTS re-run: no-op, data survives
    eng.ddl("CREATE TABLE IF NOT EXISTS t (k BIGINT PRIMARY KEY, v VARCHAR)")
    assert eng.load_table("t").df.count() == 1
    # plain CREATE over an existing name: error, data still survives
    with pytest.raises(SqlError):
        eng.ddl("CREATE TABLE t (k BIGINT PRIMARY KEY, v VARCHAR)")
    assert eng.load_table("t").df.count() == 1


def test_put_hashes_written_bytes_of_nondeterministic_plan(spark, warehouse):
    """A rand()-bearing plan must store bytes matching its content
    address: hash-then-write would evaluate the plan twice and can
    store a second, different evaluation under the first's hash."""
    from messdb_spark.hashing import table_content_hash
    from messdb_spark.store import ObjectStore

    store = ObjectStore(warehouse)
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), F.rand().alias("v"))   # nondeterministic
    h = store.put(df, table_content_hash)
    stored = store.load(spark, h)
    # the stored object re-hashes to its own address
    assert table_content_hash(stored) == h


def test_put_dedups_equal_content(spark, warehouse):
    from messdb_spark.hashing import table_content_hash
    from messdb_spark.store import ObjectStore

    store = ObjectStore(warehouse)
    df = spark.range(0, 100).select(F.col("id").alias("k"))
    h1 = store.put(df, table_content_hash)
    h2 = store.put(df.orderBy(F.desc("k")), table_content_hash)  # same rows
    assert h1 == h2
    assert store.save_skips >= 1


def test_sqlite_memo_put_replaces_dead_entry(warehouse):
    from messdb_spark.sqlite_store import SqliteMemoStore

    memo = SqliteMemoStore(warehouse)
    memo.put("digest", "dead-hash")
    # materializer re-puts after discovering the target object is gone;
    # the fresh hash must stick (OR IGNORE kept the dead one forever)
    memo.put("digest", "fresh-hash")
    assert memo.get("digest") == "fresh-hash"


def test_content_hash_nul_bytes_unambiguous(spark):
    """Strings equal to the NULL sentinel, containing the separator, or
    redistributing content across column boundaries must hash
    distinctly."""
    from messdb_spark.hashing import table_content_hash

    def t(rows):
        return spark.createDataFrame(rows, "a string, b string").coalesce(1)

    null_row = t([(None, "x")])
    sentinel_row = t([("\x00N", "x")])            # value == NULL sentinel
    assert table_content_hash(null_row) != table_content_hash(sentinel_row)

    shifted1 = t([("p\x00|q", "r")])              # value contains separator
    shifted2 = t([("p", "q\x00|r")])
    assert table_content_hash(shifted1) != table_content_hash(shifted2)


# ---- round-3 advisor findings ---------------------------------------


def test_check_table_accepts_empty_table(spark):
    """An empty table satisfies the key invariants vacuously; the
    NULL-sum-over-zero-rows bug made check_table reject it (the round-3
    streaming-test flake)."""
    from messdb_spark.operators.core import check_table

    empty = spark.createDataFrame([], "k bigint, v string")
    assert check_table(KeyedTable(empty, ("k",)))
    two_key = spark.createDataFrame([], "a bigint, b bigint, v string")
    assert check_table(KeyedTable(two_key, ("a", "b")))


def test_asof_excludes_equal_timestamp_views(spark, tmp_path):
    """A view at exactly the purchase's timestamp must NOT attribute
    (oracle semantics: strictly v.ts < p.ts). Crafted collision:
    user 1 has a view and a purchase at the same microsecond."""
    import datetime

    from messdb_spark.queries.advanced import asof_join_purchase_view

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    earlier = t0 - datetime.timedelta(minutes=5)
    rows = [
        (1, 1, "view", earlier, 1.0),      # valid earlier view
        (2, 1, "view", t0, 1.0),           # equal-ts view: must NOT win
        (3, 1, "purchase", t0, 9.0),
        (4, 2, "purchase", t0, 9.0),       # user 2: no views at all
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
              "ts timestamp, value double")
    p = tmp_path / "events.parquet"
    df.coalesce(1).write.mode("overwrite").parquet(str(p.parent / "sf"))
    # query functions read <sf_dir>/events.parquet
    import os
    os.rename(str(p.parent / "sf"), str(p.parent / "events.parquet"))
    out = {r["purchase_id"]: r["last_view_id"]
           for r in asof_join_purchase_view(spark, str(p.parent)).collect()}
    assert out == {3: 1, 4: None}


def test_read_event_stream_starts_on_empty_dir(spark, tmp_path):
    """Stream setup must not require a parquet footer to exist yet
    (the round-3 regression from schema sniffing)."""
    from messdb_spark.streaming.stream import read_event_stream

    d = tmp_path / "empty_in"
    d.mkdir()
    stream = read_event_stream(spark, str(d))
    assert stream.isStreaming
    assert [f.name for f in stream.schema.fields] == [
        "event_id", "user_id", "event_type", "ts", "value"]


# ---- round-5 advisor findings ---------------------------------------


def test_incremental_join_view_memoizes_empty_pairs(spark, warehouse):
    """An unchanged nonempty-input pair that joins to ZERO rows must be
    a memo HIT on the next refresh (empty outputs memoize too), or the
    pair recomputes on every refresh — violating cost ∝ changed
    key-space (ADVICE r5, medium)."""
    from messdb_spark.plans.incremental import (
        incremental_join_view, read_bucketed, write_bucketed)
    from messdb_spark.store import MemoStore, ObjectStore

    store = ObjectStore(warehouse)
    memo = MemoStore(warehouse)
    # a: keys 0..99, b: keys 1000..1099 — bucket pairs nonempty on both
    # sides, every join output empty
    a = KeyedTable(spark.range(100).select(F.col("id").alias("k"),
                                           F.col("id").alias("va")), ("k",))
    b = KeyedTable(spark.range(1000, 1100)
                        .select(F.col("id").alias("k"),
                                F.col("id").alias("vb")), ("k",))
    ref_a = write_bucketed(store, a, n_buckets=8)
    ref_b = write_bucketed(store, b, n_buckets=8)
    v1 = incremental_join_view(spark, store, memo, ref_a, ref_b, "ab")
    assert read_bucketed(spark, store, v1).df.count() == 0
    m0 = memo.misses
    v2 = incremental_join_view(spark, store, memo, ref_a, ref_b, "ab")
    assert memo.misses == m0, "empty join outputs must memo-hit"
    assert v2.table_hash == v1.table_hash


def test_gc_keeps_empty_memo_entries(spark, warehouse):
    """GC's memo prune must not drop EMPTY-valued entries — they
    reference no object, so 'target not live' does not apply."""
    eng = Engine(spark, warehouse)
    eng.memo.put("some-digest", "empty")
    eng.gc()
    assert eng.memo._cache.get("some-digest") == "empty"


def test_sql_registers_only_referenced_tables(spark, warehouse):
    """Engine.sql loads O(referenced) catalog tables, not O(catalog)
    (ADVICE r5); case-insensitive references still resolve."""
    eng = Engine(spark, warehouse)
    for i in range(12):
        df = spark.createDataFrame([(i, i)], "k long, v long")
        eng.save_table(f"t{i:02d}", KeyedTable(df, ("k",)))
    loads0 = eng.objects.loads
    assert eng.sql("SELECT v FROM t03").collect()[0][0] == 3
    assert eng.objects.loads - loads0 == 1
    loads1 = eng.objects.loads
    assert eng.sql("SELECT v FROM T04").collect()[0][0] == 4
    assert eng.objects.loads - loads1 == 1


def test_sql_scan_survives_metachar_names_and_literals(spark, warehouse):
    """A catalog name with regex metacharacters must not break the
    dependency scan, and a name appearing only inside a string literal
    must not register (ADVICE r5)."""
    eng = Engine(spark, warehouse)
    df = spark.createDataFrame([(1, 10)], "k long, v long")
    eng.save_table("a+b (weird)", KeyedTable(df, ("k",)))
    eng.save_table("plain", KeyedTable(df, ("k",)))
    loads0 = eng.objects.loads
    assert eng.sql("SELECT 'plain' AS s").collect()[0][0] == "plain"
    assert eng.objects.loads == loads0      # nothing referenced → no loads


def test_create_mv_or_replace_refuses_base_table(spark, warehouse):
    """OR REPLACE may replace only a materialized view; clobbering a
    base TABLE's key columns and data pointer must raise (ADVICE r5)."""
    import pytest as _pytest

    eng = Engine(spark, warehouse)
    df = spark.createDataFrame([(1, 10)], "k long, v long")
    eng.save_table("base", KeyedTable(df, ("k",)))
    with _pytest.raises(SqlError, match="base table"):
        eng.create_materialized_view("base", "SELECT 1 AS one",
                                     or_replace=True)
    assert eng.load_table("base").key_cols == ("k",)


def test_mv_dependency_ignores_string_literals(spark, warehouse):
    """A table name inside a string literal is not a dependency: moving
    that table must not dirty the view digest (refresh stays a memo
    hit)."""
    eng = Engine(spark, warehouse)
    df = spark.createDataFrame([(1, 10)], "k long, v long")
    eng.save_table("base", KeyedTable(df, ("k",)))
    eng.save_table("other", KeyedTable(df, ("k",)))
    eng.create_materialized_view(
        "mv", "SELECT k FROM base WHERE 'other' <> 'x'")
    eng.save_table("other", KeyedTable(
        spark.createDataFrame([(2, 20)], "k long, v long"), ("k",)))
    assert eng.refresh_materialized_view("mv")["refreshed"] is False


def test_update_nondeterministic_where_counts_match(spark, warehouse):
    """UPDATE with a nondeterministic WHERE evaluates the predicate
    once: the reported row count equals the rows actually rewritten
    (ADVICE r5)."""
    eng = Engine(spark, warehouse)
    df = spark.range(2000).select(F.col("id").alias("k"),
                                  F.lit(0).cast("long").alias("v"))
    eng.save_table("t", KeyedTable(df, ("k",)))
    res = eng.dml("UPDATE t SET v = 1 WHERE rand() < 0.5")
    changed = eng.load_table("t").df.where("v = 1").count()
    assert res["rows"] == changed


def test_delete_nondeterministic_where_counts_match(spark, warehouse):
    eng = Engine(spark, warehouse)
    df = spark.range(2000).select(F.col("id").alias("k"),
                                  F.lit(0).cast("long").alias("v"))
    eng.save_table("t", KeyedTable(df, ("k",)))
    res = eng.dml("DELETE FROM t WHERE rand() < 0.5")
    remaining = eng.load_table("t").df.count()
    assert res["rows"] == 2000 - remaining


def test_describe_history_uppercase_and_missing(tmp_path, capsys):
    """DESCRIBE HISTORY parses the table name case-preserved from the
    original statement, and errors (exit 1) on a never-existing table
    instead of silently printing nothing (ADVICE r5)."""
    from messdb_spark.cli import main

    wh = str(tmp_path / "wh")
    assert main(["-w", wh, "sql", "-c",
                 "CREATE TABLE Big (k bigint PRIMARY KEY, v text)"]) == 0
    capsys.readouterr()
    assert main(["-w", wh, "sql", "-c", "DESCRIBE HISTORY Big"]) == 0
    out = capsys.readouterr().out
    assert '"table": "Big"' in out
    assert main(["-w", wh, "sql", "-c", "DESCRIBE HISTORY nope"]) == 1


# ---- round-6 additions ----------------------------------------------


def test_sql_for_version_as_of(spark, warehouse):
    """Per-table time travel in SQL: one query joins a table's current
    state to its own history."""
    eng = Engine(spark, warehouse)
    eng.ddl("CREATE TABLE t (k BIGINT PRIMARY KEY, v BIGINT)")
    eng.dml("INSERT INTO t VALUES (1, 10), (2, 20)")
    v1 = eng.catalog.current_version()
    eng.dml("UPDATE t SET v = v + 5 WHERE k = 1")
    rows = {r["k"]: (r["v_now"], r["v_then"]) for r in eng.sql(
        f"SELECT cur.k, cur.v AS v_now, old.v AS v_then "
        f"FROM t cur JOIN t FOR VERSION AS OF {v1} old ON cur.k = old.k "
        f"ORDER BY cur.k").collect()}
    assert rows == {1: (15, 10), 2: (20, 20)}


def test_sql_selective_registration_at_catalog_scale(spark, warehouse):
    """Catalog-scale pin for O(referenced) driver work (r6 verdict
    task 7): on a 200-table catalog, a two-table join must load and
    register exactly 2 tables — a regression to O(catalog) (manifest
    load or temp-view registration per catalog entry) trips the
    counters. The 200 entries share one physical object (catalog
    entries are just root pointers), so the test stays fast while the
    NAMESPACE is full-size."""
    from messdb_spark.store import CatalogEntry

    eng = Engine(spark, warehouse)
    df = spark.createDataFrame([(1, 10)], "k long, v long")
    h = eng.save_table("seed00", KeyedTable(df, ("k",)))
    entry = eng.catalog.get("seed00")
    for i in range(1, 200):
        eng.catalog.put(f"seed{i:02d}" if i < 100 else f"wide{i:03d}",
                        CatalogEntry(table_hash=h,
                                     schema_json=entry.schema_json,
                                     key_cols=entry.key_cols))
    assert len(eng.catalog.names()) == 200

    loads0 = eng.objects.loads
    views0 = len([t.name for t in spark.catalog.listTables()])
    out = eng.sql("SELECT a.v + b.v AS s FROM seed03 a JOIN wide150 b "
                  "ON a.k = b.k").collect()
    assert out[0][0] == 20
    assert eng.objects.loads - loads0 == 2         # O(referenced), not O(200)
    views1 = len([t.name for t in spark.catalog.listTables()])
    assert views1 - views0 <= 2                    # no namespace-wide views


@pytest.mark.parametrize("observed", [True, False])
def test_tagged_bucket_write_escapes_tags(spark, warehouse, observed):
    """A tag Hive escapes in its directory name (":" → "%3A") must
    pass the staged-tag guard and be renamed from the escaped
    directory, on both the observed-digest and the read-back path."""
    from messdb_spark.plans.incremental import _BUCKET, _write_tagged_buckets
    from messdb_spark.store import ObjectStore

    store = ObjectStore(warehouse)
    rows = [(1, "a:b"), (2, "a:b"), (3, "plain")]
    df = spark.createDataFrame(rows, f"k bigint, {_BUCKET} string")
    hashes = _write_tagged_buckets(
        store, df, key_fn=str, n_parts=2,
        tag_domain=["a:b", "plain"] if observed else None)
    assert set(hashes) == {"a:b", "plain"}
    got = spark.read.parquet(store.path(hashes["a:b"])).collect()
    assert sorted(r["k"] for r in got) == [1, 2]


def test_save_partitions_treats_size_sentinel_as_unknown(spark, warehouse):
    """An RDD-backed frame's size estimate is the Long.MaxValue
    "unknown" sentinel: it must size like an unknown estimate, not as
    a huge one clamped to a wide shuffle setting."""
    from messdb_spark.store import ObjectStore

    store = ObjectStore(warehouse)
    df = spark.sparkContext.parallelize([(1,), (2,)]).toDF(["k"])
    assert int(df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes()) == 2 ** 63 - 1
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2000")
    try:
        assert store._save_partitions(df) == store._SAVE_EST_MAX_PARTS
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_estimated_bytes_is_none_for_the_size_sentinel(spark, warehouse):
    """``estimated_bytes`` maps the Long.MaxValue "unknown" estimate of
    an RDD-backed frame to None, and sizes a parquet scan."""
    from messdb_spark.store import estimated_bytes

    df = spark.sparkContext.parallelize([(1,), (2,)]).toDF(["k"])
    assert estimated_bytes(df) is None
    path = os.path.join(warehouse, "scan")
    spark.range(10).write.parquet(path)
    size = estimated_bytes(spark.read.parquet(path))
    assert isinstance(size, int) and size > 0
