"""Recorded schemas: every write path records the schema its files hold,
and reads of stored objects take that schema instead of running a Spark
job to infer it from parquet footers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from messdb_spark.engine import Engine
from messdb_spark.operators.core import KeyedTable
from messdb_spark.store import as_schema

#: the test table is keyed on ``k``, which is NOT the leading column
_COLS = ["v", "k", "g"]
_SCHEMA = "v string, k bigint, g bigint"


def _fields(schema) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def _file_schemas(store, h: str) -> list[list[tuple[str, str]]]:
    """The schema each part file of an object holds, as Spark infers it:
    the Spark schema its writer put in the parquet footer, which schema
    inference reads back. Read with pyarrow, so checking costs no job."""
    import glob
    import os

    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(os.path.join(store.path(h), "part-*"))):
        meta = pq.read_schema(f).metadata
        out.append(_fields(as_schema(
            meta[b"org.apache.spark.sql.parquet.row.metadata"].decode())))
    return out


def _assert_objects_match(spark, store, hashes, schema_json, what):
    recorded = _fields(as_schema(schema_json))
    hashes = [h for h in hashes if h != "empty"]
    assert hashes, what
    for h in hashes:
        files = _file_schemas(store, h)
        assert files and all(f == recorded for f in files), (what, h)
    # and Spark's own inference agrees, for one object per write path
    inferred = _fields(spark.read.parquet(store.path(hashes[0])).schema)
    assert inferred == recorded, (what, hashes[0])


def _changed(new_hashes, old_hashes) -> list[str]:
    return [h for h, old in zip(new_hashes, old_hashes) if h != old]


@pytest.fixture(scope="module")
def stored(spark, tmp_path_factory):
    """One warehouse holding the test table in every layout: plain
    (``save_table``), hash-bucketed, range-bucketed and adaptive."""
    from messdb_spark.plans.adaptive import write_adaptive
    from messdb_spark.plans.incremental import write_bucketed
    from messdb_spark.plans.range_layout import write_range_bucketed

    eng = Engine(spark, str(tmp_path_factory.mktemp("recorded") / "wh"))
    table = KeyedTable(spark.createDataFrame(
        [(f"v{i}", i, i % 3) for i in range(40)], _SCHEMA), ("k",))
    refs = {"bt": write_bucketed(eng.objects, table, n_buckets=4),
            "rt": write_range_bucketed(eng.objects, table, n_buckets=4),
            "at": write_adaptive(eng.objects, table, n_buckets=4, fanout=2)}
    eng.save_table("plain", table)
    eng.save_bucketed_table("bt", refs["bt"])
    eng.save_range_bucketed_table("rt", refs["rt"])
    eng.save_adaptive_table("at", refs["at"])
    return eng, table, refs


def test_recorded_schemas_match_files(spark, stored):
    """For every write path, the (name, type) list the catalog entry or
    manifest records equals what Spark infers from the object's files,
    and the loaded frame's columns follow the recorded order."""
    from messdb_spark.plans.adaptive import adaptive_agg_view, upsert_adaptive
    from messdb_spark.plans.incremental import (incremental_agg_view,
                                                incremental_map_view,
                                                incremental_upsert,
                                                load_manifest)
    from messdb_spark.plans.range_layout import incremental_upsert_range
    from messdb_spark.queries.graph import _commit_dedup_outputs
    from messdb_spark.registry import REGISTRY

    eng, table, refs = stored
    store = eng.objects
    e = eng.catalog.get("plain")
    _assert_objects_match(spark, store, [e.table_hash], e.schema_json,
                          "save_table")
    _assert_objects_match(spark, store, refs["bt"].bucket_hashes,
                          refs["bt"].schema_json, "write_bucketed")
    _assert_objects_match(spark, store, refs["rt"].bucket_hashes,
                          refs["rt"].schema_json, "write_range_bucketed")
    _assert_objects_match(spark, store, refs["at"].leaf_hashes(),
                          refs["at"].schema_json, "write_adaptive")

    # upserts rewrite touched buckets through a keys-first anti-join
    delta = spark.createDataFrame([("new", 3, 0), ("add", 100, 1)], _SCHEMA)
    bt2 = incremental_upsert(spark, store, refs["bt"], delta,
                             deletes=spark.createDataFrame([(5,)],
                                                           "k bigint"))
    _assert_objects_match(spark, store,
                          _changed(bt2.bucket_hashes,
                                   refs["bt"].bucket_hashes),
                          bt2.schema_json, "incremental_upsert")
    rt2 = incremental_upsert_range(spark, store, refs["rt"], delta)
    _assert_objects_match(spark, store,
                          _changed(rt2.bucket_hashes,
                                   refs["rt"].bucket_hashes),
                          rt2.schema_json, "incremental_upsert_range")
    at2 = upsert_adaptive(spark, store, refs["at"], delta)
    _assert_objects_match(spark, store,
                          _changed(at2.entries, refs["at"].entries),
                          at2.schema_json, "upsert_adaptive")
    eng.save_bucketed_table("bt2", bt2)
    eng.save_range_bucketed_table("rt2", rt2)
    eng.save_adaptive_table("at2", at2)
    for name in ("plain", "bt2", "rt2", "at2"):
        assert eng.load_table(name).df.columns == _COLS, name

    # map view: a computing run, then an all-hit run, record one schema
    REGISTRY.transforms.pop("schema_test_upper", None)

    @REGISTRY.transform("schema_test_upper", new_key_cols=("k",))
    def _upper(df):
        return df.select(F.upper("v").alias("v"), "k",
                         (F.col("g") * 2).alias("g2"), "__messdb_ord")

    m1 = incremental_map_view(spark, store, eng.memo, bt2,
                              "schema_test_upper")
    m2 = incremental_map_view(spark, store, eng.memo, bt2,
                              "schema_test_upper")
    assert m2.schema_json == m1.schema_json
    _assert_objects_match(spark, store, m1.bucket_hashes, m1.schema_json,
                          "incremental_map_view")

    # agg views: the partial objects hold the partial plan's schema,
    # which the combine reads them through
    aggs = {"n": ("count", F.count(F.lit(1))), "s": ("sum", F.sum("k"))}
    partial_schema = table.df.groupBy("g").agg(
        *[c.alias(n) for n, (_op, c) in aggs.items()]).schema.json()
    before = set(eng.memo._cache.values())
    got = incremental_agg_view(spark, store, eng.memo, bt2, "schema_agg",
                               ["g"], aggs)
    _assert_objects_match(spark, store,
                          sorted(set(eng.memo._cache.values()) - before),
                          partial_schema, "incremental_agg_view partials")
    before = set(eng.memo._cache.values())
    got_a = adaptive_agg_view(spark, store, eng.memo, at2, "schema_aagg",
                              ["g"], aggs)
    _assert_objects_match(spark, store,
                          sorted(set(eng.memo._cache.values()) - before),
                          partial_schema, "adaptive_agg_view partials")
    for view in (got, got_a):
        assert _fields(view.df.schema) == _fields(as_schema(partial_schema))

    # both _commit_dedup_outputs paths: full write, then touched buckets
    docs = spark.createDataFrame([(f"text {i}", i) for i in range(12)],
                                 "text string, doc_id bigint")
    labels = spark.createDataFrame([(1, 1), (2, 1), (7, 7), (9, 7)],
                                   "doc_id bigint, comp bigint")
    with eng.transaction():
        _commit_dedup_outputs(eng, docs, "doc_id", labels, "out", None,
                              {}, n_buckets=4)
    full = load_manifest(store, eng.table_hash("out"))
    _assert_objects_match(spark, store, full.bucket_hashes,
                          full.schema_json, "dedup full commit")
    labels = spark.createDataFrame([(1, 1), (2, 1), (3, 1)],
                                   "doc_id bigint, comp bigint")
    with eng.transaction():
        _commit_dedup_outputs(
            eng, docs, "doc_id", labels, "out", None, {}, n_buckets=4,
            old_out_ref=full,
            changed_keys=spark.createDataFrame([(3,)], "doc_id bigint"))
    part = load_manifest(store, eng.table_hash("out"))
    _assert_objects_match(spark, store,
                          _changed(part.bucket_hashes, full.bucket_hashes),
                          part.schema_json, "dedup touched commit")
    assert eng.load_table("out").df.columns == ["text", "doc_id"]


def test_stored_reads_launch_no_jobs(spark, stored, count_jobs):
    """``Engine.load_table`` on every layout and a bucket-pruned
    ``read_bucketed`` are pure plans: zero Spark jobs."""
    from messdb_spark.plans.incremental import read_bucketed

    eng, _table, refs = stored
    for name in ("plain", "bt", "rt", "at"):
        with count_jobs() as jc:
            df = eng.load_table(name).df
        assert jc.n == 0, name
        assert df.columns == _COLS, name
    with count_jobs() as jc:
        read_bucketed(spark, eng.objects, refs["bt"], buckets=[1])
    assert jc.n == 0


#: Spark's description of its parallel file-listing job
_LISTING_JOB = "Listing leaf files"
_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


@pytest.fixture(scope="module")
def wide(spark, stored, count_jobs):
    """The test rows' shape in 64 buckets, one object each: past the 32
    paths (or subdirectories) Spark lists in a parallel job by default.
    The write — a full one, so its digest re-reads the 64 staged bucket
    directories — runs under a job count."""
    from messdb_spark.plans.incremental import write_bucketed

    eng = stored[0]
    table = KeyedTable(spark.createDataFrame(
        [(f"v{i}", i, i % 3) for i in range(256)], _SCHEMA), ("k",))
    with count_jobs() as jc:
        ref = write_bucketed(eng.objects, table, n_buckets=64)
    eng.save_bucketed_table("wide", ref)
    assert "empty" not in ref.bucket_hashes
    return eng, ref, jc.descriptions


def test_wide_bucket_write_lists_staged_buckets_on_driver(wide):
    """Digesting 64 staged bucket directories runs no listing job."""
    _eng, _ref, descriptions = wide
    assert descriptions
    assert not [d for d in descriptions if d.startswith(_LISTING_JOB)]


def test_wide_stored_reads_launch_no_jobs(spark, wide, count_jobs):
    """Reads of 64 bucket objects are pure plans, like narrow ones."""
    from messdb_spark.plans.incremental import read_bucketed

    eng, ref, _ = wide
    with count_jobs() as jc:
        df = eng.load_table("wide").df
    assert jc.n == 0
    assert df.columns == _COLS
    with count_jobs() as jc:
        read_bucketed(spark, eng.objects, ref)
    assert jc.n == 0
    assert df.count() == 256


@pytest.mark.parametrize("prior", [None, "8", "1000"])
def test_wide_read_restores_listing_threshold(spark, wide, count_jobs,
                                              prior):
    """A wide read lists on the driver whatever the listing threshold,
    and leaves it at its prior value, or unset — also when it fails."""
    from pyspark.errors import AnalysisException

    eng, ref, _ = wide
    store = eng.objects
    if prior is not None:
        spark.conf.set(_THRESHOLD, prior)
    try:
        with count_jobs() as jc:
            store.load_objects(spark, list(ref.bucket_hashes),
                               ref.schema_json)
        assert jc.n == 0
        assert spark.conf.get(_THRESHOLD, None) == prior
        with pytest.raises(AnalysisException):
            store.load_objects(spark, [*ref.bucket_hashes, "0" * 64],
                               ref.schema_json)
        assert spark.conf.get(_THRESHOLD, None) == prior
    finally:
        spark.conf.unset(_THRESHOLD)


def test_conf_scopes_on_many_threads_restore_the_conf(spark):
    """Scopes opened on more threads than cores see their own value
    inside and leave the conf unset: no scope restores another's."""
    import sys
    import threading

    from messdb_spark.session import conf_scope

    seen = []

    def worker(i: int) -> None:
        for _ in range(20):
            with conf_scope(spark, {_THRESHOLD: 100 + i}):
                seen.append(spark.conf.get(_THRESHOLD) == str(100 + i))

    spark.conf.unset(_THRESHOLD)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert len(seen) == 160 and all(seen)
    assert spark.conf.get(_THRESHOLD, None) is None
