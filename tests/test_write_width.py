"""Bucket writes run at most ``spark.sql.shuffle.partitions`` tasks: the
bucket-keyed exchange of a 64-bucket write on a 4-wide session runs 4
tasks, not one per bucket, and every bucket is still one file with the
same content address."""

from __future__ import annotations

import glob
import os

import pytest

from messdb_spark.operators.core import KeyedTable
from messdb_spark.session import conf_scope
from messdb_spark.store import ObjectStore

_SCHEMA = "v string, k bigint, g bigint"
_WIDTH = "spark.sql.shuffle.partitions"
_WRITE_JOB = "cas.bucket_write"


def _rows(spark, tag: str):
    return spark.createDataFrame(
        [(f"{tag}{i}", i, i % 3) for i in range(256)], _SCHEMA)


@pytest.fixture(scope="module")
def wide(spark, tmp_path_factory, count_jobs):
    """The same 256 rows written as a 64-bucket table at widths 4 and
    64, each into its own store and under a job count."""
    from messdb_spark.plans.incremental import write_bucketed

    table = KeyedTable(_rows(spark, "v"), ("k",))
    out = {}
    for width in (4, 64):
        store = ObjectStore(str(tmp_path_factory.mktemp(f"w{width}")))
        with count_jobs() as jc, conf_scope(spark, {_WIDTH: width}):
            ref = write_bucketed(store, table, n_buckets=64)
        assert "empty" not in ref.bucket_hashes
        out[width] = (store, ref, jc.stage_tasks)
    return out


def test_bucket_write_runs_at_session_width(wide):
    _store, _ref, stage_tasks = wide[4]
    write = [n for d, n in stage_tasks if d.startswith(_WRITE_JOB)]
    assert write and max(write) <= 4, stage_tasks
    # the same write at width 64 runs its 64-task stage
    assert max(n for d, n in wide[64][2] if d.startswith(_WRITE_JOB)) == 64


def test_bucket_objects_hold_one_file_each(wide):
    for store, ref, _ in wide.values():
        for h in ref.bucket_hashes:
            assert len(glob.glob(os.path.join(store.path(h), "part-*"))) \
                == 1, h


def test_bucket_hashes_do_not_depend_on_width(wide):
    assert wide[4][1].bucket_hashes == wide[64][1].bucket_hashes


def test_upsert_of_every_bucket_does_not_depend_on_width(spark, wide):
    """A delta editing every key, so rewriting all 64 buckets, gives the
    same manifest at both widths."""
    from messdb_spark.plans.incremental import incremental_upsert

    delta = _rows(spark, "u")
    got = {}
    for width, (store, ref, _) in wide.items():
        with conf_scope(spark, {_WIDTH: width}):
            new = incremental_upsert(spark, store, ref, delta)
        assert all(h != old for h, old in
                   zip(new.bucket_hashes, ref.bucket_hashes))
        got[width] = new.table_hash
    assert got[4] == got[64]


def test_adaptive_merge_keeps_entries_without_the_digest_fold(
        spark, wide, monkeypatch):
    """Merging 64 split buckets is a full rewrite: its digest is the
    staged read-back, never the fold, and each merged bucket gets back
    the address of the flat bucket it was split from."""
    import messdb_spark.hashing as hashing
    from messdb_spark.plans.adaptive import (AdaptiveRef, _split_oversized,
                                             compact_adaptive)

    store, ref, _ = wide[4]
    flat = AdaptiveRef(key_cols=ref.key_cols, n_buckets=64, fanout=2,
                       entries=ref.bucket_hashes, schema_json=ref.schema_json)
    split = _split_oversized(spark, store, flat, split_bytes=0,
                             candidates=range(64))
    assert len(split.split_buckets) >= 33

    def no_fold(*_a, **_k):
        raise AssertionError("a merge must not fold the digest")

    monkeypatch.setattr(hashing, "observed_bucket_hashes", no_fold)
    merged = compact_adaptive(spark, store, split, merge_bytes=1 << 30)
    assert merged.split_buckets == []
    assert merged.entries == ref.bucket_hashes
