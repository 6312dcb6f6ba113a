"""The benchmark's correctness checks can fail.

    python3 -m pytest perfbench/test_check.py -q

Each test runs a workload at a small size, shows that its check passes,
corrupts one maintained output and shows that the check then fails.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import workloads  # noqa: E402
from messdb_spark.operators.core import KeyedTable  # noqa: E402
from messdb_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    return get_spark("perfbench_tests", master="local[2]",
                     shuffle_partitions=2)


def _run_ops(wl, n_ops: int) -> None:
    wl.setup()
    for i in range(n_ops):
        p = wl.prepare(i)
        wl.op(p, lambda _name: contextlib.nullcontext({}))
        assert wl.verify(p), f"op {i} output is wrong"


class SmallDelta(workloads.DeltaRefresh):
    ROWS = 4_000
    BUCKETS = 8


class SmallDedup(workloads.DedupMaintain):
    DOCS = 60
    BUCKETS = 4


def test_delta_check_catches_a_corrupt_table(spark, tmp_path):
    wl = SmallDelta(spark, str(tmp_path), seed=5)
    _run_ops(wl, SmallDelta.cycle)
    assert wl.check()
    # point one bucket of the maintained table at another bucket's
    # object: the view still agrees with the table, the rows do not
    bh = list(wl.ref.bucket_hashes)
    full = [i for i, h in enumerate(bh) if h != "empty"]
    bh[full[0]] = bh[full[1]]
    wl.ref = dataclasses.replace(wl.ref, bucket_hashes=tuple(bh))
    assert not wl.check()


def test_dedup_check_catches_a_corrupt_output(spark, tmp_path):
    wl = SmallDedup(spark, str(tmp_path), seed=5)
    _run_ops(wl, 1)
    assert wl.check()
    out = wl.eng.load_table("docs_near")
    wl.eng.save_table("docs_near", KeyedTable(
        out.df.orderBy("doc_id").limit(out.df.count() - 1), out.key_cols))
    assert not wl.check()
