from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from messdb_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # small local profile for fast test startup
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("messdb_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "warehouse")


class JobCount:
    """Spark jobs launched inside the block, counted from the status
    tracker's job ids before and after (the listener bus is drained
    first, so a job that just ended is already listed). ``descriptions``
    holds each new job's description, "" for a job without one, and
    ``stage_tasks`` the task count of each stage those jobs ran."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.n = None

    def _ids(self) -> set[int]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def __enter__(self):
        # jobs of a job group would not be listed
        assert self.sc.getLocalProperty("spark.jobGroup.id") is None
        self._before = self._ids()
        return self

    def __exit__(self, *exc) -> None:
        self._new = sorted(self._ids() - self._before)
        self.n = len(self._new)

    @property
    def descriptions(self) -> list[str]:
        jobs = self.sc._jsc.sc().statusStore()
        out = []
        for j in self._new:
            d = jobs.job(j).description()
            out.append(d.get() if d.isDefined() else "")
        return out

    @property
    def stage_tasks(self) -> list[tuple[str, int]]:
        """(job description, task count) of every stage the new jobs
        ran; a stage skipped because an earlier job ran it is left
        out."""
        tracker = self.sc.statusTracker()
        out = []
        for j, d in zip(self._new, self.descriptions):
            for s in tracker.getJobInfo(j).stageIds:
                info = tracker.getStageInfo(s)
                if info is not None and info.numCompletedTasks > 0:
                    out.append((d, info.numTasks))
        return out


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``with count_jobs() as jc: ...`` then ``jc.n`` is the number of
    Spark jobs the block launched."""
    return lambda: JobCount(spark)


@pytest.fixture()
def cli(spark, capsys, monkeypatch):
    """``cli(warehouse, *args, rc=0)`` runs ``messdb_spark.cli.main``
    in this process, asserts its exit code and returns what it printed.
    ``main`` builds a fresh ``Engine`` over the warehouse on every call,
    as a new process would, and the session-level result caches start
    empty at every call, so nothing but the warehouse carries state
    from one call to the next. Starting the CLI as a subprocess costs a
    JVM start per call; one smoke test in ``test_dedup_near.py`` still
    does that."""
    from messdb_spark.cli import main
    from messdb_spark.queries import graph, similarity

    caches = ((graph, "_CC_LABEL_CACHE"), (similarity, "_CODEBOOK_CACHE"),
              (similarity, "_SAMPLE_COUNT_CACHE"))
    for mod, name in caches:       # the session's own entries survive
        monkeypatch.setattr(mod, name, {})

    def run(warehouse: str, *args: str, rc: int = 0) -> str:
        for mod, name in caches:
            getattr(mod, name).clear()
        capsys.readouterr()
        assert main(["-w", warehouse, *args]) == rc
        return capsys.readouterr().out
    return run


def pytest_sessionfinish(session, exitstatus):
    """Flush parity passes recorded by test_oracle_parity into
    tests/parity_ledger.json (see messdb_spark/parity.py)."""
    from messdb_spark.parity import flush_ledger

    flush_ledger()
