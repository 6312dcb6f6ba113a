#!/usr/bin/env python3
"""Benchmark of messdb_spark: bulk load, delta refresh and maintained dedup.

    python3 perfbench/run.py --workload delta_refresh --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout. One driver process, one client, closed
loop: each operation starts when the previous one has finished. Spark
runs at ``local[n]`` with ``n`` the number of usable cores. Inputs come
only from ``--seed``. Every operation's output is checked, and after the
timed loop the workload's maintained state is checked against a rebuild.

The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, gathered by wrapping the
engine's layers (see ``tracer.py``) and reading Spark's status store
under one job group per phase (see ``sparkstats.py``). Everything else,
including every metric with its unit, goes to standard error. A traced
run also writes its spans and per-phase counters to ``.perfbench_out/``.
All scratch data lives in ``.perfbench_tmp/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# -- process-tree memory ---------------------------------------------------
def _proc_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from ``/proc``."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed resident set of this process and every process
    it started (the JVM and Spark's Python workers), sampled every
    0.2 s on a background thread."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(0.2)

    def sample(self) -> None:
        total = sum(_rss_kb(p) for p in _proc_tree(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


# -- session ---------------------------------------------------------------
def configure_environment(tmp: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``tmp``, and
    size the status store so no job of a run is dropped before it is
    read."""
    for d in ("java", "spark-local", "py"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    confs = {"spark.ui.retainedJobs": "100000",
             "spark.ui.retainedStages": "100000",
             "spark.ui.showConsoleProgress": "false",
             "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
             "spark.driver.extraJavaOptions":
                 f"-Djava.io.tmpdir={os.path.join(tmp, 'java')}"}
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait until
    each has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = set(_proc_tree(os.getpid())) - {os.getpid()}
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()     # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in children if os.path.exists(f"/proc/{p}")
                 and _state(p) != "Z"]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return "Z"


# -- statistics ------------------------------------------------------------
def tail(values: list[float]):
    """``(percentile, value)`` of the highest percentile that still has
    at least ten samples above it, or None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(values)[n - 11]


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


class Runner:
    def __init__(self, args, workdir: str) -> None:
        self.args = args
        self.dir = workdir
        self.records: list[dict] = []
        self.op_rows: dict[int, int] = {}
        self.attempted = self.failed = self.rows = self.input_bytes = 0
        self.tracer = None
        self.jobs = None

    # one timed phase of one operation
    def phase_factory(self, i: int, traced: bool):
        @contextlib.contextmanager
        def phase(name: str):
            wl = self.wl
            eng = wl.eng
            objs = eng.objects
            before = (objs.saves, objs.save_skips, objs.loads,
                      eng.memo.hits, eng.memo.misses,
                      eng.materializer.computed_ops,
                      eng.catalog.current_version(),
                      set(os.listdir(objs.objects_dir)))
            rec = {"op": i, "phase": name, "traced": traced}
            group = f"perfbench-op{i}-{name}"
            if self.jobs is not None:
                self.jobs.begin(group)
            if self.tracer is not None:
                self.tracer.op = (i, name)
                self.tracer.active = traced
            e0, t0 = time.time(), time.perf_counter()
            try:
                yield rec
            finally:
                rec["wall_s"] = time.perf_counter() - t0
                e1 = time.time()
                if self.tracer is not None:
                    self.tracer.active = False
                if self.jobs is not None:
                    rec.update(self.jobs.end(group, e0, e1))
                new = set(os.listdir(objs.objects_dir)) - before[7]
                nbytes = nfiles = 0
                for h in new:
                    for dirpath, _dirs, files in os.walk(objs.path(h)):
                        for f in files:
                            nfiles += 1
                            nbytes += os.path.getsize(
                                os.path.join(dirpath, f))
                rec.update(
                    saves=objs.saves - before[0],
                    save_skips=objs.save_skips - before[1],
                    loads=objs.loads - before[2],
                    memo_hits=eng.memo.hits - before[3],
                    memo_misses=eng.memo.misses - before[4],
                    computed_ops=eng.materializer.computed_ops - before[5],
                    root_swaps=eng.catalog.current_version() - before[6],
                    bytes_written=nbytes, files_written=nfiles)
                self.records.append(rec)
        return phase

    def run_op(self, i: int, phase) -> dict:
        """Prepare, run and verify operation ``i``; a failure or a wrong
        output is counted, and the loop goes on."""
        p = self.wl.prepare(i)
        self.attempted += 1
        ok = False
        try:
            self.wl.op(p, phase)
            ok = self.wl.verify(p)
        except Exception:  # noqa: BLE001 — count it, keep measuring
            log(f"# op {i}: FAILED\n{traceback.format_exc()}")
        self.failed += not ok
        log(f"# op {i} rows={p['rows']} " + " ".join(
            f"{r['phase']}={r['wall_s']:.3f}s" for r in self.records
            if r["op"] == i) + ("" if ok else " WRONG OUTPUT"))
        return p

    def run(self) -> dict:
        cores = len(os.sched_getaffinity(0))
        t_start = time.perf_counter()
        from messdb_spark.session import ensure_shipped, get_spark
        spark = get_spark(master=f"local[{cores}]", shuffle_partitions=cores)
        try:
            ensure_shipped(spark)
            session_s = time.perf_counter() - t_start
            log(f"# machine: nproc={os.cpu_count()} usable={cores} "
                f"master=local[{cores}] shuffle_partitions={cores} "
                f"loadavg={' '.join(f'{x:.2f}' for x in os.getloadavg())}")
            return self._run(spark, cores, t_start, session_s)
        finally:
            stop_spark(spark)

    def _run(self, spark, cores: int, t_start: float,
             session_s: float) -> dict:
        args = self.args
        import workloads
        if args.trace:
            # workloads call the engine through module attributes, so
            # the wrappers installed here are what they call
            from sparkstats import JobStats
            from tracer import Tracer
            self.tracer = Tracer()
            self.tracer.install()
            self.jobs = JobStats(spark, cores)
            self.jobs.untimed()
        self.wl = wl = workloads.WORKLOADS[args.workload](
            spark, os.path.join(self.dir, "work"), args.seed)
        builds = wl.setup()
        setup_wall = time.perf_counter() - t_start
        log(f"# setup: session {session_s:.3f}s, builds "
            + ", ".join(f"{b:.3f}s" for b in builds)
            + f", total {setup_wall:.3f}s")

        # a traced run traces every other operation, so the tracing
        # overhead is measured inside one run; its loop ends on a pair
        # of cycles, and the second cycle flips the first one's pattern,
        # so each position of the cycle runs once traced and once not
        unit = wl.cycle * (2 if args.trace else 1)
        t_loop = time.perf_counter()
        i = 0
        while True:
            traced = (bool(args.trace)
                      and (i % wl.cycle + i // wl.cycle) % 2 == 0)
            p = self.run_op(i, self.phase_factory(i, traced))
            self.rows += p["rows"]
            self.input_bytes += p["input_bytes"]
            self.op_rows[i] = p["rows"]
            i += 1
            if (i % unit == 0
                    and time.perf_counter() - t_loop >= args.seconds):
                break

        t_check = time.perf_counter()
        try:
            check_ok = wl.check()
        except Exception:  # noqa: BLE001
            log(f"# check: FAILED\n{traceback.format_exc()}")
            check_ok = False
        self.attempted += 1
        self.failed += not check_ok
        log(f"# check: {'ok' if check_ok else 'WRONG OUTPUT'} "
            f"({time.perf_counter() - t_check:.3f}s)")
        # set-up counts the median build: a workload that builds its
        # state more than once (a check's rebuild is a build too) would
        # otherwise be dominated by its first, cold build
        samples = builds + ([wl.rebuild_s] if hasattr(wl, "rebuild_s")
                            else [])
        setup_s = setup_wall - sum(builds) + statistics.median(samples)
        attempted, failed = self.attempted, self.failed
        rows, input_bytes = self.rows, self.input_bytes

        self.summary = {"attempted": attempted, "failed": failed,
                        "rows": rows, "input_bytes": input_bytes,
                        "setup_s": setup_s, "ops": i,
                        "nproc": os.cpu_count(), "cores": cores,
                        "loadavg": os.getloadavg()}
        if args.trace:
            metrics = self.layer_metrics(cores)
        else:
            metrics = self.end_to_end(setup_s, rows, input_bytes)
        return {"correct": failed == 0, "attempted": attempted,
                "failed": failed, "metrics": metrics}

    def _by_phase(self, phase: str) -> list[dict]:
        return [r for r in self.records if r["phase"] == phase]

    def end_to_end(self, setup_s: float, rows: int,
                   input_bytes: int) -> dict:
        timed = sum(r["wall_s"] for r in self.records)
        written = sum(r["bytes_written"] for r in self.records)
        m = {}
        for ph in self.wl.phases:
            walls = [r["wall_s"] for r in self._by_phase(ph)]
            p50 = statistics.median(walls) if walls else 0.0
            m[f"{ph}_p50_s"] = (p50, "s")
            t = tail(walls)
            log(f"# {ph}: n={len(walls)} p50={p50:.4f}s "
                + (f"p{t[0]:.1f}={t[1]:.4f}s (10 samples above)" if t
                   else "tail: fewer than 11 samples"))
        m["rows_per_s"] = (_ratio(rows, timed), "1/s")
        m["store_bytes_per_input_byte"] = (_ratio(written, input_bytes),
                                           "ratio")
        m["setup_s"] = (setup_s, "s")
        log(f"# peak_rss_mb: {self.rss.peak_kb / 1024:.1f} MB")
        log(f"# error_rate: {self.summary['failed']}/"
            f"{self.summary['attempted']} = "
            f"{self.summary['failed'] / self.summary['attempted']:.4f}")
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def layer_metrics(self, cores: int) -> dict:
        recs = self.records
        n_ops = self.summary["ops"]
        m: dict = {}

        def per_op(total) -> float:
            return total / n_ops if n_ops else 0.0

        for ph in self.wl.phases:
            rs = self._by_phase(ph)
            wall = sum(r["wall_s"] for r in rs)
            for key, name, unit in (
                    ("jobs", "spark.jobs", "count"),
                    ("tasks", "spark.tasks", "count"),
                    ("executor_s", "spark.executor_s", "s"),
                    ("busy_s", "spark.busy_s", "s"),
                    ("shuffle_bytes", "spark.shuffle_bytes", "B"),
                    ("gap_s", "driver.gap_s", "s"),
                    ("root_swaps", "engine.root_swaps", "count"),
                    ("bytes_written", "store.bytes_written", "B"),
                    ("files_written", "store.files_written", "count"),
                    ("buckets_touched", "incremental.buckets_touched",
                     "count")):
                m[f"{name}.{ph}"] = (_ratio(sum(r.get(key, 0) for r in rs),
                                            len(rs)), unit)
            m[f"spark.utilization.{ph}"] = (_ratio(
                sum(r["executor_s"] for r in rs), wall * cores), "ratio")
        saves = sum(r["saves"] for r in recs)
        skips = sum(r["save_skips"] for r in recs)
        hits = sum(r["memo_hits"] for r in recs)
        misses = sum(r["memo_misses"] for r in recs)
        writes = self._by_phase(self.wl.phases[0])
        m.update({
            "store.saves": (per_op(saves), "count"),
            "store.save_skips": (per_op(skips), "count"),
            "store.skip_ratio": (_ratio(skips, saves + skips), "ratio"),
            "store.load.calls": (per_op(sum(r["loads"] for r in recs)),
                                 "count"),
            "memo.get.calls": (per_op(hits + misses), "count"),
            "memo.hit_ratio": (_ratio(hits, hits + misses), "ratio"),
            "views.computed_ops": (per_op(sum(r["computed_ops"]
                                              for r in recs)), "count"),
            "incremental.touched_fraction": (_ratio(
                sum(r.get("buckets_touched", 0) for r in writes),
                sum(r.get("n_buckets", 0) for r in writes)), "ratio"),
            "graph.cc_input_docs": (per_op(sum(r.get("cc_input_docs", 0)
                                               for r in recs)), "count"),
            "graph.labels_passthrough": (per_op(sum(
                r.get("labels_passthrough", 0) for r in recs)), "count"),
            "process.peak_rss_mb": (self.rss.peak_kb / 1024, "MB"),
        })

        spans = self.tracer.self_times()
        traced_ops = len({r["op"] for r in recs if r["traced"]})
        traced_wall = sum(r["wall_s"] for r in recs if r["traced"])

        def self_share(*names) -> tuple:
            # a share of the traced phases' time rather than seconds: a
            # layer a workload never calls reads 0 on every run, which
            # is right for a share and would look like a stuck clock
            return (_ratio(sum(s["self_s"] for s in spans
                               if s["name"] in names), traced_wall),
                    "ratio")

        def calls(*names) -> tuple:
            return (sum(s["name"] in names for s in spans)
                    / max(traced_ops, 1), "count")

        m.update({
            "engine.transaction.self_share": self_share(
                "engine.transaction.begin", "engine.transaction.commit"),
            "engine.save_table.self_share": self_share("engine.save_table"),
            "engine.save_bucketed_table.self_share":
                self_share("engine.save_bucketed_table"),
            "engine.load_table.self_share": self_share("engine.load_table"),
            "store.put.self_share": self_share("store.put"),
            "memo.put.self_share": self_share("memo.put", "memo.put_many"),
            "catalog.put.self_share": self_share("catalog.put",
                                                 "catalog.put_many"),
            "hashing.self_share": self_share(
                "hashing.table_content_hash", "hashing.bucket_content_hashes",
                "hashing.observed_content_hash",
                "hashing.observed_bucket_hashes"),
            "hashing.observed.calls": calls("hashing.observed_content_hash",
                                            "hashing.observed_bucket_hashes"),
            "hashing.readback.calls": calls("hashing.table_content_hash",
                                            "hashing.bucket_content_hashes"),
            "incremental.upsert.self_share": self_share("incremental.upsert"),
            "incremental.write_bucketed.self_share":
                self_share("incremental.write_bucketed"),
            "incremental.agg_view.self_share":
                self_share("incremental.agg_view"),
            "incremental.read_bucketed.calls":
                calls("incremental.read_bucketed"),
            "views.materialize.self_share": self_share("views.materialize"),
            "core.diff_tables.self_share": self_share("core.diff_tables"),
            "core.canonicalize_input.self_share":
                self_share("core.canonicalize_input"),
            "graph.dedup_near.self_share": self_share("graph.dedup_near"),
        })

        def rate(traced: bool) -> float:
            ops = {r["op"] for r in recs if r["traced"] == traced}
            wall = sum(r["wall_s"] for r in recs if r["op"] in ops)
            return _ratio(sum(self.op_rows[o] for o in ops), wall)

        m["trace.overhead_ratio"] = (_ratio(rate(True), rate(False)),
                                     "ratio")
        self.write_trace(spans, m)
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def write_trace(self, spans: list[dict], metrics: dict) -> None:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        stem = os.path.join(out, f"{self.args.workload}-seed{self.args.seed}")
        self.tracer.dump(stem + "-spans.jsonl", spans)
        with open(stem + "-phases.json", "w") as f:
            json.dump({"summary": self.summary, "phases": self.records,
                       "metrics": metrics}, f, indent=1, default=str)
        log(f"# trace written to {stem}-spans.jsonl and {stem}-phases.json")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("bulk_load", "delta_refresh", "dedup_maintain"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "messdb_spark", "__init__.py")):
        log("perfbench: no messdb_spark package beside perfbench/ — run "
            "from the root of a checkout of the repository")
        return 2
    # a terminated run still stops Spark and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    os.makedirs(tmp)
    try:
        configure_environment(tmp)
        sys.path[:0] = [ROOT, HERE]
        runner = Runner(args, tmp)
        with RssSampler() as rss:
            runner.rss = rss
            result = runner.run()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    for k, v in result["metrics"].items():
        log(f"# metric {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
