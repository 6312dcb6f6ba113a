"""SparkSession factory tuned for the engine.

Local test profile: ``local[N]`` with shuffle partitions ~ cores.
At cluster scale the same builder is used with ``master`` unset (inherit
from spark-submit) and shuffle partitions sized to data volume; every
knob here is safe for both.
"""

from __future__ import annotations

import contextlib
import os
import tempfile
import threading
import zipfile

from pyspark.sql import SparkSession

_DEFAULTS = {
    # AQE: runtime coalescing, skew-join splitting — essential at 100 TB,
    # harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Pin timezone so timestamps compare exactly against the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for any pandas_udf / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: keep permissive casts like Spark's classic mode (oracle
    # queries avoid relying on either behavior).
    "spark.sql.ansi.enabled": "false",
    # the driver's events.parquet stores TIMESTAMP(NANOS); Spark reads it
    # as long via this flag, read_table() converts to micros timestamps
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "messdb_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` drives local parallelism; shuffle partitions
    default to the same so tiny local runs don't fan out to 200 empty
    tasks while cluster submits can override via spark-submit conf.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    b = SparkSession.builder.appName(app_name).master(master)
    for k, v in _DEFAULTS.items():
        b = b.config(k, v)
    b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    b = b.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class job_desc:
    """Label the Spark jobs of a code block for the UI/event log
    (guide §1.5) — thread-local, restored on exit, microsecond cost.
    The engine's CAS/commit paths run many short jobs per operation;
    labels make per-phase profiling (tools/profile_query.py) and the
    SQL tab legible at any scale."""

    def __init__(self, spark: SparkSession, label: str):
        self._sc = spark.sparkContext
        self._label = label
        self._prev = None

    def __enter__(self):
        try:
            self._prev = self._sc.getLocalProperty("spark.job.description")
            self._sc.setJobDescription(self._label)
        except Exception:  # noqa: BLE001 — labeling must never fail work
            pass
        return self

    def __exit__(self, *exc):
        try:
            self._sc.setJobDescription(self._prev)
        except Exception:  # noqa: BLE001
            pass
        return False


#: held while a scope's values are set: the session conf is shared with
#: threads such as a streaming ``foreachBatch``, and two unserialized
#: scopes could each restore the other's value instead of the original
_CONF_LOCK = threading.RLock()


@contextlib.contextmanager
def conf_scope(spark: SparkSession, values: dict):
    """Set session conf ``values`` for the block, then restore each key
    to its previous value, or unset it if it had none. The lock is held
    for the whole block: keep it to one read or action, and never wait
    in it on another thread that may open a scope."""
    conf = spark.conf
    with _CONF_LOCK:
        prev = {k: conf.get(k, None) for k in values}
        try:
            for k, v in values.items():
                conf.set(k, str(v))
            yield
        finally:
            for k, p in prev.items():
                if p is None:
                    conf.unset(k)
                else:
                    conf.set(k, p)


def ensure_shipped(spark: SparkSession) -> None:
    """Ship the ``messdb_spark`` package to Python workers via
    ``addPyFile`` so cloudpickled UDFs (mapInPandas, UDTF,
    applyInPandasWithState) can import it regardless of the driver
    process's cwd/sys.path. On a real cluster this is exactly how the
    package reaches executors; locally it fixes sessions launched from
    outside the repo root. Idempotent per SparkContext."""
    sc = spark.sparkContext
    if getattr(sc, "_messdb_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(tempfile.gettempdir(), "messdb_spark_pkg.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_STORED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    arc = os.path.join("messdb_spark",
                                       os.path.relpath(full, pkg_dir))
                    zf.write(full, arc)
    sc.addPyFile(zip_path)
    sc._messdb_pkg_shipped = True


def _normalize_timestamps(spark: SparkSession, df):
    """Canonicalize timestamp encodings across testdata generations.

    The driver's parquet has shipped timestamps as TIMESTAMP(NANOS)
    (round 1) and as TIMESTAMP(MICROS, isAdjustedToUTC=false) (round 2,
    which Spark 4 reads as TIMESTAMP_NTZ). The engine standardizes on
    session-local TIMESTAMP with the session pinned to UTC, which is
    bit-identical to DuckDB's naive-timestamp view of the same files:
    NTZ→TIMESTAMP preserves the wall clock, and with tz=UTC the epoch
    too. Column pruning/pushdown are unaffected (the cast is a
    projection above the scan; filters on the raw column still push)."""
    from pyspark.sql import functions as F, types as T
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver testdata parquet table.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects; with ``nanosAsLong`` it arrives as a long
    that we truncate to microsecond timestamps (matching DuckDB's µs
    fetch precision). Micros-NTZ testdata is normalized to TIMESTAMP by
    ``_normalize_timestamps``. Other tables read natively with
    pushdown/pruning."""
    ensure_shipped(spark)
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        from pyspark.sql import functions as F
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return _normalize_timestamps(spark, df)
    return _normalize_timestamps(spark, spark.read.parquet(path))


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Read the driver testdata parquet tables and register temp views.

    Returns dict name -> DataFrame. Parquet scans get column pruning and
    predicate pushdown from Catalyst for free.
    """
    if names is None:
        names = ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"]
    out = {}
    for n in names:
        df = read_table(spark, sf_dir, n)
        df.createOrReplaceTempView(n)
        out[n] = df
    return out
