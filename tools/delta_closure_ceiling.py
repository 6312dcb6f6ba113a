#!/usr/bin/env python
"""Time the delta-local re-cluster's driver closure against its Spark
closure, and the driver closure's Python memory peak, as the affected
neighbourhood grows toward ``graph._DELTA_DRIVER_MAX`` (the row
ceiling of each gather; the band-row gather is the largest, 4 rows per
signed doc). The measurement behind that constant.

Two synthetic neighbourhoods over in-memory signature frames:
``giant`` is one near-dup cluster of N docs that one upserted doc
joins; ``small`` is N/4 clusters of 4 docs, each joined by one
upserted doc. Each point is the median of three alternating runs.

Usage: python tools/delta_closure_ceiling.py [N ...]
"""
from __future__ import annotations

import gc
import os
import sys
import time
import tracemalloc

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def frames(spark, shape: str, n: int):
    from pyspark.sql import functions as F

    n_new = 1 if shape == "giant" else n // 4
    doc = F.col("doc_id")
    if shape == "giant":
        cluster, comp = F.lit(0), F.lit(0)
    else:
        cluster = F.when(doc < n, doc / 4).otherwise(doc - n).cast("bigint")
        comp = (doc / 4).cast("bigint") * 4
    sig = (spark.range(n + n_new).withColumnRenamed("id", "doc_id")
           .select("doc_id", *[(cluster * 16 + j + 1).cast("bigint")
                               .alias(f"h{j}") for j in range(8)])
           .repartition(8).persist())
    prior = (sig.filter(doc < n)
             .select("doc_id", comp.cast("bigint").alias("comp")).persist())
    new_ids = sig.filter(doc >= n).select("doc_id").persist()
    for f in (sig, prior, new_ids):
        f.count()
    counts = (n - 1, 1) if shape == "giant" else (n - n // 4, n // 4)
    return sig, prior, new_ids, n_new, counts


def run(engine, sig, prior, new_ids, n_new, counts, trace=False):
    from messdb_spark.queries import graph as G

    G._DELTA_DRIVER_MAX = 0 if engine == "spark" else 10 ** 9
    stats: dict = {}
    gc.collect()
    if trace:
        tracemalloc.start()
    t = time.perf_counter()
    labels = G.delta_local_labels(sig, new_ids, prior, n_new, counts,
                                  stats=stats, warm=True, pinned=[])
    labels.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t
    peak = tracemalloc.get_traced_memory()[1] / 2 ** 20 if trace else None
    if trace:
        tracemalloc.stop()
    assert stats["cc_engine"] == engine, stats
    return dt, peak, stats["cc_input_docs"]


def main() -> None:
    from messdb_spark.session import get_spark

    sizes = [int(a) for a in sys.argv[1:]] or [2000, 10000, 24000, 50000]
    spark = get_spark("delta_closure_ceiling")
    for shape in ("giant", "small"):
        for n in sizes:
            fr = frames(spark, shape, n)
            times: dict = {"driver": [], "spark": []}
            for rep in range(3):
                order = ("driver", "spark") if rep % 2 == 0 else \
                    ("spark", "driver")
                for engine in order:
                    times[engine].append(run(engine, *fr)[0])
            _, peak, docs = run("driver", *fr, trace=True)
            print(f"{shape:5s} docs={docs:6d} band_rows={4 * docs:7d} "
                  f"driver={sorted(times['driver'])[1]:.2f}s "
                  f"spark={sorted(times['spark'])[1]:.2f}s "
                  f"driver_py_peak={peak:.0f}MiB", flush=True)
            for f in fr[:3]:
                f.unpersist()


if __name__ == "__main__":
    main()
