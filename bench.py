"""Benchmark harness (driver contract).

Measures the headline metric from BASELINE.json — change-events/sec
end-to-end (log tail → lake upsert committed) — plus wall-times of the
flagship queries at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1)
on ``local[$SPARK_GRAFT_CPUS]``.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "...", "queries": {...}, "sf": ...}

The CDC ingest input is the deterministic synthetic change log
(``$SPARK_GRAFT_BENCH_EVENTS`` events, default 8,000,000), pre-materialized
to parquet untimed so the timed section is exactly: read log → validate →
fold/MERGE → snapshot commit.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("kcts-bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    if os.path.isdir("/dev/shm"):
        # shuffle spill on tmpfs: a single shared disk is the one resource a
        # real N-executor cluster would NOT share, so local-mode scaling
        # measurements keep shuffle I/O off it
        b = b.config("spark.local.dir", f"/dev/shm/spark-local-{os.getpid()}")
    return b.getOrCreate()


def bench_cdc_ingest(spark, n_events: int, workdir: str) -> tuple[float, float]:
    """Returns (events_per_sec, seconds)."""
    from pyspark.sql import functions as F

    from kafka_connect_tablestore_spark.config import DeleteMode, SinkConfig
    from kafka_connect_tablestore_spark.engine import CdcEngine
    from kafka_connect_tablestore_spark.sources.synth import synth_changelog

    log_dir = os.path.join(workdir, "changelog")
    cpus = spark.sparkContext.defaultParallelism
    synth_changelog(
        spark, n_events, seed=42, n_repos=5000, paths_per_repo=200, slices=cpus * 4
    ).write.mode("overwrite").parquet(log_dir)

    cfg = SinkConfig(
        delete_mode=DeleteMode.ROW,
        n_buckets=max(32, cpus),
        lineage_per_partition=False,  # observe()-based lineage: no extra pass
    )
    events = spark.read.parquet(log_dir)

    # FULL-SIZE warm-up batch (JIT/codegen/scan init) into a throwaway lake —
    # C2 compilation of the whole-stage-codegen paths needs real volume (a
    # small warm batch leaves the first timed trial 2-5x slow); the timed
    # runs then measure steady-state throughput, which is what a
    # long-running streaming ingest actually sees
    warm = CdcEngine(spark, cfg, os.path.join(workdir, "lake-warm"))
    warm.apply_batch(events, "warm-0")
    shutil.rmtree(os.path.join(workdir, "lake-warm"), ignore_errors=True)

    # best-of-N to reject noisy-neighbor interference on the shared sandbox
    trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))
    best = float("inf")
    for k in range(trials):
        lake = os.path.join(workdir, f"lake-{k}")
        engine = CdcEngine(spark, cfg, lake)
        t0 = time.time()
        engine.apply_batch(events, "bench-0")
        best = min(best, time.time() - t0)
        shutil.rmtree(lake, ignore_errors=True)
    return n_events / best, best


def time_query(fn, spark, sf_dir: str, runs: int = 3) -> float:
    """Times the WHOLE query: plan construction + execution.  Construction
    matters — operators with scoped persists (e.g. minhash_lsh_pairs) do
    eager work while building the DataFrame, and timing only the final
    action would hide it.  Best of ``runs``: the first run pays one-time
    codegen/JIT compilation of the operator's expression tree (~10 s for
    the md5-heavy dedup family); steady-state is what a pipeline invoking
    the operator per batch sees."""
    best = float("inf")
    for _ in range(runs):
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    return best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_events = int(os.environ.get("SPARK_GRAFT_BENCH_EVENTS", "8000000"))
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as em

    tmp_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="kcts-bench-", dir=tmp_root)
    queries: dict[str, float] = {}
    try:
        eps, ingest_secs = bench_cdc_ingest(spark, n_events, workdir)
        queries[f"cdc_ingest_{n_events // 1_000_000}m_events"] = round(ingest_secs, 3)

        # the full query registry — every operator the engine claims
        q = em.queries()
        for name in sorted(q):
            queries[name] = round(time_query(q[name], spark, sf_dir), 3)

        out = {
            "metric": "change-events/sec end-to-end (log tail -> lake upsert committed)",
            "value": round(eps, 1),
            "unit": "events/sec",
            "queries": queries,
            "sf": sf_dir,
            "cpus": cpus,
            "n_events": n_events,
        }
        print(json.dumps(out))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
