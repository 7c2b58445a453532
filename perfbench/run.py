"""Layered CDC benchmark: one workload per invocation.

    python3 perfbench/run.py --workload steady_merge --seed 1 --seconds 10 --trace 0

Workloads: ``steady_merge`` (the ingest engine) and ``query_registry``
(registry queries). With ``--trace 0`` the last line of
standard output is a JSON object with the end-to-end metrics; with
``--trace 1`` the Spark event log is on, spans are recorded, and the JSON
carries the per-layer metrics instead. The lines before it name each
workload's own end-to-end figures with their units. A record tagged with
host, versions, seed and sizes, and the spans of a traced run, are written
under ``.perfbench_out/``. Everything the run writes goes under the
repository root; its scratch directory is removed on exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import logging
import os
import shutil
import signal
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import ingest, registry  # noqa: E402  (fails fast without the engine)
from perfbench.harness import Run, median  # noqa: E402
from perfbench.spans import EventLog, Tracer  # noqa: E402

#: workload -> (run it, per-layer figures from its timed windows' event log)
WORKLOADS = {
    "steady_merge": (ingest.steady_merge, ingest.event_log_layers),
    "query_registry": (registry.query_registry, registry.event_log_layers),
}
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "read_p50_s": "s",
    "retained_mb": "MB",
}
PER_LAYER = {
    "streaming.trigger_overhead_s": "s",
    "engine.jobs_per_batch": "count",
    "rowchange.classify_s": "s",
    "rowchange.errant_rows": "count",
    "table.dlq_write_s": "s",
    "table.snapshot_read_s": "s",
    "table.meta_commit_s": "s",
    "table.bucket_exchange_s": "s",
    "table.parquet_write_s": "s",
    "table.bytes_written": "B",
    "table.files_written": "count",
    "table.changefeed_read_s": "s",
    "merge.fold_s": "s",
    "merge.rows_folded": "count",
    "merge.useful_ratio": "ratio",
    "hashing.sha256_s": "s",
    "hashing.sha256_rows": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "spark.task_skew": "ratio",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.run_s": "s",
    "registry.jobs": "count",
    "registry.cdc_s": "s",
    "registry.pipe_s": "s",
    **{
        f"query.{q}.{m}": u
        for q in registry.QUERIES
        for m, u in (("build_s", "s"), ("run_s", "s"), ("jobs", "count"))
    },
    "trace.op_p50_s": "s",
}


def start_spark(work: Path, cpus: int, event_log: bool):
    from pyspark.sql import SparkSession

    tmp = work / "tmp"
    os.makedirs(tmp)
    # PySpark and the JVM put their temporary files here, not in /tmp
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "3g")
        .config("spark.driver.extraJavaOptions", f"-Xms3g -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
    )
    if event_log:
        os.makedirs(work / "eventlog")
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", str(work / "eventlog"))
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def retained_heap_mb(spark) -> float:
    """Driver JVM heap in use after a full GC."""
    gc.collect()  # release the Python side's handles on JVM objects
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    # Spark's ContextCleaner frees the blocks of collected RDDs and
    # shuffles on its own thread; collect again once it has
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def git_sha(root: Path) -> str | None:
    """HEAD's commit, read from ``.git`` without running git; None when the
    tree is not a git checkout."""
    git = root / ".git"
    try:
        head = (git / "HEAD").read_text().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if (git / ref).exists():
            return (git / ref).read_text().strip()
        for line in (git / "packed-refs").read_text().splitlines():
            if line.endswith(" " + ref):
                return line.split()[0]
    except OSError:
        pass
    return None


def execute(workload: str, seed: int, seconds: float, trace: bool, work: Path, cpus: int, sizes=None) -> dict:
    """Run one workload in a fresh Spark and return its result record."""
    fn, log_layers = WORKLOADS[workload]
    spark = start_spark(work, cpus, event_log=trace)
    try:
        run = Run(spark, work, seed, seconds, cpus, Tracer(trace))
        t0 = time.perf_counter()
        windows = fn(run) if sizes is None else fn(run, sizes)
        wall = time.perf_counter() - t0
        retained = retained_heap_mb(spark)
        tags = {
            "workload": workload,
            "seed": seed,
            "seconds": seconds,
            "trace": trace,
            "nproc": cpus,
            "git_sha": git_sha(ROOT),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "sizes": run.sizes,
            "sf": "generated sf0.01 shape" if workload == "query_registry" else None,
        }
    finally:
        stop_spark(spark)

    e2e = {
        "setup_s": median(run.setup_s),
        "op_p50_s": median(run.op_s),
        "read_p50_s": median(run.read_s),
        "retained_mb": retained,
    }
    named = {"setup_s": (e2e["setup_s"], "s"), **run.named, "retained_mb": (retained, "MB")}
    named["failed_frac"] = (run.failed / run.attempted if run.attempted else 1.0, "ratio")
    if trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(run.layers)
        if windows:
            layers.update(log_layers(windows, EventLog.read(str(work / "eventlog"))))
        layers["trace.op_p50_s"] = e2e["op_p50_s"]
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    result = {
        "correct": run.attempted > 0 and run.failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed if run.attempted else 1,
        "metrics": metrics,
    }
    return {
        "tags": tags,
        "named": named,
        "result": result,
        "raw": {
            "wall_s": wall,
            "setup_s": run.setup_s,
            "warmup_s": run.warmup_s,
            "op_s": run.op_s,
            "read_s": run.read_s,
        },
        "tracer": run.tracer,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    logging.basicConfig(level=logging.WARNING, stream=sys.stderr)

    cpus = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(work)
    try:
        rec = execute(args.workload, args.seed, args.seconds, bool(args.trace), work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work.parent)
        except OSError:
            pass

    out = ROOT / ".perfbench_out"
    os.makedirs(out, exist_ok=True)
    stem = out / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    tracer = rec.pop("tracer")
    if args.trace:
        tracer.write(f"{stem}-spans.json")
    with open(f"{stem}.json", "w") as f:
        json.dump(rec, f, indent=1)
    print("# " + json.dumps(rec["tags"]))
    for name, (value, unit) in rec["named"].items():
        print(f"# {args.workload} {name} = {value:.6g} {unit}")
    print(json.dumps(rec["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
