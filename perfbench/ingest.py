"""The ingest workload, ``steady_merge``.

It feeds ``bench.py``'s change-log shape (``synth_changelog`` with 5000
repos x 200 paths, power-law skew 3.0, 30% UPDATE, 8% DELETE) to the engine
through its public API, times each micro-batch, reads back what each batch
committed, and checks the final lake against a DuckDB replay of the log.
"""

from __future__ import annotations

import datetime
import os
import shutil
import threading
import time
from dataclasses import dataclass

import duckdb
from pyspark.sql import functions as F

from kafka_connect_tablestore_spark.config import DeleteMode, SinkConfig
from kafka_connect_tablestore_spark.engine import CdcEngine
from kafka_connect_tablestore_spark.functions.hashing import (
    bucket_of,
    cast_pk_columns,
    content_sha256,
)
from kafka_connect_tablestore_spark.lake.table import SHA_COL
from kafka_connect_tablestore_spark.operators.rowchange import (
    dlq_rows,
    split_errant,
    validate_and_classify,
)
from kafka_connect_tablestore_spark.plans.merge import merge_into_state
from kafka_connect_tablestore_spark.sources.synth import synth_changelog
from kafka_connect_tablestore_spark.streaming.pipeline import start_cdc_stream
from perfbench import checks
from perfbench.harness import Run, log, median, noop, timed, warm_up

SHAPE = dict(n_repos=5000, paths_per_repo=200, skew=3.0, p_update=0.30, p_delete=0.08)
ATTRS = ("commit", "lang", "content")
STREAM_NAME = "steady"
#: a batch's changefeed read is about a third of its commit time, so each
#: timed version is read twice to give the read median as many samples
READ_ROUNDS = 2


@dataclass(frozen=True)
class IngestSizes:
    base_events: int  # log prefix steady_merge's table is pre-built from
    slice_events: int  # events per steady_merge micro-batch
    n_slices: int  # micro-batches made ready; a run uses what its time allows
    p_malformed: float  # steady_merge's share of null-key events
    setup_reps: int
    warm_min: int
    warm_max: int


FULL = IngestSizes(
    base_events=100_000,
    slice_events=20_000,
    n_slices=14,
    p_malformed=0.002,
    setup_reps=3,
    warm_min=3,
    warm_max=6,
)


def _config(cpus: int) -> SinkConfig:
    # bench.py's engine settings
    return SinkConfig(delete_mode=DeleteMode.ROW, n_buckets=max(32, cpus))


def _parquet_files(d) -> list[str]:
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )


def _bytes_written(table, version: int) -> tuple[int, int]:
    """Parquet bytes and files of the bucket dirs new in ``version``."""
    before = table.snapshot(version - 1)["buckets"]
    old = {d for ds in before.values() for d in ds}
    n_bytes = n_files = 0
    for ds in table.snapshot(version)["buckets"].values():
        for d in ds:
            if d in old:
                continue
            for f in _parquet_files(d):
                n_bytes += os.path.getsize(f)
                n_files += 1
    return n_bytes, n_files


def _committed_rows(manifest: dict) -> int:
    return manifest["partitions"]["_global"]["rows"]


def replay_chain(run: Run, table, events, pre_version: int, batch: str) -> dict:
    """Per-layer times of one batch, from replaying ``apply_batch``'s public
    chain and differencing: scan, validate_and_classify, split_errant,
    LakeTable.read, merge_into_state, content_sha256, bucket_of +
    repartition, noop vs real write. Each step's noop run re-runs the steps
    before it, so a layer's time is its step minus the step before; each
    step is the faster of two runs."""
    cfg, tr = table.config, run.tracer
    out = run.work / "chain"

    def step(name, fn) -> float:
        with tr.span(f"chain.{name}", batch=batch):
            return min(timed(fn), timed(fn))

    ev = cast_pk_columns(events, cfg.pk_fields, cfg.pk_types)
    t_scan = step("scan", lambda: noop(ev))
    classified = validate_and_classify(ev, cfg, ATTRS)
    t_cls = step("classify", lambda: noop(classified))
    clean, errant = split_errant(classified)
    n_err = errant.count()
    t_dlq = 0.0
    if n_err:
        t_dlq = step(
            "dlq_write",
            lambda: dlq_rows(errant, cfg).write.mode("overwrite").parquet(str(out / "dlq")),
        )
    target = table.read(include_meta=True, version=pre_version)
    t_read = step("snapshot_read", lambda: noop(target))
    merged = merge_into_state(target, clean, cfg, ATTRS, emit_meta=True)
    t_fold = step("fold", lambda: noop(merged))
    hashed = merged.withColumn(SHA_COL, F.when(~F.col("_deleted"), content_sha256("content")))
    t_sha = step("sha256", lambda: noop(hashed))
    # the engine's observed path treats every bucket as touched
    laid = hashed.withColumn("_bucket", bucket_of(cfg.pk_fields, cfg.n_buckets)).repartition(
        cfg.n_buckets, "_bucket"
    )
    t_exch = step("bucket_exchange", lambda: noop(laid))
    t_write = step(
        "parquet_write",
        lambda: laid.write.mode("overwrite").partitionBy("_bucket").parquet(str(out / "write")),
    )
    folded = merged.count()
    live = merged.where(~F.col("_deleted")).count()
    changed = clean.select(*cfg.pk_fields).distinct().count()
    shutil.rmtree(out, ignore_errors=True)
    return {
        "rowchange.classify_s": t_cls - t_scan,
        "rowchange.errant_rows": n_err,
        "table.dlq_write_s": t_dlq,
        "table.snapshot_read_s": t_read,
        "merge.fold_s": t_fold - t_cls - t_read,
        "merge.rows_folded": folded,
        "merge.useful_ratio": changed / folded if folded else 0.0,
        "hashing.sha256_s": t_sha - t_fold,
        "hashing.sha256_rows": live,
        "table.bucket_exchange_s": t_exch - t_sha,
        "table.parquet_write_s": t_write - t_exch,
    }


def event_log_layers(windows, event_log) -> dict[str, float]:
    """Median per batch, over the timed ``apply_batch`` windows, of the
    Spark figures in the event log."""
    stats = [event_log.window_stats(start, end) for start, end, _ in windows]
    out = {
        f"spark.{k}": median([s[k] for s in stats])
        for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s", "task_skew")
    }
    out["engine.jobs_per_batch"] = median([s["jobs"] for s in stats])
    # after the data-write job: observed lineage, DLQ append, snapshot commit
    out["table.meta_commit_s"] = median([s["tail_s"] for s in stats])
    return out


# --------------------------------------------------------------- steady_merge
class CommitClock:
    """Stands in for the engine inside ``start_cdc_stream``: forwards each
    micro-batch to ``CdcEngine.apply_batch`` and notes when it returned,
    i.e. when the batch's snapshot was committed."""

    def __init__(self, engine: CdcEngine) -> None:
        self.engine = engine
        self.done: dict[int, dict] = {}
        self.cv = threading.Condition()

    def apply_batch(self, batch_df, batch_id: str) -> dict:
        i = int(batch_id.rsplit("-", 1)[1])  # start_cdc_stream's "<name>-<id>"
        t0 = time.time()
        try:
            manifest = self.engine.apply_batch(batch_df, batch_id)
        except BaseException as e:
            with self.cv:
                self.done[i] = {"error": repr(e)}
                self.cv.notify_all()
            raise
        with self.cv:
            self.done[i] = {"start": t0, "end": time.time(), "manifest": manifest}
            self.cv.notify_all()
        return manifest

    def wait_for(self, n: int, query, timeout: float = 150.0) -> dict:
        """Block until ``n`` micro-batches have returned; the last one's
        record. Raises RuntimeError if that batch failed."""
        deadline = time.time() + timeout
        with self.cv:
            while len(self.done) < n:
                if not query.isActive or time.time() > deadline:
                    raise RuntimeError(f"stream stopped before batch {n}: {query.exception()}")
                self.cv.wait(0.2)
            rec = self.done[max(self.done)]
        if "error" in rec:
            raise RuntimeError(f"micro-batch {max(self.done)} failed: {rec['error']}")
        return rec


def _trigger_starts(query) -> dict[int, dict]:
    out = {}
    for p in query.recentProgress:
        if p.numInputRows and "addBatch" in p.durationMs:
            ts = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            out[p.batchId] = {"start": ts.timestamp(), "durations": p.durationMs}
    return out


def steady_merge(run: Run, sizes: IngestSizes = FULL) -> list[tuple[float, float, str]]:
    """The CDC steady state: a table pre-built from a log prefix, then one
    parquet file per micro-batch through ``start_cdc_stream`` (file source,
    ``maxFilesPerTrigger=1``) in a closed loop: the next file is released
    only after the previous batch committed. After the drain the changefeed
    of each timed version is read to a noop sink, ``READ_ROUNDS`` times.
    Returns the timed ``apply_batch`` windows."""
    spark, cfg = run.spark, _config(run.cpus)
    base_dir, tail_dir = run.work / "log", run.work / "tail"
    staging, src, lake = run.work / "staging", run.work / "src", run.work / "lake"
    run.sizes.update(
        base_events=sizes.base_events,
        events_per_batch=sizes.slice_events,
        p_malformed=str(sizes.p_malformed),
    )

    # inputs: the log prefix, and one parquet file per micro-batch
    t0 = time.perf_counter()
    changelog = synth_changelog(
        spark,
        sizes.base_events + sizes.n_slices * sizes.slice_events,
        seed=run.seed,
        slices=run.cpus * 4,
        p_malformed=sizes.p_malformed,
        **SHAPE,
    )
    changelog.where(F.col("offset") < sizes.base_events).write.parquet(str(base_dir))
    slice_of = ((F.col("offset") - sizes.base_events) / sizes.slice_events).cast("int")
    (
        changelog.where(F.col("offset") >= sizes.base_events)
        .withColumn("_slice", slice_of)
        .repartition("_slice")
        .write.partitionBy("_slice")
        .parquet(str(tail_dir))
    )
    os.makedirs(staging)
    for k in range(sizes.n_slices):
        (f,) = _parquet_files(tail_dir / f"_slice={k}")
        os.rename(f, staging / f"{k:04d}.parquet")
    run.sizes["input_s"] = round(time.perf_counter() - t0, 3)

    # set-up: pre-build the table from the prefix, on a fresh lake each time
    engine = None
    for _ in range(sizes.setup_reps):
        shutil.rmtree(lake, ignore_errors=True)
        t0 = time.perf_counter()
        engine = CdcEngine(spark, cfg, str(lake))
        engine.apply_batch(spark.read.parquet(str(base_dir)), "base")
        run.setup_s.append(time.perf_counter() - t0)

    schema = spark.read.parquet(str(base_dir)).schema
    os.makedirs(src)
    clock = CommitClock(engine)
    query = start_cdc_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src)),
        clock,
        str(run.work / "checkpoint"),
        available_now=False,
        query_name=STREAM_NAME,
    )
    released = 0
    jvm = spark.sparkContext._jvm

    def release() -> dict:
        nonlocal released
        name = f"{released:04d}.parquet"
        jvm.java.lang.System.gc()  # start every batch on a collected heap
        os.rename(staging / name, src / name)
        released += 1
        return clock.wait_for(released, query)

    timed_ids: list[int] = []
    try:
        def warm_batch() -> float:
            rec = release()
            return rec["end"] - rec["start"]

        run.warmup_s = warm_up(warm_batch, sizes.warm_min, sizes.warm_max)
        begin = time.time()
        while time.time() - begin < run.seconds and released < sizes.n_slices:
            release()
            timed_ids.append(released - 1)
            run.outcome(True, "micro-batch")
    except RuntimeError:
        log.exception("steady_merge stream failed")
        run.outcome(False, "micro-batch")
    finally:
        # the trigger reports its progress after apply_batch returns
        deadline = time.time() + 30
        while query.isActive and released - 1 not in _trigger_starts(query):
            if time.time() > deadline:
                break
            time.sleep(0.05)
        query.stop()

    starts = _trigger_starts(query)
    windows, n_bytes, n_files, overhead = [], [], [], []
    committed = 0
    for i in timed_ids:
        rec = clock.done[i]
        bid = f"{STREAM_NAME}-{i}"
        windows.append((rec["start"], rec["end"], bid))
        run.tracer.add("engine.apply_batch", rec["start"], rec["end"], bid)
        if i not in starts:
            log.warning("no progress report for micro-batch %d", i)
            continue
        run.op_s.append(rec["end"] - starts[i]["start"])
        d = starts[i]["durations"]
        overhead.append((d["triggerExecution"] - d["addBatch"]) / 1000)
        committed += _committed_rows(rec["manifest"])
        b, f = _bytes_written(engine.table, rec["manifest"]["committed_at_version"])
        n_bytes.append(b)
        n_files.append(f)
    wall = windows[-1][1] - begin if windows else 0.0
    run.sizes.update(timed_batches=len(timed_ids), committed_events=committed)

    # the last warm-up batch's version is read first, untimed; then every
    # timed version READ_ROUNDS times, round-robin
    ok_ids = sorted(i for i, rec in clock.done.items() if "manifest" in rec)
    warm_ids = [i for i in ok_ids if i not in timed_ids][-1:]
    for k, i in enumerate(warm_ids + timed_ids * READ_ROUNDS):
        v = clock.done[i]["manifest"]["committed_at_version"]
        with run.tracer.span("table.changefeed", batch=f"{STREAM_NAME}-{i}"):
            try:
                t = timed(lambda: noop(engine.table.changefeed(v - 1, v)))
                run.outcome(True, "changefeed read")
            except Exception:
                log.exception("changefeed read failed")
                run.outcome(False, "changefeed read")
                continue
        if k >= len(warm_ids):
            run.read_s.append(t)

    con = duckdb.connect()
    files = _parquet_files(base_dir) + _parquet_files(src)
    run.outcome(
        checks.lake_digest(engine.state()) == checks.replay_digest(con, files),
        "lake state after the drain",
    )
    run.outcome(
        checks.dlq_count(engine.table) == checks.malformed_count(con, files),
        "dead-letter rows equal the injected malformed events",
    )

    run.named["events_per_s"] = (committed / wall if wall > 0 else 0.0, "events/s")
    run.named["commit_p50_s"] = (median(run.op_s), "s")
    run.named["read_p50_s"] = (median(run.read_s), "s")
    run.named["write_bytes_per_event"] = (sum(n_bytes) / committed if committed else 0.0, "B/event")
    run.layers["table.bytes_written"] = median(n_bytes)
    run.layers["table.files_written"] = median(n_files)
    run.layers["table.changefeed_read_s"] = median(run.read_s)
    run.layers["streaming.trigger_overhead_s"] = median(overhead)
    if run.traced and timed_ids:
        last = timed_ids[-1]
        v = clock.done[last]["manifest"]["committed_at_version"]
        batch = spark.read.schema(schema).parquet(str(src / f"{last:04d}.parquet"))
        run.layers.update(replay_chain(run, engine.table, batch, v - 1, "chain"))
    return windows
