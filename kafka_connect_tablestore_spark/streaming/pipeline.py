"""Structured Streaming front-end (SURVEY §2 S1/S19/S21).

The reference is driven by the Kafka Connect runtime delivering
``put(Collection<SinkRecord>)`` batches (``TableStoreSinkTask.java:106-122``);
our equivalent is Structured Streaming delivering micro-batches into
``foreachBatch``, with the checkpoint directory owning source progress and
the LakeTable's batch manifest owning sink idempotency — together: end-to-end
exactly-once (at-least-once redelivery from the checkpoint × idempotent
batch_id commit = effectively-once).

The seven persisted indexes apply the same rule through one per-batch
driver, :func:`_index_stream`: each stream supplies only its ``step``, and
states next to it why that step is safe to re-run after a crash.

In production the source line is ``spark.readStream.format("kafka")``; tests
use a file-stream source over the same change-log schema (no Kafka broker in
the sandbox), which exercises identical semantics.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafka_connect_tablestore_spark.engine import CdcEngine

# the params sidecar guard lives on the index API itself (the batch
# build/probe/append functions call it too — the hazard it closes is not
# streaming-specific); the streams validate-or-freeze before touching
# any per-batch state
from kafka_connect_tablestore_spark.operators.index_maint import (
    ensure_index_params as _ensure_index_params,
    write_json_atomic,
)


def _manifest_io(manifest_dir: str):
    """The sidecar batch-manifest protocol, defined ONCE for every stream:
    ``committed(batch_id)`` tests for ``<dir>/<batch_id>.json``;
    ``commit(batch_id, **fields)`` writes it through ``write_json_atomic``
    with ``batch_id`` plus the stream's own payload fields."""

    def _marker(batch_id: int) -> str:
        return os.path.join(manifest_dir, f"{batch_id}.json")

    def committed(batch_id: int) -> bool:
        return os.path.exists(_marker(batch_id))

    def commit(batch_id: int, **fields) -> None:
        write_json_atomic(_marker(batch_id), {"batch_id": batch_id, **fields})

    return committed, commit


def _start_query(
    stream_df: DataFrame,
    apply,
    checkpoint_dir: str,
    query_name: str,
    available_now: bool,
    processing_time: str | None,
) -> StreamingQuery:
    """The shared writeStream tail: foreachBatch + checkpoint + trigger."""
    if available_now and processing_time:
        raise ValueError(
            "pass either processing_time (continuous trigger) with "
            "available_now=False, or available_now=True (drain once) — "
            "available_now would silently win and the stream would stop "
            "after one drain instead of running every interval"
        )
    writer = (
        stream_df.writeStream.foreachBatch(apply)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()



def start_cdc_stream(
    events_stream: DataFrame,
    engine: CdcEngine,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
    processing_time: str | None = None,
    query_name: str = "cdc-ingest",
) -> StreamingQuery:
    """Wire a streaming change-log DataFrame into the CDC engine.

    ``foreachBatch`` batch_ids are stable across restarts for the same
    checkpoint, so a batch replayed after a crash hits the LakeTable's
    committed-manifest skip (exactly-once upgrade of S19).

    The lake batch id is namespaced by ``query_name``
    (``<query_name>-<batch_id>``): two streams feeding one engine — or an
    entry-point migration that restarts foreachBatch ids at 0 under a
    fresh checkpoint — must not collide in the table's committed-batch
    ledger, where a collision reads as "already committed" and silently
    drops the new batch.  Keep ``query_name`` stable across restarts of
    the SAME stream (it is the idempotency namespace), and distinct
    across different streams.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        engine.apply_batch(batch_df, f"{query_name}-{batch_id}")

    return _start_query(
        events_stream, _apply, checkpoint_dir, query_name, available_now, processing_time
    )


def kafka_source_plan(spark, bootstrap: str, topic: str) -> DataFrame:
    """The production source line (documented; no broker in the sandbox).

    Returns a streaming DataFrame with the engine's envelope columns from a
    Kafka topic carrying JSON change events.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    payload = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("commit", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("content", T.StringType()),
        ]
    )
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )
    return raw.select(
        F.col("topic"),
        F.col("partition"),
        F.col("offset"),
        F.unix_millis(F.col("timestamp")).alias("commit_ts"),
        F.from_json(F.col("value").cast("string"), payload).alias("v"),
    ).select("topic", "partition", "offset", "commit_ts", "v.*")



def _index_stream(index_path: str, cols, count_key: str, empty: dict, step):
    """The ``foreachBatch`` function every index stream runs.  It owns the
    steps the streams share:

    1. return at once if ``<index>.batches/<batch_id>.json`` exists (a
       checkpoint-replayed batch that already committed);
    2. pin the batch's ``cols`` with ``localCheckpoint(eager=True)`` and
       count them, so the stream's work reads one materialized copy;
    3. an empty batch commits ``empty`` and touches nothing else; otherwise
       ``step(rows, n, batch_id)`` does the stream's own work and returns
       its marker fields;
    4. commit ``{"batch_id", count_key: n, **fields}`` through the
       manifest.

    A crash anywhere before step 4 re-delivers the batch and re-runs
    ``step`` from the top, so a ``step`` must give the clean run's output
    when re-run after a crash at any of its own writes.  Each stream
    states why its ``step`` does, next to it."""
    committed, commit = _manifest_io(index_path.rstrip("/") + ".batches")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if committed(batch_id):
            return
        rows = batch_df.select(*cols).localCheckpoint(eager=True)
        n = rows.count()
        fields = step(rows, n, batch_id) if n else empty
        commit(batch_id, **{count_key: n, **fields})

    return _apply


def _slice_dir(root: str, batch_id: int) -> str:
    return os.path.join(root, f"batch_id={batch_id}")


def _read_json(path: str):
    with open(path) as f:
        return json.load(f)


def _require_first_batch(n: int, need: int, name: str, trains: str) -> None:
    """Refuse a batch 0 too small to train the index's quantizer: training
    fewer centroids than asked would permanently cripple the index (every
    later vector squeezes into the few cells batch 0 happened to carry)."""
    if n < need:
        raise ValueError(
            f"first micro-batch must carry at least {name}={need} vectors to "
            f"train {trains} (got {n}); lower {name} or enlarge batch 0"
        )


def start_lsh_index_stream(
    docs_stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
    available_now: bool = True,
    processing_time: str | None = None,
    query_name: str = "lsh-index-ingest",
) -> StreamingQuery:
    """Maintain the persisted MinHash-LSH index from a document stream.

    Per micro-batch: write every candidate near-dup pair the batch forms
    against the indexed corpus and within itself
    (``incremental_lsh_pairs``; first batch: ``minhash_lsh_pairs``) to
    ``pairs_path/batch_id=N`` with ``overwrite``, then append the batch's
    banded signature rows (first batch: ``build_lsh_index``).  Marker
    fields: ``n_docs``, ``n_pairs``.

    Crash safety: a replay after the append re-appends the batch's rows.
    Duplicate index rows cost only space — pair emission ends in
    ``.distinct()`` with (min, max)-id orientation, so a batch probed
    against an index that already holds its own rows emits the identical
    pair set.  The union of the pair slices therefore equals the
    full-corpus ``minhash_lsh_pairs`` restricted to arrived docs, each pair
    emitted once, by the micro-batch that completes it.  Per-batch cost is
    one broadcast of the batch's banded rows against a band-partitioned
    index scan; the corpus text is never re-read."""
    from kafka_connect_tablestore_spark.operators.dedup import (
        append_to_lsh_index,
        build_lsh_index,
        incremental_lsh_pairs,
        minhash_lsh_pairs,
    )

    def step(docs: DataFrame, n: int, batch_id: int) -> dict:
        spark = docs.sparkSession
        _ensure_index_params(index_path, {"n_hashes": n_hashes, "bands": bands})
        grow = os.path.exists(index_path)
        if grow:
            pairs = incremental_lsh_pairs(
                spark, index_path, docs, text_col, id_col, n_hashes, bands
            )
        else:
            pairs = minhash_lsh_pairs(docs, text_col, id_col, n_hashes, bands)
        slice_dir = _slice_dir(pairs_path, batch_id)
        pairs.write.mode("overwrite").parquet(slice_dir)
        n_pairs = spark.read.parquet(slice_dir).count()
        (append_to_lsh_index if grow else build_lsh_index)(
            docs, index_path, text_col, id_col, n_hashes, bands
        )
        return {"n_pairs": n_pairs}

    _apply = _index_stream(
        index_path, (id_col, text_col), "n_docs", {"n_pairs": 0}, step
    )
    return _start_query(
        docs_stream, _apply, checkpoint_dir, query_name, available_now, processing_time
    )


def start_chunk_index_stream(
    docs_stream: DataFrame,
    index_path: str,
    dedup_path: str,
    checkpoint_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 16,
    n_buckets: int = 64,
    available_now: bool = True,
    processing_time: str | None = None,
    query_name: str = "chunk-index-ingest",
) -> StreamingQuery:
    """Maintain the persisted chunk-fingerprint index from a document
    stream — the streaming twin of the multi-day ``incremental_chunk_dedup``
    loop.

    Per micro-batch: dedupe the batch's chunks against the index (plus
    within-batch first occurrences), write the per-doc result to
    ``dedup_path/batch_id=N`` with ``overwrite``, then append the surviving
    fingerprints to the index (first batch: ``build_chunk_index``).  Marker
    field: ``n_docs``.

    Crash safety: a replay after the append re-appends the batch's
    fingerprint rows, which cost space, never correctness — the probe
    EXCLUDES index rows owned by the batch's own ids before forming its hit
    set (so the replay's verdicts equal the original run's), and the hit
    set is ``.distinct()`` on the fingerprint before the keep decision.
    PRECONDITION inherited from the batch operator: ids arrive in monotone
    order across batches for exact equality with the full-corpus
    recompute."""
    from kafka_connect_tablestore_spark.operators.corpus import (
        append_to_chunk_index,
        build_chunk_index,
        chunk_dedup,
        incremental_chunk_dedup,
    )

    def step(docs: DataFrame, n: int, batch_id: int) -> dict:
        _ensure_index_params(
            index_path, {"chunk_words": chunk_words, "n_buckets": n_buckets}
        )
        slice_dir = _slice_dir(dedup_path, batch_id)
        if os.path.exists(index_path):
            per_doc, kept = incremental_chunk_dedup(
                docs.sparkSession, index_path, docs, text_col, id_col,
                chunk_words, n_buckets,
            )
            per_doc.write.mode("overwrite").parquet(slice_dir)
            append_to_chunk_index(kept, index_path)
        else:
            # batch 0 chunks the docs twice (the verdict aggregate and the
            # index build each walk _chunk_rows) — a bootstrap-only cost;
            # every later batch shares one probe pass via
            # incremental_chunk_dedup's checkpointed `marked` frame
            chunk_dedup(docs, text_col, id_col, chunk_words).write.mode(
                "overwrite"
            ).parquet(slice_dir)
            build_chunk_index(docs, index_path, text_col, id_col,
                              chunk_words, n_buckets)
        return {}

    _apply = _index_stream(index_path, (id_col, text_col), "n_docs", {}, step)
    return _start_query(
        docs_stream, _apply, checkpoint_dir, query_name, available_now, processing_time
    )


def start_fingerprint_index_stream(
    docs_stream: DataFrame,
    index_path: str,
    verdicts_path: str,
    checkpoint_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    available_now: bool = True,
    processing_time: str | None = None,
    query_name: str = "fingerprint-index-ingest",
) -> StreamingQuery:
    """Maintain the persisted exact-dedup fingerprint index from a document
    stream — the streaming twin of the multi-day ``incremental_dedup_exact``
    loop, and the first gate a daily crawl ingest hits.

    Per micro-batch: dedup the batch against the index plus within-batch
    first occurrences, write per-doc ``(id, fp, kept)`` verdicts to
    ``verdicts_path/batch_id=N`` with ``overwrite``, then append the
    surviving fingerprints to the index (first batch:
    ``build_fingerprint_index``).  Marker fields: ``n_docs``, ``n_kept``.

    Crash safety: a replay after the append re-appends fingerprint rows,
    which cost space, never correctness — the probe EXCLUDES index rows
    owned by the batch's own ids before forming its hit set (replay
    verdicts equal the original run's), and distincts the hit set before
    the keep decision.  PRECONDITION inherited from the batch operator:
    monotone ids across batches for exact equality with ``dedup_exact`` on
    the full corpus."""
    from pyspark.sql import Window

    from kafka_connect_tablestore_spark.functions.text import doc_fingerprint
    from kafka_connect_tablestore_spark.operators.dedup import (
        append_to_fingerprint_index,
        build_fingerprint_index,
        incremental_dedup_exact,
    )

    def step(docs: DataFrame, n: int, batch_id: int) -> dict:
        _ensure_index_params(index_path, {"n_buckets": n_buckets})
        grow = os.path.exists(index_path)
        if grow:
            verdicts, kept = incremental_dedup_exact(
                docs.sparkSession, index_path, docs, text_col, id_col, n_buckets
            )
        else:
            # first batch: within-batch first occurrence wins (the same
            # (fp, id-asc) row_number the incremental probe uses)
            first = Window.partitionBy("fp").orderBy(id_col)
            verdicts = docs.select(
                F.col(id_col), doc_fingerprint(text_col).alias("fp")
            ).withColumn("kept", F.row_number().over(first) == 1)
        verdicts = verdicts.localCheckpoint(eager=True)
        verdicts.write.mode("overwrite").parquet(_slice_dir(verdicts_path, batch_id))
        if grow:
            append_to_fingerprint_index(kept, index_path)
        else:
            build_fingerprint_index(docs, index_path, text_col, id_col, n_buckets)
        return {"n_kept": verdicts.where("kept").count()}

    _apply = _index_stream(
        index_path, (id_col, text_col), "n_docs", {"n_kept": 0}, step
    )
    return _start_query(
        docs_stream, _apply, checkpoint_dir, query_name, available_now, processing_time
    )


def start_semantic_index_stream(
    vecs_stream: DataFrame,
    index_path: str,
    verdicts_path: str,
    checkpoint_dir: str,
    *,
    threshold: float = 0.9,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
    processing_time: str | None = None,
    query_name: str = "semantic-index-ingest",
) -> StreamingQuery:
    """Maintain the persisted SemDeDup survivor index from an embedding
    stream.

    Per micro-batch: compute every new vector's verdict against the index
    and the batch itself (``incremental_semantic_dedup``; first batch:
    plain ``semantic_dedup``), write it to ``verdicts_path/batch_id=N``
    with ``overwrite``, then append the batch's SURVIVOR rows in index
    format (first batch: ``build_semantic_index``, whose 'first'-trained
    centroids are frozen in the ``<index>.centroids.json`` sidecar — the
    query-side contract every later batch reuses).  Marker fields:
    ``n_vecs``, ``n_survivors``.  The protocol and its crash-safety
    argument live on :func:`_make_semantic_apply`."""
    _apply = _make_semantic_apply(
        index_path, verdicts_path, threshold, n_cells, id_col, vec_col
    )

    return _start_query(
        vecs_stream, _apply, checkpoint_dir, query_name, available_now, processing_time
    )


def _make_semantic_apply(
    index_path: str,
    verdicts_path: str,
    threshold: float,
    n_cells: int,
    id_col: str,
    vec_col: str,
):
    """Build the per-micro-batch apply function for the semantic index
    stream (module-level so the batch-0 guard ordering is directly
    testable).

    Crash safety: a replay after the append re-probes an index that already
    holds this batch's survivors, then re-appends them.  The probe's id
    self-exclusion makes the re-probe exact (a vector's own index copy
    never dominates it at cosine 1.0; every other contaminating copy is an
    original-run survivor, which only dominates vectors the original run
    killed anyway).  The duplicate survivor rows cost space, never
    correctness: dominance is an ANY-match against same-cell index
    survivors.  A batch 0 that crashed before its centroids sidecar landed
    has no sidecar, so its replay rebuilds the index from scratch.  Under
    the monotone-id ingest precondition the union of verdict slices equals
    full-corpus ``semantic_dedup`` restricted to arrived ids — the greedy
    scan is prefix-stable (the ``incremental_semantic_dedup`` docstring
    carries the proof sketch).

    Batch 0 runs the greedy fixpoint twice (once for verdicts, once inside
    ``build_semantic_index``) — bounded, one-time, and kept in exchange for
    a single authoritative writer of the index row format."""
    from kafka_connect_tablestore_spark.operators.similarity import (
        append_to_semantic_index,
        build_semantic_index,
        incremental_semantic_dedup,
        semantic_dedup,
    )

    centroids_file = index_path.rstrip("/") + ".centroids.json"

    def step(vecs: DataFrame, n_vecs: int, batch_id: int) -> dict:
        spark = vecs.sparkSession
        slice_dir = _slice_dir(verdicts_path, batch_id)
        if os.path.exists(centroids_file):
            # validate against the frozen sidecar (batch 0 wrote it AFTER
            # its own guards passed — freezing before the batch-0 n_vecs
            # check would leave a sidecar for an index that was never
            # built, and following the error's own advice then tripped a
            # bogus params-mismatch)
            _ensure_index_params(
                index_path, {"threshold": threshold, "n_cells": n_cells}
            )
            per_vec, kept = incremental_semantic_dedup(
                spark, index_path, _read_json(centroids_file), vecs, threshold,
                id_col=id_col, vec_col=vec_col,
            )
            (per_vec.select(id_col, "is_survivor")
             .write.mode("overwrite").parquet(slice_dir))
            n_surv = kept.count()
            append_to_semantic_index(kept, index_path)
        else:
            _require_first_batch(n_vecs, n_cells, "n_cells", "the cell centroids")
            # no pre-freeze here: build_semantic_index below writes the
            # params sidecar itself (overwrite=True) — the guard above
            # guarantees len(centroids) == n_cells so the incremental
            # branch's validation matches on every later batch
            per_vec = semantic_dedup(
                vecs, threshold, n_cells, id_col, vec_col, train="first"
            )
            (per_vec.select(id_col, "is_survivor")
             .write.mode("overwrite").parquet(slice_dir))
            centroids = build_semantic_index(
                vecs, index_path, threshold, n_cells,
                id_col=id_col, vec_col=vec_col, train="first",
            )
            write_json_atomic(centroids_file, centroids)
            n_surv = spark.read.parquet(slice_dir).where("is_survivor").count()
        return {"n_survivors": n_surv}

    return _index_stream(
        index_path, (id_col, vec_col), "n_vecs", {"n_survivors": 0}, step
    )


def start_view_maintenance_stream(
    events_stream: DataFrame,
    engine: CdcEngine,
    view_path: str,
    checkpoint_dir: str,
    *,
    group_cols: tuple[str, ...] = ("repo", "lang"),
    size_col: str = "content",
    available_now: bool = True,
    processing_time: str | None = None,
    query_name: str = "cdc-view-maintenance",
) -> StreamingQuery:
    """Ingest a change-event stream AND keep a grouped (row count, byte sum)
    materialized view current, per micro-batch, without ever re-aggregating
    the base table — the streaming leg of
    ``operators/changefeed.py::maintain_aggregate``.

    Per micro-batch, in order:

    1. ingest: ``engine.apply_batch`` (idempotent via the lake's batch
       manifest — a checkpoint-replayed batch is skipped and returns its
       original manifest, including the version it committed);
    2. delta: the lake changefeed between the pre- and post-batch versions,
       pre-image included, PRUNED to the manifest's ``touched_buckets`` —
       per-batch cost is proportional to the batch, never the table;
    3. view: ``maintain_aggregate`` applies retract/assert rows to the
       previous persisted view and writes the result to
       ``view_path/v{version}`` with ``overwrite`` (replay rewrites, never
       double-applies);
    4. commit: the batch id lands in a sidecar manifest (tmp + rename), so
       a crash between 3 and 4 just replays an idempotent overwrite.

    The view at version V always equals ``GROUP BY`` over the table read at
    version V — the equality the batch tests prove and this stream carries
    across micro-batches.
    """
    import os

    from pyspark.sql import functions as F

    from kafka_connect_tablestore_spark.operators.changefeed import (
        maintain_aggregate,
    )

    manifest_dir = view_path.rstrip("/") + ".batches"

    def _view_dir(version: int) -> str:
        return os.path.join(view_path, f"v{version:06d}")

    _committed, _commit = _manifest_io(manifest_dir)

    def _aggregate(state: DataFrame) -> DataFrame:
        return state.groupBy(*group_cols).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.coalesce(F.length(size_col), F.lit(0)))
            .cast("long")
            .alias("content_bytes"),
        )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if _committed(batch_id):
            return
        spark = batch_df.sparkSession
        manifest = engine.apply_batch(batch_df, f"{query_name}-{batch_id}")
        v_after = manifest.get("committed_at_version")
        if v_after is None:
            # merge_batch always assigns a version (even an all-errant
            # batch commits an empty clean frame), so a missing version
            # means `engine` is not a single-table CdcEngine (e.g. a
            # MultiTableEngine's dict-of-manifests) — committing a no-op
            # here would silently disable view maintenance forever
            raise TypeError(
                "view maintenance requires a single-table engine whose "
                "apply_batch manifest carries committed_at_version; got "
                f"manifest keys {sorted(manifest)}"
            )
        v_before = v_after - 1
        prev_dir = _view_dir(v_before)
        changes = engine.table.changefeed(
            v_before,
            v_after,
            include_old=True,
            buckets=manifest.get("touched_buckets"),
        )
        if os.path.exists(prev_dir):
            base = spark.read.parquet(prev_dir)
        else:
            # stream bootstrap: aggregate the pre-stream state ONCE; every
            # later batch reads the persisted view.  A snapshot missing a
            # view column (version-0 pk-only, or a column added later by
            # schema evolution) aggregates with the absent columns as typed
            # nulls — exactly what a recompute at that version produces.
            # An empty base is only ever the aggregate OF an empty snapshot,
            # never a silent drop of pre-stream rows.
            state0 = engine.table.read(version=v_before)
            have = set(state0.columns)
            delta_types = {f.name: f.dataType for f in changes.schema.fields}
            proj = [
                F.col(c) if c in have
                else F.lit(None).cast(delta_types[c]).alias(c)
                for c in (*group_cols, size_col)
                if c in have or c in delta_types
            ]
            missing = [
                c for c in (*group_cols, size_col)
                if c not in have and c not in delta_types
            ]
            if missing:
                raise ValueError(
                    f"view columns {missing} absent from both the v{v_before} "
                    "snapshot and the changefeed schema"
                )
            base = _aggregate(state0.select(*proj))
        view = maintain_aggregate(base, changes, group_cols, size_col)
        out_dir = _view_dir(v_after)
        view.write.mode("overwrite").parquet(out_dir)
        n_groups = spark.read.parquet(out_dir).count()
        _commit(batch_id, version=v_after, n_groups=n_groups)

    return _start_query(
        events_stream, _apply, checkpoint_dir, query_name, available_now, processing_time
    )


def _make_bloom_apply(
    index_path: str,
    verdicts_path: str,
    m_bits: int,
    k: int,
    text_col: str,
    id_col: str,
):
    """Build the per-micro-batch apply function for the Bloom index stream
    (module-level so the crash-replay protocol is directly testable).

    Crash safety: the append is idempotent under OR, but the PROBE is not
    replay-safe against an index that already holds this batch's own bits
    (every doc would flag ``maybe_in_prior`` against itself, and bits carry
    no ids to exclude, unlike the fingerprint/chunk/semantic probes).  The
    verdict slice is therefore the staged commit point: the index is only
    appended AFTER the slice is written and an explicit staged marker
    ``<verdicts>.staged/<batch_id>.marker`` is durable.  The slice's Spark
    ``_SUCCESS`` file is honoured too, for indexes staged by older builds,
    but is not relied on: clusters running
    ``mapreduce.fileoutputcommitter.marksuccessfuljobs=false`` never write
    it.  A replay that finds either skips the probe entirely — it writes
    the marker if it was missing, re-derives the batch's bits map-only
    (never reading the index), re-ORs them and reuses the durable
    verdicts.  Every crash window is safe:
    before the marker the index is untouched (clean recompute); after it
    the probe never runs again.  On batch 0 the index does not exist
    before its ``.meta`` sidecar lands, so a replay rebuilds it."""
    from kafka_connect_tablestore_spark.functions.text import doc_fingerprint
    from kafka_connect_tablestore_spark.operators.dedup import (
        _bloom_meta,
        append_to_bloom_index,
        build_bloom_bitset,
        build_bloom_index,
        incremental_bloom_dedup,
    )

    staged_dir = verdicts_path.rstrip("/") + ".staged"

    def step(docs: DataFrame, n: int, batch_id: int) -> dict:
        spark = docs.sparkSession
        slice_dir = _slice_dir(verdicts_path, batch_id)
        marker = os.path.join(staged_dir, f"{batch_id}.marker")

        def _stage(verdicts: DataFrame) -> DataFrame:
            verdicts = verdicts.localCheckpoint(eager=True)
            verdicts.write.mode("overwrite").parquet(slice_dir)
            write_json_atomic(marker, batch_id)
            return verdicts

        if not os.path.exists(index_path.rstrip("/") + ".meta"):
            _stage(docs.select(
                F.col(id_col),
                doc_fingerprint(text_col).alias("fp"),
                F.lit(False).alias("maybe_in_prior"),
            ))
            build_bloom_index(docs, index_path, m_bits, k, text_col)
            return {"n_flagged": 0}
        m_bits_idx, k_idx = _bloom_meta(index_path)
        if os.path.exists(marker) or os.path.exists(
            os.path.join(slice_dir, "_SUCCESS")
        ):
            # crash-replay after staging: re-OR the batch's bits, reuse the
            # durable verdicts, and record the stage if only _SUCCESS did
            write_json_atomic(marker, batch_id)
            new_bits = build_bloom_bitset(docs, m_bits_idx, k_idx, text_col)
            verdicts = spark.read.parquet(slice_dir)
        else:
            # validate-or-freeze like every other stream: a restart under a
            # different (m_bits, k) would silently probe with the OLD
            # position math while the operator believes the filter was
            # resized — refuse with both parameter sets named
            if (m_bits_idx, k_idx) != (m_bits, k):
                raise ValueError(
                    f"bloom index at {index_path} was built with "
                    f"m_bits={m_bits_idx}, k={k_idx}; the stream was "
                    f"restarted with m_bits={m_bits}, k={k} — rebuild at a "
                    "fresh index path to change the filter geometry"
                )
            verdicts, new_bits = incremental_bloom_dedup(
                spark, index_path, docs, text_col, id_col
            )
            verdicts = _stage(verdicts)
        append_to_bloom_index(new_bits, index_path)
        return {"n_flagged": verdicts.where("maybe_in_prior").count()}

    return _index_stream(
        index_path, (id_col, text_col), "n_docs", {"n_flagged": 0}, step
    )


def start_bloom_index_stream(
    docs_stream: DataFrame,
    index_path: str,
    verdicts_path: str,
    checkpoint_dir: str,
    *,
    m_bits: int = 1 << 22,
    k: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
    processing_time: str | None = None,
    query_name: str = "bloom-index-ingest",
) -> StreamingQuery:
    """Maintain the persisted Bloom bitset index from a document stream —
    the streaming twin of the ``incremental_bloom_dedup`` loop.

    Per micro-batch: probe the index (first batch: everything is
    definitely-new), write per-doc ``(id, fp, maybe_in_prior)`` verdicts to
    ``verdicts_path/batch_id=N`` with ``overwrite``, stage them, then append
    the batch's bitset rows.  Marker fields: ``n_docs``, ``n_flagged``.
    The staged replay protocol lives on :func:`_make_bloom_apply`.  Unlike
    the fingerprint index there is NO monotone-id precondition: the bitset
    is a set of content bits, blind to ids and arrival order."""
    _apply = _make_bloom_apply(
        index_path, verdicts_path, m_bits, k, text_col, id_col
    )

    return _start_query(
        docs_stream, _apply, checkpoint_dir, query_name, available_now, processing_time
    )


def _first_vectors(vecs: DataFrame, k: int, id_col: str, vec_col: str) -> list:
    """The deterministic 'first' trainer: the ``k`` smallest-id vectors."""
    return [
        [float(x) for x in r[vec_col]]
        for r in vecs.orderBy(id_col).limit(k).collect()
    ]


def _overwrite_cells(rows: DataFrame, batch_id: int, index_path: str) -> None:
    """Land one batch of IVF-family rows as a dynamic partition overwrite
    of its own ``batch_id=N/cell=C`` slice: a replayed batch rewrites,
    never duplicates, its rows."""
    (
        rows.withColumn("batch_id", F.lit(batch_id))
        .repartition("cell")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "cell")
        .parquet(index_path)
    )


def start_ivf_index_stream(
    vecs_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    *,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
    processing_time: str | None = None,
    query_name: str = "ivf-index-ingest",
) -> StreamingQuery:
    """Maintain the persisted IVF inverted file from an embedding stream
    (:func:`start_ivfpq_index_stream` adds the PQ-coded variant on the same
    coarse layer).  Marker field: ``n_vecs``.

    Batch 0 trains the centroids with the same deterministic 'first' rule
    as ``build_ivf_index(train='first')`` (the first ``n_cells`` vectors by
    id) and freezes them in the ``<index>.centroids.json`` sidecar — the
    query-side contract every later batch and every probe reuses.  Under
    the monotone-id ingest precondition (day 0 holds the smallest ids)
    those are the same vectors the one-shot batch build would pick, so the
    streamed index is content-equal to ``build_ivf_index`` +
    ``append_to_ivf_index`` over the same slices.

    Crash safety is STRUCTURAL here, not manifest-dependent: unlike the
    OR-idempotent Bloom bitset or the ANY-match semantic survivors, a
    duplicated IVF row would occupy a second top-k rank slot at probe time,
    so blind re-append on replay is NOT safe.  Each batch therefore lands
    through :func:`_overwrite_cells` (the manifest remains a fast-skip),
    and a replayed batch 0 re-derives the same centroids from the same
    rows.  Partition pruning on ``cell`` is unaffected by the extra
    ``batch_id`` level: ``ann_ivf_indexed_topk``'s probed-cell filter still
    prunes to the probed directories."""
    from kafka_connect_tablestore_spark.operators.similarity import (
        _norm,
        ivf_assign,
    )

    centroids_file = index_path.rstrip("/") + ".centroids.json"

    def step(vecs: DataFrame, n_vecs: int, batch_id: int) -> dict:
        if os.path.exists(centroids_file):
            centroids = _read_json(centroids_file)
            if len(centroids) != n_cells:
                raise ValueError(
                    f"ivf stream n_cells={n_cells} does not match the "
                    f"persisted index ({len(centroids)} centroids); restart "
                    "with the index's parameters"
                )
        else:
            _require_first_batch(n_vecs, n_cells, "n_cells", "the coarse quantizer")
            centroids = _first_vectors(vecs, n_cells, id_col, vec_col)
            write_json_atomic(centroids_file, centroids)
        d0 = len(vecs.select(vec_col).first()[0])
        if d0 != len(centroids[0]):
            # len-mismatched dot products zip_with-truncate silently,
            # assigning rows to essentially arbitrary cells the probe
            # will never find — recall collapses with no error
            raise ValueError(
                f"ivf stream vectors are {d0}-dim but the index centroids "
                f"are {len(centroids[0])}-dim — the embedding model "
                "changed; rebuild the index at a fresh path"
            )
        vd = F.col(vec_col).cast("array<double>")
        _overwrite_cells(
            vecs.select(
                F.col(id_col).alias("neighbor_id"),
                vd.alias("cv"),
                _norm(vd).alias("cn"),
                ivf_assign(F.col(vec_col), centroids).alias("cell"),
            ),
            batch_id,
            index_path,
        )
        return {}

    _apply = _index_stream(index_path, (id_col, vec_col), "n_vecs", {}, step)
    return _start_query(
        vecs_stream, _apply, checkpoint_dir, query_name, available_now, processing_time
    )


def start_ivfpq_index_stream(
    vecs_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    *,
    n_cells: int = 16,
    m: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    encode: str = "residual",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
    processing_time: str | None = None,
    query_name: str = "ivfpq-index-ingest",
) -> StreamingQuery:
    """Maintain the persisted IVFADC (IVF-PQ) index from an embedding
    stream — the production ANN shape.  Marker field: ``n_vecs``.

    Batch 0 trains BOTH quantizer levels with the deterministic 'first'
    rules (coarse centroids = first ``n_cells`` vectors by id; PQ codebooks
    = first ``n_codes`` residuals by id, exactly what
    ``build_ivfpq_index(train='first')`` would pick under the monotone-id
    ingest precondition) and freezes them in the ``<index>.meta.json``
    sidecar — the query-side contract (``ann_ivfpq_indexed_topk``'s
    ``meta``) that every later batch encodes under, unchanged (retraining
    mid-stream would silently re-define every previously stored code).

    Crash safety is structural, exactly as in ``start_ivf_index_stream``
    and for the same reason (a duplicated row steals a top-k rank slot):
    each batch lands through :func:`_overwrite_cells`; the manifest is a
    fast-skip only.  The meta is frozen before batch 0's rows are written,
    and a replayed batch 0 encodes under it."""
    from kafka_connect_tablestore_spark.operators.similarity import (
        _ivfpq_corpus_plan,
    )

    meta_file = index_path.rstrip("/") + ".meta.json"

    def step(vecs: DataFrame, n_vecs: int, batch_id: int) -> dict:
        frozen = os.path.exists(meta_file)
        if frozen:
            meta = _read_json(meta_file)
            centroids, codebooks = meta["centroids"], meta["codebooks"]
            # the persisted meta is the encoding contract; encoding a later
            # batch under different parameters would silently re-define the
            # distance math for every row it writes — reject the mismatch
            got = (encode, m, n_codes, dim, n_cells)
            want = (
                meta.get("encode", encode),
                len(codebooks),
                len(codebooks[0]),
                len(centroids[0]),
                len(centroids),
            )
            if got != want:
                raise ValueError(
                    f"ivfpq stream params (encode, m, n_codes, dim, n_cells)"
                    f"={got} do not match the persisted index meta {want}; "
                    "restart with the index's parameters"
                )
        else:
            _require_first_batch(
                n_vecs, max(n_cells, n_codes), "max(n_cells, n_codes)",
                "both quantizer levels",
            )
            centroids = _first_vectors(vecs, n_cells, id_col, vec_col)
            codebooks = None  # batch 0 trains them inside the encode plan
        d0 = len(vecs.select(vec_col).first()[0])
        if d0 != dim or dim % m != 0:
            # fail fast with the real cause: a wrong `dim` on batch 0
            # would train silently-truncated codebooks and freeze them
            # into the meta (every restart then fails unactionably), and
            # an embedding-model change passes the meta check (params
            # still match each other) while slice/zip_with truncate
            raise ValueError(
                f"ivfpq stream dim={dim} (m={m}) does not match the "
                f"actual vector length {d0} in this batch: dim must equal "
                "the embedding dimension and be divisible by m"
            )
        corpus, codebooks = _ivfpq_corpus_plan(
            vecs, centroids, m, n_codes, dim, id_col, vec_col,
            "first", encode, codebooks=codebooks,
        )
        if not frozen:
            write_json_atomic(
                meta_file,
                {"centroids": centroids, "codebooks": codebooks, "encode": encode},
            )
        _overwrite_cells(corpus, batch_id, index_path)
        return {}

    _apply = _index_stream(index_path, (id_col, vec_col), "n_vecs", {}, step)
    return _start_query(
        vecs_stream, _apply, checkpoint_dir, query_name, available_now, processing_time
    )
