"""Offline compaction of the persisted incremental indexes.

Every persisted index (MinHash-LSH ``band``, fingerprint/chunk ``bucket``,
IVF / IVF-PQ / semantic-survivor ``cell`` — see the build/append pairs in
operators/dedup.py, operators/corpus.py, operators/similarity.py) grows by
parquet ``append``: one file batch per ingest day, plus harmless duplicate
rows whenever a crash-replay re-appends a batch (the probes are set-shaped
— distinct'd hit sets, ANY-match dominance — so duplicates cost space and
probe time, never correctness; see COVERAGE.md "Crash-replay safety").
After N days an index partition holds ≥ N small files, and the probe-side
partition pruning that makes the indexes cheap starts paying file-listing
and open() overhead per file.  This module is the maintenance half of the
contract: rewrite an index to one (or few) files per partition, dropping
exact-duplicate rows, with probe results bit-identical before and after.

Semantics-preservation argument, per index family:

* fingerprint / chunk (``bucket``): probes distinct the hit set on the
  fingerprint before any keep decision, so removing EXACT duplicate rows
  (same fp/chunk, same owner id — the only kind a replay can create under
  the monotone-id append contract) cannot change any verdict.
* LSH (``band``): candidate pairs are built from (band, key) bucket joins
  and de-duplicated on (doc_a, doc_b); duplicate index rows only duplicate
  candidates that the pair-level distinct collapses anyway.
* IVF / IVF-PQ / semantic (``cell``): the append path enforces id
  disjointness (``_assert_ids_disjoint`` / monotone-id survivor appends),
  so exact duplicates are replay artifacts of an identical batch;
  dominance is ANY-match and top-k ranking keys on (query, neighbor),
  which full-row dedup leaves untouched.

``dropDuplicates()`` here is FULL-ROW — it never merges two rows that
differ in any column, so it is safe even if an index somehow holds two
owners for one fingerprint: both survive, exactly as before compaction.

Crash safety: the compacted copy is fully written to ``<path>.compact.tmp``
before a two-rename swap (``<path>`` → ``<path>.old``, tmp → ``<path>``,
then delete ``.old``).  A crash before the first rename leaves the index
untouched; between the renames, :func:`recover_compaction` restores the
``.old`` copy; after the second, it just removes the leftover ``.old``.
Sidecars (``.meta``, ``.batches`` manifests, centroid/codebook JSONs) live
NEXT TO the index directory, not inside it, so the swap never touches them.

This is an OFFLINE maintenance operation: run it when no probe or append
is in flight (the daily-ingest shape has a natural window between batches).
The streaming drivers in streaming/pipeline.py never call it implicitly.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

#: index family → hive partition column, as written by the build/append
#: pairs (build_lsh_index, build_fingerprint_index, build_chunk_index,
#: build_ivf_index, build_ivfpq_index, build_semantic_index).
INDEX_PARTITION_COLS = {
    "lsh": "band",
    "fingerprint": "bucket",
    "chunk": "bucket",
    "ivf": "cell",
    "ivfpq": "cell",
    "semantic": "cell",
}


def write_json_atomic(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` so a reader sees the old file or
    the whole new one, never a torn write: tmp file, fsync, then
    ``os.replace``.  Every index sidecar goes through here (params,
    centroids, meta, the streams' batch and staged markers).  The fsync
    matters because a marker gates replay and must not be less durable
    than the data it marks; the ``makedirs`` because a sidecar may be the
    first file written under a fresh index path."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def ensure_index_params(
    index_path: str, params: dict, overwrite: bool = False
) -> None:
    """Freeze an index's structural parameters in a ``<index>.params.json``
    sidecar and reject any later mismatch.

    The untrained index families (LSH, chunk, fingerprint, semantic) have
    no artifact whose load doubles as parameter validation (unlike IVF's
    centroids or IVF-PQ's meta), so probing or appending under different
    parameters than the build SILENTLY corrupts results: an LSH probe with
    ``bands=8`` against a 4-band index finds almost nothing and then
    appends 8-band rows into it; a chunk/fingerprint probe under a
    different ``n_buckets`` modulus bucket-prunes true hits away; a
    semantic probe under a different ``threshold`` emits verdicts equal to
    no single-threshold run.  Builders therefore call this with
    ``overwrite=True`` (a rebuild legitimately re-defines the contract,
    exactly as it overwrites the index itself); probe/append paths and the
    streaming wrappers validate-or-freeze.  The sidecar is written by
    :func:`write_json_atomic`."""
    pfile = index_path.rstrip("/") + ".params.json"
    if not overwrite and os.path.exists(pfile):
        with open(pfile) as f:
            saved = json.load(f)
        if saved != params:
            raise ValueError(
                f"index {index_path} was built with parameters {saved}, "
                f"but this call passed {params}; use the index's "
                "parameters or rebuild at a fresh index path"
            )
        return
    write_json_atomic(pfile, dict(sorted(params.items())))


def _data_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        out.extend(
            os.path.join(root, f) for f in files if f.endswith(".parquet")
        )
    return out


def compact_index(
    spark,
    path: str,
    partition_col: str,
    files_per_partition: int = 1,
    collapse_batches: bool = False,
) -> dict:
    """Rewrite a persisted index to ``files_per_partition`` files per
    partition value, dropping exact-duplicate rows.  Returns a stats dict
    ``{files_before, files_after, rows_before, rows_after}``.

    ``files_per_partition > 1`` splits each partition's rows across UP TO
    that many files by a deterministic row hash — for indexes whose
    partitions are so large that one task writing the whole bucket/cell
    becomes the compaction's wall-clock bottleneck (e.g. a fingerprint
    index over 10^10 docs with the default 64 buckets: ~1/64 of the corpus
    through one writer).  Read-side cost is unchanged either way — parquet
    is row-group splittable, so a single large file per partition scans in
    parallel regardless; this knob is about WRITE parallelism, and the
    per-partition file count is approximate (hash placement can merge
    shards).  The split is layout-only: readers list the same hive
    directories either way.

    Stream-maintained IVF/IVF-PQ indexes (``start_ivf_index_stream`` /
    ``start_ivfpq_index_stream``) are written ``partitionBy("batch_id",
    <cell>)`` — the per-batch slice is the unit of the streams' replay
    protocol (dynamic partition overwrite of a crash-replayed batch's own
    slice).  Compaction detects the ``batch_id`` column and PRESERVES that
    layout by default, so a resumed stream keeps appending without hive
    directory conflicts and replay overwrite still targets intact slices.
    To actually merge the one-directory-per-day growth, pass
    ``collapse_batches=True``: all rows are rewritten under the HIGHEST
    on-disk batch_id (one slice), which is safe only when every on-disk
    batch has a committed manifest in ``<path>.batches/`` — re-delivery of
    a committed batch is stopped by the manifest gate, never by the
    overwrite — so that precondition is checked and a missing manifest
    (a write that crashed before its commit marker) raises rather than
    risking that batch re-appending next to its collapsed copy.
    """
    if files_per_partition < 1:
        raise ValueError(
            f"files_per_partition must be >= 1, got {files_per_partition}"
        )
    base = path.rstrip("/")
    old = base + ".old"
    tmp = base + ".compact.tmp"
    if os.path.exists(old):
        raise RuntimeError(
            f"{old} exists — a previous compaction crashed mid-swap; run "
            "recover_compaction(path) before compacting again"
        )
    if os.path.exists(tmp):
        # pre-swap crash leftover: never installed, safe to discard
        shutil.rmtree(tmp)

    df = spark.read.parquet(base)
    if partition_col not in df.columns:
        raise ValueError(
            f"partition column {partition_col!r} not in index schema "
            f"{df.columns} — see INDEX_PARTITION_COLS for the layout map"
        )
    part_cols = [partition_col]
    if "batch_id" in df.columns and "batch_id" != partition_col:
        # stream-maintained layout: batch_id is the leading hive level
        if collapse_batches:
            manifest_dir = base + ".batches"
            on_disk = sorted(
                int(r["batch_id"])
                for r in df.select("batch_id").distinct().collect()
            )
            uncommitted = [
                b
                for b in on_disk
                if not os.path.exists(os.path.join(manifest_dir, f"{b}.json"))
            ]
            if uncommitted:
                raise RuntimeError(
                    f"collapse_batches: batches {uncommitted} have index "
                    f"data but no commit manifest in {manifest_dir} — a "
                    "crashed write may be re-delivered on stream resume "
                    "and would duplicate its collapsed rows; resume the "
                    "stream to completion (or remove the orphan slice) "
                    "before collapsing"
                )
            df = df.withColumn("batch_id", F.lit(on_disk[-1]))
        part_cols = ["batch_id", partition_col]
    files_before = len(_data_files(base))
    rows_before = df.count()
    deduped = df.dropDuplicates()
    if files_per_partition == 1:
        shaped = deduped.repartition(*[F.col(c) for c in part_cols])
    else:
        data_cols = [c for c in deduped.columns if c not in part_cols]
        # oversize the shuffle well past the (partition, shard) combo count
        # so distinct combos rarely hash into the same task (a shared task
        # merges its combos' shards back into one file — harmless, but it
        # defeats the write spreading this knob exists for).  The combo
        # count comes from the hive DIRECTORY names — free, no
        # full-index distinct scan (this path exists precisely for indexes
        # too large for one writer); after collapse_batches it
        # over-estimates (old batch dirs still on disk), which only
        # oversizes the shuffle further — harmless.
        n_vals = _hive_partition_count(base, part_cols)
        n_tasks = max(1, n_vals * files_per_partition * 8)
        shaped = (
            deduped.withColumn(
                "_split",
                F.pmod(F.hash(*data_cols), F.lit(files_per_partition)),
            )
            .repartition(
                n_tasks, *[F.col(c) for c in part_cols], F.col("_split")
            )
            .drop("_split")
        )
    (
        shaped.write.mode("overwrite")
        .partitionBy(*part_cols)
        .parquet(tmp)
    )
    rows_after = spark.read.parquet(tmp).count()
    files_after = len(_data_files(tmp))
    # two-rename swap; recover_compaction handles a crash at any point
    os.rename(base, old)
    os.rename(tmp, base)
    shutil.rmtree(old)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "rows_before": rows_before,
        "rows_after": rows_after,
    }


def _hive_partition_count(base: str, part_cols: list[str]) -> int:
    """Distinct hive partition-value combos, counted from directory names
    (driver-side listdir — no Spark job over the index)."""
    paths = [base]
    for c in part_cols:
        nxt = []
        for p in paths:
            nxt += [
                os.path.join(p, d)
                for d in os.listdir(p)
                if d.startswith(f"{c}=") and os.path.isdir(os.path.join(p, d))
            ]
        paths = nxt
    return max(1, len(paths))


def recover_compaction(path: str) -> str:
    """Repair an index directory after a compaction crashed mid-swap.

    Returns what was done: ``'restored'`` (the swap had removed the live
    index; the ``.old`` copy is renamed back), ``'cleaned'`` (the swap
    completed; the leftover ``.old`` and/or ``.compact.tmp`` are removed),
    or ``'noop'`` (nothing to repair).
    """
    base = path.rstrip("/")
    old = base + ".old"
    tmp = base + ".compact.tmp"
    if os.path.exists(old) and not os.path.exists(base):
        # crashed between the two renames: tmp may or may not have been
        # installed — if it still exists it was NOT renamed in, discard it
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        os.rename(old, base)
        return "restored"
    did = False
    for leftover in (old, tmp):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
            did = True
    return "cleaned" if did else "noop"
