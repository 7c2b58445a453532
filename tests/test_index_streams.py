"""The index-stream drivers of ``streaming/pipeline.py``: trigger and
parameter guards, the Bloom staged replay protocol, batch-id namespacing,
and a fault matrix that crashes each of the seven index streams before
every durable write and checks that replaying the batch gives the clean
run's output."""

from __future__ import annotations

import json
import os
import random
import shutil
from contextlib import contextmanager

import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from kafka_connect_tablestore_spark.config import DeleteMode, SinkConfig
from kafka_connect_tablestore_spark.engine import CdcEngine
from kafka_connect_tablestore_spark.sources.synth import synth_changelog
from kafka_connect_tablestore_spark.streaming import pipeline
from kafka_connect_tablestore_spark.streaming.pipeline import start_cdc_stream


def _docs(spark, n=60, dup_every=5):
    """Synthetic docs: every ``dup_every``-th doc repeats doc 0's text."""
    rows = [
        (i, "common shared text body" if i % dup_every == 0 else f"unique text {i}")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_trigger_conflict_refused(spark, tmp_path):
    """processing_time with the default available_now=True previously lost
    silently (the stream drained once and stopped); now it is refused."""
    from kafka_connect_tablestore_spark.streaming.pipeline import _start_query

    with pytest.raises(ValueError, match="available_now"):
        _start_query(None, None, str(tmp_path), "q", True, "5 seconds")


def test_bloom_stream_refuses_geometry_change(spark, tmp_path):
    from kafka_connect_tablestore_spark.operators.dedup import build_bloom_index
    from kafka_connect_tablestore_spark.streaming.pipeline import _make_bloom_apply

    idx = str(tmp_path / "bloom")
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(20)], "doc_id long, text string"
    )
    build_bloom_index(docs, idx, m_bits=1 << 12, k=3)
    apply = _make_bloom_apply(
        idx, str(tmp_path / "v"), 1 << 14, 5, "text", "doc_id"
    )
    with pytest.raises(ValueError, match="m_bits=4096, k=3"):
        apply(docs, 0)


def test_semantic_stream_guard_fires_before_freeze(spark, tmp_path):
    """A failed batch-0 (too few vectors) must NOT leave a params sidecar:
    restarting with the error's own advice (lower n_cells) then worked
    only if no bogus sidecar was frozen for a never-built index."""
    from kafka_connect_tablestore_spark.streaming.pipeline import (
        _make_semantic_apply,
    )

    idx = str(tmp_path / "sem")
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)], "vec_id long, embedding array<double>"
    )
    apply = _make_semantic_apply(idx, str(tmp_path / "v"), 0.9, 16, "vec_id", "embedding")
    with pytest.raises(ValueError, match="lower n_cells"):
        apply(vecs, 0)
    assert not os.path.exists(idx.rstrip("/") + ".params.json")
    # following the advice now works
    apply2 = _make_semantic_apply(idx, str(tmp_path / "v"), 0.9, 4, "vec_id", "embedding")
    apply2(vecs, 0)
    assert os.path.exists(idx.rstrip("/") + ".params.json")


def _bloom_bitset(spark, path):
    return {
        (r["word_idx"], r["word"])
        for r in (
            spark.read.parquet(path)
            .groupBy("word_idx")
            .agg(F.bit_or("word").alias("word"))
            .collect()
        )
    }


def test_bloom_apply_replay_after_append_crash(spark, tmp_path):
    from kafka_connect_tablestore_spark.streaming.pipeline import (
        _make_bloom_apply,
    )

    idx = str(tmp_path / "bloom_idx")
    verdicts = str(tmp_path / "verdicts")
    apply = _make_bloom_apply(idx, verdicts, 1 << 16, 4, "text", "doc_id")

    d = _docs(spark)
    apply(d.where("doc_id < 20"), 0)
    apply(d.where("doc_id >= 20 and doc_id < 40"), 1)
    clean = {
        (r["doc_id"], r["maybe_in_prior"])
        for r in spark.read.parquet(os.path.join(verdicts, "batch_id=1")).collect()
    }
    assert any(f for _, f in clean) and any(not f for _, f in clean)
    bits_clean = _bloom_bitset(spark, idx)

    # crash between append and commit: drop batch 1's manifest and replay
    os.remove(os.path.join(idx.rstrip("/") + ".batches", "1.json"))
    apply(d.where("doc_id >= 20 and doc_id < 40"), 1)
    replayed = {
        (r["doc_id"], r["maybe_in_prior"])
        for r in spark.read.parquet(os.path.join(verdicts, "batch_id=1")).collect()
    }
    assert replayed == clean  # NOT all maybe_in_prior=True
    assert _bloom_bitset(spark, idx) == bits_clean  # re-OR is a no-op
    with open(os.path.join(idx.rstrip("/") + ".batches", "1.json")) as f:
        assert json.load(f)["n_flagged"] == sum(f for _, f in clean)

    # and the stream continues correctly past the replay
    apply(d.where("doc_id >= 40"), 2)
    b2 = {
        (r["doc_id"], r["maybe_in_prior"])
        for r in spark.read.parquet(os.path.join(verdicts, "batch_id=2")).collect()
    }
    assert (40, True) in b2 and (41, False) in b2


def test_bloom_apply_replay_before_append(spark, tmp_path):
    """Crash between the slice write and the append: the staged path must
    OR the batch's bits in (first time) and commit."""
    from kafka_connect_tablestore_spark.operators.dedup import (
        incremental_bloom_dedup,
    )
    from kafka_connect_tablestore_spark.streaming.pipeline import (
        _make_bloom_apply,
    )

    idx = str(tmp_path / "bloom_idx")
    verdicts = str(tmp_path / "verdicts")
    apply = _make_bloom_apply(idx, verdicts, 1 << 16, 4, "text", "doc_id")
    d = _docs(spark)
    apply(d.where("doc_id < 20"), 0)

    # stage batch 1's verdict slice by hand, crash before the append
    batch1 = d.where("doc_id >= 20 and doc_id < 40")
    v, _bits = incremental_bloom_dedup(spark, idx, batch1)
    v.write.mode("overwrite").parquet(os.path.join(verdicts, "batch_id=1"))
    bits_before = _bloom_bitset(spark, idx)

    apply(batch1, 1)  # replay: skips the probe, appends, commits
    assert _bloom_bitset(spark, idx) != bits_before  # bits actually landed
    assert os.path.exists(
        os.path.join(idx.rstrip("/") + ".batches", "1.json")
    )
    # batch 2 sees batch 1's content as prior
    apply(d.where("doc_id >= 40"), 2)
    b2 = {
        (r["doc_id"], r["maybe_in_prior"])
        for r in spark.read.parquet(os.path.join(verdicts, "batch_id=2")).collect()
    }
    assert (40, True) in b2 and (41, False) in b2


def _vec_stream(spark, tmp_path, slices, name="src"):
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    vecs = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    src = str(tmp_path / name)
    for i, (lo, hi) in enumerate(slices):
        vecs.where(f"vec_id >= {lo} and vec_id < {hi}").coalesce(1).write.parquet(
            os.path.join(src, f"day{i}")
        )
    return (
        spark.readStream.schema(vecs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )


def test_ivf_stream_rejects_undersized_first_batch(spark, tmp_path):
    from kafka_connect_tablestore_spark.streaming.pipeline import (
        start_ivf_index_stream,
    )

    stream = _vec_stream(spark, tmp_path, [(0, 4)])
    q = start_ivf_index_stream(
        stream, str(tmp_path / "idx"), str(tmp_path / "ckpt"), n_cells=16
    )
    with pytest.raises(Exception, match="at least n_cells"):
        q.awaitTermination(300)


def test_ivfpq_stream_rejects_meta_mismatch(spark, tmp_path):
    from kafka_connect_tablestore_spark.streaming.pipeline import (
        start_ivfpq_index_stream,
    )

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    vecs = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    src = str(tmp_path / "src")
    vecs.where("vec_id < 125").coalesce(1).write.parquet(
        os.path.join(src, "day0")
    )
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")

    def _stream():
        return (
            spark.readStream.schema(vecs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )

    q = start_ivfpq_index_stream(
        _stream(), idx, ckpt, n_cells=8, m=4, n_codes=16, dim=64
    )
    q.awaitTermination(300)
    assert os.path.exists(idx + ".meta.json")

    # new day arrives; the operator restarts the stream (same checkpoint)
    # with a different m: every new row would be encoded under an
    # incompatible scheme — the stream must refuse, not silently corrupt
    vecs.where("vec_id >= 125 and vec_id < 250").coalesce(1).write.parquet(
        os.path.join(src, "day1")
    )
    q2 = start_ivfpq_index_stream(
        _stream(), idx, ckpt, n_cells=8, m=8, n_codes=16, dim=64
    )
    with pytest.raises(Exception, match="do not match the persisted"):
        q2.awaitTermination(300)


def test_fingerprint_stream_rejects_param_drift(spark, tmp_path):
    """A restart under a different n_buckets must fail loudly instead of
    silently bucket-pruning true hits away and poisoning the index."""
    from kafka_connect_tablestore_spark.streaming.pipeline import (
        start_fingerprint_index_stream,
    )

    docs = spark.createDataFrame(
        [(i, f"text number {i % 10} body") for i in range(40)],
        "doc_id long, text string",
    )
    src = str(tmp_path / "src")
    docs.where("doc_id < 20").coalesce(1).write.parquet(
        os.path.join(src, "day0")
    )
    idx = str(tmp_path / "fp_idx")
    verd = str(tmp_path / "verd")

    def _stream():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )

    q = start_fingerprint_index_stream(
        _stream(), idx, verd, str(tmp_path / "ckpt0"), n_buckets=64
    )
    q.awaitTermination(300)
    assert q.exception() is None

    # the daily-restart-with-drifted-config shape: new data arrives, the
    # stream restarts under a different n_buckets (fresh checkpoint: its
    # batch 0 replays day0 and is absorbed by the shared manifest; day1
    # becomes its first REAL batch and must hit the params guard)
    docs.where("doc_id >= 20").coalesce(1).write.parquet(
        os.path.join(src, "day1")
    )
    q2 = start_fingerprint_index_stream(
        _stream(), idx, verd, str(tmp_path / "ckpt1"), n_buckets=32
    )
    try:
        q2.awaitTermination(300)
    except Exception:
        pass
    exc = q2.exception()
    assert exc is not None and "parameters" in str(exc)
    # the index itself is untouched by the refused stream
    assert json.load(open(idx + ".params.json")) == {"n_buckets": 64}


def test_bloom_staged_marker_fires_without_success_file(spark, tmp_path):
    """The replay guard must not depend on Spark's _SUCCESS marker
    (absent under marksuccessfuljobs=false): with _SUCCESS deleted, the
    sidecar marker alone must stop the self-contaminating re-probe."""
    from kafka_connect_tablestore_spark.streaming.pipeline import (
        _make_bloom_apply,
    )

    docs = spark.createDataFrame(
        [(i, f"doc body {i % 30} text") for i in range(50)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "bloom_idx")
    verd = str(tmp_path / "verd")
    apply = _make_bloom_apply(idx, verd, 1 << 16, 4, "text", "doc_id")
    apply(docs.where("doc_id < 25"), 0)
    apply(docs.where("doc_id >= 25"), 1)
    slice1 = os.path.join(verd, "batch_id=1")
    clean = {
        (r["doc_id"], r["maybe_in_prior"])
        for r in spark.read.parquet(slice1).collect()
    }
    assert any(f for _, f in clean) and any(not f for _, f in clean)
    # marker written by the staged commit
    assert os.path.exists(os.path.join(verd + ".staged", "1.marker"))

    # simulate a marksuccessfuljobs=false cluster + crash before commit
    success = os.path.join(slice1, "_SUCCESS")
    if os.path.exists(success):
        os.remove(success)
    os.remove(os.path.join(idx + ".batches", "1.json"))
    apply(docs.where("doc_id >= 25"), 1)
    replayed = {
        (r["doc_id"], r["maybe_in_prior"])
        for r in spark.read.parquet(slice1).collect()
    }
    assert replayed == clean  # guard fired: NOT all flagged against self


def test_ivf_stream_rejects_dim_change(spark, tmp_path):
    """An embedding-model change (different vector length, same n_cells)
    must raise instead of silently truncating dot products."""
    from kafka_connect_tablestore_spark.streaming.pipeline import (
        start_ivf_index_stream,
    )

    v2 = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    v3 = spark.createDataFrame(
        [(100 + i, [1.0, 2.0, 3.0]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    src = str(tmp_path / "s2")
    v2.coalesce(1).write.parquet(os.path.join(src, "d0"))
    idx = str(tmp_path / "ivf_idx")

    def _stream():
        return (
            spark.readStream.schema(v2.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )

    q = start_ivf_index_stream(_stream(), idx, str(tmp_path / "ck0"), n_cells=4)
    q.awaitTermination(300)
    assert q.exception() is None

    # the model changed: 3-dim vectors arrive as a new file; the restarted
    # stream's fresh-checkpoint batch 0 replays d0 (manifest no-op) and
    # the 3-dim batch must hit the dim check
    v3.coalesce(1).write.parquet(os.path.join(src, "d1"))
    q2 = start_ivf_index_stream(_stream(), idx, str(tmp_path / "ck1"), n_cells=4)
    try:
        q2.awaitTermination(300)
    except Exception:
        pass
    exc = q2.exception()
    assert exc is not None and "embedding model" in str(exc)


def test_ivfpq_stream_rejects_wrong_dim_on_batch0(spark, tmp_path):
    """Batch 0 with dim != actual vector length must fail fast, not train
    silently-truncated codebooks into the frozen meta."""
    from kafka_connect_tablestore_spark.streaming.pipeline import (
        start_ivfpq_index_stream,
    )

    v4 = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 2.0]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    src = str(tmp_path / "s4")
    v4.coalesce(1).write.parquet(os.path.join(src, "d0"))
    q = start_ivfpq_index_stream(
        spark.readStream.schema(v4.schema).parquet(src + "/*"),
        str(tmp_path / "pq_idx"),
        str(tmp_path / "ck"),
        n_cells=4,
        m=2,
        n_codes=4,
        dim=8,  # wrong: vectors are 4-dim
    )
    try:
        q.awaitTermination(300)
    except Exception:
        pass
    exc = q.exception()
    assert exc is not None and "actual vector length" in str(exc)
    # nothing frozen: the meta must not exist after the refused batch 0
    assert not os.path.exists(str(tmp_path / "pq_idx") + ".meta.json")


def test_cdc_stream_batch_ids_namespaced_by_query_name(spark, tmp_path):
    """Two entry points (or two streams) feeding one engine must not
    collide in the lake's committed-batch ledger."""
    cfg = SinkConfig(delete_mode=DeleteMode.ROW)
    events = synth_changelog(spark, 500, seed=5, n_repos=5).cache()
    src = str(tmp_path / "src")
    events.coalesce(1).write.parquet(os.path.join(src, "f0"))
    eng = CdcEngine(spark, cfg, str(tmp_path / "lake"))
    q = start_cdc_stream(
        spark.readStream.schema(events.schema).parquet(src + "/*"),
        eng,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    batches = eng.table.snapshot()["batches"]
    assert batches and all(b.startswith("cdc-ingest-") for b in batches)
    # a fresh stream under another query_name restarts its foreachBatch
    # ids at 0 WITHOUT hitting the first stream's ledger entries
    more = synth_changelog(spark, 200, seed=6, n_repos=5)
    src2 = str(tmp_path / "src2")
    more.coalesce(1).write.parquet(os.path.join(src2, "f0"))
    v = eng.table.current_version()
    q2 = start_cdc_stream(
        spark.readStream.schema(events.schema).parquet(src2 + "/*"),
        eng,
        str(tmp_path / "ckpt2"),
        query_name="cdc-ingest-b",
    )
    q2.awaitTermination(300)
    assert eng.table.current_version() > v  # applied, not skipped
    assert any(
        b.startswith("cdc-ingest-b-") for b in eng.table.snapshot()["batches"]
    )


# ---------------------------------------------------------------------------
# a fresh index path: its parent directory need not exist
# ---------------------------------------------------------------------------

def test_build_lsh_index_creates_missing_parent_dirs(spark, tmp_path):
    from kafka_connect_tablestore_spark.operators.dedup import build_lsh_index

    idx = str(tmp_path / "new" / "dir" / "idx")
    build_lsh_index(_docs(spark, n=10), idx)
    assert spark.read.parquet(idx).count() > 0
    with open(idx + ".params.json") as f:
        assert json.load(f) == {"bands": 4, "n_hashes": 8}


# ---------------------------------------------------------------------------
# fault matrix: crash before every durable write, then replay the batch
# ---------------------------------------------------------------------------

@contextmanager
def _durable_writes(root, crashes):
    """Record every durable write an index stream makes under ``root``: a
    parquet write, or an ``os.replace`` (every sidecar and marker lands
    through one).  Before write ``n``, copy ``root`` to
    ``crashes/<n>/run``: the directory exactly as a crash before that write
    leaves it, down to the ``.tmp`` file of an ``os.replace`` that never
    ran."""
    writes = []
    real_parquet, real_replace = DataFrameWriter.parquet, os.replace

    def _next(kind):
        if os.path.exists(root):
            shutil.copytree(root, os.path.join(crashes, str(len(writes)), "run"))
        writes.append(kind)

    def parquet(self, *args, **kwargs):
        _next("parquet")
        return real_parquet(self, *args, **kwargs)

    def replace(src, dst, *args, **kwargs):
        _next(os.path.basename(dst))
        return real_replace(src, dst, *args, **kwargs)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DataFrameWriter, "parquet", parquet)
        mp.setattr(os, "replace", replace)
        yield writes


def _vectors(spark, lo, hi, dim=8):
    """Random vectors; every fourth one is a near copy of the vector two
    ids before it, so the semantic stream drops some."""
    rng = random.Random(11)
    rows = {}
    for i in range(hi):
        v = [rng.uniform(-1, 1) for _ in range(dim)]
        if i % 4 == 3:
            v = [x + rng.uniform(-0.01, 0.01) for x in rows[i - 2]]
        rows[i] = v
    return spark.createDataFrame(
        [(i, rows[i]) for i in range(lo, hi)], "vec_id long, embedding array<float>"
    )


def _doc_batches(spark):
    d = _docs(spark)
    return d.where("doc_id < 30"), d.where("doc_id >= 30")


def _vec_batches(spark):
    return _vectors(spark, 0, 24), _vectors(spark, 24, 48)


#: stream → (starter call on root, batches, index comparison, durable
#: writes in batch 0 and in batch 1).  Index comparison: ``set`` where a
#: replay may leave duplicate rows that the probes are built to ignore,
#: ``multiset`` where the per-batch slice overwrite forbids them, ``bits``
#: for the Bloom bitset, whose duplicate words OR together.
STREAMS = {
    "lsh": (
        lambda r: pipeline.start_lsh_index_stream(None, r + "/idx", r + "/out", None),
        _doc_batches, "set", (5, 3),
    ),
    "chunk": (
        lambda r: pipeline.start_chunk_index_stream(
            None, r + "/idx", r + "/out", None, chunk_words=2, n_buckets=8
        ),
        _doc_batches, "set", (5, 3),
    ),
    "fingerprint": (
        lambda r: pipeline.start_fingerprint_index_stream(
            None, r + "/idx", r + "/out", None, n_buckets=8
        ),
        _doc_batches, "set", (5, 3),
    ),
    "semantic": (
        lambda r: pipeline.start_semantic_index_stream(
            None, r + "/idx", r + "/out", None, threshold=0.95, n_cells=4
        ),
        _vec_batches, "set", (5, 3),
    ),
    "bloom": (
        lambda r: pipeline.start_bloom_index_stream(
            None, r + "/idx", r + "/out", None, m_bits=1 << 12, k=3
        ),
        _doc_batches, "bits", (5, 4),
    ),
    "ivf": (
        lambda r: pipeline.start_ivf_index_stream(None, r + "/idx", None, n_cells=4),
        _vec_batches, "multiset", (3, 2),
    ),
    "ivfpq": (
        lambda r: pipeline.start_ivfpq_index_stream(
            None, r + "/idx", None, n_cells=4, m=2, n_codes=4, dim=8
        ),
        _vec_batches, "multiset", (3, 2),
    ),
}


def _apply_for(name, root):
    """The stream's foreachBatch function, without starting a query."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pipeline, "_start_query", lambda _stream, apply, *args: apply)
        return STREAMS[name][0](root)


def _rows(path):
    table = pq.read_table(path)
    cols = sorted(table.column_names)
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in (r[c] for c in cols))
        for r in table.to_pylist()
    )


def _state(root, index_kind):
    """Everything a stream leaves on disk, in comparable form: every file
    outside the index and the slice directories (markers, staged markers,
    params/centroids/meta sidecars) byte for byte, every slice as a sorted
    row list, and the index by ``index_kind``."""
    files = {}
    for d, _dirs, names in os.walk(root):
        rel = os.path.relpath(d, root)
        if rel.split(os.sep)[0] not in ("idx", "out"):
            for n in names:
                with open(os.path.join(d, n), "rb") as f:
                    files[os.path.join(rel, n)] = f.read()
    out = os.path.join(root, "out")
    slices = {
        s: _rows(os.path.join(out, s))
        for s in sorted(os.listdir(out) if os.path.exists(out) else [])
    }
    rows = _rows(os.path.join(root, "idx"))
    if index_kind == "set":
        index = set(rows)
    elif index_kind == "bits":
        index = {}
        for word, word_idx in rows:  # columns sorted: word, word_idx
            index[word_idx] = index.get(word_idx, 0) | word
    else:
        index = rows
    return {"files": files, "slices": slices, "index": index}


@pytest.fixture(scope="module")
def clean_runs(spark, tmp_path_factory):
    """Per stream, computed once: a clean run of batch 0 and batch 1 with
    the durable writes of each, the state after each, and the directory a
    crash before each write would have left."""
    runs = {}

    def get(name):
        if name not in runs:
            base = tmp_path_factory.mktemp(f"clean-{name}")
            root = str(base / "new" / "dir" / "run")
            apply = _apply_for(name, root)
            run = {"writes": [], "state": [], "crashes": []}
            for batch_id, batch in enumerate(STREAMS[name][1](spark)):
                crashes = str(base / f"crashes{batch_id}")
                with _durable_writes(root, crashes) as writes:
                    apply(batch, batch_id)
                run["writes"].append(writes)
                run["state"].append(_state(root, STREAMS[name][2]))
                run["crashes"].append(crashes)
                if batch_id == 0:
                    run["idx_rows0"] = _rows(os.path.join(root, "idx"))
            runs[name] = run
        return runs[name]

    return get


@pytest.mark.parametrize("batch_id", [0, 1])
@pytest.mark.parametrize("name", list(STREAMS))
def test_replay_after_crash_matches_clean_run(spark, clean_runs, name, batch_id):
    """Take the stream's directory as a crash before each durable write of
    one batch left it, replay the batch there, and compare everything on
    disk with the clean run.  A batch-0 replay that left duplicate index
    rows also runs batch 1 on top, since only a later probe can show that
    the duplicates are harmless."""
    _start, make_batches, index_kind, n_writes = STREAMS[name]
    clean = clean_runs(name)
    assert tuple(len(w) for w in clean["writes"]) == n_writes, clean["writes"]
    batches = make_batches(spark)
    for crash_at, write in enumerate(clean["writes"][batch_id]):
        case = f"{name} batch {batch_id}, crash before write {crash_at} ({write})"
        root = os.path.join(clean["crashes"][batch_id], str(crash_at), "run")
        assert batch_id == 0 or os.path.exists(root), case
        apply = _apply_for(name, root)
        apply(batches[batch_id], batch_id)
        assert _state(root, index_kind) == clean["state"][batch_id], case
        if batch_id == 0 and _rows(os.path.join(root, "idx")) != clean["idx_rows0"]:
            apply(batches[1], 1)
            assert _state(root, index_kind) == clean["state"][1], case + ", then batch 1"
