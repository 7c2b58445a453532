"""Round-5 second-review fixes: crash-replay self-contamination of the
incremental index probes, asof_enrich's attribute typing, and
snapshot_diff with no attribute columns.  The stream-driver half of that
review (the Bloom stream's staged replay protocol, the IVF-family stream
parameter guards) lives in ``tests/test_index_streams.py``.

The contamination scenario all four probe fixes share: a stream crashes
in the window between "append this batch's rows to the index" and "commit
the batch manifest".  The checkpoint replays the batch, which re-probes an
index that already contains the batch's OWN rows — without self-exclusion
every first occurrence flags as a duplicate of itself and a corrupted
verdict slice overwrites the correct one.
"""

from __future__ import annotations

import os

import pytest


def _docs(spark, n=60, dup_every=5):
    """Synthetic docs: every ``dup_every``-th doc repeats doc 0's text."""
    rows = [
        (i, "common shared text body" if i % dup_every == 0 else f"unique text {i}")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


# ---------------------------------------------------------------------------
# fingerprint index: replay probe excludes the batch's own index rows
# ---------------------------------------------------------------------------

def test_incremental_dedup_exact_replay_self_exclusion(spark, tmp_path):
    from kafka_connect_tablestore_spark.operators.dedup import (
        append_to_fingerprint_index,
        build_fingerprint_index,
        incremental_dedup_exact,
    )

    prior = _docs(spark).where("doc_id < 30")
    batch = _docs(spark).where("doc_id >= 30")
    idx = str(tmp_path / "fp_idx")
    build_fingerprint_index(prior, idx)

    verdicts0, kept0 = incremental_dedup_exact(spark, idx, batch)
    want = {(r["doc_id"], r["kept"]) for r in verdicts0.collect()}
    assert any(k for _, k in want) and any(not k for _, k in want)

    # simulate the crashed append: the batch's kept rows land in the index,
    # the manifest never commits, the batch replays and re-probes
    append_to_fingerprint_index(kept0, idx)
    verdicts1, kept1 = incremental_dedup_exact(spark, idx, batch)
    got = {(r["doc_id"], r["kept"]) for r in verdicts1.collect()}
    assert got == want  # identical, not all-kept=False
    assert {r["doc_id"] for r in kept1.collect()} == {
        r["doc_id"] for r in kept0.collect()
    }


def test_incremental_dedup_exact_batch0_replay(spark, tmp_path):
    """Crash between batch-0 build and commit: the replay takes the
    incremental branch against an index that IS the batch — verdicts must
    equal the within-batch first-occurrence rule, not all-False."""
    from kafka_connect_tablestore_spark.operators.dedup import (
        build_fingerprint_index,
        incremental_dedup_exact,
    )

    batch = _docs(spark)
    idx = str(tmp_path / "fp_idx0")
    build_fingerprint_index(batch, idx)
    verdicts, _ = incremental_dedup_exact(spark, idx, batch)
    got = {(r["doc_id"], r["kept"]) for r in verdicts.collect()}
    # first occurrence of each fp (min doc_id) kept, later copies dropped
    assert (0, True) in got and (5, False) in got and (1, True) in got
    assert sum(k for _, k in got) == len({r["fp"] for r in verdicts.collect()})


# ---------------------------------------------------------------------------
# chunk index: same shape
# ---------------------------------------------------------------------------

def test_incremental_chunk_dedup_replay_self_exclusion(spark, tmp_path):
    from kafka_connect_tablestore_spark.operators.corpus import (
        append_to_chunk_index,
        build_chunk_index,
        incremental_chunk_dedup,
    )

    words = lambda i: " ".join(  # noqa: E731
        ["alpha beta gamma delta"] * 8 if i % 5 == 0 else [f"w{i}x{j}" for j in range(32)]
    )
    mk = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        [(i, words(i)) for i in range(lo, hi)], "doc_id bigint, text string"
    )
    prior, batch = mk(0, 20), mk(20, 40)
    idx = str(tmp_path / "chunk_idx")
    build_chunk_index(prior, idx, chunk_words=4)

    per0, kept0 = incremental_chunk_dedup(spark, idx, batch, chunk_words=4)
    want = {(r["doc_id"], r["n_kept"], r["clean_md5"]) for r in per0.collect()}
    assert any(r[1] > 0 for r in want)

    append_to_chunk_index(kept0, idx)  # crashed append, then replay:
    per1, _ = incremental_chunk_dedup(spark, idx, batch, chunk_words=4)
    got = {(r["doc_id"], r["n_kept"], r["clean_md5"]) for r in per1.collect()}
    assert got == want  # not n_kept=0 / md5('') for every doc


# ---------------------------------------------------------------------------
# semantic index: a vector's own index copy never dominates it
# ---------------------------------------------------------------------------

def test_incremental_semantic_dedup_replay_self_exclusion(spark, tmp_path):
    from kafka_connect_tablestore_spark.operators.similarity import (
        append_to_semantic_index,
        build_semantic_index,
        incremental_semantic_dedup,
    )

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    vecs = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .select("vec_id", "embedding")
        .where("vec_id < 200")
        .cache()
    )
    prior = vecs.where("vec_id < 100")
    batch = vecs.where("vec_id >= 100")
    idx = str(tmp_path / "sem_idx")
    centroids = build_semantic_index(prior, idx, 0.3, 8, train="first")

    per0, kept0 = incremental_semantic_dedup(
        spark, idx, centroids, batch, threshold=0.3
    )
    want = {(r["vec_id"], r["is_survivor"]) for r in per0.collect()}
    assert any(s for _, s in want)

    append_to_semantic_index(kept0, idx)  # crashed append, then replay:
    per1, _ = incremental_semantic_dedup(
        spark, idx, centroids, batch, threshold=0.3
    )
    got = {(r["vec_id"], r["is_survivor"]) for r in per1.collect()}
    assert got == want  # survivors are NOT dominated by their own copies


# ---------------------------------------------------------------------------
# asof_enrich with non-string attribute columns
# ---------------------------------------------------------------------------

def test_asof_enrich_non_string_attrs(spark):
    from kafka_connect_tablestore_spark.operators.changefeed import asof_enrich

    log = spark.createDataFrame(
        [
            ("r1", "a", 100, 1, "PUT", "c1", 10),
            ("r1", "a", 200, 2, "PUT", "c2", 20),
            ("r1", "a", 300, 3, "DELETE", None, None),
        ],
        "repo string, path string, commit_ts long, offset long, op string, "
        "commit string, size_bytes bigint",
    )
    facts = spark.createDataFrame(
        [("r1", "a", 150, 11), ("r1", "a", 250, 12), ("r1", "a", 350, 13)],
        "repo string, path string, fact_ts long, offset long",
    )
    got = {
        (r["fact_id"], r["asof_commit"], r["asof_size_bytes"])
        for r in asof_enrich(
            facts, log, attr_cols=("commit", "size_bytes")
        ).collect()
    }
    assert got == {(11, "c1", 10), (12, "c2", 20), (13, None, None)}
    # the bigint survived as a bigint, not a string
    df = asof_enrich(facts, log, attr_cols=("commit", "size_bytes"))
    assert dict(df.dtypes)["asof_size_bytes"] == "bigint"


def test_asof_enrich_rejects_missing_attr(spark):
    from kafka_connect_tablestore_spark.operators.changefeed import asof_enrich

    log = spark.createDataFrame(
        [("r1", "a", 100, 1, "PUT", "c1")],
        "repo string, path string, commit_ts long, offset long, op string, commit string",
    )
    facts = spark.createDataFrame(
        [("r1", "a", 150, 11)], "repo string, path string, fact_ts long, offset long"
    )
    with pytest.raises(ValueError, match="absent from log"):
        asof_enrich(facts, log, attr_cols=("commit", "nope"))


# ---------------------------------------------------------------------------
# snapshot_diff with no attribute columns (membership-only feed)
# ---------------------------------------------------------------------------

def test_snapshot_diff_empty_attr_cols(spark):
    from kafka_connect_tablestore_spark.operators.changefeed import snapshot_diff

    old = spark.createDataFrame(
        [("r1", "a"), ("r1", "b")], "repo string, path string"
    )
    new = spark.createDataFrame(
        [("r1", "b"), ("r1", "c")], "repo string, path string"
    )
    got = {
        (r["repo"], r["path"], r["change_op"])
        for r in snapshot_diff(old, new, attr_cols=()).collect()
    }
    # b unchanged (no attributes can differ); a deleted; c inserted
    assert got == {("r1", "a", "DELETE"), ("r1", "c", "INSERT")}
