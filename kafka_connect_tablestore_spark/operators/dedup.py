"""Deduplication operators for training-data pipelines.

Four families, each scale-shaped for 100 TB:

- **exact**: hash-groupBy on a content fingerprint.  One shuffle on the
  fingerprint; map-side partial aggregation collapses duplicates early.
- **MinHash + LSH**: shingle → minhash signature (per-row, no shuffle) →
  band → bucket-join (shuffle only on band keys, never all-pairs).  The
  classic near-dup pipeline (Broder '97); candidate pairs are verified with
  exact n-gram Jaccard.
- **SimHash**: 32-bit sign-hash of word hashes (Charikar '02) — per-row,
  embarrassingly parallel; near-dups share simhash values / low Hamming
  distance.
- **n-gram Jaccard**: exact verification on candidate pairs only.

All hash math uses the shared md5-based ``hash64`` family so every operator
has a bit-identical DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_connect_tablestore_spark.functions.text import (
    doc_fingerprint,
    hash64,
    shingles_from_words,
    words,
)

#: MinHash permutation domain (prime) and coefficient schedule — shared with
#: the DuckDB oracle in __spark_entry__.py.
MINHASH_P = 1_000_000_007


def minhash_perm_coeffs(j: int) -> tuple[int, int]:
    return 2 * j + 3, 97 * j + 1


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by normalized-content fingerprint: one surviving row per
    distinct content (min id wins), with the duplicate-group size."""
    return (
        df.select(F.col(id_col), doc_fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .select("keep_id", "group_size", "fp")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    k: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature: h_j = min over shingles of hash64(s, 'mh<j>').

    Pure per-row expressions — zero shuffle; at 100 TB this is a map-only
    stage fused into the scan by whole-stage codegen."""
    # One md5 per shingle, then n_hashes affine permutations mod a prime
    # (classic single-hash MinHash): 8x fewer md5 calls than hashing per
    # seed.  (h % P) <= 1e9 and a_j <= ~800, so products stay far below
    # int64 overflow — DuckDB raises on BIGINT overflow, so this bound is a
    # correctness requirement for the oracle, not just a nicety.
    #
    # The base-hash array is materialized in its own projection:
    # CollapseProject keeps non-cheap multi-referenced expressions
    # un-inlined, so the split/shingle/md5 work happens once per row instead
    # of once per hash column (measured 6x on the signature stage).
    wdf = df.select(F.col(id_col), words(text_col).alias("_w"))
    shdf = wdf.select(
        F.col(id_col), shingles_from_words(F.col("_w"), k).alias("_sh")
    )
    base = F.transform(F.col("_sh"), lambda s: hash64(s, "mh") % MINHASH_P)
    tmp = shdf.select(F.col(id_col), base.alias("_hs"))
    # the 8 permuted minima as SQL strings parsed JVM-side in ONE selectExpr
    # call: building the equivalent Column trees costs ~0.3 s of py4j
    # round-trips per plan construction (the same driver-side tax the
    # simhash fold paid before its single-parse rewrite)
    cols = [f"`{id_col}`"]
    for j in range(n_hashes):
        a, b = minhash_perm_coeffs(j)
        cols.append(
            f"array_min(transform(_hs, h -> (h * {a}L + {b}L) % "
            f"{MINHASH_P}L)) AS h{j}"
        )
    return tmp.selectExpr(*cols)



def _check_lsh_params(n_hashes: int, bands: int) -> None:
    """``bands`` must divide ``n_hashes``: r = n_hashes/bands rows per band
    defines the 1-(1-s^r)^b recall curve.  bands > n_hashes gives r=0 — an
    empty band key shared by EVERY doc, i.e. an all-pairs N^2 join — and a
    non-divisor silently bands on a prefix of the signature, deviating from
    the planned s-curve."""
    if bands < 1 or bands > n_hashes or n_hashes % bands:
        raise ValueError(
            f"bands must be a divisor of n_hashes in [1, n_hashes] "
            f"(got n_hashes={n_hashes}, bands={bands})"
        )

def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
    eager: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: signature split into ``bands`` bands of
    ``n_hashes/bands`` rows; docs sharing any band value become a candidate
    pair, scored by the number of matching minhashes (est. Jaccard ≈ n/8).

    Scale shape: the only shuffle is the self-join on (band_idx, band_key) —
    bucket sizes are bounded by collision rate, never O(N²) *per bucket
    distribution*.  ``max_bucket`` closes the residual hazard: one
    boilerplate-heavy band value (thousands of near-identical docs) turns
    its bucket quadratic AND serializes it into a single join task.  With
    ``max_bucket=m``, buckets holding more than ``m`` rows are dropped
    before the join (one extra map-side-combined count on the same key the
    join shuffles on) — the standard stop-bucket cap, mirroring
    ``winnowing_overlap_pairs``' ``max_df``.  A pair is lost only when
    EVERY band it collides in is over-capped — i.e. boilerplate groups
    larger than ``max_bucket``, which is the point: identical-content
    groups belong to ``dedup_exact`` (one fingerprint shuffle), not to a
    quadratic near-dup join.  Default ``None`` = uncapped (exact candidate
    semantics).

    Cache lifecycle: with ``eager=True`` (default) the candidate pairs are
    materialized inside this call (``localCheckpoint``) and the signature
    cache is released before returning — nothing persists past the call, so
    a long-running driver invoking this per batch accretes no storage.
    ``eager=False`` returns the fully-lazy plan with the signature cache
    pinned; the caller owns its lifecycle via the ``_sig_cache`` attribute
    on the returned frame (``pairs._sig_cache.unpersist()`` once consumed).
    """
    _check_lsh_params(n_hashes, bands)
    r = n_hashes // bands
    # Docs with no shingles (fewer than k words, or null text) must be
    # dropped — their all-null signatures would otherwise share one
    # degenerate band key and pair with each other.  Filter on the INPUT
    # (same excluded set as ``h0 IS NOT NULL``): a predicate on the computed
    # h0 gets pushed below the projection chain, which fully inlines the
    # words→shingles→md5 alias chain into the predicate, and higher-order
    # functions re-evaluate inline subexpressions per element — measured
    # ~12× the whole signature stage (10 s vs 0.8 s at sf0.1).
    sig = minhash_signatures(
        df.where(F.size(words(text_col)) >= 3), text_col, id_col, n_hashes
    )
    # persist the signatures: they are referenced by 4 band branches × 2 join
    # sides, and CollapseProject would otherwise re-inline (= recompute) the
    # shingle/md5 work 8×.  At 100 TB this is the standard LSH shape too —
    # signatures are ~64 bytes/doc, tiny next to the corpus.
    sig = sig.persist()
    if eager:
        # Fill the cache in its own job BEFORE the join references it 8
        # ways: cache population is per-partition and not synchronized
        # within a job, so concurrent branches of one job all MISS and
        # recompute the md5-heavy signature stage (measured 8x = ~16 s at
        # sf0.1; with the eager fill the whole query is ~2 s).
        sig.count()
    band_rows = []
    for b in range(bands):
        key = F.concat_ws("_", *[F.col(f"h{b * r + i}") for i in range(r)])
        band_rows.append(
            sig.select(
                F.col(id_col), F.lit(b).alias("band"), key.alias("band_key"),
                *[F.col(f"h{j}") for j in range(n_hashes)],
            )
        )
    banded = band_rows[0]
    for x in band_rows[1:]:
        banded = banded.unionByName(x)
    if max_bucket is not None:
        from pyspark.sql import Window

        # bucket-size gate as a window count on the SAME key the self-join
        # below shuffles on: one exchange (whose partitioning the join then
        # reuses) instead of the aggregate + join-back pair — measured
        # −0.5 s at the bench sf, identical row set.  A pathological hot
        # bucket lands in one task either way (window sort here, streamed
        # probe in the join form) and is dropped by the filter in both;
        # the quadratic hazard the cap exists for never materializes.
        _wcap = Window.partitionBy("band", "band_key")
        banded = (
            banded.withColumn("_bsz", F.count(F.lit(1)).over(_wcap))
            .where(F.col("_bsz") <= max_bucket)
            .drop("_bsz")
        )
    a, b_ = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            sum(
                F.when(F.col(f"a.h{j}") == F.col(f"b.h{j}"), 1).otherwise(0)
                for j in range(n_hashes)
            ).alias("n_match"),
        )
        .distinct()
    )
    if eager:
        # materialize the (small) pair set now, then release the signature
        # cache — localCheckpoint truncates the lineage so the returned
        # frame no longer depends on sig.
        pairs = pairs.localCheckpoint(eager=True)
        sig.unpersist()
    else:
        # hand the caller the cache it now owns: without a handle the only
        # release tool would be spark.catalog.clearCache() (which nukes
        # unrelated caches), and per-batch callers would accrete one pinned
        # signature cache per call
        pairs._sig_cache = sig
    return pairs


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """32-bit SimHash: bit b set iff sum over words of ±1 (sign of word-hash
    bit b) is positive.  Per-row expression tree — map-only at scale.

    The 32 per-bit folds are emitted as ONE SQL expression string parsed
    JVM-side in a single call: building the same tree with PySpark Column
    operators costs ~0.8 s of py4j round-trips PER PLAN CONSTRUCTION
    (measured at 32 bits — it dominated the query's steady-state wall time,
    the r2→r3 ``pipe_simhash`` investigation), vs ~0.1 s for one parse.
    Bit extraction is exact shiftright, not double division — a double
    mantissa cannot hold the 60-bit hash; DuckDB twin: ``(h >> b) & 1``."""
    # materialize the hashed-word array once (see minhash_signatures note)
    df = df.select(
        F.col(id_col),
        F.transform(words(text_col), lambda x: hash64(x, "sh")).alias("_hw"),
    )
    terms = " + ".join(
        f"(CASE WHEN aggregate(_hw, CAST(0 AS BIGINT), (acc, h) -> acc + "
        f"(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN CAST(1 AS BIGINT) "
        f"ELSE CAST(-1 AS BIGINT) END)) > 0 "
        f"THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    return df.select(F.col(id_col), F.expr(f"({terms})").alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.0,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard on LSH candidate pairs (verify stage of the
    near-dup pipeline): jaccard = |A∩B| / (|A|+|B|-|A∩B|) over distinct
    k-shingle sets.  Only candidates are verified — the exact step never
    sees the full N² space.

    ``candidates``: a precomputed ``(doc_a, doc_b)`` frame (e.g. the output
    of ``minhash_lsh_pairs`` a composed pipeline already materialized) —
    passing it avoids recomputing the whole signature + band-join stage
    when candidate generation and verification run back-to-back.  Defaults
    to an internal ``minhash_lsh_pairs`` call."""
    if candidates is None:
        candidates = minhash_lsh_pairs(df, text_col, id_col, n_hashes, bands)
    cand = candidates.select("doc_a", "doc_b")
    # verify-side cost must be proportional to the CANDIDATE set, not the
    # corpus: the shingle projection feeds two joins (doc_a / doc_b side),
    # so without a gate the words->shingles->array_distinct work runs for
    # every corpus row TWICE.  A semi-join on the candidate ids keeps the
    # projection above it, so shingle sets are built only for documents
    # that appear in some pair — inner joins on the pair ids drop all
    # other rows anyway, so the output is identical.
    _cids = cand.select(F.col("doc_a").alias(id_col)).unionByName(
        cand.select(F.col("doc_b").alias(id_col))
    )
    sh = df.join(_cids, id_col, "left_semi").select(
        F.col(id_col), words(text_col).alias("_w")
    ).select(
        F.col(id_col),
        F.array_distinct(shingles_from_words(F.col("_w"), k)).alias("sh"),
    )
    out = (
        cand.join(sh.withColumnRenamed(id_col, "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed(id_col, "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                # greatest(...,1): a candidate pair whose verify-side
                # shingle sets are BOTH empty (caller k larger than the
                # candidate gate, or external candidates) scores 0.0
                # instead of NaN-dividing 0/0
                / F.greatest(
                    (
                        F.size("sh_a") + F.size("sh_b")
                        - F.size(F.array_intersect("sh_a", "sh_b"))
                    ),
                    F.lit(1),
                ).cast("double")
            ).alias("jaccard"),
        )
    )
    if threshold > 0.0:
        # filter on the un-rounded value (rounding is display-only); skipped
        # entirely at threshold 0 — pushdown would inline the
        # array_intersect expression into the predicate and compute it
        # twice per pair for a vacuous check
        out = out.where(F.col("jaccard") >= threshold)
    return out.select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.0,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Shingle CONTAINMENT on LSH candidate pairs (Broder's containment
    coefficient, symmetrized): ``|A∩B| / min(|A|, |B|)`` over distinct
    k-shingle sets.  Jaccard is size-penalized — a short page quoted
    verbatim inside a long one scores low Jaccard but containment ≈ 1 —
    so this is the verify stage that catches WRAPPER/QUOTE near-dups
    (boilerplate shells around syndicated articles, forum quotes, doc
    pages embedding a README) that a Jaccard gate misses.

    Same scale shape as :func:`ngram_jaccard_pairs`: only LSH candidates
    are verified, shingle sets join in on each side of the pair key, and
    ``candidates`` can be passed to reuse an already-materialized band
    join.  NOTE the recall asymmetry inherited from MinHash-LSH: candidate
    generation is Jaccard-biased, so extreme-ratio containments (tiny doc
    in huge doc) may never become candidates — pair it with
    :func:`~.corpus.chunk_dedup`-style span fingerprints when that tail
    matters."""
    if candidates is None:
        candidates = minhash_lsh_pairs(df, text_col, id_col, n_hashes, bands)
    cand = candidates.select("doc_a", "doc_b")
    # verify-side cost must be proportional to the CANDIDATE set, not the
    # corpus: the shingle projection feeds two joins (doc_a / doc_b side),
    # so without a gate the words->shingles->array_distinct work runs for
    # every corpus row TWICE.  A semi-join on the candidate ids keeps the
    # projection above it, so shingle sets are built only for documents
    # that appear in some pair — inner joins on the pair ids drop all
    # other rows anyway, so the output is identical.
    _cids = cand.select(F.col("doc_a").alias(id_col)).unionByName(
        cand.select(F.col("doc_b").alias(id_col))
    )
    sh = df.join(_cids, id_col, "left_semi").select(
        F.col(id_col), words(text_col).alias("_w")
    ).select(
        F.col(id_col),
        F.array_distinct(shingles_from_words(F.col("_w"), k)).alias("sh"),
    )
    out = (
        cand.join(sh.withColumnRenamed(id_col, "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed(id_col, "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.greatest(
                    F.least(F.size("sh_a"), F.size("sh_b")), F.lit(1)
                ).cast("double")
            ).alias("containment"),
        )
    )
    if threshold > 0.0:
        out = out.where(F.col("containment") >= threshold)
    return out.select(
        "doc_a", "doc_b", F.round("containment", 4).alias("containment")
    )


# ---------------------------------------------- persisted incremental index
def _banded_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int,
    bands: int,
) -> DataFrame:
    """Banded signature rows ``(id, band, band_key, h0..h{n-1})`` — the LSH
    index row format shared by the batch join and the persisted index."""
    _check_lsh_params(n_hashes, bands)
    r = n_hashes // bands
    sig = minhash_signatures(
        df.where(F.size(words(text_col)) >= 3), text_col, id_col, n_hashes
    ).persist()
    sig.count()
    parts = []
    for b in range(bands):
        key = F.concat_ws("_", *[F.col(f"h{b * r + i}") for i in range(r)])
        parts.append(
            sig.select(
                F.col(id_col), F.lit(b).alias("band"), key.alias("band_key"),
                *[F.col(f"h{j}") for j in range(n_hashes)],
            )
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    out = out.localCheckpoint(eager=True)
    sig.unpersist()
    return out


def build_lsh_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
) -> None:
    """Materialize the MinHash-LSH index: banded signature rows persisted as
    parquet ``partitionBy(band)``.

    The incremental-dedup shape a daily 100-TB ingest needs: corpus
    signatures are computed ONCE (map-only) and re-probed forever after —
    a day's new documents join against the index instead of re-hashing the
    corpus.  ~(bands × 80) bytes per doc, tiny next to the text."""
    from .index_maint import ensure_index_params

    ensure_index_params(
        path, {"n_hashes": n_hashes, "bands": bands}, overwrite=True
    )
    _banded_rows(df, text_col, id_col, n_hashes, bands).repartition(
        "band"
    ).write.mode("overwrite").partitionBy("band").parquet(path)


def append_to_lsh_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
) -> None:
    """Append a new batch's banded rows to an existing index (after its
    pairs were emitted) — ids must be disjoint from the indexed corpus."""
    from .index_maint import ensure_index_params

    ensure_index_params(path, {"n_hashes": n_hashes, "bands": bands})
    _banded_rows(df, text_col, id_col, n_hashes, bands).repartition(
        "band"
    ).write.mode("append").partitionBy("band").parquet(path)


def incremental_lsh_pairs(
    spark,
    index_path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs for a NEW document batch against a persisted
    index, plus pairs within the new batch itself — together exactly the
    pairs ``minhash_lsh_pairs(corpus ∪ new)`` would emit that involve a new
    doc, without touching the corpus text.

    Scale shape: the new batch is small (a day's ingest), so its banded rows
    broadcast; the index side streams — one scan of the (signature-sized)
    index, zero scans of the corpus."""
    from .index_maint import ensure_index_params

    ensure_index_params(index_path, {"n_hashes": n_hashes, "bands": bands})
    new_rows = _banded_rows(new_docs, text_col, id_col, n_hashes, bands)
    idx = spark.read.parquet(index_path)

    def score(a, b):
        return sum(
            F.when(F.col(f"{a}.h{j}") == F.col(f"{b}.h{j}"), 1).otherwise(0)
            for j in range(n_hashes)
        ).alias("n_match")

    # new × corpus: orient (doc_a, doc_b) = (min, max) id for pair identity
    vs_corpus = (
        idx.alias("i")
        .join(
            F.broadcast(new_rows.alias("n")),
            (F.col("i.band") == F.col("n.band"))
            & (F.col("i.band_key") == F.col("n.band_key"))
            & (F.col(f"i.{id_col}") != F.col(f"n.{id_col}")),
        )
        .select(
            F.least(F.col(f"i.{id_col}"), F.col(f"n.{id_col}")).alias("doc_a"),
            F.greatest(F.col(f"i.{id_col}"), F.col(f"n.{id_col}")).alias("doc_b"),
            score("i", "n"),
        )
    )
    a, b = new_rows.alias("a"), new_rows.alias("b")
    within_new = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            score("a", "b"),
        )
    )
    return vs_corpus.unionByName(within_new).distinct()


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: candidates collide on ANY of
    ``max_hamming + 1`` bit-bands of the 32-bit simhash (pigeonhole:
    ``max_hamming`` flipped bits cannot touch all ``max_hamming + 1``
    bands, so every qualifying pair shares at least one band untouched),
    verified by exact hamming distance.

    ``max_bucket`` drops (band, band_key) buckets holding more than that
    many docs before the self-join — the same hot-bucket cap as
    ``minhash_lsh_pairs``; the pigeonhole completeness bound then holds
    only for pairs whose shared band is under the cap (boilerplate groups
    above it are deliberately excluded — they belong to exact dedup).

    The standard simhash dedup construction (Charikar / Manku et al.): a
    band join per band — never all-pairs — then ``bit_count(xor)`` on the
    candidates only.  The band count is DERIVED from ``max_hamming`` so the
    pigeonhole completeness bound holds for any radius (at the default
    ``max_hamming=3`` this is the classic 4×8-bit byte banding).  Map-only
    signature + one self-join shuffle at scale, same shape as MinHash-LSH
    banding."""
    if not 0 <= max_hamming <= 15:
        # > 15 would need bands of < 2 bits — candidate generation
        # degenerates toward all-pairs; refuse rather than silently explode
        raise ValueError(
            f"max_hamming must be in [0, 15], got {max_hamming} "
            "(bands of >= 2 bits require max_hamming + 1 <= 16)"
        )
    n_bands = max_hamming + 1
    # split 32 bits into n_bands contiguous bands, widths as equal as
    # possible (remainder spread over the low bands)
    base_w, extra = divmod(32, n_bands)
    # Degenerate docs (null / whitespace-only text) all share one simhash
    # (every per-bit aggregate sees no words), so without this filter they
    # form a single quadratic band-bucket clique — the same hazard
    # minhash_lsh_pairs filters with size(words) >= 3.
    df = df.where(F.length(F.trim(F.col(text_col))) > 0)
    sig = simhash(df, text_col, id_col).localCheckpoint(eager=True)
    bands = []
    bit = 0
    for b in range(n_bands):
        w = base_w + (1 if b < extra else 0)
        bands.append(
            sig.select(
                F.col(id_col),
                F.col("simhash"),
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), bit)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("band_key"),
            )
        )
        bit += w
    banded = bands[0]
    for x in bands[1:]:
        banded = banded.unionByName(x)
    if max_bucket is not None:
        from pyspark.sql import Window

        # bucket-size gate as a window count on the SAME key the self-join
        # below shuffles on: one exchange (whose partitioning the join then
        # reuses) instead of the aggregate + join-back pair — measured
        # −0.5 s at the bench sf, identical row set.  A pathological hot
        # bucket lands in one task either way (window sort here, streamed
        # probe in the join form) and is dropped by the filter in both;
        # the quadratic hazard the cap exists for never materializes.
        _wcap = Window.partitionBy("band", "band_key")
        banded = (
            banded.withColumn("_bsz", F.count(F.lit(1)).over(_wcap))
            .where(F.col("_bsz") <= max_bucket)
            .drop("_bsz")
        )
    a, c = banded.alias("a"), banded.alias("c")
    return (
        a.join(
            c,
            (F.col("a.band") == F.col("c.band"))
            & (F.col("a.band_key") == F.col("c.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"c.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"c.{id_col}").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("c.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    local-fingerprint scheme): hash every ``k``-word shingle, slide a
    ``window``-wide window over the hash sequence, select each window's
    minimum, and emit the DISTINCT selected hashes as ``(id, fp)`` rows.

    The guarantee MinHash cannot give: any shared run of at least
    ``window + k - 1`` words between two documents produces at least one
    IDENTICAL fingerprint in both — so a fingerprint-equality join finds
    partially-overlapping documents (quotes, mirrored passages) with
    bounded positional precision, not just globally-similar ones.

    Docs with at least one shingle but fewer than ``window`` emit the
    single global minimum; shingle-less docs emit nothing.  Pure per-row
    expressions + one outer explode — map-only at any scale, and the
    downstream equality join shuffles on the fingerprint key only.
    """
    if k <= 0 or window <= 0:
        raise ValueError("k and window must be positive")
    wdf = df.select(F.col(id_col), words(text_col).alias("_w"))
    shdf = wdf.select(
        F.col(id_col), shingles_from_words(F.col("_w"), k).alias("_sh")
    )
    hs = F.transform(F.col("_sh"), lambda s: hash64(s, "win"))
    hdf = shdf.select(F.col(id_col), hs.alias("_hs"))
    n = F.size("_hs")
    wins = (
        F.when(
            n >= window,
            F.transform(
                F.sequence(F.lit(1), n - (window - 1)),
                lambda i: F.array_min(F.slice("_hs", i, window)),
            ),
        )
        .when(n >= 1, F.array(F.array_min("_hs")))
        .otherwise(F.array().cast("array<long>"))
    )
    fps = hdf.select(F.col(id_col), F.array_distinct(wins).alias("_fps"))
    return (
        fps.select(F.col(id_col), F.explode_outer("_fps").alias("fp"))
        .where(F.col("fp").isNotNull())
    )


def winnowing_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Partially-overlapping document pairs by shared winnowing
    fingerprints: ``(doc_a, doc_b, n_shared)`` for pairs sharing at least
    ``min_shared`` fingerprints.

    ``max_df`` drops fingerprints occurring in more than that many
    documents before the join — the standard stop-fingerprint cap:
    boilerplate shared by thousands of docs would otherwise make its
    bucket quadratic (the same hot-bucket hazard as LSH bands, solved the
    same way).  Shape: fingerprint document-frequency (one key-local
    map-side-combined count), then a fingerprint-key self-join — never
    all-pairs."""
    fps = winnowing_fingerprints(df, text_col, id_col, k, window)
    if max_df is not None:
        df_counts = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
        fps = (
            fps.join(df_counts.where(F.col("_df") <= max_df), "fp")
            .select(id_col, "fp")
        )
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def dup_span_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_df: int = 2,
) -> DataFrame:
    """ExactSubstr-style duplicated-span coverage (the per-document measure
    behind Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): hash EVERY n-word window at every position, call a
    window *duplicated* when it occurs in at least ``min_df`` DISTINCT
    documents, and report per doc how much of the text those duplicated
    windows cover.

    Output: ``(id, n_words, dup_windows, dup_words, dup_coverage)`` where
    ``dup_words`` is the size of the UNION of the duplicated windows'
    ``[p, p+n-1]`` position intervals — an exact sweep, not ``count × n``:
    consecutive duplicated windows overlap ``n-1`` positions, so each
    window past the first contributes ``min(n, gap)`` via a per-doc
    ``lag`` over its sorted duplicated positions.  ``dup_coverage`` is
    ``dup_words / n_words``, the fraction a span-level dedup pass would
    cut.  Differs from winnowing (samples one fingerprint per window —
    detects overlap but cannot measure extent) and from the Gopher
    repetition table (within-doc duplication only; this is cross-doc:
    ``min_df`` counts distinct documents).

    Scale shape: one shuffle keyed on the window hash for document
    frequency (``countDistinct`` plans as a two-phase partial aggregate on
    ``(hash, id)``, so boilerplate grams collapse map-side), a second on
    the same key to flag duplicated positions (Catalyst reuses the
    partitioning), and a per-doc window bounded by DOCUMENT LENGTH —
    the same per-key bound as ``tfidf_topk``'s per-doc rank, measured
    unskewable in ``bench_skew_pipeline.py``.  Never all-pairs; the df
    aggregate collapses boilerplate n-grams to one row per hash however
    many billions of occurrences they have.
    """
    if n <= 0:
        raise ValueError("n must be positive")
    if min_df < 2:
        raise ValueError("min_df < 2 would mark every window duplicated")
    wdf = df.select(F.col(id_col), words(text_col).alias("_w"))
    # n_words comes straight off the word array: rebuilding shingles on the
    # join-back side would re-run the gram+md5 map stage a third time.
    nw = wdf.select(F.col(id_col), F.size("_w").alias("n_words"))
    # Explode a CHEAP position sequence and build each gram string AFTER
    # the Generate, not before: GenerateExec re-evaluates its generator
    # expression per OUTPUT row, so posexplode(shingles(...)) rebuilds the
    # whole gram array once per emitted window — O(windows x doc_windows)
    # string work (measured 70x slower on this exact stage).  Positions
    # are 1-based; docs shorter than n emit nothing.
    positions = F.when(
        F.size("_w") >= n,
        F.sequence(F.lit(1), F.size("_w") - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    gram = F.concat_ws(
        " ", *[F.element_at("_w", F.col("pos") + j) for j in range(n)]
    )
    grams = (
        wdf.select(
            F.col(id_col), F.col("_w"), F.posexplode(positions).alias("_i", "pos")
        )
        .select(F.col(id_col), "pos", hash64(gram, "dss").alias("_h"))
        # grams feeds BOTH the document-frequency aggregate and the
        # position probe below, and the two subtrees above the scan differ
        # (partial agg vs project), so ReuseExchange cannot dedup them —
        # without materialization the md5-per-window stage runs twice per
        # query.  A LAZY localCheckpoint computes it once inside the
        # query's own job and caches (id, pos, _h) rows only — ~1/30 of
        # the text bytes; the ContextCleaner drops the blocks when the
        # frame is released, and nothing persists across invocations.
        .localCheckpoint(eager=False)
    )
    # countDistinct plans as a two-phase partial aggregate on (_h, id) —
    # one shuffle instead of the distinct-then-count pair, still skew-safe
    # (boilerplate grams collapse map-side however hot).
    dup_hashes = (
        grams.groupBy("_h")
        .agg(F.countDistinct(id_col).alias("_df"))
        .where(F.col("_df") >= min_df)
        .select("_h")
    )
    dpos = grams.join(dup_hashes, "_h").select(id_col, "pos")
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    swept = dpos.withColumn("_prev", F.lag("pos").over(w)).select(
        F.col(id_col),
        F.when(F.col("_prev").isNull(), F.lit(n))
        .otherwise(F.least(F.lit(n), F.col("pos") - F.col("_prev")))
        .alias("_add"),
    )
    agg = swept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("dup_windows"),
        F.sum("_add").alias("dup_words"),
    )
    return (
        nw.join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_words").cast("long").alias("n_words"),
            F.coalesce(F.col("dup_windows"), F.lit(0))
            .cast("long")
            .alias("dup_windows"),
            F.coalesce(F.col("dup_words"), F.lit(0))
            .cast("long")
            .alias("dup_words"),
            F.round(
                F.coalesce(F.col("dup_words"), F.lit(0))
                / F.col("n_words"),
                4,
            ).alias("dup_coverage"),
        )
    )


# ------------------------------------- persisted exact-dedup fingerprint index
def build_fingerprint_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> None:
    """Materialize the corpus's normalized-content fingerprints as a
    parquet index ``partitionBy(bucket)`` — one row per DISTINCT content,
    carrying the min-id owner.  The sixth persisted index, and the one a
    daily-ingest pipeline touches first: exact dedup of today's crawl
    against ALL prior days without re-reading any prior text.

    Index size is one (fp, id, bucket) row per distinct document —
    thousands of times smaller than the corpus; the probe reads only the
    buckets a batch's fingerprints can land in (partition-pruned), the
    same bounded driver collect as the chunk/IVF probes."""
    from pyspark.sql import Window

    from .index_maint import ensure_index_params

    ensure_index_params(path, {"n_buckets": n_buckets}, overwrite=True)
    rows = df.select(F.col(id_col), doc_fingerprint(text_col).alias("fp"))
    first = Window.partitionBy("fp").orderBy(id_col)
    (
        rows.withColumn("_rn", F.row_number().over(first))
        .where(F.col("_rn") == 1)
        .select(
            "fp",
            F.col(id_col),
            F.pmod(hash64(F.col("fp"), "fpb"), F.lit(n_buckets))
            .cast("int")
            .alias("bucket"),
        )
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def incremental_dedup_exact(
    spark,
    index_path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Exact-dedup a NEW batch against the persisted fingerprint index plus
    within-batch first occurrences — zero prior-corpus reads beyond the
    pruned index buckets.

    Precondition (shared with the chunk/semantic indexes): batch ids sort
    after every indexed id, the natural monotone daily-ingest shape; then
    the union of per-batch survivors equals ``dedup_exact`` on the full
    corpus (min-id-wins is prefix-stable under monotone append).

    Returns ``(verdicts, kept_rows)``: per-doc ``(id, fp, kept)`` and the
    surviving fingerprint rows ready for
    :func:`append_to_fingerprint_index` once the batch commits."""
    from pyspark.sql import Window

    from .index_maint import ensure_index_params

    ensure_index_params(index_path, {"n_buckets": n_buckets})

    new_rows = (
        new_docs.select(F.col(id_col), doc_fingerprint(text_col).alias("fp"))
        .withColumn(
            "bucket",
            F.pmod(hash64(F.col("fp"), "fpb"), F.lit(n_buckets)).cast("int"),
        )
        .localCheckpoint(eager=False)
    )
    probe_buckets = [
        r[0] for r in new_rows.select("bucket").distinct().collect()
    ]
    idx = spark.read.parquet(index_path)
    if probe_buckets:
        idx = idx.where(F.col("bucket").isin(probe_buckets))
    # self-exclusion: an index row owned by a batch id never testifies
    # against the batch.  A no-op under the monotone-id precondition —
    # but a crash-replay that re-probes after its own append landed
    # (index rows carry this batch's ids) would otherwise flag every
    # first occurrence as a duplicate of itself and commit n_kept=0.
    idx = idx.join(
        F.broadcast(new_rows.select(F.col(id_col)).distinct()),
        id_col,
        "left_anti",
    )
    hits = (
        idx.join(F.broadcast(new_rows.select("fp").distinct()), "fp")
        .select("fp")
        .distinct()
        .withColumn("_indexed", F.lit(True))
    )
    first = Window.partitionBy("fp").orderBy(id_col)
    # lazy-checkpoint the shared probe result: verdicts and kept_rows are
    # both views of it, and a caller acting on each (write verdicts, then
    # append kept) would otherwise re-run the pruned index scan + joins +
    # window a second time — the checkpoint materializes once at the first
    # action and the second view reuses it (the new_rows pattern above)
    marked = (
        new_rows.withColumn("_rn", F.row_number().over(first))
        .join(F.broadcast(hits), "fp", "left")
        .withColumn(
            "kept", (F.col("_rn") == 1) & F.col("_indexed").isNull()
        )
        .localCheckpoint(eager=False)
    )
    verdicts = marked.select(F.col(id_col), "fp", "kept")
    kept_rows = marked.where(F.col("kept")).select("fp", F.col(id_col), "bucket")
    return verdicts, kept_rows


def append_to_fingerprint_index(kept_rows: DataFrame, path: str) -> None:
    """Append a committed batch's surviving fingerprints — ids must be
    disjoint from (and sort after) the indexed corpus."""
    (
        kept_rows.repartition("bucket")
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(path)
    )


def cross_dedup_exact(
    new: DataFrame,
    prior: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact cross-corpus dedup verdict: for every NEW document, is its
    normalized content already present anywhere in ``prior``?  The
    "dedup this crawl against C4 / last month's snapshot" move — RefinedWeb
    and Dolma both run exactly this stage before within-corpus dedup, since
    a fresh crawl re-fetches most of the previous one.

    Unlike :func:`incremental_dedup_exact` (persisted index, monotone-id
    precondition), this is the ad-hoc two-frame form: id spaces may overlap
    between the frames (identity is the frame, not the id), and no index
    needs to exist.  Output: ``(id, fp, in_prior)`` for EVERY new doc.

    Shape at scale: the prior side collapses to one row per DISTINCT
    fingerprint before the join (map-side-combined aggregate — duplicate
    groups pre-reduce in place), then ONE fingerprint-key equi-join; AQE
    broadcasts the distinct-fp side when it fits, and at web scale it stays
    a key-co-shuffled join.  No window, no all-pairs.
    """
    new_fp = new.select(F.col(id_col), doc_fingerprint(text_col).alias("fp"))
    prior_fp = (
        prior.select(doc_fingerprint(text_col).alias("fp"))
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    return new_fp.join(prior_fp, "fp", "left").select(
        F.col(id_col),
        "fp",
        F.coalesce(F.col("_hit"), F.lit(False)).alias("in_prior"),
    )


def cross_lsh_pairs(
    new: DataFrame,
    prior: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Bipartite MinHash-LSH candidates between a NEW batch and a PRIOR
    corpus: ``(doc_id, prior_id, n_match)`` — one row per (new, prior) pair
    sharing at least one band value.  The near-dup companion to
    :func:`cross_dedup_exact` for the crawl-over-crawl case where the
    re-fetch is *almost* identical (banner swap, timestamp churn).

    Unlike :func:`incremental_lsh_pairs` this needs no persisted index and
    no id-space discipline (frames may share ids — identity is the frame),
    and it emits no within-frame pairs: cross-corpus near-dup asks "is this
    new doc a variant of anything old", not "does the old corpus contain
    near-dups internally".

    Shape at scale: signatures are map-only on each side; the ONLY shuffle
    is the (band, band_key) equi-join — never all-pairs, and neither side is
    assumed small (AQE broadcasts the banded rows of a small daily batch on
    its own).  ``max_bucket`` closes the same hot-bucket hazard as
    ``minhash_lsh_pairs``: the bucket population that matters here is the
    JOINT one (a boilerplate band value floods both crawls), so buckets
    whose combined row count exceeds the cap are dropped from BOTH sides
    before the join — identical-content floods belong to
    :func:`cross_dedup_exact`'s single fingerprint shuffle instead.
    """
    new_rows = _banded_rows(new, text_col, id_col, n_hashes, bands)
    prior_rows = _banded_rows(prior, text_col, id_col, n_hashes, bands)
    if max_bucket is not None:
        joint = (
            new_rows.select("band", "band_key")
            .unionAll(prior_rows.select("band", "band_key"))
            .groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("_bsz"))
            .where(F.col("_bsz") <= max_bucket)
            .drop("_bsz")
        )
        new_rows = new_rows.join(joint, ["band", "band_key"])
        prior_rows = prior_rows.join(joint, ["band", "band_key"])
    n, p = new_rows.alias("n"), prior_rows.alias("p")
    return (
        n.join(
            p,
            (F.col("n.band") == F.col("p.band"))
            & (F.col("n.band_key") == F.col("p.band_key")),
        )
        .select(
            F.col(f"n.{id_col}").alias(id_col),
            F.col(f"p.{id_col}").alias("prior_id"),
            sum(
                F.when(F.col(f"n.h{j}") == F.col(f"p.h{j}"), 1).otherwise(0)
                for j in range(n_hashes)
            ).alias("n_match"),
        )
        .distinct()
    )


def cross_neardup(
    new: DataFrame,
    prior: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.7,
    n_hashes: int = 8,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Per-NEW-document near-dup verdict against a prior corpus:
    ``(id, best_jaccard, prior_id, is_dup)`` for EVERY new doc — the best
    exact n-gram Jaccard over the LSH candidates, the prior doc attaining it
    (ties → smallest prior id), and the ``threshold`` verdict.  New docs
    with no candidate (nothing collided, or too short to shingle) report
    ``best_jaccard = 0.0``, NULL ``prior_id``, ``is_dup = false``.

    Determinism contract: the Jaccard is rounded to 4 decimals BEFORE the
    argmax and the threshold test (the ``canonical_docs`` precedent), so the
    winner and the verdict are bit-stable across engines and join orders.

    Shape at scale: candidates only ever see the banded bucket join
    (:func:`cross_lsh_pairs`), the exact verify touches candidate pairs
    only, and the per-doc best is one ``max(struct(...))`` aggregation on
    the new-doc key — partial-aggregable, so a new doc colliding with a
    thousand prior variants pre-reduces map-side instead of ranking through
    a window.
    """
    cand = cross_lsh_pairs(
        new, prior, text_col, id_col, n_hashes, bands, max_bucket
    ).select(id_col, "prior_id")
    mk_sh = lambda df: df.select(  # noqa: E731
        F.col(id_col), words(text_col).alias("_w")
    ).select(
        F.col(id_col),
        F.array_distinct(shingles_from_words(F.col("_w"), k)).alias("_sh"),
    )
    n_sh = mk_sh(new)
    p_sh = (
        mk_sh(prior)
        .withColumnRenamed(id_col, "prior_id")
        .withColumnRenamed("_sh", "_psh")
    )
    inter = F.size(F.array_intersect("_sh", "_psh"))
    scored = (
        cand.join(n_sh, id_col)
        .join(p_sh, "prior_id")
        .select(
            F.col(id_col),
            F.col("prior_id"),
            F.round(
                inter.cast("double")
                / F.greatest(
                    F.size("_sh") + F.size("_psh") - inter, F.lit(1)
                ).cast("double"),
                4,
            ).alias("_j"),
        )
    )
    best = scored.groupBy(id_col).agg(
        F.max(
            F.struct(F.col("_j"), (-F.col("prior_id")).alias("neg_id"))
        ).alias("_b")
    )
    return (
        new.select(F.col(id_col))
        .join(best, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_b._j"), F.lit(0.0)).alias("best_jaccard"),
            (-F.col("_b.neg_id")).alias("prior_id"),
            F.coalesce(
                F.col("_b._j") >= F.lit(float(threshold)), F.lit(False)
            ).alias("is_dup"),
        )
    )


def _bloom_validate(m_bits: int, k: int) -> None:
    if m_bits < 64 or m_bits % 64 != 0:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")


def build_bloom_bitset(
    prior: DataFrame,
    m_bits: int = 1 << 22,
    k: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Distributed Bloom-filter bitset over a PRIOR corpus's content
    fingerprints (Bloom 1970): at most ``m_bits/64`` rows of
    ``(word_idx int, word long)``, each word the bitwise-OR of every set
    bit it holds.  The membership structure Dolma (Soldaini et al. 2024,
    arXiv:2402.00159) uses for crawl-over-crawl dedup: the prior corpus is
    read ONCE, reduced to a bitset measured in gigabytes (2^33 bits =
    1 GiB covers ~10^9 docs at 1% FP with k=7), and every later crawl
    probes the broadcast bitset instead of joining the full fingerprint
    set.

    Shape at scale: one map-only distinct on the fingerprint, one explode
    to k positions, one ``groupBy(word_idx).agg(bit_or)`` — the OR is
    map-side combined, so the shuffle carries at most ``m_bits/64`` rows
    per input partition regardless of corpus size.  No window, no driver
    state."""
    _bloom_validate(m_bits, k)
    fp = prior.select(doc_fingerprint(text_col).alias("fp")).distinct()
    pos = fp.select(
        F.explode(
            F.array(
                *[
                    F.pmod(hash64(F.col("fp"), f"bl{i}"), F.lit(m_bits))
                    for i in range(k)
                ]
            )
        ).alias("pos")
    )
    return (
        pos.select(
            F.shiftright(F.col("pos"), 6).cast("int").alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))"
            ).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def bloom_dedup(
    new: DataFrame,
    prior: DataFrame | None = None,
    *,
    bitset: DataFrame | None = None,
    m_bits: int = 1 << 22,
    k: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify: bool = False,
) -> DataFrame:
    """Bloom-gated cross-corpus dedup: per NEW document, probe the prior
    corpus's Bloom bitset.  ``verify=False`` returns the raw one-sided
    verdict ``(id, fp, maybe_in_prior)`` — false means DEFINITELY new
    (Bloom filters have no false negatives), true means "present with
    probability 1-(1-e^(-kn/m))^k of being a false positive".
    ``verify=True`` composes the production pipeline: only Bloom-positive
    docs enter an exact fingerprint join against ``prior``, and the output
    ``(id, fp, in_prior)`` equals :func:`cross_dedup_exact` bit-for-bit —
    but the exact join's probe side shrank from the whole crawl to the
    Bloom-positive subset (true dups + the FP-rate sliver).

    At 100 TB: ``cross_dedup_exact`` shuffles every new fingerprint against
    the full distinct-fp set of the prior corpus — at 10^10 prior docs
    that right side is ~500 GB of fingerprints, never broadcastable.  The
    bitset is ``m_bits/64`` longs (fixed at build time, e.g. 1 GiB),
    broadcast once; the crawl-side probe is map-only + one per-doc
    aggregate, and the residual exact join handles only the flagged
    fraction.  Pass a pre-built ``bitset`` (from :func:`build_bloom_bitset`,
    persisted once per prior snapshot) to skip rebuilding per batch."""
    _bloom_validate(m_bits, k)
    if bitset is None:
        if prior is None:
            raise ValueError("bloom_dedup needs either prior= or bitset=")
        bitset = build_bloom_bitset(prior, m_bits, k, text_col)

    new_fp = new.select(F.col(id_col), doc_fingerprint(text_col).alias("fp"))
    probes = new_fp.select(
        F.col(id_col),
        "fp",
        F.posexplode(
            F.array(
                *[
                    F.pmod(hash64(F.col("fp"), f"bl{i}"), F.lit(m_bits))
                    for i in range(k)
                ]
            )
        ).alias("_i", "pos"),
    ).select(
        F.col(id_col),
        "fp",
        F.shiftright(F.col("pos"), 6).cast("int").alias("word_idx"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))"
        ).alias("mask"),
    )
    verdict = (
        probes.join(F.broadcast(bitset), "word_idx", "left")
        .withColumn(
            "_set",
            F.coalesce(
                F.col("word").bitwiseAND(F.col("mask")) == F.col("mask"),
                F.lit(False),
            ),
        )
        .groupBy(id_col, "fp")
        .agg(F.bool_and("_set").alias("maybe_in_prior"))
    )
    if not verify:
        return verdict
    if prior is None:
        raise ValueError("verify=True needs the prior frame for the exact join")
    # both the flagged and clean branches consume the verdict: materialize
    # it once so the probe join + per-doc aggregate (and an inline bitset
    # build) do not re-run per branch
    verdict = verdict.localCheckpoint(eager=True)
    flagged = verdict.where("maybe_in_prior").select(id_col, "fp")
    prior_fp = (
        prior.select(doc_fingerprint(text_col).alias("fp"))
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    confirmed = flagged.join(prior_fp, "fp", "left").select(
        F.col(id_col),
        "fp",
        F.coalesce(F.col("_hit"), F.lit(False)).alias("in_prior"),
    )
    clean = verdict.where(~F.col("maybe_in_prior")).select(
        F.col(id_col), "fp", F.lit(False).alias("in_prior")
    )
    return clean.unionByName(confirmed)


def build_bloom_index(
    prior: DataFrame,
    path: str,
    m_bits: int = 1 << 22,
    k: int = 4,
    text_col: str = "text",
) -> None:
    """Persist the Bloom bitset as the SEVENTH incremental index: parquet
    rows of ``(word_idx, word)`` plus a ``.meta`` sidecar pinning
    ``(m_bits, k)`` so every later probe/append uses the same position
    math (a mismatched m or k silently breaks one-sidedness — hence the
    hard check in :func:`incremental_bloom_dedup`).

    Append model: appends add MORE ``(word_idx, word)`` rows; readers OR
    duplicate word rows back together (``groupBy(word_idx).agg(bit_or)``,
    bounded by m_bits/64 output rows however many appends accumulated) —
    bitwise OR is associative/idempotent, so replayed appends are
    harmless.  :func:`compact_bloom_index` rewrites to one row per word."""
    from .index_maint import write_json_atomic

    _bloom_validate(m_bits, k)
    build_bloom_bitset(prior, m_bits, k, text_col).write.mode(
        "overwrite"
    ).parquet(path)
    write_json_atomic(path.rstrip("/") + ".meta", {"m_bits": m_bits, "k": k})


def _bloom_meta(path: str) -> tuple[int, int]:
    import json

    with open(path.rstrip("/") + ".meta") as f:
        meta = json.load(f)
    return int(meta["m_bits"]), int(meta["k"])


def incremental_bloom_dedup(
    spark,
    index_path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Probe a new batch against the persisted Bloom index and produce the
    rows that extend it: returns ``(verdicts, new_bits)`` — per-doc
    ``(id, fp, maybe_in_prior)`` plus the batch's own ``(word_idx, word)``
    bitset rows, ready for :func:`append_to_bloom_index` once the batch
    commits.  ALL batch fingerprints enter the appended bits (not only
    survivors): Bloom insertion is idempotent under OR, and a bloom index
    has no ownership semantics — it answers "seen anywhere before",
    including earlier in today's batch stream.

    At scale the probe reads the whole index once (m_bits/64 words ×
    appends — compact periodically), re-ORs it map-side, and broadcasts;
    the crawl side stays map-only + one per-doc aggregate, exactly the
    :func:`bloom_dedup` shape."""
    m_bits, k = _bloom_meta(index_path)
    bitset = (
        spark.read.parquet(index_path)
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
    )
    verdicts = bloom_dedup(
        new_docs,
        bitset=bitset,
        m_bits=m_bits,
        k=k,
        text_col=text_col,
        id_col=id_col,
    )
    new_bits = build_bloom_bitset(new_docs, m_bits, k, text_col)
    return verdicts, new_bits


def append_to_bloom_index(new_bits: DataFrame, path: str) -> None:
    """Append a committed batch's bitset rows (idempotent under replay —
    duplicate rows OR away at read time)."""
    new_bits.write.mode("append").parquet(path)


def compact_bloom_index(spark, path: str) -> None:
    """Rewrite the index to one row per word, crash-safely: the compacted
    rows land in a ``.compact.tmp`` sibling, then the same two-rename swap
    as ``index_maint.compact_index`` installs them — the live index is
    never a write target, so a crash at any point leaves either the old or
    the new index intact and ``index_maint.recover_compaction(path)``
    repairs the leftover (the ``.meta`` sidecar lives OUTSIDE the data dir
    and survives the swap untouched).  Run from the single writer that
    owns the index, the same discipline as the other six indexes."""
    import os
    import shutil

    base = path.rstrip("/")
    old = base + ".old"
    tmp = base + ".compact.tmp"
    if os.path.exists(old):
        raise RuntimeError(
            f"{old} exists — a previous compaction crashed mid-swap; run "
            "index_maint.recover_compaction(path) before compacting again"
        )
    if os.path.exists(tmp):
        shutil.rmtree(tmp)  # pre-swap crash leftover: never installed
    (
        spark.read.parquet(base)
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
        .write.mode("overwrite")
        .parquet(tmp)
    )
    os.rename(base, old)
    os.rename(tmp, base)
    shutil.rmtree(old)


def lsh_parameter_plan(
    spark,
    n_hashes: int = 128,
    threshold: float = 0.8,
    n_grid: int = 200,
) -> DataFrame:
    """The (bands, rows) planning step for MinHash-LSH (the datasketch-style
    optimizer, computed exactly rather than sampled): for every divisor
    split ``n_hashes = bands x rows_per_band``, evaluate the s-curve
    ``P(candidate | jaccard=s) = 1 - (1 - s^rows)^bands`` on a midpoint
    grid and report the false-positive mass below the threshold, the
    false-negative mass above it, and the total cost — flagging the
    argmin split.  Run it BEFORE sizing :func:`minhash_lsh_pairs` /
    :func:`build_lsh_index`: re-banding a persisted LSH index later means
    rebuilding it over the full corpus, so the 100-TB-relevant work
    happens here, on rows counted in dozens.

    Determinism: every probability is rounded to 6dp before comparison or
    output, and the argmin tie-breaks on smaller ``bands`` via a
    ``min(struct(cost, bands))`` 1-row broadcast — no window, engine-
    portable."""
    if n_hashes < 1:
        raise ValueError(f"n_hashes must be >= 1, got {n_hashes}")
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    splits = (
        spark.range(1, n_hashes + 1)
        .select(F.col("id").cast("int").alias("bands"))
        .where(F.lit(n_hashes) % F.col("bands") == 0)
        .withColumn(
            "rows_per_band", (F.lit(n_hashes) / F.col("bands")).cast("int")
        )
    )
    s = (F.col("_i") + 0.5) / F.lit(float(n_grid))
    p = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(s, F.col("rows_per_band")), F.col("bands")
    )
    curves = splits.select(
        "bands",
        "rows_per_band",
        F.explode(F.sequence(F.lit(0), F.lit(n_grid - 1))).alias("_i"),
    ).select(
        "bands",
        "rows_per_band",
        F.when(s < F.lit(threshold), p).otherwise(F.lit(0.0)).alias("_fp"),
        F.when(s >= F.lit(threshold), F.lit(1.0) - p)
        .otherwise(F.lit(0.0))
        .alias("_fn"),
    )
    p_at_t = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(F.lit(threshold), F.col("rows_per_band")),
        F.col("bands"),
    )
    scored = (
        curves.groupBy("bands", "rows_per_band")
        .agg(
            F.round(F.sum("_fp") / n_grid, 6).alias("fp_mass"),
            F.round(F.sum("_fn") / n_grid, 6).alias("fn_mass"),
        )
        .select(
            "bands",
            "rows_per_band",
            F.round(p_at_t, 6).alias("p_at_threshold"),
            "fp_mass",
            "fn_mass",
            F.round(F.col("fp_mass") + F.col("fn_mass"), 6).alias("cost"),
        )
    )
    best = scored.agg(
        F.min(F.struct(F.col("cost"), F.col("bands"))).alias("_b")
    ).select(F.col("_b.cost").alias("_bc"), F.col("_b.bands").alias("_bb"))
    return scored.crossJoin(F.broadcast(best)).select(
        "bands",
        "rows_per_band",
        "p_at_threshold",
        "fp_mass",
        "fn_mass",
        "cost",
        ((F.col("cost") == F.col("_bc")) & (F.col("bands") == F.col("_bb"))).alias(
            "is_best"
        ),
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: of a doc's DISTINCT k-word shingles,
    how many appear in NO earlier document (first-seen = min doc id)?  The
    per-doc freshness score that ranks an incremental crawl batch — a doc
    whose shingles are all old is recombined boilerplate even when its
    exact fingerprint is unique, the signal between exact dedup (too
    strict) and MinHash similarity (pairwise, not per-doc).

    Shape at scale: doc×shingle distinct (ONE dedup shuffle on the
    (gram, id) pair), then two independent rollups — per-doc distinct-gram
    counts off the dedup directly, and per-doc NOVEL counts straight off
    the first-seen aggregate (``groupBy(first_seen).count()``): each gram
    contributes novelty only to its min-id doc, so the per-gram join back
    that a naive plan would do — and with it the hot-gram skew hazard of
    co-shuffling 10^8 owners of one boilerplate shingle into a single join
    task — is unnecessary.  The only joins are doc-id-keyed left joins of
    |docs|-bounded aggregates.  Never all-pairs, no window.
    The gram string is assembled ABOVE the Generate from an exploded
    position sequence (GenerateExec re-evaluates its generator per OUTPUT
    row — exploding a computed gram array re-runs the whole shingle build
    once per emitted window; measured 8.8 s → 0.5 s warm at sf0.1 on this
    operator, 22–70× on the span/winnowing stages that hit it first).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    wdf = df.select(F.col(id_col), words(text_col).alias("_w"))
    positions = F.when(
        F.size("_w") >= k,
        F.sequence(F.lit(1), F.size("_w") - (k - 1)),
    ).otherwise(F.array().cast("array<int>"))
    gram = F.concat_ws(
        " ", *[F.element_at("_w", F.col("pos") + j) for j in range(k)]
    )
    g = (
        wdf.select(F.col(id_col), F.col("_w"), F.explode(positions).alias("pos"))
        .select(F.col(id_col), gram.alias("_g"))
        .dropDuplicates([id_col, "_g"])
    )
    totals = g.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("n_grams"))
    novel = (
        g.groupBy("_g")
        .agg(F.min(id_col).alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    return (
        df.select(F.col(id_col))
        .join(totals, id_col, "left")
        .join(novel, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        )
    )
