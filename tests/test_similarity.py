"""Similarity-search operators: brute-force exactness, LSH/IVF candidate
shapes, and cross-variant consistency."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from kafka_connect_tablestore_spark.operators.similarity import (
    ann_ivf_topk,
    ann_lsh_topk,
    brute_force_topk,
)

SF_DIR = "/root/testdata/sf0.01"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_brute_force_matches_numpy(spark):
    emb = _emb(spark).limit(50).cache()
    rows = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    q = emb.where("vec_id = 0")
    got = [
        (r["rank"], r["neighbor_id"], r["cos_sim"])
        for r in brute_force_topk(emb, q, k=3).orderBy("rank").collect()
    ]

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    want = sorted(
        ((round(cos(rows[0], v), 4), i) for i, v in rows.items() if i != 0),
        key=lambda t: (-t[0], t[1]),
    )[:3]
    assert [(n, c) for _, n, c in [(r, n, c) for r, n, c in got]] == [
        (i, c) for c, i in want
    ]


def test_ann_variants_are_well_formed_and_consistent(spark):
    emb = _emb(spark).cache()
    q = emb.where("vec_id < 5")
    brute = brute_force_topk(emb, q, k=5)
    top1 = {r["query_id"]: r["cos_sim"] for r in brute.where("rank = 1").collect()}
    for variant in (ann_lsh_topk(emb, q, k=5), ann_ivf_topk(emb, q, k=5)):
        rows = variant.collect()
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        for qid, rs in by_q.items():
            ranks = sorted(r["rank"] for r in rs)
            assert ranks == list(range(1, len(rs) + 1))  # contiguous ranks
            # approximate scores can never beat the exact best
            assert max(r["cos_sim"] for r in rs) <= top1[qid] + 1e-9
            assert all(r["neighbor_id"] != qid for r in rs)


def test_embedding_neardup_nonempty_and_exact_subset(spark):
    """De-vacuation guard (round-1 verdict): the bucket-local near-dup pair
    set must be NON-EMPTY on the test corpus, every emitted pair must appear
    in the exact all-pairs result at the same threshold, and recall vs the
    exact set must clear a floor (hyperplane LSH with 6 planes keeps
    high-cosine pairs together with good probability)."""
    from kafka_connect_tablestore_spark.operators.similarity import (
        cosine,
        embedding_neardup_pairs,
    )

    emb = _emb(spark).cache()
    got = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_neardup_pairs(emb, threshold=0.35).collect()
    }
    assert len(got) > 0, "threshold/data must produce a non-empty pair set"

    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").cast("array<double>").alias("va"))
    c = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").cast("array<double>").alias("vb"))
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in a.join(c, F.col("vec_a") < F.col("vec_b"))
        .where(F.round(cosine(F.col("va"), F.col("vb")), 4) >= 0.35)
        .select("vec_a", "vec_b")
        .collect()
    }
    assert got <= exact, f"bucket-local pairs must be a subset of exact: {got - exact}"
    recall = len(got) / len(exact)
    assert recall >= 0.2, f"LSH recall {recall:.2f} below floor (got {len(got)}/{len(exact)})"


def test_ivf_kmeans_trainer_deterministic_and_effective(spark):
    """Sampled-k-means IVF (the at-scale quantizer): deterministic across
    runs, well-formed top-k, and recall vs exact no worse than the
    first-n-vectors quantizer on the same corpus."""
    from kafka_connect_tablestore_spark.operators.similarity import (
        ann_ivf_topk,
        brute_force_topk,
        train_ivf_centroids,
    )

    df = _emb(spark)
    # fair queries: NOT the first-n vectors — under train='first' those ARE
    # the centroids, which inflates that quantizer's recall artificially
    queries = df.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 110))

    c1 = train_ivf_centroids(df, n_cells=8, sample_size=256, iters=3)
    c2 = train_ivf_centroids(df, n_cells=8, sample_size=256, iters=3)
    assert c1 == c2  # bit-identical across runs

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(df, queries, k=5).collect()
    }

    def run(train):
        got = ann_ivf_topk(df, queries, k=5, n_cells=8, nprobe=2, train=train)
        rows = got.collect()
        # well-formed: <=k per query, ranks dense from 1
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r["rank"])
        for ranks in by_q.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))
        return len({(r["query_id"], r["neighbor_id"]) for r in rows} & exact) / len(exact)

    def max_cell_share(centroids):
        from kafka_connect_tablestore_spark.operators.similarity import ivf_assign

        counts = [
            r["n"]
            for r in df.select(ivf_assign(F.col("embedding"), centroids).alias("c"))
            .groupBy("c").agg(F.count(F.lit(1)).alias("n")).collect()
        ]
        return max(counts) / sum(counts)

    # scale properties the spherical trainer buys: balanced cells (a probe
    # reads ~nprobe/n_cells of the corpus) and better cosine recall than the
    # first-n quantizer at the same probe budget (measured 0.58 vs 0.32)
    assert max_cell_share(c1) < 0.45
    assert run("kmeans") > run("first")


def test_kmeans_seeding_separates_clustered_blobs(spark):
    """Round-4 directive 5: farthest-first (k-means++-style) seeding must
    not collapse cells on clustered data.  Four tight directional blobs,
    sample-ordered so naive first-n seeding would draw every seed from
    blob 0; the trainer must still give each blob its own cell (balanced
    populations), deterministically."""
    import random

    from kafka_connect_tablestore_spark.operators.similarity import (
        ivf_assign,
        train_ivf_centroids,
    )

    rng = random.Random(9)
    axes = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
    ]
    rows = []
    for i in range(400):
        a = axes[i % 4]
        rows.append(
            (i, [c + rng.uniform(-0.05, 0.05) for c in a])
        )
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    c1 = train_ivf_centroids(d, n_cells=4, sample_size=128, iters=3)
    c2 = train_ivf_centroids(d, n_cells=4, sample_size=128, iters=3)
    assert c1 == c2  # deterministic
    counts = [
        r["n"]
        for r in d.select(ivf_assign(F.col("embedding"), c1).alias("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    # every blob gets a cell; populations balanced (exactly 100 each up to
    # boundary noise — ratio bound leaves slack)
    assert len(counts) == 4
    assert max(counts) / min(counts) < 1.5


def test_ivf_indexed_matches_inmemory_and_prunes(spark, tmp_path):
    """The persisted inverted file (build_ivf_index + ann_ivf_indexed_topk)
    returns exactly the in-memory ann_ivf_topk results, and the index scan
    is partition-pruned to the probed cells only."""
    from kafka_connect_tablestore_spark.operators.similarity import (
        ann_ivf_indexed_topk,
        ann_ivf_topk,
        build_ivf_index,
    )

    df = _emb(spark)
    queries = df.where(F.col("vec_id") < 5)
    idx = str(tmp_path / "ivf_index")
    cents = build_ivf_index(df, idx, n_cells=8, train="first")

    got = ann_ivf_indexed_topk(spark, idx, cents, queries, k=5, nprobe=2)
    want = ann_ivf_topk(df, queries, k=5, nprobe=2, n_cells=8, train="first")
    key = lambda d: {(r["query_id"], r["rank"], r["neighbor_id"], r["cos_sim"]) for r in d.collect()}
    assert key(got) == key(want) and len(key(got)) > 0

    # partition pruning: the scan lists only the probed cell directories
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
    assert m and ("cell" in m.group(0)) and ("isnotnull" in m.group(0) or "IN" in m.group(0).upper())


def test_semantic_dedup_first_seen_wins(spark):
    from kafka_connect_tablestore_spark.operators.similarity import semantic_dedup

    # ids 1-2 are the (orthogonal) centroid seeds; 3-4 are a near-dup pair
    # in cell 0 (each ~0.91 cosine to the seed — below threshold, ~0.9998
    # to each other); 5 sits alone in cell 1 at ~0.92 to its seed
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.70, 0.30, 0.0, 0.0]),
        (4, [0.69, 0.31, 0.0, 0.0]),
        (5, [0.35, 0.80, 0.0, 0.0]),
    ]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r["is_survivor"]
        for r in semantic_dedup(d, threshold=0.95, n_cells=2).collect()
    }
    assert out[3] is True           # first of the near-dup pair survives
    assert out[4] is False          # dominated by 3 (same cell, cos ~1)
    assert out[1] is True and out[2] is True and out[5] is True
    assert len(out) == 5            # every vector classified


def test_semantic_dedup_greedy_chain_keeps_endpoints(spark):
    """The chain contract (round-3 verdict): a–b–c with cos(a,b) ≥ t,
    cos(b,c) ≥ t, cos(a,c) < t.  Greedy (survivor-restricted) keeps {a, c}
    — b is dropped by a, so a dropped b cannot drop c.  One-shot
    neighbor-dominance over-deletes to {a} only."""
    from kafka_connect_tablestore_spark.operators.similarity import semantic_dedup

    deg = math.pi / 180.0
    vec = lambda th: [math.cos(th * deg), math.sin(th * deg)]
    # cos(25°) ≈ 0.906 ≥ 0.9 between neighbors; cos(50°) ≈ 0.643 < 0.9
    rows = [(1, vec(0.0)), (2, vec(25.0)), (3, vec(50.0))]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    greedy = {
        r["vec_id"]: r["is_survivor"]
        for r in semantic_dedup(d, threshold=0.9, n_cells=1).collect()
    }
    assert greedy == {1: True, 2: False, 3: True}

    dom = {
        r["vec_id"]: r["is_survivor"]
        for r in semantic_dedup(
            d, threshold=0.9, n_cells=1, mode="dominance"
        ).collect()
    }
    assert dom == {1: True, 2: False, 3: False}


def test_semantic_dedup_greedy_deep_chain_alternates(spark):
    """A 6-deep dominance chain (each link ≥ t, skips < t) must alternate
    keep/drop — exercises multiple fixpoint rounds, not just one."""
    from kafka_connect_tablestore_spark.operators.similarity import semantic_dedup

    deg = math.pi / 180.0
    vec = lambda th: [math.cos(th * deg), math.sin(th * deg)]
    rows = [(i, vec(25.0 * i)) for i in range(6)]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r["is_survivor"]
        for r in semantic_dedup(d, threshold=0.9, n_cells=1).collect()
    }
    assert out == {0: True, 1: False, 2: True, 3: False, 4: True, 5: False}


def test_semantic_dedup_deterministic_under_repartition(spark):
    import random

    rng = random.Random(5)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)
    ]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from kafka_connect_tablestore_spark.operators.similarity import semantic_dedup

    a = sorted(map(tuple, semantic_dedup(d, threshold=0.8, n_cells=4).collect()))
    b = sorted(
        map(tuple, semantic_dedup(d.repartition(7), threshold=0.8, n_cells=4).collect())
    )
    assert a == b


def test_multiprobe_lsh_recall_dominates_single_probe(spark):
    """Multi-probe LSH (probe_bits>0) must be a candidate-superset of
    single-probe on the same plane family — its recall vs exact top-k can
    only improve — and stay well-formed (dense ranks, <=k per query)."""
    df = _emb(spark)
    queries = df.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 115))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(df, queries, k=5).collect()
    }

    def run(probe_bits):
        rows = ann_lsh_topk(df, queries, k=5, probe_bits=probe_bits).collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r["rank"])
        for ranks in by_q.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))
        return len({(r["query_id"], r["neighbor_id"]) for r in rows} & exact) / len(exact)

    r0, r2 = run(0), run(2)
    assert r2 >= r0  # superset candidates can only help
    import pytest as _pytest

    with _pytest.raises(ValueError, match="probe_bits"):
        ann_lsh_topk(df, queries, k=5, probe_bits=7)


def test_semantic_dedup_greedy_matches_python_reference(spark):
    """Property check for the survivor-restricted rule: on random vector
    sets the distributed fixpoint must equal a sequential pure-Python
    greedy keep-scan (same 'first'-mode centroids, same left-fold float
    arithmetic, id order within each cell)."""
    import random

    from kafka_connect_tablestore_spark.operators.similarity import semantic_dedup

    def dot(a, b):  # left fold, matching the Catalyst aggregate's order
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        vecs = {
            i: [rng.uniform(-1, 1) for _ in range(6)] for i in range(120)
        }
        n_cells, thr = 4, 0.75
        cents = [vecs[i] for i in sorted(vecs)[:n_cells]]

        def cell_of(v):
            vv = dot(v, v)
            dists = [(vv - 2.0 * dot(v, c)) + dot(c, c) for c in cents]
            return min(range(n_cells), key=lambda i: (dists[i], i))

        # sequential greedy keep-scan per cell, id order
        survivors = set()
        by_cell: dict[int, list[int]] = {}
        for i in sorted(vecs):
            by_cell.setdefault(cell_of(vecs[i]), []).append(i)
        for members in by_cell.values():
            kept: list[int] = []
            for i in members:
                vi, ni = vecs[i], dot(vecs[i], vecs[i]) ** 0.5
                if all(
                    dot(vecs[j], vi) / (dot(vecs[j], vecs[j]) ** 0.5 * ni) < thr
                    for j in kept
                ):
                    kept.append(i)
            survivors.update(kept)

        # float32 storage (the table schema) then cast back to double —
        # mirror that in the reference by round-tripping through float32
        import struct

        f32 = lambda x: struct.unpack("f", struct.pack("f", x))[0]
        d = spark.createDataFrame(
            [(i, [f32(x) for x in v]) for i, v in vecs.items()],
            "vec_id long, embedding array<float>",
        )
        # recompute the reference on the float32-rounded values
        vecs = {i: [f32(x) for x in v] for i, v in vecs.items()}
        cents = [vecs[i] for i in sorted(vecs)[:n_cells]]
        survivors = set()
        by_cell = {}
        for i in sorted(vecs):
            by_cell.setdefault(cell_of(vecs[i]), []).append(i)
        for members in by_cell.values():
            kept = []
            for i in members:
                vi, ni = vecs[i], dot(vecs[i], vecs[i]) ** 0.5
                if all(
                    dot(vecs[j], vi) / (dot(vecs[j], vecs[j]) ** 0.5 * ni) < thr
                    for j in kept
                ):
                    kept.append(i)
            survivors.update(kept)

        got = {
            r["vec_id"]
            for r in semantic_dedup(d, threshold=thr, n_cells=n_cells)
            .where("is_survivor")
            .collect()
        }
        assert got == survivors, f"seed {seed}: {got ^ survivors}"


def test_pq_encode_and_recall(spark):
    """PQ-ADC: codes are m small ints (deterministic under repartition),
    the kmeans codebooks quantize better than first-n (lower total
    squared reconstruction error), and ADC top-k keeps usable recall vs
    exact cosine."""
    from kafka_connect_tablestore_spark.operators.similarity import (
        ann_pq_topk,
        pq_encode,
        train_pq_codebooks,
    )

    df = _emb(spark)
    books = train_pq_codebooks(df, m=4, n_codes=16, dim=64, train="first")
    assert len(books) == 4 and all(len(b) == 16 for b in books)
    assert all(len(c) == 16 for b in books for c in b)

    codes1 = {
        r["vec_id"]: r["c"]
        for r in df.select("vec_id", pq_encode(F.col("embedding"), books).alias("c")).collect()
    }
    codes2 = {
        r["vec_id"]: r["c"]
        for r in df.repartition(7)
        .select("vec_id", pq_encode(F.col("embedding"), books).alias("c"))
        .collect()
    }
    assert codes1 == codes2
    assert all(len(c) == 4 and all(0 <= x < 16 for x in c) for c in codes1.values())

    # kmeans codebooks: deterministic and better quantization than first-n
    import math

    kb1 = train_pq_codebooks(df, m=4, n_codes=16, dim=64, train="kmeans")
    kb2 = train_pq_codebooks(df, m=4, n_codes=16, dim=64, train="kmeans")
    assert kb1 == kb2

    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in df.collect()}

    def sqerr(books_):
        codes = {
            r["vec_id"]: r["c"]
            for r in df.select(
                "vec_id", pq_encode(F.col("embedding"), books_).alias("c")
            ).collect()
        }
        tot = 0.0
        for i, v in vecs.items():
            for j in range(4):
                cw = books_[j][codes[i][j]]
                tot += sum(
                    (v[j * 16 + t] - cw[t]) ** 2 for t in range(16)
                )
        return tot

    assert sqerr(kb1) < sqerr(books)

    # recall vs exact cosine: more subspaces = finer codes = higher recall
    # (the PQ fidelity dial; these embeddings are near-random 64-dim, so
    # absolute recall is inherently modest — the DIAL is the contract)
    queries = df.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 110))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(df, queries, k=5).collect()
    }

    def recall(m_):
        got = ann_pq_topk(
            df, queries, k=5, m=m_, n_codes=16, dim=64, train="kmeans"
        ).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append(r["rank"])
        for ranks in by_q.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))
        return len(
            {(r["query_id"], r["neighbor_id"]) for r in got} & exact
        ) / len(exact)

    r4, r16 = recall(4), recall(16)
    assert r16 >= 0.25, f"PQ m=16 recall {r16:.2f} below floor"
    assert r16 > r4, f"finer codes must lift recall ({r16:.2f} vs {r4:.2f})"


def test_ivfpq_indexed_matches_inmemory_and_prunes(spark, tmp_path):
    """The persisted IVF-PQ index (codes + stored reconstruction norm,
    partitioned by cell) must reproduce the in-memory computation built
    from the same primitives (cell assign → probe → ADC score → rank),
    and its scan must be partition-pruned to the probed cells."""
    from pyspark.sql import Window

    from kafka_connect_tablestore_spark.operators.similarity import (
        _norm,
        _pq_score,
        ann_ivfpq_indexed_topk,
        build_ivfpq_index,
        ivf_assign,
        ivf_probe_cells,
        pq_encode,
    )

    df = _emb(spark)
    idx = str(tmp_path / "ivfpq")
    meta = build_ivfpq_index(
        df, idx, n_cells=8, m=8, n_codes=16, dim=64, train="first",
        encode="raw",  # the in-memory twin below reconstructs the raw form
    )
    queries = df.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 105))
    got = ann_ivfpq_indexed_topk(spark, idx, meta, queries, k=5, nprobe=2)
    got_set = {
        (r["query_id"], r["rank"], r["neighbor_id"], r["pq_cos"])
        for r in got.collect()
    }

    # independent in-memory reconstruction from the same primitives
    books, cents = meta["codebooks"], meta["centroids"]
    vd = F.col("embedding").cast("array<double>")
    corpus = df.select(
        F.col("vec_id").alias("neighbor_id"),
        pq_encode(F.col("embedding"), books).alias("codes"),
        ivf_assign(F.col("embedding"), cents).alias("cell"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.slice(vd, 1, 64).alias("qv"),
        ivf_probe_cells(F.col("embedding"), cents, 2).alias("_p"),
    ).withColumn("cell", F.explode("_p")).drop("_p")
    ip, rn = _pq_score(F.col("qv"), F.col("codes"), books)
    scored = (
        corpus.join(F.broadcast(q), ["cell"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(ip / (_norm(F.col("qv")) * rn), 4).alias("pq_cos"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("pq_cos"), F.asc("neighbor_id"))
    want_set = {
        (r["query_id"], r["rank"], r["neighbor_id"], r["pq_cos"])
        for r in scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .collect()
    }
    assert got_set == want_set and len(got_set) > 0

    # partition pruning on the index scan
    probed = sorted(
        {r["c"] for r in q.select(F.col("cell").alias("c")).distinct().collect()}
    )
    plan = (
        spark.read.parquet(idx)
        .where(F.col("cell").isin(probed))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "cell" in plan


def _clustered_corpus(spark, n_clusters=16, per_cluster=40, dim=16):
    """The corpus shape where IVFADC residual encoding pays: many
    well-separated directional blobs (16 centers > 8 codewords, so raw
    codebooks burn all their resolution telling cells apart) whose members
    spread along ONE shared drift direction (a low-dimensional, finely
    quantizable residual), with center norms small enough that exact
    cosine gaps clear the scorer's 4-decimal rounding."""
    import random

    rng = random.Random(17)
    rows = []
    d = [rng.uniform(-1, 1) for _ in range(dim)]
    nd = sum(x * x for x in d) ** 0.5
    d = [x / nd for x in d]
    for g in range(n_clusters):
        c = [rng.choice([-1.0, 1.0]) for _ in range(dim)]
        for i in range(per_cluster):
            t = rng.uniform(-2.0, 2.0)
            rows.append(
                (
                    g * per_cluster + i,
                    [
                        c[k] + t * d[k] + rng.uniform(-0.05, 0.05)
                        for k in range(dim)
                    ],
                )
            )
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivfpq_residual_encoding_matches_inmemory_twin(spark, tmp_path):
    """encode='residual' (the round-5 IVFADC fix): the persisted index must
    equal an independent in-memory reconstruction of the spherical residual
    math — codes over x/|x| − ĉ (unit centroid), stored |ĉ + r̂| norm,
    query-side ⟨q, ĉ⟩ add-back."""
    from pyspark.sql import Window

    from kafka_connect_tablestore_spark.operators.similarity import (
        _dot,
        _norm,
        _pq_recon_norm_with_centroid,
        _pq_score,
        _unit_list,
        ann_ivfpq_indexed_topk,
        build_ivfpq_index,
        ivf_assign,
        ivf_probe_cells,
        pq_encode,
    )

    df = _clustered_corpus(spark, dim=16)
    idx = str(tmp_path / "ivfpq_res")
    meta = build_ivfpq_index(
        df, idx, n_cells=8, m=4, n_codes=16, dim=16, train="first"
    )
    assert meta["encode"] == "residual"
    queries = df.where(F.col("vec_id") < 5)
    got = {
        (r["query_id"], r["rank"], r["neighbor_id"], r["pq_cos"])
        for r in ann_ivfpq_indexed_topk(
            spark, idx, meta, queries, k=5, nprobe=2
        ).collect()
    }

    books, cents = meta["codebooks"], meta["centroids"]
    cl = F.lit([_unit_list([float(x) for x in c][:16]) for c in cents])
    vd = F.col("embedding").cast("array<double>")
    cell = ivf_assign(F.col("embedding"), cents)
    carr = F.element_at(cl, cell + 1)
    xs = F.slice(vd, 1, 16)
    xn = _norm(xs)
    uv = F.transform(xs, lambda x: x / F.when(xn > 0, xn).otherwise(F.lit(1.0)))
    resid = F.zip_with(uv, carr, lambda x, y: x - y)
    codes = pq_encode(resid, books)
    corpus = df.select(
        F.col("vec_id").alias("neighbor_id"),
        codes.alias("codes"),
        _pq_recon_norm_with_centroid(codes, books, carr).alias("rn"),
        cell.alias("cell"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.slice(vd, 1, 16).alias("qv"),
        ivf_probe_cells(F.col("embedding"), cents, 2).alias("_p"),
    ).withColumn("cell", F.explode("_p")).drop("_p")
    ip, _ = _pq_score(F.col("qv"), F.col("codes"), books)
    ip = ip + _dot(F.col("qv"), F.element_at(cl, F.col("cell") + 1))
    scored = (
        corpus.join(F.broadcast(q), ["cell"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(ip / (_norm(F.col("qv")) * F.col("rn")), 4).alias("pq_cos"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("pq_cos"), F.asc("neighbor_id")
    )
    want = {
        (r["query_id"], r["rank"], r["neighbor_id"], r["pq_cos"])
        for r in scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .collect()
    }
    assert got == want and len(got) > 0


def test_ivfpq_residual_beats_raw_recall_on_clustered_corpus(spark, tmp_path):
    """The point of residual encoding: at the same m/n_codes, quantizing
    x/|x| − ĉ spends the codebooks' resolution on the small within-cell
    angular displacement instead of re-describing the cell position (16
    centers vs 8 codewords — raw codebooks can't even name the cells), so
    recall vs exact cosine must be strictly higher on a clustered corpus.
    Every input (corpus seed, trainers, tie-breaks) is deterministic, so
    the measured gap is stable: 0.625 vs 0.300 at this configuration."""
    from kafka_connect_tablestore_spark.operators.similarity import (
        ann_ivfpq_indexed_topk,
        brute_force_topk,
        build_ivfpq_index,
    )

    df = _clustered_corpus(spark, dim=16).cache()
    queries = df.where(F.col("vec_id") < 16)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(df, queries, k=5).collect()
    }

    def recall(encode):
        idx = str(tmp_path / f"ivfpq_{encode}")
        meta = build_ivfpq_index(
            df, idx, n_cells=16, m=4, n_codes=8, dim=16,
            train="kmeans", encode=encode,
        )
        got = ann_ivfpq_indexed_topk(
            spark, idx, meta, queries, k=5, nprobe=3
        ).collect()
        return len(
            {(r["query_id"], r["neighbor_id"]) for r in got} & exact
        ) / len(exact)

    r_res, r_raw = recall("residual"), recall("raw")
    assert r_res > r_raw + 0.1, (
        f"residual encoding must lift recall on clustered data "
        f"({r_res:.3f} vs raw {r_raw:.3f})"
    )
    assert r_res >= 0.5, f"residual recall {r_res:.3f} below floor"


def test_ann_ivfpq_topk_matches_indexed_variant(spark, tmp_path):
    """The one-shot in-memory spherical IVFADC (`ann_ivfpq_topk`) and the
    persisted-index path must produce identical rows at identical params —
    one math, two storage strategies."""
    from kafka_connect_tablestore_spark.operators.similarity import (
        ann_ivfpq_indexed_topk,
        ann_ivfpq_topk,
        build_ivfpq_index,
    )

    df = _clustered_corpus(spark, dim=16)
    queries = df.where(F.col("vec_id") < 5)
    mem = {
        (r["query_id"], r["rank"], r["neighbor_id"], r["pq_cos"])
        for r in ann_ivfpq_topk(
            df, queries, k=5, n_cells=8, m=4, n_codes=16, dim=16,
            nprobe=2, train="first",
        ).collect()
    }
    idx = str(tmp_path / "ivfpq_mem_eq")
    meta = build_ivfpq_index(
        df, idx, n_cells=8, m=4, n_codes=16, dim=16, train="first"
    )
    want = {
        (r["query_id"], r["rank"], r["neighbor_id"], r["pq_cos"])
        for r in ann_ivfpq_indexed_topk(
            spark, idx, meta, queries, k=5, nprobe=2
        ).collect()
    }
    assert mem == want and len(mem) == 25


def test_ivf_family_probe_plans_carry_no_pair_dedup_shuffle(spark, tmp_path):
    """The cell equijoin cannot produce duplicate (query, neighbor) pairs —
    each corpus vector lives in exactly one cell and a query's probe cells
    are distinct — so NO probe path may carry a dedup aggregate keyed on
    the pair, and the broadcast-query paths must carry exactly ONE hash
    exchange (the top-k window's).  knn_graph keeps its distributed
    cell-join exchanges but must be equally dedup-free."""
    from kafka_connect_tablestore_spark.operators.similarity import (
        ann_ivf_indexed_topk,
        ann_ivf_topk,
        ann_ivfpq_indexed_topk,
        ann_ivfpq_topk,
        build_ivf_index,
        build_ivfpq_index,
        knn_graph,
    )

    df = _clustered_corpus(spark, dim=16)
    queries = df.where(F.col("vec_id") < 5)

    def final_plan(frame):
        frame.count()  # materialize AQE's final plan
        s = frame._jdf.queryExecution().executedPlan().toString()
        return s.split("== Initial Plan ==")[0]  # AQE prints both plans

    ivf_idx = str(tmp_path / "ivf_plan_probe")
    cents = build_ivf_index(df, ivf_idx, n_cells=8, train="first")
    pq_idx = str(tmp_path / "ivfpq_plan_probe")
    meta = build_ivfpq_index(
        df, pq_idx, n_cells=8, m=4, n_codes=16, dim=16, train="first",
    )
    broadcast_probe_paths = [
        ann_ivf_topk(df, queries, k=5),
        ann_ivfpq_topk(
            df, queries, k=5, n_cells=8, m=4, n_codes=16, dim=16,
            nprobe=2, train="first",
        ),
        ann_ivf_indexed_topk(spark, ivf_idx, cents, queries, k=5, nprobe=2),
        ann_ivfpq_indexed_topk(spark, pq_idx, meta, queries, k=5, nprobe=2),
    ]
    for frame in broadcast_probe_paths:
        plan = final_plan(frame)
        # no dedup aggregate on the candidate pair anywhere in the plan
        assert "keys=[query_id" not in plan
        # exactly the top-k window's shuffle, no more and no fewer
        assert plan.count("Exchange hashpartitioning") == 1, plan[:400]

    graph_plan = final_plan(knn_graph(df, k=3, n_cells=8, train="first"))
    assert "keys=[query_id" not in graph_plan  # distributed join, still dedup-free


def test_lit_vec_and_mat_render_nan_and_inf_like_f_lit(spark):
    """The SQL-parser literal path must carry NaN/±Inf as values (a bare
    ``nanD``/``infD`` would parse as a column name) and evaluate to the
    same doubles as ``F.lit``; finite values keep their ``repr(x)D`` text."""
    from kafka_connect_tablestore_spark.operators.similarity import (
        _lit_mat,
        _lit_vec,
        _sql_double,
    )

    vec = [1.5, float("nan"), float("inf"), -float("inf"), -0.25]
    mat = [[float("nan"), 2.0], [-float("inf"), float("inf")]]
    row = spark.range(1).select(
        _lit_vec(vec).alias("v"),
        _lit_mat(mat).alias("m"),
        F.array(*[F.lit(x) for x in vec]).alias("v_lit"),
        F.array(*[F.array(*[F.lit(x) for x in r]) for r in mat]).alias("m_lit"),
    ).first()

    def same(a, b):
        return len(a) == len(b) and all(
            (math.isnan(x) and math.isnan(y)) or x == y for x, y in zip(a, b)
        )

    assert same(row["v"], vec) and same(row["v"], row["v_lit"])
    assert all(same(g, w) for g, w in zip(row["m"], mat)) and len(row["m"]) == 2
    assert all(same(g, w) for g, w in zip(row["m"], row["m_lit"]))
    assert [_sql_double(x) for x in (0.1, -3.0, 1e300)] == ["0.1D", "-3.0D", "1e+300D"]


def _tie_corpus(spark):
    """dim=4 corpus whose first two vectors are the 'first' coarse centroids
    and whose third sits at exactly equal distance from both — the
    first-min argmin tie the driver-side replay must break like
    ``ivf_assign`` (lowest cell)."""
    vecs = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [1.0, 1.0, 0.0, 0.0],  # tie: equidistant from cells 0 and 1
        [0.5, -0.25, 2.0, 1.0],
        [0.2, 0.9, -0.3, 0.1],
        [-1.0, 0.4, 0.3, 0.7],
        [0.3, 0.3, 0.3, -0.9],
        [0.8, -0.6, 0.1, 0.2],
    ]
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )


def test_ann_ivfpq_first_replay_matches_expression_side_codebooks(
    spark, monkeypatch
):
    """``ann_ivfpq_topk(train='first')`` derives its PQ codebooks on the
    driver from one collect; they must equal, bit for bit, the codebooks
    ``train_pq_codebooks(train='first')`` builds from the expression-side
    (residual or raw) vectors, for both encode modes."""
    from kafka_connect_tablestore_spark.operators import similarity as sim

    df = _tie_corpus(spark).cache()
    n_cells, m, n_codes, dim = 2, 2, 4, 4
    centroids = [
        [float(x) for x in r["embedding"]]
        for r in df.orderBy("vec_id").limit(n_cells).collect()
    ]
    cell = df.where("vec_id = 2").select(
        sim.ivf_assign(F.col("embedding"), centroids).alias("c")
    ).first()["c"]
    assert cell == 0  # the fixture really exercises the tie

    real_plan = sim._ivfpq_corpus_plan
    for encode in ("residual", "raw"):
        seen = []

        def spy(*args, **kwargs):
            seen.append(kwargs["codebooks"])
            return real_plan(*args, **kwargs)

        monkeypatch.setattr(sim, "_ivfpq_corpus_plan", spy)
        sim.ann_ivfpq_topk(
            df, df.where("vec_id < 2"), k=2, n_cells=n_cells, m=m,
            n_codes=n_codes, dim=dim, nprobe=1, train="first", encode=encode,
        )
        monkeypatch.setattr(sim, "_ivfpq_corpus_plan", real_plan)
        _, want = real_plan(
            df, centroids, m, n_codes, dim, "vec_id", "embedding", "first",
            encode,
        )
        assert seen == [want], encode
