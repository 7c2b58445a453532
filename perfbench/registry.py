"""The ``query_registry`` workload: registry queries from
``__spark_entry__.queries()``, each built and then run to a noop sink.

The queries read tables this module generates from the seed, fitted to
the measured properties of the repository's sf0.01 test data (listed in
``perfbench/README.md``): 500 documents (words from a 30-word vocabulary,
25 near-duplicates), 500 unit 64-d embeddings with 10 labels that carry no
geometry, and 10,000 events. No lake is written.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks
from perfbench.harness import Run, log, median, noop, warm_up

#: the registry's largest plan build per leaf (ROADMAP item 5), and the
#: CDC family's flagship fold; a warm pass of both takes about 3 s on 4
#: cores, so a 10 s window times at least three passes
QUERIES = (
    "pipe_ann_ivfpq",
    "cdc_final_state",
)
TABLES = ("documents", "embeddings", "events")
VOCAB = (
    "a the data row column table key value part line customer order query "
    "scan join filter sort merge group agg hash window batch stream spark "
    "vector big small fast slow"
).split()


@dataclass(frozen=True)
class RegistrySizes:
    queries: tuple[str, ...]
    documents: int
    embeddings: int
    events: int
    setup_reps: int
    warm_min: int
    warm_max: int
    min_passes: int  # timed passes, however long they take


FULL = RegistrySizes(
    queries=QUERIES,
    documents=500,
    embeddings=500,
    events=10_000,
    setup_reps=3,
    warm_min=3,
    warm_max=10,
    min_passes=3,
)


def write_tables(sf_dir, seed: int, sizes: RegistrySizes) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)

    n = sizes.documents
    texts = [
        " ".join(rng.choice(VOCAB, size=int(rng.integers(10, 100))))
        for _ in range(n)
    ]
    # near-duplicates: a document's text plus " dup", anywhere in the table
    dups = rng.choice(n, size=n // 20, replace=False)
    originals = rng.choice(np.setdiff1d(np.arange(n), dups), size=len(dups))
    for j, i in zip(dups, originals):
        texts[j] = texts[i] + " dup"
    langs = rng.choice(["en", "zh", "es", "de", "fr"], size=n, p=[0.44, 0.15, 0.15, 0.14, 0.12])
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": texts,
                "lang": langs.tolist(),
                "source": [f"src{i % 20}" for i in range(n)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )

    # labels carry no geometry: in sf0.01 each label's centroid has the
    # norm of a mean of random unit vectors
    m, dim = sizes.embeddings, 64
    labels = rng.integers(0, 10, size=m)
    vecs = rng.normal(size=(m, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(m), pa.int64()),
                "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )

    e = sizes.events
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, size=e))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(e), pa.int64()),
                "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, 150, size=e), pa.int64()),
                "event_type": rng.choice(
                    ["signup", "error", "click", "view", "purchase"], size=e
                ).tolist(),
                "value": np.round(rng.exponential(50.0, size=e) + 0.01, 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=e)],
            }
        ),
        os.path.join(sf_dir, "events.parquet"),
    )


def query_registry(run: Run, sizes: RegistrySizes = FULL) -> list[tuple[float, float, str]]:
    """Set-up generates the tables, builds the registry and computes each
    query's DuckDB oracle answer. A check pass then collects every query
    and compares it with that answer; untimed noop passes follow until
    three successive pass times agree within 5%; then passes are timed for
    ``run.seconds``, and at least ``sizes.min_passes``.
    Returns one ``(start, end, "<pass>:<build|run>:<query>")`` window per
    timed build and run."""
    import __spark_entry__ as em

    spark, tr = run.spark, run.tracer
    sf = run.work / "sf"
    run.sizes.update(
        queries=len(sizes.queries),
        documents=sizes.documents,
        embeddings=sizes.embeddings,
        events=sizes.events,
    )
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    registry, expected = None, {}

    def setup():
        nonlocal registry
        write_tables(sf, run.seed, sizes)
        for t in TABLES:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
            )
        registry = em.queries()
        oracles = em.oracle_sql()
        for name in sizes.queries:
            expected[name] = checks.oracle_answer(con, oracles[name])

    for _ in range(sizes.setup_reps):
        t0 = time.perf_counter()
        setup()
        run.setup_s.append(time.perf_counter() - t0)

    def check_pass() -> float:
        t0 = time.perf_counter()
        for name in sizes.queries:
            try:
                df = registry[name](spark, str(sf))
                rows = [r.asDict(recursive=True) for r in df.collect()]
                ok = checks.same_answer(df.columns, rows, expected[name])
            except Exception:
                log.exception("query %s failed", name)
                ok = False
            run.outcome(ok, f"{name} equals its oracle")
        return time.perf_counter() - t0

    windows: list[tuple[float, float, str]] = []
    per_query: dict[str, dict[str, list[float]]] = {
        q: {"build": [], "run": []} for q in sizes.queries
    }
    passes: list[float] = []
    pass_runs: list[float] = []

    def one_pass(timed_pass: bool) -> float:
        p = len(passes) if timed_pass else -1
        t_pass = time.perf_counter()
        runs = 0.0
        for name in sizes.queries:
            bid = f"pass{p}:{name}"
            try:
                with tr.span("registry.build", batch=bid):
                    t0 = time.time()
                    df = registry[name](spark, str(sf))
                    t1 = time.time()
                with tr.span("registry.run", batch=bid):
                    noop(df)
                    t2 = time.time()
            except Exception:
                log.exception("query %s failed", name)
                if timed_pass:
                    run.outcome(False, name)
                continue
            runs += t2 - t1
            if timed_pass:
                run.outcome(True, name)
                per_query[name]["build"].append(t1 - t0)
                per_query[name]["run"].append(t2 - t1)
                windows.extend([(t0, t1, f"{p}:build:{name}"), (t1, t2, f"{p}:run:{name}")])
        if timed_pass:
            pass_runs.append(runs)
        return time.perf_counter() - t_pass

    run.sizes["check_pass_s"] = round(check_pass(), 3)
    run.warmup_s = warm_up(lambda: one_pass(False), sizes.warm_min, sizes.warm_max, tol=0.05)
    # at least min_passes, so that on a slow host too one disturbed pass
    # cannot move the median
    jvm = spark.sparkContext._jvm
    begin = time.perf_counter()
    while len(passes) < sizes.min_passes or time.perf_counter() - begin < run.seconds:
        jvm.java.lang.System.gc()  # start every pass on a collected heap
        passes.append(one_pass(True))

    q_total = {q: median([b + r for b, r in zip(v["build"], v["run"])]) for q, v in per_query.items()}
    # a pass is the workload's operation; its reads are the run phases
    run.op_s = passes
    run.read_s = pass_runs
    totals = sorted(q_total.values())
    run.named["registry_s"] = (median(passes), "s")
    run.named["query_p50_s"] = (median(totals), "s")
    run.named["query_p90_s"] = (float(np.percentile(totals, 90)) if totals else 0.0, "s")
    run.sizes.update(timed_passes=len(passes))
    for q, v in per_query.items():
        run.layers[f"query.{q}.build_s"] = median(v["build"])
        run.layers[f"query.{q}.run_s"] = median(v["run"])
    run.layers["registry.build_s"] = sum(median(v["build"]) for v in per_query.values())
    run.layers["registry.run_s"] = sum(median(v["run"]) for v in per_query.values())
    run.layers["registry.cdc_s"] = sum(t for q, t in q_total.items() if q.startswith("cdc_"))
    run.layers["registry.pipe_s"] = sum(t for q, t in q_total.items() if q.startswith("pipe_"))
    return windows


def event_log_layers(windows, event_log) -> dict[str, float]:
    """Median per timed pass of the Spark figures in the event log: job
    counts per query and for the pass's builds and whole pass, and the
    pass's shuffle, spill and GC totals."""
    passes: dict[str, list] = {}
    for start, end, label in windows:
        p, kind, query = label.split(":", 2)
        passes.setdefault(p, []).append((kind, query, event_log.window_stats(start, end)))
    keys = ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s")
    sums: dict[str, list[float]] = {}
    for ws in passes.values():
        totals = {f"spark.{k}": sum(s[k] for _, _, s in ws) for k in keys}
        totals["registry.build_jobs"] = sum(s["jobs"] for kind, _, s in ws if kind == "build")
        totals["registry.jobs"] = sum(s["jobs"] for _, _, s in ws)
        for _, query, s in ws:
            totals[f"query.{query}.jobs"] = totals.get(f"query.{query}.jobs", 0) + s["jobs"]
        for k, v in totals.items():
            sums.setdefault(k, []).append(v)
    return {k: median(v) for k, v in sums.items()}
