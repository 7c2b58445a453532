"""Tests of the benchmark itself: tiny runs of every workload emit every
metric BENCHMARK.json names, with its unit, and pass their checks; and a
lake with one row altered, a dead-letter queue missing a row, a
micro-batch that raises, or a registry output with one value altered each
count as failed operations.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import checks, ingest, registry, run  # noqa: E402

TINY = {
    "steady_merge": ingest.IngestSizes(
        base_events=3000, slice_events=500, n_slices=6,
        p_malformed=0.01, setup_reps=1, warm_min=2, warm_max=2,
    ),
    "query_registry": registry.RegistrySizes(
        queries=("cdc_final_state",), documents=60, embeddings=60,
        events=400, setup_reps=1, warm_min=2, warm_max=2, min_passes=2,
    ),
}
NAMED = {
    "steady_merge": {"setup_s", "events_per_s", "commit_p50_s", "read_p50_s", "write_bytes_per_event", "retained_mb", "failed_frac"},
    "query_registry": {"setup_s", "registry_s", "query_p50_s", "query_p90_s", "retained_mb", "failed_frac"},
}


def _declared() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _execute(tmp_path, workload: str, trace: bool) -> dict:
    work = tmp_path / "work"
    os.makedirs(work)
    try:
        return run.execute(workload, 7, 1.0, trace, work, 2, TINY[workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)


@pytest.mark.parametrize("trace", [False, True])
@pytest.mark.parametrize("workload", list(TINY))
def test_tiny_run_emits_every_metric(tmp_path, workload, trace):
    rec = _execute(tmp_path, workload, trace)
    result = rec["result"]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in _declared()[kind]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert set(rec["named"]) == NAMED[workload]
    assert all(unit for _, unit in rec["named"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def _tamper_lake(monkeypatch):
    """Before each state check, commit one extra UPDATE through the engine
    that changes one row's content, so the lake no longer matches the log."""
    real_state = ingest.CdcEngine.state

    def altered_state(self, version=None):
        row = real_state(self).limit(1).collect()[0]
        ev = self.spark.createDataFrame(
            [("repos", 0, 10**12, 2 * 10**12, "UPDATE", row["repo"], row["path"], None, None, "altered")],
            "topic string, partition int, offset long, commit_ts long, op string, "
            "repo string, path string, commit string, lang string, content string",
        )
        self.apply_batch(ev, f"tamper-{self.table.current_version()}")
        return real_state(self, version)

    monkeypatch.setattr(ingest.CdcEngine, "state", altered_state)


def _drop_dlq_row(monkeypatch):
    """Before the dead-letter check, rewrite one DLQ batch without its
    first row."""
    real_count = checks.dlq_count

    def dropped(table):
        root = os.path.join(table.dir, "dlq")
        part = os.path.join(root, sorted(os.listdir(root))[0])
        df = table.spark.read.parquet(part)
        rows = df.collect()
        table.spark.createDataFrame(rows[1:], df.schema).write.parquet(part + ".new")
        shutil.rmtree(part)
        os.rename(part + ".new", part)
        return real_count(table)

    monkeypatch.setattr(checks, "dlq_count", dropped)


def _fail_one_batch(monkeypatch):
    """Make the first micro-batch after the warm-up raise inside
    ``apply_batch``."""
    real_apply = ingest.CdcEngine.apply_batch

    def failing(self, events, batch_id):
        if batch_id == f"{ingest.STREAM_NAME}-2":
            raise RuntimeError("injected micro-batch failure")
        return real_apply(self, events, batch_id)

    monkeypatch.setattr(ingest.CdcEngine, "apply_batch", failing)


def _alter_query_output(monkeypatch):
    real_same = checks.same_answer

    def altered(cols, rows, oracle):
        rows = [{**rows[0], cols[-1]: "altered"}] + rows[1:]
        return real_same(cols, rows, oracle)

    monkeypatch.setattr(checks, "same_answer", altered)


@pytest.mark.parametrize(
    "workload,tamper",
    [
        ("steady_merge", _tamper_lake),
        ("steady_merge", _drop_dlq_row),
        ("steady_merge", _fail_one_batch),
        ("query_registry", _alter_query_output),
    ],
)
def test_checker_counts_wrong_outputs(tmp_path, monkeypatch, workload, tamper):
    tamper(monkeypatch)
    result = _execute(tmp_path, workload, False)["result"]
    assert not result["correct"]
    assert result["failed"] / result["attempted"] > 0
