"""The CDC commit path: the two lineage modes agree, and the path reaches
Spark only through public PySpark API."""

from __future__ import annotations

import ast
import os

from kafka_connect_tablestore_spark.config import (
    DeleteMode,
    RuntimeErrorTolerance,
    SinkConfig,
)
from kafka_connect_tablestore_spark.engine import CdcEngine
from kafka_connect_tablestore_spark.sources.synth import synth_changelog

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "kafka_connect_tablestore_spark",
)

#: modules every micro-batch runs through, from classify to commit
COMMIT_PATH = (
    "engine.py",
    "lake/table.py",
    "plans/merge.py",
    "operators/rowchange.py",
    "functions/hashing.py",
    "streaming/pipeline.py",
)

#: PySpark-private handles onto the JVM side; a Spark upgrade may rename or
#: drop any of them without notice
PRIVATE_ATTRS = {"_jo", "_jdf", "_jvm", "_jsc", "_jsparkSession"}


def test_commit_path_uses_no_private_pyspark_attributes():
    hits = []
    for rel in COMMIT_PATH:
        path = os.path.join(PKG, rel)
        with open(path) as f:
            tree = ast.parse(f.read(), filename=path)
        hits += [
            f"{rel}:{node.lineno} .{node.attr}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute) and node.attr in PRIVATE_ATTRS
        ]
    assert not hits, hits


def test_lineage_modes_agree_on_errant_batch(spark, tmp_path):
    """One batch with dead letters, applied under both lineage modes: the
    per-partition lineage adds up to the observed ``_global`` row, and the
    DLQ and the lake state are the same."""
    events = synth_changelog(
        spark, 2000, seed=17, n_partitions=4, p_malformed=0.05
    ).cache()
    runs = {}
    for per_partition in (True, False):
        cfg = SinkConfig(
            delete_mode=DeleteMode.ROW,
            tolerance=RuntimeErrorTolerance.ALL,
            lineage_per_partition=per_partition,
        )
        eng = CdcEngine(spark, cfg, str(tmp_path / f"lp{per_partition}"))
        m = eng.apply_batch(events, "b-0")
        state = sorted(tuple(r) for r in eng.state().collect())
        runs[per_partition] = (m["partitions"], eng.table.read_dlq().count(), state)

    parts, dlq_parts, state_parts = runs[True]
    glob_lineage, dlq_glob, state_glob = runs[False]
    (glob,) = glob_lineage.values()
    assert set(glob_lineage) == {"_global"}
    assert set(parts) == {"0", "1", "2", "3"}

    assert sum(p["rows"] for p in parts.values()) == glob["rows"]
    assert sum(p["errant_rows"] for p in parts.values()) == glob["errant_rows"]
    assert glob["errant_rows"] > 0 and glob["rows"] > 0
    starts = [p["start_offset"] for p in parts.values() if p["start_offset"] is not None]
    ends = [p["end_offset"] for p in parts.values() if p["end_offset"] is not None]
    assert glob["start_offset"] == min(starts)
    assert glob["end_offset"] == max(ends)

    assert dlq_parts == dlq_glob == glob["errant_rows"]
    assert state_parts == state_glob and state_parts
