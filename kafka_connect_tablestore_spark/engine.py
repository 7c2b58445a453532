"""CdcEngine: the end-to-end pipeline (the Spark-native ``TableStoreSinkTask``).

Reference hot loop (``TableStoreSinkTask.java:106-122`` →
``TableStoreSinkWriter.java:215-272``): route → transform (PK extraction,
projection, row-change decision) → bucketed ordered write → flush → report
errants → commit offsets.  Here the same stages are one declarative plan per
micro-batch:

    events → validate/classify (Catalyst exprs) → split errant/clean
           → DLQ append                         → fold/MERGE into LakeTable
           → snapshot commit with embedded batch manifest (exactly-once)

``apply_batch`` is the ``foreachBatch`` body; ``replay`` drives a batch
change log through ordered micro-batches (offset-range sliced) and is the
crash-resume surface (a re-run skips committed batch_ids).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_tablestore_spark.config import RuntimeErrorTolerance, SinkConfig
from kafka_connect_tablestore_spark.functions.hashing import bucket_of, cast_pk_columns
from kafka_connect_tablestore_spark.lake.table import (
    LakeTable,
    lineage_aggs,
    partition_lineage,
)
from kafka_connect_tablestore_spark.operators.rowchange import (
    ERROR_COL,
    ToleranceError,
    dlq_rows,
    enforce_tolerance,
    split_errant,
    validate_and_classify,
)


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        config: SinkConfig,
        lake_root: str,
        table: str = "repos",
        attr_fields: tuple[str, ...] = ("commit", "lang", "content"),
    ) -> None:
        self.spark = spark
        self.config = config
        self.attr_fields = attr_fields
        self.table = LakeTable(spark, lake_root, table, config, attr_fields)

    # ------------------------------------------------------------ one batch
    def apply_batch(self, events: DataFrame, batch_id: str) -> dict:
        """Apply one micro-batch; returns the committed manifest entry.

        Scan budget per batch (matters at 10^10 events): ① one combined
        stats pass (per-partition lineage + touched buckets + errant count),
        ② the merge/fold/write pass, ③ a DLQ write only when errants exist.
        """
        if self.config.event_parser is not None:
            # user extension point (reference: event.parse.class,
            # parsers/EventParser.java:13-66): raw batch → engine events
            events = self.config.event_parser(events)
        # normalize PK types before classification (uncastable → NULL →
        # NULL_PRIMARY_KEY dead-letter) and before the touched-bucket hash,
        # which must agree with the post-union hash inside merge_batch
        events = cast_pk_columns(events, self.config.pk_fields, self.config.pk_types)
        classified = validate_and_classify(events, self.config, self.attr_fields)

        if not self.config.lineage_per_partition:
            return self._apply_batch_observed(classified, batch_id)

        clean, errant = split_errant(classified)

        lineage, touched = partition_lineage(
            classified,
            F.col(ERROR_COL).isNull(),
            bucket_of(self.config.pk_fields, self.config.n_buckets),
        )
        n_errant = sum(p["errant_rows"] for p in lineage.values())
        if n_errant and self.config.tolerance is RuntimeErrorTolerance.NONE:
            # tolerance gate AFTER the stats pass, which already counted the
            # errants — a standalone enforce_tolerance probe would re-scan
            # the whole batch just to find zero errants on every clean
            # batch, doubling the pre-merge scan budget the docstring
            # promises.  The first-errant fetch (for the error message)
            # only runs on the failing path.  Same abort semantics: raises
            # before any DLQ write or merge.
            enforce_tolerance(errant, self.config)
        if n_errant and self.config.tolerance is RuntimeErrorTolerance.ALL:
            self.table.append_dlq(dlq_rows(errant, self.config), batch_id)
        return self.table.merge_batch(clean, batch_id, lineage=lineage, touched=touched)

    def _apply_batch_observed(self, classified, batch_id: str) -> dict:
        """High-throughput path: no lineage pass of its own.

        The lineage aggregates (offset range, clean/errant counts) ride the
        merge job itself via ``Dataset.observe`` on the pre-split frame — no
        extra scan.  Every bucket is treated as touched (the uniform-batch
        case this path is built for).  A DLQ pass runs only when the
        observation reports errants.  Measured (``perfbench/README.md``,
        "Spark jobs per batch"): a clean batch runs 3 Spark jobs, because
        AQE submits each shuffle map stage as its own job, and a batch with
        dead letters runs 4, the DLQ append being the fourth.

        Ordering contract (reference: errants are reported and the task
        failed *before* Connect commits offsets, ``TableStoreSinkTask.java:
        118-121``): the tolerance gate and the DLQ append run *between* the
        data-write job (when the observation has fired) and the snapshot
        pointer swap, via ``merge_batch``'s ``before_commit`` hook.  A
        tolerance=NONE violation therefore aborts the commit (orphan files
        only, no visible state change), and DLQ rows can never be lost to a
        crash after commit — if the swap never happens, the whole batch
        replays.
        """
        from pyspark.sql.observation import Observation

        obs = Observation(f"lineage-{batch_id}")
        observed = classified.observe(obs, *lineage_aggs(F.col(ERROR_COL).isNull()))
        clean, errant = split_errant(observed)

        def before_commit(manifest: dict) -> None:
            # the data-write job has run, so the observation has fired; the
            # target is read on the batch's own session (see merge_batch),
            # where the Observation listener is registered
            lineage = {"_global": obs.get}
            n_errant = lineage["_global"]["errant_rows"]
            if n_errant:
                if self.config.tolerance is RuntimeErrorTolerance.NONE:
                    raise ToleranceError(
                        f"{n_errant} errant record(s) with tolerance=none in {batch_id}"
                    )
                self.table.append_dlq(dlq_rows(errant, self.config), batch_id)
            manifest["partitions"] = lineage

        return self.table.merge_batch(
            clean,
            batch_id,
            lineage={"_observed": True},
            touched=list(range(self.config.n_buckets)),
            before_commit=before_commit,
        )

    # ----------------------------------------------------------- bootstrap
    def bootstrap(
        self,
        snapshot: DataFrame,
        batch_id: str = "bootstrap-0",
        topic: str = "bootstrap",
        version: tuple[int, int] = (-1, -1),
    ) -> dict:
        """Initial-load bootstrap: commit an existing state snapshot as the
        engine's first batch, so a subsequent :meth:`replay` of the
        change-log tail merges onto it — the Debezium-style
        snapshot-then-stream cutover as an engine lifecycle step (the
        operator-level dual, with redelivery-overlap algebra, is
        ``operators/changefeed.bootstrap_handoff``).

        Snapshot rows enter as PUT events at ``version`` (default
        ``(-1, -1)`` — strictly before every real event, the same sentinel
        ``plans/merge.py`` uses for meta-less targets), so any tail event
        outranks them per column.  The snapshot must carry the PK and attr
        columns; it flows through the ordinary ``apply_batch`` path and
        therefore gets a manifest, exactly-once skip on re-run, and
        crash-resume like any other batch.  Caveat (same as the operator):
        a plain state snapshot has no tombstones, so the tail must be the
        STRICT suffix of the log — redelivering pre-snapshot events of
        deleted keys would resurrect them; use ``bootstrap_handoff`` (which
        retains tombstones) when the tail overlaps the snapshot.
        """
        pk = list(self.config.pk_fields)
        ev = snapshot.select(
            F.lit(topic).alias("topic"),
            F.lit(0).cast("int").alias("partition"),
            F.lit(int(version[1])).cast("long").alias("offset"),
            F.lit(int(version[0])).cast("long").alias("commit_ts"),
            F.lit("PUT").alias("op"),
            *[F.col(c) for c in pk],
            *[F.col(c) for c in self.attr_fields],
        )
        return self.apply_batch(ev, batch_id)

    # -------------------------------------------------------------- replay
    def replay(
        self,
        events: DataFrame,
        n_batches: int = 1,
        batch_prefix: str = "replay",
    ) -> list[dict]:
        """Replay a change log as ``n_batches`` ordered micro-batches.

        Batches are sliced by offset range (offsets are monotone in event
        order), so batch k strictly precedes batch k+1 — the micro-batch
        equivalent of the reference's in-order ``put()`` calls.  Committed
        batch_ids are skipped, so re-running after a crash is exactly-once.
        """
        manifests: list[dict] = []
        if n_batches <= 1:
            return [self.apply_batch(events, f"{batch_prefix}-0")]
        lo, hi = events.select(F.min("offset"), F.max("offset")).first()
        if lo is None:
            return manifests
        span = math.ceil((hi - lo + 1) / n_batches)
        for k in range(n_batches):
            b = events.where(
                (F.col("offset") >= lo + k * span) & (F.col("offset") < lo + (k + 1) * span)
            )
            manifests.append(self.apply_batch(b, f"{batch_prefix}-{k}"))
        return manifests

    def state(self, version: int | None = None) -> DataFrame:
        """Current table state, or AS OF ``version`` (snapshot time travel)."""
        return self.table.read(version=version)

    def lineage(self) -> DataFrame:
        """Committed per-batch per-partition lineage as a DataFrame
        (see :meth:`LakeTable.lineage`)."""
        return self.table.lineage()


class MultiTableCdcEngine:
    """Topic-routed multi-table sink: the reference task's per-record
    ``getTableNameByTopic`` dispatch (``TableStoreSinkWriter.java:222-224``)
    becomes one routing split + one CdcEngine per target table, each with its
    own snapshots/manifests/DLQ (mirrors the shared-writer-per-table maps in
    ``TableStoreSinkTask.java:30-98``)."""

    def __init__(
        self,
        spark: SparkSession,
        config: SinkConfig,
        lake_root: str,
        attr_fields: tuple[str, ...] = ("commit", "lang", "content"),
    ) -> None:
        self.spark = spark
        self.config = config
        self.lake_root = lake_root
        self.attr_fields = attr_fields
        self._engines: dict[str, CdcEngine] = {}

    def engine_for(self, table: str) -> CdcEngine:
        if table not in self._engines:
            self._engines[table] = CdcEngine(
                self.spark, self.config, self.lake_root, table, self.attr_fields
            )
        return self._engines[table]

    def apply_batch(self, events: DataFrame, batch_id: str) -> dict[str, dict]:
        from kafka_connect_tablestore_spark.operators.routing import route

        manifests: dict[str, dict] = {}
        parts = route(events, self.config)
        try:
            for table, part in parts.items():
                manifests[table] = self.engine_for(table).apply_batch(
                    part, f"{batch_id}@{table}"
                )
        finally:
            parts.unpersist()
        return manifests

    def state(self, table: str) -> DataFrame:
        return self.engine_for(table).state()
