"""Production-shaped entry point.

    python scripts/package.py engine.zip
    spark-submit --py-files engine.zip examples/submit_job.py \
        --changelog /data/changelog --lake /data/lake --batches 8

Reads a change-log parquet directory (the batch stand-in for the Kafka
topic; swap in ``streaming.pipeline.kafka_source_plan`` + ``start_cdc_stream``
on a cluster with brokers), replays it through the CDC engine in ordered
micro-batches, and prints each batch manifest.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--changelog", required=True)
    p.add_argument("--lake", required=True)
    p.add_argument("--table", default="repos")
    p.add_argument("--batches", type=int, default=1)
    p.add_argument("--delete-mode", default="row")
    p.add_argument("--insert-mode", default="put")
    p.add_argument("--fast-lineage", action="store_true",
                   help="observe()-based lineage: no extra lineage pass per batch")
    args = p.parse_args()

    spark = (
        SparkSession.builder.appName("cdc-ingest")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    from kafka_connect_tablestore_spark.config import DeleteMode, InsertMode, SinkConfig
    from kafka_connect_tablestore_spark.engine import CdcEngine

    cfg = SinkConfig(
        insert_mode=InsertMode(args.insert_mode),
        delete_mode=DeleteMode(args.delete_mode),
        lineage_per_partition=not args.fast_lineage,
    )
    engine = CdcEngine(spark, cfg, args.lake, args.table)
    events = spark.read.parquet(args.changelog)
    for m in engine.replay(events, n_batches=args.batches):
        print(json.dumps(m, default=str))
    print(f"final rows: {engine.state().count()}")


if __name__ == "__main__":
    main()
