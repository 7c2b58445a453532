"""Config/iceberg review hardening (round-5 final review — config came
out clean): Iceberg backend parity with the fallback LakeTable.  The
pipeline half of that review (trigger precedence, the bloom geometry
guard, the semantic freeze order) lives in ``tests/test_index_streams.py``.
"""

from __future__ import annotations

from kafka_connect_tablestore_spark.config import SinkConfig
from kafka_connect_tablestore_spark.lake.iceberg import create_table_sql, merge_sql


def test_iceberg_merge_never_physically_deletes():
    """A physical DELETE erases the version the stale-replay guard needs:
    a replayed old PUT of a deleted key would resurrect it via the
    unguarded NOT MATCHED INSERT.  Tombstones are retained, flagged rows."""
    sql = merge_sql("t", "s", SinkConfig(), ("commit",))
    assert "THEN DELETE" not in sql
    assert "t._deleted = s._deleted" in sql
    assert "WHEN NOT MATCHED THEN INSERT" in sql  # tombstones insert too


def test_iceberg_create_honours_pk_types():
    cfg = SinkConfig(pk_fields=("id",), pk_types=("long",))
    assert "(id long," in create_table_sql("t", cfg, {})
    assert "_deleted boolean" in create_table_sql("t", cfg, {})
