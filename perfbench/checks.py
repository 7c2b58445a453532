"""Correctness checks: the lake's state and dead-letter queue against a
DuckDB replay of the same log, and registry outputs against their DuckDB
oracle twins.

The state digest is independent of row order: each row of
``(repo, path, commit, lang, content, content_sha256)`` is hashed with
sha256 over a separator-joined text form, and the digest is the row count
plus the sum of the hashes' first 60 bits. Spark and DuckDB compute it the
same way, so only two numbers cross into Python.
"""

from __future__ import annotations

import functools
import importlib.util
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROOT = Path(__file__).resolve().parent.parent
STATE_COLS = ("repo", "path", "commit", "lang", "content", "content_sha256")
_SEP, _NULL = "\x1f", "\x1e"


def lake_digest(state: DataFrame) -> tuple[int, int]:
    row = F.concat_ws(
        _SEP, *[F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in STATE_COLS]
    )
    h = F.conv(F.substring(F.sha2(row, 256), 1, 15), 16, 10).cast("decimal(38,0)")
    r = state.select(h.alias("h")).agg(F.count(F.lit(1)), F.sum("h")).first()
    return int(r[0]), int(r[1] or 0)


def _log_sql(files: list[str], where: str) -> str:
    paths = ", ".join(f"'{f}'" for f in files)
    return f"SELECT * FROM read_parquet([{paths}]) WHERE {where}"


def replay_digest(con, files: list[str]) -> tuple[int, int]:
    """Digest of the state a DuckDB replay of the clean log in ``files``
    folds to, through the registry oracle's own fold. The generated log's
    only errant events are its injected null-key ones."""
    from __spark_entry__ import _fold_ctes

    cols = ", ".join(f"coalesce({c}, chr(30))" for c in STATE_COLS)
    sql = f"""
    WITH log AS ({_log_sql(files, "repo IS NOT NULL")}), {_fold_ctes("log")},
    final AS (
      SELECT repo, path, "commit", lang, content, sha256(content) AS content_sha256
      FROM state
    )
    SELECT count(*),
           sum(('0x' || substr(sha256(concat_ws(chr(31), {cols})), 1, 15))::UBIGINT::HUGEINT)
    FROM final
    """
    n, s = con.execute(sql).fetchone()
    return int(n), int(s or 0)


def malformed_count(con, files: list[str]) -> int:
    return int(con.execute(f"SELECT count(*) FROM ({_log_sql(files, 'repo IS NULL')})").fetchone()[0])


def dlq_count(table) -> int:
    dlq = table.read_dlq()
    return 0 if dlq is None else dlq.count()


@functools.lru_cache(maxsize=1)
def _check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", ROOT / "scripts" / "check_oracle.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_answer(con, sql: str) -> tuple[list[str], list[dict]]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, [dict(zip(cols, r)) for r in cur.fetchall()]


def same_answer(cols: list[str], rows: list[dict], oracle: tuple[list[str], list[dict]]) -> bool:
    """The repository's oracle gate (``scripts/check_oracle.py``): equal
    row count, equal column-name set, equal order-free value hash."""
    value_hash = _check_oracle().value_hash
    ocols, orows = oracle
    return (
        len(rows) == len(orows)
        and sorted(cols) == sorted(ocols)
        and value_hash(rows, cols) == value_hash(orows, ocols)
    )
