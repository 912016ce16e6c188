"""Correctness gate, run after the timer: the program's final state
against DuckDB oracles computed from the generated streams.

- bronze == last-writer-wins over every event applied so far (max lsn
  per key wins; a winning delete removes the key);
- on the model DAG: silver == transform(bronze), gold == per-conversation
  rollup(silver), day rollup == per-day aggregate(bronze).

Every comparison is a multiset difference in both directions; the
result is the number of rows that differ (0 = equal).
"""

from __future__ import annotations

import os

from perfbench.inputs import sql_list

BRONZE_COLS = "conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us"


def diff_rows(con, expected_sql: str, actual_sql: str) -> int:
    """Rows in either query's result but not the other's (multiset)."""
    return con.execute(
        f"SELECT (SELECT count(*) FROM (({expected_sql}) EXCEPT ALL ({actual_sql}))) + "
        f"(SELECT count(*) FROM (({actual_sql}) EXCEPT ALL ({expected_sql})))"
    ).fetchone()[0]


def lww_sql(stream_files: list[str], max_lsn: int, base_files: list[str] = ()) -> str:
    """Final table state after applying every event with lsn <= max_lsn
    to a table bootstrapped from the ``base_files`` snapshot (its rows
    count as inserts before LSN 1)."""
    cols = "lsn, op, conv_id, turn_idx, role, text, tool, ts"
    events = (f"SELECT {cols} FROM read_parquet({sql_list(stream_files)})"
              f" WHERE lsn <= {int(max_lsn)}")
    if base_files:
        events += (" UNION ALL SELECT 0, 'I', conv_id, turn_idx, role, text, tool, ts"
                   f" FROM read_parquet({sql_list(base_files)})")
    return (
        f"SELECT {BRONZE_COLS} FROM ("
        " SELECT *, row_number() OVER ("
        f"  PARTITION BY conv_id, turn_idx ORDER BY lsn DESC, ts DESC) AS rn FROM ({events}))"
        " WHERE rn = 1 AND op <> 'D'"
    )


def lake_files(table) -> list[str]:
    """Data files of a lake table's current snapshot."""
    snap = table.snapshot()
    return [os.path.join(table.path, p) for ps in snap["files"].values() for p in ps]


def lake_sql(table, cols: str) -> str:
    files = lake_files(table)
    if not files:
        raise ValueError(f"lake table {table.path} has no data files")
    return f"SELECT {cols} FROM read_parquet({sql_list(files)}, union_by_name = true)"


def check_bronze(con, stream_files: list[str], max_lsn: int, actual_sql: str,
                 base_files: list[str] = ()) -> int:
    return diff_rows(con, lww_sql(stream_files, max_lsn, base_files), actual_sql)


def check_models(con, bronze, silver, gold, day) -> dict[str, int]:
    """Differences of each model table from its definition over the
    actual upstream table."""
    b = lake_sql(bronze, BRONZE_COLS)
    s = lake_sql(silver, "conv_id, turn_idx, role_u, text_len")
    return {
        "silver": diff_rows(
            con,
            f"SELECT conv_id, turn_idx, upper(role) AS role_u, length(text) AS text_len FROM ({b})",
            s,
        ),
        "gold": diff_rows(
            con,
            f"SELECT conv_id, count(*) AS turns, sum(text_len) AS chars FROM ({s}) GROUP BY conv_id",
            lake_sql(gold, "conv_id, turns, chars"),
        ),
        "day_rollup": diff_rows(
            con,
            "SELECT strftime(make_timestamp(ts_us), '%Y-%m-%d') AS day, count(*) AS rows,"
            " sum(length(text)) AS chars, count(length(text)) AS nn"
            f" FROM ({b}) GROUP BY 1",
            lake_sql(day, 'day, "rows", chars, _nn_chars AS nn'),
        ),
    }
