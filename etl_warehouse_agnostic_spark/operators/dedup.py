"""Last-writer-wins dedup — the CDC core operator (SURVEY.md §2.5 W1).

Semantics generalize the reference's silver dedup pattern
``row_number() OVER (PARTITION BY business_key ORDER BY version DESC,
tiebreak DESC) ... WHERE row_num = 1``
(dbt/models/curated/repsly/client_notes.sql:15-25 and 11 siblings) and
the engine-level ReplacingMergeTree LWW
(airflow/dags/acumatica_dag.py:285-298).

Two physical strategies, identical results:

- ``lww_dedup_window`` (default): row_number window, skew-safe via
  Spark ≥3.5's WindowGroupLimit rule: a *Partial* top-1-per-key pass
  runs inside each SCAN partition before the key shuffle and a *Final*
  pass after (visible in ``.explain``), so the exchange carries only
  per-(partition, key) winners — partial-agg pushdown for free, and a
  hot key's rows collapse to ≤1 per upstream partition before they
  ever meet. (Earlier rounds added an explicit pre-``repartition`` on
  (key, salt) ahead of the window; round-7 plan audit showed it as a
  second full-slice Exchange that buys nothing — the salt is a pure
  function of the key, and the Partial WindowGroupLimit already
  bounds per-key fan-in on any input partitioning — so it was removed
  per guide §2.4; results are identical, one Exchange fewer.)
- ``lww_dedup_salted``: explicit two-phase ``max_by`` aggregation —
  a combine per (key, salt) then a final per key. Same asymptotics as
  the window plan; kept as the engine-independent formulation and for
  engines without WindowGroupLimit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_warehouse_agnostic_spark.functions.scalars import salt_of


ColumnOrName = Column | str


def _as_col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _order_struct(
    df: DataFrame, order_by: list[ColumnOrName], nulls_last: bool = False
) -> Column:
    """Composite LWW ordering key: max (lsn, ts, ...) wins.

    ``nulls_last=True`` reproduces ``ORDER BY v DESC NULLS LAST``
    (dbt/models/curated/acumatica/bills.sql:60-77): each order column is
    preceded by its ``isNotNull()`` flag, so under struct-max a NULL
    version always loses to any non-null one, and two NULLs fall through
    to the next column. Ties beyond the given columns are broken by a
    stable content hash of the whole row (reference tiebreak
    ``record_hash DESC``, dbt/models/curated/repsly/client_notes.sql:21)
    so dedup is deterministic under replay.
    """
    parts: list[Column] = []
    for i, c in enumerate(order_by):
        col = _as_col(c)
        if nulls_last:
            parts.append(col.isNotNull().alias(f"_nn{i}"))
        parts.append(col.alias(f"_o{i}"))
    tiebreak = F.xxhash64(*[F.col(c) for c in df.columns])
    return F.struct(*parts, tiebreak.alias("_tb"))


def lww_dedup_window(
    df: DataFrame,
    keys: list[str],
    order_by: list[ColumnOrName],
    num_salts: int = 16,
    nulls_last: bool = False,
) -> DataFrame:
    """Window-based LWW: row_number()==1 per key, one Exchange.

    ``num_salts`` is accepted so :func:`lww_dedup` can pass it to either
    strategy, and ignored here (results never depended on it — tested:
    salted == unsalted); skew safety comes from the Partial
    WindowGroupLimit that collapses every key to ≤1 row per upstream
    partition before the single key Exchange.
    """
    del num_salts  # see docstring
    w = Window.partitionBy(*keys).orderBy(_order_struct(df, order_by, nulls_last).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def lww_dedup_salted(
    df: DataFrame,
    keys: list[str],
    order_by: list[ColumnOrName],
    num_salts: int = 16,
    nulls_last: bool = False,
) -> DataFrame:
    """Two-phase max_by LWW (partial combine per (key, salt), final per
    key). Equivalent to the window variant; preferred at scale because
    phase 1 collapses hot keys before the second (tiny) shuffle and no
    partition is ever sorted whole."""
    payload = [c for c in df.columns if c not in keys]
    ord_col = _order_struct(df, order_by, nulls_last)
    salted = df.withColumn("_salt", salt_of(*keys, num_salts=num_salts, seed=23))
    phase1 = salted.groupBy(*keys, "_salt").agg(
        F.max_by(F.struct(*[F.col(c) for c in payload]), ord_col).alias("_p"),
        F.max(ord_col).alias("_o"),
    )
    phase2 = phase1.groupBy(*keys).agg(
        F.max_by(F.col("_p"), F.col("_o")).alias("_p")
    )
    return phase2.select(*keys, *[F.col(f"_p.{c}").alias(c) for c in payload])


def lww_dedup(
    df: DataFrame,
    keys: list[str],
    order_by: list[ColumnOrName],
    method: str = "salted",
    num_salts: int = 16,
    nulls_last: bool = False,
) -> DataFrame:
    if method == "window":
        return lww_dedup_window(df, keys, order_by, num_salts=num_salts, nulls_last=nulls_last)
    if method == "salted":
        return lww_dedup_salted(df, keys, order_by, num_salts=num_salts, nulls_last=nulls_last)
    raise ValueError(f"unknown dedup method {method!r}")


def lww_dedup_keyed(
    df: DataFrame,
    key_exprs: dict[str, Column],
    order_by: list[ColumnOrName],
    method: str = "window",
    num_salts: int = 16,
    nulls_last: bool = False,
    keep_keys: bool = True,
) -> DataFrame:
    """LWW dedup on *computed* business keys — the reference's
    coalesce-composite-key shape (dbt/models/curated/acumatica/
    bills.sql:60-77, sales_orders.sql:30-31)::

        PARTITION BY coalesce(nullif(guid, ''), nullif(number, ''))
        ORDER BY version_ts DESC NULLS LAST, lsn DESC

    ``key_exprs`` maps output column name → key Column expression; the
    keys are materialized once, the dedup runs on the named columns
    (same salted physical plans as the string-key variants), and the key
    columns are kept (default) or dropped.
    """
    tmp = df
    for name, expr in key_exprs.items():
        tmp = tmp.withColumn(name, expr)
    out = lww_dedup(
        tmp, list(key_exprs), order_by,
        method=method, num_salts=num_salts, nulls_last=nulls_last,
    )
    return out if keep_keys else out.drop(*key_exprs)


def split_ops(deduped: DataFrame, op_col: str = "op") -> tuple[DataFrame, DataFrame]:
    """Split a deduped change set into (upserts, delete_keys).

    One net op per key per epoch (SURVEY.md §7.4): after LWW dedup each
    key appears once; 'D' rows become tombstones, everything else is an
    upsert payload.
    """
    upserts = deduped.where(F.col(op_col) != "D").drop(op_col)
    deletes = deduped.where(F.col(op_col) == "D")
    return upserts, deletes
