"""Driver harness: one (Spark query, DuckDB oracle SQL) pair per
implemented operator from SURVEY.md §2 plus the training-data ops.

Conventions:
- every callable takes (spark, sf_dir) and returns a DataFrame;
- every computed column is aliased identically in Spark and SQL;
- float aggregates are rounded so the value-hash is engine-portable;
- the shared change-stream derivation (``_changes``/``CHG_SQL``) turns
  the driver's ``events`` table into a binlog-shaped CDC stream
  (lsn, op, conv_id, turn_idx, payload) used by all CDC queries.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_warehouse_agnostic_spark.functions.scalars import (
    parse_microsoft_json_date,
    parse_timestamp_best_effort,
    to_bool_lenient,
    try_decimal,
)
from etl_warehouse_agnostic_spark.operators import dedup_fuzzy, flatten, multimodal, similarity, text
from etl_warehouse_agnostic_spark.operators.dedup import (
    lww_dedup_keyed,
    lww_dedup_salted,
    lww_dedup_window,
    split_ops,
)

# ---------------------------------------------------------------- util

def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


KEYS = ["conv_id", "turn_idx"]
ORDER = ["lsn", "ts"]

# events → binlog-shaped change stream. 'error' events are deletes;
# view/click are updates; purchase/signup are inserts.
def _changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type").isin("view", "click"), "U")
        .otherwise("I")
    )
    return e.select(
        F.col("event_id").alias("lsn"),
        op.alias("op"),
        F.format_string("conv_%05d", F.col("user_id").cast("int")).alias("conv_id"),
        F.pmod(F.col("event_id"), F.lit(16)).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.col("ts"),
    )


CHG_SQL = """
  SELECT event_id AS lsn,
         CASE WHEN event_type = 'error' THEN 'D'
              WHEN event_type IN ('view', 'click') THEN 'U'
              ELSE 'I' END AS op,
         printf('conv_%05d', CAST(user_id AS INT)) AS conv_id,
         CAST(event_id % 16 AS INT) AS turn_idx,
         event_type AS role,
         props AS text,
         ts
  FROM events
"""

LWW_SQL = f"""
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY conv_id, turn_idx ORDER BY lsn DESC, ts DESC) AS rn
    FROM ({CHG_SQL})) WHERE rn = 1
"""

# ------------------------------------------------------------ CDC core

def q_lww_dedup_strategies(spark, sf_dir):
    """W1+T8: BOTH LWW dedup strategies — salted-repartition window
    and two-phase salted max_by — tagged and unioned, so one driver row
    proves each against the same SQL LWW oracle (and therefore against
    each other)."""
    chg = _changes(spark, sf_dir)
    w = lww_dedup_window(chg, KEYS, ORDER).select(
        F.lit("window").alias("strategy"), "conv_id", "turn_idx", "op", "lsn"
    )
    s = lww_dedup_salted(chg, KEYS, ORDER, num_salts=8).select(
        F.lit("salted").alias("strategy"), "conv_id", "turn_idx", "op", "lsn"
    )
    return w.unionByName(s)


_LWW_ORACLE = f"""
    SELECT 'window' AS strategy, conv_id, turn_idx, op, lsn FROM ({LWW_SQL})
    UNION ALL
    SELECT 'salted' AS strategy, conv_id, turn_idx, op, lsn FROM ({LWW_SQL})
"""


def q_lww_dedup_nulls_last(spark, sf_dir):
    """W2: coalesce-composite business key + DESC NULLS LAST ordering —
    the reference's bills.sql dedup shape (null version timestamps must
    lose to any non-null one)."""
    chg = _changes(spark, sf_dir)
    d = chg.withColumn(
        "ver_ts",
        F.when(F.col("lsn") % 5 == 0, F.lit(None).cast(chg.schema["ts"].dataType))
        .otherwise(F.col("ts")),
    )
    guid = F.when(F.col("lsn") % 7 == 0, F.lit("")).otherwise(
        F.concat(F.lit("g:"), F.col("conv_id"))
    )
    number = F.concat(F.lit("n:"), F.col("conv_id"))
    key = F.coalesce(F.nullif(guid, F.lit("")), F.nullif(number, F.lit("")))
    out = lww_dedup_keyed(
        d, {"biz_key": key}, ["ver_ts", "lsn"], method="window", nulls_last=True
    )
    return out.select("biz_key", "lsn", "op")


def q_cdc_final_state(spark, sf_dir):
    """The replay oracle: last write per key, deletes removed (F2)."""
    d = lww_dedup_salted(_changes(spark, sf_dir), KEYS, ORDER)
    ups, _ = split_ops(d)
    return ups.select("conv_id", "turn_idx", "role", "text", "lsn")


def q_merge_upsert(spark, sf_dir):
    """S11/J2: MERGE semantics as anti-join + union — target (even
    lsns, deduped) merged with a change batch (odd lsns, deduped)."""
    chg = _changes(spark, sf_dir)
    base, _ = split_ops(lww_dedup_salted(chg.where(F.col("lsn") % 2 == 0), KEYS, ORDER))
    delta = lww_dedup_salted(chg.where(F.col("lsn") % 2 == 1), KEYS, ORDER)
    ups, dels = split_ops(delta)
    changed_keys = delta.select(*KEYS)
    survivors = base.join(changed_keys, KEYS, "left_anti")
    merged = survivors.unionByName(ups)
    return merged.select("conv_id", "turn_idx", "role", "lsn")


def q_dup_batch_anti_join(spark, sf_dir):
    """J1: duplicate-batch check — batch rows whose key is already in
    the target are skipped (left_anti)."""
    chg = _changes(spark, sf_dir)
    loaded = chg.where(F.col("lsn") <= 5000)
    batch = chg.where((F.col("lsn") > 5000) & (F.col("lsn") <= 6000))
    fresh = batch.join(loaded.select(*KEYS).distinct(), KEYS, "left_anti")
    return fresh.select("conv_id", "turn_idx", "lsn", "op")


def q_watermark_offsets(spark, sf_dir):
    """A1/T5: per-source-partition high-water marks (manifest offsets)."""
    chg = _changes(spark, sf_dir)
    pid = F.pmod(F.col("lsn"), F.lit(8)).cast("int")
    return (
        chg.groupBy(pid.alias("pid"))
        .agg(
            F.max("lsn").alias("max_lsn"),
            F.min("lsn").alias("min_lsn"),
            F.count(F.lit(1)).alias("rows"),
            F.max("ts").alias("max_ts"),
        )
    )


def q_dq_checks(spark, sf_dir):
    """A2–A6: rowcount / duplicate-key / null-rate / freshness census
    per event_type (the reference's validate_extraction_integrity)."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("user_id")).alias("dup_users"),
        F.sum(F.when(F.col("value").isNull() | (F.col("value") <= 0), 1).otherwise(0)).alias("bad_value_cnt"),
        F.max("ts").alias("freshest"),
        F.countDistinct("user_id").alias("distinct_users"),
    )


def q_asof_join(spark, sf_dir):
    """Temporal as-of join: each event enriched with the user's status
    version current AT the event's timestamp (<= semantics, matching
    DuckDB ASOF JOIN)."""
    from etl_warehouse_agnostic_spark.operators.joins import asof_join

    e = load(spark, sf_dir, "events")
    r = (
        e.where(F.col("event_id") % 10 == 0)
        .groupBy("user_id", "ts")
        .agg(F.concat(F.lit("s"), F.max("event_id").cast("string")).alias("status"))
    )
    out = asof_join(e.select("event_id", "user_id", "ts"), r, on=["user_id"])
    return out.select("event_id", "user_id", "r_status")


def q_expectations(spark, sf_dir):
    """§2.11 as one operator: the whole DQ battery in a single agg pass
    (unique keys, null ratio, accepted values, row floor, freshness)."""
    from etl_warehouse_agnostic_spark.operators import expectations as X

    e = load(spark, sf_dir, "events")
    checks = [
        X.unique(["event_id"]),
        X.not_null_ratio("value", 0.10),
        X.accepted_values("event_type", ["view", "click", "purchase", "signup"]),
        X.min_rows(1000),
        X.freshness("ts", "2020-01-01 00:00:00"),
    ]
    return X.run_expectations(e, checks)


def q_incremental_slice(spark, sf_dir):
    """S1/P6/S14: bounded cursor scan `WHERE lsn in (cursor, hi]` with
    per-op counts — one epoch's read."""
    chg = _changes(spark, sf_dir).where((F.col("lsn") > 5000) & (F.col("lsn") <= 7000))
    return chg.groupBy("op").agg(
        F.count(F.lit(1)).alias("rows"),
        F.min("lsn").alias("lo"),
        F.max("lsn").alias("hi"),
    )


def q_ordinal_numbering(spark, sf_dir):
    """W3: stable per-group ordinals (first 3 events per user)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn")
    )


# ------------------------------------------------- scalars / projection

def q_scalar_battery(spark, sf_dir):
    """§2.8: the reference's whole scalar surface in one projection —
    trim/upper/lower, nullif/coalesce, CASE (multiIf), instr,
    substring, replace, concat, date-part extraction, Microsoft
    JSON-date round-trip (extractor.py:512-548 port), lenient bool
    parse, guarded decimal parse, best-effort timestamp parse — over
    events. One row per event; one narrow pass."""
    e = load(spark, sf_dir, "events")
    ms_str = F.format_string("/Date(%d+0000)/", F.unix_millis(F.col("ts").cast("timestamp")))
    bool_str = (
        F.when(F.col("event_type") == "view", "Yes")
        .when(F.col("event_type") == "click", "1")
        .when(F.col("event_type") == "purchase", "f")
        .when(F.col("event_type") == "signup", "no")
        .otherwise("maybe")
    )
    dec_str = (
        F.when(F.col("event_id") % 3 == 0, "12.5")
        .when(F.col("event_id") % 3 == 1, "abc")
        .otherwise("-7")
    )
    ts_str = (
        F.when(F.col("event_id") % 4 == 0, F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"))
        .when(F.col("event_id") % 4 == 1, ms_str)
        .when(F.col("event_id") % 4 == 2, F.date_format("ts", "yyyy/MM/dd HH:mm:ss"))
        .otherwise(F.lit("not a timestamp"))
    )
    return e.select(
        "event_id",
        F.upper("event_type").alias("etype_u"),
        F.lower("event_type").alias("etype_l"),
        F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("redacted")).alias("etype_clean"),
        F.when(F.col("value") < 10, "low").when(F.col("value") < 30, "mid").otherwise("high").alias("value_band"),
        (F.instr("event_type", "i") > 0).alias("has_i"),
        F.substring("event_type", 1, 3).alias("etype3"),
        F.concat_ws("-", "event_type", F.col("user_id").cast("string")).alias("tag"),
        F.length("props").alias("props_len"),
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.to_date("ts").alias("dt"),
        F.floor("value").cast("long").alias("value_floor"),
        ms_str.alias("ms_date_str"),
        parse_microsoft_json_date(ms_str).alias("ms_parsed_ts"),
        to_bool_lenient(bool_str).alias("b"),
        try_decimal(dec_str).cast("string").alias("dec_s"),
        parse_timestamp_best_effort(ts_str).alias("be_parsed_ts"),
    )


def q_flatten_json(spark, sf_dir):
    """P1: JSON payload flatten — extract typed fields from props."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
        (F.get_json_object("props", "$.k").cast("int") % 10).alias("k_mod"),
    )


def q_explode_words(spark, sf_dir):
    """arrayMap/arrayJoin analog: split → explode (forms_items.sql)."""
    p = load(spark, sf_dir, "part")
    return p.select("p_partkey", F.explode(F.split("p_name", " ")).alias("word"))


def q_union_missing_columns(spark, sf_dir):
    """§2.7: unionByName(allowMissingColumns) — schema-evolution union."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_acctbal").alias("bal")
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"),
        F.col("s_acctbal").alias("bal"),
        F.col("s_nationkey").alias("nationkey"),
    )
    return c.unionByName(s, allowMissingColumns=True)


def q_pipeline_health(spark, sf_dir):
    """Operational health summary (the reference's
    monitor_warehouse_health, airflow/dags/repsly_dag.py:1496-1705):
    run the engine over the change stream in fixed 2000-LSN epochs,
    then fold the checkpoint manifests into a per-epoch health frame —
    throughput metrics, applied lsn range, and the invariant flags a
    monitor alerts on (watermark monotone, counts consistent, commit
    age within SLA). The oracle re-derives every metric column from
    the same epoch boundaries in SQL and asserts the flags as
    literals, so the driver hash fails iff the engine mis-reports its
    own metrics or breaks a watermark/count invariant."""
    from pyspark.sql import types as T

    from etl_warehouse_agnostic_spark.engine import CdcEngine
    from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
    from etl_warehouse_agnostic_spark.lake.table import LakeTable
    from etl_warehouse_agnostic_spark.operators.health import pipeline_health
    from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource

    chg = _changes(spark, sf_dir).localCheckpoint()
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("ts", chg.schema["ts"].dataType, True),
        ]
    )
    root = tempfile.mkdtemp(prefix="etlwa-health-")
    try:
        table = LakeTable.create(spark, os.path.join(root, "t"), schema, KEYS, num_buckets=8)
        ck = ManifestStore(os.path.join(root, "ck"))
        eng = CdcEngine(spark, table, ck)
        eng.run(ChangeStreamSource(spark, df=chg), epoch_size=2000)
        health = pipeline_health(spark, ck, sla_hours=24.0)
        return health.select(
            "epoch", "rows_read", "rows_upserted", "rows_deleted",
            "lsn_lo", "lsn_hi", "watermark_monotone", "counts_consistent",
            "within_sla",
        ).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------------------------------------------------------- analytics/agg

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped partial+final agg (headline bench query)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_revenue_by_region(spark, sf_dir):
    """J2 shape at analytics scale: fact⋈broadcast-dims star join."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
    )


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization per user (10-minute inactivity gap) —
    per-key windows only, no global exchange."""
    from etl_warehouse_agnostic_spark.operators.sessions import sessionize

    e = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = sessionize(e, ["user_id"], "ts", gap_seconds=600, tiebreak_cols=["event_id"])
    return out.select("event_id", "user_id", "session_seq", "session_id")


def q_set_ops(spark, sf_dir):
    """§2.7 set operations: nations with customers vs suppliers —
    INTERSECT / EXCEPT with a disposition tag."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    return (
        c.intersect(s).withColumn("which", F.lit("both"))
        .unionByName(c.subtract(s).withColumn("which", F.lit("customers_only")))
        .unionByName(s.subtract(c).withColumn("which", F.lit("suppliers_only")))
    )


def q_pivot_status(spark, sf_dir):
    """Reporting pivot: order counts per priority × status (explicit
    pivot values → static schema, no extra distinct-scan job)."""
    o = load(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).alias("n_filled"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_pending"),
    )


def q_rollup_revenue(spark, sf_dir):
    """Reporting rollup (dbt-mart shape): revenue by (region, status)
    with ROLLUP subtotals + grand total, grouping id exposed."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    j = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        j.rollup("r_name", "o_orderstatus")
        .agg(
            F.grouping_id("r_name", "o_orderstatus").cast("int").alias("gid"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select("r_name", "o_orderstatus", "gid", "revenue", "n_orders")
    )


def q_percentile_summary(spark, sf_dir):
    """Exact continuous percentiles of order value per status —
    the DQ/reporting quantile surface."""
    o = load(spark, sf_dir, "orders")
    pct = F.percentile("o_totalprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return o.groupBy("o_orderstatus").agg(
        F.round(pct[0], 4).alias("p50"),
        F.round(pct[1], 4).alias("p90"),
        F.round(pct[2], 4).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


def q_topk_customers(spark, sf_dir):
    """§2.6 top-k: deterministic order-by-limit."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"), F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("total"), F.asc("o_custkey"))
        .limit(10)
    )


def q_completeness_ratio(spark, sf_dir):
    """J4: silver-vs-raw completeness — rowcount ratio per entity
    (airflow/dags/repsly_dag.py:1447-1466). 'Silver' = the deduped
    final state; 'raw' = the full change stream."""
    chg = _changes(spark, sf_dir)
    raw = chg.groupBy("conv_id").agg(F.count(F.lit(1)).alias("raw_rows"))
    d = lww_dedup_salted(chg, KEYS, ORDER)
    silver, _ = split_ops(d)
    sil = silver.groupBy("conv_id").agg(F.count(F.lit(1)).alias("silver_rows"))
    return raw.join(sil, "conv_id", "left").select(
        "conv_id", "raw_rows",
        F.coalesce("silver_rows", F.lit(0)).alias("silver_rows"),
        F.round(F.coalesce("silver_rows", F.lit(0)) / F.col("raw_rows"), 6).alias("completeness"),
    )


def q_clean_tabular(spark, sf_dir):
    """P4/S8: sheet-range cleaner — dirty-null scrub, all-null row
    drop, stable row numbering — over a sheet-shaped projection."""
    from etl_warehouse_agnostic_spark.operators.flatten import clean_tabular

    e = load(spark, sf_dir, "events").where(F.col("event_id") < 500)
    sheet = e.select(
        F.col("event_id").cast("string").alias("Event ID"),
        F.when(F.col("event_type") == "error", "NULL").otherwise(F.col("event_type")).alias("Event-Type"),
        F.when(F.col("value") > 30, F.col("props")).otherwise("").alias("Big Value"),
    )
    return clean_tabular(sheet, add_row_number=True)


def q_full_refresh(spark, sf_dir):
    """S12: full-refresh sink — a second overwrite() REPLACES the first
    snapshot wholesale (google_sheets extractor semantics)."""
    from pyspark.sql import types as T  # noqa: F401 (schema via df)

    from etl_warehouse_agnostic_spark.lake.table import LakeTable

    c = load(spark, sf_dir, "customer")
    proj = c.select("c_custkey", "c_name", "c_acctbal")
    root = tempfile.mkdtemp(prefix="etlwa-fr-")
    try:
        t = LakeTable.create(spark, os.path.join(root, "t"), proj.schema, ["c_custkey"], num_buckets=4)
        t.overwrite(proj.where(F.col("c_custkey") % 2 == 0), epoch_id=1)  # stale load
        t.overwrite(proj.where(F.col("c_acctbal") > 0), epoch_id=2)  # the refresh
        return t.read().localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_unwrap_value(spark, sf_dir):
    """P3: Acumatica ``{'value': x}`` struct unwrap."""
    c = load(spark, sf_dir, "customer")
    wrapped = c.select(
        "c_custkey",
        F.struct(F.col("c_name").alias("value")).alias("name"),
        F.struct(F.col("c_acctbal").alias("value")).alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    return flatten.unwrap_value_fields(wrapped)


def q_explode_json_items(spark, sf_dir):
    """forms_items pattern: JSON array column → one row per item with a
    stable per-parent ordinal."""
    e = load(spark, sf_dir, "events").where(F.col("event_id") <= 2000)
    js = F.format_string(
        '[{"field":"etype","value":"%s"},{"field":"uid","value":"%d"}]',
        F.col("event_type"),
        F.col("user_id").cast("long"),
    )
    df = e.select("event_id", js.alias("items_json"))
    return flatten.explode_json_items(df, "event_id", "items_json")


def q_promote_first_element(spark, sf_dir):
    """LeafLink primary-contact promotion: first array element's fields
    → top-level columns; empty array → NULLs."""
    p = load(spark, sf_dir, "part")
    elem_t = "array<struct<name:string,brand:string>>"
    contacts = (
        F.when(F.col("p_partkey") % 10 == 0, F.array().cast(elem_t))
        .otherwise(
            F.array(
                F.struct(F.col("p_name").alias("name"), F.col("p_brand").alias("brand")),
                F.struct(F.lit("alt").alias("name"), F.lit("b2").alias("brand")),
            )
        )
    )
    df = p.select("p_partkey", contacts.alias("contacts"))
    out = flatten.promote_first_element(df, "contacts", ["name", "brand"], "primary")
    return out.select("p_partkey", "primary_name", "primary_brand")


def q_flatten_rules(spark, sf_dir):
    """P2: rule-based flatten — money struct {amount,currency} → two
    scalars; array<struct<name,..>> → pipe-joined names + count."""
    o = load(spark, sf_dir, "orders")
    df = o.select(
        "o_orderkey",
        F.struct(F.col("o_totalprice").alias("amount"), F.lit("USD").alias("currency")).alias("total"),
        F.array(
            F.struct(F.col("o_orderstatus").alias("name")),
            F.struct(F.col("o_orderpriority").alias("name")),
        ).alias("tags"),
    )
    return flatten.flatten_with_rules(df)


def q_windowed_op_counts(spark, sf_dir):
    """T6 + the custom stateful operator in ONE tagged row (closing the
    last pytest-only component, r4 verdict #5): 'window' rows are the
    event-time tumbling-window op census (same Column expressions the
    streaming path runs; withWatermark inert on batch); 'ledger' rows
    are the REAL ``applyInPandasWithState`` conversation ledger drained
    over a multi-micro-batch file stream (state crosses batches), one
    final row per conversation. The oracle re-derives both sections in
    SQL — the hash fails iff the windows OR the stateful ledger's
    cross-batch LWW state diverge from batch truth."""
    from etl_warehouse_agnostic_spark.streaming.stateful import conversation_ledger
    from etl_warehouse_agnostic_spark.streaming.windows import windowed_op_counts

    chg = _changes(spark, sf_dir)
    ts_t = chg.schema["ts"].dataType
    win = windowed_op_counts(chg, window_duration="1 hour").select(
        F.lit("window").alias("part"),
        "window_start", "window_end", "op", "n", "max_lsn",
        F.lit(None).cast("string").alias("conv_id"),
        F.lit(None).cast("long").alias("events_seen"),
        F.lit(None).cast("long").alias("live_turns"),
    )

    root = tempfile.mkdtemp(prefix="etlwa-ledger-")
    try:
        chg_dir = os.path.join(root, "chg")
        out_dir = os.path.join(root, "out")
        # several files → several micro-batches → ledger state genuinely
        # crosses batches (every ledger metric is order-independent:
        # counts and max() — no mtime stamping needed)
        chg.select("conv_id", "turn_idx", "op", "lsn").repartition(4) \
            .write.parquet(chg_dir)
        stream = (
            spark.readStream.schema(spark.read.parquet(chg_dir).schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(chg_dir)
        )

        def sink(batch_df, _bid):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            conversation_ledger(stream)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        emitted = spark.read.parquet(out_dir)
        w = Window.partitionBy("conv_id").orderBy(
            F.desc("events_seen"), F.desc("max_lsn")
        )
        led = (
            emitted.withColumn("_rn", F.row_number().over(w))
            .where("_rn = 1")
            .select(
                F.lit("ledger").alias("part"),
                F.lit(None).cast(ts_t).alias("window_start"),
                F.lit(None).cast(ts_t).alias("window_end"),
                F.lit(None).cast("string").alias("op"),
                F.lit(None).cast("long").alias("n"),
                "max_lsn", "conv_id", "events_seen", "live_turns",
            )
        )
        return win.unionByName(led).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_csv_roundtrip(spark, sf_dir):
    """S13: CSV sink — overwrite then APPEND a delta (new part files
    only), read back with an explicit schema."""
    from pyspark.sql import types as T

    from etl_warehouse_agnostic_spark import sinks

    e = load(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    root = tempfile.mkdtemp(prefix="etlwa-csv-")
    path = os.path.join(root, "events_csv")
    try:
        sinks.write_csv(e.where(F.col("event_id") <= 2000), path)
        sinks.append_csv(e.where((F.col("event_id") > 2000) & (F.col("event_id") <= 3000)), path)
        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("user_id", T.LongType()),
            ]
        )
        return sinks.read_csv(spark, path, schema).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_sheet_grid(spark, sf_dir):
    """S8: sheet-range reader — banner row skipped, header row names
    the columns, short rows NULL-padded."""
    from etl_warehouse_agnostic_spark.sources.sheets import grid_to_table

    e = load(spark, sf_dir, "events").where(F.col("event_id") < 300)
    data = e.select(
        (F.col("event_id") + 2).alias("row_idx"),
        F.array(F.col("event_id").cast("string"), F.col("event_type")).alias("cells"),
    )
    head = spark.createDataFrame(
        [(0, ["*** EXPORT 'raw' ***"]), (1, ["event_id", "event_type"])],
        "row_idx long, cells array<string>",
    )
    grid = head.unionByName(data)
    return grid_to_table(grid, skip_rows=1)


def q_valid_filter(spark, sf_dir):
    """P7: validity split with per-reason accounting (first failed rule
    wins: required-column nulls, then custom rules in order)."""
    from etl_warehouse_agnostic_spark.operators.validity import filter_valid

    chg = _changes(spark, sf_dir).withColumn(
        "text2", F.when(F.col("lsn") % 11 == 0, F.lit(None)).otherwise(F.col("text"))
    )
    valid, rejects = filter_valid(
        chg, required_cols=["text2"], rules={"turn_lt_12": F.col("turn_idx") < 12}
    )
    acct = valid.select(F.lit("valid").alias("disposition")).unionByName(
        rejects.select(F.col("_reject_reason").alias("disposition"))
    )
    return acct.groupBy("disposition").agg(F.count(F.lit(1)).alias("n"))


# ------------------------------------------------ training-data ops

def q_exact_dedup(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return dedup_fuzzy.exact_dedup(d, "doc_id", "text")


def q_ngram_jaccard_pairs(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return dedup_fuzzy.ngram_jaccard_pairs(d, "doc_id", "text", n=2, threshold=0.12)


def q_minhash_lsh(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return dedup_fuzzy.minhash_lsh_candidates(
        d, "doc_id", "text", n=2, num_hashes=8, bands=4, verify_threshold=0.1
    )


def q_cosine_topk(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return similarity.cosine_topk(emb, queries, k=3)


def _planted_embeddings(spark, sf_dir):
    """Corpus + deterministic planted near-dups: ids < 50 are copied to
    id+100000 with a tiny affine perturbation (x·1.0001 + 0.001). The
    driver's synthetic embeddings contain NO natural near-dup pairs
    (max pairwise cosine ≈ 0.51 at sf0.01), so the near-dup operators
    are exercised on planted truth that both engines can re-derive
    exactly (planted sim ≈ 0.9999 ≫ 0.95 threshold ≫ 0.51 natural max —
    no boundary-rounding risk)."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dup = emb.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.0001 + 0.001).alias("embedding"),
    )
    return emb.unionByName(dup)


def q_cosine_near_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs — exact baseline (O(n²) verify
    path; blocked_near_pairs is the scale path, gated below)."""
    emb = _planted_embeddings(spark, sf_dir)
    return similarity.cosine_near_pairs(emb, threshold=0.95)


def _g_blocked_near_pairs_recall(spark, sf_dir):
    """Scale-path quality gate: IVF-cell-blocked near-dup pairs must
    recover ≥ 0.8 of the exact cosine ≥ 0.95 pairs (near-identical
    vectors share their top cell, so cell blocking keeps them)."""
    emb = _planted_embeddings(spark, sf_dir)
    exact = similarity.cosine_near_pairs(emb, threshold=0.95).select("a", "b")
    found = (
        similarity.blocked_near_pairs(emb, threshold=0.95, num_centroids=8, nprobe=2)
        .select("a", "b")
        .withColumn("_hit", F.lit(1))
    )
    marked = exact.join(found, ["a", "b"], "left")
    return marked.agg(
        F.count(F.lit(1)).alias("n_true"),
        F.coalesce(  # vacuously true on an empty truth set
            F.sum(F.coalesce("_hit", F.lit(0))) / F.count(F.lit(1)) >= F.lit(0.8),
            F.lit(True),
        ).alias("recall_ge_080"),
    )


def _g_ivf_recall(spark, sf_dir):
    """IVF quality gate: measured recall@3 of the k-means IVF index vs
    the exact brute-force baseline, hashed against a stated floor. The
    oracle re-derives n_pairs from the brute-force SQL and asserts the
    floor — a driver-hashable property check for an approximate op."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(emb, queries, k=3).select("query_id", "neighbor_id")
    approx = (
        similarity.ivf_topk(emb, queries, num_centroids=8, nprobe=5, k=3)
        .select("query_id", "neighbor_id")
        .withColumn("_hit", F.lit(1))
    )
    marked = exact.join(approx, ["query_id", "neighbor_id"], "left")
    return marked.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (
            F.sum(F.coalesce("_hit", F.lit(0))) / F.count(F.lit(1)) >= F.lit(0.8)
        ).alias("recall_ge_080"),
    )


def _g_simhash_recall(spark, sf_dir):
    """SimHash quality gate: of the exact-Jaccard near-dup pairs
    (jaccard ≥ 0.5), the fraction also found by simhash_near_pairs at
    hamming ≤ 8 must clear 0.8. n_true is SQL-derivable; the floor is
    the hashed assertion."""
    d = load(spark, sf_dir, "documents")
    true_pairs = dedup_fuzzy.ngram_jaccard_pairs(
        d, "doc_id", "text", n=2, threshold=0.5
    ).select("a", "b")
    found = (
        dedup_fuzzy.simhash_near_pairs(d, "doc_id", "text", max_hamming=8)
        .select("a", "b")
        .withColumn("_hit", F.lit(1))
    )
    marked = true_pairs.join(found, ["a", "b"], "left")
    return marked.agg(
        F.count(F.lit(1)).alias("n_true"),
        (
            F.sum(F.coalesce("_hit", F.lit(0))) / F.count(F.lit(1)) >= F.lit(0.8)
        ).alias("recall_ge_080"),
    )


def q_recall_gates(spark, sf_dir):
    """All three approximate-operator quality gates as one 3-row
    battery: (gate, n_true, recall_ge_080). Each gate runs the
    approximate scale path (IVF top-k / SimHash blocking / IVF-cell
    near-dup blocking) against its exact baseline and asserts the
    measured recall clears 0.8 — the oracle re-derives n_true with
    exact SQL and asserts the floor as a literal, so the driver hash
    fails iff an approximate index loses recall."""
    ivf = _g_ivf_recall(spark, sf_dir).select(
        F.lit("ivf_topk").alias("gate"),
        F.col("n_pairs").alias("n_true"),
        "recall_ge_080",
    )
    sim = _g_simhash_recall(spark, sf_dir).select(
        F.lit("simhash_pairs").alias("gate"), "n_true", "recall_ge_080"
    )
    blk = _g_blocked_near_pairs_recall(spark, sf_dir).select(
        F.lit("blocked_near_pairs").alias("gate"), "n_true", "recall_ge_080"
    )
    return ivf.unionByName(sim).unionByName(blk)


def q_text_battery(spark, sf_dir):
    """The whole text-analysis surface in ONE narrow pass
    (operators/text.text_features): quality features + keep flag,
    whitespace + BPE-ish token counts, language-ID, md5 fingerprint.
    pytest proves text_features == the per-facet operators
    (quality_score / token counts / language_id / fingerprint)."""
    d = load(spark, sf_dir, "documents")
    return text.text_features(d, "doc_id", "text")


def q_training_pipeline(spark, sf_dir):
    """Composed training-data pipeline: quality filter → language
    gate → exact dedup → survivor count per language. The shape of a
    real pretraining data-prep job, end-to-end in one plan."""
    d = load(spark, sf_dir, "documents")
    q = text.quality_score(d, "doc_id", "text").where(F.col("keep"))
    lang = text.language_id(d, "doc_id", "text").select("doc_id", "lang_pred")
    kept = d.join(q.select("doc_id"), "doc_id").join(lang, "doc_id")
    # Hash-first dedup key (md5 of the normalized body, not the body):
    # the exchange carries 16 B/doc instead of the whole corpus.
    deduped = (
        kept.groupBy(F.col("lang_pred"), F.md5(text.normalize_text("text")).alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return deduped.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("first_doc"),
    )


def q_media_battery(spark, sf_dir):
    """Multimodal plumbing in one row AND one pass: the JVM-computed
    resize plan rides through the Arrow mapInPandas feature extraction
    (byte length, payload md5, declared decode stub) as pass-through
    columns — one scan, zero shuffles, no self-join."""
    d = load(spark, sf_dir, "documents")
    media = multimodal.to_media_table(d, "doc_id", "text")
    planned = media.select("*", *multimodal.resize_plan_columns(max_dim=100))
    return multimodal.extract_features(
        planned,
        pass_through=["width", "height", "target_width", "target_height", "needs_resize"],
    )


def q_media_frame_sample(spark, sf_dir):
    """Frame-sampling fan-out: one row per 29 ms stride over synthetic
    clip durations derived from events.value. (Stride/event-cap sized
    so the row fan-out stays ~200k — cheap enough for the driver's
    exhaustive gate while still exercising the explode path.)"""
    e = load(spark, sf_dir, "events").where(F.col("event_id") <= 1000)
    media = e.select(
        F.col("event_id").alias("media_id"),
        F.lit(None).cast("binary").alias("payload"),
        F.lit("video").alias("media_type"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.floor(F.col("value") * 100).cast("int").alias("duration_ms"),
            F.lit("raw").alias("codec"),
        ).alias("meta"),
    )
    return multimodal.sample_frame_offsets(media, every_ms=29)


# ------------------------------------------------ the flagship: engine

def q_warehouse_parity(spark, sf_dir):
    """The warehouse-agnostic axis made real: the FULL engine tail loop
    (``CdcEngine.run`` with a warehouse sink — watermark slices, LWW dedup,
    exactly-once manifests) driving BOTH config-switched SQL backends
    — the embedded warehouse (``DuckBackend``, ClickHouse/Snowflake
    stand-in) and the DB-API engine (``SqliteBackend``, the
    Postgres/JDBC class) — each through the executor-side parquet
    hand-off (no driver materialization), each with a
    resume-from-checkpoint that must be a no-op
    (config/warehouse_config.py:25-66, scripts/switch_warehouse.sh:1-66).
    Each backend's final state must equal plain SQL LWW — i.e. exactly
    what LakeTable reaches on the same stream (cdc_engine_e2e's
    oracle), tagged and unioned so one driver row proves both engines
    AND their equality."""
    from pyspark.sql import types as T

    from etl_warehouse_agnostic_spark.lake.backends import make_warehouse

    chg = _changes(spark, sf_dir).localCheckpoint()
    n = chg.count()
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("ts", chg.schema["ts"].dataType, True),
        ]
    )
    root = tempfile.mkdtemp(prefix="etlwa-wh-")
    try:
        from etl_warehouse_agnostic_spark.engine import CdcEngine
        from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
        from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource

        outs = []
        for wtype in ("duckdb", "sqlite"):
            wh = make_warehouse(
                spark, {"type": wtype, "path": os.path.join(root, f"wh-{wtype}")},
                schema, KEYS,
            )
            ck = ManifestStore(os.path.join(root, f"ck-{wtype}"))
            eng = CdcEngine(spark, None, ck)
            src = ChangeStreamSource(spark, df=chg)
            results = eng.run(src, epoch_size=max(1000, n // 3), sink=wh)
            assert results and not any(r.skipped for r in results)
            # resume from checkpoint with nothing new — exactly-once no-op
            assert eng.run(src, epoch_size=max(1000, n // 3), sink=wh) == []
            outs.append(
                wh.read()
                .select(F.lit(wtype).alias("backend"), "conv_id", "turn_idx", "role", "text")
                .localCheckpoint()
            )
        return outs[0].unionByName(outs[1])
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _silver_chain(cur, ingest_epoch):
    """~25 chained scalar transforms in one projection — the
    end-to-end shape of the reference's curated models (territory
    split client_notes.sql:183-193, case-insensitive flag battery
    :197-213, money/date casts bills.sql:103-107,219-247, toYYYYMM
    partitions), ending with the P5 lineage stamp
    (_source_system/_endpoint/_ingest_epoch — the reference's metadata
    columns on every landed row; ``_ingest_epoch`` is the REAL cycle
    id when maintained incrementally). Every primitive is the named
    operator from functions/scalars.py; the whole chain stays in one
    WholeStageCodegen projection."""
    from etl_warehouse_agnostic_spark.functions.scalars import (
        multi_if,
        null_if_dirty,
        parse_microsoft_json_date,
        parse_timestamp_best_effort,
        position_ci,
        to_bool_lenient,
        try_decimal,
    )

    k_val = F.get_json_object("text", "$.k")
    ms = F.format_string("/Date(%d+0000)/", F.unix_millis(F.col("ts").cast("timestamp")))
    return cur.select(
        "conv_id", "turn_idx",
        F.trim(F.col("role")).alias("role_trim"),
        F.upper("role").alias("role_u"),
        F.lower("role").alias("role_l"),
        null_if_dirty(k_val).alias("k_clean"),
        F.coalesce(null_if_dirty("role"), F.lit("unknown")).alias("role_or_unknown"),
        multi_if(
            (F.col("turn_idx") < 4, F.lit("early")),
            (F.col("turn_idx") < 10, F.lit("mid")),
            default=F.lit("late"),
        ).alias("phase"),
        position_ci("role", "ICK").alias("has_ick"),
        position_ci("role", "view").alias("has_view"),
        position_ci("text", "9").alias("has_nine"),
        try_decimal(k_val).cast("string").alias("k_dec"),
        parse_timestamp_best_effort(F.date_format("ts", "yyyy/MM/dd HH:mm:ss")).alias("ts_be"),
        parse_microsoft_json_date(ms).alias("ts_ms"),
        F.split(F.col("conv_id"), "_").getItem(0).alias("conv_prefix"),
        F.split(F.col("conv_id"), "_").getItem(1).alias("conv_num"),
        F.substring("conv_id", 6, 5).alias("conv_digits"),
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("turn_key"),
        F.length("text").alias("text_len"),
        F.date_format("ts", "yyyyMM").alias("yyyymm"),
        F.year("ts").alias("y"),
        F.quarter("ts").alias("q"),
        to_bool_lenient(
            F.when(F.col("lsn") % 2 == 0, "yes").otherwise("0")
        ).alias("even_flag"),
        F.nullif(F.col("role"), F.lit("error")).alias("role_nz"),
        F.md5(
            F.concat_ws("|", "conv_id", F.col("turn_idx").cast("string"),
                        F.coalesce("text", F.lit("∅")))
        ).alias("record_hash"),
        (F.col("lsn") / F.lit(1000.0)).alias("lsn_k"),
        F.greatest(F.col("turn_idx"), F.lit(1)).alias("turn_floor"),
        F.lit("events").alias("_source_system"),
        F.lit("transcripts_changes").alias("_endpoint"),
        ingest_epoch.cast("int").alias("_ingest_epoch"),
    )


_SILVER_EPOCH_SIZE = 2000


def q_silver_incremental(spark, sf_dir):
    """Incremental curated-layer materialization, BOTH model kinds in
    one tagged row — the dbt-per-cycle analog (client_notes_raw.sql:
    55-60 incremental predicate, run per cycle by repsly_dag.py:
    643-1040): the engine tail loop maintains
    - 'silver' rows: ``SilverModel`` — the full 25-transform chain
      applied to each epoch's staged delta (deletes propagated by key,
      epoch-idempotent MERGE, REAL per-cycle ``_ingest_epoch`` stamp);
    - 'gold' rows: ``AggregateModel`` — a per-conversation rollup
      maintained by affected-group recompute with bucket-pruned bronze
      reads (the incremental-aggregate shape running aggregates cannot
      express once deletes exist);
    - 'gold_from_silver' rows: a CHAINED ``AggregateModel`` hanging off
      the SilverModel itself (``parent=``) — the dbt raw → staging →
      curated graph (dbt/models/staging/repsly/forms_items.sql:34,
      ``ref('forms_staging')``): its input is the silver model's own
      per-epoch output delta, recomputed lazily from the one bronze
      staged delta, and its recompute reads the SILVER table
      bucket-pruned;
    - 'gold_delta' rows: ``DeltaAggregateModel`` — a day rollup over
      the MUTABLE ``ts`` maintained by pure delta arithmetic
      (new = old + agg(upserts) − agg(pre-epoch rows of the delta's
      keys)), never a group recompute: O(delta) per cycle independent
      of group size, with exact NULL-sum semantics via the hidden
      non-null counters (the ClickHouse SummingMergeTree / incremental
      view maintenance shape);
    across ≥3 epochs plus a replay that must be a version-stable no-op
    on every table. The oracle recomputes ALL FOUR models from scratch
    in SQL (the chained rollup from the recomputed silver state, the
    day rollup straight off the LWW winners), so the driver hash proves
    incremental maintenance == full rebuild for the row-wise, the
    recompute-aggregate, the chained (model-of-model), AND the
    delta-arithmetic case — cross-day moves and deletes included."""
    from pyspark.sql import types as T

    from etl_warehouse_agnostic_spark.engine import CdcEngine
    from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
    from etl_warehouse_agnostic_spark.lake.table import LakeTable
    from etl_warehouse_agnostic_spark.silver import (
        AggregateModel,
        DeltaAggregateModel,
        SilverModel,
    )
    from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource

    chg = _changes(spark, sf_dir).localCheckpoint()
    bronze_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("ts", chg.schema["ts"].dataType, True),
        ]
    )

    def transform(upserts, epoch):
        return _silver_chain(upserts, F.lit(epoch))

    def rollup(rows):
        return rows.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.max("turn_idx").alias("last_turn"),
            F.sum(F.length("text")).alias("text_chars"),
        )

    def rollup2(rows):
        # aggregates SILVER-shaped rows (the chained model's input is
        # the silver table, not bronze) — incl. the per-cycle stamp
        return rows.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.sum("text_len").cast("long").alias("sum_text_len"),
            F.max("_ingest_epoch").cast("int").alias("last_cycle"),
        )

    # silver schema = the transform's output shape (derived, not typed twice)
    staged_shape = T.StructType(
        list(bronze_schema.fields)
        + [T.StructField("op", T.StringType()), T.StructField("lsn", T.LongType())]
    )
    silver_schema = transform(spark.createDataFrame([], staged_shape), 0).schema
    gold_schema = rollup(spark.createDataFrame([], bronze_schema)).schema
    gold2_schema = rollup2(spark.createDataFrame([], silver_schema)).schema
    gold3_schema = T.StructType(
        [
            T.StructField("day", T.StringType(), False),
            T.StructField("d_n", T.LongType(), True),
            T.StructField("d_chars", T.LongType(), True),
            T.StructField("_nn_d_chars", T.LongType(), True),
        ]
    )

    def day_groups(rows):
        return rows.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))

    root = tempfile.mkdtemp(prefix="etlwa-silver-")
    try:
        bronze = LakeTable.create(
            spark, os.path.join(root, "bronze"), bronze_schema, KEYS, num_buckets=8
        )
        silver = LakeTable.create(
            spark, os.path.join(root, "silver"), silver_schema, KEYS, num_buckets=8
        )
        gold = LakeTable.create(
            spark, os.path.join(root, "gold"), gold_schema, ["conv_id"], num_buckets=8
        )
        gold2 = LakeTable.create(
            spark, os.path.join(root, "gold2"), gold2_schema, ["conv_id"], num_buckets=8
        )
        gold3 = LakeTable.create(
            spark, os.path.join(root, "gold3"), gold3_schema, ["day"], num_buckets=8
        )
        silver_model = SilverModel(silver, transform, name="turns_silver")
        models = [
            silver_model,
            AggregateModel(gold, bronze, ["conv_id"], rollup, name="conv_rollup"),
            AggregateModel(
                gold2, None, ["conv_id"], rollup2,
                name="conv_rollup_from_silver", parent=silver_model,
            ),
            DeltaAggregateModel(
                gold3, bronze, ["day"], {"d_chars": F.length("text")},
                count_col="d_n", name="day_rollup_delta", row_groups=day_groups,
            ),
        ]
        ck = ManifestStore(os.path.join(root, "ck"))
        eng = CdcEngine(spark, bronze, ck, silver_models=models)
        src = ChangeStreamSource(spark, df=chg)
        results = eng.run(src, epoch_size=_SILVER_EPOCH_SIZE)
        assert len(results) >= 3, "need ≥3 epochs of genuine incremental maintenance"
        assert (
            silver.committed_epochs() == gold.committed_epochs()
            == gold2.committed_epochs() == gold3.committed_epochs()
            == bronze.committed_epochs()
        )
        versions = lambda: (  # noqa: E731
            silver.latest_version(), gold.latest_version(),
            gold2.latest_version(), gold3.latest_version(),
        )
        v0 = versions()
        assert eng.run(src, epoch_size=_SILVER_EPOCH_SIZE) == []  # replay no-op
        assert versions() == v0

        gold_nulls = [
            F.lit(None).cast("long").alias("n_turns"),
            F.lit(None).cast("int").alias("last_turn"),
            F.lit(None).cast("long").alias("text_chars"),
        ]
        gold2_nulls = [
            F.lit(None).cast("long").alias("n_msgs"),
            F.lit(None).cast("long").alias("sum_text_len"),
            F.lit(None).cast("int").alias("last_cycle"),
        ]
        gold3_nulls = [
            F.lit(None).cast("string").alias("day"),
            F.lit(None).cast("long").alias("d_n"),
            F.lit(None).cast("long").alias("d_chars"),
            F.lit(None).cast("long").alias("d_nn"),
        ]
        silver_nulls = [
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in silver_schema.fields
            if f.name != "conv_id"
        ]
        s = silver.read().select(
            F.lit("silver").alias("part"), "*", *gold_nulls, *gold2_nulls, *gold3_nulls
        )
        g = gold.read().select(
            F.lit("gold").alias("part"),
            "conv_id",
            *silver_nulls,
            F.col("n_turns").cast("long"),
            F.col("last_turn").cast("int"),
            F.col("text_chars").cast("long"),
            *gold2_nulls,
            *gold3_nulls,
        )
        g2 = gold2.read().select(
            F.lit("gold_from_silver").alias("part"),
            "conv_id",
            *silver_nulls,
            *gold_nulls,
            F.col("n_msgs").cast("long"),
            F.col("sum_text_len").cast("long"),
            F.col("last_cycle").cast("int"),
            *gold3_nulls,
        )
        g3 = gold3.read().select(
            F.lit("gold_delta").alias("part"),
            F.lit(None).cast("string").alias("conv_id"),
            *silver_nulls,
            *gold_nulls,
            *gold2_nulls,
            F.col("day"),
            F.col("d_n").cast("long"),
            F.col("d_chars").cast("long"),
            F.col("_nn_d_chars").cast("long").alias("d_nn"),
        )
        return s.unionByName(g).unionByName(g2).unionByName(g3).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_multi_source_converge(spark, sf_dir):
    """T7 + P8 in one row: the change stream split into two disjoint
    sources (by conv-id hash), orchestrated with ``depends_on``
    ordering and per-source manifest namespaces, each landing in its
    own table. The union of the two final states must equal global SQL
    LWW — i.e. the multi-source run converges to exactly the
    single-stream answer. A SECOND orchestrated pass then exercises the
    control-plane refresh gate (P8, ``should_skip_refresh`` — the
    reference's _should_skip_reference_data_extraction,
    extractors/leaflink/extractor.py:958-982): src_a carries a 24 h
    refresh interval so its just-finalized epoch gates it to
    ``skipped_fresh`` while src_b runs (and finds nothing new). The
    engine-OBSERVED pass1>pass2 statuses ride every output row as the
    ``control_plane`` column; the oracle asserts the expected statuses
    as a literal, so the driver hash fails iff the gate misbehaves."""
    from pyspark.sql import types as T

    from etl_warehouse_agnostic_spark.lake.table import LakeTable
    from etl_warehouse_agnostic_spark.orchestrate import MultiSourceRunner, SourceSpec
    from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource

    chg = _changes(spark, sf_dir).localCheckpoint()
    n = chg.count()
    is_a = F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("ts", chg.schema["ts"].dataType, True),
        ]
    )
    root = tempfile.mkdtemp(prefix="etlwa-ms-")
    try:
        specs = []
        for name, pred in (("src_a", is_a), ("src_b", ~is_a)):
            t = LakeTable.create(
                spark, os.path.join(root, name), schema, KEYS, num_buckets=8
            )
            specs.append(
                SourceSpec(
                    name=name,
                    source=ChangeStreamSource(spark, df=chg.where(pred)),
                    table=t,
                    depends_on=["src_a"] if name == "src_b" else [],
                    epoch_size=max(1000, n // 3),
                    # P8 gate on the reference-data-shaped source only
                    refresh_interval_hours=24.0 if name == "src_a" else None,
                )
            )
        out1 = MultiSourceRunner(spark, specs, os.path.join(root, "ck")).run_all()
        # pass 2 against the same namespaces: src_a's epoch is minutes
        # old → the refresh gate must skip it; src_b re-runs (no new
        # LSNs → zero epochs, but the gate did not fire)
        out2 = MultiSourceRunner(spark, specs, os.path.join(root, "ck")).run_all()
        control_plane = ",".join(
            f"{name}:{out1[name].status}>{out2[name].status}"
            for name in sorted(out1)
        )
        union = specs[0].table.read().unionByName(specs[1].table.read())
        return union.select(
            "conv_id", "turn_idx", "role", "text",
            F.lit(control_plane).alias("control_plane"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_time_partition_scan(spark, sf_dir):
    """Time-dimension pruning made observable: the change stream lands
    in a ``bucket(4, conv_id) × days(ts)`` LakeTable, then a 3-day
    bounded read (metadata-pruned to that window's files — asserted)
    aggregates per-day op counts. Oracle = the same date-bounded
    aggregate in SQL."""
    from pyspark.sql import types as T

    from etl_warehouse_agnostic_spark.lake.table import LakeTable

    chg = _changes(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    lo, hi = "2024-01-05", "2024-01-07"
    root = tempfile.mkdtemp(prefix="etlwa-tp-")
    try:
        t = LakeTable.create(
            spark, os.path.join(root, "t"), schema, ["lsn"],
            num_buckets=4, partition_spec={"col": "ts", "transform": "day"},
        )
        t.overwrite(chg.select("lsn", "op", "conv_id", "turn_idx", "ts"))
        window = t.read(day_range=(lo, hi))
        opened = window.inputFiles()
        assert opened and all(
            lo <= f.split("_pd=")[1][:10] <= hi for f in opened
        ), "day-bounded read must open only the window's files"
        out = window.groupBy(F.to_date("ts").alias("day"), "op").agg(
            F.count(F.lit(1)).alias("n"), F.max("lsn").alias("max_lsn")
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_cdc_engine_e2e(spark, sf_dir):
    """The actual engine end-to-end, BOTH drive modes in one row:
    change stream → LakeTable via (a) the fixed-size epoch loop and
    (b) histogram-planned row-bounded epochs — each mode's final table
    state tagged and unioned. The oracle is plain SQL LWW twice —
    proving engine == SQL semantics for both replay plans, and the two
    modes equal to each other."""
    from pyspark.sql import types as T

    from etl_warehouse_agnostic_spark.engine import CdcEngine
    from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
    from etl_warehouse_agnostic_spark.lake.table import LakeTable
    from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource

    chg = _changes(spark, sf_dir).localCheckpoint()  # one scan, both modes
    n = chg.count()
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    root = tempfile.mkdtemp(prefix="etlwa-e2e-")
    try:
        outs = []
        for mode in ("epochs", "bounded"):
            table = LakeTable.create(
                spark, os.path.join(root, mode), schema, KEYS, num_buckets=8
            )
            eng = CdcEngine(spark, table, ManifestStore(os.path.join(root, f"ck-{mode}")))
            src = ChangeStreamSource(spark, df=chg)
            if mode == "epochs":
                eng.run(src, epoch_size=max(1000, n // 4))
            else:
                eng.run(src, max_rows_per_epoch=max(1000, n // 3), granules=256)
            outs.append(
                table.read()
                .select(F.lit(mode).alias("mode"), "conv_id", "turn_idx", "role", "text")
                .localCheckpoint()
            )
        return outs[0].unionByName(outs[1])
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------- registries

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # flagship engine rows first (driver evidence priority)
    "cdc_engine_e2e": q_cdc_engine_e2e,
    "warehouse_parity": q_warehouse_parity,
    "multi_source_converge": q_multi_source_converge,
    "time_partition_scan": q_time_partition_scan,
    "silver_incremental": q_silver_incremental,
    "lww_dedup_strategies": q_lww_dedup_strategies,
    "lww_dedup_nulls_last": q_lww_dedup_nulls_last,
    "cdc_final_state": q_cdc_final_state,
    "merge_upsert": q_merge_upsert,
    "dup_batch_anti_join": q_dup_batch_anti_join,
    "watermark_offsets": q_watermark_offsets,
    "incremental_slice": q_incremental_slice,
    "dq_checks": q_dq_checks,
    "expectations": q_expectations,
    "asof_join": q_asof_join,
    "sessionize": q_sessionize,
    "windowed_op_counts": q_windowed_op_counts,
    "pipeline_health": q_pipeline_health,
    "completeness_ratio": q_completeness_ratio,
    "valid_filter": q_valid_filter,
    "ordinal_numbering": q_ordinal_numbering,
    "scalar_battery": q_scalar_battery,
    "flatten_json": q_flatten_json,
    "flatten_rules": q_flatten_rules,
    "unwrap_value": q_unwrap_value,
    "explode_json_items": q_explode_json_items,
    "promote_first_element": q_promote_first_element,
    "explode_words": q_explode_words,
    "union_missing_columns": q_union_missing_columns,
    "set_ops": q_set_ops,
    "pivot_status": q_pivot_status,
    "rollup_revenue": q_rollup_revenue,
    "percentile_summary": q_percentile_summary,
    "topk_customers": q_topk_customers,
    "pricing_summary": q_pricing_summary,
    "revenue_by_region": q_revenue_by_region,
    "clean_tabular": q_clean_tabular,
    "sheet_grid": q_sheet_grid,
    "csv_roundtrip": q_csv_roundtrip,
    "full_refresh": q_full_refresh,
    "exact_dedup": q_exact_dedup,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "minhash_lsh": q_minhash_lsh,
    "cosine_topk": q_cosine_topk,
    "cosine_near_pairs": q_cosine_near_pairs,
    "recall_gates": q_recall_gates,
    "text_battery": q_text_battery,
    "training_pipeline": q_training_pipeline,
    "media_battery": q_media_battery,
    "media_frame_sample": q_media_frame_sample,
}


_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_WORDS = f"string_split({_NORM}, ' ')"
_STOP = "['the','a','and','of','to','in','is','it','that','for']"

ORACLES: dict[str, str] = {
    "lww_dedup_strategies": _LWW_ORACLE,
    "lww_dedup_nulls_last": f"""
        WITH en AS (
          SELECT *,
                 coalesce(nullif(CASE WHEN lsn % 7 = 0 THEN '' ELSE 'g:' || conv_id END, ''),
                          nullif('n:' || conv_id, '')) AS biz_key,
                 CASE WHEN lsn % 5 = 0 THEN NULL ELSE ts END AS ver_ts
          FROM ({CHG_SQL}))
        SELECT biz_key, lsn, op FROM (
          SELECT *, row_number() OVER (
            PARTITION BY biz_key
            ORDER BY ver_ts DESC NULLS LAST, lsn DESC NULLS LAST) AS rn
          FROM en) WHERE rn = 1
    """,
    "cdc_final_state": f"SELECT conv_id, turn_idx, role, text, lsn FROM ({LWW_SQL}) WHERE op <> 'D'",
    "merge_upsert": f"""
        WITH base AS (
          SELECT conv_id, turn_idx, role, lsn FROM (
            SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                     ORDER BY lsn DESC, ts DESC) rn
            FROM ({CHG_SQL}) WHERE lsn % 2 = 0) WHERE rn = 1 AND op <> 'D'),
        delta AS (
          SELECT conv_id, turn_idx, role, lsn, op FROM (
            SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                     ORDER BY lsn DESC, ts DESC) rn
            FROM ({CHG_SQL}) WHERE lsn % 2 = 1) WHERE rn = 1)
        SELECT b.conv_id, b.turn_idx, b.role, b.lsn FROM base b
          WHERE NOT EXISTS (SELECT 1 FROM delta d
                            WHERE d.conv_id = b.conv_id AND d.turn_idx = b.turn_idx)
        UNION ALL
        SELECT conv_id, turn_idx, role, lsn FROM delta WHERE op <> 'D'
    """,
    "dup_batch_anti_join": f"""
        WITH chg AS ({CHG_SQL}),
        loaded AS (SELECT DISTINCT conv_id, turn_idx FROM chg WHERE lsn <= 5000),
        batch AS (SELECT * FROM chg WHERE lsn > 5000 AND lsn <= 6000)
        SELECT b.conv_id, b.turn_idx, b.lsn, b.op FROM batch b
        WHERE NOT EXISTS (SELECT 1 FROM loaded l
                          WHERE l.conv_id = b.conv_id AND l.turn_idx = b.turn_idx)
    """,
    "watermark_offsets": f"""
        SELECT CAST(lsn % 8 AS INT) AS pid, max(lsn) AS max_lsn, min(lsn) AS min_lsn,
               count(*) AS rows, max(ts) AS max_ts
        FROM ({CHG_SQL}) GROUP BY 1
    """,
    # NB: DuckDB sum(int) is HUGEINT (int128) — fetched as float64 via
    # pandas/arrow, which breaks the driver's value-hash against Spark's
    # BIGINT. Every integer sum in an oracle must be CAST(... AS BIGINT).
    "dq_checks": """
        SELECT event_type, count(*) AS n,
               count(*) - count(DISTINCT user_id) AS dup_users,
               CAST(sum(CASE WHEN value IS NULL OR value <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_value_cnt,
               max(ts) AS freshest,
               count(DISTINCT user_id) AS distinct_users
        FROM events GROUP BY event_type
    """,
    "asof_join": """
        WITH r AS (
          SELECT user_id, ts, 's' || CAST(max(event_id) AS VARCHAR) AS status
          FROM events WHERE event_id % 10 = 0 GROUP BY user_id, ts)
        SELECT l.event_id, l.user_id, r.status AS r_status
        FROM events l ASOF LEFT JOIN r
          ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    "expectations": """
        WITH m AS (
          SELECT CAST(count(*) - count(DISTINCT coalesce(CAST(event_id AS VARCHAR), '∅')) AS DOUBLE) AS m0,
                 CAST(round(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                      / greatest(count(*), 1), 6) AS DOUBLE) AS m1,
                 CAST(sum(CASE WHEN event_type IN ('view','click','purchase','signup')
                               OR event_type IS NULL THEN 0 ELSE 1 END) AS DOUBLE) AS m2,
                 CAST(count(*) AS DOUBLE) AS m3,
                 CAST(epoch_us(max(ts)) AS DOUBLE) AS m4
          FROM events)
        SELECT 'unique:event_id' AS check, m0 AS observed, m0 = 0 AS passed FROM m
        UNION ALL SELECT 'not_null:value', m1, m1 <= 0.10 FROM m
        UNION ALL SELECT 'accepted_values:event_type', m2, m2 = 0 FROM m
        UNION ALL SELECT 'min_rows', m3, m3 >= 1000 FROM m
        UNION ALL SELECT 'freshness:ts', m4, m4 >= CAST(epoch_us(TIMESTAMP '2020-01-01 00:00:00') AS DOUBLE) FROM m
    """,
    "incremental_slice": f"""
        SELECT op, count(*) AS rows, min(lsn) AS lo, max(lsn) AS hi
        FROM ({CHG_SQL}) WHERE lsn > 5000 AND lsn <= 7000 GROUP BY op
    """,
    "ordinal_numbering": """
        SELECT user_id, event_id, rn FROM (
          SELECT user_id, event_id, row_number() OVER (
            PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
          FROM events) WHERE rn <= 3
    """,
    "scalar_battery": """
        SELECT event_id,
               upper(event_type) AS etype_u,
               lower(event_type) AS etype_l,
               coalesce(nullif(event_type, 'error'), 'redacted') AS etype_clean,
               CASE WHEN value < 10 THEN 'low' WHEN value < 30 THEN 'mid' ELSE 'high' END AS value_band,
               instr(event_type, 'i') > 0 AS has_i,
               substring(event_type, 1, 3) AS etype3,
               concat(event_type, '-', CAST(user_id AS VARCHAR)) AS tag,
               length(props) AS props_len,
               CAST(year(ts) AS INT) AS y,
               CAST(month(ts) AS INT) AS m,
               CAST(day(ts) AS INT) AS d,
               CAST(hour(ts) AS INT) AS h,
               CAST(ts AS DATE) AS dt,
               CAST(floor(value) AS BIGINT) AS value_floor,
               printf('/Date(%d+0000)/', epoch_ms(ts)) AS ms_date_str,
               make_timestamp(epoch_ms(ts) * 1000) AS ms_parsed_ts,
               CASE event_type WHEN 'view' THEN TRUE WHEN 'click' THEN TRUE
                    WHEN 'purchase' THEN FALSE WHEN 'signup' THEN FALSE
                    ELSE NULL END AS b,
               CASE WHEN event_id % 3 = 0 THEN CAST(CAST('12.5' AS DECIMAL(18,2)) AS VARCHAR)
                    WHEN event_id % 3 = 1 THEN NULL
                    ELSE CAST(CAST('-7' AS DECIMAL(18,2)) AS VARCHAR) END AS dec_s,
               CASE WHEN event_id % 4 IN (0, 2) THEN date_trunc('second', ts)
                    WHEN event_id % 4 = 1 THEN make_timestamp(epoch_ms(ts) * 1000)
                    ELSE NULL END AS be_parsed_ts
        FROM events
    """,
    "flatten_json": """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
               CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod
        FROM events
    """,
    "explode_words": """
        SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word FROM part
    """,
    "union_missing_columns": """
        SELECT c_custkey AS id, c_acctbal AS bal, NULL::INT AS nationkey FROM customer
        UNION ALL
        SELECT s_suppkey AS id, s_acctbal AS bal, s_nationkey AS nationkey FROM supplier
    """,
    # pipeline_health: epoch boundaries are ((k-1)*2000, min(k*2000,
    # max_lsn)]; per-epoch net ops re-derived by LWW WITHIN each slice
    # (the engine dedups per epoch, not globally); invariant flags are
    # asserted as literals (recall_gates pattern).
    # NB dense-LSN assumption: this oracle derives epochs only for
    # slices that CONTAIN rows (reads×nets inner join). The engine
    # emits a manifest (and health row) even for an entirely-empty
    # 2000-LSN slice — fine here because the fixture's lsn sequence
    # (event_id) is dense, but a fixture with a gap spanning a whole
    # slice would need a generated epoch series with zero-filled
    # counts on the oracle side.
    "pipeline_health": f"""
        WITH chg AS ({CHG_SQL}),
        mx AS (SELECT max(lsn) AS ml FROM chg),
        -- the engine's cursor scan is lsn > 0 (watermark starts at 0),
        -- so an lsn-0 event is outside every slice
        e AS (SELECT *, CAST(floor((lsn - 1) / 2000) AS INT) + 1 AS epoch
              FROM chg WHERE lsn > 0),
        lww AS (
          SELECT epoch, op FROM (
            SELECT epoch, op, row_number() OVER (
              PARTITION BY epoch, conv_id, turn_idx
              ORDER BY lsn DESC, ts DESC) AS rn
            FROM e) WHERE rn = 1),
        reads AS (SELECT epoch, count(*) AS rows_read FROM e GROUP BY epoch),
        nets AS (
          SELECT epoch,
                 CAST(sum(CASE WHEN op <> 'D' THEN 1 ELSE 0 END) AS BIGINT) AS rows_upserted,
                 CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS rows_deleted
          FROM lww GROUP BY epoch)
        SELECT r.epoch, r.rows_read, n.rows_upserted, n.rows_deleted,
               CAST((r.epoch - 1) * 2000 AS BIGINT) AS lsn_lo,
               CAST(least(r.epoch * 2000, (SELECT ml FROM mx)) AS BIGINT) AS lsn_hi,
               TRUE AS watermark_monotone,
               TRUE AS counts_consistent,
               TRUE AS within_sla
        FROM reads r JOIN nets n ON r.epoch = n.epoch
    """,
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "revenue_by_region": """
        SELECT r_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "sessionize": """
        WITH lagged AS (
          SELECT event_id, user_id, ts,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
          FROM events),
        flagged AS (
          SELECT *, CASE WHEN prev_ts IS NULL
                          OR epoch_us(ts) - epoch_us(prev_ts) > 600 * 1000000
                         THEN 1 ELSE 0 END AS is_new
          FROM lagged),
        numbered AS (
          SELECT event_id, user_id,
                 CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS INT) AS session_seq
          FROM flagged)
        SELECT event_id, user_id, session_seq,
               CAST(user_id AS VARCHAR) || '#' || CAST(session_seq AS VARCHAR) AS session_id
        FROM numbered
    """,
    "set_ops": """
        SELECT nationkey, 'both' AS which FROM
          (SELECT DISTINCT c_nationkey AS nationkey FROM customer
           INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
        UNION ALL
        SELECT nationkey, 'customers_only' FROM
          (SELECT DISTINCT c_nationkey AS nationkey FROM customer
           EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
        UNION ALL
        SELECT nationkey, 'suppliers_only' FROM
          (SELECT DISTINCT s_nationkey AS nationkey FROM supplier
           EXCEPT SELECT DISTINCT c_nationkey FROM customer)
    """,
    "pivot_status": """
        SELECT o_orderpriority,
               count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open,
               count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_filled,
               count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_pending
        FROM orders GROUP BY o_orderpriority
    """,
    "rollup_revenue": """
        SELECT r_name, o_orderstatus,
               CAST(GROUPING(r_name) * 2 + GROUPING(o_orderstatus) AS INT) AS gid,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, o_orderstatus)
    """,
    "percentile_summary": """
        SELECT o_orderstatus,
               round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
               round(quantile_cont(o_totalprice, 0.99), 4) AS p99,
               count(*) AS n
        FROM orders GROUP BY o_orderstatus
    """,
    "topk_customers": """
        SELECT o_custkey, round(sum(o_totalprice), 2) AS total, count(*) AS n
        FROM orders GROUP BY o_custkey
        ORDER BY total DESC, o_custkey ASC LIMIT 10
    """,
    "completeness_ratio": f"""
        WITH chg AS ({CHG_SQL}),
        raw AS (SELECT conv_id, count(*) AS raw_rows FROM chg GROUP BY conv_id),
        silver AS (
          SELECT conv_id, count(*) AS silver_rows FROM (
            SELECT * FROM (
              SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                       ORDER BY lsn DESC, ts DESC) rn FROM chg)
            WHERE rn = 1 AND op <> 'D') GROUP BY conv_id)
        SELECT r.conv_id, r.raw_rows,
               coalesce(s.silver_rows, 0) AS silver_rows,
               round(coalesce(s.silver_rows, 0) / r.raw_rows, 6) AS completeness
        FROM raw r LEFT JOIN silver s ON r.conv_id = s.conv_id
    """,
    "clean_tabular": """
        WITH sheet AS (
          SELECT CAST(event_id AS VARCHAR) AS event_id,
                 CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS event_type,
                 CASE WHEN value > 30 THEN props ELSE NULL END AS big_value
          FROM events WHERE event_id < 500)
        SELECT *, CAST(row_number() OVER (
                 ORDER BY event_id ASC NULLS LAST, event_type ASC NULLS LAST,
                          big_value ASC NULLS LAST) AS INT) AS _row_number
        FROM sheet
    """,
    "full_refresh": """
        SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_acctbal > 0
    """,
    "unwrap_value": """
        SELECT c_custkey, c_name AS name, c_acctbal AS acctbal,
               c_mktsegment AS segment
        FROM customer
    """,
    "explode_json_items": """
        SELECT event_id, 1 AS item_ordinal, 'etype' AS field, event_type AS value
        FROM events WHERE event_id <= 2000
        UNION ALL
        SELECT event_id, 2 AS item_ordinal, 'uid' AS field, CAST(user_id AS VARCHAR) AS value
        FROM events WHERE event_id <= 2000
    """,
    "promote_first_element": """
        SELECT p_partkey,
               CASE WHEN p_partkey % 10 = 0 THEN NULL ELSE p_name END AS primary_name,
               CASE WHEN p_partkey % 10 = 0 THEN NULL ELSE p_brand END AS primary_brand
        FROM part
    """,
    "flatten_rules": """
        SELECT o_orderkey,
               o_totalprice AS total_amount,
               'USD' AS total_currency,
               o_orderstatus || '|' || o_orderpriority AS tags_names,
               2 AS tags_count
        FROM orders
    """,
    # 'window' section = tumbling-window census; 'ledger' section = the
    # stateful ledger's per-conversation truth (events seen, LIVE turns
    # under LWW, high-water lsn) re-derived in SQL.
    "windowed_op_counts": f"""
        WITH chg AS ({CHG_SQL}),
        lww AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                     ORDER BY lsn DESC) AS rn
            FROM chg) WHERE rn = 1)
        SELECT 'window' AS part,
               time_bucket(INTERVAL '1 hour', ts) AS window_start,
               time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
               op, count(*) AS n, max(lsn) AS max_lsn,
               CAST(NULL AS VARCHAR) AS conv_id,
               CAST(NULL AS BIGINT) AS events_seen,
               CAST(NULL AS BIGINT) AS live_turns
        FROM chg GROUP BY 1, 2, 3, 4
        UNION ALL
        SELECT 'ledger' AS part,
               CAST(NULL AS TIMESTAMP) AS window_start,
               CAST(NULL AS TIMESTAMP) AS window_end,
               CAST(NULL AS VARCHAR) AS op,
               CAST(NULL AS BIGINT) AS n,
               s.hi AS max_lsn,
               s.conv_id,
               s.n_events AS events_seen,
               CAST(coalesce(l.n_live, 0) AS BIGINT) AS live_turns
        FROM (SELECT conv_id, count(*) AS n_events, max(lsn) AS hi
              FROM chg GROUP BY conv_id) s
        LEFT JOIN (SELECT conv_id, count(*) AS n_live FROM lww
                   WHERE op <> 'D' GROUP BY conv_id) l USING (conv_id)
    """,
    "csv_roundtrip": """
        SELECT event_id, event_type, user_id FROM events WHERE event_id <= 3000
    """,
    "sheet_grid": """
        SELECT CAST(event_id AS VARCHAR) AS event_id, event_type
        FROM events WHERE event_id < 300
    """,
    "valid_filter": f"""
        WITH en AS (
          SELECT *, CASE WHEN lsn % 11 = 0 THEN NULL ELSE text END AS text2
          FROM ({CHG_SQL}))
        SELECT CASE WHEN text2 IS NULL THEN 'null_text2'
                    WHEN NOT (turn_idx < 12) THEN 'turn_lt_12'
                    ELSE 'valid' END AS disposition,
               count(*) AS n
        FROM en GROUP BY 1
    """,
    "exact_dedup": f"""
        SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        FROM documents GROUP BY {_NORM}
    """,
    "ngram_jaccard_pairs": f"""
        WITH sh AS (
          SELECT DISTINCT doc_id, s AS shingle FROM (
            SELECT doc_id, array_to_string(w[i:i+1], ' ') AS s
            FROM (SELECT doc_id, {_WORDS} AS w FROM documents),
                 LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i))
          WHERE length(s) > 0),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
          SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_inter
          FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
          GROUP BY x.doc_id, y.doc_id)
        SELECT a, b, round(n_inter / (sa.sz + sb.sz - n_inter), 6) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
        WHERE n_inter / (sa.sz + sb.sz - n_inter) >= 0.12
    """,
    "minhash_lsh": f"""
        WITH sh AS (
          SELECT DISTINCT doc_id, s AS shingle FROM (
            SELECT doc_id, array_to_string(w[i:i+1], ' ') AS s
            FROM (SELECT doc_id, {_WORDS} AS w FROM documents),
                 LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i))
          WHERE length(s) > 0),
        sig AS (
          SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS minhash
          FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS seed)
          GROUP BY doc_id, seed),
        banded AS (
          SELECT doc_id, CAST(floor(seed / 2) AS INT) AS band,
                 md5(array_to_string(list_sort(list(minhash)), '|')) AS bucket
          FROM sig GROUP BY doc_id, CAST(floor(seed / 2) AS INT)),
        cand AS (
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM banded x JOIN banded y
            ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
          SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_inter
          FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
          GROUP BY x.doc_id, y.doc_id)
        SELECT c.a, c.b, round(i.n_inter / (sa.sz + sb.sz - i.n_inter), 6) AS jaccard
        FROM cand c JOIN inter i ON i.a = c.a AND i.b = c.b
        JOIN sizes sa ON sa.doc_id = c.a JOIN sizes sb ON sb.doc_id = c.b
        WHERE i.n_inter / (sa.sz + sb.sz - i.n_inter) >= 0.1
    """,
    "cosine_topk": """
        SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS sim,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) DESC,
                            c.vec_id ASC) AS rank
          FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 5)
        WHERE rank <= 3
    """,
    "text_battery": f"""
        SELECT doc_id,
               length(text) AS n_chars_m,
               len({_WORDS}) AS n_words,
               round(length(replace({_NORM}, ' ', '')) / greatest(len({_WORDS}), 1), 6) AS avg_word_len,
               round(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) / greatest(length(text), 1), 6) AS punct_ratio,
               round(len(list_filter({_WORDS}, x -> list_contains({_STOP}, x))) / greatest(len({_WORDS}), 1), 6) AS stopword_ratio,
               (len({_WORDS}) >= 5
                AND round(length(replace({_NORM}, ' ', '')) / greatest(len({_WORDS}), 1), 6) BETWEEN 2 AND 12
                AND round(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) / greatest(length(text), 1), 6) <= 0.2) AS keep,
               len({_WORDS}) AS ws_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens,
               round(len(list_filter({_WORDS}, x -> list_contains({_STOP}, x))) / greatest(len({_WORDS}), 1), 6) AS en_score,
               CASE WHEN round(len(list_filter({_WORDS}, x -> list_contains({_STOP}, x))) / greatest(len({_WORDS}), 1), 6) >= 0.05
                    THEN 'en' ELSE 'und' END AS lang_pred,
               md5({_NORM}) AS fp_md5
        FROM documents
    """,
    "training_pipeline": f"""
        WITH scored AS (
          SELECT doc_id, text,
                 len({_WORDS}) AS n_words,
                 round(length(replace({_NORM}, ' ', '')) / greatest(len({_WORDS}), 1), 6) AS awl,
                 round(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) / greatest(length(text), 1), 6) AS pr,
                 round(len(list_filter({_WORDS}, x -> list_contains({_STOP}, x))) / greatest(len({_WORDS}), 1), 6) AS sr
          FROM documents),
        kept AS (
          SELECT doc_id, text,
                 CASE WHEN sr >= 0.05 THEN 'en' ELSE 'und' END AS lang_pred
          FROM scored
          WHERE n_words >= 5 AND awl BETWEEN 2 AND 12 AND pr <= 0.2),
        dedup AS (
          SELECT lang_pred, {_NORM} AS _norm, min(doc_id) AS doc_id
          FROM kept GROUP BY 1, 2)
        SELECT lang_pred, count(*) AS n_docs, min(doc_id) AS first_doc
        FROM dedup GROUP BY lang_pred
    """,
    # mirror plan_resize's double arithmetic EXACTLY (least/greatest +
    # floor of the scaled product) — simplifying to min(w, 100) risks a
    # one-off at floor(w * (100.0/w)) boundaries.
    "media_battery": """
        SELECT doc_id AS media_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
               md5(text) AS payload_md5,
               FALSE AS decoded,
               CAST(length(text) AS INT) AS width,
               1 AS height,
               greatest(1, CAST(floor(CAST(length(text) AS DOUBLE)
                 * least(1.0, 100.0 / greatest(CAST(length(text) AS DOUBLE), 1.0))) AS INT)) AS target_width,
               greatest(1, CAST(floor(1.0
                 * least(1.0, 100.0 / greatest(CAST(length(text) AS DOUBLE), 1.0))) AS INT)) AS target_height,
               greatest(CAST(length(text) AS DOUBLE), 1.0) > 100 AS needs_resize
        FROM documents
    """,
    "cdc_engine_e2e": f"""
        SELECT 'epochs' AS mode, conv_id, turn_idx, role, text FROM ({LWW_SQL}) WHERE op <> 'D'
        UNION ALL
        SELECT 'bounded' AS mode, conv_id, turn_idx, role, text FROM ({LWW_SQL}) WHERE op <> 'D'
    """,
    "warehouse_parity": f"""
        SELECT 'duckdb' AS backend, conv_id, turn_idx, role, text FROM ({LWW_SQL}) WHERE op <> 'D'
        UNION ALL
        SELECT 'sqlite' AS backend, conv_id, turn_idx, role, text FROM ({LWW_SQL}) WHERE op <> 'D'
    """,
    "multi_source_converge": f"""
        SELECT conv_id, turn_idx, role, text,
               'src_a:ran>skipped_fresh,src_b:ran>ran' AS control_plane
        FROM ({LWW_SQL}) WHERE op <> 'D'
    """,
    # full-rebuild truth for the INCREMENTALLY-maintained silver table:
    # recompute the whole model from scratch; _ingest_epoch = the cycle
    # whose 2000-LSN slice contained the winning row (dense-lsn fixture,
    # same assumption as pipeline_health).
    "silver_incremental": f"""
        WITH cur AS (SELECT * FROM ({LWW_SQL}) WHERE op <> 'D'),
        en AS (SELECT *, json_extract_string(text, '$.k') AS k_val FROM cur),
        sil AS (
        SELECT conv_id, turn_idx,
               trim(role) AS role_trim,
               upper(role) AS role_u,
               lower(role) AS role_l,
               CASE WHEN lower(trim(k_val)) IN ('', 'null', 'none', 'nan', '<na>', 'n/a')
                    THEN NULL ELSE k_val END AS k_clean,
               coalesce(CASE WHEN lower(trim(role)) IN ('', 'null', 'none', 'nan', '<na>', 'n/a')
                             THEN NULL ELSE role END, 'unknown') AS role_or_unknown,
               CASE WHEN turn_idx < 4 THEN 'early'
                    WHEN turn_idx < 10 THEN 'mid' ELSE 'late' END AS phase,
               instr(lower(role), 'ick') > 0 AS has_ick,
               instr(lower(role), 'view') > 0 AS has_view,
               instr(lower(text), '9') > 0 AS has_nine,
               CASE WHEN regexp_matches(trim(k_val), '^-?\\d+(\\.\\d+)?$')
                    THEN CAST(CAST(trim(k_val) AS DECIMAL(18,2)) AS VARCHAR)
                    ELSE NULL END AS k_dec,
               date_trunc('second', ts) AS ts_be,
               make_timestamp(epoch_ms(ts) * 1000) AS ts_ms,
               string_split(conv_id, '_')[1] AS conv_prefix,
               string_split(conv_id, '_')[2] AS conv_num,
               substring(conv_id, 6, 5) AS conv_digits,
               conv_id || '#' || CAST(turn_idx AS VARCHAR) AS turn_key,
               length(text) AS text_len,
               strftime(ts, '%Y%m') AS yyyymm,
               CAST(year(ts) AS INT) AS y,
               CAST(quarter(ts) AS INT) AS q,
               CASE WHEN lsn % 2 = 0 THEN TRUE ELSE FALSE END AS even_flag,
               nullif(role, 'error') AS role_nz,
               md5(conv_id || '|' || CAST(turn_idx AS VARCHAR) || '|' || coalesce(text, '∅')) AS record_hash,
               lsn / 1000.0 AS lsn_k,
               greatest(turn_idx, 1) AS turn_floor,
               'events' AS _source_system,
               'transcripts_changes' AS _endpoint,
               CAST(floor((lsn - 1) / 2000) AS INT) + 1 AS _ingest_epoch
        FROM en)
        SELECT 'silver' AS part, sil.*,
               CAST(NULL AS BIGINT) AS n_turns,
               CAST(NULL AS INT) AS last_turn,
               CAST(NULL AS BIGINT) AS text_chars,
               CAST(NULL AS BIGINT) AS n_msgs,
               CAST(NULL AS BIGINT) AS sum_text_len,
               CAST(NULL AS INT) AS last_cycle,
               CAST(NULL AS VARCHAR) AS day,
               CAST(NULL AS BIGINT) AS d_n,
               CAST(NULL AS BIGINT) AS d_chars,
               CAST(NULL AS BIGINT) AS d_nn
        FROM sil
        UNION ALL
        -- gold section: the per-conversation rollup recomputed from
        -- scratch over the final LWW state (the AggregateModel's
        -- affected-group recompute must converge to exactly this)
        SELECT 'gold' AS part, conv_id,
               NULL AS turn_idx, NULL AS role_trim, NULL AS role_u,
               NULL AS role_l, NULL AS k_clean, NULL AS role_or_unknown,
               NULL AS phase, NULL AS has_ick, NULL AS has_view,
               NULL AS has_nine, NULL AS k_dec, NULL AS ts_be,
               NULL AS ts_ms, NULL AS conv_prefix, NULL AS conv_num,
               NULL AS conv_digits, NULL AS turn_key, NULL AS text_len,
               NULL AS yyyymm, NULL AS y, NULL AS q, NULL AS even_flag,
               NULL AS role_nz, NULL AS record_hash, NULL AS lsn_k,
               NULL AS turn_floor, NULL AS _source_system,
               NULL AS _endpoint, NULL AS _ingest_epoch,
               CAST(count(*) AS BIGINT) AS n_turns,
               CAST(max(turn_idx) AS INT) AS last_turn,
               CAST(sum(length(text)) AS BIGINT) AS text_chars,
               NULL AS n_msgs, NULL AS sum_text_len, NULL AS last_cycle,
               NULL AS day, NULL AS d_n, NULL AS d_chars, NULL AS d_nn
        FROM cur GROUP BY conv_id
        UNION ALL
        -- chained gold-from-silver: the second-level model rebuilt
        -- from scratch over the RECOMPUTED silver state — proves the
        -- engine's chained incremental maintenance (silver's own
        -- per-epoch delta feeding the downstream rollup) converges to
        -- the model-of-model full rebuild
        SELECT 'gold_from_silver' AS part, conv_id,
               NULL AS turn_idx, NULL AS role_trim, NULL AS role_u,
               NULL AS role_l, NULL AS k_clean, NULL AS role_or_unknown,
               NULL AS phase, NULL AS has_ick, NULL AS has_view,
               NULL AS has_nine, NULL AS k_dec, NULL AS ts_be,
               NULL AS ts_ms, NULL AS conv_prefix, NULL AS conv_num,
               NULL AS conv_digits, NULL AS turn_key, NULL AS text_len,
               NULL AS yyyymm, NULL AS y, NULL AS q, NULL AS even_flag,
               NULL AS role_nz, NULL AS record_hash, NULL AS lsn_k,
               NULL AS turn_floor, NULL AS _source_system,
               NULL AS _endpoint, NULL AS _ingest_epoch,
               NULL AS n_turns, NULL AS last_turn, NULL AS text_chars,
               CAST(count(*) AS BIGINT) AS n_msgs,
               CAST(sum(text_len) AS BIGINT) AS sum_text_len,
               CAST(max(_ingest_epoch) AS INT) AS last_cycle,
               NULL AS day, NULL AS d_n, NULL AS d_chars, NULL AS d_nn
        FROM sil GROUP BY conv_id
        UNION ALL
        -- delta-maintained day rollup: rebuilt from scratch over the
        -- final LWW state — the DeltaAggregateModel's pure delta
        -- arithmetic (old + upserts − pre-epoch rows, NULL-sum exact
        -- via the non-null counter) must converge to exactly this
        SELECT 'gold_delta' AS part, NULL AS conv_id,
               NULL AS turn_idx, NULL AS role_trim, NULL AS role_u,
               NULL AS role_l, NULL AS k_clean, NULL AS role_or_unknown,
               NULL AS phase, NULL AS has_ick, NULL AS has_view,
               NULL AS has_nine, NULL AS k_dec, NULL AS ts_be,
               NULL AS ts_ms, NULL AS conv_prefix, NULL AS conv_num,
               NULL AS conv_digits, NULL AS turn_key, NULL AS text_len,
               NULL AS yyyymm, NULL AS y, NULL AS q, NULL AS even_flag,
               NULL AS role_nz, NULL AS record_hash, NULL AS lsn_k,
               NULL AS turn_floor, NULL AS _source_system,
               NULL AS _endpoint, NULL AS _ingest_epoch,
               NULL AS n_turns, NULL AS last_turn, NULL AS text_chars,
               NULL AS n_msgs, NULL AS sum_text_len, NULL AS last_cycle,
               strftime(ts, '%Y-%m-%d') AS day,
               CAST(count(*) AS BIGINT) AS d_n,
               CAST(sum(length(text)) AS BIGINT) AS d_chars,
               CAST(count(text) AS BIGINT) AS d_nn
        FROM cur GROUP BY strftime(ts, '%Y-%m-%d')
    """,
    "time_partition_scan": f"""
        SELECT CAST(ts AS DATE) AS day, op, count(*) AS n, max(lsn) AS max_lsn
        FROM ({CHG_SQL})
        WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-07'
        GROUP BY 1, 2
    """,
    "media_frame_sample": """
        SELECT media_id, duration_ms, CAST(unnest(generate_series(0, greatest(duration_ms - 1, 0), 29)) AS INT) AS frame_offset_ms
        FROM (
          SELECT event_id AS media_id, CAST(floor(value * 100) AS INT) AS duration_ms
          FROM events WHERE event_id <= 1000)
        WHERE duration_ms IS NOT NULL AND duration_ms > 0
    """,
    # simhash_pairs / ivf_topk: intentionally no oracle (bit-twiddling /
    # approximate path not portably expressible) → rows-only check.
    # Their QUALITY is oracle-gated instead via ivf_recall /
    # simhash_recall below: the oracle re-derives the denominator with
    # exact SQL and asserts the measured recall floor as a literal, so
    # the driver hash fails iff the approximate index loses recall.
}

_COSINE_PAIRS_SQL = """
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
    planted AS (
      SELECT vec_id, embedding FROM base
      UNION ALL
      SELECT vec_id + 100000 AS vec_id,
             list_transform(embedding, x -> x * 1.0001 + 0.001) AS embedding
      FROM base WHERE vec_id < 50)
    SELECT a, b, sim FROM (
      SELECT x.vec_id AS a, y.vec_id AS b,
             round(list_cosine_similarity(x.embedding, y.embedding), 6) AS sim
      FROM planted x JOIN planted y ON x.vec_id < y.vec_id)
    WHERE sim >= 0.95
"""
ORACLES["cosine_near_pairs"] = _COSINE_PAIRS_SQL

# One 3-row battery: each gate's n_true re-derived with exact SQL, the
# recall floor asserted as a literal TRUE (the driver hash fails iff an
# approximate index loses recall on the Spark side).
ORACLES["recall_gates"] = f"""
    SELECT 'ivf_topk' AS gate, CAST(count(*) AS BIGINT) AS n_true, TRUE AS recall_ge_080
    FROM ({ORACLES['cosine_topk']})
    UNION ALL
    SELECT 'simhash_pairs' AS gate, CAST(count(*) AS BIGINT) AS n_true, TRUE AS recall_ge_080
    FROM (
      WITH sh AS (
        SELECT DISTINCT doc_id, s AS shingle FROM (
          SELECT doc_id, array_to_string(w[i:i+1], ' ') AS s
          FROM (SELECT doc_id, {_WORDS} AS w FROM documents),
               LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i))
        WHERE length(s) > 0),
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      inter AS (
        SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_inter
        FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id)
      SELECT a, b
      FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
      WHERE n_inter / (sa.sz + sb.sz - n_inter) >= 0.5)
    UNION ALL
    SELECT 'blocked_near_pairs' AS gate, CAST(count(*) AS BIGINT) AS n_true, TRUE AS recall_ge_080
    FROM ({_COSINE_PAIRS_SQL})
"""
