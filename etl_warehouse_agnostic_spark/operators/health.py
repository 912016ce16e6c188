"""Pipeline health summary (SURVEY.md §2 addendum; VERDICT r3 gap #4).

The reference runs a dedicated ``monitor_warehouse_health`` task per
DAG cycle — table existence/rowcount census, data freshness vs a
staleness SLA, pipeline-duration SLA
(airflow/dags/repsly_dag.py:1496-1705, config/sources/repsly.yml:267).
Spark rebuild: the checkpoint manifests ARE the extraction log, so the
health frame is a driver-side fold over O(epochs) manifest JSON plus
(optionally) the table's snapshot metadata — control-plane metadata
reads, no Spark job over the data. At 10^10 rows the table has
thousands of epochs, not billions: summarizing them on the driver is
the right altitude, exactly like the reference reading its state
files rather than scanning ClickHouse.

Emitted per epoch:
- throughput metrics (rows read / upserted / deleted, bytes, wall);
- the applied lsn range and the per-partition offset census;
- invariant flags a health monitor alerts on:
  ``watermark_monotone`` (this epoch's range starts exactly at the
  previous high-water — no gap, no overlap), ``counts_consistent``
  (net upserts+deletes never exceed rows read; LWW only collapses),
  ``within_sla`` (epoch commit age vs the staleness SLA).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore, parse_utc

HEALTH_SCHEMA = T.StructType(
    [
        T.StructField("epoch", T.IntegerType(), False),
        T.StructField("rows_read", T.LongType(), True),
        T.StructField("rows_upserted", T.LongType(), True),
        T.StructField("rows_deleted", T.LongType(), True),
        T.StructField("bytes_written", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
        T.StructField("lsn_lo", T.LongType(), True),
        T.StructField("lsn_hi", T.LongType(), True),
        T.StructField("partitions", T.IntegerType(), True),
        T.StructField("watermark_monotone", T.BooleanType(), True),
        T.StructField("counts_consistent", T.BooleanType(), True),
        T.StructField("within_sla", T.BooleanType(), True),
    ]
)


def pipeline_health(
    spark: SparkSession,
    manifests: ManifestStore,
    sla_hours: float = 24.0,
    now: float | None = None,
) -> DataFrame:
    """One row per finalized epoch with metrics + invariant flags.

    ``within_sla`` compares each epoch's commit time against ``now``
    (wall clock by default) — the staleness check a scheduler alerts
    on. The other flags are pure invariants of the manifest chain."""
    now_ts = time.time() if now is None else now
    rows = []
    prev_hi: int | None = None
    for epoch in manifests.epochs():
        m = manifests.get(epoch)
        met = m.get("metrics", {})
        lin = m.get("lineage", {})
        lo, hi = (lin.get("lsn_range") or [None, None])[:2]
        committed = m.get("committed_at")
        age_ok = True
        if committed:
            age = now_ts - parse_utc(committed)
            age_ok = age <= sla_hours * 3600.0
        rows_read = met.get("rows_read")
        n_up = met.get("rows_upserted")
        n_del = met.get("rows_deleted")
        consistent = (
            rows_read is None
            or rows_read >= (n_up or 0) + (n_del or 0)
        )
        rows.append(
            (
                int(epoch),
                None if rows_read is None else int(rows_read),
                None if n_up is None else int(n_up),
                None if n_del is None else int(n_del),
                None if met.get("bytes_written") is None else int(met["bytes_written"]),
                None if met.get("wall_ms") is None else int(met["wall_ms"]),
                None if lo is None else int(lo),
                None if hi is None else int(hi),
                len(m.get("offsets") or {}),
                prev_hi is None or lo == prev_hi,
                bool(consistent),
                bool(age_ok),
            )
        )
        if hi is not None:
            prev_hi = int(hi)
    return spark.createDataFrame(rows, HEALTH_SCHEMA)


TABLE_HEALTH_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("n_files", T.IntegerType(), False),
        T.StructField("bytes", T.LongType(), False),
        T.StructField("avg_file_bytes", T.LongType(), False),
        T.StructField("fragmented", T.BooleanType(), False),
    ]
)


def table_health(
    spark: SparkSession,
    table,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Per-bucket physical layout census from the current snapshot —
    file counts, bytes, and a ``fragmented`` flag from
    ``LakeTable.file_census``, the rule ``rewrite_small_files`` picks
    its candidates by, so the frame doubles as the compaction plan.
    Snapshot metadata + file sizes only; no data-plane job (a
    copy-on-write table's file inventory IS its snapshot)."""
    rows = [(b, n, total, total // max(n, 1), frag)
            for b, (n, total, frag) in table.file_census(target_file_bytes).items()]
    return spark.createDataFrame(rows, TABLE_HEALTH_SCHEMA)
