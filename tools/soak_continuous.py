"""Continuous-mode soak: run_continuous against a live file feeder.

The reference runs forever on a scheduler (airflow/dags/repsly_dag.py:
309-343); the streaming analog must hold up over wall-clock time, not
just a pre-staged backlog. This harness:

1. starts ``StreamingCdcApply.run_continuous`` (processingTime trigger)
   over an initially-empty change-log directory;
2. feeds it live for ``--minutes``: every ``--feed-interval`` seconds a
   new parquet file with the next contiguous LSN slice is appended
   (exactly how a binlog shipper lands files);
3. samples ``pipeline_health`` concurrently every ``--sample-every``
   seconds while the query runs;
4. on stop, verifies and reports:
   - epoch ids are a contiguous duplicate-free 1..N chain;
   - the applied (watermark, hi] lsn ranges are non-overlapping and
     gap-free (lo_k == hi_{k-1});
   - every health sample had counts_consistent (and records the flag
     battery);
   - the final table state equals the batch LWW truth over everything
     fed (DuckDB oracle);
   - per-epoch latency stats (p50/p95/max wall_ms).

Prints ONE JSON line. Used by BENCH/ artifacts (10 min) and by the
marker-gated pytest soak (2 min; see tests/test_streaming.py).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_soak(
    spark,
    workdir: str,
    minutes: float = 10.0,
    events_per_file: int = 20_000,
    feed_interval: float = 5.0,
    sample_every: float = 30.0,
    processing_time: str = "2 seconds",
    n_convs: int = 2_000,
    seed: int = 55,
    with_models: bool = False,
) -> dict:
    import duckdb

    from pyspark.sql import functions as F

    from etl_warehouse_agnostic_spark.engine import CdcEngine
    from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
    from etl_warehouse_agnostic_spark.lake.table import LakeTable
    from etl_warehouse_agnostic_spark.operators.health import pipeline_health
    from etl_warehouse_agnostic_spark.schemas import KEY_COLS, TRANSCRIPTS_SCHEMA_V2
    from etl_warehouse_agnostic_spark.sources.generator import generate_changes
    from etl_warehouse_agnostic_spark.streaming.stream_apply import StreamingCdcApply

    chg_dir = os.path.join(workdir, "changes")
    os.makedirs(chg_dir, exist_ok=True)
    table = LakeTable.create(
        spark, os.path.join(workdir, "table"), TRANSCRIPTS_SCHEMA_V2, KEY_COLS,
        num_buckets=16,
    )
    store = ManifestStore(os.path.join(workdir, "ck"))

    # Optional chained model DAG riding the same continuous loop: the
    # r6 silver hook runs inside apply_epoch, so every micro-batch
    # maintains silver AND the chained gold before its epoch finalizes.
    models = []
    if with_models:
        from pyspark.sql import types as T

        from etl_warehouse_agnostic_spark.silver import (
            AggregateModel,
            DeltaAggregateModel,
            SilverModel,
        )

        silver_schema = T.StructType([
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role_u", T.StringType(), True),
            T.StructField("text_len", T.IntegerType(), True),
            T.StructField("_ingest_epoch", T.IntegerType(), True),
        ])
        gold_schema = T.StructType([
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turns", T.LongType(), True),
            T.StructField("chars", T.LongType(), True),
        ])
        silver_t = LakeTable.create(
            spark, os.path.join(workdir, "silver"), silver_schema, KEY_COLS,
            num_buckets=16)
        gold_t = LakeTable.create(
            spark, os.path.join(workdir, "gold"), gold_schema, ["conv_id"],
            num_buckets=16)

        def _silver_transform(upserts, epoch):
            return upserts.select(
                "conv_id", "turn_idx",
                F.upper("role").alias("role_u"),
                F.length("text").alias("text_len"),
                F.lit(epoch).cast("int").alias("_ingest_epoch"),
            )

        def _gold_agg(rows):
            return rows.groupBy("conv_id").agg(
                F.count(F.lit(1)).alias("turns"),
                F.sum("text_len").cast("long").alias("chars"),
            )

        silver_m = SilverModel(silver_t, _silver_transform, name="turns_silver")
        gold_m = AggregateModel(
            gold_t, None, ["conv_id"], _gold_agg,
            name="gold_from_silver", parent=silver_m)
        # third strategy under continuous load: delta-arithmetic day
        # rollup straight off bronze (cross-day moves + deletes every
        # micro-batch; must converge to a from-scratch rebuild at stop)
        day_schema = T.StructType([
            T.StructField("day", T.StringType(), False),
            T.StructField("rows", T.LongType(), True),
            T.StructField("chars", T.LongType(), True),
            T.StructField("_nn_chars", T.LongType(), True),
        ])
        day_t = LakeTable.create(
            spark, os.path.join(workdir, "gold_delta"), day_schema, ["day"],
            num_buckets=16)

        def _day_groups(rows):
            return rows.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))

        day_m = DeltaAggregateModel(
            day_t, table, ["day"], {"chars": F.length("text")},
            count_col="rows", name="day_rollup_delta", row_groups=_day_groups)
        models = [silver_m, gold_m, day_m]

    eng = CdcEngine(spark, table, store, silver_models=models)

    # Pre-generate the whole soak's stream once (deterministic), then
    # feed it file-by-file in lsn order — an appended change log.
    deadline = time.monotonic() + minutes * 60.0
    max_files = int((minutes * 60.0) / feed_interval) + 2
    total_events = events_per_file * max_files
    full = generate_changes(
        spark, total_events, n_convs=n_convs, turns_per_conv=16, seed=seed,
        evolution_lsn=total_events // 2,
    ).localCheckpoint()

    # seed one file so the stream has a schema to infer
    def feed(i: int) -> None:
        lo, hi = i * events_per_file, (i + 1) * events_per_file
        full.where((F.col("lsn") > lo) & (F.col("lsn") <= hi)) \
            .coalesce(1).write.mode("append").parquet(chg_dir)

    feed(0)
    app = StreamingCdcApply(
        eng, chg_dir, os.path.join(workdir, "stream-ck"), max_files_per_trigger=1
    )
    q = app.run_continuous(processing_time=processing_time)

    fed = 1
    samples: list[dict] = []
    last_sample = time.monotonic()
    try:
        while time.monotonic() < deadline:
            if q.exception() is not None:
                raise q.exception()
            feed(fed)
            fed += 1
            if time.monotonic() - last_sample >= sample_every:
                h = pipeline_health(spark, store).agg(
                    F.count(F.lit(1)).alias("epochs"),
                    F.min(F.col("counts_consistent").cast("int")).alias("cc"),
                    F.min(F.col("within_sla").cast("int")).alias("sla"),
                ).first()
                samples.append(
                    {"t": round(time.monotonic() - (deadline - minutes * 60.0), 1),
                     "epochs": h["epochs"], "counts_consistent": bool(h["cc"]),
                     "within_sla": bool(h["sla"])}
                )
                last_sample = time.monotonic()
            time.sleep(feed_interval)
        # drain what was fed before stopping (bounded wait)
        fed_lsn_hi = fed * events_per_file
        drain_deadline = time.monotonic() + 600
        while time.monotonic() < drain_deadline:
            if store.high_water_lsn() >= fed_lsn_hi:
                break
            if q.exception() is not None:
                raise q.exception()
            time.sleep(1.0)
    finally:
        q.stop()

    # ---- verification ----
    epochs = store.epochs()
    chain_ok = epochs == list(range(1, len(epochs) + 1))
    ranges = [store.get(e)["lineage"]["lsn_range"] for e in epochs]
    walls = [int(store.get(e)["metrics"].get("wall_ms") or 0) for e in epochs]
    lsn_ok = all(
        int(ranges[i][0]) == int(ranges[i - 1][1]) for i in range(1, len(ranges))
    )
    hi_water = store.high_water_lsn()

    got = sorted(
        (r.conv_id, r.turn_idx, r.text)
        for r in table.read().select("conv_id", "turn_idx", "text").collect()
    )
    want = [
        tuple(r)
        for r in duckdb.sql(
            f"""
            SELECT conv_id, turn_idx, text FROM (
              SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                       ORDER BY lsn DESC, ts DESC) rn
              FROM read_parquet('{chg_dir}/*.parquet') WHERE lsn <= {hi_water})
            WHERE rn = 1 AND op <> 'D' ORDER BY conv_id, turn_idx
            """
        ).fetchall()
    ]
    walls_s = sorted(walls)

    def pct(p):
        return walls_s[min(len(walls_s) - 1, int(p * len(walls_s)))] if walls_s else 0

    model_checks = {}
    if with_models:
        # q.stop() can land between a bronze finalize and that epoch's
        # model apply — the documented kill window. The contract is
        # recover-on-restart from the retained staged delta; exercise
        # it rather than racing the stop.
        eng.recover()
        silver_t, gold_t = models[0].table, models[1].table
        # silver must be the transform of the final bronze state
        # (bronze itself is checked against the batch LWW truth below);
        # _ingest_epoch is excluded — which epoch last wrote a row
        # depends on micro-batch boundaries, not on the data.
        silver_got = sorted(
            tuple(r) for r in silver_t.read()
            .select("conv_id", "turn_idx", "role_u", "text_len").collect()
        )
        silver_want = sorted(
            tuple(r) for r in table.read().select(
                "conv_id", "turn_idx",
                F.upper("role").alias("role_u"),
                F.length("text").alias("text_len")).collect()
        )
        # chained gold must be the rollup of the silver it fed on
        gold_got = sorted(tuple(r) for r in gold_t.read().collect())
        gold_want = sorted(
            tuple(r) for r in silver_t.read().groupBy("conv_id").agg(
                F.count(F.lit(1)).alias("turns"),
                F.sum("text_len").cast("long").alias("chars")).collect()
        )
        # delta-maintained day rollup must equal a from-scratch rebuild
        # over the final bronze state (integer measures — exact)
        day_t = models[2].table
        delta_got = sorted(
            tuple(r) for r in day_t.read()
            .select("day", "rows", "chars").collect()
        )
        delta_want = sorted(
            tuple(r) for r in table.read()
            .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
                F.count(F.lit(1)).cast("long").alias("rows"),
                F.sum(F.length("text")).cast("long").alias("chars")).collect()
        )
        model_checks = {
            "models_attached": [m.name for m in models],
            "silver_matches_bronze_transform": silver_got == silver_want,
            "gold_matches_silver_rollup": gold_got == gold_want,
            "delta_gold_matches_rebuild": delta_got == delta_want,
            "model_epochs_in_sync": (
                silver_t.committed_epochs() == table.committed_epochs()
                and gold_t.committed_epochs() == table.committed_epochs()
                and day_t.committed_epochs() == table.committed_epochs()
            ),
        }

    return {
        "soak_minutes": minutes,
        **model_checks,
        "files_fed": fed,
        "events_applied": hi_water,
        "epochs": len(epochs),
        "epoch_chain_contiguous": chain_ok,
        "lsn_ranges_gap_free": lsn_ok,
        "final_state_matches_batch_lww": got == want,
        "final_rows": len(got),
        "health_samples": samples,
        "health_all_counts_consistent": all(s["counts_consistent"] for s in samples),
        "epoch_wall_ms": {"p50": pct(0.5), "p95": pct(0.95), "max": walls_s[-1] if walls_s else 0},
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--minutes", type=float, default=10.0)
    ap.add_argument("--events-per-file", type=int, default=20_000)
    ap.add_argument("--feed-interval", type=float, default=5.0)
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))
    ap.add_argument("--with-models", action="store_true",
                    help="attach the model DAG (silver -> chained gold "
                         "recompute + delta-arithmetic day rollup) to the "
                         "continuous loop and verify all three at stop")
    ap.add_argument("--workdir", default=None)
    args = ap.parse_args()

    from etl_warehouse_agnostic_spark.session import get_spark

    spark = get_spark(f"soak-{args.cores}c", cores=args.cores, shuffle_partitions=args.cores)
    workdir = args.workdir or f"/tmp/etlwa-soak-{os.getpid()}"
    os.makedirs(workdir, exist_ok=True)
    try:
        out = run_soak(
            spark, workdir, minutes=args.minutes,
            events_per_file=args.events_per_file, feed_interval=args.feed_interval,
            with_models=args.with_models,
        )
        print(json.dumps(out), flush=True)
        ok = (
            out["epoch_chain_contiguous"]
            and out["lsn_ranges_gap_free"]
            and out["final_state_matches_batch_lww"]
            and (not args.with_models or (
                out["silver_matches_bronze_transform"]
                and out["gold_matches_silver_rollup"]
                and out["delta_gold_matches_rebuild"]
                and out["model_epochs_in_sync"]
            ))
        )
        return 0 if ok else 1
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
