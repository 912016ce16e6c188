"""The four workloads: set-up, the timed closed loop and the
correctness gate.

A run is closed-loop with one driver thread: each cycle is one call of
the engine's tail loop (``CdcEngine.run`` or ``run_warehouse``) and the
next starts when it returns. The loop runs until ``seconds`` have passed
and at least ``min_cycles`` cycles are done.

- ``backfill``: each cycle loads a 200k-event stream (20k conversations,
  the top 1% taking 30% of events, I/U/D 60/30/10) into a fresh, empty
  64-bucket table in 2 LSN epochs (schema evolution in epoch 2).
- ``warehouse``: the same cycle into a fresh DuckDB warehouse.
- ``hot_tail``: set-up bootstraps a 64-bucket table from a dense
  25k-row snapshot (the change log then starts at LSN 1); each cycle
  applies one 2k-event epoch to its 50 hottest conversations.
- ``medallion``: ``hot_tail`` with the 3-model curated DAG attached,
  bootstrapped from the pre-built bronze table in set-up.

Sizes are set so that a run of ``warehouse`` takes about 50 s and one
of ``medallion`` about 75 s on a 4-core host, most of it JVM start,
pre-built state and warm-up. ``BENCHMARK.json`` lists those two: between
them they measure every layer. ``hot_tail`` is ``medallion`` without
the models, and ``backfill`` shares ``warehouse``'s stream and staging;
both run the same way by name.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from perfbench import inputs, oracle
from perfbench.inputs import StreamSpec

BUCKETS = 64
# The model tables are small (gold: one row per conversation, the day
# rollup: one per day), and each of their 64-bucket merges costs more
# per epoch than bronze's own; 8 buckets keep a medallion run near
# 75 s.
MODEL_BUCKETS = 8
# Tail workloads: the pre-built table holds every turn of BASE_CONVS
# conversations; each epoch applies TAIL_EPOCH_EVENTS changes to its
# TAIL_CONVS hottest ones. TAIL_EPOCHS are generated per run: several
# times what a run applies on a 4-core host; a run that drains them
# stops there.
BASE_CONVS = 500
TAIL_EPOCH_EVENTS = 2_000
TAIL_CONVS = 50
TAIL_EPOCHS = 60
MODEL_NAMES = ["turns_silver", "gold_from_silver", "day_rollup_delta"]


@dataclass(frozen=True)
class Workload:
    name: str
    min_cycles: int
    warmup_cycles: int
    stream: StreamSpec | None = None  # bulk: the stream every cycle loads
    warehouse: bool = False
    models: bool = False

    @property
    def tail(self) -> bool:
        return self.stream is None

    @property
    def epochs_per_cycle(self) -> int:
        return 1 if self.tail else 2


_BULK = StreamSpec(events=200_000, convs=20_000, hot_convs=200, evolution_lsn=100_000)

WORKLOADS = {
    w.name: w
    for w in (
        # bulk loads still get faster after one untimed load, so they
        # get two; a tail epoch (~15 s with the models) gets one
        Workload("backfill", 3, 2, stream=_BULK),
        Workload("warehouse", 3, 2, stream=_BULK, warehouse=True),
        Workload("hot_tail", 6, 1),
        Workload("medallion", 2, 1, models=True),
    )
}


@dataclass
class Outcome:
    cycle_walls: list[float] = field(default_factory=list)
    cycle_events: int = 0
    epoch_walls: list[float] = field(default_factory=list)
    epoch_bytes: list[int] = field(default_factory=list)
    sink_bytes: list[int] = field(default_factory=list)  # warehouse file bytes per cycle
    peak_rss_mb: float = 0.0  # driver JVM peak over the timed loop
    loop_s: float = 0.0
    checks: dict = field(default_factory=dict)
    fingerprints: dict = field(default_factory=dict)
    setup_parts: dict = field(default_factory=dict)


class Runner:
    """Owns one workload's state inside ``work`` for one process."""

    def __init__(self, spark, spec: Workload, seed: int, work: str, cores: int):
        self.spark = spark
        self.spec = spec
        self.seed = seed
        self.work = work
        self.cores = cores
        self.stream_dir = os.path.join(work, "stream")
        self.base_dir = os.path.join(work, "base")  # tail: the pre-built table's rows
        self.base_files: list[str] = []
        self.out = Outcome()
        self.bronze = None  # lake workloads: the bronze table
        self.sink = None  # warehouse: the DuckDB backend of the last load
        self._n = 0

    # ---------------- set-up ----------------

    def setup(self, duck) -> None:
        """Inputs, then the state the loop starts from, warmed up by
        untimed cycles: the first passes over the loop's plans pay JIT
        compilation and Python-worker start-up that later passes do
        not."""
        s = self.spec
        t0 = time.monotonic()
        fp = self.out.fingerprints
        if s.tail:
            tail = StreamSpec(events=TAIL_EPOCH_EVENTS * TAIL_EPOCHS, convs=TAIL_CONVS,
                              evolution_lsn=0)
            inputs.write_stream(tail, self.seed, self.stream_dir, files=self.cores)
            inputs.write_base(BASE_CONVS, inputs.TURNS, self.seed, self.base_dir,
                              files=self.cores)
            self.base_files = inputs.parquet_files(self.base_dir)
            fp["base"] = inputs.fingerprint(duck, self.base_files)
        else:
            inputs.write_stream(s.stream, self.seed, self.stream_dir, files=self.cores)
        self.files = inputs.parquet_files(self.stream_dir)
        fp["stream"] = inputs.fingerprint(duck, self.files)
        t1 = time.monotonic()
        if s.tail:
            self._prebuild()
        t2 = time.monotonic()
        for _ in range(s.warmup_cycles):  # untimed: loads of the same stream, or tail epochs
            self.cycle()
        self.out = Outcome(fingerprints=fp, setup_parts={
            "inputs_s": t1 - t0, "prebuild_s": t2 - t1, "warmup_s": time.monotonic() - t2})

    def _fresh(self, kind: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{kind}-{self._n}")

    def _engine(self, table, ckpt, models=()):
        from etl_warehouse_agnostic_spark.engine import CdcEngine

        eng = CdcEngine(
            self.spark, table, ckpt, source_partitions=self.cores,
            schema_registry=inputs.SCHEMA_REGISTRY, silver_models=list(models),
        )
        self._time_epochs(eng)
        return eng

    def _time_epochs(self, eng) -> None:
        """Time every epoch from outside, around the engine's own
        ``apply_epoch`` call (an instance attribute, so the tail loop's
        ``self.apply_epoch`` lookup finds it; the class method is looked
        up per call, so a tracer's class-level wrapper still applies)."""
        for attr in ("apply_epoch", "apply_epoch_warehouse"):

            def timed(*args, _attr=attr, **kwargs):
                t0 = time.monotonic()
                res = getattr(type(eng), _attr)(eng, *args, **kwargs)
                self.out.epoch_walls.append(time.monotonic() - t0)
                self.out.epoch_bytes.append(res.bytes_written)
                return res

            setattr(eng, attr, timed)

    def _manifests(self):
        from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore

        return ManifestStore(self._fresh("ckpt"))

    def _source(self):
        from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource

        return ChangeStreamSource(self.spark, path=self.stream_dir)

    def _new_table(self):
        from etl_warehouse_agnostic_spark.lake.table import LakeTable
        from etl_warehouse_agnostic_spark.schemas import KEY_COLS, TRANSCRIPTS_SCHEMA_V1

        return LakeTable.create(self.spark, self._fresh("table"), TRANSCRIPTS_SCHEMA_V1,
                                KEY_COLS, num_buckets=BUCKETS)

    def _prebuild(self) -> None:
        """Bronze bootstrapped from the base snapshot (one overwrite), so
        the change log starts at LSN 1 on a populated table; then, on
        the model DAG, each model bootstrapped from bronze."""
        from etl_warehouse_agnostic_spark.lake.table import LakeTable
        from etl_warehouse_agnostic_spark.schemas import KEY_COLS, TRANSCRIPTS_SCHEMA_V2

        self.bronze = LakeTable.create(self.spark, self._fresh("table"), TRANSCRIPTS_SCHEMA_V2,
                                       KEY_COLS, num_buckets=BUCKETS)
        self.bronze.overwrite(self.spark.read.parquet(self.base_dir))
        self.ckpt = self._manifests()
        self.models = self._models() if self.spec.models else []
        if self.models:
            silver, gold, day = self.models
            silver.bootstrap(self.bronze, 0)
            gold.bootstrap(0)
            day.bootstrap(0)
        self.eng = self._engine(self.bronze, self.ckpt, self.models)

    def _models(self):
        """The standard 3-model DAG of ``run_ingest.py --with-models``:
        silver transform -> chained per-conversation gold recompute,
        plus a delta-maintained day rollup fed by bronze."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from etl_warehouse_agnostic_spark.lake.table import LakeTable
        from etl_warehouse_agnostic_spark.schemas import KEY_COLS
        from etl_warehouse_agnostic_spark.silver import (
            AggregateModel,
            DeltaAggregateModel,
            SilverModel,
        )

        def table(name, fields, keys):
            schema = T.StructType([T.StructField(n, t, n not in keys) for n, t in fields])
            return LakeTable.create(self.spark, self._fresh(name), schema, keys,
                                    num_buckets=MODEL_BUCKETS)

        S, I, L = T.StringType(), T.IntegerType(), T.LongType()
        silver_t = table("silver", [("conv_id", S), ("turn_idx", I), ("role_u", S),
                                    ("text_len", I), ("_ingest_epoch", I)], KEY_COLS)
        gold_t = table("gold", [("conv_id", S), ("turns", L), ("chars", L)], ["conv_id"])
        day_t = table("day", [("day", S), ("rows", L), ("chars", L), ("_nn_chars", L)], ["day"])

        def transform(upserts, epoch):
            return upserts.select(
                "conv_id", "turn_idx", F.upper("role").alias("role_u"),
                F.length("text").alias("text_len"),
                F.lit(epoch).cast("int").alias("_ingest_epoch"),
            )

        def gold_agg(rows):
            return rows.groupBy("conv_id").agg(
                F.count(F.lit(1)).alias("turns"), F.sum("text_len").cast("long").alias("chars"))

        def day_groups(rows):
            return rows.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))

        silver = SilverModel(silver_t, transform, name=MODEL_NAMES[0])
        return [
            silver,
            AggregateModel(gold_t, None, ["conv_id"], gold_agg, name=MODEL_NAMES[1],
                           parent=silver),
            DeltaAggregateModel(day_t, self.bronze, ["day"], {"chars": F.length("text")},
                                count_col="rows", name=MODEL_NAMES[2], row_groups=day_groups),
        ]

    # ---------------- the timed loop ----------------

    def cycle(self) -> bool:
        """One call of the engine's tail loop; False once a tail stream
        is drained (nothing was applied)."""
        s = self.spec
        out = self.out
        if s.tail:
            t0 = time.monotonic()
            applied = self.eng.run(self._source(), epoch_size=TAIL_EPOCH_EVENTS,
                                   max_epochs=1)
            if not applied:
                return False
            out.cycle_walls.append(time.monotonic() - t0)
            out.cycle_events = TAIL_EPOCH_EVENTS
            return True
        self._drop_previous()
        epoch_size = (s.stream.events + 1) // 2
        if s.warehouse:
            from etl_warehouse_agnostic_spark.lake.backends import make_warehouse
            from etl_warehouse_agnostic_spark.schemas import KEY_COLS, TRANSCRIPTS_SCHEMA_V1

            self.db_path = self._fresh("wh") + ".duckdb"
            self.sink = make_warehouse(self.spark, {"type": "duckdb", "path": self.db_path},
                                       TRANSCRIPTS_SCHEMA_V1, KEY_COLS)
            eng = self._engine(None, self._manifests())
            t0 = time.monotonic()
            eng.run_warehouse(self.sink, self._source(), epoch_size=epoch_size)
            out.cycle_walls.append(time.monotonic() - t0)
            out.sink_bytes.append(sum(
                os.path.getsize(p) for p in (self.db_path, self.db_path + ".wal")
                if os.path.exists(p)))
        else:
            self.bronze = self._new_table()
            eng = self._engine(self.bronze, self._manifests())
            t0 = time.monotonic()
            eng.run(self._source(), epoch_size=epoch_size)
            out.cycle_walls.append(time.monotonic() - t0)
            self.ckpt = eng.checkpoints
        out.cycle_events = s.stream.events
        return True

    def _drop_previous(self) -> None:
        """Free the previous bulk cycle's table (outside the timer)."""
        if self.sink is not None:
            self.sink.close()
            for p in (self.db_path, self.db_path + ".wal"):
                if os.path.exists(p):
                    os.unlink(p)
            self.sink = None
        elif self.bronze is not None:
            shutil.rmtree(self.bronze.path, ignore_errors=True)

    def loop(self, seconds: float) -> None:
        """Cycles until ``min_cycles`` are done and ``seconds`` have
        passed: every run measures at least the same first epochs."""
        t0 = time.monotonic()
        while self.cycle():
            done = len(self.out.cycle_walls) >= self.spec.min_cycles
            if done and time.monotonic() - t0 >= seconds:
                break
        self.out.loop_s = time.monotonic() - t0

    # ---------------- correctness gate ----------------

    def check(self, duck) -> bool:
        checks = self.out.checks
        if self.spec.warehouse:
            self.sink.close()
            self.sink = None
            duck.execute(f"ATTACH '{self.db_path}' AS wh (READ_ONLY)")
            max_lsn = self.out.fingerprints["stream"]["max_lsn"]
            actual = f"SELECT {oracle.BRONZE_COLS} FROM wh.target"
        else:
            max_lsn = self.ckpt.high_water_lsn()
            actual = oracle.lake_sql(self.bronze, oracle.BRONZE_COLS)
        checks["bronze"] = oracle.check_bronze(duck, self.files, max_lsn, actual,
                                               self.base_files)
        checks["applied_max_lsn"] = max_lsn
        if self.spec.models:
            by_name = {m.name: m.table for m in self.models}
            checks.update(oracle.check_models(
                duck, self.bronze, *(by_name[n] for n in MODEL_NAMES)))
        return all(v == 0 for k, v in checks.items() if k != "applied_max_lsn")
