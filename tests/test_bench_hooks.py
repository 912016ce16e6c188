"""The benchmark (perfbench/) times and traces the engine from outside,
through attributes it looks up by name: its tracer wraps engine and
layer methods on their classes, and its workloads time each epoch with
an instance-level ``apply_epoch`` / ``apply_epoch_warehouse`` override
that the tail loop must call through ``self``. A rename, or a tail loop
that stops passing ``lsn_range`` by keyword, would silently stop the
benchmark measuring; this guard fails first."""

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_warehouse_agnostic_spark.engine import CdcEngine
from etl_warehouse_agnostic_spark.lake import backends
from etl_warehouse_agnostic_spark.lake.backends import DuckBackend
from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
from etl_warehouse_agnostic_spark.lake.table import LakeTable
from etl_warehouse_agnostic_spark.schemas import KEY_COLS, TRANSCRIPTS_SCHEMA_V1
from etl_warehouse_agnostic_spark.silver import AggregateModel, DeltaAggregateModel, SilverModel
from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource
from etl_warehouse_agnostic_spark.sources.generator import generate_changes
from perfbench.tracing import Tracer, instrument

ENGINE_HOOKS = ("apply_epoch", "apply_epoch_warehouse", "recover", "recover_warehouse",
                "_apply_silver")
EPOCH_SIZE = 600


def _time_epochs(eng, attr, calls):
    """The workloads' per-epoch timer: an instance attribute that calls
    the class method (so a class-level tracer wrapper still applies)."""

    def timed(*args, **kwargs):
        calls.append(args[-1])
        return getattr(type(eng), attr)(eng, *args, **kwargs)

    setattr(eng, attr, timed)


def test_bench_hooks_trace_one_span_per_epoch(spark, tmpdir_path):
    chg = generate_changes(spark, 2 * EPOCH_SIZE, n_convs=12, turns_per_conv=6,
                           seed=5).localCheckpoint()
    originals = {attr: CdcEngine.__dict__[attr] for attr in ENGINE_HOOKS}
    tracer = Tracer(spark)
    instrument(tracer)  # raises AttributeError if a wrapped attribute is gone
    try:
        wrapped = {(owner, attr) for owner, attr, _ in tracer._patches}
        assert all((CdcEngine, attr) in wrapped for attr in ENGINE_HOOKS)
        assert (backends, "_export_delta") in wrapped

        table = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                                 TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4)
        lake = CdcEngine(spark, table, ManifestStore(os.path.join(tmpdir_path, "ck")),
                         num_salts=4)
        lake_calls: list[int] = []
        _time_epochs(lake, "apply_epoch", lake_calls)
        lake_results = lake.run(ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE)

        duck = DuckBackend.create(spark, os.path.join(tmpdir_path, "wh.duckdb"),
                                  TRANSCRIPTS_SCHEMA_V1, KEY_COLS)
        wh = CdcEngine(spark, None, ManifestStore(os.path.join(tmpdir_path, "ck-wh")),
                       num_salts=4)
        wh_calls: list[int] = []
        _time_epochs(wh, "apply_epoch_warehouse", wh_calls)
        wh_results = wh.run_warehouse(duck, ChangeStreamSource(spark, df=chg),
                                      epoch_size=EPOCH_SIZE)
    finally:
        tracer.restore()
    assert all(CdcEngine.__dict__[attr] is fn for attr, fn in originals.items())

    # the instance-level overrides saw every epoch the loops applied
    assert lake_calls == [r.epoch for r in lake_results] == [1, 2]
    assert wh_calls == [r.epoch for r in wh_results] == [1, 2]
    assert not any(r.skipped for r in lake_results + wh_results)

    # exactly one epoch span per applied epoch, each with the slice
    # size that only a keyword lsn_range gives the tracer
    epochs = [s for s in tracer.spans if s.name == "engine.epoch"]
    assert [s.attrs["engine_epoch"] for s in epochs] == [1, 2, 1, 2]
    assert all(s.attrs["slice_events"] == EPOCH_SIZE for s in epochs)
    assert sum(s.name == "engine.recover" for s in tracer.spans) == 2

    # a lake epoch stages its delta in exactly one table stage span,
    # whose rows are the stage's share of the benchmark's dedup
    # survival (its stage.* counts are read from the same spans)
    stages = [s for s in tracer.spans if s.name == "lake.table.stage"]
    assert [s.parent for s in stages] == [s.id for s in epochs[:2]]
    assert [s.attrs["rows"] for s in stages] == [
        r.rows_upserted + r.rows_deleted for r in lake_results
    ]

    # a warehouse epoch stages its delta in exactly one export, whose
    # rows are the denominator of the benchmark's dedup survival there
    exports = [s for s in tracer.spans if s.name == "lake.backends.export"]
    assert [s.parent for s in exports] == [s.id for s in epochs[2:]]
    assert [s.attrs["rows"] for s in exports] == [
        r.rows_upserted + r.rows_deleted for r in wh_results
    ]


def _model_table(spark, root, name, fields, keys):
    schema = T.StructType([T.StructField(n, t, n not in keys) for n, t in fields])
    return LakeTable.create(spark, os.path.join(root, name), schema, keys, num_buckets=2)


def test_bench_hooks_trace_each_model_once_per_epoch(spark, tmpdir_path):
    """The tracer wraps ``apply_epoch`` on each model class: every model
    gets exactly one apply span per applied epoch (a model class that
    inherited a wrapped ``apply_epoch`` would get two), and the DAG one
    span per epoch."""
    S, I, L = T.StringType(), T.IntegerType(), T.LongType()
    chg = generate_changes(spark, 2 * EPOCH_SIZE, n_convs=12, turns_per_conv=6,
                           seed=6).localCheckpoint()
    table = LakeTable.create(spark, os.path.join(tmpdir_path, "t"),
                             TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4)
    silver = SilverModel(
        _model_table(spark, tmpdir_path, "silver",
                     [("conv_id", S), ("turn_idx", I), ("text_len", I)], KEY_COLS),
        lambda ups, e: ups.select("conv_id", "turn_idx",
                                  F.length("text").cast("int").alias("text_len")),
        name="silver",
    )
    gold = AggregateModel(
        _model_table(spark, tmpdir_path, "gold", [("conv_id", S), ("turns", L)], ["conv_id"]),
        None, ["conv_id"],
        lambda rows: rows.groupBy("conv_id").agg(F.count(F.lit(1)).alias("turns")),
        name="gold", parent=silver,
    )
    day = DeltaAggregateModel(
        _model_table(spark, tmpdir_path, "day",
                     [("day", S), ("rows", L), ("chars", L), ("_nn_chars", L)], ["day"]),
        table, ["day"], {"chars": F.length("text")}, count_col="rows", name="day",
        row_groups=lambda rows: rows.withColumn("day", F.date_format("ts", "yyyy-MM-dd")),
    )
    eng = CdcEngine(spark, table, ManifestStore(os.path.join(tmpdir_path, "ck")),
                    num_salts=4, silver_models=[silver, gold, day])
    # each class defines its own, unwrapped apply_epoch: one inherited
    # from another model class would be wrapped twice, and a restore
    # would leave the inner wrapper behind on it
    for cls in (SilverModel, AggregateModel, DeltaAggregateModel):
        assert not hasattr(cls.__dict__["apply_epoch"], "__wrapped__"), cls
    tracer = Tracer(spark)
    instrument(tracer)
    try:
        results = eng.run(ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE)
    finally:
        tracer.restore()

    assert [r.epoch for r in results] == [1, 2] and not any(r.skipped for r in results)
    for model in ("silver", "gold", "day"):
        applies = [s.epoch for s in tracer.spans if s.name == f"silver.{model}.apply"]
        assert sorted(applies) == [1, 2], model
    assert sorted(s.epoch for s in tracer.spans if s.name == "silver.dag") == [1, 2]
    assert sum(s.name == "engine.epoch" for s in tracer.spans) == 2
