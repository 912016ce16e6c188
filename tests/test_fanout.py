"""The medallion epoch fans out: every model reads its source pinned at
the pre-epoch version and runs beside the sink's merge, and a model
publishes only once the sink has committed and finalized the epoch.

- A steady-state epoch of the benchmark-shaped DAG (silver transform,
  a gold recompute chained off it, a bronze-fed delta day rollup)
  compiles almost no new generated classes: the session's codegen
  cache holds the epoch's working set.
- A child model whose source committed the epoch while the child did
  not is replayed by ``recover()`` at the parent of the source's epoch
  commit.
- A sink merge that fails after the models have written leaves no
  model with the epoch recorded and no written file behind, and a
  restart converges to the LWW oracle and to every model's full
  rebuild.
- A replay whose source no longer retains its state before the epoch
  reads the source as it stands where the post-epoch rows suffice,
  and refuses where the epoch's old rows are needed.
"""

import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_warehouse_agnostic_spark.engine import CdcEngine
from etl_warehouse_agnostic_spark.lake.backends import DuckBackend
from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
from etl_warehouse_agnostic_spark.lake.table import LakeTable
from etl_warehouse_agnostic_spark.operators.dedup import lww_dedup_window
from etl_warehouse_agnostic_spark.schemas import (
    KEY_COLS,
    ORDER_COLS,
    TRANSCRIPTS_SCHEMA_V1,
    TRANSCRIPTS_SCHEMA_V2,
)
from etl_warehouse_agnostic_spark.silver import (
    AggregateModel,
    DeltaAggregateModel,
    SilverModel,
)
from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource
from etl_warehouse_agnostic_spark.sources.generator import generate_changes

S, I, L = T.StringType(), T.IntegerType(), T.LongType()
PAYLOAD = [f.name for f in TRANSCRIPTS_SCHEMA_V1.fields]
EPOCH_SIZE = 500


def _lake(spark, root, name, fields, keys, num_buckets):
    schema = T.StructType([T.StructField(n, t, n not in keys) for n, t in fields])
    return LakeTable.create(spark, os.path.join(root, name), schema, keys,
                            num_buckets=num_buckets)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _gold_agg(rows):
    return rows.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("turns"), F.sum("text_len").cast("long").alias("chars"))


def _day_groups(rows):
    return rows.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))


def _transform(upserts, epoch):
    return upserts.select("conv_id", "turn_idx", F.upper("role").alias("role_u"),
                          F.length("text").alias("text_len"))


def _stamped(upserts, epoch):
    """The benchmark's transform: it also stamps the epoch id."""
    return _transform(upserts, epoch).withColumn("_ingest_epoch", F.lit(epoch).cast("int"))


def _models(spark, root, bronze, buckets, stamped=False, day=True):
    """silver -> chained gold recompute, plus a bronze-fed delta day
    rollup (``day``; it needs a lake bronze): the benchmark's medallion
    DAG. ``stamped`` uses the benchmark's epoch-stamping transform."""
    silver_fields = [("conv_id", S), ("turn_idx", I), ("role_u", S), ("text_len", I)]
    if stamped:
        silver_fields.append(("_ingest_epoch", I))
    silver = SilverModel(_lake(spark, root, "silver", silver_fields, KEY_COLS, buckets),
                         _stamped if stamped else _transform, name="silver")
    gold = AggregateModel(
        _lake(spark, root, "gold", [("conv_id", S), ("turns", L), ("chars", L)],
              ["conv_id"], buckets),
        None, ["conv_id"], _gold_agg, name="gold", parent=silver)
    models = [silver, gold]
    if day:
        models.append(DeltaAggregateModel(
            _lake(spark, root, "day", [("day", S), ("rows", L), ("chars", L),
                                       ("_nn_chars", L)], ["day"], buckets),
            bronze, ["day"], {"chars": F.length("text")}, count_col="rows", name="day",
            row_groups=_day_groups))
    return models


def _compile_count(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def test_steady_epoch_compiles_almost_nothing(spark, tmpdir_path):
    """After two warm epochs, a third epoch of the benchmark-shaped DAG
    on a pre-built table compiles at most 10 new classes (the epoch
    literals of the slice bounds and the transform). With Spark's
    default 100-entry generated-class cache the epoch's ~120 distinct
    classes do not fit, and it recompiles nearly all of them."""
    root = tmpdir_path
    chg_path = os.path.join(root, "changes")
    # every event in writer schema 2, into a bronze that already has it
    generate_changes(spark, 4 * EPOCH_SIZE, n_convs=40, turns_per_conv=8, seed=61,
                     evolution_lsn=0).write.parquet(chg_path)
    base = generate_changes(spark, 2000, n_convs=200, turns_per_conv=8, seed=62,
                            insert_pct=100, update_pct=0, evolution_lsn=0)
    bronze = LakeTable.create(spark, os.path.join(root, "bronze"), TRANSCRIPTS_SCHEMA_V2,
                              KEY_COLS, num_buckets=8)
    bronze.overwrite(lww_dedup_window(base, KEY_COLS, ORDER_COLS)
                     .select(*TRANSCRIPTS_SCHEMA_V2.names))
    silver, gold, day = _models(spark, root, bronze, buckets=4, stamped=True)
    silver.bootstrap(bronze, 0)
    gold.bootstrap(0)
    day.bootstrap(0)
    eng = CdcEngine(spark, bronze, ManifestStore(os.path.join(root, "ck")),
                    schema_registry={1: ["role", "text", "ts"],
                                     2: ["role", "text", "tool", "ts"]},
                    silver_models=[silver, gold, day])
    source = ChangeStreamSource(spark, path=chg_path)
    for _ in range(2):  # warm: first plans of every shape, JIT, Python workers
        assert len(eng.run(source, epoch_size=EPOCH_SIZE, max_epochs=1)) == 1
    before = _compile_count(spark)
    assert len(eng.run(source, epoch_size=EPOCH_SIZE, max_epochs=1)) == 1
    compiled = _compile_count(spark) - before
    assert compiled <= 10, f"a steady-state epoch compiled {compiled} classes"
    assert all(m.epoch_committed(3) for m in (silver, gold, day))


def _sink(spark, root, kind):
    if kind == "lake":
        return LakeTable.create(spark, os.path.join(root, "bronze"), TRANSCRIPTS_SCHEMA_V1,
                                KEY_COLS, num_buckets=4)
    return DuckBackend.create(spark, os.path.join(root, "wh.duckdb"), TRANSCRIPTS_SCHEMA_V1,
                              KEY_COLS)


def _engine(spark, root, sink, models):
    table = sink if isinstance(sink, LakeTable) else None
    return CdcEngine(spark, table, ManifestStore(os.path.join(root, "ck")),
                     silver_models=models)


def _assert_converged(chg, sink, models):
    """The sink equals the LWW oracle of the whole stream, and every
    model equals its full rebuild from the sink."""
    truth = lww_dedup_window(chg, KEY_COLS, ORDER_COLS).where(F.col("op") != "D")
    assert _rows(sink.read().select(*PAYLOAD)) == _rows(truth.select(*PAYLOAD))
    bronze = sink.read()
    silver, gold = models[:2]
    transformed = silver.transform(bronze.withColumn("op", F.lit("I")), 0)
    assert _rows(silver.table.read()) == _rows(transformed)
    assert _rows(gold.table.read()) == _rows(_gold_agg(transformed))
    for day in models[2:]:
        assert _rows(day.table.read()) == _rows(day.aggregate(bronze))


def _orphans(models) -> int:
    return sum(m.table.remove_orphan_files(grace_seconds=0)["removed_files"] for m in models)


@pytest.mark.parametrize("kind", ["lake", "duckdb"])
def test_child_replays_at_its_sources_pinned_version(spark, tmpdir_path, kind):
    """The chained gold fails on epoch 2 after its source, the silver
    table, committed it (the fan-out lets either finish first).
    ``recover()`` replays gold alone, reading silver at the parent of
    silver's epoch-2 commit, and gold converges to its rebuild."""
    chg = generate_changes(spark, 3 * EPOCH_SIZE, n_convs=30, turns_per_conv=6,
                           seed=63).localCheckpoint()
    sink = _sink(spark, tmpdir_path, kind)
    models = _models(spark, tmpdir_path, sink, buckets=2, day=kind == "lake")
    silver, gold = models[:2]
    real_apply = AggregateModel.apply_epoch
    crashed, pins = [], []

    def apply(staged, epoch, **kw):
        if epoch == 2 and not crashed:
            deadline = time.monotonic() + 300
            while not silver.epoch_committed(2) and time.monotonic() < deadline:
                time.sleep(0.05)  # let the source commit the epoch first
            crashed.append(epoch)
            raise RuntimeError("injected gold crash")
        pins.append(kw.get("pinned"))
        return real_apply(gold, staged, epoch, **kw)

    gold.apply_epoch = apply
    eng = _engine(spark, tmpdir_path, sink, models)
    with pytest.raises(RuntimeError, match="injected gold crash"):
        eng.run(ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE, sink=sink)
    assert silver.table.committed_epochs() == [1, 2]
    assert gold.table.committed_epochs() == [1]
    assert sorted(os.listdir(os.path.join(eng.checkpoints.path, "_staging"))) == ["e00000002"]

    assert eng.recover(sink=sink) == []
    assert gold.table.committed_epochs() == [1, 2]
    assert pins[-1] == silver.table.epoch_snapshot(2)["parent"]
    assert os.listdir(os.path.join(eng.checkpoints.path, "_staging")) == []

    eng.run(ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE, sink=sink)
    assert all(m.table.committed_epochs() == [1, 2, 3] for m in models)
    _assert_converged(chg, sink, models)


@pytest.mark.parametrize("kind", ["lake", "duckdb"])
def test_sink_failure_after_models_wrote_commits_no_model(spark, tmpdir_path, kind):
    """The sink's merge of epoch 2 raises once every model has written
    its files and is waiting to publish. No model records the epoch,
    every file they wrote is deleted, and a restart converges to the
    LWW oracle and to the full rebuilds."""
    chg = generate_changes(spark, 3 * EPOCH_SIZE, n_convs=30, turns_per_conv=6,
                           seed=64).localCheckpoint()
    sink = _sink(spark, tmpdir_path, kind)
    models = _models(spark, tmpdir_path, sink, buckets=2, day=kind == "lake")
    waiting: set[str] = set()  # models whose epoch-2 merge wrote and is publishing
    for m in models:
        real_publish = m.table._publish

        def publish(cur, summary, *args, _real=real_publish, _name=m.name, **kwargs):
            if summary.get("epoch_id") == 2:
                waiting.add(_name)
            return _real(cur, summary, *args, **kwargs)

        m.table._publish = publish
    merge_attr = "merge" if kind == "lake" else "merge_files"
    real_merge = getattr(sink, merge_attr)

    def failing_merge(*args, **kwargs):
        if kwargs.get("epoch_id") == 2:
            deadline = time.monotonic() + 300
            while len(waiting) < len(models) and time.monotonic() < deadline:
                time.sleep(0.05)
            assert len(waiting) == len(models), f"only {sorted(waiting)} reached their commit"
            raise RuntimeError("injected sink failure")
        return real_merge(*args, **kwargs)

    setattr(sink, merge_attr, failing_merge)
    eng = _engine(spark, tmpdir_path, sink, models)
    with pytest.raises(RuntimeError, match="injected sink failure"):
        eng.run(ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE, sink=sink)
    assert sink.committed_epochs() == [1]
    assert all(m.table.committed_epochs() == [1] for m in models)
    assert not eng.checkpoints.is_finalized(2)
    assert _orphans(models) == 0  # every written dir was reclaimed

    delattr(sink, merge_attr)
    for m in models:
        del m.table._publish
    restarted = _engine(spark, tmpdir_path, sink, models)
    restarted.run(ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE, sink=sink)
    assert sink.committed_epochs() == [1, 2, 3]
    assert all(m.table.committed_epochs() == [1, 2, 3] for m in models)
    assert os.listdir(os.path.join(restarted.checkpoints.path, "_staging")) == []
    _assert_converged(chg, sink, models)


@pytest.mark.parametrize("kind", ["bucket", "delta"])
def test_replay_after_source_history_expired(spark, tmpdir_path, monkeypatch, kind):
    """A model is behind on retained epochs 2-3 and the sink's snapshots
    before them have expired. A bucket-pruned recompute needs only the
    post-epoch rows: it replays from the sink as it stands and equals
    its rebuild. A delta rollup needs the epoch's old rows: it
    refuses."""
    import etl_warehouse_agnostic_spark.engine as engine_mod

    chg = generate_changes(spark, 3 * EPOCH_SIZE, n_convs=30, turns_per_conv=6,
                           seed=65).localCheckpoint()
    bronze = _sink(spark, tmpdir_path, "lake")
    if kind == "bucket":
        model = AggregateModel(
            _lake(spark, tmpdir_path, "gold", [("conv_id", S), ("turns", L)], ["conv_id"], 2),
            bronze, ["conv_id"],
            lambda rows: rows.groupBy("conv_id").agg(F.count(F.lit(1)).alias("turns")),
            name="gold")
    else:
        model = DeltaAggregateModel(
            _lake(spark, tmpdir_path, "day", [("day", S), ("rows", L), ("chars", L),
                                              ("_nn_chars", L)], ["day"], 2),
            bronze, ["day"], {"chars": F.length("text")}, count_col="rows", name="day",
            row_groups=_day_groups)
    ck = ManifestStore(os.path.join(tmpdir_path, "ck"))
    source = ChangeStreamSource(spark, df=chg)
    CdcEngine(spark, bronze, ck, silver_models=[model]).run(
        source, epoch_size=EPOCH_SIZE, max_epochs=1)
    with monkeypatch.context() as mp:  # epochs 2-3 without the model, dirs retained
        mp.setattr(engine_mod.shutil, "rmtree", lambda *a, **kw: None)
        CdcEngine(spark, bronze, ck).run(source, epoch_size=EPOCH_SIZE)
    bronze.expire_snapshots(keep_last=1)
    assert bronze.pre_epoch_version(2) is None

    eng = CdcEngine(spark, bronze, ck, silver_models=[model])
    if kind == "delta":
        with pytest.raises(RuntimeError, match="old rows cannot be read"):
            eng.recover()
        assert model.table.committed_epochs() == [1]
        return
    eng.recover()
    assert model.table.committed_epochs() == [1, 2, 3]
    assert _rows(model.table.read()) == _rows(model.aggregate(bronze.read()))
    assert os.listdir(os.path.join(ck.path, "_staging")) == []
