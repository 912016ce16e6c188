"""Curated models on the WAREHOUSE path: the reference ran its dbt
models against the warehouse (airflow/dags/repsly_dag.py:643-1040 →
ClickHouse); here the same SilverModel/AggregateModel DAG is maintained
by ``run_warehouse`` in the lake path's order — the warehouse applies
the epoch's staged delta, the manifest finalizes, then the models feed
on the same staged files. A crash mid-models leaves the staging dir
behind, and recovery replays the models from exactly the delta the
warehouse applied."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_warehouse_agnostic_spark.engine import CdcEngine
from etl_warehouse_agnostic_spark.lake.backends import DuckBackend, SqliteBackend
from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
from etl_warehouse_agnostic_spark.lake.table import LakeTable
from etl_warehouse_agnostic_spark.operators.dedup import lww_dedup_window
from etl_warehouse_agnostic_spark.schemas import KEY_COLS, ORDER_COLS, TRANSCRIPTS_SCHEMA_V1
from etl_warehouse_agnostic_spark.silver import AggregateModel, DeltaAggregateModel, SilverModel
from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource
from etl_warehouse_agnostic_spark.sources.generator import generate_changes

EPOCH_SIZE = 1000

SILVER_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role_u", T.StringType(), True),
        T.StructField("text_len", T.IntegerType(), True),
        T.StructField("_ingest_epoch", T.IntegerType(), True),
    ]
)

BACKENDS = {"duckdb": DuckBackend, "sqlite": SqliteBackend}


def _transform(upserts, epoch):
    return upserts.select(
        "conv_id",
        "turn_idx",
        F.upper("role").alias("role_u"),
        F.length("text").alias("text_len"),
        F.lit(epoch).cast("int").alias("_ingest_epoch"),
    )


def _expected(chg):
    cur = lww_dedup_window(chg, KEY_COLS, ORDER_COLS, num_salts=4).where(F.col("op") != "D")
    return sorted(
        (r.conv_id, r.turn_idx, r.role_u, r.text_len, r.epoch)
        for r in cur.select(
            "conv_id", "turn_idx",
            F.upper("role").alias("role_u"),
            F.length("text").alias("text_len"),
            (F.floor((F.col("lsn") - 1) / EPOCH_SIZE) + 1).cast("int").alias("epoch"),
        ).collect()
    )


def _silver_rows(backend):
    return sorted(
        (r.conv_id, r.turn_idx, r.role_u, r.text_len, r._ingest_epoch)
        for r in backend.read().collect()
    )


def _mk(spark, tmpdir_path, kind, transform=_transform):
    cls = BACKENDS[kind]
    ext = "duckdb" if kind == "duckdb" else "db"
    wh = cls.create(
        spark, os.path.join(tmpdir_path, f"wh.{ext}"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS
    )
    silver_wh = cls.create(
        spark, os.path.join(tmpdir_path, f"silver.{ext}"), SILVER_SCHEMA, KEY_COLS
    )
    model = SilverModel(silver_wh, transform, name="turns_silver")
    ck = ManifestStore(os.path.join(tmpdir_path, "ck"))
    eng = CdcEngine(spark, None, ck, num_salts=4, silver_models=[model])
    return wh, silver_wh, model, ck, eng


@pytest.mark.parametrize("kind", ["duckdb", "sqlite"])
def test_warehouse_silver_incremental_equals_full_rebuild(spark, tmpdir_path, kind):
    chg = generate_changes(spark, 3000, n_convs=40, turns_per_conv=8, seed=41).localCheckpoint()
    wh, silver_wh, model, ck, eng = _mk(spark, tmpdir_path, kind)
    src = ChangeStreamSource(spark, df=chg)
    results = eng.run_warehouse(wh, src, epoch_size=EPOCH_SIZE)
    assert len(results) == 3 and not any(r.skipped for r in results)

    assert _silver_rows(silver_wh) == _expected(chg)
    assert silver_wh.committed_epochs() == wh.committed_epochs() == [1, 2, 3]

    # replay is a no-op on BOTH warehouses
    assert eng.run_warehouse(wh, src, epoch_size=EPOCH_SIZE) == []
    assert _silver_rows(silver_wh) == _expected(chg)


@pytest.mark.parametrize("kind", ["duckdb", "sqlite"])
def test_warehouse_model_crash_replays_exactly_once(spark, tmpdir_path, kind):
    """Crash AFTER the warehouse merge of epoch 2 but BEFORE the model
    apply: the epoch is finalized with its staged delta retained, and
    the restarted loop's recovery replays the model from that delta,
    then the tail continues."""
    chg = generate_changes(spark, 3000, n_convs=40, turns_per_conv=8, seed=42).localCheckpoint()
    boom = {"armed": True}

    def flaky(upserts, epoch):
        if boom["armed"] and epoch == 2:
            raise RuntimeError("injected crash before warehouse model apply")
        return _transform(upserts, epoch)

    wh, silver_wh, model, ck, eng = _mk(spark, tmpdir_path, kind, transform=flaky)
    src = ChangeStreamSource(spark, df=chg)
    with pytest.raises(RuntimeError, match="injected"):
        eng.run_warehouse(wh, src, epoch_size=EPOCH_SIZE)

    # warehouse applied and finalized epoch 2; its staged delta waits
    # for the model
    assert wh.committed_epochs() == [1, 2]
    assert silver_wh.committed_epochs() == [1]
    assert ck.is_finalized(2)
    staging = os.path.join(ck.path, "_staging")
    assert os.listdir(staging) == ["e00000002"]

    boom["armed"] = False
    eng.run_warehouse(wh, src, epoch_size=EPOCH_SIZE)
    assert silver_wh.committed_epochs() == wh.committed_epochs() == [1, 2, 3]
    assert ck.is_finalized(3)
    assert _silver_rows(silver_wh) == _expected(chg)
    assert os.listdir(staging) == []


@pytest.mark.parametrize("kind", ["duckdb", "sqlite"])
def test_truncated_warehouse_epoch_replays_staged_delta(spark, tmpdir_path, kind):
    """Epoch 2 is truncated by the source max, the chained gold crashes
    applying it, and the source grows before the restart. Recovery must
    feed gold the delta the warehouse applied for epoch 2, not the
    wider slice a recomputation would read now; otherwise the next
    epoch folds the rows past the truncation into gold a second time."""
    chg = generate_changes(spark, 3000, n_convs=40, turns_per_conv=8, seed=46).localCheckpoint()
    ext = "duckdb" if kind == "duckdb" else "db"
    wh = BACKENDS[kind].create(
        spark, os.path.join(tmpdir_path, f"wh.{ext}"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS
    )
    silver_schema = T.StructType([
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("text_len", T.IntegerType(), True),
    ])
    gold_schema = T.StructType([
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), True),
        T.StructField("sum_len", T.LongType(), True),
        T.StructField("_nn_sum_len", T.LongType(), True),
    ])
    silver_t = LakeTable.create(spark, os.path.join(tmpdir_path, "silver"), silver_schema,
                                KEY_COLS, num_buckets=4)
    gold_t = LakeTable.create(spark, os.path.join(tmpdir_path, "gold"), gold_schema,
                              ["conv_id"], num_buckets=4)

    def transform(upserts, epoch):
        return upserts.select("conv_id", "turn_idx",
                              F.length("text").cast("int").alias("text_len"))

    silver = SilverModel(silver_t, transform, name="lens")
    gold = DeltaAggregateModel(gold_t, None, ["conv_id"], {"sum_len": "text_len"},
                               count_col="n_rows", name="len_rollup", parent=silver)
    boom = {"armed": True}
    apply_gold = gold.apply_epoch

    def flaky_gold(staged, epoch, **kw):
        if boom["armed"] and epoch == 2:
            raise RuntimeError("injected crash in the gold apply")
        return apply_gold(staged, epoch, **kw)

    gold.apply_epoch = flaky_gold
    ck = ManifestStore(os.path.join(tmpdir_path, "ck"))
    eng = CdcEngine(spark, None, ck, num_salts=4, silver_models=[silver, gold])
    # epoch 1 is (0, 1000], epoch 2 (1000, 1500]: truncated by the source max
    with pytest.raises(RuntimeError, match="injected"):
        eng.run_warehouse(wh, ChangeStreamSource(spark, df=chg.where(F.col("lsn") <= 1500)),
                          epoch_size=EPOCH_SIZE)
    assert silver_t.committed_epochs() == [1, 2] and gold_t.committed_epochs() == [1]

    boom["armed"] = False
    eng.run_warehouse(wh, ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE)
    assert ck.high_water_lsn() == 3000

    want_gold = sorted(tuple(r) for r in gold.aggregate(silver_t.read()).collect())
    assert sorted(tuple(r) for r in gold_t.read().collect()) == want_gold
    want_silver = sorted(tuple(r) for r in transform(wh.read(), 0).collect())
    assert sorted(tuple(r) for r in silver_t.read().collect()) == want_silver
    assert silver_t.committed_epochs() == gold_t.committed_epochs() == wh.committed_epochs()
    assert os.listdir(os.path.join(ck.path, "_staging")) == []


def test_warehouse_late_attach_raises_then_bootstrap(spark, tmpdir_path):
    """Attaching a model to a warehouse target that is already ahead
    must fail loudly (the finalized epochs' staged deltas were swept
    when they finished), and bootstrap from the warehouse state must
    make it current."""
    chg = generate_changes(spark, 3000, n_convs=40, turns_per_conv=8, seed=43).localCheckpoint()
    half = chg.where(F.col("lsn") <= 2000)
    wh = DuckBackend.create(
        spark, os.path.join(tmpdir_path, "wh.duckdb"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS
    )
    ck = ManifestStore(os.path.join(tmpdir_path, "ck"))
    eng0 = CdcEngine(spark, None, ck, num_salts=4)
    assert len(eng0.run_warehouse(wh, ChangeStreamSource(spark, df=half), epoch_size=EPOCH_SIZE)) == 2

    silver_wh = DuckBackend.create(
        spark, os.path.join(tmpdir_path, "silver.duckdb"), SILVER_SCHEMA, KEY_COLS
    )
    model = SilverModel(silver_wh, _transform, name="turns_silver")
    eng = CdcEngine(spark, None, ck, num_salts=4, silver_models=[model])
    with pytest.raises(ValueError, match="bootstrap"):
        eng.run_warehouse(wh, ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE)

    model.bootstrap(wh, epoch_id=ck.last_epoch())
    eng.run_warehouse(wh, ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE)
    # epochs 1-2 rows carry the bootstrap stamp (their per-epoch stamps
    # went with their swept staged deltas); epoch 3 is incremental
    got = _silver_rows(silver_wh)
    want = [
        (c, t, r, l, e if e >= 3 else 2)
        for (c, t, r, l, e) in _expected(chg)
    ]
    assert got == sorted(want)


def test_warehouse_gold_rollup(spark, tmpdir_path):
    """An AggregateModel over a warehouse source (key-grouped): no
    bucket metadata exists, so the recompute is the warned full-scan
    path — still converges to the from-scratch rollup."""
    import warnings

    chg = generate_changes(spark, 3000, n_convs=40, turns_per_conv=8, seed=44).localCheckpoint()
    wh = DuckBackend.create(
        spark, os.path.join(tmpdir_path, "wh.duckdb"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS
    )
    gold_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("n_turns", T.LongType(), True),
        ]
    )
    gold_wh = DuckBackend.create(
        spark, os.path.join(tmpdir_path, "gold.duckdb"), gold_schema, ["conv_id"]
    )

    def agg(rows):
        return rows.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns"))

    gold = AggregateModel(gold_wh, wh, ["conv_id"], agg, name="conv_rollup")
    eng = CdcEngine(
        spark, None, ManifestStore(os.path.join(tmpdir_path, "ck")),
        num_salts=4, silver_models=[gold],
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        eng.run_warehouse(wh, ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE)
        assert len([x for x in w if "FULL" in str(x.message)]) == 1
    got = sorted(tuple(r) for r in gold_wh.read().collect())
    want = sorted(tuple(r) for r in agg(wh.read()).collect())
    assert got == want and len(want) > 0


def test_warehouse_bootstrap_if_behind(spark, tmpdir_path):
    """The auto-bootstrap opt-in on the warehouse path: a behind model
    is full-refreshed from the warehouse state, then maintained."""
    chg = generate_changes(spark, 3000, n_convs=40, turns_per_conv=8, seed=45).localCheckpoint()
    half = chg.where(F.col("lsn") <= 2000)
    wh = SqliteBackend.create(
        spark, os.path.join(tmpdir_path, "wh.db"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS
    )
    ck = ManifestStore(os.path.join(tmpdir_path, "ck"))
    eng0 = CdcEngine(spark, None, ck, num_salts=4)
    assert len(eng0.run_warehouse(wh, ChangeStreamSource(spark, df=half), epoch_size=EPOCH_SIZE)) == 2

    silver_wh = SqliteBackend.create(
        spark, os.path.join(tmpdir_path, "silver.db"), SILVER_SCHEMA, KEY_COLS
    )
    model = SilverModel(silver_wh, _transform, name="turns_silver")
    eng = CdcEngine(
        spark, None, ck, num_salts=4, silver_models=[model], bootstrap_if_behind=True
    )
    eng.run_warehouse(wh, ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE)
    assert eng.bootstrap_log and eng.bootstrap_log[0]["covered"] == [1, 2]
    got = _silver_rows(silver_wh)
    want = [(c, t, r, l, e if e >= 3 else 2) for (c, t, r, l, e) in _expected(chg)]
    assert got == sorted(want)
