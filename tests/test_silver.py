"""Incremental silver-layer materialization: per-epoch maintenance
from the staged delta must equal a full rebuild from the batch LWW
truth, survive a crash between bronze finalize and silver apply, and
be a no-op on replay."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_warehouse_agnostic_spark.engine import CdcEngine
from etl_warehouse_agnostic_spark.lake.backends import DuckBackend
from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
from etl_warehouse_agnostic_spark.lake.table import LakeTable
from etl_warehouse_agnostic_spark.operators.dedup import lww_dedup_window
from etl_warehouse_agnostic_spark.schemas import KEY_COLS, ORDER_COLS, TRANSCRIPTS_SCHEMA_V1
from etl_warehouse_agnostic_spark.silver import SilverModel
from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource
from etl_warehouse_agnostic_spark.sources.generator import generate_changes

SILVER_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role_u", T.StringType(), True),
        T.StructField("text_len", T.IntegerType(), True),
        T.StructField("_ingest_epoch", T.IntegerType(), True),
    ]
)

EPOCH_SIZE = 1000


def _transform(upserts, epoch):
    return upserts.select(
        "conv_id",
        "turn_idx",
        F.upper("role").alias("role_u"),
        F.length("text").alias("text_len"),
        F.lit(epoch).cast("int").alias("_ingest_epoch"),
    )


def _expected(chg):
    """Full-rebuild truth: transform of the global LWW winners, with
    _ingest_epoch derived from the winner's lsn slice."""
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


def _silver_rows(silver):
    return sorted(
        (r.conv_id, r.turn_idx, r.role_u, r.text_len, r._ingest_epoch)
        for r in silver.read().collect()
    )


def _setup(spark, root, transform=_transform):
    bronze = LakeTable.create(
        spark, os.path.join(root, "bronze"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4
    )
    silver = LakeTable.create(
        spark, os.path.join(root, "silver"), SILVER_SCHEMA, KEY_COLS, num_buckets=4
    )
    model = SilverModel(silver, transform, name="turns_silver")
    ck = ManifestStore(os.path.join(root, "ck"))
    eng = CdcEngine(spark, bronze, ck, silver_models=[model])
    return bronze, silver, model, eng


def test_silver_incremental_equals_full_rebuild(spark, tmpdir_path):
    chg = generate_changes(spark, 4000, n_convs=60, turns_per_conv=8, seed=21).localCheckpoint()
    bronze, silver, model, eng = _setup(spark, tmpdir_path)
    results = eng.run(ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE)
    assert len(results) == 4  # ≥3 epochs of genuine incremental maintenance
    assert _silver_rows(silver) == _expected(chg)
    # every bronze epoch committed to silver too, staging fully swept
    assert silver.committed_epochs() == bronze.committed_epochs()
    staging = os.path.join(eng.checkpoints.path, "_staging")
    assert not os.path.isdir(staging) or not os.listdir(staging)


def test_silver_replay_is_noop(spark, tmpdir_path):
    chg = generate_changes(spark, 3000, n_convs=40, turns_per_conv=8, seed=22).localCheckpoint()
    bronze, silver, model, eng = _setup(spark, tmpdir_path)
    src = ChangeStreamSource(spark, df=chg)
    eng.run(src, epoch_size=EPOCH_SIZE)
    v = silver.latest_version()
    assert eng.run(src, epoch_size=EPOCH_SIZE) == []
    assert silver.latest_version() == v
    assert _silver_rows(silver) == _expected(chg)


def test_silver_crash_between_finalize_and_apply_recovers(spark, tmpdir_path):
    """Kill the cycle AFTER bronze manifest-finalize but BEFORE the
    silver merge of epoch 3: the staged delta must be retained, and the
    next run must catch silver up from it (exactly-once) before
    continuing the tail."""
    chg = generate_changes(spark, 4000, n_convs=60, turns_per_conv=8, seed=23).localCheckpoint()
    boom = {"armed": True}

    def flaky_transform(upserts, epoch):
        if boom["armed"] and epoch == 3:
            raise RuntimeError("injected crash before silver apply")
        return _transform(upserts, epoch)

    bronze, silver, model, eng = _setup(spark, tmpdir_path, transform=flaky_transform)
    src = ChangeStreamSource(spark, df=chg)
    try:
        eng.run(src, epoch_size=EPOCH_SIZE)
        raise AssertionError("injected crash did not fire")
    except RuntimeError:
        pass

    # bronze epoch 3 is finalized, silver stopped at 2, staging retained
    assert eng.checkpoints.is_finalized(3)
    assert silver.committed_epochs() == [1, 2]
    staging = os.path.join(eng.checkpoints.path, "_staging")
    assert os.path.isdir(os.path.join(staging, "e00000003"))

    boom["armed"] = False
    eng.run(src, epoch_size=EPOCH_SIZE)  # recover() catches silver up, tail continues
    assert silver.committed_epochs() == bronze.committed_epochs() == [1, 2, 3, 4]
    assert _silver_rows(silver) == _expected(chg)
    assert not os.path.isdir(staging) or not os.listdir(staging)


@pytest.mark.parametrize("sink", ["lake", "duckdb"])
def test_empty_epoch_crash_replays_into_models(spark, tmpdir_path, sink):
    """An epoch whose slice is empty leaves a staging dir with no rows
    (on the lake, no data file at all). When its model crashes after
    the manifest finalizes, recover must still replay it: the model
    records the epoch and the staging dir is swept."""
    chg = generate_changes(spark, 2000, n_convs=30, turns_per_conv=8, seed=24).localCheckpoint()
    boom = {"armed": False}

    def flaky_transform(upserts, epoch):
        if boom["armed"]:
            raise RuntimeError("injected crash before silver apply")
        return _transform(upserts, epoch)

    bronze, silver, model, eng = _setup(spark, tmpdir_path, transform=flaky_transform)
    target = bronze
    if sink == "duckdb":
        target = DuckBackend.create(
            spark, os.path.join(tmpdir_path, "wh.duckdb"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS
        )
    eng.run(ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE, sink=target)
    hi = eng.checkpoints.high_water_lsn()

    boom["armed"] = True
    with pytest.raises(RuntimeError, match="injected"):
        eng.apply_epoch(chg.where(F.lit(False)), 3, lsn_range=(hi, hi + 10), sink=target)
    assert eng.checkpoints.is_finalized(3) and not silver.epoch_committed(3)

    # a dir without its record is refused, not guessed at
    boom["armed"] = False
    record = os.path.join(eng._staging_dir(3), "_staged.json")
    os.rename(record, record + ".off")
    with pytest.raises(RuntimeError, match="_staged.json"):
        eng.recover(sink=target)
    os.rename(record + ".off", record)
    eng.recover(sink=target)
    assert silver.committed_epochs() == [1, 2, 3]
    assert os.listdir(os.path.join(eng.checkpoints.path, "_staging")) == []
    assert _silver_rows(silver) == _expected(chg)


GOLD_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("n_turns", T.LongType(), True),
        T.StructField("last_turn", T.IntegerType(), True),
        T.StructField("text_chars", T.LongType(), True),
    ]
)


def _gold_agg(rows):
    return rows.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.max("turn_idx").alias("last_turn"),
        F.sum(F.length("text")).alias("text_chars"),
    )


def _gold_rows(gold):
    return sorted(
        (r.conv_id, r.n_turns, r.last_turn, r.text_chars)
        for r in gold.read().collect()
    )


def test_gold_aggregate_incremental_equals_full_recompute(spark, tmpdir_path):
    """AggregateModel: affected-group recompute per cycle must equal a
    from-scratch aggregation of the final bronze state, across ≥3
    epochs of inserts/updates/deletes."""
    from etl_warehouse_agnostic_spark.silver import AggregateModel

    chg = generate_changes(spark, 4000, n_convs=60, turns_per_conv=8, seed=24).localCheckpoint()
    bronze = LakeTable.create(
        spark, os.path.join(tmpdir_path, "bronze"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4
    )
    gold_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "gold"), GOLD_SCHEMA, ["conv_id"], num_buckets=4
    )
    gold = AggregateModel(gold_t, bronze, ["conv_id"], _gold_agg, name="conv_rollup")
    ck = ManifestStore(os.path.join(tmpdir_path, "ck"))
    eng = CdcEngine(spark, bronze, ck, silver_models=[gold])
    results = eng.run(ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE)
    assert len(results) == 4

    want = sorted(
        tuple(r) for r in _gold_agg(bronze.read()).collect()
    )
    assert _gold_rows(gold_t) == want and len(want) > 0
    assert gold_t.committed_epochs() == bronze.committed_epochs()

    # replay no-op
    v = gold_t.latest_version()
    assert eng.run(ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE) == []
    assert gold_t.latest_version() == v


def test_gold_group_vanish_deletes_rollup_row(spark, tmpdir_path):
    """A group whose last bronze row is deleted must DISAPPEAR from the
    gold table (the left_anti 'gone' path) — the case running
    aggregates cannot express and affected-group recompute exists for."""
    from etl_warehouse_agnostic_spark.silver import AggregateModel

    chg = spark.createDataFrame(
        [
            (1, "I", "A", 0, "user", "hello", None),
            (2, "I", "A", 1, "assistant", "hey", None),
            (3, "I", "B", 0, "user", "yo", None),
            (4, "D", "A", 0, None, None, None),
            (5, "D", "A", 1, None, None, None),
            (6, "U", "B", 0, "user", "yo yo", None),
        ],
        "lsn long, op string, conv_id string, turn_idx int, "
        "role string, text string, ts timestamp",
    )
    bronze = LakeTable.create(
        spark, os.path.join(tmpdir_path, "bronze"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=2
    )
    gold_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "gold"), GOLD_SCHEMA, ["conv_id"], num_buckets=2
    )
    gold = AggregateModel(gold_t, bronze, ["conv_id"], _gold_agg)
    eng = CdcEngine(
        spark, bronze, ManifestStore(os.path.join(tmpdir_path, "ck")),
        silver_models=[gold],
    )
    eng.run(ChangeStreamSource(spark, df=chg), epoch_size=3)
    assert _gold_rows(gold_t) == [("B", 1, 0, 5)]  # A fully deleted, B updated


def test_silver_and_gold_together_with_gold_crash_recovery(spark, tmpdir_path):
    """Both model kinds on one engine; an injected crash in the GOLD
    apply of epoch 2 (after silver already applied it) must leave
    staging retained and recover exactly-once for the gold model only."""
    from etl_warehouse_agnostic_spark.silver import AggregateModel, SilverModel

    chg = generate_changes(spark, 3000, n_convs=40, turns_per_conv=8, seed=25).localCheckpoint()
    bronze = LakeTable.create(
        spark, os.path.join(tmpdir_path, "bronze"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4
    )
    silver_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "silver"), SILVER_SCHEMA, KEY_COLS, num_buckets=4
    )
    gold_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "gold"), GOLD_SCHEMA, ["conv_id"], num_buckets=4
    )
    boom = {"armed": True}

    def flaky_agg(rows):
        if boom["armed"]:
            raise RuntimeError("injected gold crash")
        return _gold_agg(rows)

    silver = SilverModel(silver_t, _transform, name="turns_silver")
    gold = AggregateModel(gold_t, bronze, ["conv_id"], flaky_agg)
    eng = CdcEngine(
        spark, bronze, ManifestStore(os.path.join(tmpdir_path, "ck")),
        silver_models=[silver, gold],
    )
    src = ChangeStreamSource(spark, df=chg)
    try:
        eng.run(src, epoch_size=EPOCH_SIZE)
        raise AssertionError("injected crash did not fire")
    except RuntimeError:
        pass
    assert silver_t.committed_epochs() == [1]   # silver applied epoch 1
    assert gold_t.committed_epochs() == []      # gold crashed on epoch 1

    boom["armed"] = False
    eng.run(src, epoch_size=EPOCH_SIZE)
    assert silver_t.committed_epochs() == gold_t.committed_epochs() == bronze.committed_epochs()
    assert _silver_rows(silver_t) == _expected(chg)
    assert _gold_rows(gold_t) == sorted(tuple(r) for r in _gold_agg(bronze.read()).collect())
    staging = os.path.join(eng.checkpoints.path, "_staging")
    assert not os.path.isdir(staging) or not os.listdir(staging)


def test_late_attached_model_refuses_silent_divergence(spark, tmpdir_path):
    """Attaching a model to a bronze that is ALREADY ahead (its staged
    deltas gone) must fail loudly — maintaining it forward would
    permanently miss those epochs — and the bootstrap path must make
    it current and correct."""
    import pytest

    from etl_warehouse_agnostic_spark.silver import AggregateModel

    chg = generate_changes(spark, 3000, n_convs=40, turns_per_conv=8, seed=26).localCheckpoint()
    half = chg.where(F.col("lsn") <= 2000)
    bronze = LakeTable.create(
        spark, os.path.join(tmpdir_path, "bronze"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4
    )
    ck = ManifestStore(os.path.join(tmpdir_path, "ck"))
    # phase 1: bronze runs TWO epochs with no models attached
    eng0 = CdcEngine(spark, bronze, ck)
    assert len(eng0.run(ChangeStreamSource(spark, df=half), epoch_size=EPOCH_SIZE)) == 2

    gold_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "gold"), GOLD_SCHEMA, ["conv_id"], num_buckets=4
    )
    gold = AggregateModel(gold_t, bronze, ["conv_id"], _gold_agg)
    eng = CdcEngine(spark, bronze, ck, silver_models=[gold])
    with pytest.raises(ValueError, match="bootstrap"):
        eng.run(ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE)

    # bootstrap stamped with bronze's last epoch → maintenance resumes
    gold.bootstrap(epoch_id=ck.last_epoch())
    eng.run(ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE)
    assert _gold_rows(gold_t) == sorted(tuple(r) for r in _gold_agg(bronze.read()).collect())


# ---------------- model DAG chaining (raw → staging → curated) ----------------


GOLD2_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("n_turns", T.LongType(), True),
        T.StructField("sum_text_len", T.LongType(), True),
    ]
)


def _gold_from_silver_agg(rows):
    return rows.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum("text_len").alias("sum_text_len"),
    )


def test_chained_gold_from_silver_equals_full_rebuild(spark, tmpdir_path):
    """The dbt raw → staging → curated shape: an AggregateModel chained
    on a SilverModel (parent=) must converge to a from-scratch
    aggregation of the silver table's FINAL state, across ≥3 epochs of
    inserts/updates/deletes, and replay as a version-stable no-op on
    every level."""
    from etl_warehouse_agnostic_spark.silver import AggregateModel

    chg = generate_changes(spark, 4000, n_convs=60, turns_per_conv=8, seed=31).localCheckpoint()
    bronze, silver_t, silver, eng0 = _setup(spark, tmpdir_path)
    gold_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "gold2"), GOLD2_SCHEMA, ["conv_id"], num_buckets=4
    )
    gold = AggregateModel(
        gold_t, None, ["conv_id"], _gold_from_silver_agg, name="gold_from_silver",
        parent=silver,
    )
    eng = CdcEngine(
        spark, bronze, eng0.checkpoints, silver_models=[gold, silver],
    )
    # topo order puts the parent first even when passed after the child
    assert [m.name for m in eng.silver_models] == ["turns_silver", "gold_from_silver"]
    src = ChangeStreamSource(spark, df=chg)
    results = eng.run(src, epoch_size=EPOCH_SIZE)
    assert len(results) == 4

    assert _silver_rows(silver_t) == _expected(chg)
    want = sorted(tuple(r) for r in _gold_from_silver_agg(silver_t.read()).collect())
    got = sorted(
        (r.conv_id, r.n_turns, r.sum_text_len) for r in gold_t.read().collect()
    )
    assert got == want and len(want) > 0
    assert gold_t.committed_epochs() == silver_t.committed_epochs() == bronze.committed_epochs()

    vs, vg = silver_t.latest_version(), gold_t.latest_version()
    assert eng.run(src, epoch_size=EPOCH_SIZE) == []
    assert (silver_t.latest_version(), gold_t.latest_version()) == (vs, vg)


L2_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role_tag", T.StringType(), True),
        T.StructField("len2", T.IntegerType(), True),
    ]
)


def _l2_transform(upserts, epoch):
    return upserts.select(
        "conv_id", "turn_idx",
        F.concat(F.lit("r:"), F.lower("role_u")).alias("role_tag"),
        (F.col("text_len") * 2).cast("int").alias("len2"),
    )


def test_chained_silver_of_silver_row_wise(spark, tmpdir_path):
    """A row-wise SilverModel chained on another SilverModel: the
    level-2 state must equal the composed transform applied to the
    level-1 final state (deletes propagated down both levels)."""
    chg = generate_changes(spark, 3000, n_convs=40, turns_per_conv=8, seed=32).localCheckpoint()
    bronze, silver_t, silver, eng0 = _setup(spark, tmpdir_path)
    l2_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "l2"), L2_SCHEMA, KEY_COLS, num_buckets=4
    )
    l2 = SilverModel(l2_t, _l2_transform, name="curated_l2", parent=silver)
    eng = CdcEngine(
        spark, bronze, eng0.checkpoints, silver_models=[silver, l2],
    )
    eng.run(ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE)

    want = sorted(
        tuple(r) for r in _l2_transform(silver_t.read(), 0).collect()
    )
    got = sorted(tuple(r) for r in l2_t.read().collect())
    assert got == want and len(want) > 0
    assert l2_t.committed_epochs() == silver_t.committed_epochs() == bronze.committed_epochs()


def test_branched_chain_equals_full_rebuild(spark, tmpdir_path, monkeypatch):
    """One SilverModel with two chained children, an AggregateModel and
    a SilverModel, attached child-first: both children feed on the
    parent's delta every epoch, each table equals its rebuild, and only
    a model that has an epoch_delta is asked for one."""
    from etl_warehouse_agnostic_spark.silver import AggregateModel

    chg = generate_changes(spark, 2 * EPOCH_SIZE, n_convs=40, turns_per_conv=8,
                           seed=34).localCheckpoint()
    bronze, silver_t, silver, eng0 = _setup(spark, tmpdir_path)
    gold_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "gold2"), GOLD2_SCHEMA, ["conv_id"], num_buckets=4
    )
    gold = AggregateModel(
        gold_t, None, ["conv_id"], _gold_from_silver_agg, name="gold_from_silver",
        parent=silver,
    )
    l2_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "l2"), L2_SCHEMA, KEY_COLS, num_buckets=4
    )
    l2 = SilverModel(l2_t, _l2_transform, name="curated_l2", parent=silver)
    asked = []
    real_epoch_delta = SilverModel.epoch_delta

    def epoch_delta(self, staged, epoch):
        asked.append(self.name)
        return real_epoch_delta(self, staged, epoch)

    monkeypatch.setattr(SilverModel, "epoch_delta", epoch_delta)
    eng = CdcEngine(
        spark, bronze, eng0.checkpoints, silver_models=[gold, l2, silver],
    )
    assert [m.name for m in eng.silver_models] == [
        "turns_silver", "gold_from_silver", "curated_l2"]
    results = eng.run(ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE)
    assert len(results) == 2 and not any(r.skipped for r in results)

    assert not hasattr(gold, "epoch_delta")
    assert set(asked) == {"turns_silver", "curated_l2"}
    assert _silver_rows(silver_t) == _expected(chg)
    want = sorted(tuple(r) for r in _gold_from_silver_agg(silver_t.read()).collect())
    got = sorted((r.conv_id, r.n_turns, r.sum_text_len) for r in gold_t.read().collect())
    assert got == want and len(want) > 0
    want = sorted(tuple(r) for r in _l2_transform(silver_t.read(), 0).collect())
    assert sorted(tuple(r) for r in l2_t.read().collect()) == want and len(want) > 0
    assert (gold_t.committed_epochs() == l2_t.committed_epochs()
            == silver_t.committed_epochs() == bronze.committed_epochs() == [1, 2])


def test_chained_crash_level1_committed_level2_not(spark, tmpdir_path):
    """Crash window NEW to chains: level-1 (silver) committed the
    epoch, level-2 (chained gold) did not. The bronze staged delta must
    be retained, and recovery must recompute level-1's delta through
    the chain (its merge skips) and catch level-2 up exactly-once."""
    from etl_warehouse_agnostic_spark.silver import AggregateModel

    chg = generate_changes(spark, 3000, n_convs=40, turns_per_conv=8, seed=33).localCheckpoint()
    bronze, silver_t, silver, eng0 = _setup(spark, tmpdir_path)
    gold_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "gold2"), GOLD2_SCHEMA, ["conv_id"], num_buckets=4
    )
    boom = {"armed": True}

    def flaky_agg(rows):
        if boom["armed"]:
            raise RuntimeError("injected level-2 crash")
        return _gold_from_silver_agg(rows)

    gold = AggregateModel(
        gold_t, None, ["conv_id"], flaky_agg, name="gold_from_silver", parent=silver
    )
    eng = CdcEngine(
        spark, bronze, eng0.checkpoints, silver_models=[silver, gold],
    )
    src = ChangeStreamSource(spark, df=chg)
    try:
        eng.run(src, epoch_size=EPOCH_SIZE)
        raise AssertionError("injected crash did not fire")
    except RuntimeError:
        pass
    assert silver_t.committed_epochs() == [1]  # level-1 applied epoch 1
    assert gold_t.committed_epochs() == []     # level-2 crashed
    staging = os.path.join(eng.checkpoints.path, "_staging")
    assert os.path.isdir(staging) and os.listdir(staging)  # delta retained

    boom["armed"] = False
    eng.run(src, epoch_size=EPOCH_SIZE)
    assert gold_t.committed_epochs() == silver_t.committed_epochs() == bronze.committed_epochs()
    assert _silver_rows(silver_t) == _expected(chg)
    want = sorted(tuple(r) for r in _gold_from_silver_agg(silver_t.read()).collect())
    got = sorted(
        (r.conv_id, r.n_turns, r.sum_text_len) for r in gold_t.read().collect()
    )
    assert got == want
    assert not os.path.isdir(staging) or not os.listdir(staging)


def test_model_dag_validation(spark, tmpdir_path):
    """Loud failures: a parent not attached to the engine; a chained
    model whose keys are not a subset of its parent's; an aggregate as
    a parent."""
    import pytest

    from etl_warehouse_agnostic_spark.silver import AggregateModel, model_dag_order

    bronze, silver_t, silver, _ = _setup(spark, tmpdir_path)
    gold_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "gold2"), GOLD2_SCHEMA, ["conv_id"], num_buckets=4
    )
    gold = AggregateModel(
        gold_t, None, ["conv_id"], _gold_from_silver_agg, parent=silver
    )
    with pytest.raises(ValueError, match="not\\s+attached"):
        model_dag_order([gold])  # parent silver missing

    # chained model keys must be a subset of the parent's keys
    bad_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "bad"),
        T.StructType([T.StructField("role_u", T.StringType(), False)]),
        ["role_u"], num_buckets=2,
    )
    with pytest.raises(ValueError, match="key column"):
        SilverModel(bad_t, lambda df, e: df, name="bad", parent=silver)

    # an AggregateModel cannot be a parent (no recomputable row delta)
    with pytest.raises(ValueError, match="SilverModel"):
        SilverModel(bad_t, lambda df, e: df, name="bad2", parent=gold)


# ------------- non-key groupings: old-group tracking + pruning -------------


DAY_GOLD_SCHEMA = T.StructType(
    [
        T.StructField("day", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), True),
        T.StructField("chars", T.LongType(), True),
    ]
)


def _day_groups(rows):
    return rows.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))


def _day_agg(rows):
    return rows.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length("text")).alias("chars"),
    )


def _mk_day_changes(spark):
    rows = [
        # epoch 1 (lsn 1-4)
        (1, "I", "A", 0, "user", "aaa", "2024-01-01 08:00:00"),
        (2, "I", "A", 1, "user", "bb", "2024-01-01 09:00:00"),
        (3, "I", "B", 0, "user", "cccc", "2024-01-02 08:00:00"),
        (4, "I", "C", 0, "user", "d", "2024-01-03 08:00:00"),
        # epoch 2 (lsn 5-8): the two old-group hazards
        (5, "U", "A", 0, "user", "zzzz", "2024-01-03 10:00:00"),  # moves day 01→03
        (6, "D", "B", 0, None, None, None),                       # empties day 02
        (7, "I", "D", 0, "user", "ee", "2024-01-01 10:00:00"),
        (8, "U", "C", 0, "user", "ddd", "2024-01-03 11:00:00"),
    ]
    return spark.createDataFrame(
        [(l, o, c, t, r, x, ts) for (l, o, c, t, r, x, ts) in rows],
        "lsn long, op string, conv_id string, turn_idx int, "
        "role string, text string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_gold_day_rollup_old_group_tracking_and_day_pruning(spark, tmpdir_path):
    """A day rollup (non-key grouping over a MUTABLE ts): an update
    that moves a row across days must recompute the row's OLD day, and
    a delete (NULL payload in the delta) must recompute the day it
    vacated — both via the pre-epoch snapshot lookup. The recompute
    scan must be day-range pruned (require_pruned=True), never a full
    table scan."""
    from etl_warehouse_agnostic_spark.silver import AggregateModel

    chg = _mk_day_changes(spark)
    bronze = LakeTable.create(
        spark, os.path.join(tmpdir_path, "bronze"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS,
        num_buckets=2, partition_spec={"col": "ts", "transform": "day"},
    )
    gold_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "gold"), DAY_GOLD_SCHEMA, ["day"], num_buckets=2
    )
    gold = AggregateModel(
        gold_t, bronze, ["day"], _day_agg, name="day_rollup",
        row_groups=_day_groups, day_of="day", require_pruned=True,
    )
    eng = CdcEngine(
        spark, bronze, ManifestStore(os.path.join(tmpdir_path, "ck")),
        silver_models=[gold],
    )
    results = eng.run(ChangeStreamSource(spark, df=chg), epoch_size=4)
    assert len(results) == 2
    assert gold.last_scan is not None and gold.last_scan["mode"] == "day"

    got = sorted(tuple(r) for r in gold_t.read().collect())
    # 01-02 must be GONE (its only row was deleted — old group via
    # pre-state); 01-01 must have shrunk to 2 rows (A/0 moved out)
    assert got == [
        ("2024-01-01", 2, 4),   # A/1 "bb" + D/0 "ee"
        ("2024-01-03", 2, 7),   # A/0 "zzzz" + C/0 "ddd"
    ]
    # and equals a from-scratch recompute of the final bronze state
    want = sorted(tuple(r) for r in _day_agg(_day_groups(bronze.read())).collect())
    assert got == want

    # the day-range read opens strictly fewer files than a full scan
    pruned = set(bronze.read(day_range=("2024-01-01", "2024-01-01")).inputFiles())
    full = set(bronze.read().inputFiles())
    assert pruned and pruned < full


def test_gold_non_key_grouping_guards(spark, tmpdir_path):
    """Misuse fails loudly at construction: non-key grouping over an
    unversioned source; day_of not a group col; day_of without a time
    partition; require_pruned with no applicable strategy."""
    import pytest

    from etl_warehouse_agnostic_spark.lake.backends import SqliteBackend
    from etl_warehouse_agnostic_spark.silver import AggregateModel

    bronze = LakeTable.create(
        spark, os.path.join(tmpdir_path, "bronze"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=2
    )
    gold_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "gold"), DAY_GOLD_SCHEMA, ["day"], num_buckets=2
    )
    wh = SqliteBackend.create(
        spark, os.path.join(tmpdir_path, "wh.db"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS
    )
    with pytest.raises(ValueError, match="old-group tracking"):
        AggregateModel(gold_t, wh, ["day"], _day_agg, row_groups=_day_groups)
    with pytest.raises(ValueError, match="must be one of group_cols"):
        AggregateModel(gold_t, bronze, ["day"], _day_agg,
                       row_groups=_day_groups, day_of="ts")
    with pytest.raises(ValueError, match="time-partitioned"):
        AggregateModel(gold_t, bronze, ["day"], _day_agg,
                       row_groups=_day_groups, day_of="day")
    with pytest.raises(ValueError, match="require_pruned"):
        AggregateModel(gold_t, bronze, ["day"], _day_agg,
                       row_groups=_day_groups, require_pruned=True)


def test_gold_full_scan_fallback_warns_and_stays_correct(spark, tmpdir_path):
    """A physical non-key grouping (by role — mutable on update) with
    no pruning strategy: warns ONCE about the per-cycle full scan, and
    old-group tracking still converges to the from-scratch rollup."""
    import warnings

    from etl_warehouse_agnostic_spark.silver import AggregateModel

    chg = generate_changes(spark, 3000, n_convs=40, turns_per_conv=8, seed=34).localCheckpoint()
    bronze = LakeTable.create(
        spark, os.path.join(tmpdir_path, "bronze"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4
    )
    role_schema = T.StructType(
        [
            T.StructField("role", T.StringType(), False),
            T.StructField("n", T.LongType(), True),
        ]
    )
    gold_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "gold"), role_schema, ["role"], num_buckets=2
    )

    def role_agg(rows):
        return rows.groupBy("role").agg(F.count(F.lit(1)).alias("n"))

    gold = AggregateModel(gold_t, bronze, ["role"], role_agg, name="role_rollup")
    eng = CdcEngine(
        spark, bronze, ManifestStore(os.path.join(tmpdir_path, "ck")),
        silver_models=[gold],
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        eng.run(ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE)
        full_scan_warnings = [x for x in w if "FULL" in str(x.message)]
    assert len(full_scan_warnings) == 1  # once per model, not per epoch
    assert gold.last_scan is not None and gold.last_scan["mode"] == "full"

    got = sorted(tuple(r) for r in gold_t.read().collect())
    want = sorted(tuple(r) for r in role_agg(bronze.read()).collect())
    assert got == want and len(want) > 0


def test_bootstrap_if_behind_auto_bootstraps(spark, tmpdir_path):
    """Opt-in late-attach ergonomics: with bootstrap_if_behind=True the
    engine full-refreshes a behind model automatically (stamped with
    bronze's last epoch) instead of raising, then maintains it
    incrementally; the loud raise stays the default."""
    from etl_warehouse_agnostic_spark.silver import AggregateModel

    chg = generate_changes(spark, 3000, n_convs=40, turns_per_conv=8, seed=35).localCheckpoint()
    half = chg.where(F.col("lsn") <= 2000)
    bronze = LakeTable.create(
        spark, os.path.join(tmpdir_path, "bronze"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4
    )
    ck = ManifestStore(os.path.join(tmpdir_path, "ck"))
    eng0 = CdcEngine(spark, bronze, ck)
    assert len(eng0.run(ChangeStreamSource(spark, df=half), epoch_size=EPOCH_SIZE)) == 2

    gold_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "gold"), GOLD_SCHEMA, ["conv_id"], num_buckets=4
    )
    gold = AggregateModel(gold_t, bronze, ["conv_id"], _gold_agg)
    eng = CdcEngine(
        spark, bronze, ck, silver_models=[gold], bootstrap_if_behind=True
    )
    eng.run(ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE)  # no raise
    assert eng.bootstrap_log and eng.bootstrap_log[0]["model"] == "gold"
    assert eng.bootstrap_log[0]["covered"] == [1, 2]
    assert _gold_rows(gold_t) == sorted(tuple(r) for r in _gold_agg(bronze.read()).collect())
    # incremental epoch 3 actually committed on top of the bootstrap
    assert 3 in gold_t.committed_epochs()
