"""The bronze epoch census reaches every model merge.

The engine builds one ``EpochCensus`` per lake epoch from the staging
write (staged buckets, delta row count) and threads it down the model
DAG. On layouts that coarsen bronze's (the model bucket count divides
bronze's), every model's source reads and merge resolve their buckets
from it — no model collects a bucket census of its own — and the day
rollup merges under the census its own checkpoint observed. An empty
epoch still commits every model, the day rollup through the
Observation fallback aggregate, and a crash-replay from the retained
staging dir runs under the same census as the epoch itself. A census
that does not describe a table's layout (another key type) or misses
a key the merge writes never costs rows: the merge collects instead."""

import dataclasses
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import etl_warehouse_agnostic_spark.silver as silver_mod
from etl_warehouse_agnostic_spark.engine import CdcEngine
from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
from etl_warehouse_agnostic_spark.functions.scalars import bucket_of
from etl_warehouse_agnostic_spark.lake.table import EpochCensus, LakeTable
from etl_warehouse_agnostic_spark.schemas import KEY_COLS, TRANSCRIPTS_SCHEMA_V1
from etl_warehouse_agnostic_spark.silver import (
    AggregateModel,
    DeltaAggregateModel,
    SilverModel,
)
from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource
from etl_warehouse_agnostic_spark.sources.generator import generate_changes

EVENTS = 1500


def _table(spark, root, name, fields, keys, num_buckets):
    schema = T.StructType([T.StructField(n, t, n not in keys) for n, t in fields])
    return LakeTable.create(spark, os.path.join(root, name), schema, keys,
                            num_buckets=num_buckets)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _dag(spark, tmpdir_path):
    """Bronze at 4 buckets feeding silver (2) → chained gold (4), plus a
    bronze-fed day rollup (2): every model layout divides bronze's."""
    S, I, L = T.StringType(), T.IntegerType(), T.LongType()
    bronze = LakeTable.create(spark, os.path.join(tmpdir_path, "bronze"),
                              TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4)
    silver_t = _table(spark, tmpdir_path, "silver",
                      [("conv_id", S), ("turn_idx", I), ("text_len", I)], KEY_COLS, 2)
    gold_t = _table(spark, tmpdir_path, "gold",
                    [("conv_id", S), ("turns", L), ("chars", L)], ["conv_id"], 4)
    day_t = _table(spark, tmpdir_path, "day",
                   [("day", S), ("rows", L), ("chars", L), ("_nn_chars", L)], ["day"], 2)

    silver = SilverModel(
        silver_t,
        lambda ups, e: ups.select("conv_id", "turn_idx",
                                  F.length("text").cast("int").alias("text_len")),
        name="silver",
    )
    gold = AggregateModel(
        gold_t, None, ["conv_id"],
        lambda rows: rows.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("turns"), F.sum("text_len").cast("long").alias("chars")),
        name="gold", parent=silver,
    )
    day = DeltaAggregateModel(
        day_t, bronze, ["day"], {"chars": F.length("text")}, count_col="rows", name="day",
        row_groups=lambda rows: rows.withColumn("day", F.date_format("ts", "yyyy-MM-dd")),
    )
    eng = CdcEngine(spark, bronze, ManifestStore(os.path.join(tmpdir_path, "ck")),
                    silver_models=[silver, gold, day])
    return bronze, (silver, gold, day), eng


def _no_collect(staged, snap):
    raise AssertionError("a model collected the bucket census the engine passed it")


def _assert_rebuilt(bronze, silver, gold, day):
    transformed = silver.transform(bronze.read().withColumn("op", F.lit("I")), 0)
    assert _rows(silver.table.read()) == _rows(transformed)
    assert _rows(gold.table.read()) == _rows(gold.aggregate(transformed))
    assert _rows(day.table.read()) == _rows(day.aggregate(bronze.read()))


def test_census_reaches_every_model_merge(spark, tmpdir_path, monkeypatch):
    bronze, (silver, gold, day), eng = _dag(spark, tmpdir_path)
    silver_t, gold_t, day_t = silver.table, gold.table, day.table
    monkeypatch.setattr(silver_mod, "_delta_buckets", _no_collect)

    merges = []
    real_merge = LakeTable.merge

    def spy(self, *args, **kwargs):
        census = kwargs.get("census")
        merges.append((self.path, census, census and census.buckets_for(self.snapshot())))
        return real_merge(self, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "merge", spy)

    class Withheld:
        """An Observation whose metrics never arrived — what Catalyst
        leaves when it folds the CollectMetrics node away."""

        @property
        def get(self):
            raise RuntimeError("no observed metrics")

    withhold = {"on": False}
    observed_calls = []
    real_observed = silver_mod.observed

    def observed(obs, df, metrics):
        observed_calls.append(withhold["on"])
        return real_observed(Withheld() if withhold["on"] else obs, df, metrics)

    monkeypatch.setattr(silver_mod, "observed", observed)

    chg = generate_changes(spark, EVENTS, n_convs=20, turns_per_conv=6, seed=52).localCheckpoint()
    [res] = eng.run(ChangeStreamSource(spark, df=chg), epoch_size=EVENTS)
    assert not res.skipped and res.rows_upserted > 0

    # bronze and each of the three model tables merged once, every one
    # under a census that resolves against the table it merged into
    assert sorted(p for p, _, _ in merges) == sorted(
        t.path for t in (bronze, silver_t, gold_t, day_t))
    assert all(c is not None and b for _, c, b in merges)
    by_path = {p: c for p, c, _ in merges}
    # models merge under the bronze census without its row count (a
    # transform may fan out); the rollup under its own, observed census
    assert by_path[bronze.path].rows == res.rows_upserted + res.rows_deleted
    assert by_path[silver_t.path] == by_path[gold_t.path] == dataclasses.replace(
        by_path[bronze.path], rows=None)
    assert by_path[day_t.path].key == "day" and by_path[day_t.path].rows > 0
    assert observed_calls == [False]
    assert gold.last_scan["mode"] == "bucket" and gold.last_scan["buckets"]
    assert day.last_scan["src_buckets"] and day.last_scan["gold_buckets"]

    # an epoch whose slice is empty commits every model, with the day
    # rollup's census from the fallback aggregate over its checkpoint
    merges.clear()
    withhold["on"] = True
    hi = res.lsn_range[1]
    empty = eng.apply_epoch(chg.where(F.lit(False)), res.epoch + 1, lsn_range=(hi, hi + 10))
    assert not empty.skipped and empty.rows_read == 0
    assert observed_calls == [False, True]
    assert all(m.epoch_committed(empty.epoch) for m in (silver, gold, day))
    assert all(c is not None and b == [] for _, c, b in merges)

    # and every model still equals its rebuild from bronze
    _assert_rebuilt(bronze, silver, gold, day)


def test_recovery_replays_under_the_epoch_census(spark, tmpdir_path, monkeypatch):
    bronze, (silver, gold, day), eng = _dag(spark, tmpdir_path)
    monkeypatch.setattr(silver_mod, "_delta_buckets", _no_collect)
    censuses = []
    real_apply_silver = eng._apply_silver

    def apply_silver(staged, epoch, census=None, **kw):
        censuses.append(census)
        return real_apply_silver(staged, epoch, census=census, **kw)

    eng._apply_silver = apply_silver

    def crash(staged, epoch, census=None, **kw):
        raise RuntimeError("crash before the day rollup commits")

    day.apply_epoch = crash
    chg = generate_changes(spark, EVENTS, n_convs=20, turns_per_conv=6, seed=53).localCheckpoint()
    with pytest.raises(RuntimeError, match="crash before"):
        eng.run(ChangeStreamSource(spark, df=chg), epoch_size=EVENTS)
    assert eng.checkpoints.is_finalized(1) and not day.epoch_committed(1)

    # the restart replays the retained staged delta into the day rollup,
    # under the census rebuilt from the staging dir: equal to the one
    # the crashed epoch passed (and no model collects its own)
    del day.apply_epoch
    assert eng.recover() == []
    assert day.epoch_committed(1)
    assert len(censuses) == 2 and censuses[1] == censuses[0] and censuses[0].rows > 0
    _assert_rebuilt(bronze, silver, gold, day)


def test_recovery_uses_the_staged_layout_after_a_concurrent_rebucket(
        spark, tmpdir_path, monkeypatch):
    """A rebucket 4 → 6 commits between epoch 2's staging and its bronze
    merge; the replay's census keeps the modulus the delta was staged
    with, so the day rollup's pre-epoch read of the 6-bucket bronze
    collects its buckets instead of pairing 4-bucket ids with modulus
    6 (and missing the old rows of keys epoch 2 changed)."""
    bronze, (silver, gold, day), eng = _dag(spark, tmpdir_path)
    censuses = []
    real_apply_silver = eng._apply_silver
    real_day_apply = day.apply_epoch

    def apply_silver(staged, epoch, census=None, **kw):
        censuses.append(census)
        return real_apply_silver(staged, epoch, census=census, **kw)

    def rebucket_then_merge(*args, **kwargs):
        if kwargs.get("epoch_id") == 2:
            bronze.rebucket(6)
        return LakeTable.merge(bronze, *args, **kwargs)

    def crash(staged, epoch, census=None, **kw):
        if epoch == 2:
            raise RuntimeError("crash before the day rollup commits")
        return real_day_apply(staged, epoch, census=census, **kw)

    eng._apply_silver = apply_silver
    bronze.merge = rebucket_then_merge
    day.apply_epoch = crash
    chg = generate_changes(spark, 2 * EVENTS, n_convs=20, turns_per_conv=6,
                           seed=54).localCheckpoint()
    with pytest.raises(RuntimeError, match="crash before"):
        eng.run(ChangeStreamSource(spark, df=chg), epoch_size=EVENTS)
    assert bronze.num_buckets == 6 and not day.epoch_committed(2)

    del bronze.merge, day.apply_epoch
    assert eng.recover() == []
    assert [c.num_buckets for c in censuses] == [4, 4, 4] and censuses[2] == censuses[1]
    assert censuses[2].buckets_for(bronze.snapshot()) is None
    _assert_rebuilt(bronze, silver, gold, day)


def _ids(spark, table, n):
    """A table keyed on ``id BIGINT`` (2 buckets) holding ids 0..n-1."""
    schema = T.StructType([T.StructField("id", T.LongType(), False),
                           T.StructField("v", T.StringType(), True)])
    t = LakeTable.create(spark, table, schema, ["id"], num_buckets=2)
    t.overwrite(spark.range(n).withColumn("v", F.lit("old")))
    return t


def test_census_of_a_narrower_key_type_falls_back_to_collect(spark, tmpdir_path):
    """Bronze keyed on ``id INT``, a model table on ``id BIGINT``: the
    two types hash apart, so the INT census names the wrong BIGINT
    buckets; the merge must collect, for deletes as for upserts."""
    t = _ids(spark, os.path.join(tmpdir_path, "t"), 40)
    as_int = F.col("id").cast("int")
    moved = [r.id for r in spark.range(40).where(
        (bucket_of(as_int, 2) == 0) & (bucket_of("id", 2) == 1)).collect()]
    assert len(moved) >= 2
    gone, updated = moved[0], moved[1]

    def census(ids):
        df = spark.createDataFrame([(i,) for i in ids], "id int")
        buckets = tuple(r[0] for r in df.select(bucket_of("id", 4)).distinct().collect())
        return EpochCensus("id", T.IntegerType(), 4, buckets, len(ids))

    c = census([gone])
    assert c.buckets_for(t.snapshot()) is None
    assert dataclasses.replace(c, key_type=T.LongType()).buckets_for(t.snapshot()) == [0]
    no_rows = spark.createDataFrame([], "id int, v string")
    t.merge(no_rows, spark.createDataFrame([(gone,)], "id int"), epoch_id=1, census=c)
    t.merge(spark.createDataFrame([(updated, "new")], "id int, v string"),
            epoch_id=2, census=census([updated]))

    want = {i: "new" if i == updated else "old" for i in range(40) if i != gone}
    assert {r.id: r.v for r in t.read().collect()} == want


def test_merge_redoes_an_attempt_that_writes_outside_the_census(spark, tmpdir_path):
    """A census that misses a written key (a model transform that
    rewrote key values) must not replace that bucket's files: the
    attempt is discarded and redone with the collected buckets."""
    t = _ids(spark, os.path.join(tmpdir_path, "t"), 40)
    b0 = [r.id for r in spark.range(40).where(bucket_of("id", 2) == 0).collect()]
    b1 = [r.id for r in spark.range(40).where(bucket_of("id", 2) == 1).collect()]
    # the census names bucket 1 only; the upsert is an id in bucket 0
    c = EpochCensus("id", T.LongType(), 2, (1,), 1)
    res = t.merge(spark.createDataFrame([(b0[0], "new")], "id long, v string"),
                  epoch_id=1, census=c)

    assert res.buckets_rewritten == 1
    want = {i: "new" if i == b0[0] else "old" for i in b0 + b1}
    assert {r.id: r.v for r in t.read().collect()} == want
    referenced = {p.split(os.sep)[1] for ps in t.snapshot()["files"].values() for p in ps}
    assert set(os.listdir(t.data_dir)) <= referenced  # the discarded attempt is gone
