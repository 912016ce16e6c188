"""DeltaAggregateModel: delta arithmetic maintenance (new = old + pos
− neg) must equal a from-scratch rebuild across epochs of inserts,
updates (incl. cross-group moves), and deletes; groups must vanish at
count 0; all-NULL sums must stay NULL (never a running 0); replays are
version-stable no-ops; crashes recover exactly-once; and misuse fails
loudly at construction."""

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_warehouse_agnostic_spark.engine import CdcEngine
from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
from etl_warehouse_agnostic_spark.lake.table import LakeTable
from etl_warehouse_agnostic_spark.schemas import KEY_COLS, TRANSCRIPTS_SCHEMA_V1
from etl_warehouse_agnostic_spark.silver import DeltaAggregateModel, SilverModel
from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource
from etl_warehouse_agnostic_spark.sources.generator import generate_changes

EPOCH_SIZE = 1000

CONV_GOLD_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), True),
        T.StructField("chars", T.LongType(), True),
        T.StructField("_nn_chars", T.LongType(), True),
    ]
)

DAY_GOLD_SCHEMA = T.StructType(
    [
        T.StructField("day", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), True),
        T.StructField("chars", T.LongType(), True),
        T.StructField("_nn_chars", T.LongType(), True),
    ]
)


def _day_groups(rows):
    return rows.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))


def _mk(spark, tmpdir_path, group_cols, gold_schema, sums, **kw):
    bronze = LakeTable.create(
        spark, os.path.join(tmpdir_path, "bronze"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS,
        num_buckets=4,
    )
    gold_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "gold"), gold_schema, group_cols, num_buckets=4
    )
    gold = DeltaAggregateModel(gold_t, bronze, group_cols, sums, name="delta_gold", **kw)
    eng = CdcEngine(
        spark, bronze, ManifestStore(os.path.join(tmpdir_path, "ck")),
        num_salts=4, silver_models=[gold],
    )
    return bronze, gold_t, gold, eng


def _rows(t):
    return sorted(tuple(r) for r in t.read().collect())


def test_delta_gold_key_grouping_equals_full_rebuild(spark, tmpdir_path):
    chg = generate_changes(spark, 4000, n_convs=60, turns_per_conv=8, seed=41).localCheckpoint()
    bronze, gold_t, gold, eng = _mk(
        spark, tmpdir_path, ["conv_id"], CONV_GOLD_SCHEMA, {"chars": F.length("text")}
    )
    src = ChangeStreamSource(spark, df=chg)
    results = eng.run(src, epoch_size=EPOCH_SIZE)
    assert len(results) == 4  # ≥3 epochs of genuine delta maintenance

    want = sorted(tuple(r) for r in gold.aggregate(bronze.read()).collect())
    assert _rows(gold_t) == want and len(want) > 0
    assert gold_t.committed_epochs() == bronze.committed_epochs()
    # the maintenance read was bucket-pruned on BOTH sides
    assert gold.last_scan is not None and gold.last_scan["mode"] == "delta"

    # replay: version-stable no-op (delta arithmetic must never re-add)
    v = gold_t.latest_version()
    assert eng.run(src, epoch_size=EPOCH_SIZE) == []
    assert gold_t.latest_version() == v
    assert _rows(gold_t) == want


def _mk_day_changes(spark):
    rows = [
        # epoch 1 (lsn 1-4)
        (1, "I", "A", 0, "user", "aaa", "2024-01-01 08:00:00"),
        (2, "I", "A", 1, "user", "bb", "2024-01-01 09:00:00"),
        (3, "I", "B", 0, "user", "cccc", "2024-01-02 08:00:00"),
        (4, "I", "C", 0, "user", None, "2024-01-03 08:00:00"),  # NULL contribution
        # epoch 2 (lsn 5-8): the old-group hazards + NULL-sum hazards
        (5, "U", "A", 0, "user", "zzzz", "2024-01-03 10:00:00"),  # moves day 01→03
        (6, "D", "B", 0, None, None, None),                       # empties day 02
        (7, "I", "D", 0, "user", None, "2024-01-04 10:00:00"),    # all-NULL day 04
        (8, "U", "C", 0, "user", None, "2024-01-03 11:00:00"),    # stays NULL
    ]
    return spark.createDataFrame(
        rows,
        "lsn long, op string, conv_id string, turn_idx int, "
        "role string, text string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_delta_gold_day_rollup_moves_deletes_and_null_sums(spark, tmpdir_path):
    """The hard non-key case: a mutable-ts day rollup. Cross-day moves
    subtract from the OLD day, a delete vacates its day via the
    pre-epoch lookup (the delta's delete row carries NULL payload), a
    fully-emptied day disappears, and a day whose every text is NULL
    reports chars = NULL — not 0 — exactly like a rebuild."""
    chg = _mk_day_changes(spark)
    bronze, gold_t, gold, eng = _mk(
        spark, tmpdir_path, ["day"], DAY_GOLD_SCHEMA, {"chars": F.length("text")},
        row_groups=_day_groups,
    )
    results = eng.run(ChangeStreamSource(spark, df=chg), epoch_size=4)
    assert len(results) == 2

    got = _rows(gold_t)
    assert got == [
        ("2024-01-01", 1, 2, 1),       # only A/1 "bb" left (A/0 moved out)
        ("2024-01-03", 2, 4, 1),       # A/0 "zzzz" + C/0 NULL
        ("2024-01-04", 1, None, 0),    # all-NULL day: SUM is NULL, not 0
    ]  # day 01-02 GONE (its only row deleted)
    want = sorted(tuple(r) for r in gold.aggregate(_day_groups(bronze.read())).collect())
    assert got == want


def test_delta_gold_null_group_returns_to_null_after_delete(spark, tmpdir_path):
    """A group goes NULL → non-NULL → back to all-NULL across epochs:
    the _nn counter must bring the visible sum back to NULL (a plain
    running total would be stuck at 0)."""
    rows = [
        (1, "I", "A", 0, "user", None, "2024-01-01 08:00:00"),
        (2, "I", "A", 1, "user", "xyz", "2024-01-01 09:00:00"),
        (3, "D", "A", 1, None, None, None),
        (4, "I", "B", 0, "user", "pad", "2024-01-02 08:00:00"),
    ]
    chg = spark.createDataFrame(
        rows,
        "lsn long, op string, conv_id string, turn_idx int, "
        "role string, text string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    bronze, gold_t, gold, eng = _mk(
        spark, tmpdir_path, ["day"], DAY_GOLD_SCHEMA, {"chars": F.length("text")},
        row_groups=_day_groups,
    )
    eng.run(ChangeStreamSource(spark, df=chg), epoch_size=2)
    assert _rows(gold_t) == [
        ("2024-01-01", 1, None, 0),  # back to all-NULL after the delete
        ("2024-01-02", 1, 3, 1),
    ]


def test_delta_gold_sparse_epoch_scans_are_bucket_pruned(spark, tmpdir_path):
    """The scale claim: a localized delta's maintenance reads only the
    delta's source buckets (pinned pre-epoch snapshot) and touched gold
    buckets — never the whole table on either side. A dense epoch 1
    builds the table; a one-conv epoch 2 must record a strict bucket
    subset in last_scan, and that pruned read must open strictly fewer
    bronze files than a full scan."""
    chg = generate_changes(spark, 2000, n_convs=60, turns_per_conv=8, seed=45).localCheckpoint()
    one_conv = chg.select("conv_id").where(F.col("op") == "I").first()[0]
    max_lsn = chg.agg(F.max("lsn")).first()[0]
    tail = (
        chg.where(F.col("conv_id") == one_conv)
        .withColumn("lsn", F.col("lsn") + F.lit(max_lsn))
        .localCheckpoint()
    )
    bronze, gold_t, gold, eng = _mk(
        spark, tmpdir_path, ["conv_id"], CONV_GOLD_SCHEMA, {"chars": F.length("text")}
    )
    eng.run(ChangeStreamSource(spark, df=chg), epoch_size=2000)
    eng.run(ChangeStreamSource(spark, df=chg.unionByName(tail)), epoch_size=max_lsn * 2)

    scan = gold.last_scan
    assert scan is not None and scan["mode"] == "delta"
    # one conv hashes to one bucket on each side; 4 buckets exist
    assert len(scan["src_buckets"]) == 1 and len(scan["gold_buckets"]) == 1
    # the pre-epoch subtract read opens strictly fewer files than full
    snap = bronze.epoch_snapshot(gold_t.committed_epochs()[-1])
    pruned = set(bronze.read(version=snap["parent"], buckets=scan["src_buckets"]).inputFiles())
    full = set(bronze.read(version=snap["parent"]).inputFiles())
    assert pruned and pruned < full
    # and the maintained table still equals a from-scratch rebuild
    want = sorted(tuple(r) for r in gold.aggregate(bronze.read()).collect())
    assert _rows(gold_t) == want


def test_delta_gold_crash_recovery_exactly_once(spark, tmpdir_path):
    """Crash between bronze finalize and the delta-gold apply: staging
    retained, recovery replays the SAME delta arithmetic from the
    pinned pre-epoch snapshot — exactly-once, bit-identical."""
    chg = generate_changes(spark, 3000, n_convs=40, turns_per_conv=8, seed=42).localCheckpoint()
    boom = {"armed": True}

    def flaky_groups(rows):
        if boom["armed"]:
            raise RuntimeError("injected delta-gold crash")
        return rows

    bronze, gold_t, gold, eng = _mk(
        spark, tmpdir_path, ["conv_id"], CONV_GOLD_SCHEMA, {"chars": F.length("text")},
        row_groups=flaky_groups,
    )
    src = ChangeStreamSource(spark, df=chg)
    try:
        eng.run(src, epoch_size=EPOCH_SIZE)
        raise AssertionError("injected crash did not fire")
    except RuntimeError:
        pass
    assert eng.checkpoints.is_finalized(1)
    assert gold_t.committed_epochs() == []
    staging = os.path.join(eng.checkpoints.path, "_staging")
    assert os.path.isdir(staging) and os.listdir(staging)

    boom["armed"] = False
    eng.run(src, epoch_size=EPOCH_SIZE)
    assert gold_t.committed_epochs() == bronze.committed_epochs()
    want = sorted(tuple(r) for r in gold.aggregate(bronze.read()).collect())
    assert _rows(gold_t) == want
    assert not os.path.isdir(staging) or not os.listdir(staging)


def test_delta_gold_chained_on_silver(spark, tmpdir_path):
    """Chained delta maintenance (parent=SilverModel): the rollup folds
    the SILVER model's per-epoch output delta and must equal a
    from-scratch aggregation of the silver table's final state."""
    silver_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("text_len", T.IntegerType(), True),
        ]
    )
    gold_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("n_rows", T.LongType(), True),
            T.StructField("sum_len", T.LongType(), True),
            T.StructField("_nn_sum_len", T.LongType(), True),
        ]
    )
    chg = generate_changes(spark, 3000, n_convs=40, turns_per_conv=8, seed=43).localCheckpoint()
    bronze = LakeTable.create(
        spark, os.path.join(tmpdir_path, "bronze"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4
    )
    silver_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "silver"), silver_schema, KEY_COLS, num_buckets=4
    )
    gold_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "gold"), gold_schema, ["conv_id"], num_buckets=4
    )

    def transform(upserts, epoch):
        return upserts.select(
            "conv_id", "turn_idx", F.length("text").cast("int").alias("text_len")
        )

    silver = SilverModel(silver_t, transform, name="lens")
    gold = DeltaAggregateModel(
        gold_t, None, ["conv_id"], {"sum_len": "text_len"},
        count_col="n_rows", name="len_rollup", parent=silver,
    )
    assert gold.bronze is silver_t
    eng = CdcEngine(
        spark, bronze, ManifestStore(os.path.join(tmpdir_path, "ck")),
        num_salts=4, silver_models=[gold, silver],  # topo order fixes this
    )
    eng.run(ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE)
    want = sorted(tuple(r) for r in gold.aggregate(silver_t.read()).collect())
    assert _rows(gold_t) == want and len(want) > 0
    assert gold_t.committed_epochs() == silver_t.committed_epochs() == bronze.committed_epochs()


def test_delta_gold_construction_guards(spark, tmpdir_path):
    import pytest

    from etl_warehouse_agnostic_spark.lake.backends import SqliteBackend

    bronze = LakeTable.create(
        spark, os.path.join(tmpdir_path, "bronze"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=2
    )
    gold_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "gold"), CONV_GOLD_SCHEMA, ["conv_id"], num_buckets=2
    )
    wh = SqliteBackend.create(
        spark, os.path.join(tmpdir_path, "wh.db"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS
    )
    # warehouse source: no pre-epoch snapshot to subtract from
    with pytest.raises(ValueError, match="versioned"):
        DeltaAggregateModel(wh_gold := gold_t, wh, ["conv_id"], {"chars": F.length("text")})
    # gold table keys must equal group_cols
    with pytest.raises(ValueError, match="group_cols"):
        DeltaAggregateModel(gold_t, bronze, ["role"], {"chars": F.length("text")})
    # table schema must carry the maintained columns (incl. _nn_)
    bad_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("n_rows", T.LongType(), True),
            T.StructField("chars", T.LongType(), True),  # _nn_chars missing
        ]
    )
    bad_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "bad"), bad_schema, ["conv_id"], num_buckets=2
    )
    with pytest.raises(ValueError, match="_nn_chars"):
        DeltaAggregateModel(bad_t, bronze, ["conv_id"], {"chars": F.length("text")})
    # sums values must be column names or Columns
    with pytest.raises(ValueError, match="Column"):
        DeltaAggregateModel(gold_t, bronze, ["conv_id"], {"chars": 42})


def test_delta_gold_bootstrap_late_attach(spark, tmpdir_path):
    """Late attach: loud raise by default, and bootstrap() makes it
    current so delta maintenance resumes from the next cycle."""
    import pytest

    chg = generate_changes(spark, 3000, n_convs=40, turns_per_conv=8, seed=44).localCheckpoint()
    half = chg.where(F.col("lsn") <= 2000)
    bronze = LakeTable.create(
        spark, os.path.join(tmpdir_path, "bronze"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4
    )
    ck = ManifestStore(os.path.join(tmpdir_path, "ck"))
    eng0 = CdcEngine(spark, bronze, ck, num_salts=4)
    assert len(eng0.run(ChangeStreamSource(spark, df=half), epoch_size=EPOCH_SIZE)) == 2

    gold_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "gold"), CONV_GOLD_SCHEMA, ["conv_id"], num_buckets=4
    )
    gold = DeltaAggregateModel(gold_t, bronze, ["conv_id"], {"chars": F.length("text")})
    eng = CdcEngine(spark, bronze, ck, num_salts=4, silver_models=[gold])
    with pytest.raises(ValueError, match="bootstrap"):
        eng.run(ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE)

    gold.bootstrap(epoch_id=ck.last_epoch())
    eng.run(ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE)
    want = sorted(tuple(r) for r in gold.aggregate(bronze.read()).collect())
    assert _rows(gold_t) == want
    assert 3 in gold_t.committed_epochs()
