"""Round-7 correctness fixes (ADVICE r6).

1. Auto-bootstrap must stamp RETAINED staged finalized epochs into the
   bootstrapped model's ledger — otherwise ``_recover_silver`` replays
   them on top of a bootstrap that already contains their content
   (permanent double-count for a DeltaAggregateModel).
2. ``SilverModel.epoch_delta`` must not leak the source's ``_bucket``
   layout column into a chained model's input (wrong modulus would
   silently mis-prune the child's snapshot reads; delete rows carry no
   bucket at all).
3. The maintenance cadence counts applied epochs over the engine's
   life: it must not fire without a newly applied epoch, and must keep
   counting across ``run`` calls.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_warehouse_agnostic_spark.engine import CdcEngine
from etl_warehouse_agnostic_spark.lake.backends import make_warehouse
from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
from etl_warehouse_agnostic_spark.lake.table import LakeTable
from etl_warehouse_agnostic_spark.schemas import KEY_COLS, TRANSCRIPTS_SCHEMA_V1
from etl_warehouse_agnostic_spark.silver import DeltaAggregateModel, SilverModel, _delta_buckets
from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource
from etl_warehouse_agnostic_spark.sources.generator import generate_changes

EPOCH_SIZE = 1000

SILVER_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("text_len", T.IntegerType(), True),
    ]
)

GOLD_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), True),
        T.StructField("chars", T.LongType(), True),
        T.StructField("_nn_chars", T.LongType(), True),
    ]
)


def _rows(t):
    return sorted(tuple(r) for r in t.read().collect())


def _bronze_with_retained_e2_e3(spark, tmpdir_path, monkeypatch, models=()):
    """Bronze after three epochs: epoch 1 applied with ``models``
    attached, then epochs 2-3 run detached from them with staging-dir
    cleanup suppressed — the crash-window state where finalized epochs
    retain their staged deltas while a model is behind."""
    import etl_warehouse_agnostic_spark.engine as engine_mod

    chg = generate_changes(spark, 3000, n_convs=40, turns_per_conv=8, seed=45).localCheckpoint()
    bronze = LakeTable.create(
        spark, os.path.join(tmpdir_path, "bronze"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4
    )
    ck = ManifestStore(os.path.join(tmpdir_path, "ck"))
    CdcEngine(spark, bronze, ck, silver_models=list(models)).run(
        ChangeStreamSource(spark, df=chg.where(F.col("lsn") <= 1000)), epoch_size=EPOCH_SIZE
    )
    with monkeypatch.context() as mp:
        mp.setattr(engine_mod.shutil, "rmtree", lambda *a, **kw: None)
        CdcEngine(spark, bronze, ck).run(
            ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE
        )
    staging_root = os.path.join(ck.path, "_staging")
    assert sorted(os.listdir(staging_root)) == ["e00000002", "e00000003"]
    return bronze, ck, staging_root


def test_bootstrap_stamps_retained_staged_epochs(spark, tmpdir_path, monkeypatch):
    """A model attached with bootstrap_if_behind=True while retained
    staged finalized epochs exist must not replay a staged epoch
    EARLIER than its bootstrap stamp on top of the bootstrap (the
    bootstrap's overwrite stamps only the LAST finalized epoch id —
    epoch 3 here — so without the fix the retained e2 delta
    double-applies into the delta-maintained gold)."""
    silver_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "silver"), SILVER_SCHEMA, KEY_COLS, num_buckets=4
    )
    silver = SilverModel(
        silver_t,
        lambda ups, e: ups.select(
            "conv_id", "turn_idx", F.length("text").cast("int").alias("text_len")
        ),
        name="lens",
    )
    # the silver model applies epoch 1, then falls behind on 2-3
    bronze, ck, staging_root = _bronze_with_retained_e2_e3(
        spark, tmpdir_path, monkeypatch, models=[silver]
    )

    # Attach a NEW delta-maintained gold with auto-bootstrap. Its
    # bootstrap is stamped with the last finalized epoch (3); the
    # retained staged epochs {2, 3} must ALSO be stamped, or
    # _recover_silver replays e2 on top of a bootstrap that already
    # contains it.
    gold_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "gold"), GOLD_SCHEMA, ["conv_id"], num_buckets=4
    )
    gold = DeltaAggregateModel(gold_t, bronze, ["conv_id"], {"chars": F.length("text")})
    eng3 = CdcEngine(
        spark, bronze, ck, silver_models=[silver, gold],
        bootstrap_if_behind=True,
    )
    eng3.recover()

    assert [e["model"] for e in eng3.bootstrap_log] == [gold.name]
    assert eng3.bootstrap_log[0]["stamped_staged"] == [2, 3]
    want = sorted(tuple(r) for r in gold.aggregate(bronze.read()).collect())
    assert _rows(gold_t) == want and len(want) > 0
    # the behind silver model caught up exactly-once from the replays
    want_silver = sorted(
        tuple(r)
        for r in silver.transform(bronze.read().withColumn("op", F.lit("I")), 0).collect()
    )
    assert _rows(silver_t) == want_silver
    # staged dirs swept once every model has the epochs
    assert os.listdir(staging_root) == []


def test_bootstrap_stamps_retained_staged_epochs_of_a_chain(spark, tmpdir_path, monkeypatch):
    """The same with a late CHAIN: a silver model and a gold chained off
    it are both bootstrapped while e2-e3 are retained for the behind
    ``lens`` model. The late silver table holds e2 as a bootstrap stamp,
    with no commit of its own, so nothing before e2 can be pinned
    there; the replay of e2 for ``lens`` must not ask, because the
    chained gold has e2 and skips it."""
    lens = SilverModel(
        LakeTable.create(
            spark, os.path.join(tmpdir_path, "silver"), SILVER_SCHEMA, KEY_COLS, num_buckets=4
        ),
        lambda ups, e: ups.select(
            "conv_id", "turn_idx", F.length("text").cast("int").alias("text_len")
        ),
        name="lens",
    )
    bronze, ck, staging_root = _bronze_with_retained_e2_e3(
        spark, tmpdir_path, monkeypatch, models=[lens]
    )
    late = SilverModel(
        LakeTable.create(
            spark, os.path.join(tmpdir_path, "late"), SILVER_SCHEMA, KEY_COLS, num_buckets=4
        ),
        lens.transform,
        name="late",
    )
    gold_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "gold"), GOLD_SCHEMA, ["conv_id"], num_buckets=4
    )
    gold = DeltaAggregateModel(
        gold_t, None, ["conv_id"], {"chars": F.col("text_len")}, parent=late, name="late_gold"
    )
    eng = CdcEngine(
        spark, bronze, ck, silver_models=[lens, late, gold], bootstrap_if_behind=True
    )
    eng.recover()

    assert [e["model"] for e in eng.bootstrap_log] == ["late", "late_gold"]
    assert all(e["stamped_staged"] == [2, 3] for e in eng.bootstrap_log)
    want_silver = sorted(
        tuple(r) for r in lens.transform(bronze.read().withColumn("op", F.lit("I")), 0).collect()
    )
    assert _rows(lens.table) == want_silver and _rows(late.table) == want_silver
    want = sorted(tuple(r) for r in gold.aggregate(late.table.read()).collect())
    assert _rows(gold_t) == want and len(want) > 0
    assert os.listdir(staging_root) == []


@pytest.mark.parametrize("model_sink", ["lake", "duckdb"])
def test_bootstrap_stamps_retained_staged_epochs_on_every_model_table(
    spark, tmpdir_path, monkeypatch, model_sink
):
    """The bootstrap stamp reaches every model table, SQL warehouses
    included: a late model bootstrapped at epoch 3 while e2 and e3 are
    retained must not have e2 replayed on top of its bootstrap (which
    would regress its rows to e2's ``_ingest_epoch``)."""
    bronze, ck, staging_root = _bronze_with_retained_e2_e3(spark, tmpdir_path, monkeypatch)
    schema = T.StructType(list(SILVER_SCHEMA.fields) + [T.StructField("_ingest_epoch", T.LongType())])
    late_t = make_warehouse(
        spark, {"type": model_sink, "path": os.path.join(tmpdir_path, f"late.{model_sink}")},
        schema, KEY_COLS,
    )
    late = SilverModel(
        late_t,
        lambda ups, e: ups.select(
            "conv_id", "turn_idx", F.length("text").cast("int").alias("text_len"),
            F.lit(e).cast("long").alias("_ingest_epoch"),
        ),
        name="late",
    )
    eng = CdcEngine(spark, bronze, ck, silver_models=[late],
                    bootstrap_if_behind=True)
    eng.recover()

    assert eng.bootstrap_log[0]["stamped_staged"] == [2, 3]
    assert sorted(late_t.committed_epochs()) == [2, 3]
    want = sorted(tuple(r) for r in late.transform(bronze.read(), 3).collect())
    assert _rows(late_t) == want and len(want) > 0
    assert os.listdir(staging_root) == []


def test_epoch_delta_drops_source_bucket_metadata(spark, tmpdir_path):
    """A pass-through transform that leaks '_bucket' must not hand the
    SOURCE table's layout column to a chained model."""
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), SILVER_SCHEMA, KEY_COLS, num_buckets=2
    )
    model = SilverModel(
        t,
        lambda ups, e: ups.select(
            "conv_id", "turn_idx", F.length("text").cast("int").alias("text_len"), "_bucket"
        ),
        name="leaky",
    )
    staged = spark.createDataFrame(
        [("A", 0, "user", "hello", "U", 1, 7), ("B", 1, None, None, "D", 2, 3)],
        "conv_id string, turn_idx int, role string, text string, op string, lsn long, _bucket int",
    )
    delta = model.epoch_delta(staged, 7)
    assert "_bucket" not in delta.columns
    # and a chained consumer's bucket census recomputes from ITS spec
    # without choking on key-only delete rows
    gold_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "g"), GOLD_SCHEMA, ["conv_id"], num_buckets=4
    )
    gold = DeltaAggregateModel(
        gold_t, None, ["conv_id"], {"chars": F.lit(1)}, parent=model, name="rollup"
    )
    buckets = _delta_buckets(delta, gold.bronze.snapshot())
    assert buckets == sorted(set(buckets)) and all(0 <= b < 2 for b in buckets)


@pytest.mark.parametrize("model_buckets", [2, 3])
def test_concurrent_model_chains_match_sequential_truth(
    spark, tmpdir_path, monkeypatch, model_buckets
):
    """_apply_silver runs every model concurrently (a chained
    silver→gold chain plus a bronze-fed delta rollup), each reading its
    source pinned at the pre-epoch version, so the order the models
    finish in stops mattering — every table must equal its
    from-scratch rebuild, and per-model walls must be reported for
    every model. Model tables at 2 buckets coarsen the 4-bucket
    bronze, so the bronze epoch census names their buckets; at 3 it
    does not, and every census lookup falls back to a collect."""
    import etl_warehouse_agnostic_spark.silver as silver_mod

    fallbacks = []

    def counted(staged, snap):
        fallbacks.append(snap["num_buckets"])
        return _delta_buckets(staged, snap)

    monkeypatch.setattr(silver_mod, "_delta_buckets", counted)
    chg = generate_changes(spark, 4000, n_convs=50, turns_per_conv=8, seed=48).localCheckpoint()
    bronze = LakeTable.create(
        spark, os.path.join(tmpdir_path, "bronze"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4
    )
    silver_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "silver"), SILVER_SCHEMA, KEY_COLS,
        num_buckets=model_buckets,
    )
    gold_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "gold"), GOLD_SCHEMA, ["conv_id"],
        num_buckets=model_buckets,
    )
    roll_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "roll"), GOLD_SCHEMA, ["conv_id"],
        num_buckets=model_buckets,
    )
    silver = SilverModel(
        silver_t,
        lambda ups, e: ups.select(
            "conv_id", "turn_idx", F.length("text").cast("int").alias("text_len")
        ),
        name="lens",
    )
    # chain 1: silver -> chained gold; chain 2: bronze-fed delta rollup
    gold = DeltaAggregateModel(
        gold_t, None, ["conv_id"], {"chars": F.lit(1)}, parent=silver, name="gold"
    )
    roll = DeltaAggregateModel(roll_t, bronze, ["conv_id"], {"chars": F.length("text")}, name="roll")
    eng = CdcEngine(
        spark, bronze, ManifestStore(os.path.join(tmpdir_path, "ck")),
        silver_models=[silver, gold, roll],
    )
    results = eng.run(ChangeStreamSource(spark, df=chg), epoch_size=EPOCH_SIZE)
    assert all(set(r.model_wall_ms) == {"lens", "gold", "roll"} for r in results if not r.skipped)
    # only the chained gold's read of the 3-bucket silver table falls back
    assert fallbacks == ([] if model_buckets == 2 else [3] * len(results))
    # every table equals its from-scratch truth
    assert _rows(roll_t) == sorted(tuple(r) for r in roll.aggregate(bronze.read()).collect())
    want_gold = sorted(
        tuple(r)
        for r in gold.aggregate(
            silver.transform(bronze.read().withColumn("op", F.lit("I")), 0)
        ).collect()
    )
    assert _rows(gold_t) == want_gold and len(want_gold) > 0


def test_max_lsn_footer_stats_match_scan(spark, tmpdir_path):
    """Path-backed ``max_lsn`` answers from parquet footer statistics
    (metadata-only, no Spark job) and must equal the scan aggregation
    exactly; df-backed sources and stat-less inputs fall back to the
    scan."""
    p = os.path.join(tmpdir_path, "chg.parquet")
    chg = generate_changes(spark, 5000, n_convs=30, turns_per_conv=8, seed=47)
    chg.write.mode("overwrite").parquet(p)

    src = ChangeStreamSource(spark, path=p)
    scan_max = int(src.frame().agg(F.max("lsn")).first()[0])
    assert src._max_lsn_from_footers() == scan_max
    assert src.max_lsn() == scan_max

    # df-backed: no path → scan fallback (and it honours the filter)
    src_df = ChangeStreamSource(spark, df=src.frame().where(F.col("lsn") <= 123))
    assert src_df.max_lsn() == 123

    # missing cursor column in the footers → None → scan fallback
    assert ChangeStreamSource(spark, path=p, lsn_col="nope")._max_lsn_from_footers() is None

    # all-null cursor → footer stats carry no max → scan fallback (0)
    np = os.path.join(tmpdir_path, "nulls.parquet")
    spark.range(10).select(
        F.lit(None).cast("long").alias("lsn"), "id"
    ).write.mode("overwrite").parquet(np)
    src_null = ChangeStreamSource(spark, path=np)
    assert src_null._max_lsn_from_footers() is None
    assert src_null.max_lsn() == 0


def test_maintenance_does_not_refire_without_new_epochs(spark, tmpdir_path):
    chg = generate_changes(spark, 2000, n_convs=20, turns_per_conv=8, seed=46).localCheckpoint()
    bronze = LakeTable.create(
        spark, os.path.join(tmpdir_path, "bronze"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4
    )
    eng = CdcEngine(
        spark, bronze, ManifestStore(os.path.join(tmpdir_path, "ck")), maintenance_every=2,
    )
    src = ChangeStreamSource(spark, df=chg)
    assert len(eng.run(src, epoch_size=EPOCH_SIZE)) == 2
    assert [r["table"] for r in eng.maintenance_log] == ["bronze"]
    # a rerun over the drained source applies no epoch, so the count
    # stays at the multiple it fired on and nothing fires again
    assert eng.run(src, epoch_size=EPOCH_SIZE) == []
    assert len(eng.maintenance_log) == 1


def test_maintenance_cadence_counts_across_run_calls(spark, tmpdir_path):
    """A scheduled deployment drives one engine with one short ``run``
    per cycle: the cadence counts applied epochs across the calls, so
    four single-epoch calls at ``maintenance_every=2`` compact twice."""
    chg = generate_changes(spark, 4 * EPOCH_SIZE, n_convs=20, turns_per_conv=8,
                           seed=47).localCheckpoint()
    bronze = LakeTable.create(
        spark, os.path.join(tmpdir_path, "bronze"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4
    )
    eng = CdcEngine(
        spark, bronze, ManifestStore(os.path.join(tmpdir_path, "ck")), maintenance_every=2,
    )
    src = ChangeStreamSource(spark, df=chg)
    for _ in range(4):
        assert len(eng.run(src, epoch_size=EPOCH_SIZE, max_epochs=1)) == 1
    assert [(r["table"], r["after_epoch"]) for r in eng.maintenance_log] == [
        ("bronze", 2), ("bronze", 4)
    ]
