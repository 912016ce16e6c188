"""Table maintenance: snapshot expiry, orphan GC, compaction,
bucket-count evolution — content and exactly-once must survive all of
them."""

import json
import os
import shutil

import pytest
from pyspark.sql import types as T

from etl_warehouse_agnostic_spark.lake.table import LakeTable
from etl_warehouse_agnostic_spark.schemas import KEY_COLS, TRANSCRIPTS_SCHEMA_V1
from etl_warehouse_agnostic_spark.sources.generator import generate_base_transcripts


def _content_hash(df):
    """Order-insensitive content fingerprint of a DataFrame."""
    from pyspark.sql import functions as F

    cols = [F.coalesce(F.col(c).cast("string"), F.lit("∅")) for c in sorted(df.columns)]
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.sum("h").alias("s"), F.count(F.lit(1)).alias("n")
    ).first()
    return (row["s"], row["n"])


def _all_parquet(root):
    out = []
    for r, _, fs in os.walk(root):
        out += [os.path.join(r, f) for f in fs if f.endswith(".parquet")]
    return out


def test_expire_snapshots(spark, tmpdir_path):
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4
    )
    t.overwrite(generate_base_transcripts(spark, n_convs=10, turns_per_conv=4))
    for epoch in (1, 2, 3):
        ups = spark.createDataFrame(
            [("conv_00000001", 0, "user", f"v{epoch}", None)],
            "conv_id string, turn_idx int, role string, text string, ts timestamp",
        )
        t.merge(ups, epoch_id=epoch)
    files_before = len(_all_parquet(t.data_dir))
    res = t.expire_snapshots(keep_last=1)
    assert res["removed_snapshots"] >= 3 and res["removed_files"] >= 1
    assert len(_all_parquet(t.data_dir)) < files_before
    out = t.read()
    assert out.count() == 40
    assert out.where("conv_id='conv_00000001' and turn_idx=0").first().text == "v3"
    # exactly-once survives: committed epochs carried in latest snapshot
    assert t.epoch_committed(2)
    r = t.merge(
        spark.createDataFrame(
            [("conv_00000001", 0, "user", "SHOULD-NOT-APPLY", None)],
            "conv_id string, turn_idx int, role string, text string, ts timestamp",
        ),
        epoch_id=2,
    )
    assert r.skipped


def test_expire_spares_unreferenced_inflight_files(spark, tmpdir_path):
    """A racing writer's pre-commit data files must survive expiry
    (optimistic multi-writer safety); remove_orphan_files reclaims them
    only past the grace window."""
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=2
    )
    t.overwrite(generate_base_transcripts(spark, n_convs=4, turns_per_conv=2))
    t.merge(
        spark.createDataFrame(
            [("conv_00000001", 0, "user", "v1", None)],
            "conv_id string, turn_idx int, role string, text string, ts timestamp",
        ),
        epoch_id=1,
    )
    # simulate an in-flight writer: a data file not yet in any snapshot
    inflight_dir = os.path.join(t.data_dir, "e99999999-deadbeef", "_pb=0")
    os.makedirs(inflight_dir)
    inflight = os.path.join(inflight_dir, "part-inflight.parquet")
    with open(inflight, "wb") as f:
        f.write(b"PAR1fake")
    t.expire_snapshots(keep_last=1)
    assert os.path.exists(inflight), "expiry must not delete never-referenced files"
    # orphan GC: young file survives the grace window, old one does not
    assert t.remove_orphan_files(grace_seconds=3600)["removed_files"] == 0
    assert os.path.exists(inflight)
    os.utime(inflight, (1, 1))  # make it ancient
    assert t.remove_orphan_files(grace_seconds=3600)["removed_files"] == 1
    assert not os.path.exists(inflight)
    assert t.read().count() == 8


def test_rewrite_small_files_preserves_content(spark, tmpdir_path):
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=2
    )
    # fragment the layout: bound rows-per-file so each bucket splits
    t.max_records_per_file = 10
    t.overwrite(generate_base_transcripts(spark, n_convs=20, turns_per_conv=4))
    for epoch in (1, 2, 3):
        t.merge(
            spark.createDataFrame(
                [(f"conv_{epoch:08d}", 0, "user", f"v{epoch}", None)],
                "conv_id string, turn_idx int, role string, text string, ts timestamp",
            ),
            epoch_id=epoch,
        )
    t.max_records_per_file = None
    before = _content_hash(t.read())
    cur = t.snapshot()
    frag = {b: len(ps) for b, ps in cur["files"].items()}
    assert max(frag.values()) >= 2, "fixture should be fragmented"
    res = t.rewrite_small_files(target_file_bytes=1 << 30, min_files=2)
    assert res["buckets_compacted"] >= 1
    assert res["files_after"] < res["files_before"]
    after_snap = t.snapshot()
    assert all(len(ps) == 1 for ps in after_snap["files"].values())
    assert _content_hash(t.read()) == before
    # exactly-once survives compaction
    assert t.epoch_committed(2)
    assert t.merge(
        spark.createDataFrame(
            [("conv_00000002", 0, "user", "NOPE", None)],
            "conv_id string, turn_idx int, role string, text string, ts timestamp",
        ),
        epoch_id=2,
    ).skipped
    # no-op on an already-compacted table
    assert t.rewrite_small_files(target_file_bytes=1 << 30)["buckets_compacted"] == 0


def test_rebucket_evolution(spark, tmpdir_path):
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=2
    )
    t.overwrite(generate_base_transcripts(spark, n_convs=30, turns_per_conv=3))
    t.merge(
        spark.createDataFrame(
            [("conv_00000001", 0, "user", "v1", None)],
            "conv_id string, turn_idx int, role string, text string, ts timestamp",
        ),
        epoch_id=1,
    )
    before = _content_hash(t.read())
    res = t.rebucket(8)
    assert res["num_buckets"] == 8 and t.num_buckets == 8
    assert len(t.snapshot()["files"]) > 2  # actually spread wider
    assert _content_hash(t.read()) == before
    # merges keep working against the new layout, exactly-once intact
    assert t.merge(
        spark.createDataFrame(
            [("conv_00000001", 0, "user", "NOPE", None)],
            "conv_id string, turn_idx int, role string, text string, ts timestamp",
        ),
        epoch_id=1,
    ).skipped
    r2 = t.merge(
        spark.createDataFrame(
            [("conv_00000001", 0, "user", "v2", None)],
            "conv_id string, turn_idx int, role string, text string, ts timestamp",
        ),
        epoch_id=2,
    )
    assert not r2.skipped
    assert t.read().where("conv_id='conv_00000001' and turn_idx=0").first().text == "v2"


def _upsert_conv1(spark):
    return spark.createDataFrame(
        [("conv_00000001", 0, "user", "raced", None), ("conv_00000001", 9, "user", "new", None)],
        "conv_id string, turn_idx int, role string, text string, ts timestamp",
    )


# Every table change, as one call on a table handle.
TABLE_CHANGES = {
    "merge": lambda spark, t: t.merge(_upsert_conv1(spark), epoch_id=5),
    "overwrite": lambda spark, t: t.overwrite(
        generate_base_transcripts(spark, n_convs=6, turns_per_conv=3), epoch_id=6
    ),
    "evolve_schema": lambda spark, t: t.evolve_schema([T.StructField("tool", T.StringType())]),
    "record_epochs": lambda spark, t: t.record_epochs([7, 8]),
    "rewrite_small_files": lambda spark, t: t.rewrite_small_files(
        target_file_bytes=1 << 30, min_files=2
    ),
    "rebucket": lambda spark, t: t.rebucket(4),
}


@pytest.mark.parametrize("change", list(TABLE_CHANGES))
def test_maintenance_commit_conflict_retries_and_cleans_up(spark, tmpdir_path, monkeypatch,
                                                           change):
    """A table change whose snapshot goes stale (a rival writer commits
    the next version after the change read it) must lose the version
    race cleanly: delete the files it wrote, retry against the rival's
    snapshot and commit past it — ending exactly where the serial order
    rival → change ends (an overwrite is the later full replace), with
    the rival's change kept and no data file stranded."""
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=2
    )
    t.max_records_per_file = 10  # fragmented buckets: compaction candidates
    t.overwrite(generate_base_transcripts(spark, n_convs=20, turns_per_conv=4))
    t.max_records_per_file = None

    # The rival: a valid commit at the NEXT version that deletes every
    # row of bucket 0 and stamps epoch 77 (as a racing merge would).
    cur = t.snapshot()
    rival = {**cur, "version": cur["version"] + 1, "parent": cur["version"],
             "files": {b: ps for b, ps in cur["files"].items() if b != "0"},
             "committed_epochs": cur["committed_epochs"] + [77],
             "summary": {"operation": "merge", "epoch_id": 77}}
    rival_name = f"v{rival['version']:08d}.json"

    def plant(meta_dir):
        with open(os.path.join(meta_dir, rival_name), "w") as f:
            json.dump(rival, f)

    # The serial order, on a copy of the table: the rival, then the change.
    serial = LakeTable(spark, os.path.join(tmpdir_path, "serial"))
    shutil.copytree(t.path, serial.path)
    plant(serial.meta_dir)
    TABLE_CHANGES[change](spark, serial)

    # The race: the rival lands right after the change's first read of
    # the current snapshot.
    read_snapshot = t.snapshot

    def stale_read(version=None):
        snap = read_snapshot(version)
        if version is None and not os.path.exists(os.path.join(t.meta_dir, rival_name)):
            plant(t.meta_dir)
        return snap

    monkeypatch.setattr(t, "snapshot", stale_read)
    files_before_attempt = set(_all_parquet(t.data_dir))
    TABLE_CHANGES[change](spark, t)
    monkeypatch.undo()

    assert t.latest_version() == rival["version"] + 1  # retried past rival
    got, want = t.snapshot(), serial.snapshot()
    assert 77 in got["committed_epochs"]
    for field in ("schema", "key_cols", "num_buckets", "committed_epochs"):
        assert got[field] == want[field], field
    assert _content_hash(t.read()) == _content_hash(serial.read())
    # the losing attempt's files were reclaimed: every on-disk file is
    # either pre-existing or referenced by the latest snapshot
    referenced = {os.path.join(t.path, p) for ps in got["files"].values() for p in ps}
    for f in _all_parquet(t.data_dir):
        assert f in referenced or f in files_before_attempt, f"stranded {f}"


def test_concurrent_merges_retry_and_both_land(spark, tmpdir_path):
    """Optimistic commit-retry: two writers racing for the same version
    on DIFFERENT keys must both land (the loser retries against the
    winner's snapshot, Iceberg-style); no files leak from lost attempts."""
    import threading

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4
    )
    t.overwrite(generate_base_transcripts(spark, n_convs=8, turns_per_conv=2))
    v0 = t.latest_version()

    def writer(tag, epoch):
        ups = spark.createDataFrame(
            [(f"conv_0000000{tag}", 0, "user", f"from-writer-{tag}", None)],
            "conv_id string, turn_idx int, role string, text string, ts timestamp",
        )
        # separate handle per thread (same table path) like two processes
        h = LakeTable.load(spark, t.path)
        h.merge(ups, epoch_id=epoch)

    threads = [
        threading.Thread(target=writer, args=(1, 101)),
        threading.Thread(target=writer, args=(2, 102)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    assert t.latest_version() == v0 + 2  # both committed, serialized
    rows = {r.conv_id: r.text for r in t.read().where("turn_idx = 0").collect()}
    assert rows["conv_00000001"] == "from-writer-1"
    assert rows["conv_00000002"] == "from-writer-2"
    assert sorted(set(t.committed_epochs()) & {101, 102}) == [101, 102]
    # every referenced file exists; no orphans young enough to matter
    snap = t.snapshot()
    for paths in snap["files"].values():
        for p in paths:
            assert os.path.exists(os.path.join(t.path, p))


def test_tail_loop_auto_compaction_bounds_file_count(spark, tmpdir_path):
    """VERDICT r4 #4: with the maintenance hook armed, a long tail run
    (10 epochs, tiny max_records_per_file to force fragmentation) must
    keep the physical file count bounded WITHOUT changing table content
    or the committed-epoch ledger — versus an identical run with the
    hook disabled."""
    from etl_warehouse_agnostic_spark.engine import CdcEngine
    from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
    from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource
    from etl_warehouse_agnostic_spark.sources.generator import generate_changes

    chg = generate_changes(spark, 5000, n_convs=300, turns_per_conv=16, seed=41).localCheckpoint()

    def run(name, maintenance_every):
        t = LakeTable.create(
            spark, os.path.join(tmpdir_path, name), TRANSCRIPTS_SCHEMA_V1,
            KEY_COLS, num_buckets=4,
        )
        t.max_records_per_file = 64  # force many tiny files per epoch
        eng = CdcEngine(
            spark, t, ManifestStore(os.path.join(tmpdir_path, f"ck-{name}")),
            maintenance_every=maintenance_every,
        )
        res = eng.run(ChangeStreamSource(spark, df=chg), epoch_size=500)
        assert len(res) == 10
        return t, eng

    plain_t, _ = run("plain", None)
    maint_t, maint_eng = run("maint", 5)

    # the hook actually fired and compacted something
    assert maint_eng.maintenance_log, "maintenance hook never fired"
    assert any(r["buckets_compacted"] > 0 for r in maint_eng.maintenance_log)

    def live_files(t):
        return sum(len(v) for v in t.snapshot()["files"].values())

    # bounded: strictly fewer live files than the unmaintained twin
    assert live_files(maint_t) < live_files(plain_t)

    # content and exactly-once ledger untouched by compaction
    assert _content_hash(maint_t.read()) == _content_hash(plain_t.read())
    assert maint_t.committed_epochs() == plain_t.committed_epochs()


def test_tail_loop_auto_compaction_covers_model_tables(spark, tmpdir_path):
    """VERDICT r5 #4: the maintenance hook must compact every attached
    model's lake table with the same rule — silver merges per epoch and
    fragments exactly like bronze. Content on BOTH tables must be
    identical to an unmaintained twin run."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from etl_warehouse_agnostic_spark.engine import CdcEngine
    from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
    from etl_warehouse_agnostic_spark.silver import SilverModel
    from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource
    from etl_warehouse_agnostic_spark.sources.generator import generate_changes

    chg = generate_changes(spark, 5000, n_convs=300, turns_per_conv=16, seed=42).localCheckpoint()
    silver_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("text_len", T.IntegerType(), True),
        ]
    )

    def transform(upserts, epoch):
        return upserts.select(
            "conv_id", "turn_idx", F.length("text").cast("int").alias("text_len")
        )

    def run(name, maintenance_every):
        t = LakeTable.create(
            spark, os.path.join(tmpdir_path, name), TRANSCRIPTS_SCHEMA_V1,
            KEY_COLS, num_buckets=4,
        )
        s = LakeTable.create(
            spark, os.path.join(tmpdir_path, name + "-silver"), silver_schema,
            KEY_COLS, num_buckets=4,
        )
        t.max_records_per_file = 64
        s.max_records_per_file = 64
        eng = CdcEngine(
            spark, t, ManifestStore(os.path.join(tmpdir_path, f"ck-{name}")),
            maintenance_every=maintenance_every,
            silver_models=[SilverModel(s, transform, name="turns_silver")],
        )
        assert len(eng.run(ChangeStreamSource(spark, df=chg), epoch_size=500)) == 10
        return t, s, eng

    plain_t, plain_s, _ = run("plain2", None)
    maint_t, maint_s, eng = run("maint2", 5)

    silver_entries = [r for r in eng.maintenance_log if r["table"] == "turns_silver"]
    assert silver_entries and any(r["buckets_compacted"] > 0 for r in silver_entries)

    def live_files(t):
        return sum(len(v) for v in t.snapshot()["files"].values())

    assert live_files(maint_t) < live_files(plain_t)
    assert live_files(maint_s) < live_files(plain_s)
    assert _content_hash(maint_t.read()) == _content_hash(plain_t.read())
    assert _content_hash(maint_s.read()) == _content_hash(plain_s.read())
    assert maint_s.committed_epochs() == plain_s.committed_epochs()


def test_warehouse_path_auto_compaction_covers_lake_model_tables(spark, tmpdir_path):
    """The maintenance hook compacts every lake table the engine writes,
    whatever the sink: a DuckDB bronze with a lake-table silver model
    still gets its silver compacted, with content identical to an
    unmaintained twin run."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from etl_warehouse_agnostic_spark.engine import CdcEngine
    from etl_warehouse_agnostic_spark.lake.backends import DuckBackend
    from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
    from etl_warehouse_agnostic_spark.silver import SilverModel
    from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource
    from etl_warehouse_agnostic_spark.sources.generator import generate_changes

    chg = generate_changes(spark, 5000, n_convs=300, turns_per_conv=16, seed=43).localCheckpoint()
    silver_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("text_len", T.IntegerType(), True),
        ]
    )

    def transform(upserts, epoch):
        return upserts.select(
            "conv_id", "turn_idx", F.length("text").cast("int").alias("text_len")
        )

    def run(name, maintenance_every):
        duck = DuckBackend.create(
            spark, os.path.join(tmpdir_path, name + ".duckdb"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS
        )
        s = LakeTable.create(
            spark, os.path.join(tmpdir_path, name + "-silver"), silver_schema,
            KEY_COLS, num_buckets=4,
        )
        s.max_records_per_file = 64
        eng = CdcEngine(
            spark, None, ManifestStore(os.path.join(tmpdir_path, f"ck-{name}")),
            maintenance_every=maintenance_every,
            silver_models=[SilverModel(s, transform, name="turns_silver")],
        )
        res = eng.run(ChangeStreamSource(spark, df=chg), epoch_size=500, sink=duck)
        assert len(res) == 10
        duck.close()
        return s, eng

    plain_s, _ = run("plain", None)
    maint_s, eng = run("maint", 5)

    silver_entries = [r for r in eng.maintenance_log if r["table"] == "turns_silver"]
    assert silver_entries and any(r["buckets_compacted"] > 0 for r in silver_entries)
    assert all(r["table"] != "bronze" for r in eng.maintenance_log)  # DuckDB compacts itself

    def live_files(t):
        return sum(len(v) for v in t.snapshot()["files"].values())

    assert live_files(maint_s) < live_files(plain_s)
    assert _content_hash(maint_s.read()) == _content_hash(plain_s.read())
    assert maint_s.committed_epochs() == plain_s.committed_epochs()
