"""LakeTable: atomic snapshots, CoW merge, schema evolution, time travel."""

import os

import pytest
from pyspark.sql import functions as F

from etl_warehouse_agnostic_spark.lake.table import (
    CommitConflict,
    LakeTable,
    _atomic_write_json,
    footer_census,
)
from etl_warehouse_agnostic_spark.schemas import KEY_COLS, TRANSCRIPTS_SCHEMA_V1
from etl_warehouse_agnostic_spark.sources.generator import generate_base_transcripts


@pytest.fixture()
def table(spark, tmpdir_path):
    return LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=8
    )


def test_create_and_empty_read(spark, table):
    assert table.read().count() == 0
    assert table.latest_version() == 1


def test_overwrite_and_read(spark, table):
    base = generate_base_transcripts(spark, n_convs=20, turns_per_conv=5)
    res = table.overwrite(base)
    assert res.rows_written == 100
    assert table.read().count() == 100
    assert res.bytes_written > 0


def test_merge_upsert_insert_update_delete(spark, table):
    base = generate_base_transcripts(spark, n_convs=10, turns_per_conv=4)
    table.overwrite(base)
    ups = spark.createDataFrame(
        [
            ("conv_00000001", 0, "user", "UPDATED", None),  # update
            ("conv_00000099", 0, "user", "NEW", None),  # insert
        ],
        "conv_id string, turn_idx int, role string, text string, ts timestamp",
    )
    dels = spark.createDataFrame([("conv_00000002", 1)], "conv_id string, turn_idx int")
    res = table.merge(ups, dels, epoch_id=1)
    assert not res.skipped
    out = table.read()
    assert out.count() == 40  # 40 − 1 delete + 1 insert (1 update in place)
    assert out.where("conv_id='conv_00000001' and turn_idx=0").first().text == "UPDATED"
    assert out.where("conv_id='conv_00000002' and turn_idx=1").count() == 0
    assert out.where("conv_id='conv_00000099'").count() == 1


def test_merge_epoch_idempotent(spark, table):
    ups = spark.createDataFrame(
        [("c1", 0, "user", "v1", None)],
        "conv_id string, turn_idx int, role string, text string, ts timestamp",
    )
    r1 = table.merge(ups, epoch_id=7)
    assert not r1.skipped
    ups2 = spark.createDataFrame(
        [("c1", 0, "user", "SHOULD-NOT-APPLY", None)],
        "conv_id string, turn_idx int, role string, text string, ts timestamp",
    )
    r2 = table.merge(ups2, epoch_id=7)  # same epoch replayed
    assert r2.skipped
    assert table.read().first().text == "v1"


def test_partial_rewrite_only_affected_buckets(spark, table):
    base = generate_base_transcripts(spark, n_convs=40, turns_per_conv=5)
    table.overwrite(base)
    before = table.snapshot()["files"]
    ups = spark.createDataFrame(
        [("conv_00000003", 1, "user", "x", None)],
        "conv_id string, turn_idx int, role string, text string, ts timestamp",
    )
    res = table.merge(ups, epoch_id=1)
    assert res.buckets_rewritten == 1
    after = table.snapshot()["files"]
    unchanged = [b for b in before if after.get(b) == before[b]]
    assert len(unchanged) >= len(before) - 1  # all other buckets carried over


def test_schema_evolution_read_old_files(spark, table):
    base = generate_base_transcripts(spark, n_convs=5, turns_per_conv=2)
    table.overwrite(base)
    from pyspark.sql import types as T

    table.evolve_schema([T.StructField("tool", T.StringType(), True)])
    out = table.read()
    assert "tool" in out.columns
    assert out.where(F.col("tool").isNotNull()).count() == 0  # old files → NULL
    ups = spark.createDataFrame(
        [("conv_00000000", 0, "tool", "x", "search", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    table.merge(ups, epoch_id=2)
    assert table.read().where("tool = 'search'").count() == 1


def test_time_travel(spark, table):
    base = generate_base_transcripts(spark, n_convs=5, turns_per_conv=2)
    table.overwrite(base)
    v = table.latest_version()
    ups = spark.createDataFrame(
        [("conv_00000000", 0, "user", "changed", None)],
        "conv_id string, turn_idx int, role string, text string, ts timestamp",
    )
    table.merge(ups, epoch_id=1)
    old = table.read(version=v).where("conv_id='conv_00000000' and turn_idx=0").first()
    new = table.read().where("conv_id='conv_00000000' and turn_idx=0").first()
    assert old.text.startswith("base-") and new.text == "changed"


def test_atomic_commit_conflict(tmpdir_path):
    p = os.path.join(tmpdir_path, "v1.json")
    _atomic_write_json({"a": 1}, p)
    with pytest.raises(CommitConflict):
        _atomic_write_json({"a": 2}, p)


def test_time_partition_pruning(spark, tmpdir_path):
    """bucket(N, conv_id) × days(ts): a 1-day read must open ONLY that
    day's files, and merges must keep the layout day-aligned."""
    import datetime

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS,
        num_buckets=4, partition_spec={"col": "ts", "transform": "day"},
    )
    d = datetime.datetime
    rows = [
        (f"conv_{i:08d}", k, "user", f"t{i}.{k}", d(2024, 1, 1 + (i % 3), 12, 0))
        for i in range(12) for k in range(3)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, ts timestamp"
    )
    t.overwrite(df)

    # every referenced file path carries its day; a 1-day read opens
    # only that day's files
    snap = t.snapshot()
    all_paths = [p for ps in snap["files"].values() for p in ps]
    assert all("_pd=" in p for p in all_paths)
    one_day = t.read(day_range=("2024-01-02", "2024-01-02"))
    opened = one_day.inputFiles()
    assert opened and all("_pd=2024-01-02" in f for f in opened)
    assert one_day.count() == sum(1 for r in rows if r[4].day == 2)
    # inclusive range spanning two days
    two_days = t.read(day_range=("2024-01-01", "2024-01-02"))
    assert two_days.count() == sum(1 for r in rows if r[4].day in (1, 2))

    # a merge rewrites affected buckets but keeps day alignment
    ups = spark.createDataFrame(
        [("conv_00000000", 0, "user", "UPDATED", d(2024, 1, 5, 9, 0))],
        "conv_id string, turn_idx int, role string, text string, ts timestamp",
    )
    t.merge(ups, epoch_id=1)
    snap2 = t.snapshot()
    assert all("_pd=" in p for ps in snap2["files"].values() for p in ps)
    day5 = t.read(day_range=("2024-01-05", "2024-01-05"))
    assert [r.text for r in day5.collect()] == ["UPDATED"]
    assert all("_pd=2024-01-05" in f for f in day5.inputFiles())
    # full read still complete
    assert t.read().count() == len(rows)


def test_time_partition_day_range_equals_filter_property(spark, tmpdir_path):
    """For arbitrary inclusive day windows, a pruned day_range read must
    return exactly the rows a plain date filter selects on a full scan
    (metadata pruning may never change results, only file counts)."""
    import datetime

    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS,
        num_buckets=4, partition_spec={"col": "ts", "transform": "day"},
    )
    d = datetime.datetime
    rows = [
        (f"conv_{i:08d}", k, "user", f"t{i}.{k}", d(2024, 1, 1 + ((i * 7 + k) % 9), (i + k) % 24))
        for i in range(40) for k in range(2)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, ts timestamp"
    )
    t.overwrite(df)
    full = t.read()
    for lo_d, hi_d in [(1, 1), (2, 5), (1, 9), (4, 4), (8, 9), (3, 7)]:
        lo, hi = f"2024-01-{lo_d:02d}", f"2024-01-{hi_d:02d}"
        pruned = sorted(
            (r.conv_id, r.turn_idx) for r in t.read(day_range=(lo, hi)).collect()
        )
        filtered = sorted(
            (r.conv_id, r.turn_idx)
            for r in full.where(
                (F.to_date("ts") >= lo) & (F.to_date("ts") <= hi)
            ).collect()
        )
        assert pruned == filtered, (lo, hi)


def test_day_range_validation_rejects_misuse(spark, tmpdir_path):
    """Round-3 ADVICE: day_range on an unpartitioned table (silent full
    scan) or with bounds in the wrong granule format (silent lexical
    mis-prune on a months(ts) table) must raise, not best-effort."""
    import pytest

    from etl_warehouse_agnostic_spark.schemas import KEY_COLS, TRANSCRIPTS_SCHEMA_V1

    plain = LakeTable.create(
        spark, os.path.join(tmpdir_path, "plain"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=2
    )
    with pytest.raises(ValueError, match="partition_spec"):
        plain.read(day_range=("2024-01-01", "2024-01-02"))

    monthly = LakeTable.create(
        spark, os.path.join(tmpdir_path, "monthly"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS,
        num_buckets=2, partition_spec={"col": "ts", "transform": "month"},
    )
    with pytest.raises(ValueError, match="granule format"):
        monthly.read(day_range=("2024-01-01", "2024-01-02"))
    monthly.read(day_range=("2024-01", "2024-02"))  # correct granule: fine

    daily = LakeTable.create(
        spark, os.path.join(tmpdir_path, "daily"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS,
        num_buckets=2, partition_spec={"col": "ts", "transform": "day"},
    )
    with pytest.raises(ValueError, match="granule format"):
        daily.read(day_range=("2024-01", "2024-02"))


def test_footer_census_counts_rows_and_takes_a_strict_max(tmpdir_path):
    """Rows from every footer; the max over row groups, past an all-null
    group, and None (scan instead) once a file with rows lacks the
    column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(name, table, **kw):
        path = os.path.join(tmpdir_path, name)
        pq.write_table(table, path, **kw)
        return path

    groups = write("groups.parquet", pa.table({"lsn": pa.array([3, 9, 4, 7, 1], pa.int64())}),
                   row_group_size=2)
    nulls = write("nulls.parquet", pa.table({"lsn": pa.array([None, None], pa.int64())}))
    other = write("other.parquet", pa.table({"id": pa.array([1, 2, 3], pa.int64())}))
    assert pq.ParquetFile(groups).metadata.num_row_groups == 3

    assert footer_census([groups], "lsn") == (5, 9)
    assert footer_census([groups, nulls], "lsn") == (7, 9)
    assert footer_census([nulls], "lsn") == (2, None)
    assert footer_census([groups, other], "lsn") == (8, None)
    assert footer_census([groups, other]) == (8, None)
    assert footer_census([], "lsn") == (0, None)
