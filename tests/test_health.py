"""pipeline_health: the monitor_warehouse_health analog — metrics are
faithful to the engine run, and each invariant flag actually flips on
the failure it watches for."""

import os
import time

import pytest

from etl_warehouse_agnostic_spark.engine import CdcEngine
from etl_warehouse_agnostic_spark.lake.backends import DuckBackend
from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
from etl_warehouse_agnostic_spark.lake.table import LakeTable
from etl_warehouse_agnostic_spark.operators.health import pipeline_health
from etl_warehouse_agnostic_spark.schemas import KEY_COLS, TRANSCRIPTS_SCHEMA_V1
from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource
from etl_warehouse_agnostic_spark.sources.generator import generate_changes


def _manifest(epoch, lo, hi, rows_read=10, n_up=6, n_del=2,
              committed="2025-06-01T00:00:00Z"):
    return {
        "epoch": epoch,
        "offsets": {"0": {"max_lsn": hi, "rows": rows_read}},
        "metrics": {"rows_read": rows_read, "rows_upserted": n_up,
                    "rows_deleted": n_del, "bytes_written": 1, "wall_ms": 1},
        "lineage": {"source": "s", "lsn_range": [lo, hi]},
        "committed_at": committed,
    }


@pytest.mark.parametrize("sink", ["lake", "duckdb"])
def test_health_frame_matches_engine_run(spark, tmpdir_path, sink):
    """Both sinks finalize the same manifest shape, so the health frame
    agrees with the engine's results on either path."""
    chg = generate_changes(spark, 2000, n_convs=20, turns_per_conv=6, seed=3).localCheckpoint()
    ck = ManifestStore(os.path.join(tmpdir_path, "ck"))
    src = ChangeStreamSource(spark, df=chg)
    if sink == "lake":
        table = LakeTable.create(
            spark, os.path.join(tmpdir_path, "t"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4
        )
        results = CdcEngine(spark, table, ck, num_salts=4).run(src, epoch_size=800)
    else:
        duck = DuckBackend.create(
            spark, os.path.join(tmpdir_path, "wh.duckdb"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS
        )
        results = CdcEngine(spark, None, ck, num_salts=4).run_warehouse(duck, src, epoch_size=800)

    rows = {r.epoch: r for r in pipeline_health(spark, ck).collect()}
    assert len(rows) == len(results)
    for res in results:
        h = rows[res.epoch]
        assert h.rows_read == res.rows_read
        assert h.rows_upserted == res.rows_upserted
        assert h.rows_deleted == res.rows_deleted
        assert h.watermark_monotone and h.counts_consistent and h.within_sla
        assert h.partitions == len(res.offsets)


def test_health_flags_flip_on_their_failures(spark, tmpdir_path):
    store = ManifestStore(os.path.join(tmpdir_path, "ck"))
    store.finalize(1, _manifest(1, 0, 100))
    # watermark GAP: epoch 2 starts at 150, not 100
    store.finalize(2, _manifest(2, 150, 200))
    # inconsistent counts: more net ops than rows read
    store.finalize(3, _manifest(3, 200, 300, rows_read=5, n_up=9, n_del=3))

    h = {r.epoch: r for r in pipeline_health(spark, store).collect()}
    assert h[1].watermark_monotone and h[1].counts_consistent
    assert not h[2].watermark_monotone
    assert h[3].watermark_monotone and not h[3].counts_consistent

    # staleness: with "now" pushed a year past the commit stamps, every
    # epoch violates a 24h SLA; with now at the stamp, none do
    later = time.mktime((2026, 6, 1, 0, 0, 0, 0, 0, 0))
    stale = pipeline_health(spark, store, sla_hours=24.0, now=later).collect()
    assert all(not r.within_sla for r in stale)


def test_table_health_census_matches_snapshot_and_compaction_rule(spark, tmpdir_path):
    """table_health mirrors the snapshot's file inventory exactly and
    its `fragmented` flag agrees with rewrite_small_files: compacting
    exactly the flagged buckets leaves no bucket flagged."""
    from etl_warehouse_agnostic_spark.operators.health import table_health

    # enough DISTINCT keys that each bucket's post-LWW state exceeds
    # the rows-per-file bound (dedup collapses to one row per key)
    chg = generate_changes(spark, 3000, n_convs=200, turns_per_conv=10, seed=29).localCheckpoint()
    table = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4
    )
    table.max_records_per_file = 50  # force multi-file buckets
    ck = ManifestStore(os.path.join(tmpdir_path, "ck"))
    CdcEngine(spark, table, ck, num_salts=4).run(
        ChangeStreamSource(spark, df=chg), epoch_size=700
    )

    h = {r.bucket: r for r in table_health(spark, table).collect()}
    snap = table.snapshot()
    assert set(h) == {int(b) for b in snap["files"]}
    for b, paths in snap["files"].items():
        assert h[int(b)].n_files == len(paths)
    flagged = [b for b, r in h.items() if r.fragmented]
    assert flagged, "tiny rows-per-file bound must fragment some buckets"

    stats = table.rewrite_small_files(min_files=2)
    assert stats["buckets_compacted"] == len(flagged)
    table.max_records_per_file = None
    h2 = table_health(spark, table).collect()
    assert not any(r.fragmented for r in h2)
