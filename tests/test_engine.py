"""End-to-end CDC engine: replay equivalence vs DuckDB oracle,
exactly-once, crash recovery, schema evolution mid-stream,
replay-from-any-checkpoint convergence (SURVEY.md §5)."""

import os

import duckdb
import pytest
from pyspark.sql import types as T

from etl_warehouse_agnostic_spark.engine import CdcEngine
from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
from etl_warehouse_agnostic_spark.lake.table import LakeTable
from etl_warehouse_agnostic_spark.schemas import KEY_COLS, TRANSCRIPTS_SCHEMA_V1
from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource
from etl_warehouse_agnostic_spark.sources.generator import generate_changes

N_EVENTS = 4000
EVOLUTION_LSN = 2000


@pytest.fixture(scope="module")
def changes_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("changes") / "changes.parquet")
    generate_changes(
        spark, N_EVENTS, n_convs=60, turns_per_conv=8, seed=5, evolution_lsn=EVOLUTION_LSN
    ).write.parquet(p)
    return p


def oracle_final_state(changes_path: str, max_lsn: int | None = None):
    """Independent engine (DuckDB): last write per key, deletes removed
    (FIXTURES.md F2 oracle)."""
    where = f"WHERE lsn <= {max_lsn}" if max_lsn else ""
    return duckdb.sql(
        f"""
        SELECT conv_id, turn_idx, role, text, tool, ts FROM (
          SELECT *, row_number() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY lsn DESC, ts DESC) rn
          FROM read_parquet('{changes_path}/*.parquet') {where})
        WHERE rn = 1 AND op <> 'D'
        ORDER BY conv_id, turn_idx
        """
    ).fetchall()


def table_state(table: LakeTable):
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    return [tuple(r) for r in table.read().select(*cols).orderBy("conv_id", "turn_idx").collect()]


def mk_engine(spark, root: str, **kw) -> CdcEngine:
    table = LakeTable.create(
        spark, os.path.join(root, "t"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=8
    )
    ckpt = ManifestStore(os.path.join(root, "_checkpoints"))
    return CdcEngine(spark, table, ckpt, **kw)


def test_full_replay_equivalence(spark, tmpdir_path, changes_path):
    """The north-rule invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering after full replay."""
    eng = mk_engine(spark, tmpdir_path)
    src = ChangeStreamSource(spark, path=changes_path)
    results = eng.run(src, epoch_size=1000)
    assert len(results) == 4
    got = table_state(eng.table)
    want = oracle_final_state(changes_path)
    assert [(r[0], r[1], r[3]) for r in got] == [(w[0], w[1], w[3]) for w in want]
    assert got == want  # full-row equality too


REGISTRY = {
    1: ["role", "text", "ts"],
    2: ["role", "text", "tool", "ts"],
}


def test_schema_evolution_mid_stream(spark, tmpdir_path, changes_path):
    eng = mk_engine(spark, tmpdir_path, schema_registry=REGISTRY)
    src = ChangeStreamSource(spark, path=changes_path)
    # epoch 1 ends exactly at the evolution point: schema still v1
    eng.run(src, epoch_size=EVOLUTION_LSN, max_epochs=1)
    assert "tool" not in [f.name for f in eng.table.schema.fields]
    eng.run(src, epoch_size=N_EVENTS)
    assert "tool" in [f.name for f in eng.table.schema.fields]
    m = eng.checkpoints.get(2)
    assert m["lineage"]["schema_ver_max"] == 2
    assert "tool" in m["lineage"]["added_columns"]


def test_exactly_once_reapply_is_noop(spark, tmpdir_path, changes_path):
    eng = mk_engine(spark, tmpdir_path)
    src = ChangeStreamSource(spark, path=changes_path)
    eng.run(src, epoch_size=1000)
    state1 = table_state(eng.table)
    v1 = eng.table.latest_version()
    # replay epoch 2's slice under epoch id 2 again → skipped
    res = eng.apply_epoch(src.read_slice(1000, 2000), epoch=2)
    assert res.skipped
    assert table_state(eng.table) == state1
    assert eng.table.latest_version() == v1


def test_lookback_overlap_is_idempotent(spark, tmpdir_path, changes_path):
    """Reference P6: watermark − lookback re-reads must not duplicate."""
    eng = mk_engine(spark, tmpdir_path)
    src = ChangeStreamSource(spark, path=changes_path)
    eng.run(src, epoch_size=1000, lookback=250)
    assert table_state(eng.table) == [tuple(r) for r in oracle_final_state(changes_path)]


def test_crash_between_commit_and_manifest(spark, tmpdir_path, changes_path,
                                          assert_healed_is_live):
    """T2: MERGE committed, manifest lost → recover() finalizes without
    re-applying; the tail loop then continues from the right offset."""
    eng = mk_engine(spark, tmpdir_path)
    src = ChangeStreamSource(spark, path=changes_path)
    eng.run(src, epoch_size=1000, max_epochs=2)
    live = eng.checkpoints.get(2)
    # simulate crash: drop epoch 2's manifest (commit already durable)
    os.unlink(eng.checkpoints._file(2))
    assert not eng.checkpoints.is_finalized(2)
    # leak a staged delta for the "crashed" epoch (normal path removes it)
    staging = os.path.join(eng.checkpoints.path, "_staging", "e00000002")
    os.makedirs(os.path.join(staging, "_pb=0"), exist_ok=True)
    healed = eng.recover()
    assert healed == [2]
    m = eng.checkpoints.get(2)
    assert m["lineage"]["lsn_range"] == [1000, 2000]
    # healed manifest is shaped like a normal-path one: post-commit
    # metrics backfilled from the snapshot summary, not zeroed
    assert m["metrics"]["bytes_written"] > 0
    assert m["snapshot_version"] == eng.table.epoch_snapshot(2)["version"]
    assert m["committed_at"] == eng.table.epoch_snapshot(2)["committed_at"]
    assert_healed_is_live(m, live)
    assert not os.path.exists(staging)  # recover swept the leak
    v_after_heal = eng.table.latest_version()
    eng.run(src, epoch_size=1000)  # finish the stream
    assert table_state(eng.table) == [tuple(r) for r in oracle_final_state(changes_path)]
    assert eng.table.latest_version() == v_after_heal + 2


def test_empty_epoch_manifest_heals_from_the_ledger(spark, tmpdir_path, changes_path,
                                                    assert_healed_is_live):
    """An epoch whose slice is empty writes no data, but its commit still
    records the manifest, so a manifest lost after that commit heals as
    any other epoch's does."""
    from pyspark.sql import functions as F

    eng = mk_engine(spark, tmpdir_path)
    src = ChangeStreamSource(spark, path=changes_path)
    [res] = eng.run(src, epoch_size=1000, max_epochs=1)
    hi = res.lsn_range[1]
    empty = eng.apply_epoch(src.read_slice(0, hi).where(F.lit(False)), 2, lsn_range=(hi, hi + 10))
    assert not empty.skipped and empty.rows_read == 0
    live = eng.checkpoints.get(2)
    os.unlink(eng.checkpoints._file(2))
    assert eng.recover() == [2]
    assert_healed_is_live(eng.checkpoints.get(2), live)


def test_replay_from_any_checkpoint_reconverges(spark, tmpdir_path, changes_path):
    """Kill the engine after epoch k, rebuild a fresh engine over the
    same table+manifests, resume → identical final state."""
    eng = mk_engine(spark, tmpdir_path)
    src = ChangeStreamSource(spark, path=changes_path)
    eng.run(src, epoch_size=800, max_epochs=2)
    # "new process": reload table + manifests from disk
    table2 = LakeTable.load(spark, eng.table.path)
    ckpt2 = ManifestStore(eng.checkpoints.path)
    eng2 = CdcEngine(spark, table2, ckpt2)
    eng2.run(src, epoch_size=800)
    assert table_state(table2) == [tuple(r) for r in oracle_final_state(changes_path)]


def test_manifest_offsets_and_metrics(spark, tmpdir_path, changes_path):
    eng = mk_engine(spark, tmpdir_path, source_partitions=8)
    src = ChangeStreamSource(spark, path=changes_path)
    results = eng.run(src, epoch_size=2000)
    m = eng.checkpoints.get(1)
    assert m["metrics"]["rows_read"] == 2000
    n_net = m["metrics"]["rows_upserted"] + m["metrics"]["rows_deleted"]
    assert 0 < n_net <= 2000
    assert m["metrics"]["bytes_written"] > 0
    # offsets are per-bucket lineage over the staged (deduped) delta
    assert sum(v["rows"] for v in m["offsets"].values()) == n_net
    # the globally newest lsn always survives LWW dedup
    assert max(v["max_lsn"] for v in m["offsets"].values()) == 2000
    assert m["lineage"]["lsn_range"] == [0, 2000]
    assert results[-1].snapshot_version == eng.table.latest_version()


def test_run_bounded_matches_oracle_and_caps_epochs(spark, tmpdir_path, changes_path):
    """Row-bounded tail loop (S5-in-engine): every epoch reads ≤ the cap,
    ``max_epochs`` bounds a call as it does the LSN-span plan, and the
    final state equals the full-replay oracle."""
    eng = mk_engine(spark, tmpdir_path)
    src = ChangeStreamSource(spark, path=changes_path)
    results = eng.run(src, max_rows_per_epoch=900, granules=256, max_epochs=1)
    assert len(results) == 1
    results += eng.run(src, max_rows_per_epoch=900, granules=256)
    assert len(results) >= 4
    assert all(r.rows_read <= 900 for r in results)
    assert sum(r.rows_read for r in results) == N_EVENTS
    assert table_state(eng.table) == [tuple(r) for r in oracle_final_state(changes_path)]
    # resume is a no-op once drained
    assert eng.run(src, max_rows_per_epoch=900) == []


def test_run_takes_exactly_one_epoch_bound(spark, tmpdir_path, changes_path):
    eng = mk_engine(spark, tmpdir_path)
    src = ChangeStreamSource(spark, path=changes_path)
    for bounds in ({}, {"epoch_size": 1000, "max_rows_per_epoch": 900}):
        with pytest.raises(ValueError, match="exactly one"):
            eng.run(src, **bounds)
    assert eng.checkpoints.last_epoch() is None


def test_engine_on_day_partitioned_table_converges_and_prunes(spark, tmpdir_path, changes_path):
    """The epoch loop over a bucket × days(ts) layout must reach the
    same final state as the plain layout, keep every data file
    day-tagged across CoW merges, and serve pruned day-bounded reads."""
    plain = mk_engine(spark, os.path.join(tmpdir_path, "plain"))
    plain_src = ChangeStreamSource(spark, path=changes_path)
    plain.run(plain_src, epoch_size=2000)

    table = LakeTable.create(
        spark, os.path.join(tmpdir_path, "day", "t"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS,
        num_buckets=8, partition_spec={"col": "ts", "transform": "day"},
    )
    eng = CdcEngine(
        spark, table, ManifestStore(os.path.join(tmpdir_path, "day", "ck"))
    )
    eng.run(ChangeStreamSource(spark, path=changes_path), epoch_size=2000)

    assert table_state(table) == table_state(plain.table)
    snap = table.snapshot()
    assert all("_pd=" in p for ps in snap["files"].values() for p in ps)
    # a day-bounded read opens only that day's files and filters rows
    days = sorted({p.split("_pd=")[1][:10] for ps in snap["files"].values() for p in ps})
    one = table.read(day_range=(days[0], days[0]))
    assert one.count() > 0
    assert all(f"_pd={days[0]}" in f for f in one.inputFiles())


def test_warehouse_loop_respects_schema_registry(spark, tmpdir_path, changes_path):
    """Writer-schema narrowing on the warehouse path, mirroring the
    lake path: the change log physically stores the union schema (tool
    column NULL before the evolution LSN), but the warehouse must not
    grow the column until a v2 writer actually appears in a slice."""
    from etl_warehouse_agnostic_spark.lake.backends import DuckBackend

    duck = DuckBackend.create(
        spark, os.path.join(tmpdir_path, "wh.duckdb"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS
    )
    ck = ManifestStore(os.path.join(tmpdir_path, "ck"))
    eng = CdcEngine(spark, None, ck, schema_registry=REGISTRY)
    src = ChangeStreamSource(spark, path=changes_path)
    eng.run(src, epoch_size=EVOLUTION_LSN, max_epochs=1, sink=duck)
    assert "tool" not in duck.schema.names  # no v2 writer seen yet
    eng.run(src, epoch_size=N_EVENTS, sink=duck)
    assert "tool" in duck.schema.names  # ALTER fired once v2 arrived
    got = sorted(
        (r.conv_id, r.turn_idx, r.role, r.text)
        for r in duck.read().select("conv_id", "turn_idx", "role", "text").collect()
    )
    want = [(w[0], w[1], w[2], w[3]) for w in oracle_final_state(changes_path)]
    assert got == sorted(want)
