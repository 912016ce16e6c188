"""Warehouse-agnostic backends: the same change stream applied through
the config-switched LakeTable and embedded-SQL backends must converge
to the identical final state, with exactly-once replay on both."""

import os

import pytest
from pyspark.sql import functions as F

from etl_warehouse_agnostic_spark.engine import CdcEngine
from etl_warehouse_agnostic_spark.lake.backends import DuckBackend, LakeBackend, make_warehouse
from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
from etl_warehouse_agnostic_spark.lake.table import LakeTable
from etl_warehouse_agnostic_spark.operators.dedup import lww_dedup_window, split_ops
from etl_warehouse_agnostic_spark.schemas import KEY_COLS, TRANSCRIPTS_SCHEMA_V1
from etl_warehouse_agnostic_spark.sources.generator import generate_changes


def _final_state(df):
    return sorted(
        (r.conv_id, r.turn_idx, r.role, r.text)
        for r in df.select("conv_id", "turn_idx", "role", "text").collect()
    )


def _apply_epochs(wh, chg, n_epochs=3):
    n = chg.agg(F.max("lsn")).first()[0] + 1
    bounds = [i * n // n_epochs for i in range(n_epochs)] + [n]
    for i in range(n_epochs):
        epoch = chg.where((F.col("lsn") >= bounds[i]) & (F.col("lsn") < bounds[i + 1]))
        ups, dels = split_ops(lww_dedup_window(epoch, KEY_COLS, ["ts", "lsn"], num_salts=4))
        wh.merge(ups, delete_keys=dels, epoch_id=i + 1)


def test_backends_converge_to_identical_state(spark, tmpdir_path):
    chg = generate_changes(spark, 4000, n_convs=40, turns_per_conv=8, seed=11).localCheckpoint()
    schema = TRANSCRIPTS_SCHEMA_V1

    lake = make_warehouse(
        spark, {"type": "lake", "path": os.path.join(tmpdir_path, "lake"), "num_buckets": 4},
        schema, KEY_COLS,
    )
    duck = make_warehouse(
        spark, {"type": "duckdb", "path": os.path.join(tmpdir_path, "wh.duckdb")},
        schema, KEY_COLS,
    )
    assert isinstance(lake, LakeBackend) and isinstance(duck, DuckBackend)

    _apply_epochs(lake, chg)
    _apply_epochs(duck, chg)

    a = _final_state(lake.read())
    b = _final_state(duck.read())
    assert a == b and len(a) > 0
    assert lake.committed_epochs() == duck.committed_epochs() == [1, 2, 3]


def test_backends_schema_evolution_mid_stream_parity(spark, tmpdir_path):
    """Add-only evolution mid-stream (the 'tool' column appearing at
    epoch 2) must converge identically on both backends: the warehouse
    executes ALTER TABLE ADD COLUMN, the lake table evolves its
    snapshot schema; pre-evolution rows read the new column as NULL."""
    from pyspark.sql import types as T

    v1 = spark.createDataFrame(
        [("c1", 0, "user", "hello", None), ("c1", 1, "assistant", "hi", None)],
        TRANSCRIPTS_SCHEMA_V1,
    )
    tool_field = T.StructField("tool", T.StringType(), True)
    v2_schema = T.StructType(list(TRANSCRIPTS_SCHEMA_V1.fields) + [tool_field])
    v2 = spark.createDataFrame(
        [("c1", 1, "assistant", "hi v2", None, "search"), ("c2", 0, "user", "new", None, None)],
        v2_schema,
    )

    lake = LakeBackend.create(
        spark, os.path.join(tmpdir_path, "lake"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=2
    )
    duck = DuckBackend.create(
        spark, os.path.join(tmpdir_path, "wh.duckdb"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS
    )
    for wh in (lake, duck):
        wh.merge(v1, epoch_id=1)
        wh.evolve_schema([tool_field])
        wh.merge(v2, epoch_id=2)

    def full(df):
        return sorted(
            (r.conv_id, r.turn_idx, r.role, r.text, r.tool)
            for r in df.select("conv_id", "turn_idx", "role", "text", "tool").collect()
        )

    a, b = full(lake.read()), full(duck.read())
    assert a == b
    assert ("c1", 0, "user", "hello", None) in a        # pre-evolution row: tool NULL
    assert ("c1", 1, "assistant", "hi v2", "search") in a  # upserted with tool


def test_duck_backend_replay_is_noop_and_transactional(spark, tmpdir_path):
    chg = generate_changes(spark, 2000, n_convs=20, turns_per_conv=6, seed=7).localCheckpoint()
    duck = DuckBackend.create(
        spark, os.path.join(tmpdir_path, "wh.duckdb"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS
    )
    _apply_epochs(duck, chg, n_epochs=2)
    before = _final_state(duck.read())

    # replay epoch 1 verbatim: must be a skipped no-op
    n = chg.agg(F.max("lsn")).first()[0] + 1
    epoch1 = chg.where(F.col("lsn") < n // 2)
    ups, dels = split_ops(lww_dedup_window(epoch1, KEY_COLS, ["ts", "lsn"], num_salts=4))
    res = duck.merge(ups, delete_keys=dels, epoch_id=1)
    assert res.skipped
    assert _final_state(duck.read()) == before

    # overwrite path with epoch ledger intact
    duck.overwrite(duck.read(), epoch_id=99)
    assert _final_state(duck.read()) == before
    assert 99 in duck.committed_epochs()


def test_engine_tail_loop_drives_warehouse_backend(spark, tmpdir_path):
    """The FULL engine tail loop (watermark slices, mid-stream schema
    evolution, exactly-once manifests) against the embedded-SQL
    warehouse must converge to the same state as the lake-table
    engine on the same stream, and a re-run must be a no-op."""
    from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource

    chg = generate_changes(
        spark, 4000, n_convs=40, turns_per_conv=8, seed=31, evolution_lsn=2000
    ).localCheckpoint()
    src = lambda: ChangeStreamSource(spark, df=chg)  # noqa: E731

    # lake engine (the reference path)
    lake_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "lake"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4
    )
    lake_eng = CdcEngine(
        spark, lake_t, ManifestStore(os.path.join(tmpdir_path, "ck-lake")), num_salts=4
    )
    lake_eng.run(src(), epoch_size=1500)

    # warehouse engine (generic tail loop, no staging/buckets)
    duck = DuckBackend.create(
        spark, os.path.join(tmpdir_path, "wh.duckdb"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS
    )
    ck = ManifestStore(os.path.join(tmpdir_path, "ck-duck"))
    eng = CdcEngine(spark, None, ck, num_salts=4)
    results = eng.run_warehouse(duck, src(), epoch_size=1500)
    assert len(results) >= 2 and not any(r.skipped for r in results)

    cols = ["conv_id", "turn_idx", "role", "text", "tool"]

    def state(df):
        return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())

    assert state(lake_t.read()) == state(duck.read())
    assert "tool" in duck.read().columns  # mid-stream evolution landed
    assert ck.high_water_lsn() == chg.agg(F.max("lsn")).first()[0]

    # resume: nothing new → no epochs; replaying a finalized range is a no-op
    again = eng.run_warehouse(duck, src(), epoch_size=1500)
    assert again == []
    assert state(duck.read()) == state(lake_t.read())


def test_warehouse_loop_heals_crash_between_merge_and_manifest(spark, tmpdir_path):
    """T2 on the warehouse path: a crash after the warehouse MERGE but
    before the manifest finalize must heal on the next run — the epoch
    is found in the warehouse's ledger, the merge is a skipped no-op,
    and the manifest gets finalized without re-applying."""
    from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource

    chg = generate_changes(spark, 2000, n_convs=20, turns_per_conv=6, seed=17).localCheckpoint()
    duck = DuckBackend.create(
        spark, os.path.join(tmpdir_path, "wh.duckdb"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS
    )
    ck = ManifestStore(os.path.join(tmpdir_path, "ck"))
    eng = CdcEngine(spark, None, ck, num_salts=4)
    eng.run_warehouse(duck, ChangeStreamSource(spark, df=chg), epoch_size=800)
    state_before = _final_state(duck.read())
    last = ck.last_epoch()
    assert last is not None and last >= 2

    # simulate the crash window: the last epoch's MERGE committed (it is
    # in the warehouse ledger) but its manifest write was lost
    os.unlink(os.path.join(ck.path, f"epoch={last:08d}.json"))
    assert not ck.is_finalized(last)
    assert last in duck.committed_epochs()

    # upfront recovery heals the manifest from the ledger BEFORE the
    # loop plans anything; with no new LSNs the loop then does nothing
    results = eng.run_warehouse(duck, ChangeStreamSource(spark, df=chg), epoch_size=800)
    assert results == []
    assert ck.is_finalized(last)
    assert ck.get(last)["metrics"].get("healed") is True
    assert _final_state(duck.read()) == state_before


def test_three_backends_converge_to_identical_state(spark, tmpdir_path):
    """All THREE config-switched engines (lake / duckdb / sqlite) must
    reach the identical final state on the same stream — the
    switch_warehouse.sh three-engine claim, proven state-equal."""
    from etl_warehouse_agnostic_spark.lake.backends import SqliteBackend

    chg = generate_changes(spark, 3000, n_convs=30, turns_per_conv=8, seed=23).localCheckpoint()
    backends = {
        t: make_warehouse(
            spark,
            {"type": t, "path": os.path.join(tmpdir_path, f"wh-{t}"),
             **({"num_buckets": 4} if t == "lake" else {})},
            TRANSCRIPTS_SCHEMA_V1, KEY_COLS,
        )
        for t in ("lake", "duckdb", "sqlite")
    }
    assert isinstance(backends["sqlite"], SqliteBackend)
    for wh in backends.values():
        _apply_epochs(wh, chg)
    states = {t: _final_state(wh.read()) for t, wh in backends.items()}
    assert states["lake"] == states["duckdb"] == states["sqlite"]
    assert len(states["lake"]) > 0
    assert all(wh.committed_epochs() == [1, 2, 3] for wh in backends.values())


def test_sqlite_engine_tail_loop_with_evolution_and_replay(spark, tmpdir_path):
    """The full engine tail loop against the DB-API backend: mid-stream
    ALTER TABLE evolution, exactly-once manifests, replay no-op."""
    from etl_warehouse_agnostic_spark.lake.backends import SqliteBackend
    from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource

    chg = generate_changes(
        spark, 3000, n_convs=30, turns_per_conv=8, seed=31, evolution_lsn=1500
    ).localCheckpoint()
    lite = SqliteBackend.create(
        spark, os.path.join(tmpdir_path, "wh.sqlite"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS
    )
    ck = ManifestStore(os.path.join(tmpdir_path, "ck"))
    eng = CdcEngine(spark, None, ck, num_salts=4)
    results = eng.run_warehouse(lite, ChangeStreamSource(spark, df=chg), epoch_size=1200)
    assert len(results) >= 2 and not any(r.skipped for r in results)
    assert "tool" in lite.read().columns

    # parity with the lake engine on the same stream
    lake_t = LakeTable.create(
        spark, os.path.join(tmpdir_path, "lake"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4
    )
    CdcEngine(spark, lake_t, ManifestStore(os.path.join(tmpdir_path, "ck-lake")),
              num_salts=4).run(ChangeStreamSource(spark, df=chg), epoch_size=1200)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

    def state(df):
        return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())

    assert state(lite.read()) == state(lake_t.read())
    assert eng.run_warehouse(lite, ChangeStreamSource(spark, df=chg), epoch_size=1200) == []


def test_warehouse_path_never_materializes_rows_on_driver(spark, tmpdir_path, monkeypatch):
    """The scale contract: the Spark→warehouse transfer is a parquet
    hand-off ingested by the warehouse, and read() is the file-based
    mirror — neither direction may pull rows through the driver. Any
    toPandas()/toLocalIterator() on the warehouse data path fails this
    test."""
    from pyspark.sql import DataFrame

    from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource

    chg = generate_changes(spark, 2000, n_convs=20, turns_per_conv=6, seed=41).localCheckpoint()

    def _banned(self, *a, **k):
        raise AssertionError("driver-side materialization on the warehouse path")

    monkeypatch.setattr(DataFrame, "toPandas", _banned)
    monkeypatch.setattr(DataFrame, "toLocalIterator", _banned)

    for t in ("duckdb", "sqlite"):
        wh = make_warehouse(
            spark, {"type": t, "path": os.path.join(tmpdir_path, f"wh-{t}")},
            TRANSCRIPTS_SCHEMA_V1, KEY_COLS,
        )
        ck = ManifestStore(os.path.join(tmpdir_path, f"ck-{t}"))
        eng = CdcEngine(spark, None, ck, num_salts=4)
        results = eng.run_warehouse(wh, ChangeStreamSource(spark, df=chg), epoch_size=900)
        assert len(results) >= 2
        assert wh.read().count() > 0  # read-back is also driver-free


@pytest.mark.parametrize("sink", ["duckdb", "lake"])
def test_warehouse_heal_of_truncated_epoch_does_not_lose_new_lsns(spark, tmpdir_path, sink):
    """The round-3 ADVICE medium defect: crash between the sink MERGE
    and manifest finalize on an epoch TRUNCATED by the then-current
    source max, then the source accrues new LSNs before restart. The
    heal must finalize from the ledger's RECORDED lsn range — never the
    recomputed slice — so the (old_hi, new_hi] gap is re-sliced into a
    later epoch instead of being silently skipped forever. Same recover
    for both sinks: the warehouse's ``_epochs`` ledger, the lake
    table's snapshot summaries."""
    from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource

    chg = generate_changes(spark, 2000, n_convs=20, turns_per_conv=6, seed=53).localCheckpoint()
    old = chg.where(F.col("lsn") <= 1200).localCheckpoint()

    def make(name):
        path = os.path.join(tmpdir_path, name)
        if sink == "duckdb":
            return DuckBackend.create(spark, path, TRANSCRIPTS_SCHEMA_V1, KEY_COLS)
        return LakeTable.create(spark, path, TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4)

    def tail(target, ck, df):
        """A fresh engine (a restart) tailing ``df`` into ``target``."""
        src = ChangeStreamSource(spark, df=df)
        if sink == "duckdb":
            return CdcEngine(spark, None, ck, num_salts=4).run_warehouse(target, src, epoch_size=1000)
        return CdcEngine(spark, target, ck, num_salts=4).run(src, epoch_size=1000)

    target = make("sink")
    ledger = target if sink == "duckdb" else LakeBackend(target)
    ck = ManifestStore(os.path.join(tmpdir_path, "ck"))
    # epoch 1: (0,1000]; epoch 2: (1000,1200] — truncated by source max
    tail(target, ck, old)
    assert ck.high_water_lsn() == 1200
    assert ledger.epoch_lsn_range(2) == (1000, 1200)

    # crash window: epoch 2 merged (ledger) but its manifest was lost
    os.unlink(os.path.join(ck.path, "epoch=00000002.json"))

    # restart against the GROWN source (lsns now reach 2000): upfront
    # recovery finalizes epoch 2 from the RECORDED (1000,1200] range,
    # then the loop slices the remainder starting at 1200
    results = tail(target, ck, chg)
    assert ck.get(2)["lineage"]["lsn_range"] == [1000, 1200]
    assert ck.get(2)["metrics"].get("healed") is True
    assert results and results[0].epoch == 3 and not results[0].skipped
    # and the gap (1200, 2000] was applied by the follow-up epochs
    assert ck.high_water_lsn() == 2000

    # ground truth: a fresh run over the full stream
    fresh = make("fresh")
    tail(fresh, ManifestStore(os.path.join(tmpdir_path, "ck2")), chg)
    assert _final_state(target.read()) == _final_state(fresh.read())


def test_overwrite_replay_is_skipped_noop_everywhere(spark, tmpdir_path):
    """Epoch-idempotent overwrite on all three backends: replaying an
    already-committed epoch id must short-circuit BEFORE any mutation
    (no delete-then-PK-conflict, no duplicate epoch entry)."""
    df = spark.createDataFrame(
        [("c1", 0, "user", "hello", None), ("c2", 0, "user", "hi", None)],
        TRANSCRIPTS_SCHEMA_V1,
    )
    df2 = spark.createDataFrame([("c9", 9, "user", "other", None)], TRANSCRIPTS_SCHEMA_V1)
    for t in ("lake", "duckdb", "sqlite"):
        wh = make_warehouse(
            spark, {"type": t, "path": os.path.join(tmpdir_path, f"ow-{t}"),
                    **({"num_buckets": 2} if t == "lake" else {})},
            TRANSCRIPTS_SCHEMA_V1, KEY_COLS,
        )
        assert not wh.overwrite(df, epoch_id=7).skipped
        res = wh.overwrite(df2, epoch_id=7)  # replay: must NOT apply df2
        assert res.skipped, t
        assert wh.committed_epochs().count(7) == 1, t
        assert _final_state(wh.read()) == _final_state(df), t


def test_bounded_warehouse_loop_converges_and_heals(spark, tmpdir_path):
    """S5 on the warehouse path: histogram-planned row-bounded epochs
    must converge to the fixed-size loop's state, and a crash before
    the last manifest finalize must heal BEFORE planning so the
    pre-planned slices start at the healed watermark (no gap, no
    overlap lost)."""
    from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource

    chg = generate_changes(spark, 3000, n_convs=30, turns_per_conv=8, seed=61).localCheckpoint()
    old = chg.where(F.col("lsn") <= 1800).localCheckpoint()

    duck = DuckBackend.create(
        spark, os.path.join(tmpdir_path, "wh.duckdb"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS
    )
    ck = ManifestStore(os.path.join(tmpdir_path, "ck"))
    eng = CdcEngine(spark, None, ck, num_salts=4)
    results = eng.run_warehouse_bounded(
        duck, ChangeStreamSource(spark, df=old), max_rows_per_epoch=700, granules=64
    )
    assert len(results) >= 2 and not any(r.skipped for r in results)
    # every planned epoch stayed under the row cap (modulo one dense granule)
    assert all(r.rows_upserted <= 700 for r in results)

    # crash window on the newest epoch, then the source grows
    last = ck.last_epoch()
    os.unlink(os.path.join(ck.path, f"epoch={last:08d}.json"))
    eng.run_warehouse_bounded(
        duck, ChangeStreamSource(spark, df=chg), max_rows_per_epoch=700, granules=64
    )
    assert ck.get(last)["metrics"].get("healed") is True
    assert ck.high_water_lsn() == 3000

    # ground truth: fixed-size loop over the full stream
    duck2 = DuckBackend.create(
        spark, os.path.join(tmpdir_path, "wh2.duckdb"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS
    )
    CdcEngine(spark, None, ManifestStore(os.path.join(tmpdir_path, "ck2")),
              num_salts=4).run_warehouse(duck2, ChangeStreamSource(spark, df=chg), epoch_size=900)
    assert _final_state(duck.read()) == _final_state(duck2.read())


def test_merge_key_in_both_upserts_and_deletes_nets_to_upsert(spark, tmpdir_path):
    """ADVICE r4: a key present in BOTH upserts and delete_keys must
    net to the upsert surviving — on every backend, matching
    LakeTable._merge_attempt (the engine's split_ops never overlaps
    keys, but the WarehouseBackend contract is for direct callers too)."""
    schema = TRANSCRIPTS_SCHEMA_V1
    for wtype in ("lake", "duckdb", "sqlite"):
        wh = make_warehouse(
            spark, {"type": wtype, "path": os.path.join(tmpdir_path, f"w-{wtype}")},
            schema, KEY_COLS,
        )
        cols = [f.name for f in schema.fields]
        seed = spark.createDataFrame(
            [("c1", 0, "user", "old", None)], schema
        ).select(*cols)
        wh.merge(seed, epoch_id=1)
        ups = spark.createDataFrame([("c1", 0, "user", "new", None)], schema)
        dels = spark.createDataFrame([("c1", 0, "user", None, None)], schema) \
            .select(*KEY_COLS)
        wh.merge(ups, delete_keys=dels, epoch_id=2)
        state = _final_state(wh.read())
        assert state == [("c1", 0, "user", "new")], wtype


def test_recover_warehouse_skips_null_lsn_lo_ledger_rows(spark, tmpdir_path):
    """ADVICE r4: a legacy ledger row with NULL lsn_lo must NOT be
    healed with a coerced lo=0 (false gap/overlap in pipeline_health);
    it heals inline at replay with the loop's computed lo instead."""
    schema = TRANSCRIPTS_SCHEMA_V1
    duck = DuckBackend.create(
        spark, os.path.join(tmpdir_path, "wh.duckdb"), schema, KEY_COLS
    )
    cols = [f.name for f in schema.fields]
    df = spark.createDataFrame([("c1", 0, "user", "t", None)], schema).select(*cols)
    duck.merge(df, epoch_id=1, lsn_range=None)  # ledger row with NULL lo/hi
    duck._con.execute("UPDATE _epochs SET lsn_hi = 500 WHERE epoch_id = 1")

    ck = ManifestStore(os.path.join(tmpdir_path, "ck"))
    eng = CdcEngine(spark, None, ck, num_salts=4)
    assert eng.recover_warehouse(duck) == []  # NULL lsn_lo → not healed upfront
    assert not ck.is_finalized(1)

    # inline replay heal: the loop's computed lo survives, recorded hi wins
    empty_changes = spark.createDataFrame(
        [],
        "lsn long, op string, conv_id string, turn_idx int, "
        "role string, text string, ts timestamp",
    )
    res = eng.apply_epoch_warehouse(duck, empty_changes, epoch=1, lsn_range=(0, 900))
    assert res.skipped
    m = ck.get(1)
    assert m["lineage"]["lsn_range"] == [0, 500]


def test_sqlite_parallel_load_matches_serial_and_runs_on_executors(spark, tmpdir_path):
    """The executor-parallel staging load (the real Postgres/JDBC
    idiom: one DB-API connection per partition, single-transaction
    swap) must produce EXACTLY the serial bounded-loop state, and the
    loading must happen in python workers, not the driver."""
    chg = generate_changes(spark, 4000, n_convs=40, turns_per_conv=8, seed=31).localCheckpoint()
    schema = TRANSCRIPTS_SCHEMA_V1

    serial = make_warehouse(
        spark, {"type": "sqlite", "path": os.path.join(tmpdir_path, "serial.db")},
        schema, KEY_COLS,
    )
    par = make_warehouse(
        spark,
        {"type": "sqlite", "path": os.path.join(tmpdir_path, "par.db"),
         "parallel_load": True},
        schema, KEY_COLS,
    )
    assert par.parallel_load and not serial.parallel_load

    _apply_epochs(serial, chg)
    _apply_epochs(par, chg)

    assert _final_state(par.read()) == _final_state(serial.read())
    assert par.committed_epochs() == serial.committed_epochs() == [1, 2, 3]

    # executor evidence: the staging inserts ran in python workers
    import os as _os

    assert par._last_load_pids, "parallel load never recorded worker pids"
    assert _os.getpid() not in par._last_load_pids

    # replay is still a skipped no-op (ledger rides the swap txn)
    ups, dels = split_ops(lww_dedup_window(chg, KEY_COLS, ["ts", "lsn"], num_salts=4))
    assert par.merge(ups, delete_keys=dels, epoch_id=3).skipped

    # orphan staging tables are reclaimed on the next open
    par._con.execute('CREATE TABLE "_stage_up_dead" (x INTEGER)')
    par._con.close()
    from etl_warehouse_agnostic_spark.lake.backends import SqliteBackend

    re = SqliteBackend.create(
        spark, os.path.join(tmpdir_path, "par.db"), schema, KEY_COLS, parallel_load=True
    )
    names = {
        r[0]
        for r in re._con.execute(
            "SELECT name FROM sqlite_master WHERE type='table'"
        ).fetchall()
    }
    assert "_stage_up_dead" not in names


def test_sqlite_parallel_engine_tail_loop_and_overwrite(spark, tmpdir_path):
    """Full engine tail loop against the parallel-load backend (same
    path warehouse_parity drives), plus the parallel full-refresh."""
    from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource

    chg = generate_changes(spark, 3000, n_convs=30, turns_per_conv=8, seed=32).localCheckpoint()
    schema = TRANSCRIPTS_SCHEMA_V1
    par = make_warehouse(
        spark,
        {"type": "sqlite", "path": os.path.join(tmpdir_path, "wh.db"),
         "parallel_load": True},
        schema, KEY_COLS,
    )
    ck = ManifestStore(os.path.join(tmpdir_path, "ck"))
    eng = CdcEngine(spark, None, ck, num_salts=4)
    src = ChangeStreamSource(spark, df=chg)
    results = eng.run_warehouse(par, src, epoch_size=1000)
    assert len(results) == 3 and not any(r.skipped for r in results)
    assert eng.run_warehouse(par, src, epoch_size=1000) == []  # replay no-op

    want = _final_state(
        split_ops(lww_dedup_window(chg, KEY_COLS, ["lsn", "ts"], num_salts=4))[0]
    )
    assert _final_state(par.read()) == want

    # parallel overwrite (full refresh): same state from scratch
    par2 = make_warehouse(
        spark,
        {"type": "sqlite", "path": os.path.join(tmpdir_path, "wh2.db"),
         "parallel_load": True},
        schema, KEY_COLS,
    )
    ups, _ = split_ops(lww_dedup_window(chg, KEY_COLS, ["lsn", "ts"], num_salts=4))
    par2.overwrite(ups, epoch_id=1)
    assert _final_state(par2.read()) == want
    assert par2.overwrite(ups, epoch_id=1).skipped


def test_stale_spill_dirs_reclaimed_on_open(spark, tmpdir_path):
    """A hard kill mid-merge strands the exported delta under
    spill_dir; reopening the warehouse must reclaim it (single-process
    ownership contract)."""
    schema = TRANSCRIPTS_SCHEMA_V1
    for wtype in ("duckdb", "sqlite"):
        path = os.path.join(tmpdir_path, f"w-{wtype}.db")
        wh = make_warehouse(spark, {"type": wtype, "path": path}, schema, KEY_COLS)
        stale = os.path.join(wh.spill_dir, "up-deadbeef")
        os.makedirs(stale, exist_ok=True)
        with open(os.path.join(stale, "part-0.parquet"), "w") as f:
            f.write("x")
        wh._con.close()
        re = make_warehouse(spark, {"type": wtype, "path": path}, schema, KEY_COLS)
        assert not os.path.isdir(stale), wtype
        re._con.close()
