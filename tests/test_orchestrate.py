"""Multi-source orchestration: topo ordering, dependency gating,
per-source manifest namespaces, convergence vs sequential application."""

import os

import pytest
from pyspark.sql import functions as F

from etl_warehouse_agnostic_spark.engine import CdcEngine
from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
from etl_warehouse_agnostic_spark.lake.table import LakeTable
from etl_warehouse_agnostic_spark.orchestrate import MultiSourceRunner, SourceSpec, topo_order
from etl_warehouse_agnostic_spark.schemas import KEY_COLS, TRANSCRIPTS_SCHEMA_V1
from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource
from etl_warehouse_agnostic_spark.sources.generator import generate_changes


def _spec(name, deps=()):
    return SourceSpec(name=name, source=None, table=None, depends_on=list(deps))


def test_topo_order_diamond_cycle_unknown():
    # diamond: d -> (b, c) -> a
    order = topo_order([
        _spec("d", ["b", "c"]), _spec("b", ["a"]), _spec("c", ["a"]), _spec("a"),
    ])
    assert order.index("a") < order.index("b") < order.index("d")
    assert order.index("a") < order.index("c") < order.index("d")
    assert order == ["a", "b", "c", "d"]  # deterministic name-ordered ties
    with pytest.raises(ValueError, match="cycle"):
        topo_order([_spec("a", ["b"]), _spec("b", ["a"])])
    with pytest.raises(ValueError, match="unknown"):
        topo_order([_spec("a", ["ghost"])])


def _mk(spark, tmpdir_path, name, chg, deps=(), epoch_size=2000):
    t = LakeTable.create(
        spark, os.path.join(tmpdir_path, f"t-{name}"),
        TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4,
    )
    return SourceSpec(
        name=name, source=ChangeStreamSource(spark, df=chg), table=t,
        depends_on=list(deps), epoch_size=epoch_size,
        engine_kwargs={"source_partitions": 8},
    )


def test_two_source_run_converges_and_namespaces_are_isolated(spark, tmpdir_path):
    chg = generate_changes(spark, 6000, n_convs=60, turns_per_conv=6, seed=21).localCheckpoint()
    half = chg.agg(F.max("lsn")).first()[0] // 2
    chg_a = chg.where(F.col("lsn") <= half)
    chg_b = chg.where(F.col("lsn") > half)

    # orchestrated: B depends on A
    run_root = os.path.join(tmpdir_path, "orch")
    specs = [
        _mk(spark, run_root, "src_a", chg_a),
        _mk(spark, run_root, "src_b", chg_b, deps=["src_a"]),
    ]
    runner = MultiSourceRunner(spark, specs, os.path.join(run_root, "ck"))
    assert runner.order == ["src_a", "src_b"]
    out = runner.run_all()
    assert out["src_a"].status == "ran" and out["src_b"].status == "ran"
    assert len(out["src_a"].results) >= 1 and len(out["src_b"].results) >= 1

    # sequential baseline: same two streams applied by two plain engines
    seq_root = os.path.join(tmpdir_path, "seq")
    base = [
        _mk(spark, seq_root, "src_a", chg_a),
        _mk(spark, seq_root, "src_b", chg_b),
    ]
    for s in base:
        eng = CdcEngine(spark, s.table, ManifestStore(os.path.join(seq_root, "ck", s.name)),
                        source_name=s.name, source_partitions=8)
        eng.run(s.source, epoch_size=2000)

    def state(t):
        return sorted(
            (r.conv_id, r.turn_idx, r.role, r.text)
            for r in t.read().select("conv_id", "turn_idx", "role", "text").collect()
        )

    assert state(specs[0].table) == state(base[0].table)
    assert state(specs[1].table) == state(base[1].table)

    # manifest namespaces are isolated: each source advanced its OWN
    # high-water; re-running the orchestrator is a full no-op
    ck_a = runner.manifests("src_a")
    ck_b = runner.manifests("src_b")
    assert ck_a.high_water_lsn() <= half < ck_b.high_water_lsn()
    again = runner.run_all()
    assert all(r.status == "ran" and r.results == [] for r in again.values())


def test_dependency_failure_gates_dependents(spark, tmpdir_path):
    chg = generate_changes(spark, 1000, n_convs=10, turns_per_conv=4, seed=5).localCheckpoint()

    class ExplodingSource(ChangeStreamSource):
        def max_lsn(self):
            raise RuntimeError("source down")

    bad_table = LakeTable.create(
        spark, os.path.join(tmpdir_path, "t-bad"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=2
    )
    specs = [
        SourceSpec(name="bad", source=ExplodingSource(spark, df=chg), table=bad_table,
                   epoch_size=1000),
        _mk(spark, tmpdir_path, "child", chg, deps=["bad"]),
        _mk(spark, tmpdir_path, "indep", chg),
    ]
    out = MultiSourceRunner(spark, specs, os.path.join(tmpdir_path, "ck")).run_all()
    assert out["bad"].status == "failed" and "source down" in out["bad"].error
    assert out["child"].status == "skipped_dependency"
    assert out["indep"].status == "ran" and len(out["indep"].results) >= 1


def test_parallel_level_execution_matches_serial(spark, tmpdir_path):
    """max_parallel>1 runs a level's independent sources concurrently
    (separate tables + manifest namespaces) and must produce exactly
    the serial result, with dependency gating intact."""
    chg = generate_changes(spark, 3000, n_convs=30, turns_per_conv=5, seed=41).localCheckpoint()
    half = chg.agg(F.max("lsn")).first()[0] // 2
    parts = [chg.where(F.col("lsn") <= half), chg.where(F.col("lsn") > half)]

    roots = {}
    for mode, par in (("serial", 1), ("parallel", 4)):
        root = os.path.join(tmpdir_path, mode)
        specs = [
            _mk(spark, root, "a1", parts[0]),
            _mk(spark, root, "a2", parts[1]),
            _mk(spark, root, "child", chg, deps=["a1", "a2"]),
        ]
        out = MultiSourceRunner(spark, specs, os.path.join(root, "ck")).run_all(
            max_parallel=par
        )
        assert all(r.status == "ran" for r in out.values()), out
        roots[mode] = specs

    def state(t):
        return sorted(
            (r.conv_id, r.turn_idx, r.text)
            for r in t.read().select("conv_id", "turn_idx", "text").collect()
        )

    for i in range(3):
        assert state(roots["serial"][i].table) == state(roots["parallel"][i].table)


def test_corrupt_manifest_becomes_failed_run_not_exception(spark, tmpdir_path):
    """Round-3 ADVICE: a per-source failure OUTSIDE eng.run — e.g. a
    corrupt manifest checksum surfacing in the P8 refresh gate — must be
    recorded as status='failed' and gate dependents, never abort
    run_all."""
    import json

    chg = generate_changes(spark, 800, n_convs=8, turns_per_conv=4, seed=9).localCheckpoint()
    specs = [
        _mk(spark, tmpdir_path, "parent", chg),
        _mk(spark, tmpdir_path, "child", chg, deps=["parent"]),
    ]
    specs[0].refresh_interval_hours = 24.0
    ck_root = os.path.join(tmpdir_path, "ck")
    runner = MultiSourceRunner(spark, specs, ck_root)
    out1 = runner.run_all()
    assert out1["parent"].status == "ran"

    # corrupt the parent's newest manifest so the refresh gate raises
    store = runner.manifests("parent")
    last = store.last_epoch()
    path = os.path.join(store.path, f"epoch={last:08d}.json")
    doc = json.load(open(path))
    doc["checksum"] = "0" * 32
    os.unlink(path)
    json.dump(doc, open(path, "w"))

    out2 = MultiSourceRunner(spark, specs, ck_root).run_all()
    assert out2["parent"].status == "failed" and "checksum" in out2["parent"].error
    assert out2["child"].status == "skipped_dependency"
