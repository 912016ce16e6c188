"""Tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs, oracle, run, stats, tracing  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def test_result_lines_match_benchmark_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == run.RESULT_LAYERS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        n: run.layer_unit(n) for n in run.RESULT_LAYERS}
    assert {m["name"] for m in bench["end_to_end"]} == set(run.RESULT_END_TO_END)
    assert all(m["unit"] == run.UNITS[m["name"]] for m in bench["end_to_end"])
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


def test_union_length_merges_overlaps():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert stats.union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_direct_children_once():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 3.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 5.0},   # overlaps 2 (threads)
        {"id": 4, "parent": 1, "start": 9.0, "end": 12.0},  # clipped to the parent
        {"id": 5, "parent": 3, "start": 2.5, "end": 4.0},   # grandchild
    ]
    own = stats.self_times(spans)
    assert own[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert own[3] == pytest.approx(3.0 - 1.5)
    assert own[5] == pytest.approx(1.5)


def test_noise_report_flags_one_threshold():
    assert not stats.noise_report(1.0, 1.4)["noisy"]
    assert stats.noise_report(1.0, 1.6)["noisy"]
    assert stats.noise_report(2.0, 1.0)["factor"] == 2.0
    share = stats.noise_report(1.0, 1.0, (10, 100), (40, 400))["steal_share"]
    assert share == pytest.approx(0.1)


def _write(tmp_path, name, rows):
    path = str(tmp_path / name)
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema([
        ("lsn", pa.int64()), ("op", pa.string()), ("conv_id", pa.string()),
        ("turn_idx", pa.int32()), ("role", pa.string()), ("text", pa.string()),
        ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
        ("schema_ver", pa.int32()),
    ])), path)
    return path


def _ev(lsn, op, conv, turn, text=None):
    import datetime

    ts = datetime.datetime(2025, 1, 1, tzinfo=datetime.timezone.utc) + datetime.timedelta(
        seconds=lsn)
    live = op != "D"
    return {"lsn": lsn, "op": op, "conv_id": conv, "turn_idx": turn,
            "role": "user" if live else None, "text": text if live else None,
            "tool": None, "ts": ts, "schema_ver": 1}


def test_lww_oracle_and_diff(tmp_path):
    events = [
        _ev(1, "I", "a", 0, "a0"),
        _ev(2, "I", "a", 1, "a1"),
        _ev(3, "U", "a", 0, "a0-v2"),   # update wins
        _ev(4, "D", "a", 1),            # delete wins
        _ev(5, "I", "b", 0, "b0"),
        _ev(6, "D", "b", 0),
        _ev(7, "U", "b", 0, "b0-back"),  # re-inserted after delete
        _ev(8, "U", "c", 0, "late"),    # beyond the applied LSN
    ]
    path = _write(tmp_path, "stream.parquet", events)
    con = duckdb.connect()
    got = con.execute(
        f"SELECT conv_id, turn_idx, text FROM ({oracle.lww_sql([path], 7)}) ORDER BY 1, 2"
    ).fetchall()
    assert got == [("a", 0, "a0-v2"), ("b", 0, "b0-back")]

    expected = [e for e in events if e["lsn"] in (3, 7)]
    good = _write(tmp_path, "good.parquet", expected)
    actual = f"SELECT {oracle.BRONZE_COLS} FROM read_parquet('{good}')"
    assert oracle.check_bronze(con, [path], 7, actual) == 0

    wrong = [dict(expected[0], text="stale"), expected[1], _ev(8, "U", "c", 0, "late")]
    bad = _write(tmp_path, "bad.parquet", wrong)
    actual = f"SELECT {oracle.BRONZE_COLS} FROM read_parquet('{bad}')"
    # one changed row counts twice (missing + extra), the extra row once
    assert oracle.check_bronze(con, [path], 7, actual) == 3


def test_diff_rows_is_a_multiset_difference():
    con = duckdb.connect()
    con.execute("CREATE TABLE e AS SELECT * FROM (VALUES (1), (1), (2)) t(x)")
    con.execute("CREATE TABLE a AS SELECT * FROM (VALUES (1), (2), (3)) t(x)")
    assert oracle.diff_rows(con, "SELECT x FROM e", "SELECT x FROM e") == 0
    assert oracle.diff_rows(con, "SELECT x FROM e", "SELECT x FROM a") == 2


def test_stream_is_seeded_and_well_formed():
    spec = inputs.StreamSpec(events=5_000, convs=300, hot_convs=3, evolution_lsn=2_500)
    a = inputs.stream_table(spec, seed=1)
    assert a.equals(inputs.stream_table(spec, seed=1))
    assert not a.equals(inputs.stream_table(spec, seed=2))
    rows = a.to_pylist()
    assert [r["lsn"] for r in rows] == list(range(1, 5_001))
    assert {r["op"] for r in rows} == {"I", "U", "D"}
    assert all(r["text"] is None for r in rows if r["op"] == "D")
    assert all(r["tool"] is None for r in rows if r["schema_ver"] == 1)
    assert {r["schema_ver"] for r in rows if r["lsn"] > 2_500} == {2}
    hot = sum(r["conv_id"] < "c0000003" for r in rows) / len(rows)
    assert 0.25 < hot < 0.36  # top 1% of conversations take ~30% of events


def test_layer_metrics_from_synthetic_spans():
    def span(i, name, parent, start, end, epoch, group=None, **attrs):
        return {"id": i, "name": name, "parent": parent, "start": start, "end": end,
                "epoch": epoch, "group": group, "attrs": attrs}

    spark = {"jobs": 2, "tasks": 8, "executor_run_s": 1.0, "input_bytes": 100,
             "output_bytes": 50, "shuffle_write_bytes": 10}
    spans = [
        span(1, "engine.epoch", None, 0.0, 4.0, 1, "g1", slice_events=1000,
             spark=dict(spark, jobs=1)),
        span(2, "lake.table.stage", 1, 0.5, 1.5, 1, "g2", rows=600, bytes=200, spark=spark),
        span(3, "lake.table.merge", 1, 1.5, 3.5, 1, "g3", bytes_written=2000,
             buckets_rewritten=5, spark=spark),
        span(4, "lake.table.write", 3, 2.0, 3.0, 1),
        span(7, "silver.dag", 1, 3.5, 4.0, 1),
        span(8, "silver.m.apply", 7, 3.5, 3.9, 1, "g6", spark=spark),
        span(5, "engine.epoch", None, 5.0, 7.0, 2, "g4", slice_events=1000,
             spark=dict(spark, jobs=1)),
        span(6, "lake.table.stage", 5, 5.0, 6.0, 2, "g5", rows=400, bytes=200, spark=spark),
    ]
    m = tracing.layer_metrics(spans, prefix_epochs=1, session_start_s=3.0,
                              model_names=["m"])
    assert m["session.start_s"] == 3.0
    assert m["engine.epoch_self_s"] == pytest.approx(((4 - 3.5) + (2 - 1)) / 2)
    assert m["lake.table.stage_s"] == pytest.approx(1.0)
    assert m["lake.table.merge_s"] == pytest.approx(1.0)
    # counts: only the first (prefix) epoch
    assert m["operators.dedup_survival"] == pytest.approx(0.6)
    assert m["lake.table.write_amplification"] == pytest.approx(10.0)
    assert m["lake.table.buckets_rewritten"] == 5
    assert m["engine.spark_jobs_per_epoch"] == 1 + 2 + 2 + 2
    assert m["stage.tasks"] == 8
    assert m["silver.tasks"] == 8
    # executor time: every traced epoch
    assert m["stage.executor_run_s"] == pytest.approx(1.0)
    # model busy time over DAG wall; times are per applied epoch
    assert m["silver.overlap"] == pytest.approx(0.4 / 0.5)
    assert m["silver.m.apply_s"] == pytest.approx(0.4 / 2)
    assert m["silver.dag_wall_s"] == pytest.approx(0.5 / 2)
