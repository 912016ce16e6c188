"""Property-based: random I/U/D interleavings with random epoch
boundaries converge to the same state as a single-batch apply and as a
pure-Python oracle (SURVEY.md §5 'Property-based (new)')."""

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_warehouse_agnostic_spark.engine import CdcEngine
from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
from etl_warehouse_agnostic_spark.lake.table import LakeTable
from etl_warehouse_agnostic_spark.schemas import KEY_COLS, TRANSCRIPTS_SCHEMA_V1
from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource

event = st.tuples(
    st.sampled_from(["I", "U", "D"]),
    st.integers(0, 3),  # conv
    st.integers(0, 2),  # turn
)


def python_oracle(events):
    state = {}
    for lsn, (op, conv, turn) in enumerate(events, start=1):
        key = (f"c{conv}", turn)
        if op == "D":
            state.pop(key, None)
        else:
            state[key] = f"t{lsn}"
    return dict(sorted(state.items()))


def spark_apply(spark, root, events, boundaries):
    rows = [
        (lsn, op, f"c{conv}", turn, "user", f"t{lsn}" if op != "D" else None, None)
        for lsn, (op, conv, turn) in enumerate(events, start=1)
    ]
    df = spark.createDataFrame(
        rows, "lsn long, op string, conv_id string, turn_idx int, role string, text string, ts timestamp"
    )
    table = LakeTable.create(spark, os.path.join(root, "t"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS, num_buckets=4)
    eng = CdcEngine(spark, table, ManifestStore(os.path.join(root, "ck")))
    src = ChangeStreamSource(spark, df=df)
    lo = 0
    for i, hi in enumerate(sorted(set(boundaries)) + [len(rows)], start=1):
        hi = min(hi, len(rows))
        if hi <= lo:
            continue
        eng.apply_epoch(src.read_slice(lo, hi), epoch=i, lsn_range=(lo, hi))
        lo = hi
    return {
        (r.conv_id, r.turn_idx): r.text
        for r in table.read().select("conv_id", "turn_idx", "text").collect()
    }


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    events=st.lists(event, min_size=1, max_size=30),
    boundaries=st.lists(st.integers(1, 29), max_size=3),
)
def test_random_interleavings_converge(spark, tmp_path_factory, events, boundaries):
    root = str(tmp_path_factory.mktemp("prop"))
    got = spark_apply(spark, root, events, boundaries)
    want = python_oracle(events)
    assert dict(sorted(got.items())) == want


# ---- W2: composite-key + NULLS LAST dedup vs a pure-Python model ----

w2_event = st.tuples(
    st.integers(0, 3),              # conv (→ composite business key)
    st.booleans(),                  # guid present?
    st.sampled_from([None, 1, 2, 3]),  # version ts bucket (None = null)
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(st.lists(w2_event, min_size=1, max_size=40))
def test_lww_dedup_keyed_nulls_last_matches_python_model(spark, events):
    """lww_dedup_keyed(coalesce key, DESC NULLS LAST) == reference model:
    max by (ts is not null, ts, lsn) per coalesce(guid, number) key."""
    import datetime

    from pyspark.sql import functions as F

    from etl_warehouse_agnostic_spark.operators.dedup import lww_dedup_keyed

    rows = []
    model_best = {}
    for lsn, (conv, has_guid, ver) in enumerate(events, start=1):
        guid = f"g{conv}" if has_guid else ""
        number = f"n{conv}"
        ts = None if ver is None else datetime.datetime(2024, 1, ver)
        rows.append((lsn, guid, number, ts))
        key = guid or number
        rank = (ts is not None, ts or datetime.datetime.min, lsn)
        if key not in model_best or rank > model_best[key][0]:
            model_best[key] = (rank, lsn)
    want = {k: v[1] for k, v in sorted(model_best.items())}

    df = spark.createDataFrame(rows, "lsn long, guid string, number string, ver_ts timestamp")
    key = F.coalesce(F.nullif("guid", F.lit("")), F.nullif("number", F.lit("")))
    for method in ("window", "salted"):
        out = lww_dedup_keyed(
            df, {"biz_key": key}, ["ver_ts", "lsn"],
            method=method, nulls_last=True, num_salts=4,
        )
        got = {r["biz_key"]: r["lsn"] for r in out.select("biz_key", "lsn").collect()}
        assert got == want, method


# ---- as-of join vs a pure-Python model ----

asof_case = st.tuples(
    st.integers(0, 2),   # key
    st.integers(0, 20),  # ts (seconds)
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    st.lists(asof_case, min_size=1, max_size=25),   # left events
    st.lists(asof_case, min_size=0, max_size=15),   # right versions
)
def test_asof_join_matches_python_model(spark, lefts, rights):
    """asof_join == brute-force model: latest right with ts <= left.ts
    per key (right de-duplicated per (key, ts) by max version id)."""
    import datetime

    from etl_warehouse_agnostic_spark.operators.joins import asof_join

    base = datetime.datetime(2024, 1, 1)
    sec = datetime.timedelta(seconds=1)
    l_rows = [(f"k{k}", base + t * sec, i) for i, (k, t) in enumerate(lefts)]
    # dedupe right per (key, ts): keep max version id (deterministic)
    r_best = {}
    for j, (k, t) in enumerate(rights):
        r_best[(f"k{k}", t)] = max(r_best.get((f"k{k}", t), -1), j)
    r_rows = [(k, base + t * sec, f"v{j}") for (k, t), j in r_best.items()]

    left = spark.createDataFrame(l_rows, "key string, ts timestamp, event_id int")
    right = spark.createDataFrame(
        r_rows or [("_none", base, "v_")], "key string, ts timestamp, ver string"
    )
    got = {
        r["event_id"]: r["r_ver"]
        for r in asof_join(left, right, on=["key"]).collect()
    }
    want = {}
    for k, ts, i in l_rows:
        cand = [(rts, v) for (rk, rts, v) in r_rows if rk == k and rts <= ts]
        want[i] = max(cand)[1] if cand else None
    assert got == want
    # hot-key pre-split variant must be IDENTICAL (bucket width chosen
    # small vs the 20 s ts range so boundaries are actually crossed)
    got_split = {
        r["event_id"]: r["r_ver"]
        for r in asof_join(left, right, on=["key"], split_seconds=3).collect()
    }
    assert got_split == want


# ---- warehouse loop: random epoch boundaries vs the python oracle ----

@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    events=st.lists(event, min_size=1, max_size=30),
    epoch_size=st.integers(1, 31),
)
def test_warehouse_loop_random_epochs_converge(spark, tmp_path_factory, events, epoch_size):
    """The warehouse tail loop over arbitrary event interleavings and epoch sizes
    must reach exactly the python-oracle state (same invariant the lake
    loop holds) — epoch boundaries may never change the answer."""
    from etl_warehouse_agnostic_spark.lake.backends import DuckBackend

    root = str(tmp_path_factory.mktemp("whprop"))
    rows = [
        (lsn, op, f"c{conv}", turn, "user", f"t{lsn}" if op != "D" else None, None)
        for lsn, (op, conv, turn) in enumerate(events, start=1)
    ]
    df = spark.createDataFrame(
        rows, "lsn long, op string, conv_id string, turn_idx int, role string, text string, ts timestamp"
    )
    duck = DuckBackend.create(
        spark, os.path.join(root, "wh.duckdb"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS
    )
    eng = CdcEngine(spark, None, ManifestStore(os.path.join(root, "ck")))
    eng.run(ChangeStreamSource(spark, df=df), epoch_size=epoch_size, sink=duck)
    got = {
        (r.conv_id, r.turn_idx): r.text
        for r in duck.read().select("conv_id", "turn_idx", "text").collect()
    }
    assert dict(sorted(got.items())) == python_oracle(events)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    events=st.lists(event, min_size=4, max_size=30),
    epoch_size=st.integers(1, 31),
    cut_frac=st.floats(0.2, 0.9),
)
def test_warehouse_crash_heal_never_loses_events(
    spark, tmp_path_factory, events, epoch_size, cut_frac
):
    """The r3 ADVICE lost-changes scenario as a property: run the
    warehouse loop over an arbitrary PREFIX of the stream, crash after
    the last epoch's MERGE but before its manifest finalize (manifest
    deleted), let the source grow to the full stream, restart — for
    EVERY (interleaving, epoch size, truncation point) the final state
    must equal the python oracle over the full stream. This holds only
    if the heal finalizes from the ledger's recorded lsn range and the
    loop re-slices the gap."""
    from etl_warehouse_agnostic_spark.lake.backends import DuckBackend

    root = str(tmp_path_factory.mktemp("whheal"))
    rows = [
        (lsn, op, f"c{conv}", turn, "user", f"t{lsn}" if op != "D" else None, None)
        for lsn, (op, conv, turn) in enumerate(events, start=1)
    ]
    df = spark.createDataFrame(
        rows, "lsn long, op string, conv_id string, turn_idx int, role string, text string, ts timestamp"
    )
    cut = max(1, int(len(rows) * cut_frac))
    prefix = df.where(f"lsn <= {cut}")

    duck = DuckBackend.create(
        spark, os.path.join(root, "wh.duckdb"), TRANSCRIPTS_SCHEMA_V1, KEY_COLS
    )
    store = ManifestStore(os.path.join(root, "ck"))
    eng = CdcEngine(spark, None, store)
    eng.run(ChangeStreamSource(spark, df=prefix), epoch_size=epoch_size, sink=duck)

    last = store.last_epoch()
    if last is not None:  # crash window on the newest epoch
        os.unlink(os.path.join(store.path, f"epoch={last:08d}.json"))

    eng.run(ChangeStreamSource(spark, df=df), epoch_size=epoch_size, sink=duck)
    got = {
        (r.conv_id, r.turn_idx): r.text
        for r in duck.read().select("conv_id", "turn_idx", "text").collect()
    }
    assert dict(sorted(got.items())) == python_oracle(events)
    assert store.high_water_lsn() == len(rows)
