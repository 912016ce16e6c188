"""The benchmark's own seeded change-stream generator.

Drawn with NumPy and written with Arrow: no Spark, and nothing of the
program under test, which only ever sees the parquet files written here,
so a change to the program's generator cannot silently change a
workload. Every stream is also fingerprinted (rows, max LSN, content
hash) and the fingerprint is printed with the result.

Event shape (the binlog envelope the engine consumes): ``lsn`` (dense,
starting at ``lsn_start``), ``op`` I/U/D, key ``(conv_id, turn_idx)``,
payload ``role, text, tool, ts`` and the writer ``schema_ver``. Writer
schema 1 has no ``tool``; events after ``evolution_lsn`` are written
with schema 2 (the registry in ``SCHEMA_REGISTRY`` tells the engine
which payload columns each writer version carries).
"""

from __future__ import annotations

from dataclasses import dataclass

SCHEMA_REGISTRY = {1: ["role", "text", "ts"], 2: ["role", "text", "tool", "ts"]}

# Rows per parquet row group: small, so an epoch's LSN slice prunes to
# the few row groups it needs (the shape of a rolled binlog).
ROW_GROUP_ROWS = 16_384
TURNS = 50

_ROLES = ["user", "assistant", "system", "tool"]
_TOOLS = ["search", "python", "browser", "sql", "calculator"]


@dataclass(frozen=True)
class StreamSpec:
    events: int
    convs: int  # conversation ids 0..convs-1
    turns: int = TURNS
    lsn_start: int = 1
    hot_convs: int = 0  # the first hot_convs ids take hot_share of events
    hot_share: float = 0.30
    insert_pct: int = 60
    update_pct: int = 30  # the rest are deletes
    evolution_lsn: int | None = None  # events with lsn > this are schema 2


def stream_table(spec: StreamSpec, seed: int):
    """The stream as an Arrow table, drawn with NumPy from ``seed`` (and
    the spec's first LSN, so a tail differs from its base)."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng([seed, spec.lsn_start])
    n = spec.events
    lsn = np.arange(spec.lsn_start, spec.lsn_start + n, dtype=np.int64)
    if spec.hot_convs:
        hot = rng.random(n) < spec.hot_share
        cold = max(1, spec.convs - spec.hot_convs)
        conv = np.where(hot, rng.integers(0, spec.hot_convs, n),
                        spec.hot_convs + rng.integers(0, cold, n))
    else:
        conv = rng.integers(0, spec.convs, n)
    draw = rng.integers(0, 100, n)
    op = np.where(draw < spec.insert_pct, "I",
                  np.where(draw < spec.insert_pct + spec.update_pct, "U", "D"))
    turn = rng.integers(0, spec.turns, n).astype(np.int32)
    role = rng.integers(0, len(_ROLES), n)
    tool = rng.integers(0, len(_TOOLS), n)
    text_len = rng.integers(16, 64, n)  # payload length varies per event
    payload = rng.bytes(32 * n).hex()
    evo = spec.evolution_lsn if spec.evolution_lsn is not None else -1
    schema_ver = np.where(lsn > evo, 2, 1).astype(np.int32)
    ts_us = (1_735_689_600 + lsn + rng.integers(0, 30, n)) * 1_000_000

    conv_ids = [f"c{c:07d}" for c in conv.tolist()]
    live = (op != "D").tolist()
    roles = [_ROLES[r] if ok else None for r, ok in zip(role.tolist(), live)]
    texts = [
        f"{c}/{t}@{x}:{payload[64 * i:64 * i + k]}" if ok else None
        for i, (c, t, x, k, ok) in enumerate(
            zip(conv_ids, turn.tolist(), lsn.tolist(), text_len.tolist(), live))
    ]
    tools = [
        _TOOLS[t] if ok and v == 2 and r == "tool" else None
        for t, ok, v, r in zip(tool.tolist(), live, schema_ver.tolist(), roles)
    ]
    return pa.table({
        "lsn": lsn,
        "op": op.tolist(),
        "conv_id": conv_ids,
        "turn_idx": turn,
        "role": pa.array(roles, pa.string()),
        "text": pa.array(texts, pa.string()),
        "tool": pa.array(tools, pa.string()),
        "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        "schema_ver": schema_ver,
    })


def base_table(convs: int, turns: int, seed: int):
    """A dense table snapshot: every turn of conversations 0..convs-1,
    in the post-evolution schema (no change envelope)."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng([seed, 0])
    n = convs * turns
    conv = np.repeat(np.arange(convs), turns)
    turn = np.tile(np.arange(turns, dtype=np.int32), convs)
    role = rng.integers(0, len(_ROLES), n)
    tool = rng.integers(0, len(_TOOLS), n)
    text_len = rng.integers(16, 64, n)
    payload = rng.bytes(32 * n).hex()
    conv_ids = [f"c{c:07d}" for c in conv.tolist()]
    roles = [_ROLES[r] for r in role.tolist()]
    return pa.table({
        "conv_id": conv_ids,
        "turn_idx": turn,
        "role": roles,
        "text": [f"{c}/{t}@0:{payload[64 * i:64 * i + k]}" for i, (c, t, k) in
                 enumerate(zip(conv_ids, turn.tolist(), text_len.tolist()))],
        "tool": pa.array([_TOOLS[t] if r == "tool" else None
                          for t, r in zip(tool.tolist(), roles)], pa.string()),
        "ts": pa.array(np.full(n, 1_735_603_200_000_000), pa.timestamp("us", tz="UTC")),
    })


def write_base(convs: int, turns: int, seed: int, path: str, files: int) -> None:
    _write(base_table(convs, turns, seed), path, files, "base")


def write_stream(spec: StreamSpec, seed: int, path: str, files: int) -> None:
    """Write the stream as ``files`` parquet files of consecutive LSN
    ranges, in small row groups."""
    _write(stream_table(spec, seed), path, files, f"part-{spec.lsn_start:012d}")


def _write(table, path: str, files: int, prefix: str) -> None:
    import os

    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    per_file = -(-table.num_rows // files)
    for k in range(files):
        part = table.slice(k * per_file, per_file)
        if part.num_rows:
            name = f"{prefix}-{k:05d}.parquet"
            pq.write_table(part, os.path.join(path, name), row_group_size=ROW_GROUP_ROWS)


def fingerprint(con, files: list[str]) -> dict:
    """rows, max LSN (streams) and an order-independent content hash of
    written inputs (DuckDB over the parquet files)."""
    cols = [r[0] for r in con.execute(
        f"DESCRIBE SELECT * FROM read_parquet({sql_list(files)})").fetchall()]
    row_hash = "hash(" + ", ".join("epoch_us(ts)" if c == "ts" else c for c in cols) + ")"
    rows, max_lsn, digest = con.execute(
        f"SELECT count(*), {'max(lsn)' if 'lsn' in cols else 'NULL'},"
        f" sum({row_hash} % 1000000007) FROM read_parquet({sql_list(files)})"
    ).fetchone()
    out = {"rows": int(rows), "hash": int(digest)}
    if max_lsn is not None:
        out["max_lsn"] = int(max_lsn)
    return out


def sql_list(files: list[str]) -> str:
    return "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "]"


def parquet_files(path: str) -> list[str]:
    import os

    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )
