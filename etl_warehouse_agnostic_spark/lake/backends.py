"""Warehouse-agnostic sink backends (the reference's headline feature).

The reference switches one pipeline between ClickHouse / Postgres /
Snowflake through a config file + connection-string factory
(config/warehouse_config.py:25-66, scripts/switch_warehouse.sh:1-66);
every extractor talks to ``get_connection_string()`` instead of a
concrete engine. This module is the Spark-native analog: one
``WarehouseBackend`` contract (merge / overwrite / read / epoch
idempotence + an applied-lsn-range ledger), THREE real
implementations, and a config-driven factory.

- :class:`LakeBackend` — the repo's snapshot-committed bucketed
  ``LakeTable`` (Iceberg-shaped copy-on-write parquet).
- :class:`DuckBackend` — an embedded SQL warehouse (DuckDB file),
  standing in for the reference's ClickHouse/Snowflake targets: the
  MERGE is executed *by the warehouse* in one transaction.
- :class:`SqliteBackend` — a second, genuinely different embedded SQL
  engine behind a DB-API connection (the Postgres/JDBC class): same
  contract, bulk transfer through a bounded-batch loader.

Scale design — the Spark→warehouse transfer never rides the driver:
Spark writes the deduped, epoch-bounded delta as PARQUET
(executor-parallel, to what would be shared/object storage on a
cluster) and the warehouse bulk-ingests those files inside the same
transaction — DuckDB via ``read_parquet`` directly; a real Postgres
via ``COPY`` of the same files. ``read()`` is the mirror image: the
warehouse exports parquet, Spark scans it in parallel. No
``toPandas``/``collect`` on any warehouse data path (enforced by
pytest). SQLite alone cannot ingest parquet natively, so its loader
streams Arrow record batches of bounded size through ``executemany``
— memory O(batch), never O(delta); on Postgres that loop IS the COPY.

Exactly-once: every backend keeps an ``_epochs`` ledger
(epoch id → rows, applied lsn range). A replayed epoch id
short-circuits to a skipped no-op BEFORE any mutation, and the
recorded lsn range lets the engine heal a crash between merge and
manifest-finalize without ever advancing the watermark past rows that
were not applied: ``CdcEngine``'s one recover finalizes such an epoch
from the ledger before the loop plans, and its one epoch body does the
same inline when a replayed epoch hits the ledger (see the
``etl_warehouse_agnostic_spark.engine`` module docstring).
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Any, Iterator, Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from etl_warehouse_agnostic_spark.lake.table import LakeTable, MergeResult


class WarehouseBackend(Protocol):
    """The sink contract every warehouse must honor (J2/J3 + T2/T3)."""

    def merge(
        self,
        upserts: DataFrame,
        delete_keys: DataFrame | None = None,
        epoch_id: int | None = None,
        lsn_range: tuple[int, int] | None = None,
    ) -> MergeResult: ...

    def overwrite(
        self,
        df: DataFrame,
        epoch_id: int | None = None,
        lsn_range: tuple[int, int] | None = None,
    ) -> MergeResult: ...

    def read(self) -> DataFrame: ...

    def committed_epochs(self) -> list[int]: ...

    def epoch_lsn_range(self, epoch_id: int) -> tuple[int, int] | None: ...

    def epoch_info(self, epoch_id: int) -> dict | None: ...


def _export_delta(df: DataFrame, schema: T.StructType, out_dir: str) -> list[str]:
    """Executor-parallel hand-off: Spark writes the epoch-bounded delta
    as parquet (on a cluster: shared/object storage) and returns the
    data files. The driver never materializes a row."""
    cols = [f.name for f in schema.fields if f.name in df.columns]
    # Ephemeral hand-off files (written once, ingested once, deleted):
    # a light codec is pure CPU savings over the session's at-rest zstd.
    df.select(*cols).write.mode("overwrite").option(
        "compression", "snappy"
    ).parquet(out_dir)
    return sorted(
        os.path.join(out_dir, f)
        for f in os.listdir(out_dir)
        if f.endswith(".parquet")
    )


class LakeBackend:
    """The default backend: snapshot-committed bucketed LakeTable."""

    def __init__(self, table: LakeTable):
        self.table = table

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_cols: list[str],
        **kw: Any,
    ) -> "LakeBackend":
        return cls(LakeTable.create(spark, path, schema, key_cols, **kw))

    def merge(self, upserts, delete_keys=None, epoch_id=None, lsn_range=None) -> MergeResult:
        extra = {"lsn_range": list(lsn_range)} if lsn_range is not None else None
        return self.table.merge(
            upserts, delete_keys=delete_keys, epoch_id=epoch_id, extra_summary=extra
        )

    def overwrite(self, df, epoch_id=None, lsn_range=None) -> MergeResult:
        return self.table.overwrite(df, epoch_id=epoch_id)

    def read(self) -> DataFrame:
        return self.table.read()

    def committed_epochs(self) -> list[int]:
        return self.table.committed_epochs()

    def epoch_committed(self, epoch_id: int) -> bool:
        return self.table.epoch_committed(epoch_id)

    @property
    def key_cols(self) -> list[str]:
        return self.table.key_cols

    def epoch_lsn_range(self, epoch_id: int) -> tuple[int, int] | None:
        snap = self.table.epoch_snapshot(epoch_id)
        if snap is None:
            return None
        rng = snap["summary"].get("lsn_range")
        if rng is None:
            # merge committed via the lake tail loop: the manifest rides
            # in the snapshot summary and carries lineage.lsn_range
            manifest = snap["summary"].get("manifest")
            rng = manifest and manifest.get("lineage", {}).get("lsn_range")
        return (int(rng[0]), int(rng[1])) if rng else None

    def epoch_info(self, epoch_id: int) -> dict | None:
        """{rows_written, lsn_lo, lsn_hi} from the commit that carried
        this epoch, or None if unknown (crash-recovery backfill)."""
        snap = self.table.epoch_snapshot(epoch_id)
        if snap is None:
            return None
        rng = self.epoch_lsn_range(epoch_id)
        return {
            "rows_written": int(snap["summary"].get("rows_written") or 0),
            "lsn_lo": rng[0] if rng else None,
            "lsn_hi": rng[1] if rng else None,
        }

    def evolve_schema(self, new_columns) -> T.StructType:
        return self.table.evolve_schema(new_columns)

    @property
    def schema(self) -> T.StructType:
        return self.table.schema


_SPARK_TO_DUCK = {
    "string": "VARCHAR",
    "int": "INTEGER",
    "bigint": "BIGINT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "boolean": "BOOLEAN",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
    "date": "DATE",
}

_EPOCHS_DDL = (
    "CREATE TABLE IF NOT EXISTS _epochs (epoch_id BIGINT PRIMARY KEY, "
    "rows_written BIGINT, lsn_lo BIGINT, lsn_hi BIGINT)"
)



def _sweep_stale_spill(spill_dir: str) -> None:
    """Reclaim spill subdirs left by a crashed process (merge/overwrite
    exports are removed in-line on the happy path; a hard kill strands
    them). Safe at open: the backend contract is single-process
    ownership, so nothing can be reading an old export when a fresh
    backend is created over the file."""
    if not os.path.isdir(spill_dir):
        return
    for d in os.listdir(spill_dir):
        if d.split("-", 1)[0] in ("up", "dk", "full", "read"):
            shutil.rmtree(os.path.join(spill_dir, d), ignore_errors=True)


def _duck_files_literal(files: list[str]) -> str:
    """SQL list literal for read_parquet (CREATE VIEW cannot be a
    prepared statement); paths are repo-generated but quoted anyway."""
    quoted = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return f"[{quoted}]"


class DuckBackend:
    """Embedded-SQL warehouse backend (ClickHouse/Snowflake stand-in).

    MERGE semantics: within ONE transaction, delete the target rows
    whose key appears in the delta (upserts ∪ deletes), insert the
    upsert rows, record the epoch + its applied lsn range. A replayed
    epoch id short-circuits to a skipped no-op BEFORE any mutation —
    the same exactly-once contract LakeTable implements with snapshot
    summaries.

    Bulk transfer is file-based both ways: Spark exports the delta as
    parquet (executor-parallel) and DuckDB ingests it with
    ``read_parquet`` inside the transaction; ``read()`` has DuckDB
    ``COPY`` the table to parquet and Spark scan it in parallel. The
    delta/export never touches the driver as rows.
    """

    def __init__(self, db_path: str, table_name: str = "target"):
        import duckdb

        self.db_path = db_path
        self.table_name = table_name
        self.spill_dir = db_path + ".spill"
        self._con = duckdb.connect(db_path)
        self._spark: SparkSession | None = None
        self._schema: T.StructType | None = None
        self._keys: list[str] = []
        self._read_dirs: list[str] = []

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_cols: list[str],
        **_: Any,
    ) -> "DuckBackend":
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        b = cls(path)
        b._spark = spark
        b._schema = schema
        b._keys = list(key_cols)
        _sweep_stale_spill(b.spill_dir)
        cols = ", ".join(
            f'"{f.name}" {_SPARK_TO_DUCK[f.dataType.simpleString()]}' for f in schema.fields
        )
        b._con.execute(f"CREATE TABLE IF NOT EXISTS {b.table_name} ({cols})")
        b._con.execute(_EPOCHS_DDL)
        # Opening a warehouse created before the lsn-range ledger: the
        # IF NOT EXISTS above keeps the old table, so add the columns.
        have = {r[0] for r in b._con.execute("DESCRIBE _epochs").fetchall()}
        for col in ("lsn_lo", "lsn_hi"):
            if col not in have:
                b._con.execute(f"ALTER TABLE _epochs ADD COLUMN {col} BIGINT")
        return b

    @property
    def schema(self) -> T.StructType:
        return self._schema

    def evolve_schema(self, new_columns) -> T.StructType:
        """Add-only evolution, executed by the warehouse itself:
        ``ALTER TABLE ... ADD COLUMN`` per new field — exactly the
        reference's evolution path
        (extractors/leaflink/extractor.py:1053-1082). Existing rows
        read the new columns as NULL, same as LakeTable's add-only
        column projection."""
        fields = new_columns.fields if isinstance(new_columns, T.StructType) else list(new_columns)
        cur_names = set(self._schema.names)
        added = [f for f in fields if f.name not in cur_names]
        for f in added:
            self._con.execute(
                f'ALTER TABLE {self.table_name} ADD COLUMN '
                f'"{f.name}" {_SPARK_TO_DUCK[f.dataType.simpleString()]}'
            )
        if added:
            self._schema = T.StructType(list(self._schema.fields) + added)
        return self._schema

    def epoch_committed(self, epoch_id: int) -> bool:
        r = self._con.execute(
            "SELECT count(*) FROM _epochs WHERE epoch_id = ?", [epoch_id]
        ).fetchone()
        return bool(r[0])

    @property
    def key_cols(self) -> list[str]:
        return list(self._keys)

    def committed_epochs(self) -> list[int]:
        return [r[0] for r in self._con.execute("SELECT epoch_id FROM _epochs ORDER BY 1").fetchall()]

    def epoch_lsn_range(self, epoch_id: int) -> tuple[int, int] | None:
        r = self._con.execute(
            "SELECT lsn_lo, lsn_hi FROM _epochs WHERE epoch_id = ?", [epoch_id]
        ).fetchone()
        if r is None or r[1] is None:
            return None
        return (int(r[0] or 0), int(r[1]))

    def epoch_info(self, epoch_id: int) -> dict | None:
        r = self._con.execute(
            "SELECT rows_written, lsn_lo, lsn_hi FROM _epochs WHERE epoch_id = ?",
            [epoch_id],
        ).fetchone()
        if r is None:
            return None
        return {"rows_written": int(r[0] or 0),
                "lsn_lo": None if r[1] is None else int(r[1]),
                "lsn_hi": None if r[2] is None else int(r[2])}

    # -- contract -----------------------------------------------------

    def _spill(self, tag: str) -> str:
        return os.path.join(self.spill_dir, f"{tag}-{uuid.uuid4().hex[:8]}")

    def merge(self, upserts, delete_keys=None, epoch_id=None, lsn_range=None) -> MergeResult:
        if epoch_id is not None and self.epoch_committed(epoch_id):
            return MergeResult(0, epoch_id, 0, 0, 0, skipped=True)
        up_dir = self._spill("up")
        dk_dir = self._spill("dk") if delete_keys is not None else None
        try:
            up_files = _export_delta(upserts, self._schema, up_dir)
            dk_files = (
                _export_delta(delete_keys.select(*self._keys),
                              T.StructType([self._schema[k] for k in self._keys]),
                              dk_dir)
                if dk_dir is not None else []
            )
            t = self.table_name
            key_eq = " AND ".join(f'{t}."{k}" = d."{k}"' for k in self._keys)
            self._con.execute("BEGIN TRANSACTION")
            try:
                rows = 0
                # Delete keys and upsert keys are removed in ONE pass
                # over the target (UNION ALL of both key sets — DELETE
                # USING has semi-join semantics, so duplicate matches
                # are harmless). All deletes land BEFORE the insert, so
                # a key present in both nets to the upsert surviving —
                # the same resolution LakeTable._merge_attempt gives
                # (the engine's split_ops never overlaps keys; direct
                # callers may). Two separate DELETEs were two full
                # target scans per epoch.
                if dk_files:
                    self._con.execute(
                        "CREATE OR REPLACE TEMP VIEW _dkeys AS SELECT * "
                        f"FROM read_parquet({_duck_files_literal(dk_files)})"
                    )
                if up_files:
                    self._con.execute(
                        "CREATE OR REPLACE TEMP VIEW _delta AS SELECT * "
                        f"FROM read_parquet({_duck_files_literal(up_files)})"
                    )
                keys_sel = ", ".join(f'"{k}"' for k in self._keys)
                del_parts = (
                    [f"SELECT {keys_sel} FROM _delta"] if up_files else []
                ) + ([f"SELECT {keys_sel} FROM _dkeys"] if dk_files else [])
                if del_parts:
                    self._con.execute(
                        f"DELETE FROM {t} USING ({' UNION ALL '.join(del_parts)}) d "
                        f"WHERE {key_eq}"
                    )
                if up_files:
                    cols = [
                        r[0] for r in
                        self._con.execute("DESCRIBE _delta").fetchall()
                    ]
                    insert_cols = ", ".join(f'"{c}"' for c in cols)
                    rows = self._con.execute(
                        f"INSERT INTO {t} ({insert_cols}) SELECT {insert_cols} FROM _delta"
                    ).fetchone()[0]
                if epoch_id is not None:
                    lo, hi = lsn_range if lsn_range is not None else (None, None)
                    self._con.execute(
                        "INSERT INTO _epochs (epoch_id, rows_written, lsn_lo, lsn_hi) "
                        "VALUES (?, ?, ?, ?)",
                        [epoch_id, rows, lo, hi],
                    )
                self._con.execute("COMMIT")
            except Exception:
                self._con.execute("ROLLBACK")
                raise
            return MergeResult(0, epoch_id, rows, 0, 0)
        finally:
            shutil.rmtree(up_dir, ignore_errors=True)
            if dk_dir is not None:
                shutil.rmtree(dk_dir, ignore_errors=True)

    def overwrite(self, df, epoch_id=None, lsn_range=None) -> MergeResult:
        # Same epoch idempotence as merge: the guard runs BEFORE any
        # mutation so a replayed overwrite is a clean skipped no-op, not
        # a delete-then-PK-conflict rollback.
        if epoch_id is not None and self.epoch_committed(epoch_id):
            return MergeResult(0, epoch_id, 0, 0, 0, skipped=True)
        full_dir = self._spill("full")
        try:
            files = _export_delta(df, self._schema, full_dir)
            t = self.table_name
            self._con.execute("BEGIN TRANSACTION")
            try:
                self._con.execute(f"DELETE FROM {t}")
                rows = 0
                if files:
                    self._con.execute(
                        "CREATE OR REPLACE TEMP VIEW _full AS SELECT * "
                        f"FROM read_parquet({_duck_files_literal(files)})"
                    )
                    cols = [
                        r[0] for r in self._con.execute("DESCRIBE _full").fetchall()
                    ]
                    insert_cols = ", ".join(f'"{c}"' for c in cols)
                    rows = self._con.execute(
                        f"INSERT INTO {t} ({insert_cols}) SELECT {insert_cols} FROM _full"
                    ).fetchone()[0]
                if epoch_id is not None:
                    lo, hi = lsn_range if lsn_range is not None else (None, None)
                    self._con.execute(
                        "INSERT INTO _epochs (epoch_id, rows_written, lsn_lo, lsn_hi) "
                        "VALUES (?, ?, ?, ?)",
                        [epoch_id, rows, lo, hi],
                    )
                self._con.execute("COMMIT")
            except Exception:
                self._con.execute("ROLLBACK")
                raise
            return MergeResult(0, epoch_id, rows, 0, 0)
        finally:
            shutil.rmtree(full_dir, ignore_errors=True)

    def read(self) -> DataFrame:
        """Parallel read-back: the warehouse exports the table as
        parquet, Spark scans the files — the file-based mirror of the
        ingest path (on a real warehouse: ``COPY ... TO`` object
        storage, or ``spark.read.jdbc`` with ``partitionColumn``). The
        driver never holds rows."""
        # The export must outlive this call (the returned DataFrame
        # scans lazily), but not forever: each read() prunes all but
        # the most recent previous export, so a long-lived process
        # holds at most TWO exports at a time. The two-deep window is
        # deliberate — a caller holding the previous read() alongside
        # this one (self-join, before/after diff) stays valid; any
        # OLDER DataFrame is invalidated and will fail loudly at action
        # time with missing input files. close() removes whatever is
        # left.
        self._prune_read_dirs(keep=1)
        out_dir = self._spill("read")
        os.makedirs(self.spill_dir, exist_ok=True)
        # PER_THREAD_OUTPUT: the warehouse writes one file per thread
        # (parallel export), Spark scans them in parallel (and splits
        # each by row group).
        self._con.execute(
            f"COPY (SELECT * FROM {self.table_name}) TO '{out_dir}' "
            "(FORMAT PARQUET, PER_THREAD_OUTPUT TRUE)"
        )
        self._read_dirs.append(out_dir)
        return self._spark.read.schema(self._schema).parquet(out_dir)

    def _prune_read_dirs(self, keep: int = 0) -> None:
        drop = self._read_dirs[: len(self._read_dirs) - keep] if keep else self._read_dirs
        for d in drop:
            shutil.rmtree(d, ignore_errors=True)
        self._read_dirs = self._read_dirs[len(self._read_dirs) - keep :] if keep else []

    def close(self) -> None:
        self._con.close()
        shutil.rmtree(self.spill_dir, ignore_errors=True)


def _sqlite_rollback_quietly(cur) -> None:
    """ROLLBACK if a transaction is active. BEGIN itself may have
    failed (e.g. ``BEGIN IMMEDIATE`` busy beyond the timeout) — a bare
    ROLLBACK then raises 'cannot rollback - no transaction is active'
    and masks the original error, so swallow exactly that case."""
    import sqlite3

    try:
        cur.execute("ROLLBACK")
    except sqlite3.OperationalError:
        pass


def _pa_to_py(column, spark_type: T.DataType):
    """Arrow column → python list in the warehouse's storage encoding
    (timestamps as epoch-microsecond ints — portable across DB-API
    engines with no native timestamp type)."""
    import pyarrow as pa

    if isinstance(spark_type, (T.TimestampType, T.TimestampNTZType)):
        # normalize to µs first (keeping any tz label so the cast is
        # legal): a timestamp[ns] column cast straight to int64 would
        # yield nanoseconds and corrupt the round-trip
        us = pa.timestamp("us", tz=getattr(column.type, "tz", None))
        return column.cast(us).cast(pa.int64()).to_pylist()
    return column.to_pylist()


class SqliteBackend:
    """DB-API warehouse backend over a second, genuinely different
    embedded engine (stdlib ``sqlite3``) — the stand-in for the
    reference's Postgres target (config/warehouse_config.py:25-45):
    every statement flows through a DB-API connection exactly as it
    would through psycopg/JDBC.

    Two load paths:

    - **Bounded driver loop** (default; the sqlite-only fallback): the
      loader streams Arrow record batches of ≤ ``batch_rows`` rows from
      the exported parquet through ``executemany`` — memory O(batch),
      never O(delta), but driver CPU O(delta).
    - **Executor-parallel staging load** (``parallel_load=True``; the
      scale path for any target that accepts concurrent connections —
      i.e. the real Postgres/JDBC idiom): every Spark partition opens
      its OWN DB-API connection and bulk-inserts its Arrow batches into
      a per-epoch STAGING table (on Postgres: per-partition ``COPY``);
      the driver then swaps staging into the target inside ONE
      transaction (delete matched keys → insert → epoch ledger).
      Exactly-once survives Spark's at-least-once task retries because
      a retried task re-commits an identical row set and the swap
      inserts ``SELECT DISTINCT``; a crash before the swap leaves only
      an orphan staging table (dropped on the next open), never a
      half-applied target — the ledger row is written inside the swap
      transaction only.

    Timestamps are stored as epoch-microsecond INTEGERs (SQLite has no
    timestamp type) and restored on ``read()``.
    """

    def __init__(self, db_path: str, table_name: str = "target",
                 batch_rows: int = 65536, parallel_load: bool = False):
        import sqlite3

        self.db_path = db_path
        self.table_name = table_name
        self.batch_rows = batch_rows
        self.parallel_load = parallel_load
        self.spill_dir = db_path + ".spill"
        # autocommit mode: transactions are managed explicitly with
        # BEGIN/COMMIT (python sqlite3's implicit transaction start
        # would collide with our explicit BEGIN)
        self._con = sqlite3.connect(db_path, isolation_level=None)
        self._last_load_pids: list[int] = []
        if parallel_load:
            # WAL lets the executor connections interleave with the
            # driver connection without "database is locked" storms
            # (writers still serialize on the file lock, as they would
            # NOT on a real server target — that is sqlite's limit,
            # not the load path's).
            self._con.execute("PRAGMA journal_mode=WAL")
            self._con.execute("PRAGMA busy_timeout=120000")
        self._spark: SparkSession | None = None
        self._schema: T.StructType | None = None
        self._keys: list[str] = []
        self._read_dirs: list[str] = []

    @staticmethod
    def _sql_type(dt: T.DataType) -> str:
        s = dt.simpleString()
        if s in ("string", "date"):
            return "TEXT"
        if s in ("int", "bigint", "boolean", "timestamp", "timestamp_ntz"):
            return "INTEGER"
        if s in ("double", "float"):
            return "REAL"
        raise ValueError(f"unsupported sqlite column type: {s}")

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_cols: list[str],
        **kw: Any,
    ) -> "SqliteBackend":
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        b = cls(path, **kw)
        b._spark = spark
        _sweep_stale_spill(b.spill_dir)
        # Orphan staging tables (crash between executor load and swap)
        # are garbage by construction — the epoch ledger row is only
        # written inside the swap transaction — so reclaim them here.
        for (name,) in b._con.execute(
            "SELECT name FROM sqlite_master WHERE type='table' "
            "AND name LIKE '~_stage~_%' ESCAPE '~'"
        ).fetchall():
            b._con.execute(f'DROP TABLE "{name}"')
        b._schema = schema
        b._keys = list(key_cols)
        cols = ", ".join(f'"{f.name}" {cls._sql_type(f.dataType)}' for f in schema.fields)
        b._con.execute(f"CREATE TABLE IF NOT EXISTS {b.table_name} ({cols})")
        # The key index is what a real warehouse target's PRIMARY KEY
        # provides: without it every per-row DELETE in the MERGE is a
        # full table scan — O(table × delta) per epoch.
        key_list = ", ".join(f'"{k}"' for k in key_cols)
        b._con.execute(
            f"CREATE UNIQUE INDEX IF NOT EXISTS {b.table_name}_key "
            f"ON {b.table_name} ({key_list})"
        )
        b._con.execute(
            "CREATE TABLE IF NOT EXISTS _epochs (epoch_id INTEGER PRIMARY KEY, "
            "rows_written INTEGER, lsn_lo INTEGER, lsn_hi INTEGER)"
        )
        have = {r[1] for r in b._con.execute("PRAGMA table_info(_epochs)").fetchall()}
        for col in ("lsn_lo", "lsn_hi"):
            if col not in have:
                b._con.execute(f"ALTER TABLE _epochs ADD COLUMN {col} INTEGER")
        return b

    @property
    def schema(self) -> T.StructType:
        return self._schema

    def evolve_schema(self, new_columns) -> T.StructType:
        fields = new_columns.fields if isinstance(new_columns, T.StructType) else list(new_columns)
        cur_names = set(self._schema.names)
        added = [f for f in fields if f.name not in cur_names]
        for f in added:
            self._con.execute(
                f'ALTER TABLE {self.table_name} ADD COLUMN '
                f'"{f.name}" {self._sql_type(f.dataType)}'
            )
        if added:
            self._schema = T.StructType(list(self._schema.fields) + added)
        return self._schema

    def epoch_committed(self, epoch_id: int) -> bool:
        r = self._con.execute(
            "SELECT count(*) FROM _epochs WHERE epoch_id = ?", [epoch_id]
        ).fetchone()
        return bool(r[0])

    @property
    def key_cols(self) -> list[str]:
        return list(self._keys)

    def committed_epochs(self) -> list[int]:
        return [r[0] for r in self._con.execute("SELECT epoch_id FROM _epochs ORDER BY 1")]

    def epoch_lsn_range(self, epoch_id: int) -> tuple[int, int] | None:
        r = self._con.execute(
            "SELECT lsn_lo, lsn_hi FROM _epochs WHERE epoch_id = ?", [epoch_id]
        ).fetchone()
        if r is None or r[1] is None:
            return None
        return (int(r[0] or 0), int(r[1]))

    def epoch_info(self, epoch_id: int) -> dict | None:
        r = self._con.execute(
            "SELECT rows_written, lsn_lo, lsn_hi FROM _epochs WHERE epoch_id = ?",
            [epoch_id],
        ).fetchone()
        if r is None:
            return None
        return {"rows_written": int(r[0] or 0),
                "lsn_lo": None if r[1] is None else int(r[1]),
                "lsn_hi": None if r[2] is None else int(r[2])}

    # -- bounded-batch loader ----------------------------------------

    def _iter_batches(self, files: list[str]) -> Iterator[tuple[list[str], list[tuple]]]:
        """Stream (columns, rows) from exported parquet in bounded
        Arrow batches — the driver holds ≤ batch_rows rows at a time."""
        import pyarrow.parquet as pq

        for path in files:
            pf = pq.ParquetFile(path)
            for batch in pf.iter_batches(batch_size=self.batch_rows):
                cols = batch.schema.names
                series = [
                    _pa_to_py(batch.column(i), self._schema[c].dataType)
                    for i, c in enumerate(cols)
                ]
                yield cols, list(zip(*series))

    def _spill(self, tag: str) -> str:
        return os.path.join(self.spill_dir, f"{tag}-{uuid.uuid4().hex[:8]}")

    # -- executor-parallel staging load (the Postgres/JDBC idiom) ------

    def _load_files_to_staging(
        self, files: list[str], schema: T.StructType, stage_table: str
    ) -> list[int]:
        """Load exported parquet into a staging table with ONE DB-API
        connection PER SPARK PARTITION (``mapInArrow`` keeps the
        transfer Arrow-batched end to end; on Postgres each partition's
        insert loop is a ``COPY``). Each partition commits its complete
        batch set or nothing (connection close without commit rolls
        back), so a retried task re-commits an identical row set — the
        swap's DISTINCT makes that harmless. Returns the distinct
        python-worker PIDs that did the loading (driver-side proof the
        work ran on executors)."""
        if not files:
            return []
        db_path = self.db_path
        dtypes = [f.dataType for f in schema.fields]
        names = [f.name for f in schema.fields]
        collist = ", ".join(f'"{c}"' for c in names)
        ph = ", ".join("?" for _ in names)
        ins = f'INSERT INTO "{stage_table}" ({collist}) VALUES ({ph})'

        def load(batches):
            import os as _os
            import sqlite3 as _sq

            import pyarrow as pa

            con = _sq.connect(db_path, timeout=120, isolation_level=None)
            try:
                con.execute("PRAGMA busy_timeout=120000")
                cur = con.cursor()
                cur.execute("BEGIN")
                n = 0
                for batch in batches:
                    series = [
                        _pa_to_py(batch.column(i), dtypes[i])
                        for i in range(batch.num_columns)
                    ]
                    cur.executemany(ins, list(zip(*series)))
                    n += batch.num_rows
                cur.execute("COMMIT")
            finally:
                con.close()
            yield pa.RecordBatch.from_pydict({"rows": [n], "pid": [_os.getpid()]})

        from pyspark.sql import functions as F

        out = (
            self._spark.read.schema(schema)
            .parquet(*files)
            .mapInArrow(load, "rows long, pid long")
        )
        pids = out.agg(F.collect_set("pid")).first()[0]
        return sorted(pids)

    def _merge_parallel(self, up_files, dk_files, epoch_id, lsn_range) -> int:
        """Staging-table MERGE: executor-parallel loads, then ONE
        driver transaction swaps staging into the target (delete
        matched keys → insert DISTINCT → epoch ledger → drop staging).
        The ledger write rides the swap, so exactly-once is unchanged;
        an orphan staging table from a crash is reclaimed at the next
        ``create``."""
        t = self.table_name
        sid = uuid.uuid4().hex[:8]
        up_st, dk_st = f"_stage_up_{sid}", f"_stage_dk_{sid}"
        key_struct = T.StructType([self._schema[k] for k in self._keys])
        self._con.execute(
            f'CREATE TABLE "{up_st}" ('
            + ", ".join(f'"{f.name}" {self._sql_type(f.dataType)}' for f in self._schema.fields)
            + ")"
        )
        self._con.execute(
            f'CREATE TABLE "{dk_st}" ('
            + ", ".join(f'"{f.name}" {self._sql_type(f.dataType)}' for f in key_struct.fields)
            + ")"
        )
        self._last_load_pids = self._load_files_to_staging(up_files, self._schema, up_st)
        self._last_load_pids += self._load_files_to_staging(dk_files, key_struct, dk_st)
        keys_sql = ", ".join(f'"{k}"' for k in self._keys)
        collist = ", ".join(f'"{f.name}"' for f in self._schema.fields)
        cur = self._con.cursor()
        try:
            cur.execute("BEGIN IMMEDIATE")
            # delete_keys first — upsert-wins netting, same as every
            # other backend's merge
            cur.execute(
                f'DELETE FROM {t} WHERE ({keys_sql}) IN (SELECT {keys_sql} FROM "{dk_st}")'
            )
            cur.execute(
                f'DELETE FROM {t} WHERE ({keys_sql}) IN (SELECT {keys_sql} FROM "{up_st}")'
            )
            cur.execute(
                f'INSERT INTO {t} ({collist}) SELECT DISTINCT {collist} FROM "{up_st}"'
            )
            rows = cur.execute("SELECT changes()").fetchone()[0]
            if epoch_id is not None:
                lo, hi = lsn_range if lsn_range is not None else (None, None)
                cur.execute(
                    "INSERT INTO _epochs (epoch_id, rows_written, lsn_lo, lsn_hi) "
                    "VALUES (?, ?, ?, ?)",
                    [epoch_id, rows, lo, hi],
                )
            cur.execute(f'DROP TABLE "{up_st}"')
            cur.execute(f'DROP TABLE "{dk_st}"')
            cur.execute("COMMIT")
        except Exception:
            _sqlite_rollback_quietly(cur)
            raise
        return rows

    def merge(self, upserts, delete_keys=None, epoch_id=None, lsn_range=None) -> MergeResult:
        if epoch_id is not None and self.epoch_committed(epoch_id):
            return MergeResult(0, epoch_id, 0, 0, 0, skipped=True)
        up_dir = self._spill("up")
        dk_dir = self._spill("dk") if delete_keys is not None else None
        try:
            up_files = _export_delta(upserts, self._schema, up_dir)
            dk_files = (
                _export_delta(delete_keys.select(*self._keys),
                              T.StructType([self._schema[k] for k in self._keys]),
                              dk_dir)
                if dk_dir is not None else []
            )
            if self.parallel_load:
                rows = self._merge_parallel(up_files, dk_files, epoch_id, lsn_range)
                return MergeResult(0, epoch_id, rows, 0, 0)
            t = self.table_name
            key_pred = " AND ".join(f'"{k}" = ?' for k in self._keys)
            cur = self._con.cursor()
            try:
                cur.execute("BEGIN")
                rows = 0
                # delete_keys first (same upsert-wins netting as
                # LakeTable._merge_attempt when a key is in both)
                for cols, batch in self._iter_batches(dk_files):
                    key_idx = [cols.index(k) for k in self._keys]
                    cur.executemany(
                        f"DELETE FROM {t} WHERE {key_pred}",
                        [tuple(r[i] for i in key_idx) for r in batch],
                    )
                for cols, batch in self._iter_batches(up_files):
                    key_idx = [cols.index(k) for k in self._keys]
                    cur.executemany(
                        f"DELETE FROM {t} WHERE {key_pred}",
                        [tuple(r[i] for i in key_idx) for r in batch],
                    )
                    collist = ", ".join(f'"{c}"' for c in cols)
                    ph = ", ".join("?" for _ in cols)
                    cur.executemany(f"INSERT INTO {t} ({collist}) VALUES ({ph})", batch)
                    rows += len(batch)
                if epoch_id is not None:
                    lo, hi = lsn_range if lsn_range is not None else (None, None)
                    cur.execute(
                        "INSERT INTO _epochs (epoch_id, rows_written, lsn_lo, lsn_hi) "
                        "VALUES (?, ?, ?, ?)",
                        [epoch_id, rows, lo, hi],
                    )
                cur.execute("COMMIT")
            except Exception:
                _sqlite_rollback_quietly(cur)
                raise
            return MergeResult(0, epoch_id, rows, 0, 0)
        finally:
            shutil.rmtree(up_dir, ignore_errors=True)
            if dk_dir is not None:
                shutil.rmtree(dk_dir, ignore_errors=True)

    def overwrite(self, df, epoch_id=None, lsn_range=None) -> MergeResult:
        if epoch_id is not None and self.epoch_committed(epoch_id):
            return MergeResult(0, epoch_id, 0, 0, 0, skipped=True)
        full_dir = self._spill("full")
        try:
            files = _export_delta(df, self._schema, full_dir)
            t = self.table_name
            if self.parallel_load:
                sid = uuid.uuid4().hex[:8]
                st = f"_stage_full_{sid}"
                self._con.execute(
                    f'CREATE TABLE "{st}" ('
                    + ", ".join(
                        f'"{f.name}" {self._sql_type(f.dataType)}'
                        for f in self._schema.fields
                    )
                    + ")"
                )
                self._last_load_pids = self._load_files_to_staging(files, self._schema, st)
                collist = ", ".join(f'"{f.name}"' for f in self._schema.fields)
                cur = self._con.cursor()
                try:
                    cur.execute("BEGIN IMMEDIATE")
                    cur.execute(f"DELETE FROM {t}")
                    cur.execute(
                        f'INSERT INTO {t} ({collist}) SELECT DISTINCT {collist} FROM "{st}"'
                    )
                    rows = cur.execute("SELECT changes()").fetchone()[0]
                    if epoch_id is not None:
                        lo, hi = lsn_range if lsn_range is not None else (None, None)
                        cur.execute(
                            "INSERT INTO _epochs (epoch_id, rows_written, lsn_lo, lsn_hi) "
                            "VALUES (?, ?, ?, ?)",
                            [epoch_id, rows, lo, hi],
                        )
                    cur.execute(f'DROP TABLE "{st}"')
                    cur.execute("COMMIT")
                except Exception:
                    _sqlite_rollback_quietly(cur)
                    raise
                return MergeResult(0, epoch_id, rows, 0, 0)
            cur = self._con.cursor()
            try:
                cur.execute("BEGIN")
                cur.execute(f"DELETE FROM {t}")
                rows = 0
                for cols, batch in self._iter_batches(files):
                    collist = ", ".join(f'"{c}"' for c in cols)
                    ph = ", ".join("?" for _ in cols)
                    cur.executemany(f"INSERT INTO {t} ({collist}) VALUES ({ph})", batch)
                    rows += len(batch)
                if epoch_id is not None:
                    lo, hi = lsn_range if lsn_range is not None else (None, None)
                    cur.execute(
                        "INSERT INTO _epochs (epoch_id, rows_written, lsn_lo, lsn_hi) "
                        "VALUES (?, ?, ?, ?)",
                        [epoch_id, rows, lo, hi],
                    )
                cur.execute("COMMIT")
            except Exception:
                _sqlite_rollback_quietly(cur)
                raise
            return MergeResult(0, epoch_id, rows, 0, 0)
        finally:
            shutil.rmtree(full_dir, ignore_errors=True)

    def read(self) -> DataFrame:
        """Export the table to parquet in bounded batches (cursor →
        Arrow ``ParquetWriter``), then Spark scans the files in
        parallel. Driver memory stays O(batch)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        # Same export-lifetime rule as DuckBackend.read(): keep the
        # most recent previous export (so a caller holding two reads —
        # self-join, before/after diff — stays valid), prune anything
        # older, bounding disk at two exports.
        drop = self._read_dirs[:-1]
        for d in drop:
            shutil.rmtree(d, ignore_errors=True)
        self._read_dirs = self._read_dirs[-1:]
        out_dir = self._spill("read")
        self._read_dirs.append(out_dir)
        os.makedirs(out_dir, exist_ok=True)
        out = os.path.join(out_dir, "table.parquet")
        arrow_schema = to_arrow_schema(self._schema)
        names = [f.name for f in self._schema.fields]
        collist = ", ".join(f'"{c}"' for c in names)
        cur = self._con.execute(f"SELECT {collist} FROM {self.table_name}")
        with pq.ParquetWriter(out, arrow_schema) as w:
            while True:
                rows = cur.fetchmany(self.batch_rows)
                if not rows:
                    break
                cols = list(zip(*rows))
                arrays = []
                for i, f in enumerate(self._schema.fields):
                    target = arrow_schema.field(i).type
                    if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
                        arrays.append(pa.array(cols[i], type=pa.int64()).cast(target))
                    elif isinstance(f.dataType, T.BooleanType):
                        arrays.append(
                            pa.array([None if v is None else bool(v) for v in cols[i]],
                                     type=target)
                        )
                    else:
                        arrays.append(pa.array(cols[i], type=target))
                w.write_table(pa.Table.from_arrays(arrays, schema=arrow_schema))
        return self._spark.read.schema(self._schema).parquet(out)

    def close(self) -> None:
        self._con.close()
        shutil.rmtree(self.spill_dir, ignore_errors=True)


def make_warehouse(
    spark: SparkSession,
    config: dict[str, Any],
    schema: T.StructType,
    key_cols: list[str],
):
    """Config-driven backend switch — the reference's
    ``get_connection_string``/``switch_warehouse.sh`` analog (three
    engines behind one flag, scripts/switch_warehouse.sh:1-66). Config:
    ``{"type": "lake"|"duckdb"|"sqlite", "path": ..., **backend kwargs}``."""
    wtype = config.get("type", "lake")
    path = config["path"]
    if wtype == "lake":
        kw = {k: v for k, v in config.items() if k not in ("type", "path")}
        return LakeBackend.create(spark, path, schema, key_cols, **kw)
    if wtype == "duckdb":
        return DuckBackend.create(spark, path, schema, key_cols)
    if wtype == "sqlite":
        kw = {k: v for k, v in config.items() if k not in ("type", "path")}
        return SqliteBackend.create(spark, path, schema, key_cols, **kw)
    raise ValueError(f"unsupported warehouse type: {wtype!r}")
