"""Warehouse-agnostic sink backends (the reference's headline feature).

The reference switches one pipeline between ClickHouse / Postgres /
Snowflake through a config file + connection-string factory
(config/warehouse_config.py:25-66, scripts/switch_warehouse.sh:1-66);
every extractor talks to ``get_connection_string()`` instead of a
concrete engine. This module is the Spark-native analog: a
config-driven factory over THREE real sinks.

The lake sink is :class:`~etl_warehouse_agnostic_spark.lake.table.LakeTable`
itself (Iceberg-shaped copy-on-write parquet): ``make_warehouse``
returns the table, and the engine takes its one lake path for it —
bucketed stage, epoch census, the whole manifest in the snapshot
summary. The two SQL warehouses honour the ``WarehouseBackend``
contract (merge / merge_files / overwrite / read / epoch idempotence +
an epoch ledger that records the epoch's manifest):

- :class:`DuckBackend` — an embedded SQL warehouse (DuckDB file),
  standing in for the reference's ClickHouse/Snowflake targets: the
  MERGE is executed *by the warehouse* in one transaction.
- :class:`SqliteBackend` — a second, genuinely different embedded SQL
  engine behind a DB-API connection (the Postgres/JDBC class): same
  contract, bulk transfer through a bounded-batch loader.

The two SQL warehouses share one body (``_SqlWarehouse``): the
``_epochs`` ledger, schema evolution (the evolved Spark schema is kept
in a one-row ``_schema`` table, so a reopened warehouse keeps its added
columns), the spill lifecycle and the merge/overwrite transaction
skeleton. Each engine supplies only its
column types, how it begins and rolls back a transaction, how it
applies a parquet file set, and ``read()``.

Scale design — the Spark→warehouse transfer never rides the driver:
Spark writes the deduped, epoch-bounded delta once as op-tagged
parquet (executor-parallel, to what would be shared/object storage on
a cluster) and ``merge_files`` bulk-ingests those files in one
transaction — DuckDB via ``read_parquet`` directly; a real Postgres
via ``COPY`` of the same files. The engine hands over the delta it
staged for the epoch; a DataFrame ``merge`` (the models' path) writes
one export. ``read()`` is the mirror image: the warehouse exports
parquet, Spark scans it in parallel. No
``toPandas``/``collect`` on any warehouse data path (enforced by
pytest). SQLite cannot ingest parquet natively, so its one load path
streams Arrow record batches of bounded size through ``executemany``
— memory O(batch), never O(delta); on Postgres that loop IS the COPY.

Exactly-once: every sink keeps one epoch ledger, and the engine's
commit of an epoch records the epoch's checkpoint manifest in it, in
the same transaction as the data: a SQL warehouse's ``_epochs`` table
(epoch id → manifest JSON, ``merge_files(manifest=)``), the lake
table's snapshot summaries (``merge(manifest=)``); both read it back
through ``epoch_manifest``. A replayed epoch id short-circuits to a
skipped no-op BEFORE any mutation, and ``CdcEngine`` heals a crash
between merge and manifest-finalize by finalizing the recorded
manifest, so the watermark never passes rows that were not applied
(see the ``etl_warehouse_agnostic_spark.engine`` module docstring). A
warehouse whose ``_epochs`` table has no ``manifest`` column (an older
ledger format) raises on open; one without a ``_schema`` table starts
from the caller's schema.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid
from typing import Any, Iterator, Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_warehouse_agnostic_spark.lake.table import LakeTable, MergeResult

# a merge file set's op column: 'D' marks a delete key, else an upsert
_OP = "op"


class WarehouseBackend(Protocol):
    """The contract of a non-lake sink: exactly what the engine and the
    models call on a warehouse (J2/J3 + T2/T3). A ``LakeTable`` sink is
    told apart by its type and takes the engine's lake path instead.
    The engine records an epoch's manifest only through
    ``merge_files``."""

    def merge(
        self,
        upserts: DataFrame,
        delete_keys: DataFrame | None = None,
        epoch_id: int | None = None,
    ) -> MergeResult: ...

    def merge_files(
        self,
        files: list[str],
        epoch_id: int | None = None,
        manifest: dict | None = None,
    ) -> MergeResult: ...

    def overwrite(self, df: DataFrame, epoch_id: int | None = None) -> MergeResult: ...

    def read(self) -> DataFrame: ...

    @property
    def schema(self) -> T.StructType: ...

    @property
    def key_cols(self) -> list[str]: ...

    def evolve_schema(self, new_columns) -> T.StructType: ...

    def committed_epochs(self) -> list[int]: ...

    def epoch_committed(self, epoch_id: int) -> bool: ...

    def epoch_manifest(self, epoch_id: int) -> tuple[dict, MergeResult] | None: ...

    def record_epochs(self, epoch_ids: list[int]) -> int | None: ...


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


# Rows per Arrow batch on SQLite's load and read-back loops: the
# driver holds at most this many rows at a time.
_BATCH_ROWS = 65536


def _sweep_stale_spill(spill_dir: str) -> None:
    """Reclaim spill subdirs left by a crashed process (merge/overwrite
    exports are removed in-line on the happy path, read exports on the
    next read or close; a hard kill strands them). Safe at open: the
    backend contract is single-process ownership, so nothing can be
    reading an old export when a fresh backend is created over the
    file."""
    if not os.path.isdir(spill_dir):
        return
    for d in os.listdir(spill_dir):
        if d.split("-", 1)[0] in ("up", "full", "read"):
            shutil.rmtree(os.path.join(spill_dir, d), ignore_errors=True)


class _SqlWarehouse:
    """The body both SQL warehouses share.

    MERGE semantics (``merge_files``): within ONE transaction, delete
    the target rows whose key appears in the op-tagged file set, insert
    its rows with ``op <> 'D'``, record the epoch + its manifest in the
    ``_epochs`` ledger. Every delete lands before any
    insert, so a key both upserted and deleted nets to the upsert, as
    in ``LakeTable.merge``. A replayed epoch id short-circuits
    to a skipped no-op BEFORE any export or mutation — the same
    exactly-once contract LakeTable implements with snapshot summaries.
    A DataFrame ``merge`` or ``overwrite`` reaches the warehouse as one
    parquet export by Spark into ``spill_dir``, removed once the
    transaction ends.

    A subclass supplies ``_TYPES`` (Spark type → column type),
    ``_connect``, ``_BEGIN``/``_rollback``, ``_columns``, how a file
    set is applied (``_apply_merge``/``_apply_overwrite``, returning
    the rows inserted) and ``read()``.
    """

    _TYPES: dict[str, str]
    _BEGIN: str

    def __init__(self, db_path: str, table_name: str = "target"):
        self.db_path = db_path
        self.table_name = table_name
        self.spill_dir = db_path + ".spill"
        self._con = self._connect(db_path)
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
    ) -> "_SqlWarehouse":
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        b = cls(path)
        b._spark = spark
        b._keys = list(key_cols)
        _sweep_stale_spill(b.spill_dir)
        b._con.execute(
            f"CREATE TABLE IF NOT EXISTS _epochs (epoch_id {b._TYPES['bigint']} PRIMARY KEY, "
            f"manifest {b._TYPES['string']})"
        )
        if "manifest" not in b._columns("_epochs"):
            b._con.close()
            raise ValueError(
                f"{path}: its _epochs ledger has no manifest column (an older "
                "ledger format), so a lost manifest could not be healed from it"
            )
        # the Spark schema, evolved columns included; a file without one
        # starts from the caller's
        b._con.execute(f"CREATE TABLE IF NOT EXISTS _schema (spark_schema {b._TYPES['string']})")
        row = b._con.execute("SELECT spark_schema FROM _schema").fetchone()
        if row is None:
            b._con.execute("INSERT INTO _schema VALUES (?)", [schema.json()])
        b._schema = schema if row is None else T.StructType.fromJson(json.loads(row[0]))
        b._create_target()
        return b

    def _sql_type(self, dt: T.DataType) -> str:
        try:
            return self._TYPES[dt.simpleString()]
        except KeyError:
            raise ValueError(
                f"unsupported {type(self).__name__} column type: {dt.simpleString()}"
            ) from None

    def _create_target(self) -> None:
        cols = ", ".join(f'"{f.name}" {self._sql_type(f.dataType)}' for f in self._schema.fields)
        self._con.execute(f"CREATE TABLE IF NOT EXISTS {self.table_name} ({cols})")

    @property
    def schema(self) -> T.StructType:
        return self._schema

    @property
    def key_cols(self) -> list[str]:
        return list(self._keys)

    def evolve_schema(self, new_columns) -> T.StructType:
        """Add-only evolution, executed by the warehouse itself:
        ``ALTER TABLE ... ADD COLUMN`` per new field — exactly the
        reference's evolution path
        (extractors/leaflink/extractor.py:1053-1082) — and the evolved
        schema rewritten into ``_schema``, in one transaction. Existing
        rows read the new columns as NULL, same as LakeTable's add-only
        column projection."""
        fields = new_columns.fields if isinstance(new_columns, T.StructType) else list(new_columns)
        cur_names = set(self._schema.names)
        added = [f for f in fields if f.name not in cur_names]
        if added:
            schema = T.StructType(list(self._schema.fields) + added)
            with self._transaction():
                for f in added:
                    self._con.execute(
                        f'ALTER TABLE {self.table_name} ADD COLUMN '
                        f'"{f.name}" {self._sql_type(f.dataType)}'
                    )
                self._con.execute("UPDATE _schema SET spark_schema = ?", [schema.json()])
            self._schema = schema
        return self._schema

    # -- the epoch ledger ----------------------------------------------

    def epoch_committed(self, epoch_id: int) -> bool:
        r = self._con.execute(
            "SELECT count(*) FROM _epochs WHERE epoch_id = ?", [epoch_id]
        ).fetchone()
        return bool(r[0])

    def committed_epochs(self) -> list[int]:
        return [r[0] for r in self._con.execute("SELECT epoch_id FROM _epochs ORDER BY 1").fetchall()]

    def epoch_manifest(self, epoch_id: int) -> tuple[dict, MergeResult] | None:
        """``LakeTable.epoch_manifest`` for the ledger: the manifest
        ``merge_files`` recorded with the epoch, and a result with the
        version and bytes its live commit returned (0: a warehouse has
        no versions and counts no bytes); None when the epoch was
        stamped without one."""
        r = self._con.execute(
            "SELECT manifest FROM _epochs WHERE epoch_id = ?", [epoch_id]
        ).fetchone()
        if r is None or r[0] is None:
            return None
        return json.loads(r[0]), MergeResult(0, epoch_id, 0, 0, 0)

    def record_epochs(self, epoch_ids: list[int]) -> None:
        """``LakeTable.record_epochs`` for the ledger: the ids not yet
        committed, with no data change and no manifest, in ONE insert
        (its own transaction on the autocommit connection)."""
        new = sorted(set(epoch_ids) - set(self.committed_epochs()))
        if new:
            self._con.execute("INSERT INTO _epochs (epoch_id) VALUES "
                              + ", ".join(["(?)"] * len(new)), new)

    # -- contract -----------------------------------------------------

    def merge(self, upserts, delete_keys=None, epoch_id=None) -> MergeResult:
        delta = upserts.withColumn(_OP, F.lit("U"))
        if delete_keys is not None:
            dk = delete_keys.select(*self._keys).withColumn(_OP, F.lit("D"))
            delta = delta.unionByName(dk, allowMissingColumns=True)
        schema = T.StructType(list(self._schema.fields) + [T.StructField(_OP, T.StringType())])
        return self._commit_epoch(epoch_id, self._apply_merge, export=("up", delta, schema))

    def merge_files(self, files, epoch_id=None, manifest=None) -> MergeResult:
        return self._commit_epoch(epoch_id, self._apply_merge, files=files, manifest=manifest)

    def overwrite(self, df, epoch_id=None) -> MergeResult:
        return self._commit_epoch(epoch_id, self._apply_overwrite,
                                  export=("full", df, self._schema))

    def _commit_epoch(self, epoch_id, apply, files=(), export=None,
                      manifest=None) -> MergeResult:
        """Replay check → ``files``, or the (tag, df, schema) ``export``
        Spark writes into a spill dir → ONE transaction: ``apply(files)``
        + the ledger row (with the ``manifest`` when ``merge_files`` has
        one) → commit (rollback on error) → spill cleanup."""
        # The guard runs BEFORE any export or mutation, so a replayed
        # epoch is a clean skipped no-op, not a PK-conflict rollback.
        if epoch_id is not None and self.epoch_committed(epoch_id):
            return MergeResult(0, epoch_id, 0, 0, 0, skipped=True)
        spill = export and self._spill(export[0])
        try:
            if export:
                files = _export_delta(export[1], export[2], spill)
            with self._transaction():
                rows = apply(files)
                if epoch_id is not None:
                    self._con.execute(
                        "INSERT INTO _epochs (epoch_id, manifest) VALUES (?, ?)",
                        [epoch_id, None if manifest is None else json.dumps(manifest, default=str)],
                    )
            return MergeResult(0, epoch_id, rows, 0, 0)
        finally:
            if spill:
                shutil.rmtree(spill, ignore_errors=True)

    @contextlib.contextmanager
    def _transaction(self):  # commit the block, or roll it back
        self._con.execute(self._BEGIN)
        try:
            yield
            self._con.execute("COMMIT")
        except Exception:
            self._rollback()
            raise

    # -- spill lifecycle ------------------------------------------------

    def _spill(self, tag: str) -> str:
        return os.path.join(self.spill_dir, f"{tag}-{uuid.uuid4().hex[:8]}")

    def _read_dir(self) -> str:
        """A fresh export dir for ``read()``. The export must outlive
        the call (the returned DataFrame scans lazily), but not
        forever: each read() prunes all but the most recent previous
        export, so a long-lived process holds at most TWO exports at a
        time. The two-deep window is deliberate — a caller holding the
        previous read() alongside this one (self-join, before/after
        diff) stays valid; any OLDER DataFrame is invalidated and will
        fail loudly at action time with missing input files. close()
        removes whatever is left."""
        for d in self._read_dirs[:-1]:
            shutil.rmtree(d, ignore_errors=True)
        out_dir = self._spill("read")
        self._read_dirs = self._read_dirs[-1:] + [out_dir]
        return out_dir

    def close(self) -> None:
        self._con.close()
        shutil.rmtree(self.spill_dir, ignore_errors=True)


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


def _duck_files_literal(files: list[str]) -> str:
    """SQL list literal for read_parquet (CREATE VIEW cannot be a
    prepared statement); paths are repo-generated but quoted anyway."""
    quoted = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return f"[{quoted}]"


class DuckBackend(_SqlWarehouse):
    """Embedded-SQL warehouse backend (ClickHouse/Snowflake stand-in).

    Bulk transfer is file-based both ways: DuckDB ingests the exported
    delta with ``read_parquet`` inside the transaction; ``read()`` has
    DuckDB ``COPY`` the table to parquet and Spark scan it in parallel.
    The delta/export never touches the driver as rows.
    """

    _TYPES = _SPARK_TO_DUCK
    _BEGIN = "BEGIN TRANSACTION"

    @staticmethod
    def _connect(db_path: str):
        import duckdb

        return duckdb.connect(db_path)

    def _rollback(self) -> None:
        self._con.execute("ROLLBACK")

    def _columns(self, relation: str) -> list[str]:
        return [r[0] for r in self._con.execute(f"DESCRIBE {relation}").fetchall()]

    def _view(self, name: str, files: list[str]) -> None:
        self._con.execute(
            f"CREATE OR REPLACE TEMP VIEW {name} AS SELECT * "
            f"FROM read_parquet({_duck_files_literal(files)})"
        )

    def _insert_from(self, view: str, where: str = "") -> int:
        cols = [c for c in self._columns(view) if c in self._schema.names]
        insert_cols = ", ".join(f'"{c}"' for c in cols)
        return self._con.execute(
            f"INSERT INTO {self.table_name} ({insert_cols}) "
            f"SELECT {insert_cols} FROM {view} {where}"
        ).fetchone()[0]

    def _apply_merge(self, files: list[str]) -> int:
        # Every key of the file set is removed in ONE pass over the
        # target (DELETE USING has semi-join semantics, so duplicate
        # matches are harmless), before the insert.
        if not files:
            return 0
        t = self.table_name
        self._view("_delta", files)
        key_eq = " AND ".join(f'{t}."{k}" = d."{k}"' for k in self._keys)
        self._con.execute(f"DELETE FROM {t} USING _delta d WHERE {key_eq}")
        return self._insert_from("_delta", where=f"WHERE \"{_OP}\" <> 'D'")

    def _apply_overwrite(self, files: list[str]) -> int:
        self._con.execute(f"DELETE FROM {self.table_name}")
        if not files:
            return 0
        self._view("_full", files)
        return self._insert_from("_full")

    def read(self) -> DataFrame:
        """Parallel read-back: the warehouse exports the table as
        parquet, Spark scans the files — the file-based mirror of the
        ingest path (on a real warehouse: ``COPY ... TO`` object
        storage, or ``spark.read.jdbc`` with ``partitionColumn``). The
        driver never holds rows."""
        out_dir = self._read_dir()
        os.makedirs(self.spill_dir, exist_ok=True)
        # PER_THREAD_OUTPUT: the warehouse writes one file per thread
        # (parallel export), Spark scans them in parallel (and splits
        # each by row group).
        self._con.execute(
            f"COPY (SELECT * FROM {self.table_name}) TO '{out_dir}' "
            "(FORMAT PARQUET, PER_THREAD_OUTPUT TRUE)"
        )
        return self._spark.read.schema(self._schema).parquet(out_dir)


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


class SqliteBackend(_SqlWarehouse):
    """DB-API warehouse backend over a second, genuinely different
    embedded engine (stdlib ``sqlite3``) — the stand-in for the
    reference's Postgres target (config/warehouse_config.py:25-45):
    every statement flows through a DB-API connection exactly as it
    would through psycopg/JDBC.

    One load path: the loader streams Arrow record batches of at most
    ``_BATCH_ROWS`` rows from the exported parquet through
    ``executemany`` — memory O(batch), never O(delta), driver CPU
    O(delta). On Postgres that loop is a ``COPY`` of the same files.

    Timestamps are stored as epoch-microsecond INTEGERs (SQLite has no
    timestamp type) and restored on ``read()``.
    """

    _TYPES = {
        "string": "TEXT", "date": "TEXT",
        "int": "INTEGER", "bigint": "INTEGER", "boolean": "INTEGER",
        "timestamp": "INTEGER", "timestamp_ntz": "INTEGER",
        "double": "REAL", "float": "REAL",
    }
    # autocommit connection: transactions are managed explicitly
    # (python sqlite3's implicit transaction start would collide with
    # an explicit BEGIN)
    _BEGIN = "BEGIN"

    @staticmethod
    def _connect(db_path: str):
        import sqlite3

        # not bound to the opening thread: the engine applies a model's
        # epoch on a worker thread (one thread at a time per backend,
        # like DuckDB's connection)
        return sqlite3.connect(db_path, isolation_level=None, check_same_thread=False)

    def _rollback(self) -> None:
        """ROLLBACK if a transaction is active. SQLite ends the
        transaction itself on some errors — a bare ROLLBACK then raises
        'cannot rollback - no transaction is active' and masks the
        original error, so swallow exactly that case."""
        import sqlite3

        try:
            self._con.execute("ROLLBACK")
        except sqlite3.OperationalError:
            pass

    def _columns(self, relation: str) -> list[str]:
        return [r[1] for r in self._con.execute(f"PRAGMA table_info({relation})").fetchall()]

    def _create_target(self) -> None:
        super()._create_target()
        # The key index is what a real warehouse target's PRIMARY KEY
        # provides: without it every per-row DELETE in the MERGE is a
        # full table scan — O(table × delta) per epoch.
        t = self.table_name
        key_list = ", ".join(f'"{k}"' for k in self._keys)
        self._con.execute(f"CREATE UNIQUE INDEX IF NOT EXISTS {t}_key ON {t} ({key_list})")

    def _iter_batches(self, files: list[str], keys_only: bool = False
                      ) -> Iterator[tuple[list[str], list[tuple]]]:
        """Stream (columns, rows) of the target's columns from parquet
        in bounded Arrow batches — the driver holds ≤ _BATCH_ROWS rows
        at a time. An op-tagged file yields its upsert rows, or with
        ``keys_only`` the keys of every row."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        for path in files:
            pf = pq.ParquetFile(path)
            names = pf.schema_arrow.names
            cols = self._keys if keys_only else [c for c in names if c in self._schema.names]
            tagged = _OP in names and not keys_only
            for batch in pf.iter_batches(batch_size=_BATCH_ROWS,
                                         columns=cols + ([_OP] if tagged else [])):
                if tagged:
                    batch = batch.filter(pc.not_equal(batch.column(_OP), "D"))
                series = [_pa_to_py(batch.column(c), self._schema[c].dataType) for c in cols]
                yield cols, list(zip(*series))

    def _insert(self, cols: list[str], batch: list[tuple]) -> int:
        collist = ", ".join(f'"{c}"' for c in cols)
        ph = ", ".join("?" for _ in cols)
        self._con.executemany(f"INSERT INTO {self.table_name} ({collist}) VALUES ({ph})", batch)
        return len(batch)

    def _apply_merge(self, files: list[str]) -> int:
        # every key of every batch goes before any row comes in (the
        # same upsert-wins netting as LakeTable.merge when a
        # key is both upserted and deleted)
        key_pred = " AND ".join(f'"{k}" = ?' for k in self._keys)
        for _, keys in self._iter_batches(files, keys_only=True):
            self._con.executemany(f"DELETE FROM {self.table_name} WHERE {key_pred}", keys)
        return sum(self._insert(cols, batch) for cols, batch in self._iter_batches(files))

    def _apply_overwrite(self, files: list[str]) -> int:
        self._con.execute(f"DELETE FROM {self.table_name}")
        return sum(self._insert(cols, batch) for cols, batch in self._iter_batches(files))

    def read(self) -> DataFrame:
        """Export the table to parquet in bounded batches (cursor →
        Arrow ``ParquetWriter``), then Spark scans the files in
        parallel. Driver memory stays O(batch)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        out_dir = self._read_dir()
        os.makedirs(out_dir, exist_ok=True)
        out = os.path.join(out_dir, "table.parquet")
        arrow_schema = to_arrow_schema(self._schema)
        names = [f.name for f in self._schema.fields]
        collist = ", ".join(f'"{c}"' for c in names)
        cur = self._con.execute(f"SELECT {collist} FROM {self.table_name}")
        with pq.ParquetWriter(out, arrow_schema) as w:
            while True:
                rows = cur.fetchmany(_BATCH_ROWS)
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


_SQL_WAREHOUSES = {"duckdb": DuckBackend, "sqlite": SqliteBackend}


def make_warehouse(
    spark: SparkSession,
    config: dict[str, Any],
    schema: T.StructType,
    key_cols: list[str],
):
    """Config-driven backend switch — the reference's
    ``get_connection_string``/``switch_warehouse.sh`` analog (three
    engines behind one flag, scripts/switch_warehouse.sh:1-66). Config:
    ``{"type": "lake"|"duckdb"|"sqlite", "path": ..., **kwargs}``; only
    the lake type takes kwargs (``LakeTable.create``'s) and returns the
    ``LakeTable`` itself, a SQL warehouse rejects any other key."""
    wtype = config.get("type", "lake")
    path = config["path"]
    kw = {k: v for k, v in config.items() if k not in ("type", "path")}
    if wtype == "lake":
        return LakeTable.create(spark, path, schema, key_cols, **kw)
    if wtype not in _SQL_WAREHOUSES:
        raise ValueError(f"unsupported warehouse type: {wtype!r}")
    if kw:
        raise ValueError(f"unknown {wtype} warehouse config keys: {sorted(kw)}")
    return _SQL_WAREHOUSES[wtype].create(spark, path, schema, key_cols)
