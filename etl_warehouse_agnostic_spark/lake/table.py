"""Snapshot-committed lake table with copy-on-write bucket MERGE.

An Iceberg-shaped table format implemented from scratch on parquet +
JSON snapshots, because no Iceberg runtime jar ships in this sandbox.
The semantics mirror Iceberg v2 copy-on-write:

- **Atomic commits**: a snapshot is a JSON file ``_meta/v<N>.json``
  created with ``os.link`` (fails if the version exists → optimistic
  concurrency, like Iceberg's metadata swap). Readers always see a
  complete snapshot or the previous one, never a torn state. Every
  table change (merge, overwrite, schema evolution, epoch stamp,
  compaction, rebucket) is one attempt that reads one snapshot, takes
  every decision from it and publishes the next version. An attempt
  that loses the version race deletes the data it wrote, and the change
  is re-decided against the winner's snapshot (Iceberg's commit retry):
  two merges of different keys both land, a retried overwrite is a
  later full refresh, a retried schema or epoch stamp re-diffs. A
  thread can hold its commits behind a gate (``gated_commits``): the
  attempt writes, waits, and deletes its data if the gate refuses.
- **Bucketed layout**: data files are grouped by
  ``bucket = pmod(xxhash64(conv_id), num_buckets)`` (Iceberg's
  ``bucket(N, conv_id)`` transform). A MERGE rewrites only the buckets
  that contain changed keys — at 10^10 rows with 4096 buckets an epoch
  touching 1% of conversations rewrites ~1% of the table.
- **Schema evolution**: each snapshot carries its schema; columns are
  add-only (reference analog: ``ALTER TABLE ADD COLUMN`` per new
  DataFrame column, extractors/leaflink/extractor.py:1053-1082). Old
  files are read through the evolved schema; missing columns read as
  NULL (same as Iceberg column-id projection for add-only evolution).
- **Exactly-once**: every MERGE commit stamps the epoch id into the
  snapshot summary; committed epoch ids are carried forward so a
  replayed epoch is detected as a no-op (reference analog: the
  duplicate-batch check on ``_extracted_at``,
  extractors/repsly/extractor.py:703-718).
- **Time travel**: ``read(version=k)`` reads any retained snapshot —
  the basis for replay-from-checkpoint convergence tests.

On a deployment with a real Iceberg catalog, this class is the swap
point: ``merge()`` becomes ``MERGE INTO t USING s ON t.conv_id =
s.conv_id AND t.turn_idx = s.turn_idx WHEN MATCHED ... `` and the
snapshot summary check becomes Iceberg's snapshot-summary lookup. The
engine above it (dedup, epoch loop, manifests) is unchanged.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import shutil
import threading
import time
import uuid
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_warehouse_agnostic_spark.functions.scalars import bucket_of
from etl_warehouse_agnostic_spark.lake.manifest import publish_json, utc_now
from etl_warehouse_agnostic_spark.operators.evolution import project_columns

_BUCKET = "_bucket"  # physical layout column kept in data files
_PB = "_pb"  # throwaway copy used only for partitionBy at write time
_PD = "_pd"  # time-partition dir (days(ts)/months(ts) transform value)

_GRANULE_FMT = {"day": "yyyy-MM-dd", "month": "yyyy-MM"}


def _file_day(relpath: str) -> str | None:
    """Time-partition value encoded in a data-file path, or None."""
    for seg in relpath.split(os.sep):
        if seg.startswith(f"{_PD}="):
            return seg.split("=", 1)[1]
    return None


def _check_day_range(snap: dict, day_range: tuple[str, str] | None) -> None:
    """Raise unless ``day_range`` is None or spelled in snapshot
    ``snap``'s time-partition granule (see :meth:`LakeTable.read`)."""
    if day_range is None:
        return
    spec = snap.get("partition_spec")
    if spec is None:
        raise ValueError(
            "day_range requires a time partition_spec; this table has none "
            "— use a plain .where() filter instead"
        )
    pat = {"day": r"^\d{4}-\d{2}-\d{2}$", "month": r"^\d{4}-\d{2}$"}[spec["transform"]]
    for bound in day_range:
        if not re.match(pat, str(bound)):
            raise ValueError(
                f"day_range bound {bound!r} does not match the table's "
                f"'{spec['transform']}' granule format "
                f"({_GRANULE_FMT[spec['transform']]})"
            )


def _with_bucket(df: DataFrame, snap: dict) -> DataFrame:
    """df plus its ``_bucket`` in snapshot ``snap``'s layout."""
    return df.withColumn(_BUCKET, bucket_of(snap["key_cols"][0], int(snap["num_buckets"])))


class CommitConflict(RuntimeError):
    """Another writer committed this version first (optimistic lock).

    ``written_dir`` carries the losing attempt's data directory so the
    retry loop can reclaim it before re-trying."""

    written_dir: str | None = None


# Attempts after the first that a writer makes before giving up.
_COMMIT_RETRIES = 3

# MERGE anti-join build side: when the caller KNOWS the changed row
# count (an EpochCensus of the merge's own changes: the bronze staged
# files' footers, or the day rollup's Observation; the engine strips
# the count from the bronze census it hands the models, since a
# transform may fan out) and it is under this bound, the key set is
# broadcast so the survivors scan is never shuffled by key — the guide-§3.1 "broadcast
# the side you know is small" call the planner cannot make from size
# estimates alone. The broadcast side is the changed KEY columns only
# (``changed_keys.select(*keys)``), never payload, so a row bound is
# already a key-width bound: ~4M keys ≈ low hundreds of MB built, fine
# for executors with tens of GB; larger deltas fall back to the
# shuffled plan (AQE may still localize it).
_BROADCAST_CHANGED_KEYS_MAX_ROWS = 4_000_000


# The commit gate of the calling thread (see ``gated_commits``).
_gate = threading.local()


@contextlib.contextmanager
def gated_commits(wait: Callable[[], Any]):
    """Hold every table commit this thread makes inside the block until
    ``wait()`` returns: an attempt writes its data, then calls ``wait``
    just before it publishes. If ``wait`` raises, the attempt deletes
    the data it wrote and the error propagates, so nothing commits.
    The engine runs each model's merge under the sink's commit of the
    epoch this way: a model writes beside the sink's merge and publishes
    only once the sink has committed and finalized the epoch."""
    prev = getattr(_gate, "wait", None)
    _gate.wait = wait
    try:
        yield
    finally:
        _gate.wait = prev


def _retried(attempt):
    """The one commit loop every table change runs under (the rule in
    the module docstring): call the method until an attempt commits,
    deleting each losing attempt's data dir."""

    @functools.wraps(attempt)
    def retried(self, *args, **kwargs):
        for _ in range(_COMMIT_RETRIES + 1):
            try:
                return attempt(self, *args, **kwargs)
            except CommitConflict as e:
                last_exc = e
                if e.written_dir:
                    shutil.rmtree(e.written_dir, ignore_errors=True)
        raise last_exc

    return retried


@dataclass(frozen=True)
class EpochCensus:
    """What one epoch's delta touches, in one table's hash layout:
    ``buckets`` are the ``bucket_of(key, num_buckets)`` values of the
    delta's rows, ``rows`` its row count (both known once the delta is
    staged, from the staging dir's record and footers; ``rows``
    is None where it does not count the merge's changed keys).

    A table bucketed on the same key into ``m`` buckets with ``m``
    dividing ``num_buckets`` is a coarsening of that layout —
    ``pmod(h, m) == pmod(pmod(h, n), m)`` when ``m | n`` — so the same
    keys land in ``{b % m}`` there, with no pass over the data (cf.
    *Hyper Dimension Shuffle*, VLDB 2019: compose partition functions
    instead of re-partitioning). xxhash64 hashes a value by its type
    (an INT 5 and a BIGINT 5 hash apart), and a table hashes keys in its
    own schema's type, so the key must also have ``key_type`` there.
    Models pass the bronze census down the DAG: their key values
    propagate unchanged from the bronze delta, so it covers every key
    they change."""

    key: str
    key_type: T.DataType
    num_buckets: int
    buckets: tuple[int, ...]
    rows: int | None

    def buckets_for(self, snap: dict) -> list[int] | None:
        """The census's buckets in the layout of snapshot ``snap``, or
        None when that layout is not a coarsening of this one."""
        m = int(snap["num_buckets"])
        if snap["key_cols"][0] != self.key or self.num_buckets % m:
            return None
        field = next(f for f in snap["schema"]["fields"] if f["name"] == self.key)
        if field["type"] != self.key_type.jsonValue():
            return None
        return sorted({b % m for b in self.buckets})


def observed(obs: Observation, df: DataFrame, metrics: list) -> dict:
    """``obs``'s metrics, or the same aggregates recomputed over ``df``
    when Catalyst folded the CollectMetrics node away (seen with empty
    local-relation inputs)."""
    try:
        return obs.get
    except Exception:
        return df.agg(*metrics).first().asDict()


def footer_census(paths: list[str], col: str | None = None) -> tuple[int, int | None]:
    """The row count of the parquet files ``paths`` and, with ``col``,
    the exact max of that integer column, from the footers alone (no
    Spark job; parquet min/max stats are exact for integers). The max
    is strict: None (the caller scans) when a row group that may hold a
    value lacks usable stats or a file with rows lacks ``col``. All-null
    groups and files without row groups add nothing."""
    import pyarrow.parquet as pq

    rows, best, exact = 0, None, col is not None
    for path in paths:
        md = pq.ParquetFile(path).metadata
        rows += md.num_rows
        for rg in range(md.num_row_groups if exact else 0):
            group = md.row_group(rg)
            # by leaf path: the arrow field index shifts when nested
            # columns precede the column
            idx = next((i for i in range(md.num_columns)
                        if group.column(i).path_in_schema == col), None)
            st = None if idx is None else group.column(idx).statistics
            if st is not None and not st.has_min_max and st.null_count == group.num_rows:
                continue  # all-null group: nothing to contribute
            v = st.max if st is not None and st.has_min_max else None
            if not isinstance(v, int) or isinstance(v, bool):
                exact = False
                break
            best = v if best is None else max(best, v)
    return rows, best if exact else None


def read_files(spark: SparkSession, schema: T.StructType, files: list[str]) -> DataFrame:
    """The parquet ``files`` read through ``schema``: an empty frame of
    it when there are none."""
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*files)


@dataclass
class MergeResult:
    version: int
    epoch_id: int | None
    rows_written: int
    bytes_written: int
    buckets_rewritten: int
    skipped: bool = False
    # the commit's own stamp, where the sink records one (None: now)
    committed_at: str | None = None


def _atomic_write_json(payload: dict, final_path: str) -> None:
    """Publish a snapshot file with :func:`publish_json`; an existing
    one is a lost version race.

    Reference analog: watermark state atomic persistence — tmp write +
    fsync + md5 + rename (extractors/repsly/extractor.py:432-481)."""
    if not publish_json(payload, final_path):
        raise CommitConflict(final_path)


class LakeTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.meta_dir = os.path.join(self.path, "_meta")
        self.data_dir = os.path.join(self.path, "data")
        # Upper bound on rows per data file (Spark maxRecordsPerFile).
        # At 10^10-row scale one-file-per-bucket writes would produce
        # multi-GB files; this splits them. rewrite_small_files is the
        # inverse (bin-packs the fragments the splitting leaves behind
        # in rarely-touched buckets).
        self.max_records_per_file: int | None = None

    # ---------------- snapshot bookkeeping ----------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_cols: list[str],
        num_buckets: int = 64,
        partition_spec: dict | None = None,
    ) -> "LakeTable":
        """``partition_spec={"col": "ts", "transform": "day"|"month"}``
        adds a time dimension to the layout (Iceberg multi-transform
        spec ``bucket(N, key) × days(ts)``): each bucket's files are
        further split by the transform value, and a day-bounded
        ``read(day_range=...)`` opens ONLY that window's files instead
        of scanning every bucket end-to-end. Reference analog: bronze
        partitioned by extraction date
        (extractors/repsly/extractor.py:643-645) and silver by
        ``toYYYYMM`` (dbt/models/curated/repsly/client_notes.sql:6)."""
        if partition_spec is not None:
            if partition_spec.get("transform") not in _GRANULE_FMT:
                raise ValueError("partition_spec.transform must be 'day' or 'month'")
            if partition_spec.get("col") not in schema.names:
                raise ValueError("partition_spec.col must be a table column")
        t = cls(spark, path)
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        snap = {
            "version": 1,
            "parent": None,
            "schema": schema.jsonValue(),
            "key_cols": key_cols,
            "num_buckets": num_buckets,
            "partition_spec": partition_spec,
            "files": {},  # bucket(str) -> [relpath, ...]
            "committed_epochs": [],
            "summary": {"operation": "create"},
            "committed_at": utc_now(),
        }
        _atomic_write_json(snap, os.path.join(t.meta_dir, "v00000001.json"))
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        t = cls(spark, path)
        if t.latest_version() is None:
            raise FileNotFoundError(f"no lake table at {path}")
        return t

    def latest_version(self) -> int | None:
        if not os.path.isdir(self.meta_dir):
            return None
        versions = [
            int(f[1:9])
            for f in os.listdir(self.meta_dir)
            if f.startswith("v") and f.endswith(".json")
        ]
        return max(versions) if versions else None

    def snapshot(self, version: int | None = None) -> dict[str, Any]:
        v = version if version is not None else self.latest_version()
        with open(os.path.join(self.meta_dir, f"v{v:08d}.json")) as f:
            return json.load(f)

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.snapshot()["schema"])

    @property
    def key_cols(self) -> list[str]:
        return list(self.snapshot()["key_cols"])

    @property
    def num_buckets(self) -> int:
        return int(self.snapshot()["num_buckets"])

    @property
    def partition_spec(self) -> dict | None:
        return self.snapshot().get("partition_spec")

    def committed_epochs(self) -> list[int]:
        return list(self.snapshot().get("committed_epochs", []))

    def epoch_committed(self, epoch_id: int) -> bool:
        return epoch_id in self.snapshot().get("committed_epochs", [])

    def epoch_snapshot(self, epoch_id: int) -> dict | None:
        """Snapshot whose commit carried this epoch (recovery scan)."""
        v = self.latest_version()
        while v is not None:
            try:
                snap = self.snapshot(v)
            except FileNotFoundError:
                return None  # expired ancestor — epoch predates retention
            if snap["summary"].get("epoch_id") == epoch_id:
                return snap
            v = snap["parent"]
        return None

    def epoch_manifest(self, epoch_id: int) -> tuple[dict, MergeResult] | None:
        """The manifest the commit of ``epoch_id`` recorded
        (``merge(manifest=)``) and that commit's result; None when the
        epoch was stamped without one (``record_epochs``, a model merge,
        an ``overwrite``) or its snapshot has expired."""
        snap = self.epoch_snapshot(epoch_id)
        summary = snap["summary"] if snap else {}
        if summary.get("manifest") is None:
            return None
        return summary["manifest"], MergeResult(
            snap["version"], epoch_id, summary["rows_written"], summary["bytes_written"],
            summary.get("buckets_rewritten", 0), committed_at=snap["committed_at"],
        )

    # ---------------- read ----------------

    def _read_files(
        self,
        snap: dict,
        buckets: list[int] | None = None,
        day_range: tuple[str, str] | None = None,
    ) -> DataFrame:
        schema = T.StructType.fromJson(snap["schema"]).add(_BUCKET, T.IntegerType())
        files = []
        for b, paths in snap["files"].items():
            if buckets is None or int(b) in buckets:
                for p in paths:
                    if day_range is not None:
                        d = _file_day(p)
                        if d is not None and not (day_range[0] <= d <= day_range[1]):
                            continue
                    files.append(os.path.join(self.path, p))
        # Explicit file list = manual partition pruning from snapshot
        # metadata (bucket -> files); add-only schema evolution works
        # because parquet fills columns absent from a file with NULL.
        return read_files(self.spark, schema, files)

    def read(
        self,
        version: int | None = None,
        buckets: list[int] | None = None,
        day_range: tuple[str, str] | None = None,
    ) -> DataFrame:
        """Current (or time-travel) table state; optionally pruned to a
        bucket subset and/or (with a time partition_spec) to an
        INCLUSIVE transform-value range, e.g.
        ``day_range=("2024-01-02", "2024-01-03")`` — a day-bounded scan
        opens only that window's files, never the whole table.

        ``day_range`` is only meaningful against a time-partitioned
        layout and its bounds must be spelled in the spec's granule
        format: comparing a ``yyyy-MM-dd`` bound against ``yyyy-MM``
        path values would silently mis-prune lexicographically, and a
        range on an unpartitioned table would silently return the whole
        table — both are errors, not best-effort filters."""
        snap = self.snapshot(version)
        _check_day_range(snap, day_range)
        return self._read_files(snap, buckets, day_range).drop(_BUCKET)

    def read_after(
        self,
        version: int,
        upserts: DataFrame,
        delete_keys: DataFrame,
        buckets: list[int] | None = None,
        day_range: tuple[str, str] | None = None,
    ) -> DataFrame:
        """Version ``version``'s rows, pruned as :meth:`read` prunes,
        with a delta applied on top and nothing written: the rows minus
        the delta's changed keys (upsert and delete keys), plus every
        upsert — the same expression :meth:`merge` writes for the
        buckets it rewrites. A model reads its source's post-epoch rows
        this way, pinned at the pre-epoch version, while the source's
        own merge of the epoch is still running."""
        snap = self.snapshot(version)
        _check_day_range(snap, day_range)
        up, changed_keys = self._delta(snap, upserts, delete_keys)
        return self._overlay(snap, buckets, up, changed_keys, day_range=day_range).drop(_BUCKET)

    def pre_epoch_version(self, epoch_id: int) -> int | None:
        """The version an epoch's readers pin: the current version when
        the table has not committed ``epoch_id``, else (a replay) the
        parent of the snapshot that committed it. None when the table
        holds the epoch but no retained snapshot shows the state before
        it (expired, or the epoch was stamped by a bootstrap): then only
        the rows as they stand, which already hold the epoch, can be
        read. One snapshot read decides whether the epoch is committed,
        so the answer is the same whether or not the epoch's own commit
        lands while it is asked."""
        cur = self.snapshot()
        if epoch_id not in cur.get("committed_epochs", []):
            return cur["version"]
        snap = self.epoch_snapshot(epoch_id)
        if snap is None or not os.path.exists(
            os.path.join(self.meta_dir, f"v{snap['parent']:08d}.json")
        ):
            return None
        return snap["parent"]

    # ---------------- write paths ----------------

    def write_bucketed(
        self,
        df: DataFrame,
        out_dir: str,
        compression: str | None = None,
    ) -> tuple[dict[str, list[str]], dict[str, int], int]:
        """Write df (must carry _bucket) under out_dir, one file set per
        bucket via partitionBy; returns (bucket->relpaths, {"rows": n},
        bytes). The row count comes from the written files' footers —
        no extra pass over the data.

        ``compression`` overrides the session parquet codec for THIS
        write only (used for ephemeral staging deltas, which are
        written once, read back once or twice and deleted — a cheap
        codec there is pure CPU savings; table-at-rest files keep the
        session default zstd)."""
        return self._write(self.snapshot(), df, out_dir, compression, self.max_records_per_file)

    def _write(
        self,
        snap: dict,
        df: DataFrame,
        out_dir: str,
        compression: str | None = None,
        max_records: int | None = None,
    ) -> tuple[dict[str, list[str]], dict[str, int], int]:
        """``write_bucketed`` in the layout of snapshot ``snap``, with
        at most ``max_records`` rows per file (None: one file set per
        bucket)."""
        spec = snap.get("partition_spec")
        staged = df.withColumn(_PB, F.col(_BUCKET))
        part_cols = [_PB]
        if spec and spec["col"] in df.columns:
            # Time dimension: the transform value becomes a directory
            # level under the bucket; pruning reads it back from paths.
            staged = staged.withColumn(
                _PD, F.date_format(F.col(spec["col"]), _GRANULE_FMT[spec["transform"]])
            )
            part_cols.append(_PD)
        writer = (
            staged.repartition(F.col(_BUCKET))
            # partition cols lead the sort so FileFormatWriter's
            # required ordering is already satisfied and the key sort
            # survives into the files (min/max stats friendly).
            .sortWithinPartitions(*part_cols, *snap["key_cols"])
            .write.partitionBy(*part_cols)
            .mode("overwrite")
        )
        if max_records:
            writer = writer.option("maxRecordsPerFile", max_records)
        if compression:
            writer = writer.option("compression", compression)
        writer.parquet(out_dir)
        files: dict[str, list[str]] = {}
        nbytes = 0
        for sub in os.listdir(out_dir):
            if not sub.startswith(f"{_PB}="):
                continue
            b = sub.split("=", 1)[1]
            # walk: with a time dimension, parquet files live one level
            # deeper (_pb=N/_pd=DAY/part-*.parquet)
            for root, _, fns in os.walk(os.path.join(out_dir, sub)):
                for fn in fns:
                    if fn.endswith(".parquet"):
                        full = os.path.join(root, fn)
                        nbytes += os.path.getsize(full)
                        files.setdefault(b, []).append(os.path.relpath(full, self.path))
        rows, _ = footer_census([os.path.join(self.path, p) for ps in files.values() for p in ps])
        return files, {"rows": rows}, nbytes

    def _write_attempt(
        self, cur: dict, kind: str, df: DataFrame, max_records: int | None
    ) -> tuple[str, dict[str, list[str]], int, int]:
        """Write an attempt's data (df carries _bucket) in ``cur``'s
        layout into a fresh ``<kind><next version>-<uuid>`` data dir;
        returns (that dir, bucket->relpaths, rows, bytes)."""
        out_dir = os.path.join(
            self.data_dir, f"{kind}{cur['version'] + 1:08d}-{uuid.uuid4().hex[:8]}"
        )
        files, written, nbytes = self._write(cur, df, out_dir, max_records=max_records)
        return out_dir, files, written["rows"], nbytes

    def _publish(
        self,
        cur: dict,
        summary: dict,
        files: dict[str, list[str]] | None = None,
        rewritten: list[int] | None = (),
        epochs: list[int | None] = (),
        written_dir: str | None = None,
        **layout: Any,
    ) -> int:
        """Commit the version after ``cur`` and return it: ``cur`` with
        its ``layout`` fields (schema, num_buckets) replaced, the
        ``rewritten`` buckets' files (all, when None) replaced by
        ``files``, the non-None ``epochs`` stamped and ``summary``. A
        lost version race raises CommitConflict carrying ``written_dir``,
        the attempt's data dir, for the retry loop to reclaim. Under
        :func:`gated_commits` it first waits for the gate, and a refused
        gate deletes ``written_dir`` itself."""
        kept = {} if rewritten is None else {
            b: paths for b, paths in cur["files"].items() if int(b) not in rewritten
        }
        v = cur["version"] + 1
        snap = {
            "version": v,
            "parent": cur["version"],
            "schema": cur["schema"],
            "key_cols": cur["key_cols"],
            "num_buckets": cur["num_buckets"],
            "partition_spec": cur.get("partition_spec"),
            "files": {**kept, **(files or {})},
            "committed_epochs": cur.get("committed_epochs", [])
            + [e for e in epochs if e is not None],
            "summary": summary,
            "committed_at": utc_now(),
            **layout,
        }
        wait = getattr(_gate, "wait", None)
        try:
            if wait is not None:
                wait()
            _atomic_write_json(snap, os.path.join(self.meta_dir, f"v{v:08d}.json"))
        except CommitConflict as e:
            e.written_dir = written_dir
            raise
        except BaseException:
            if written_dir:  # the gate refused the commit
                shutil.rmtree(written_dir, ignore_errors=True)
            raise
        return v

    def _delta(
        self, snap: dict, upserts: DataFrame, delete_keys: DataFrame | None
    ) -> tuple[DataFrame, DataFrame]:
        """A delta in snapshot ``snap``'s layout: the upserts aligned to
        its schema, and the changed keys (upsert keys plus delete keys,
        cast to its key types), both carrying ``_bucket``."""
        schema = T.StructType.fromJson(snap["schema"])
        keys = snap["key_cols"]
        up = _with_bucket(project_columns(upserts, schema, keep=[_BUCKET]), snap)
        # No dropDuplicates: LEFT ANTI ignores right-side duplicates,
        # and a bucket census distincts for itself — the dedup here
        # was one whole extra Exchange of the key set per epoch.
        changed_keys = up.select(*keys, _BUCKET)
        if delete_keys is not None:
            dk = delete_keys.select(*[F.col(k).cast(schema[k].dataType).alias(k) for k in keys])
            changed_keys = changed_keys.unionByName(_with_bucket(dk, snap))
        return up, changed_keys

    def _overlay(
        self,
        snap: dict,
        buckets: list[int] | None,
        up: DataFrame,
        changed_keys: DataFrame,
        broadcast_keys: bool = False,
        day_range: tuple[str, str] | None = None,
    ) -> DataFrame:
        """The one post-delta expression, for :meth:`merge` and
        :meth:`read_after`: ``snap``'s rows in ``buckets`` (and
        ``day_range``) whose key the delta did not change (anti =
        NOT EXISTS), plus the upserts; carries ``_bucket``.
        ``broadcast_keys`` (the caller knows the delta is small)
        broadcasts the key set so the rows are never shuffled by key;
        otherwise AQE picks the join. Buckets that hold no files skip
        the anti-join (an initial load, all-new buckets)."""
        if not any(paths for b, paths in snap["files"].items()
                   if buckets is None or int(b) in buckets):
            return up
        anti_keys = changed_keys.select(*snap["key_cols"])
        if broadcast_keys:
            anti_keys = F.broadcast(anti_keys)
        rows = self._read_files(snap, buckets=buckets, day_range=day_range)
        return rows.join(anti_keys, on=snap["key_cols"], how="left_anti").unionByName(up)

    @_retried
    def evolve_schema(self, new_columns: T.StructType | list[T.StructField]) -> T.StructType:
        """Add-only column evolution; returns the (possibly updated)
        schema. Commits a metadata-only snapshot when columns are new."""
        fields = new_columns.fields if isinstance(new_columns, T.StructType) else new_columns
        cur = self.snapshot()
        schema = T.StructType.fromJson(cur["schema"])
        added = [f for f in fields if f.name not in schema.names]
        if not added:
            return schema
        schema = T.StructType(schema.fields + added)
        self._publish(
            cur, {"operation": "evolve-schema", "added_columns": [f.name for f in added]},
            schema=schema.jsonValue(),
        )
        return schema

    @_retried
    def record_epochs(self, epoch_ids: list[int]) -> int | None:
        """Metadata-only commit marking epochs as committed WITHOUT any
        data change — for a bootstrap that already covers their content
        (a full refresh stamped with the last finalized epoch also
        contains every earlier epoch's rows; replaying a retained
        staged delta on top would double-apply it). Returns the new
        snapshot version, or None if nothing new to record."""
        cur = self.snapshot()
        have = set(cur.get("committed_epochs", []))
        new = sorted(e for e in set(epoch_ids) if e not in have)
        if not new:
            return None
        return self._publish(
            cur, {"operation": "record-epochs", "recorded_epochs": new}, epochs=new
        )

    @_retried
    def overwrite(self, df: DataFrame, epoch_id: int | None = None) -> MergeResult:
        """Full snapshot replace (bootstrap / full refresh — reference
        analog extractors/google_sheets/extractor.py:370-377). Same
        epoch-id idempotence as merge: a replayed epoch short-circuits
        to a skipped no-op before any data is rewritten."""
        cur = self.snapshot()
        if epoch_id is not None and epoch_id in cur.get("committed_epochs", []):
            return MergeResult(cur["version"], epoch_id, 0, 0, 0, skipped=True)
        schema = T.StructType.fromJson(cur["schema"])
        data = _with_bucket(project_columns(df, schema, keep=[_BUCKET]), cur)
        out, files, rows, nbytes = self._write_attempt(cur, "e", data, self.max_records_per_file)
        v = self._publish(
            cur,
            {"operation": "overwrite", "epoch_id": epoch_id, "rows_written": rows,
             "bytes_written": nbytes},
            files, rewritten=None, epochs=[epoch_id], written_dir=out,
        )
        return MergeResult(v, epoch_id, rows, nbytes, len(files))

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Iceberg-style maintenance: drop snapshot metadata older than
        the newest ``keep_last`` versions and delete the data files those
        *expired* snapshots referenced (minus anything a retained
        snapshot still references). Committed-epoch ids are carried
        forward in the newest snapshot, so exactly-once survives expiry.

        Deliberately does NOT touch unreferenced files it has never seen
        in a snapshot: with optimistic multi-writer commits, an in-flight
        merge writes its data files *before* committing, and a
        delete-everything-unreferenced sweep racing that write would
        commit a snapshot pointing at deleted files. Crashed writers'
        leftovers are reclaimed by ``remove_orphan_files`` under an mtime
        grace window instead (Iceberg's remove_orphan_files semantics).
        """
        latest = self.latest_version()
        if latest is None:
            return {"removed_snapshots": 0, "removed_files": 0}
        keep_versions = {
            v for v in range(max(1, latest - keep_last + 1), latest + 1)
            if os.path.exists(os.path.join(self.meta_dir, f"v{v:08d}.json"))
        }
        referenced: set[str] = set()
        for v in keep_versions:
            for paths in self.snapshot(v)["files"].values():
                referenced.update(paths)
        expired_refs: set[str] = set()
        expired_meta = []
        for f in os.listdir(self.meta_dir):
            if f.startswith("v") and f.endswith(".json") and int(f[1:9]) not in keep_versions:
                expired_meta.append(f)
                for paths in self.snapshot(int(f[1:9]))["files"].values():
                    expired_refs.update(paths)
        removed_files = 0
        for rel in expired_refs - referenced:
            full = os.path.join(self.path, rel)
            if os.path.exists(full):
                os.unlink(full)
                removed_files += 1
        removed_snaps = 0
        for f in expired_meta:
            os.unlink(os.path.join(self.meta_dir, f))
            removed_snaps += 1
        self._prune_empty_dirs()
        return {"removed_snapshots": removed_snaps, "removed_files": removed_files}

    def remove_orphan_files(self, grace_seconds: float = 3600.0) -> dict:
        """Delete data files referenced by NO snapshot and older than
        ``grace_seconds`` (so an in-flight writer's fresh files survive).
        Run it like Iceberg's remove_orphan_files: rarely, with a grace
        window comfortably above the longest plausible commit latency."""
        referenced: set[str] = set()
        for f in os.listdir(self.meta_dir):
            if f.startswith("v") and f.endswith(".json"):
                for paths in self.snapshot(int(f[1:9]))["files"].values():
                    referenced.update(paths)
        cutoff = time.time() - grace_seconds
        removed = 0
        for root, _, files in os.walk(self.data_dir):
            for fn in files:
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, self.path)
                if (
                    fn.endswith(".parquet")
                    and rel not in referenced
                    and os.path.getmtime(full) < cutoff
                ):
                    os.unlink(full)
                    removed += 1
        self._prune_empty_dirs()
        return {"removed_files": removed}

    def _prune_empty_dirs(self) -> None:
        for root, dirs, files in os.walk(self.data_dir, topdown=False):
            if not dirs and not files and root != self.data_dir:
                os.rmdir(root)

    def file_census(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        min_files: int = 2,
        snap: dict | None = None,
    ) -> dict[int, tuple[int, int, bool]]:
        """Per bucket of snapshot ``snap`` (default: the current one),
        in bucket order: (files, bytes, fragmented). A bucket is
        fragmented when one of its file sets — the files of one
        time-partition dir, or of the whole bucket on an unpartitioned
        table — holds ≥ ``min_files`` files averaging under
        ``target_file_bytes``. A rewrite writes one file per set, so a
        bucket spread over several days is not fragmented for that.
        Snapshot metadata and file sizes only, no Spark job."""
        snap = self.snapshot() if snap is None else snap
        out = {}
        for b, paths in sorted(snap["files"].items(), key=lambda kv: int(kv[0])):
            sets: dict[str | None, list[int]] = {}
            for p in paths:
                sets.setdefault(_file_day(p), []).append(
                    os.path.getsize(os.path.join(self.path, p)))
            fragmented = any(len(sizes) >= min_files and sum(sizes) / len(sizes) < target_file_bytes
                             for sizes in sets.values())
            out[int(b)] = (len(paths), sum(map(sum, sets.values())), fragmented)
        return out

    @_retried
    def rewrite_small_files(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        min_files: int = 2,
    ) -> dict:
        """Compaction (Iceberg rewrite_data_files / MergeTree background
        merge analog): bin-pack each bucket that :meth:`file_census`
        flags as fragmented into a fresh single file set, committed
        as one atomic snapshot. Logical content is untouched (proven by
        test: content hash identical before/after); committed-epoch ids
        carry forward, so exactly-once survives compaction.

        Needed because a copy-on-write table accumulates one file set
        per epoch per touched bucket: at 10^10 rows × thousands of
        epochs the scan cost becomes file-count-bound without this.
        Candidate selection is driver-side metadata only; the rewrite
        reads and writes ONLY the fragmented buckets. A retried attempt
        re-derives the candidates from the winner's snapshot.
        """
        cur = self.snapshot()
        candidates = [b for b, (_, _, frag) in self.file_census(
            target_file_bytes, min_files, snap=cur).items() if frag]
        if not candidates:
            return {"buckets_compacted": 0, "files_before": 0, "files_after": 0, "version": cur["version"]}
        data = self._read_files(cur, buckets=candidates)  # carries _bucket
        # bin-pack: fewest files per bucket, whatever max_records_per_file says
        out, files, rows, nbytes = self._write_attempt(cur, "c", data, None)
        stats = {"buckets_compacted": len(candidates),
                 "files_before": sum(len(cur["files"][str(b)]) for b in candidates),
                 "files_after": sum(len(v) for v in files.values())}
        v = self._publish(
            cur, {"operation": "compact", "rows_written": rows, "bytes_written": nbytes, **stats},
            files, rewritten=candidates, written_dir=out,
        )
        return {**stats, "version": v}

    @_retried
    def rebucket(self, new_num_buckets: int) -> dict:
        """Bucket-count evolution: full rewrite of the table into
        ``new_num_buckets`` hash buckets, committed as one atomic
        snapshot. The escape hatch for a table created small that grew
        10^3×: a 64-bucket layout cannot spread a 10^10-row table over
        thousands of executors, and bucket ids are baked into file
        layout, so this is necessarily a full-table job — run it like
        Iceberg's ``rewrite_data_files`` with a partition-spec change.
        Readers see old or new layout atomically; committed epochs and
        schema carry forward unchanged.
        """
        if new_num_buckets < 1:
            raise ValueError("new_num_buckets must be >= 1")
        cur = self.snapshot()
        data = _with_bucket(self._read_files(cur), {**cur, "num_buckets": new_num_buckets})
        out, files, rows, nbytes = self._write_attempt(cur, "r", data, self.max_records_per_file)
        v = self._publish(
            cur,
            {"operation": "rebucket", "rows_written": rows, "bytes_written": nbytes,
             "old_num_buckets": cur["num_buckets"], "new_num_buckets": new_num_buckets},
            files, rewritten=None, written_dir=out, num_buckets=new_num_buckets,
        )
        return {"version": v, "num_buckets": new_num_buckets, "rows": rows}

    @_retried
    def merge(
        self,
        upserts: DataFrame,
        delete_keys: DataFrame | None = None,
        epoch_id: int | None = None,
        manifest: dict | None = None,
        *,
        census: EpochCensus | None = None,
    ) -> MergeResult:
        """Copy-on-write MERGE: last-writer-wins upsert + tombstone
        delete keyed on ``key_cols``.

        Equivalent SQL (what this compiles to on a real Iceberg
        catalog)::

            MERGE INTO target t USING changes s
              ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
            WHEN MATCHED AND s.op = 'D' THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *

        Inputs must already be deduped to one row per key (the engine's
        LWW dedup guarantees this). Only buckets containing changed keys
        are read and rewritten; unaffected buckets' files carry over
        into the new snapshot untouched.

        ``manifest`` (the engine's checkpoint manifest of the epoch)
        rides in the commit's summary: the table's epoch ledger, which
        :meth:`epoch_manifest` reads back after a crash before the
        manifest file was finalized.

        ``census`` is the epoch's :class:`EpochCensus`: the engine
        passes the bronze one to bronze and to every model merge, the
        day rollup its own. When it resolves against the snapshot being
        merged into (same first key and key type, a dividing bucket
        count), the affected buckets come from it instead of a
        distinct-bucket collect; a known row count lets the changed-key
        set be broadcast into the anti-join. Resolution is per attempt,
        against that attempt's snapshot, so a concurrent ``rebucket``
        never pairs a census with the wrong modulus; an unresolvable
        census falls back to the collect. It must cover every changed
        key (a superset only rewrites a bucket as it was); an attempt
        that writes an upsert into a bucket outside it discards that
        write and redoes it with the collect.

        Concurrency: the table's one commit rule (module docstring). A
        losing attempt deletes its rewritten buckets and re-derives the
        survivors from the winner's snapshot, so two writers touching
        different keys both land.
        """
        cur = self.snapshot()
        if epoch_id is not None and epoch_id in cur.get("committed_epochs", []):
            return MergeResult(cur["version"], epoch_id, 0, 0, 0, skipped=True)
        up, changed_keys = self._delta(cur, upserts, delete_keys)
        summary = {"operation": "merge", "epoch_id": epoch_id, "manifest": manifest}

        # Affected buckets: from the caller's census when this layout
        # coarsens it, else a tiny (≤ num_buckets rows) collect.
        affected = census.buckets_for(cur) if census is not None else None
        census_rows = census.rows if census is not None else None
        while True:
            from_census = affected is not None
            if not from_census:
                affected = [r[0] for r in changed_keys.select(_BUCKET).distinct().collect()]
            if not affected:
                # Nothing to change; still record the epoch for idempotence.
                v = self._publish(
                    cur, {**summary, "rows_written": 0, "bytes_written": 0}, epochs=[epoch_id]
                )
                return MergeResult(v, epoch_id, 0, 0, 0)

            small = census_rows is not None and census_rows <= _BROADCAST_CHANGED_KEYS_MAX_ROWS
            new_data = self._overlay(cur, affected, up, changed_keys, broadcast_keys=small)
            out, files, rows, nbytes = self._write_attempt(
                cur, "e", new_data, self.max_records_per_file
            )
            if not from_census or set(files) <= {str(b) for b in affected}:
                break
            # An upsert key the census does not cover (a model transform
            # that rewrote key values): committing would replace that
            # bucket's files without its existing rows. Redo the write
            # with the collected buckets, as a merge with no census.
            shutil.rmtree(out, ignore_errors=True)
            affected = census_rows = None

        # Buckets can become empty after deletes; only written ones return.
        v = self._publish(
            cur,
            {**summary, "rows_written": rows, "bytes_written": nbytes,
             "buckets_rewritten": len(affected)},
            files, rewritten=affected, epochs=[epoch_id], written_dir=out,
        )
        return MergeResult(v, epoch_id, rows, nbytes, len(affected))
