"""CdcEngine — the epoch loop: binlog tail → dedup → MERGE → manifest → models.

The Spark rebuild of the reference's per-endpoint incremental kernel
``extract_repsly_endpoint`` (extractors/repsly/extractor.py:1359-1488):
  gate → state snapshot → bounded scan from watermark → project →
  verified idempotent load → advance watermark atomically.

Warehouse-agnostic like the reference (config/warehouse_config.py:25-45):
the sink is the engine's lake table or any ``WarehouseBackend``, and
both go through ONE loop (``_tail``), ONE epoch body (``_epoch``), ONE
recover (``_recover``) and ONE manifest builder (``_manifest``)
(SURVEY.md §3.2):
  1. slice = changes WHERE lsn in (watermark, hi]          (pushed scan;
     hi from the LSN-span planner or the row-bounded one)
  2. writer-schema registry, slice stats via an Observation, add-only
     schema evolution executed by the sink
  3. salted LWW dedup to one net op per (conv_id, turn_idx), projected
     onto the evolving schema (Arrow-vectorized when it evolves)
  4. materialize the delta — the one sink-dependent step: a lake table
     stages it as bucketed parquet (durable lineage, per-bucket footer
     offsets); a warehouse takes a localCheckpoint (nothing retained)
  5. MERGE into the sink under the epoch id (atomic, ledgered)
  6. finalize the checkpoint manifest and apply the attached models.

Ordering rule for 6: a durable staged delta finalizes first and the
models run after (a crash mid-models replays them from the retained
staging dir); with no retained delta the models run first and the
manifest finalizes after (a crash mid-models leaves the epoch
un-finalized, so the loop replays it).

Crash between 5 and 6: ``recover`` finds the epoch in the sink's
ledger (the lake table's snapshot summaries, a warehouse's ``_epochs``
table) and finalizes the manifest from what was RECORDED, without
re-applying — the write-ahead ordering the reference implements as
"advance watermark only after verified load"
(extractors/repsly/extractor.py:1441-1475).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from functools import partial

import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
from etl_warehouse_agnostic_spark.lake.table import LakeTable
from etl_warehouse_agnostic_spark.operators.dedup import lww_dedup, split_ops
from etl_warehouse_agnostic_spark.operators.evolution import (
    new_fields,
    project_arrow,
    project_columns,
)
from etl_warehouse_agnostic_spark.schemas import KEY_COLS, ORDER_COLS
from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource

# Change-envelope columns that are not table payload, with their types.
CDC_TYPES = {"op": T.StringType(), "lsn": T.LongType(), "schema_ver": T.IntegerType()}
CDC_COLS = set(CDC_TYPES)


def _footer_offsets(staging_dir: str, lsn_col: str = "lsn") -> dict:
    """Per-bucket high-water offsets + row counts from the staged
    parquet footers (driver-side metadata reads, no Spark job).

    The bucket is the lineage partition unit (FIXTURES.md F4); the
    epoch's global lsn bounds live in lineage.lsn_range.
    """
    import pyarrow.parquet as pq

    offsets: dict[str, dict[str, int]] = {}
    for sub in sorted(os.listdir(staging_dir)):
        if not sub.startswith("_pb="):
            continue
        bucket = sub.split("=", 1)[1]
        rows = 0
        max_lsn = None
        d = os.path.join(staging_dir, sub)
        for fn in os.listdir(d):
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, fn)).metadata
            rows += md.num_rows
            try:
                idx = md.schema.names.index(lsn_col)
            except ValueError:
                continue
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is not None and st.has_min_max:
                    m = int(st.max)
                    max_lsn = m if max_lsn is None else max(max_lsn, m)
        offsets[bucket] = {"max_lsn": max_lsn or 0, "rows": rows}
    return offsets


def _observed(obs: Observation, df: DataFrame, metrics: list) -> dict:
    """``obs``'s metrics, or the same aggregates recomputed over ``df``
    when Catalyst folded the CollectMetrics node away (seen with empty
    local-relation inputs)."""
    try:
        return obs.get
    except Exception:
        return df.agg(*metrics).first().asDict()


def _utc_now() -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())


@dataclass
class EpochResult:
    epoch: int
    skipped: bool
    rows_read: int = 0
    rows_upserted: int = 0
    rows_deleted: int = 0
    bytes_written: int = 0
    wall_ms: int = 0
    snapshot_version: int | None = None
    offsets: dict = field(default_factory=dict)
    # per-model maintenance wall (ms), keyed by model name — wall_ms
    # above covers ONLY the bronze apply; the model DAG runs outside
    # it, so scaling/soak harnesses need it separately to attribute
    # non-scaling components (see tools/bench_scaling.py).
    model_wall_ms: dict = field(default_factory=dict)
    # the lsn range the epoch's manifest finalized — the tail loop's
    # next watermark (a sink ledger hit may record a narrower range
    # than the slice the loop planned)
    lsn_range: tuple[int, int] | None = None


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable | None,  # None for the run_warehouse path
        checkpoints: ManifestStore,
        key_cols: list[str] | None = None,
        order_cols: list[str] | None = None,
        dedup_method: str = "window",
        num_salts: int = 16,
        source_partitions: int = 32,
        source_name: str = "transcripts_changes",
        schema_registry: dict[int, list[str]] | None = None,
        silver_models: list | None = None,
        maintenance_every: int | None = None,
        maintenance_target_file_bytes: int = 128 * 1024 * 1024,
        maintenance_min_files: int = 2,
        bootstrap_if_behind: bool = False,
    ):
        self.spark = spark
        self.table = table
        self.checkpoints = checkpoints
        self.key_cols = key_cols or KEY_COLS
        self.order_cols = order_cols or ORDER_COLS
        self.dedup_method = dedup_method
        self.num_salts = num_salts
        self.source_partitions = source_partitions
        self.source_name = source_name
        # Debezium-style writer-schema registry: schema_ver → payload
        # column names. When set, a slice only carries (and can only
        # evolve to) the columns of the max writer schema it contains —
        # physical storage of the change log may hold the union schema.
        self.schema_registry = schema_registry
        # Incremental silver models (silver.SilverModel /
        # AggregateModel) maintained by the tail loop: each bronze
        # epoch's delta is transformed and merged into the model's own
        # table under the same epoch id (the dbt-per-cycle analog).
        # Models may CHAIN (model.parent) — the dbt raw → staging →
        # curated graph — and are stored here in topological order so
        # a chained model always reads its parent's post-epoch state; a
        # chained model's input is its parent's epoch_delta, recomputed
        # lazily from the one bronze delta (no extra staged storage
        # anywhere in the DAG).
        from etl_warehouse_agnostic_spark.silver import model_dag_order

        self.silver_models = model_dag_order(silver_models or [])
        # Auto-maintenance (VERDICT r4 #4 — the reference's ClickHouse
        # gets background merges for free; a copy-on-write table does
        # not): every K applied epochs the tail loop compacts the
        # buckets ``table_health`` flags as fragmented — the SAME
        # ≥min_files & small-average rule, so table_health IS the
        # compaction plan this hook executes. A cycle with nothing
        # fragmented costs one driver-side metadata census, no Spark
        # job. None disables the hook.
        self.maintenance_every = maintenance_every
        self.maintenance_target_file_bytes = maintenance_target_file_bytes
        self.maintenance_min_files = maintenance_min_files
        self.maintenance_log: list[dict] = []
        self._last_maintained = 0
        # Late-attach policy: by default a model that is behind with
        # its input deltas unrecoverable fails LOUDLY (silent forward
        # maintenance would permanently miss those epochs). Opt-in
        # bootstrap_if_behind=True runs model.bootstrap automatically
        # instead — a full refresh stamped with the last finalized
        # epoch, logged in bootstrap_log.
        self.bootstrap_if_behind = bootstrap_if_behind
        self.bootstrap_log: list[dict] = []

    # ---------------- public entry points ----------------

    def run(
        self,
        source: ChangeStreamSource,
        epoch_size: int,
        max_epochs: int | None = None,
        lookback: int = 0,
    ) -> list[EpochResult]:
        """Tail the change stream from the last checkpoint in epochs of
        ``epoch_size`` LSNs. Lookback re-reads are deduped away (P6)."""
        return self._tail(self.table, source, _lsn_spans(epoch_size), lookback, max_epochs)

    def run_bounded(
        self,
        source: ChangeStreamSource,
        max_rows_per_epoch: int,
        lookback: int = 0,
        granules: int = 1024,
    ) -> list[EpochResult]:
        """Tail the change stream in epochs bounded by ROW COUNT rather
        than LSN span (S5 semantics folded into the engine): one pushed
        histogram over the backlog plans the epoch boundaries, so a
        burst of densely-packed LSNs can't blow an epoch past executor
        memory and a sparse stretch doesn't produce hundreds of
        near-empty epochs. Same exactly-once path per epoch."""
        plan = partial(source.plan_bounded_slices, max_rows=max_rows_per_epoch, granules=granules)
        return self._tail(self.table, source, plan, lookback)

    def run_warehouse(
        self,
        warehouse,
        source: ChangeStreamSource,
        epoch_size: int,
        max_epochs: int | None = None,
        lookback: int = 0,
    ) -> list[EpochResult]:
        """:meth:`run` against any ``WarehouseBackend`` (the
        warehouse-agnostic path): the warehouse executes the add-only
        evolution (e.g. ALTER TABLE ADD COLUMN) and the MERGE."""
        return self._tail(warehouse, source, _lsn_spans(epoch_size), lookback, max_epochs)

    def run_warehouse_bounded(
        self,
        warehouse,
        source: ChangeStreamSource,
        max_rows_per_epoch: int,
        lookback: int = 0,
        granules: int = 1024,
    ) -> list[EpochResult]:
        """:meth:`run_bounded` against any ``WarehouseBackend``."""
        plan = partial(source.plan_bounded_slices, max_rows=max_rows_per_epoch, granules=granules)
        return self._tail(warehouse, source, plan, lookback)

    def apply_epoch(
        self,
        changes: DataFrame,
        epoch: int,
        lsn_range: tuple[int, int] | None = None,
    ) -> EpochResult:
        """Apply one epoch of changes to the lake table exactly once."""
        return self._epoch(self.table, changes, epoch, lsn_range)

    def apply_epoch_warehouse(
        self,
        warehouse,
        changes: DataFrame,
        epoch: int,
        lsn_range: tuple[int, int] | None = None,
    ) -> EpochResult:
        """Apply one epoch of changes to a ``WarehouseBackend`` exactly
        once — also the streaming ``foreachBatch`` target (each
        micro-batch = one epoch)."""
        return self._epoch(warehouse, changes, epoch, lsn_range)

    def recover(self) -> list[int]:
        """Heal the lake table's crash window (see :meth:`_recover`);
        returns the healed epoch ids."""
        return self._recover(self.table)

    def recover_warehouse(self, warehouse) -> list[int]:
        """Heal a ``WarehouseBackend``'s crash window (see
        :meth:`_recover`); returns the healed epoch ids."""
        return self._recover(warehouse)

    # ---------------- the tail loop ----------------

    def _tail(self, sink, source, plan, lookback: int = 0,
              max_epochs: int | None = None) -> list[EpochResult]:
        """Recover, then apply ``plan(watermark, source_max)``'s slices
        as consecutive epochs. Recovering BEFORE planning is what makes
        pre-planned slices crash-safe: they start from the healed
        watermark, so a crashed epoch's gap is inside the plan rather
        than between stale plan boundaries."""
        lake = sink is self.table
        if lake:
            self.recover()
        else:
            self.recover_warehouse(sink)
        results: list[EpochResult] = []
        hi_water = self.checkpoints.high_water_lsn()
        source_max = source.max_lsn()
        epoch = (self.checkpoints.last_epoch() or 0) + 1
        for _, hi in plan(hi_water, source_max):
            if max_epochs is not None and len(results) >= max_epochs:
                break
            if hi <= hi_water:
                continue  # covered by a wider range a ledger hit finalized
            changes = source.read_slice(hi_water, hi, lookback=lookback)
            rng = (hi_water, hi)
            res = (
                self.apply_epoch(changes, epoch, lsn_range=rng) if lake
                else self.apply_epoch_warehouse(sink, changes, epoch, lsn_range=rng)
            )
            results.append(res)
            # The range the epoch actually finalized is the watermark,
            # never the planned bound: a ledger hit finalizes the range
            # the sink RECORDED, and the next slice starts there.
            hi_water = res.lsn_range[1]
            epoch += 1
            self._maybe_maintain(sum(1 for r in results if not r.skipped))
        return results

    def _maybe_maintain(self, epochs_done: int) -> None:
        """Compaction policy hook: fires every ``maintenance_every``
        APPLIED (non-skipped) epochs — replayed/skipped epochs do not
        advance the cadence; content-preserving (proven by test) and
        epoch-ledger-preserving, so exactly-once is unaffected."""
        if not self.maintenance_every or self.table is None:
            return
        if epochs_done == 0 or epochs_done % self.maintenance_every:
            return
        if self._last_maintained == epochs_done:
            # A skipped (replayed) epoch after a firing multiple keeps
            # the count unchanged — don't re-fire compaction across
            # every table on each consecutive skipped epoch.
            return
        self._last_maintained = epochs_done
        # Bronze AND every attached model table: silver/gold merge per
        # epoch and fragment exactly like bronze does (VERDICT r5 #4 —
        # a long-running deployment with models attached otherwise
        # re-acquires the problem this hook solves). Model tables on a
        # warehouse backend compact themselves (server-side merges) and
        # are skipped.
        targets = [("bronze", self.table)] + [
            (m.name, m.table)
            for m in self.silver_models
            if hasattr(m.table, "rewrite_small_files")
        ]
        for label, t in targets:
            res = t.rewrite_small_files(
                target_file_bytes=self.maintenance_target_file_bytes,
                min_files=self.maintenance_min_files,
            )
            res["table"] = label
            res["after_epoch"] = self.checkpoints.last_epoch()
            self.maintenance_log.append(res)

    # ---------------- one epoch ----------------

    def _epoch(self, sink, changes: DataFrame, epoch: int,
               lsn_range: tuple[int, int] | None) -> EpochResult:
        if self.checkpoints.is_finalized(epoch):
            rng = self.checkpoints.get(epoch)["lineage"]["lsn_range"]
            return EpochResult(epoch=epoch, skipped=True, lsn_range=tuple(rng))
        t0 = time.monotonic()

        # Writer-schema resolution: with a registry, the slice's payload
        # is the max writer schema it actually contains; without one,
        # whatever columns the batch physically carries. Registry mode
        # (used when the change log physically stores the union schema)
        # needs the slice's max writer version before projection — one
        # small agg job; the default path pays no extra job.
        schema_ver_max = 1
        if self.schema_registry is not None:
            row = changes.agg(F.max("schema_ver")).first()
            schema_ver_max = int(row[0]) if row and row[0] is not None else 1
            payload_cols = self.schema_registry[schema_ver_max]
            keep = [c for c in changes.columns if c in CDC_COLS or c in self.key_cols]
            changes = changes.select(*keep, *[c for c in payload_cols if c not in keep])

        # Global slice stats and the delta census ride along on the job
        # that materializes the delta (Observations upstream of it) — no
        # separate stats pass.
        slice_metrics = [
            F.count(F.lit(1)).alias("rows_read"),
            F.min("lsn").alias("min_lsn"),
            F.max("lsn").alias("max_lsn"),
        ]
        if "schema_ver" in changes.columns:
            slice_metrics.append(F.max("schema_ver").alias("sv_max"))
        obs_slice = Observation(f"slice-e{epoch}-{uuid.uuid4().hex[:6]}")
        changes = changes.observe(obs_slice, *slice_metrics)

        # Add-only schema evolution: payload columns in this batch that
        # the sink doesn't know yet become ADD COLUMNs before apply.
        added = new_fields(changes, sink.schema, passthrough=CDC_COLS)
        schema = sink.evolve_schema(added) if added else sink.schema

        deduped = lww_dedup(
            changes, self.key_cols, self.order_cols,
            method=self.dedup_method, num_salts=self.num_salts,
        )
        envelope = [c for c in CDC_TYPES if c in deduped.columns]
        project = project_arrow if added else project_columns
        delta_metrics = [
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("n_del"),
        ]
        obs_delta = Observation(f"delta-e{epoch}-{uuid.uuid4().hex[:6]}")
        projected = project(deduped, schema, keep=envelope).observe(obs_delta, *delta_metrics)

        # Materialize the delta once for the merge's two sides and every
        # model — the one sink-dependent step. A lake table stages it as
        # bucketed parquet: durable lineage for the epoch, per-bucket
        # footer offsets, and the census (affected buckets) its merge
        # prunes with. Staged files are written once and read back at
        # most twice before deletion, so a light codec there trades
        # ephemeral bytes for CPU. A warehouse retains nothing, so the
        # delta is checkpointed (epoch-bounded); on a cluster a lost
        # checkpoint partition fails the epoch, which simply replays.
        staging_dir = None
        if sink is self.table:
            from etl_warehouse_agnostic_spark.functions.scalars import bucket_of

            staging_dir = self._staging_dir(epoch)
            sink.write_bucketed(
                projected.withColumn("_bucket", bucket_of(self.key_cols[0], sink.num_buckets)),
                staging_dir, compression="snappy",
            )
            staged_schema = T.StructType(
                list(schema.fields)
                + [T.StructField(c, CDC_TYPES[c], True) for c in envelope]
            )
            delta = sink.read_bucketed(staging_dir, staged_schema)
        else:
            delta = projected.localCheckpoint()

        slice_stats = _observed(obs_slice, changes, slice_metrics)
        census = _observed(obs_delta, delta, delta_metrics)
        rows_read = int(slice_stats.get("rows_read") or 0)
        n_rows = int(census.get("rows") or 0)
        n_del = int(census.get("n_del") or 0)
        if lsn_range is None:
            lsn_range = (
                int(slice_stats.get("min_lsn") or 0),
                int(slice_stats.get("max_lsn") or 0),
            )
        offsets = (
            _footer_offsets(staging_dir) if staging_dir
            else {"all": {"max_lsn": lsn_range[1], "rows": n_rows}}
        )
        manifest = self._manifest(
            epoch, lsn_range, offsets, rows_read, n_rows - n_del, n_del,
            schema_ver_max=int(slice_stats.get("sv_max") or schema_ver_max),
            added_columns=[f.name for f in added],
        )
        # The lake table's commit carries the manifest (recover heals
        # from it) and prunes by the staged census; the exact delta size
        # lets it broadcast the changed-key set into the anti-join. A
        # warehouse ledgers the lsn range instead.
        merge_kw = (
            {"extra_summary": {"manifest": manifest}, "changed_rows": n_rows,
             "affected_buckets": sink.staged_buckets(staging_dir)}
            if staging_dir else {"lsn_range": lsn_range}
        )
        upserts, deletes = split_ops(delta)
        res = sink.merge(
            upserts.drop("lsn", "schema_ver"), deletes.select(*self.key_cols),
            epoch_id=epoch, **merge_kw,
        )
        wall_ms = int((time.monotonic() - t0) * 1000)
        if res.skipped:
            # Ledger hit: the epoch already committed (a crash before
            # finalize), possibly under a NARROWER lsn range than this
            # recomputed slice if the source gained LSNs before restart.
            # Finalize what the sink RECORDED so the watermark never
            # passes rows that were not applied; a legacy ledger row
            # without lsn_lo keeps the loop's lo (0 would read as a
            # false gap/overlap in pipeline_health).
            manifest = self._ledger_manifest(sink, epoch, lo=lsn_range[0]) or manifest
        else:
            manifest["metrics"].update(bytes_written=res.bytes_written, wall_ms=wall_ms)
            manifest.update(snapshot_version=res.version, committed_at=_utc_now())

        # Models ride the same delta (no extra pass over the slice; the
        # reference ran its dbt models against the warehouse,
        # airflow/dags/repsly_dag.py:643-1040). See the module docstring
        # for the finalize/models ordering rule.
        model_walls = {} if staging_dir else self._apply_silver(delta, epoch)
        self.checkpoints.finalize(epoch, manifest)
        if staging_dir:
            model_walls = self._apply_silver(delta, epoch)
            shutil.rmtree(staging_dir, ignore_errors=True)
        rng = tuple(manifest["lineage"]["lsn_range"])
        if res.skipped:
            return EpochResult(epoch=epoch, skipped=True, model_wall_ms=model_walls, lsn_range=rng)
        return EpochResult(
            epoch=epoch, skipped=False, rows_read=rows_read,
            rows_upserted=n_rows - n_del, rows_deleted=n_del,
            bytes_written=res.bytes_written, wall_ms=wall_ms,
            snapshot_version=res.version, offsets=offsets,
            model_wall_ms=model_walls, lsn_range=rng,
        )

    def _manifest(self, epoch: int, lsn_range: tuple[int, int], offsets: dict,
                  rows_read: int | None, rows_upserted: int, rows_deleted: int | None,
                  schema_ver_max: int | None = None, added_columns: tuple = ()) -> dict:
        """The one checkpoint-manifest shape, for every sink and for
        ledger heals. ``None`` marks a count a ledger did not record;
        bytes_written, wall_ms and snapshot_version are post-commit."""
        return {
            "epoch": epoch,
            "offsets": offsets,
            "metrics": {"rows_read": rows_read, "rows_upserted": rows_upserted,
                        "rows_deleted": rows_deleted, "bytes_written": 0, "wall_ms": 0},
            "lineage": {"source": self.source_name, "lsn_range": list(lsn_range),
                        "schema_ver_max": schema_ver_max, "added_columns": list(added_columns)},
            "snapshot_version": None,
            "committed_at": _utc_now(),
        }

    # ---------------- recovery (T2) ----------------

    def _recover(self, sink) -> list[int]:
        """Finalize manifests for epochs the sink's ledger committed but
        whose manifest write was lost (the crash window between merge
        and finalize), from what the ledger RECORDED, without
        re-applying. Then make sure every model is current and, on the
        lake table, replay retained staged deltas into the models and
        sweep the staging dirs of finished epochs (a crash between
        merge commit and cleanup leaves them behind otherwise)."""
        lake = sink is self.table
        healed = []
        for epoch in sink.committed_epochs():
            if self.checkpoints.is_finalized(epoch):
                continue
            if not lake and not all(m.epoch_committed(epoch) for m in self.silver_models):
                # No retained delta: finalizing here would advance the
                # watermark past rows the models never saw. Leave the
                # epoch un-finalized — the loop replays it, the merge
                # skips via the ledger, and the models catch up from
                # the recomputed slice before the late finalize.
                continue
            manifest = self._ledger_manifest(sink, epoch)
            if manifest is not None:
                self.checkpoints.finalize(epoch, manifest)
                healed.append(epoch)
        # Check (and possibly auto-bootstrap) BEFORE replaying staged
        # deltas: a bootstrap stamped with the last finalized epoch
        # already covers any still-staged epoch's content from bronze.
        staged = self._staged_epochs() if lake else {}
        self._check_silver_current(sink, staged)
        if lake:
            self._recover_silver(staged)
        return healed

    def _ledger_manifest(self, sink, epoch: int, lo: int | None = None) -> dict | None:
        """The manifest of a committed epoch, rebuilt from the sink's
        ledger and marked ``healed``; None when the ledger does not say
        which lsn range was applied (``lo`` stands in for a missing
        recorded lower bound). The lake table's commit carries the whole
        pre-merge manifest: backfill its post-commit fields."""
        if sink is self.table:
            snap = sink.epoch_snapshot(epoch)
            manifest = snap and snap["summary"].get("manifest")
            if manifest is None:
                return None
            metrics = dict(manifest["metrics"], healed=True,
                           bytes_written=int(snap["summary"].get("bytes_written") or 0))
            return dict(manifest, metrics=metrics, snapshot_version=snap["version"],
                        committed_at=snap["committed_at"])
        info = sink.epoch_info(epoch) or {}
        if info.get("lsn_lo") is not None:
            lo = int(info["lsn_lo"])
        if info.get("lsn_hi") is None or lo is None:
            return None
        hi, rows = int(info["lsn_hi"]), int(info.get("rows_written") or 0)
        manifest = self._manifest(epoch, (lo, hi), {"all": {"max_lsn": hi, "rows": rows}},
                                  rows_read=None, rows_upserted=rows, rows_deleted=None)
        manifest["metrics"]["healed"] = True
        return manifest

    def _staging_dir(self, epoch: int) -> str:
        return os.path.join(self.table.path, "_staging", f"e{epoch:08d}")

    def _staged_epochs(self) -> dict[int, str]:
        """The lake table's retained staging dirs, by epoch id."""
        root = os.path.dirname(self._staging_dir(0))
        if not os.path.isdir(root):
            return {}
        return {
            int(d[1:]): os.path.join(root, d)
            for d in os.listdir(root)
            if d.startswith("e") and d[1:].isdigit()
        }

    def _staged_schema(self, staging_dir: str) -> T.StructType | None:
        """Reconstruct the schema of a retained staging dir from one
        parquet footer (driver-side metadata read): current table
        columns that are present, plus whatever envelope columns the
        delta carried. Returns None if the dir holds no data files."""
        import pyarrow.parquet as pq

        sample = None
        for root, _, fns in os.walk(staging_dir):
            for fn in fns:
                if fn.endswith(".parquet"):
                    sample = os.path.join(root, fn)
                    break
            if sample:
                break
        if sample is None:
            return None
        names = set(pq.ParquetFile(sample).metadata.schema.names)
        fields = [f for f in self.table.schema.fields if f.name in names]
        fields += [T.StructField(c, t, True) for c, t in CDC_TYPES.items() if c in names]
        return T.StructType(fields)

    def _apply_silver(self, staged: DataFrame, epoch: int) -> dict[str, int]:
        """Walk the model DAG (already topo-ordered): root models feed
        on the bronze staged delta; a chained model feeds on its
        parent's ``epoch_delta`` — a pure function of the parent's own
        input, so recovery replays the WHOLE chain from the one
        retained bronze delta (already-committed ancestors just skip
        their merge while their delta is still recomputable).

        Returns per-model wall (ms) so callers can attribute epoch time
        between the bronze apply and each model's maintenance.

        Independent chains run CONCURRENTLY (guide §2.6: Spark happily
        schedules several jobs at once; a chain's tail tasks leave
        cores idle that another chain's jobs back-fill). Chains are
        the connected components of the parent forest — models inside
        a chain stay strictly ordered (a child needs its parent's
        delta), but e.g. a bronze-fed day rollup has no ordering
        relation to a silver→gold chain and used to serialize behind
        it for no reason. Each model commits to its OWN table, so
        results are independent of inter-chain ordering, and the crash
        contract is unchanged: the epoch finalizes only after every
        chain returns, and a failure anywhere leaves it un-finalized —
        recovery replays, already-committed models skip via their
        ledgers exactly as in the sequential walk."""
        needed = {
            id(m.parent)
            for m in self.silver_models
            if getattr(m, "parent", None) is not None
        }
        # connected components of the parent forest, in topo order
        # (silver_models is globally topo-sorted, so a parent is always
        # seen before its children)
        chains: dict[int, list] = {}
        root_of: dict[int, int] = {}
        for m in self.silver_models:
            parent = getattr(m, "parent", None)
            root = root_of[id(parent)] if parent is not None else id(m)
            root_of[id(m)] = root
            chains.setdefault(root, []).append(m)
        walls: dict[str, int] = {}

        def run_chain(models: list) -> None:
            deltas: dict[int, DataFrame] = {}
            for model in models:
                parent = getattr(model, "parent", None)
                inp = staged if parent is None else deltas[id(parent)]
                t0 = time.monotonic()
                model.apply_epoch(inp, epoch)
                walls[model.name] = int((time.monotonic() - t0) * 1000)
                if id(model) in needed:
                    deltas[id(model)] = model.epoch_delta(inp, epoch)

        chain_list = list(chains.values())
        if len(chain_list) <= 1:
            for chain in chain_list:
                run_chain(chain)
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=len(chain_list)) as pool:
                futures = [pool.submit(run_chain, c) for c in chain_list]
                for f in futures:
                    f.result()
        return walls

    def _check_silver_current(self, sink, staged: dict[int, str]) -> None:
        """Refuse to tail forward past a model that is behind on
        finalized epochs whose deltas are gone (swept or never staged —
        a warehouse sink retains none, e.g. a model attached to an
        already-populated sink): maintaining it forward would
        permanently miss those epochs' rows — a silent divergence.
        Un-finalized epochs are fine: the loop replays them. The fix is
        explicit: ``model.bootstrap(...)`` (full refresh stamped with
        the sink's last epoch), or rebuild the model's table."""
        finalized = self.checkpoints.epochs() if self.silver_models else []
        staged_finalized = sorted(set(staged) & set(finalized))
        for m in self.silver_models:
            last = m.last_epoch()
            behind = [e for e in finalized if e > last and e not in staged]
            if not behind:
                continue
            if self.bootstrap_if_behind:
                self._bootstrap_model(m, sink, behind, staged_finalized)
                continue
            raise ValueError(
                f"silver model {m.name!r} is missing finalized epoch(s) "
                f"{behind[:5]}{'...' if len(behind) > 5 else ''} whose deltas "
                "are gone — bootstrap it (model.bootstrap(...)) or rebuild "
                "its table before attaching, or attach with "
                "bootstrap_if_behind=True"
            )

    def _bootstrap_model(
        self, m, default_source, behind: list[int],
        staged_finalized: list[int] | None = None,
    ) -> None:
        """Auto-bootstrap a behind model (opt-in): full refresh from its
        actual input — its parent's table when chained, else the bronze
        table / warehouse target — stamped with the last finalized
        epoch so incremental maintenance resumes from the next cycle.
        Models are walked in topo order, so a chained model bootstraps
        AFTER its parent is current.

        Any RETAINED staged finalized epoch (another behind model may
        be keeping ≥1 staging dir alive) is ALSO stamped into the
        model's ledger: the bootstrap already contains its content, so
        letting ``_recover_silver`` replay it on top would double-count
        a delta-maintained aggregate and could regress a silver key to
        an older epoch's payload."""
        epoch_id = self.checkpoints.last_epoch()
        src = m.parent.table if getattr(m, "parent", None) is not None else default_source
        if hasattr(m, "aggregate"):  # AggregateModel reads its own source
            m.bootstrap(epoch_id)
        else:
            m.bootstrap(src, epoch_id)
        covered_staged = [
            e for e in (staged_finalized or []) if e <= epoch_id
        ]
        if covered_staged and hasattr(m.table, "record_epochs"):
            m.table.record_epochs(covered_staged)
        self.bootstrap_log.append(
            {"model": m.name, "epoch_id": epoch_id, "covered": list(behind),
             "stamped_staged": covered_staged}
        )


    def _recover_silver(self, staged: dict[int, str]) -> None:
        """Catch models up from retained staging dirs — the crash window
        between bronze manifest-finalize and the model applies (or
        between two models) — then sweep each finalized epoch's dir.
        Epoch-idempotent merges make the replay safe; a dir is only
        swept once every model has committed its epoch."""
        for epoch, staging_dir in sorted(staged.items()):
            if not self.checkpoints.is_finalized(epoch):
                continue  # bronze itself will replay this epoch
            if not all(m.epoch_committed(epoch) for m in self.silver_models):
                schema = self._staged_schema(staging_dir)
                if schema is None:
                    continue
                self._apply_silver(self.table.read_bucketed(staging_dir, schema), epoch)
            shutil.rmtree(staging_dir, ignore_errors=True)


def _lsn_spans(epoch_size: int):
    """Slice planner: consecutive spans of ``epoch_size`` LSNs."""
    return lambda lo, hi: ((a, min(a + epoch_size, hi)) for a in range(lo, hi, epoch_size))
