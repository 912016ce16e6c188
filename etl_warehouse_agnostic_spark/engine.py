"""CdcEngine — the epoch loop: binlog tail → dedup → MERGE → manifest → models.

The Spark rebuild of the reference's per-endpoint incremental kernel
``extract_repsly_endpoint`` (extractors/repsly/extractor.py:1359-1488):
  gate → state snapshot → bounded scan from watermark → project →
  verified idempotent load → advance watermark atomically.

Warehouse-agnostic like the reference (config/warehouse_config.py:25-45):
the sink is any ``LakeTable`` or ``WarehouseBackend``, passed as
``sink=`` to the engine's three entry points, ``run`` (the tail loop),
``apply_epoch`` (one epoch) and ``recover`` (SURVEY.md §3.2); without
one they use the engine's ``table``. Every sink goes through the same
loop, epoch body, recover and manifest builder (``_manifest``), and the
sink's type alone picks the lake or the warehouse path:
  1. slice = changes WHERE lsn in (watermark, hi]          (pushed scan;
     hi from the LSN-span planner or the row-bounded one)
  2. writer-schema registry, slice stats via an Observation, add-only
     schema evolution executed by the sink
  3. LWW dedup to one net op per (conv_id, turn_idx) (the window
     plan: its Partial WindowGroupLimit keeps ≤1 row per key per scan
     partition before the shuffle, so a hot key needs no salt),
     projected onto the evolving schema (Arrow-vectorized when it
     evolves)
  4. stage the delta once, in a per-epoch dir under the checkpoint
     store — the one sink-dependent step: a ``LakeTable`` sink stages
     it as bucketed parquet, a warehouse as plain parquet with its
     ``op``/``lsn``/``schema_ver`` envelope, which it applies from the
     files (``merge_files``). The dir's record, ``_staged.json``, holds
     the staged schema, the bucket count (null for a plain stage) and
     the data files by partition; it is published before the merge,
     and ``_open_staged`` reads the delta, its footer offsets and the
     epoch census from it
  5. fan out: pin each model source's pre-epoch version, then start
     every attached model on its own worker thread, fed from the
     staged delta
  6. MERGE into the sink under the epoch id, on the epoch's own thread
     beside the models (atomic, ledgered: the commit records the
     epoch's manifest, in a lake table's snapshot summary or a
     warehouse's ``_epochs`` row)
  7. finalize the checkpoint manifest, let the models publish, wait
     for every model, then sweep the staging dir.

Ordering rule for 6 and 7, one for every sink: the manifest finalizes
right after the sink's merge, and no model commits the epoch before
that. A model reads its source at the pinned pre-epoch version, so it
needs no commit to read, and its merge writes beside the sink's; but
it publishes only through a gate that opens once the manifest has
finalized (``lake.table.gated_commits``), and if the sink's merge or
the finalize fails, every model deletes what it wrote. A model whose
table or source is a warehouse (nothing to gate, no time travel)
starts only after its source commits. A crash mid-models leaves the
staging dir behind, and ``recover`` opens it through the same
``_open_staged`` and replays the models from it — the exact delta the
sink applied, even an empty one, and even when the source has grown
past the epoch's recorded lsn range since — at the same pins (the
parent of each source's epoch commit). A finalized epoch's dir without
a record (staged by an older engine) raises rather than being guessed
at.

Crash between 6 and 7: ``recover`` reads the manifest the sink's
commit recorded (``epoch_manifest``, the same call on every sink) and
finalizes it, without re-applying — the write-ahead ordering the
reference implements as "advance watermark only after verified load"
(extractors/repsly/extractor.py:1441-1475). It is the one heal path:
both front ends call it before their first epoch, and ``apply_epoch``
calls it first when a crashed attempt left the epoch's staging record,
so a re-applied epoch the sink committed finalizes the recorded
manifest and replays its models from the retained delta, never from a
wider recomputed slice. The live epoch and the heal complete the
manifest's post-commit fields in one helper (``_committed``), so a
healed manifest is the one the epoch would have finalized, but for its
``healed`` mark, its wall time (0: the heal did not time the epoch) and
its commit stamp (the sink's own, where it records one).

Every manifest's ``lineage.lsn_range`` means (watermark, hi], so each
epoch's lo is the previous epoch's hi: the tail loop records its
planned slice, and an epoch applied without one (a streamed
micro-batch) records (high-water lsn, max(its max lsn, high water)].
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial

import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_warehouse_agnostic_spark.lake import backends
from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore, publish_json, utc_now
from etl_warehouse_agnostic_spark.lake.table import (
    EpochCensus,
    LakeTable,
    MergeResult,
    footer_census,
    gated_commits,
    observed,
    read_files,
)
from etl_warehouse_agnostic_spark.operators.dedup import lww_dedup_window, split_ops
from etl_warehouse_agnostic_spark.operators.evolution import (
    new_fields,
    project_arrow,
    project_columns,
)
from etl_warehouse_agnostic_spark.schemas import KEY_COLS, ORDER_COLS
from etl_warehouse_agnostic_spark.silver import SilverModel, model_dag_order
from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource

# Change-envelope columns that are not table payload, with their types.
CDC_TYPES = {"op": T.StringType(), "lsn": T.LongType(), "schema_ver": T.IntegerType()}
CDC_COLS = set(CDC_TYPES)
# The record of a staging dir: the staged schema, the bucket count
# (null for an unbucketed stage) and the data files by partition.
_STAGED_RECORD = "_staged.json"


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
    # above covers ONLY the bronze apply; the models run beside it and
    # past it, so scaling/soak harnesses need it separately to attribute
    # non-scaling components (see tools/bench_scaling.py).
    model_wall_ms: dict = field(default_factory=dict)
    # the (watermark, hi] lsn range the epoch's manifest finalized
    lsn_range: tuple[int, int] | None = None


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        # the default sink of run / apply_epoch / recover (None when
        # every call names its sink)
        table: LakeTable | None,
        checkpoints: ManifestStore,
        key_cols: list[str] | None = None,
        order_cols: list[str] | None = None,
        source_partitions: int = 32,
        source_name: str = "transcripts_changes",
        schema_registry: dict[int, list[str]] | None = None,
        silver_models: list | None = None,
        maintenance_every: int | None = None,
        bootstrap_if_behind: bool = False,
    ):
        self.spark = spark
        self.table = table
        self.checkpoints = checkpoints
        self.key_cols = key_cols or KEY_COLS
        self.order_cols = order_cols or ORDER_COLS
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
        # curated graph. The DAG is planned once, here, parent-first: a
        # chained model's input is its parent's epoch_delta, recomputed
        # lazily from the one bronze delta (no extra staged storage
        # anywhere in the DAG). Every model reads its source pinned at
        # the pre-epoch version, so each epoch applies to all of them
        # at once, beside the sink's own merge (see _apply_silver).
        self.silver_models = model_dag_order(list(silver_models or []))
        # Auto-maintenance (VERDICT r4 #4 — the reference's ClickHouse
        # gets background merges for free; a copy-on-write table does
        # not): every K applied epochs the tail loop compacts the
        # buckets ``table_health`` flags as fragmented — the SAME
        # ``LakeTable.file_census`` rule, so table_health IS the
        # compaction plan this hook executes. A cycle with nothing
        # fragmented costs one driver-side metadata census, no Spark
        # job. None disables the hook. The cadence counts the epochs
        # the tail loop applied over the engine's life, across calls
        # (a scheduled deployment runs one short ``run`` per cycle);
        # skipped epochs do not count.
        self.maintenance_every = maintenance_every
        self.maintenance_log: list[dict] = []
        self._epochs_applied = 0
        # Late-attach policy: by default a model that is behind with
        # its input deltas unrecoverable fails LOUDLY (silent forward
        # maintenance would permanently miss those epochs). Opt-in
        # bootstrap_if_behind=True runs model.bootstrap automatically
        # instead — a full refresh stamped with the last finalized
        # epoch, logged in bootstrap_log.
        self.bootstrap_if_behind = bootstrap_if_behind
        self.bootstrap_log: list[dict] = []

    # ---------------- the entry points ----------------

    def run(
        self,
        source: ChangeStreamSource,
        epoch_size: int | None = None,
        max_epochs: int | None = None,
        lookback: int = 0,
        *,
        max_rows_per_epoch: int | None = None,
        granules: int = 1024,
        sink=None,
    ) -> list[EpochResult]:
        """Tail the change stream from the last checkpoint into ``sink``
        (default: the engine's table), at most ``max_epochs`` epochs.
        Give exactly one epoch bound: ``epoch_size`` LSNs, or at most
        ``max_rows_per_epoch`` rows (S5 semantics folded into the
        engine: one pushed histogram of ``granules`` buckets over the
        backlog plans the epochs, so a burst of densely-packed LSNs
        can't blow an epoch past executor memory and a sparse stretch
        doesn't produce hundreds of near-empty epochs). Lookback
        re-reads are deduped away (P6).

        Recover, then apply the plan's slices as consecutive epochs.
        Recovering BEFORE planning is what makes pre-planned slices
        crash-safe: they start from the healed watermark, so a crashed
        epoch's gap is inside the plan rather than between stale plan
        boundaries. Both calls go through ``self`` with ``lsn_range``
        and ``sink`` by keyword: the benchmark times and traces them
        there."""
        if (epoch_size is None) == (max_rows_per_epoch is None):
            raise ValueError("give exactly one of epoch_size and max_rows_per_epoch")
        if epoch_size is not None:
            plan = _lsn_spans(epoch_size)
        else:
            plan = partial(source.plan_bounded_slices, max_rows=max_rows_per_epoch,
                           granules=granules)
        sink = self.table if sink is None else sink
        self.recover(sink=sink)
        results: list[EpochResult] = []
        hi_water = self.checkpoints.high_water_lsn()
        source_max = source.max_lsn()
        epoch = (self.checkpoints.last_epoch() or 0) + 1
        for _, hi in plan(hi_water, source_max):
            if max_epochs is not None and len(results) >= max_epochs:
                break
            changes = source.read_slice(hi_water, hi, lookback=lookback)
            res = self.apply_epoch(changes, epoch, lsn_range=(hi_water, hi), sink=sink)
            results.append(res)
            hi_water = hi
            epoch += 1
            if not res.skipped:
                self._epochs_applied += 1
                if self.maintenance_every and self._epochs_applied % self.maintenance_every == 0:
                    self._maintain(sink)
        return results

    def _maintain(self, sink) -> None:
        """Compaction, every ``maintenance_every`` applied epochs:
        content-preserving (proven by test) and epoch-ledger-preserving,
        so exactly-once is unaffected.

        The sink AND every attached model table that is a lake table:
        silver/gold merge per epoch and fragment exactly like bronze
        does (VERDICT r5 #4 — a long-running deployment with models
        attached otherwise re-acquires the problem this hook solves),
        whatever the sink. A warehouse compacts itself (server-side
        merges) and is skipped."""
        targets = [("bronze", sink)] + [(m.name, m.table) for m in self.silver_models]
        for label, t in targets:
            if not isinstance(t, LakeTable):
                continue
            res = t.rewrite_small_files()
            res["table"] = label
            res["after_epoch"] = self.checkpoints.last_epoch()
            self.maintenance_log.append(res)

    def apply_epoch(
        self,
        changes: DataFrame,
        epoch: int,
        lsn_range: tuple[int, int] | None = None,
        *,
        sink=None,
    ) -> EpochResult:
        """Apply one epoch of changes to ``sink`` (default: the engine's
        table) exactly once; also the streaming ``foreachBatch`` target
        (each micro-batch = one epoch). ``lsn_range`` is the (watermark,
        hi] slice the changes cover (default: module docstring).

        A finalized epoch is skipped. The staging record of an
        unfinalized epoch means an earlier attempt crashed, so
        :meth:`recover` runs first: if the sink committed the epoch,
        that finalizes it, replays its models and the epoch is skipped.
        The steady state pays one more file-existence check. A sink
        that reports the epoch committed anyway (another writer holds
        it) raises, and every model discards its write."""
        sink = self.table if sink is None else sink
        if not self.checkpoints.is_finalized(epoch) and os.path.exists(
            os.path.join(self._staging_dir(epoch), _STAGED_RECORD)
        ):
            self.recover(sink=sink)
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

        deduped = lww_dedup_window(changes, self.key_cols, self.order_cols)
        envelope = [c for c in CDC_TYPES if c in deduped.columns]
        project = project_arrow if added else project_columns
        delta_metrics = [F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("n_del")]
        obs_delta = Observation(f"delta-e{epoch}-{uuid.uuid4().hex[:6]}")
        projected = project(deduped, schema, keep=envelope).observe(obs_delta, *delta_metrics)

        # Stage the delta once for the sink's merge and every model —
        # the one sink-dependent step. A lake table stages it as
        # bucketed parquet: per-bucket footer offsets and the census
        # (affected buckets) its merge prunes with. A warehouse stages
        # plain parquet with the op envelope and applies those files.
        # Either way the dir is the epoch's durable lineage until every
        # model has committed the epoch, and its record, published
        # before the sink commits, is how the epoch and any replay of
        # its models open it. Staged files are written once and read
        # back at most twice before deletion, so a light codec there
        # trades ephemeral bytes for CPU.
        staging_dir = self._staging_dir(epoch)
        staged_schema = T.StructType(
            list(schema.fields) + [T.StructField(c, CDC_TYPES[c], True) for c in envelope]
        )
        if isinstance(sink, LakeTable):
            from etl_warehouse_agnostic_spark.functions.scalars import bucket_of

            num_buckets = sink.num_buckets
            by_bucket, _, _ = sink.write_bucketed(
                projected.withColumn("_bucket", bucket_of(self.key_cols[0], num_buckets)),
                staging_dir, compression="snappy",
            )
            files = {b: [os.path.relpath(os.path.join(sink.path, p), staging_dir) for p in ps]
                     for b, ps in by_bucket.items()}
        else:
            num_buckets = None
            exported = backends._export_delta(projected, staged_schema, staging_dir)
            files = {"all": [os.path.relpath(p, staging_dir) for p in exported]}
        record = {"schema": staged_schema.jsonValue(), "num_buckets": num_buckets, "files": files}
        if not publish_json(record, os.path.join(staging_dir, _STAGED_RECORD)):
            raise RuntimeError(f"{staging_dir} already holds a {_STAGED_RECORD}")
        delta, offsets, census = self._open_staged(staging_dir)

        slice_stats = observed(obs_slice, changes, slice_metrics)
        delta_stats = observed(obs_delta, delta, delta_metrics)
        rows_read = int(slice_stats.get("rows_read") or 0)
        n_rows = sum(o["rows"] for o in offsets.values())
        n_del = int(delta_stats.get("n_del") or 0)
        if lsn_range is None:
            lo = self.checkpoints.high_water_lsn()
            lsn_range = (lo, max(int(slice_stats.get("max_lsn") or 0), lo))
        manifest = self._manifest(
            epoch, lsn_range, offsets, rows_read, n_rows - n_del, n_del,
            schema_ver_max=int(slice_stats.get("sv_max") or schema_ver_max),
            added_columns=[f.name for f in added],
        )
        # Fan out (module docstring, steps 5-7): the models ride the
        # staged delta (no extra pass over the slice; the reference ran
        # its dbt models against the warehouse,
        # airflow/dags/repsly_dag.py:643-1040) on a thread of their own,
        # reading their sources at the pins taken here before anything
        # launches, while this thread merges into the sink and
        # finalizes; then the models may publish, and the staging dir
        # goes once every model has committed.
        pins = self._pin_sources(epoch)
        committed: Future = Future()
        with ThreadPoolExecutor(max_workers=1) as dag:
            models = dag.submit(self._apply_silver, delta, epoch, census=census,
                                pins=pins, committed=committed)
            try:
                # Every sink's commit records the manifest in its ledger
                # (recover heals from it). The lake table's merge prunes
                # by the epoch census — the staged buckets and the exact
                # delta size, which also lets it broadcast the
                # changed-key set into the anti-join; every model merge
                # reuses the same census.
                if isinstance(sink, LakeTable):
                    upserts, deletes = split_ops(delta)
                    res = sink.merge(
                        upserts.drop("lsn", "schema_ver"), deletes.select(*self.key_cols),
                        epoch_id=epoch, manifest=manifest, census=census,
                    )
                else:
                    res = sink.merge_files(exported, epoch_id=epoch, manifest=manifest)
                if res.skipped:
                    raise RuntimeError(f"epoch {epoch} is already committed to the sink "
                                       "by another writer")
                wall_ms = int((time.monotonic() - t0) * 1000)
                self.checkpoints.finalize(epoch, self._committed(manifest, res, wall_ms=wall_ms))
            except BaseException as e:
                committed.set_exception(e)  # every model discards its write
                raise
            committed.set_result(None)
            model_walls = models.result()
        shutil.rmtree(staging_dir, ignore_errors=True)
        return EpochResult(
            epoch=epoch, skipped=False, rows_read=rows_read,
            rows_upserted=n_rows - n_del, rows_deleted=n_del,
            bytes_written=res.bytes_written, wall_ms=wall_ms,
            snapshot_version=res.version, offsets=offsets,
            model_wall_ms=model_walls, lsn_range=tuple(lsn_range),
        )

    def recover(self, sink=None) -> list[int]:
        """Heal ``sink``'s (default: the engine's table's) crash window;
        returns the healed epoch ids. Finalize manifests for epochs the
        sink's ledger committed but whose manifest write was lost (the
        crash window between merge and finalize), from what the ledger
        RECORDED, without re-applying. Then make sure every model is
        current, replay retained staged deltas into the models and
        sweep the staging dirs of finished epochs (a crash between merge
        commit and cleanup leaves them behind otherwise)."""
        sink = self.table if sink is None else sink
        healed = []
        for epoch in sink.committed_epochs():
            if self.checkpoints.is_finalized(epoch):
                continue
            recorded = sink.epoch_manifest(epoch)
            if recorded is not None:
                self.checkpoints.finalize(epoch, self._committed(*recorded, healed=True))
                healed.append(epoch)
        # Check (and possibly auto-bootstrap) BEFORE replaying staged
        # deltas: a bootstrap stamped with the last finalized epoch
        # already covers any still-staged epoch's content from bronze.
        staged = self._staged_epochs()
        self._check_silver_current(sink, staged)
        self._recover_silver(staged)
        return healed

    # One-line delegations to the entry points, kept for callers
    # outside the package: bench.py and perfbench call ``run_warehouse``,
    # and perfbench's tracer wraps the ``*_warehouse`` pair by name.
    # Package code calls none of them.

    def run_warehouse(self, warehouse, source: ChangeStreamSource, epoch_size: int,
                      max_epochs: int | None = None, lookback: int = 0) -> list[EpochResult]:
        return self.run(source, epoch_size, max_epochs, lookback, sink=warehouse)

    def apply_epoch_warehouse(self, warehouse, changes: DataFrame, epoch: int,
                              lsn_range: tuple[int, int] | None = None) -> EpochResult:
        return self.apply_epoch(changes, epoch, lsn_range=lsn_range, sink=warehouse)

    def recover_warehouse(self, warehouse) -> list[int]:
        return self.recover(sink=warehouse)

    # ---------------- helpers ----------------

    def _manifest(self, epoch: int, lsn_range: tuple[int, int], offsets: dict,
                  rows_read: int, rows_upserted: int, rows_deleted: int,
                  schema_ver_max: int, added_columns: list[str]) -> dict:
        """The one checkpoint-manifest shape, as the sink's commit
        records it; ``_committed`` adds the post-commit fields."""
        return {
            "epoch": epoch,
            "offsets": offsets,
            "metrics": {"rows_read": rows_read, "rows_upserted": rows_upserted,
                        "rows_deleted": rows_deleted, "bytes_written": 0, "wall_ms": 0},
            "lineage": {"source": self.source_name, "lsn_range": list(lsn_range),
                        "schema_ver_max": schema_ver_max, "added_columns": added_columns},
        }

    @staticmethod
    def _committed(manifest: dict, res: MergeResult, **metrics) -> dict:
        """``manifest`` completed from the sink's commit of its epoch,
        ``res``: the bytes it wrote, its snapshot version and its commit
        stamp (now, when the sink records none), plus ``metrics`` (the
        live epoch's wall time, or a heal's ``healed`` mark)."""
        return dict(manifest,
                    metrics=dict(manifest["metrics"], bytes_written=res.bytes_written, **metrics),
                    snapshot_version=res.version, committed_at=res.committed_at or utc_now())

    def _staging_dir(self, epoch: int) -> str:
        return os.path.join(self.checkpoints.path, "_staging", f"e{epoch:08d}")

    def _staged_epochs(self) -> dict[int, str]:
        """The retained staging dirs, by epoch id."""
        root = os.path.dirname(self._staging_dir(0))
        if not os.path.isdir(root):
            return {}
        return {
            int(d[1:]): os.path.join(root, d)
            for d in os.listdir(root)
            if d.startswith("e") and d[1:].isdigit()
        }

    def _open_staged(self, staging_dir: str) -> tuple[DataFrame, dict, EpochCensus | None]:
        """The one read of a staging dir, for the live epoch and for a
        replay of its models: the delta, its per-partition offsets and
        its epoch census, from the dir's record and the footers of the
        files it lists (driver-side metadata reads, no Spark job).

        Offsets are each partition's high-water lsn and row count; a
        bucketed stage has one partition per bucket, an unbucketed one
        the single partition ``"all"`` (the bucket is the lineage
        partition unit, FIXTURES.md F4; the epoch's global lsn bounds
        live in lineage.lsn_range). The census names the staged buckets
        in the modulus the delta was staged with (None when unbucketed).
        An empty delta opens as an empty DataFrame of the staged
        schema."""
        record_path = os.path.join(staging_dir, _STAGED_RECORD)
        if not os.path.exists(record_path):
            raise RuntimeError(
                f"staging dir {staging_dir} has no {_STAGED_RECORD}: it was not "
                "staged by this engine version, so its delta cannot be replayed"
            )
        with open(record_path) as f:
            record = json.load(f)
        schema = T.StructType.fromJson(record["schema"])
        files: list[str] = []
        offsets: dict[str, dict[str, int]] = {}
        for part, rels in sorted(record["files"].items()):
            paths = [os.path.join(staging_dir, rel) for rel in sorted(rels)]
            rows, max_lsn = footer_census(paths, "lsn")  # every slice carries lsn
            offsets[part] = {"max_lsn": max_lsn or 0, "rows": rows}
            files += paths
        census = None
        if record["num_buckets"] is not None:
            key = self.key_cols[0]
            census = EpochCensus(key, schema[key].dataType, record["num_buckets"],
                                 tuple(sorted(int(b) for b in offsets)),
                                 sum(o["rows"] for o in offsets.values()))
        return read_files(self.spark, schema, files), offsets, census

    def _apply_silver(self, staged: DataFrame, epoch: int,
                      census: EpochCensus | None = None, *,
                      pins: dict[int, int] | None = None,
                      committed: Future | None = None) -> dict[str, int]:
        """Apply the epoch to every attached model at once, each on a
        worker thread of its own. A root model feeds on the bronze
        staged delta; a chained model on its parent's ``epoch_delta`` of
        the parent's own input — a pure function of it, so recovery
        replays the WHOLE DAG from the one retained bronze delta
        (already-committed models just skip their merge). Every model
        gets the bronze epoch ``census`` (None on a warehouse, whose
        stage is unbucketed): model keys propagate from the bronze
        delta, so it names their buckets too. Its row count is dropped
        here, where it enters the DAG: a transform may fan out, so the
        bronze count does not bound a model's changed keys.

        No model waits for another model's or the sink's merge to read:
        each reads its lake source at ``pins`` (source table id →
        pre-epoch version, from ``_pin_sources``, which a replay calls
        here), so a chained model runs beside its parent. Commits do
        wait: every model publishes only once ``committed`` (the sink's
        commit and finalize of the epoch; None when that is done) has
        succeeded, and discards what it wrote if it failed. A model whose table is
        a warehouse (one transaction, nothing to hold back) starts after
        ``committed``; one whose source is a warehouse (no time travel)
        starts after that source commits — the sink, or its parent.

        Returns per-model wall (ms) so callers can attribute epoch time
        between the bronze apply and each model's maintenance. Each
        model commits to its OWN table, so results do not depend on the
        order the models finish in, and the crash contract holds: the
        staging dir is swept only after every model returns, and a
        failure anywhere leaves it retained — recovery replays it,
        already-committed models skip via their ledgers."""
        if census is not None:
            census = dataclasses.replace(census, rows=None)
        if pins is None:
            pins = self._pin_sources(epoch)
        if committed is None:
            committed = Future()
            committed.set_result(None)
        inputs: dict[int, DataFrame] = {}
        for m in self.silver_models:  # parent-first
            p = m.parent
            inputs[id(m)] = staged if p is None else p.epoch_delta(inputs[id(p)], epoch)
        walls: dict[str, int] = {}
        applied: dict[int, Future] = {}

        def apply(m) -> None:
            src = m.bronze
            if src is not None and not isinstance(src, LakeTable):
                (committed if m.parent is None else applied[id(m.parent)]).result()
            elif not isinstance(m.table, LakeTable):
                committed.result()
            pin = {} if src is None else {"pinned": pins.get(id(src))}
            t0 = time.monotonic()
            with gated_commits(committed.result):
                m.apply_epoch(inputs[id(m)], epoch, census=census, **pin)
            walls[m.name] = int((time.monotonic() - t0) * 1000)

        if self.silver_models:
            with ThreadPoolExecutor(max_workers=len(self.silver_models)) as pool:
                for m in self.silver_models:
                    applied[id(m)] = pool.submit(apply, m)
            for f in applied.values():
                f.result()
        return walls

    def _pin_sources(self, epoch: int) -> dict[int, int | None]:
        """The pre-epoch version of the lake source of every model that
        still needs the epoch, by table id (``LakeTable.pre_epoch_version``:
        the current version, or on a replay the parent of the source's
        commit of the epoch, None when that is not retained). A model
        that has the epoch skips it, so its source is not asked: a
        bootstrap may have stamped the epoch into that source without a
        commit of its own. A source with no entry is read as it stands."""
        return {id(m.bronze): m.bronze.pre_epoch_version(epoch)
                for m in self.silver_models
                if isinstance(m.bronze, LakeTable) and not m.epoch_committed(epoch)}

    def _check_silver_current(self, sink, staged: dict[int, str]) -> None:
        """Refuse to tail forward past a model that is behind on
        finalized epochs whose deltas are gone (swept or never staged,
        e.g. a model attached to an already-populated sink):
        maintaining it forward would
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
        self, m, default_source, behind: list[int], staged_finalized: list[int],
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
        src = m.parent.table if m.parent is not None else default_source
        if isinstance(m, SilverModel):
            m.bootstrap(src, epoch_id)
        else:  # an aggregate reads its own source
            m.bootstrap(epoch_id)
        covered_staged = [e for e in staged_finalized if e <= epoch_id]
        m.table.record_epochs(covered_staged)
        self.bootstrap_log.append(
            {"model": m.name, "epoch_id": epoch_id, "covered": list(behind),
             "stamped_staged": covered_staged}
        )


    def _recover_silver(self, staged: dict[int, str]) -> None:
        """Catch models up from retained staging dirs — the crash window
        between the manifest finalize and the model applies (or
        between two models) — then sweep each finalized epoch's dir.
        A replay opens the dir as its epoch did (``_open_staged``), so
        an empty delta replays too. Epoch-idempotent merges make the
        replay safe; a dir is only swept once every model has committed
        its epoch."""
        for epoch, staging_dir in sorted(staged.items()):
            if not self.checkpoints.is_finalized(epoch):
                continue  # the sink itself will replay this epoch
            if not all(m.epoch_committed(epoch) for m in self.silver_models):
                delta, _, census = self._open_staged(staging_dir)
                self._apply_silver(delta, epoch, census=census)
            shutil.rmtree(staging_dir, ignore_errors=True)


def _lsn_spans(epoch_size: int):
    """Slice planner: consecutive spans of ``epoch_size`` LSNs."""
    return lambda lo, hi: ((a, min(a + epoch_size, hi)) for a in range(lo, hi, epoch_size))
