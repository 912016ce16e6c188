"""Incremental silver-layer materialization (the dbt-per-cycle analog).

The reference's transform stage runs dbt models *per extraction cycle*
with incremental predicates (dbt/models/raw/repsly/client_notes_raw.sql:55-60,
orchestrated per-cycle at airflow/dags/repsly_dag.py:643-1040): each
cycle transforms ONLY the rows that landed since the model's own
watermark and MERGEs them into the curated table, keyed by the same
unique key as the raw table. This module is the Spark-native analog,
maintained by the CDC tail loop itself: for each bronze epoch the
model transforms that epoch's staged delta (the deduped net ops the
engine already wrote for per-bucket lineage) and MERGEs the result into
its own LakeTable under the SAME epoch id — so silver maintenance is
exactly-once, resumable, and O(delta) per cycle, never a rescan of
bronze.

Scale design (100 TB): the staged delta is already bucketed and tiny
relative to the slice; the transform is a row-wise projection (one
WholeStageCodegen span, no extra shuffle — the delta arrives bucketed
on the merge key); the silver MERGE is the same copy-on-write
affected-buckets-only merge bronze uses. Cost per cycle is
O(delta + affected silver buckets), independent of bronze size.

Census threading: the engine hands every model the bronze epoch's
:class:`~etl_warehouse_agnostic_spark.lake.table.EpochCensus` (staged
buckets, delta rows). Model key values propagate unchanged from the
bronze delta, so on any table bucketed on the same key, of the same
type, into a divisor of bronze's bucket count the census names the
touched buckets exactly: the models' pruned source reads and their
merges take them from it instead of each collecting the census again
(``_delta_buckets`` is the fallback for other layouts). The census
reaches the models without its row count: ``CdcEngine._apply_silver``
drops it once, where the census enters the DAG, because a transform may
fan out, so the bronze count does not bound a model's changed keys.
The day rollup's merge keys are its own groups, so it observes its gold
census (buckets and group count) on the checkpoint it already takes,
and that census keeps its count.

Pinned reads: a model that reads a table besides its delta (an
aggregate's source, bronze or its parent's table) reads it at the
source's pre-epoch version, ``LakeTable.pre_epoch_version``: the
post-epoch rows are the pinned rows overlaid with the delta
(``LakeTable.read_after``), the old rows are the pinned rows
themselves. So no model waits for its source's merge, and a replay
reads exactly what the live epoch read (the pin is then the parent of
the source's epoch commit). That the overlay equals the source's
post-epoch rows is a query-equivalence claim under bag semantics (cf.
*SPES*, ICDE 2022); the full-rebuild tests check it. A source with no
pin (None) is read as it stands, which already holds the epoch: a
warehouse source, which has no time travel and whose models read it
after it commits, or on a replay a lake source whose state before the
epoch is no longer retained. The old rows need a pin.

Crash contract: every model merge writes beside the bronze merge but
publishes only once bronze has committed and the manifest finalized
(``lake.table.gated_commits``); the staging delta is deleted only after
EVERY attached model has committed the epoch. A crash anywhere in
between retains the staged files, and ``CdcEngine.recover()`` replays
them through the model's epoch-idempotent merge — same write-ahead
ordering as the bronze path.
"""

from __future__ import annotations

import uuid
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_warehouse_agnostic_spark.functions.scalars import bucket_of
from etl_warehouse_agnostic_spark.lake.table import (
    EpochCensus,
    LakeTable,
    MergeResult,
    observed,
)
from etl_warehouse_agnostic_spark.operators.dedup import split_ops


def _delta_buckets(staged: DataFrame, snap: dict) -> list[int]:
    """Buckets of source snapshot ``snap`` that the delta's keys hash
    to — the no-census fallback, a collect of ≤ num_buckets rows.
    Delete rows carry their keys, so every touched bucket is visible.
    Keys hash in the snapshot's key type, as the table hashed them."""
    key = snap["key_cols"][0]
    key_type = T.StructType.fromJson(snap["schema"])[key].dataType
    b = bucket_of(F.col(key).cast(key_type), int(snap["num_buckets"]))
    return sorted(r[0] for r in staged.select(b.alias("_b")).distinct().collect())


def _source_buckets(staged: DataFrame, snap: dict, census: EpochCensus | None) -> list[int]:
    """The delta's buckets in ``snap``'s layout: from the epoch census
    when that layout coarsens it, else collected."""
    buckets = census.buckets_for(snap) if census is not None else None
    return _delta_buckets(staged, snap) if buckets is None else buckets


def _pre_epoch_rows(source: LakeTable, pinned: int | None, staged: DataFrame,
                    census: EpochCensus | None, name: str) -> tuple[DataFrame, list[int]]:
    """The source's rows for exactly the delta's keys at its pinned
    pre-epoch version ``pinned`` (``LakeTable.pre_epoch_version``, so a
    live epoch and its replay read the same rows), bucket-pruned to the
    delta's buckets; returns them with those buckets."""
    if pinned is None:
        raise RuntimeError(
            f"gold model {name!r}: source {source.path} holds the epoch, but "
            "no retained snapshot shows its state before it (expired, or "
            "stamped by a bootstrap), so the epoch's old rows cannot be read"
        )
    snap = source.snapshot(pinned)
    keys = list(snap["key_cols"])
    buckets = _source_buckets(staged, snap, census)
    pre = source.read(version=pinned, buckets=buckets)
    return pre.join(staged.select(*keys).dropDuplicates(keys), keys, "left_semi"), buckets


def _post_epoch_rows(source, pinned: int | None, staged: DataFrame, **prune) -> DataFrame:
    """The source's rows once the epoch's delta ``staged`` is applied,
    pruned as ``read`` prunes: a lake source's pinned pre-epoch rows
    overlaid with the delta (``LakeTable.read_after``), readable while
    the source's own merge of the epoch still runs. With no pin the
    source already holds the epoch and is read as it stands (a
    warehouse source, which has no time travel and which the engine
    reads after it commits, or a replay's source whose pre-epoch state
    is gone)."""
    if not isinstance(source, LakeTable):
        return source.read()
    if pinned is None:
        return source.read(**prune)
    upserts, deletes = split_ops(staged)
    return source.read_after(pinned, upserts, deletes, **prune)


def _merge(table, upserts: DataFrame, delete_keys: DataFrame, epoch: int,
           census: EpochCensus | None) -> MergeResult:
    """A model's MERGE under the bronze epoch id; the census reaches a
    lake table only (a warehouse backend has no bucket layout)."""
    kw = {"census": census} if isinstance(table, LakeTable) else {}
    return table.merge(upserts, delete_keys=delete_keys, epoch_id=epoch, **kw)


def model_dag_order(models: list) -> list:
    """The attached models parent-first: the parent forest's connected
    components in the order their roots were attached, each walked
    breadth-first from its root (a parent's children in attach order).
    A chained model's input, its parent's ``epoch_delta``, is derived
    after the parent's own, and a bootstrap refreshes a parent before
    its children. The order is not a commit order: every model reads
    its source pinned at the pre-epoch version, so the engine applies
    an epoch to all of them side by side.

    A parent that is not itself attached raises: its table would never
    be maintained, so the chain would silently aggregate stale data —
    the same loud-failure policy as the late-attach guard."""
    ids = {id(m) for m in models}
    children: dict[int, list] = {}
    for m in models:
        if m.parent is None:
            continue
        if id(m.parent) not in ids:
            raise ValueError(
                f"model {m.name!r} chains off {m.parent.name!r}, which is not "
                "attached to the engine — attach the parent too, ahead of "
                "or alongside its children"
            )
        children.setdefault(id(m.parent), []).append(m)
    order = []
    for root in (m for m in models if m.parent is None):
        chain = [root]
        for m in chain:  # grows as it walks: breadth-first from the root
            chain += children.get(id(m), [])
        order += chain
    return order


class _Model:
    """What every model shares: its own ``table`` and ``name``, the
    optional ``parent`` whose :meth:`SilverModel.epoch_delta` feeds it
    instead of bronze, and the table's epoch ledger."""

    # The table the model reads besides its input delta (an aggregate's
    # source); None when it reads only the delta.
    bronze = None

    def __init__(self, table, name: str, parent: "SilverModel | None"):
        if parent is not None and not isinstance(parent, SilverModel):
            raise ValueError(
                f"model {name!r}: parent must be a SilverModel (a row-wise "
                "model whose per-epoch output delta is recomputable); "
                f"got {type(parent).__name__}"
            )
        self.table = table
        self.name = name
        self.parent = parent

    def epoch_committed(self, epoch: int) -> bool:
        return self.table.epoch_committed(epoch)

    def last_epoch(self) -> int:
        es = self.table.committed_epochs()
        return max(es) if es else 0


def _aggregate_source(table, bronze, group_cols: list[str], name: str,
                      parent: "SilverModel | None"):
    """An aggregate's source table — its parent's when chained — after
    checking that the gold table is keyed by exactly ``group_cols``."""
    if parent is not None:
        if bronze is None:
            bronze = parent.table
        elif bronze is not parent.table:
            raise ValueError(
                f"gold model {name!r}: chained aggregate must read its "
                f"parent's table (bronze is {bronze.path!r}, parent table "
                f"is {parent.table.path!r})"
            )
    if bronze is None:
        raise ValueError(f"gold model {name!r}: needs a source table or a parent")
    if list(table.key_cols) != list(group_cols):
        raise ValueError(
            f"gold table keys {table.key_cols} must equal group_cols {group_cols}"
        )
    return bronze


class AggregateModel(_Model):
    """Incrementally-maintained AGGREGATE table — the gold layer
    (dbt's incremental-aggregate / rollup shape, the per-cycle analog
    of the reference's curated aggregation models).

    ``aggregate(rows) -> DataFrame`` maps bronze-shaped rows to ONE row
    per ``group_cols`` value. Maintenance strategy is AFFECTED-GROUP
    RECOMPUTE: once updates/deletes exist, a delete cannot be folded
    associatively out of a running aggregate, so per cycle the groups
    touched by the epoch's staged delta are recomputed from the bronze
    table's post-epoch state (its pinned pre-epoch rows with the delta
    overlaid) and MERGEd into the gold table; groups whose last bronze
    row disappeared are deleted.

    **Which groups does an epoch touch?** When ``group_cols`` are all
    bronze KEY columns (keys are immutable and present on delete rows),
    the staged delta itself names every touched group. Any other
    grouping (e.g. a day rollup over a mutable ``ts``) is only correct
    with OLD-GROUP TRACKING: an update that moves a row between groups
    must recompute the row's former group too, and a delete row carries
    NULL payload so its group is unknowable from the delta — both old
    groups come from the PRE-epoch bronze snapshot (time-travel read of
    the delta's keys, bucket-pruned to the delta's buckets). A non-key
    grouping therefore requires a versioned (lake) bronze and
    ``row_groups`` when the group value is derived (e.g. day-of-ts).

    Scale (100 TB), recompute scan per cycle, in preference order:
    - bucket-pruned — leading group column IS bronze's bucket key: read
      only the staged delta's buckets (snapshot-metadata pruning),
      O(affected buckets), independent of bronze size;
    - day-pruned — ``day_of`` names a group column holding the bronze
      time-partition granule (``days(ts)`` → 'yyyy-MM-dd'): read only
      the touched groups' granule range via ``read(day_range=...)``,
      O(touched days);
    - full scan — neither applies: warns once per model (or raises
      with ``require_pruned=True``); at a 100-TB bronze this rescans
      the table every cycle and is almost certainly a mis-modeling.

    Exactly-once and crash recovery ride the same contract as
    :class:`SilverModel`: the MERGE carries the bronze epoch id, and a
    crash after the bronze finalize but before the gold commit replays
    from the retained staging delta via ``CdcEngine.recover()``.
    """

    def __init__(
        self,
        table: LakeTable,
        bronze: LakeTable | None,
        group_cols: list[str],
        aggregate: Callable[[DataFrame], DataFrame],
        name: str = "gold",
        parent: "SilverModel | None" = None,
        row_groups: Callable[[DataFrame], DataFrame] | None = None,
        day_of: str | None = None,
        require_pruned: bool = False,
    ):
        super().__init__(table, name, parent)
        bronze = _aggregate_source(table, bronze, group_cols, name, parent)
        lake_source = isinstance(bronze, LakeTable)
        src_keys = list(bronze.key_cols)
        key_grouped = set(group_cols) <= set(src_keys)
        if not key_grouped:
            # ADVICE r5 (medium): without old-group tracking, an update
            # that changes a payload grouping value (or any delete, its
            # payload being NULL) would leave the row's OLD group stale
            # — silent divergence. Old groups need the pre-epoch bronze
            # snapshot, so a versioned (lake) source is mandatory here.
            if not lake_source:
                raise ValueError(
                    f"gold model {name!r}: group_cols {group_cols} are not all "
                    f"key columns of the source ({src_keys}); correct "
                    "maintenance then requires old-group tracking against the "
                    "pre-epoch snapshot, which this source cannot provide — "
                    "group by key columns or use a versioned lake table"
                )
        if day_of is not None:
            if day_of not in group_cols:
                raise ValueError(
                    f"gold model {name!r}: day_of={day_of!r} must be one of "
                    f"group_cols {group_cols}"
                )
            if not lake_source or bronze.partition_spec is None:
                raise ValueError(
                    f"gold model {name!r}: day_of requires a time-partitioned "
                    "source table (partition_spec), which this source lacks — "
                    "day-range pruning would silently scan nothing"
                )
        bucket_key = src_keys[0] if lake_source else None
        if require_pruned and list(group_cols)[0] != bucket_key and day_of is None:
            raise ValueError(
                f"gold model {name!r}: require_pruned=True but grouping neither "
                f"leads with the bucket key of a bucketed lake source "
                f"({bucket_key!r}) nor declares day_of — every cycle would "
                "scan the full source"
            )
        self.bronze = bronze
        self.group_cols = list(group_cols)
        self.aggregate = aggregate
        self.key_grouped = key_grouped
        # row_groups AUGMENTS source-shaped rows with the grouping
        # columns when they are derived (e.g. day = date(ts)); identity
        # when the group columns are physical. ``aggregate`` receives
        # the augmented rows and groups by ``group_cols`` directly.
        self.row_groups = row_groups or (lambda df: df)
        self.day_of = day_of
        self.require_pruned = require_pruned
        self._bucket_key = bucket_key  # None unless the source is bucketed
        self.last_scan: dict | None = None  # {mode, buckets, day_range} — observability
        self._warned_full_scan = False

    def bootstrap(self, epoch_id: int) -> MergeResult:
        """Full-refresh bootstrap for attaching to an already-populated
        bronze: aggregate the CURRENT bronze state (all groups) and
        overwrite, stamped with bronze's last epoch so maintenance
        resumes from the next cycle."""
        return self.table.overwrite(
            self.aggregate(self.row_groups(self.bronze.read())), epoch_id=epoch_id
        )

    def _touched_groups(self, staged: DataFrame, pinned: int | None,
                        census: EpochCensus | None) -> DataFrame:
        """Distinct group values this epoch touches.

        Key-grouped: the delta itself names them (keys are immutable
        and present on deletes). Otherwise union in the OLD groups —
        the pre-epoch snapshot's rows for the delta's keys (bucket-
        pruned time-travel read), covering updates that move a row
        between groups and deletes whose payload is NULL (read at the
        source's ``pinned`` pre-epoch version)."""
        if self.key_grouped:
            return (
                self.row_groups(staged)
                .select(*self.group_cols)
                .dropDuplicates(self.group_cols)
            )
        ups = staged.where(F.col("op") != "D") if "op" in staged.columns else staged
        new_groups = self.row_groups(ups).select(*self.group_cols)
        old_rows, _ = _pre_epoch_rows(self.bronze, pinned, staged, census, self.name)
        return (
            new_groups.unionByName(self.row_groups(old_rows).select(*self.group_cols))
            .dropDuplicates(self.group_cols)
        )

    def _recompute_scan(self, staged: DataFrame, touched: DataFrame, pinned: int | None,
                        census: EpochCensus | None) -> DataFrame:
        """Post-epoch source rows to re-aggregate (the rows pinned at
        the pre-epoch version with the delta overlaid), pruned when
        possible (see class docstring for the strategy order); records
        what it did in ``self.last_scan``."""
        if self.key_grouped and self.group_cols[0] == self._bucket_key:
            # a group lives entirely inside one bucket
            buckets = _source_buckets(staged, self.bronze.snapshot(pinned), census)
            self.last_scan = {"mode": "bucket", "buckets": buckets, "day_range": None}
            return _post_epoch_rows(self.bronze, pinned, staged, buckets=buckets)
        if self.day_of is not None:
            rng = touched.agg(
                F.min(self.day_of).alias("lo"), F.max(self.day_of).alias("hi")
            ).first()
            if rng is None or rng["lo"] is None:
                self.last_scan = {"mode": "day", "buckets": [], "day_range": None}
                return self.bronze.read(buckets=[])
            day_range = (str(rng["lo"]), str(rng["hi"]))
            self.last_scan = {"mode": "day", "buckets": None, "day_range": day_range}
            return _post_epoch_rows(self.bronze, pinned, staged, day_range=day_range)
        if self.require_pruned:
            raise RuntimeError(
                f"gold model {self.name!r}: no pruning strategy applies "
                "(require_pruned=True) — grouping neither leads with the "
                "bucket key nor declares day_of"
            )
        if not self._warned_full_scan:
            import warnings

            warnings.warn(
                f"gold model {self.name!r}: recompute falls back to a FULL "
                f"source scan every cycle (grouping {self.group_cols} neither "
                f"leads with the bucket key {self.bronze.key_cols[0]!r} nor "
                "declares day_of) — fine at test scale, a scale-killer on a "
                "large table",
                stacklevel=3,
            )
            self._warned_full_scan = True
        self.last_scan = {"mode": "full", "buckets": None, "day_range": None}
        return _post_epoch_rows(self.bronze, pinned, staged)

    def apply_epoch(self, staged: DataFrame, epoch: int,
                    census: EpochCensus | None = None, *, pinned: int | None) -> MergeResult:
        """Apply one epoch's delta. ``pinned`` is the source's pre-epoch
        version, as the engine pinned it before the epoch fanned out
        (``LakeTable.pre_epoch_version``); every source read is at that
        version, so the source's own merge of the epoch may run
        concurrently, before or after this one. None reads the source
        as it stands (module docstring, pinned reads)."""
        if self.table.epoch_committed(epoch):
            return MergeResult(0, epoch, 0, 0, 0, skipped=True)
        touched = self._touched_groups(staged, pinned, census)
        cur = self.row_groups(self._recompute_scan(staged, touched, pinned, census)).join(
            touched, self.group_cols, "left_semi"
        )
        out = self.aggregate(cur)
        missing = [k for k in self.group_cols if k not in out.columns]
        if missing:
            raise ValueError(
                f"gold model {self.name!r}: aggregate dropped group column(s) {missing}"
            )
        gone = touched.join(out.select(*self.group_cols), self.group_cols, "left_anti")
        return _merge(self.table, out, gone, epoch, census)


class DeltaAggregateModel(_Model):
    """Delta-MAINTAINED aggregate table (classic incremental view
    maintenance) for SUBTRACTABLE measures: a row count plus any number
    of SUMs (avg/rate derive from those downstream). The dbt-style
    rollup shape is the same as :class:`AggregateModel`; the
    maintenance strategy is pure delta arithmetic — never a group
    recompute::

        new(g) = old(g) + agg(epoch's net upserts in g)
                        - agg(pre-epoch rows of the epoch's keys in g)

    Scale (100 TB): cost per cycle is O(delta + the delta's source
    buckets (one pruned pre-state read) + touched GOLD buckets) —
    independent of GROUP SIZE. ``AggregateModel``'s affected-group
    recompute rescans every row of every touched group; for day-level
    rollups over a 100-TB table (millions of rows per group) a
    single-row update there costs a full-day rescan, here two
    bucket-pruned point lookups. The dense worst case (every epoch
    touches every group) drops from O(table) to O(delta).

    Trade-offs vs :class:`AggregateModel` (both kept; pick per measure
    set):

    - only count/sum — measures with an inverse. min/max/count-distinct
      are not subtractable (a delete may retire the current extremum);
      use the recompute model for those.
    - floating-point sums drift from a from-scratch rebuild by FP
      non-associativity; use integer/decimal measures where exact-hash
      equality against a rebuild matters (the driver oracle row uses
      longs). Documented, not guarded — parity with how every SQL
      engine treats incremental float aggregation.
    - requires the pre-epoch snapshot (versioned lake source), the same
      requirement non-key-grouped recompute already has.

    NULL-exactness: SQL ``SUM`` over a group whose every contribution
    is NULL is NULL, and a rebuild would say so — a running 0 would
    diverge. Each sum column therefore rides with a ``_nn_<col>``
    non-null-contribution count in the gold table; the visible column
    is NULL iff that count is 0, and the running total stays
    recoverable as ``coalesce(col, 0)`` because nn==0 implies the
    total is exactly 0.

    Exactly-once/crash contract: identical to the other models — the
    MERGE carries the bronze epoch id and replays skip before any
    mutation; the delta arithmetic is a deterministic function of the
    staged delta and the PINNED pre-epoch snapshot
    (``LakeTable.pre_epoch_version``), so a crash-replay computes
    bit-identical updates. Reference analog: the incremental-aggregate
    dbt models the reference runs per cycle
    (dbt/models/curated/repsly/client_notes.sql — ClickHouse
    SummingMergeTree-style rollups), which also fold deltas instead of
    recomputing groups.
    """

    def __init__(
        self,
        table: LakeTable,
        bronze: "LakeTable | None",
        group_cols: list[str],
        sums: dict,
        count_col: str = "n_rows",
        name: str = "gold_delta",
        parent: "SilverModel | None" = None,
        row_groups: Callable[[DataFrame], DataFrame] | None = None,
    ):
        from pyspark.sql import Column

        super().__init__(table, name, parent)
        bronze = _aggregate_source(table, bronze, group_cols, name, parent)
        if not isinstance(bronze, LakeTable):
            raise ValueError(
                f"gold model {name!r}: delta maintenance subtracts the "
                "pre-epoch values of changed keys, which needs a versioned "
                f"bucketed lake source — this source is a {type(bronze).__name__} "
                "(a warehouse backend); use AggregateModel's recompute there"
            )
        table_cols = {f.name for f in table.schema.fields}
        need = [count_col] + [c for s in sums for c in (s, f"_nn_{s}")]
        missing = [c for c in need if c not in table_cols]
        if missing:
            raise ValueError(
                f"gold model {name!r}: table schema is missing maintained "
                f"column(s) {missing} — build it from aggregate(empty_df).schema"
            )
        self.bronze = bronze
        self.group_cols = list(group_cols)
        self.sums = {
            out: (F.col(expr) if isinstance(expr, str) else expr)
            for out, expr in sums.items()
        }
        for out, expr in self.sums.items():
            if not isinstance(expr, Column):
                raise ValueError(
                    f"gold model {name!r}: sums[{out!r}] must be a column name "
                    f"or a pyspark Column; got {type(expr).__name__}"
                )
        self.count_col = count_col
        self.row_groups = row_groups or (lambda df: df)
        self.last_scan: dict | None = None  # {mode, src_buckets, gold_buckets}

    def aggregate(self, rows: DataFrame) -> DataFrame:
        """The full-rebuild equivalent of the maintained table (used by
        ``bootstrap`` and by equivalence tests): count + sums + the
        hidden per-sum non-null counts, grouped by ``group_cols``."""
        aggs = [F.count(F.lit(1)).cast("long").alias(self.count_col)]
        for out, expr in self.sums.items():
            aggs.append(F.sum(expr).alias(out))
            aggs.append(F.count(expr).cast("long").alias(f"_nn_{out}"))
        return self.row_groups(rows).groupBy(*self.group_cols).agg(*aggs)

    def bootstrap(self, epoch_id: int) -> MergeResult:
        """Full-refresh bootstrap (attach to an already-populated
        source): aggregate the CURRENT source state and overwrite,
        stamped so maintenance resumes from the next cycle."""
        return self.table.overwrite(
            self.aggregate(self.bronze.read()), epoch_id=epoch_id
        )

    def apply_epoch(self, staged: DataFrame, epoch: int,
                    census: EpochCensus | None = None, *, pinned: int | None) -> MergeResult:
        """Apply one epoch's delta; ``pinned`` as in
        :meth:`AggregateModel.apply_epoch`."""
        if self.table.epoch_committed(epoch):
            return MergeResult(0, epoch, 0, 0, 0, skipped=True)
        upserts, _ = split_ops(staged)
        # the subtract side of the maintenance identity
        old_rows, src_buckets = _pre_epoch_rows(self.bronze, pinned, staged, census, self.name)
        pos = self.aggregate(upserts).withColumn("_sign", F.lit(1))
        neg = self.aggregate(old_rows).withColumn("_sign", F.lit(-1))
        d_aggs = [
            F.sum(F.col(self.count_col) * F.col("_sign")).cast("long").alias(self.count_col)
        ]
        for out in self.sums:
            d_aggs.append(
                F.sum(F.coalesce(F.col(out), F.lit(0)) * F.col("_sign")).alias(out)
            )
            d_aggs.append(
                F.sum(F.col(f"_nn_{out}") * F.col("_sign")).cast("long").alias(f"_nn_{out}")
            )
        # one row per touched group, tiny — checkpoint so the two joins
        # below don't recompute the plan; the gold census (touched gold
        # buckets, group count) rides the checkpoint job as an
        # Observation and prunes both the old-row read and the merge
        # (hashed in the gold key type, as the gold table hashes it)
        gsnap = self.table.snapshot()
        m = int(gsnap["num_buckets"])
        types = {f.name: f.dataType for f in T.StructType.fromJson(gsnap["schema"]).fields}
        g0 = self.group_cols[0]
        gold_metrics = [
            F.collect_set(bucket_of(F.col(g0).cast(types[g0]), m)).alias("buckets"),
            F.count(F.lit(1)).alias("rows"),
        ]
        obs = Observation(f"{self.name}-e{epoch}-{uuid.uuid4().hex[:6]}")
        d = (
            pos.unionByName(neg)
            .groupBy(*self.group_cols)
            .agg(*d_aggs)
            .observe(obs, *gold_metrics)
            .localCheckpoint()
        )
        stats = observed(obs, d, gold_metrics)
        gold_buckets = sorted(stats["buckets"])
        gold = EpochCensus(g0, types[g0], m, tuple(gold_buckets), int(stats["rows"]))
        self.last_scan = {
            "mode": "delta",
            "src_buckets": src_buckets,
            "gold_buckets": gold_buckets,
        }
        old = self.table.read(buckets=gold_buckets).join(
            d.select(*self.group_cols), self.group_cols, "left_semi"
        )
        # every touched group is in d; old ⊆ d's groups, so a left join
        # covers both brand-new groups (old side NULL) and updates
        j = d.alias("d").join(old.alias("o"), self.group_cols, "left")
        new_n = (
            F.coalesce(F.col(f"o.{self.count_col}"), F.lit(0))
            + F.col(f"d.{self.count_col}")
        ).cast(types[self.count_col])
        cols = [F.col(c) for c in self.group_cols] + [new_n.alias(self.count_col)]
        for out in self.sums:
            nn = (
                F.coalesce(F.col(f"o._nn_{out}"), F.lit(0)) + F.col(f"d._nn_{out}")
            ).cast(types[f"_nn_{out}"])
            total = F.coalesce(F.col(f"o.{out}"), F.lit(0)) + F.col(f"d.{out}")
            cols.append(
                F.when(nn > 0, total).otherwise(F.lit(None)).cast(types[out]).alias(out)
            )
            cols.append(nn.alias(f"_nn_{out}"))
        new = j.select(*cols).localCheckpoint()
        out_rows = new.where(F.col(self.count_col) > 0)
        gone = new.where(F.col(self.count_col) <= 0).select(*self.group_cols)
        return _merge(self.table, out_rows, gone, epoch, gold)


class SilverModel(_Model):
    """One incrementally-maintained curated table.

    ``transform(upserts, epoch) -> DataFrame`` maps the epoch's net
    upserts (bronze payload columns + the ``op``/``lsn`` envelope) to
    silver rows; it MUST carry the silver table's key columns with their
    input VALUES unchanged (the bronze epoch census names their buckets;
    a merge that finds a key outside it redoes itself with a collect)
    and may stamp per-cycle lineage from ``epoch``. Deletes propagate by
    key: a bronze key deleted in the epoch is deleted from silver.

    The transform must be row-wise deterministic (each output row a
    function of its input row alone) — that is what makes incremental
    maintenance equal a full rebuild, and what the driver oracle row
    (``silver_incremental``) verifies end-to-end.

    **Chaining (the model DAG).** ``parent`` hangs this model off
    another :class:`SilverModel` instead of bronze — the reference's
    raw → staging → curated dbt graph, where a staging model is itself
    the input of the curated one (dbt/models/staging/repsly/
    forms_items.sql:34, ``ref('forms_staging')``). The engine feeds a
    chained model its parent's :meth:`epoch_delta` — the parent's own
    per-epoch output delta, recomputed lazily from the bronze staged
    delta through the (deterministic) transform chain, so a chain
    needs NO extra staged storage and crash recovery replays the whole
    DAG from the one retained bronze delta. A chained model's keys
    must be a subset of its parent's keys (deletes propagate by key
    down the chain).
    """

    def __init__(
        self,
        table: LakeTable,
        transform: Callable[[DataFrame, int], DataFrame],
        name: str = "silver",
        parent: "SilverModel | None" = None,
    ):
        super().__init__(table, name, parent)
        if parent is not None:
            missing = [k for k in table.key_cols if k not in parent.table.key_cols]
            if missing:
                raise ValueError(
                    f"chained model {name!r}: key column(s) {missing} are not "
                    f"keys of parent {parent.name!r} ({parent.table.key_cols}) — "
                    "deletes could not propagate down the chain"
                )
        self.transform = transform

    def bootstrap(self, bronze: LakeTable, epoch_id: int) -> MergeResult:
        """Full-refresh bootstrap (dbt ``--full-refresh`` analog) for
        attaching the model to an ALREADY-POPULATED bronze whose past
        staged deltas are gone: transform the current bronze state and
        overwrite, stamped with bronze's last epoch so incremental
        maintenance resumes from the next cycle. Bronze rows carry a
        synthetic envelope (op='I', lsn=NULL) — a transform that
        derives columns from ``lsn`` must tolerate NULL there."""
        rows = (
            bronze.read()
            .withColumn("op", F.lit("I"))
            .withColumn("lsn", F.lit(None).cast("long"))
        )
        return self.table.overwrite(self.transform(rows, epoch_id), epoch_id=epoch_id)

    def epoch_delta(self, staged: DataFrame, epoch: int) -> DataFrame:
        """This model's OWN output delta for one epoch, in the same
        staged-delta shape its input arrived in (payload + ``op``):
        transformed upserts tagged 'U', propagated deletes tagged 'D'
        (key columns only, payload NULL). This is what a downstream
        (chained) model consumes — a pure, lazily-recomputable function
        of the input delta, so chains add no staged storage and replay
        from the bronze delta alone."""
        upserts, deletes = split_ops(staged)
        out = self.transform(upserts, epoch)
        missing = [k for k in self.table.key_cols if k not in out.columns]
        if missing:
            raise ValueError(
                f"silver model {self.name!r}: transform dropped key column(s) {missing}"
            )
        if "_bucket" in out.columns:
            # '_bucket' is the SOURCE table's physical-layout metadata
            # (its modulus); letting a pass-through transform leak it
            # into a chained model's input would silently mis-prune the
            # child's pre-epoch snapshot reads (and delete rows carry
            # no bucket at all). Children recompute bucketing from
            # their own source's spec.
            out = out.drop("_bucket")
        dels = deletes.select(*self.table.key_cols).withColumn("op", F.lit("D"))
        return out.withColumn("op", F.lit("U")).unionByName(
            dels, allowMissingColumns=True
        )

    def apply_epoch(self, staged: DataFrame, epoch: int,
                    census: EpochCensus | None = None) -> MergeResult:
        """Apply one bronze epoch's staged delta to the silver table —
        epoch-idempotent (a replayed epoch id is a skipped no-op before
        any mutation, same contract as every other sink)."""
        if self.table.epoch_committed(epoch):
            return MergeResult(0, epoch, 0, 0, 0, skipped=True)
        delta = self.epoch_delta(staged, epoch)
        upserts, deletes = split_ops(delta)
        return _merge(self.table, upserts, deletes.select(*self.table.key_cols), epoch, census)
