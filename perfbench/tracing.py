"""Traced runs: spans around the calls into each layer's public
functions, recorded from the benchmark's side of the boundary.

The tracer replaces layer methods on their classes (and restores them
afterwards); the program itself carries no tracing code. A span records
name, start, end, parent and the epoch it ran in (the run's epoch
sequence number; the engine's own epoch id is an attribute of the epoch
span). Spans are kept in memory and written out when the run ends.

Spans that own Spark work set a job group for the calling thread
(restored on exit), so the jobs they trigger can be attributed from the
status store once the timed loop is over, outside every timed region:
jobs, completed tasks, executor run time, input/output/shuffle-write
bytes. Model threads set their own group inside the wrapped call. The
store keeps the last 1000 jobs (Spark's default), some ten times what a
traced run starts.
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import asdict, dataclass, field

from perfbench.stats import self_times

# Spark-side totals kept per job-group span.
SPARK_KEYS = ("jobs", "tasks", "executor_run_s", "input_bytes", "output_bytes",
              "shuffle_write_bytes")


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    epoch: int | None
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.epoch: int | None = None
        self._tls = threading.local()
        self._main_stack = self._stack()
        self._lock = threading.Lock()
        self._next_id = 0
        self._patches: list[tuple[object, str, object]] = []
        self._uncollected: list[Span] = []

    def _stack(self) -> list[Span]:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    def current(self) -> Span | None:
        """Innermost open span of this thread; a worker thread with no
        span of its own hangs off the main thread's innermost span."""
        stack = self._stack()
        if stack:
            return stack[-1]
        return self._main_stack[-1] if self._main_stack else None

    def open(self, name: str, group: bool = False) -> Span:
        parent = self.current()
        with self._lock:
            self._next_id += 1
            span = Span(self._next_id, name, time.monotonic(),
                        parent.id if parent else None, self.epoch)
        if group:
            span.group = f"perfbench-{span.id}"
            span.attrs["_prev_group"] = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(span.group, name)
        self._stack().append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.monotonic()
        self._stack().pop()
        if span.group is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", span.attrs.pop("_prev_group"))
        with self._lock:
            self.spans.append(span)
            if span.group is not None:
                self._uncollected.append(span)

    def parent_name(self) -> str | None:
        cur = self.current()
        return cur.name if cur else None

    def wrap(self, owner, attr: str, name, group=False, on_result=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.

        ``name`` and ``group`` may be callables of (parent span name,
        call args) for calls whose role depends on the caller (e.g. a
        table write is staging under an epoch, part of a merge
        otherwise)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            parent = tracer.parent_name()
            n = name(parent, args) if callable(name) else name
            g = group(parent, args) if callable(group) else group
            span = tracer.open(n, group=g)
            try:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(span, args, kwargs, out)
                return out
            finally:
                tracer.close(span)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def collect_spark(self) -> None:
        """Attach Spark-side totals to every job-group span closed since
        the last call. Drains the listener bus first so the status
        store has seen the end of every job."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        with self._lock:
            pending, self._uncollected = self._uncollected, []
        for span in pending:
            jobs = list(tracker.getJobIdsForGroup(span.group))
            stages: set[int] = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tot = dict.fromkeys(SPARK_KEYS, 0)
            tot["jobs"] = len(jobs)
            for sid in stages:
                data = store.lastStageAttempt(sid)
                if data.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                tot["tasks"] += data.numCompleteTasks()
                tot["executor_run_s"] += data.executorRunTime() / 1000.0
                tot["input_bytes"] += data.inputBytes()
                tot["output_bytes"] += data.outputBytes()
                tot["shuffle_write_bytes"] += data.shuffleWriteBytes()
            span.attrs["spark"] = tot

    def dump(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.id)]


def instrument(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer the workloads use."""
    import pyarrow.parquet as pq

    from etl_warehouse_agnostic_spark import engine
    from etl_warehouse_agnostic_spark.lake import backends
    from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore
    from etl_warehouse_agnostic_spark.lake.table import LakeTable
    from etl_warehouse_agnostic_spark.silver import (
        AggregateModel,
        DeltaAggregateModel,
        SilverModel,
    )
    from etl_warehouse_agnostic_spark.sources.changes import ChangeStreamSource

    def in_epoch(parent, _args):
        return parent == "engine.epoch"

    def epoch_result(span, args, kwargs, res):
        lo, hi = kwargs["lsn_range"]  # the tail loops always pass it
        span.attrs.update(engine_epoch=args[-1], slice_events=hi - lo, skipped=res.skipped,
                          bytes_written=res.bytes_written)

    def epoch_scope(owner, attr):
        """Outermost wrapper of an epoch: stamps the epoch id before
        the epoch span opens."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def scoped(self, *args, **kwargs):
            # spans carry the run's epoch sequence number: engine epoch
            # ids restart with every fresh manifest store (bulk loads)
            tracer.epoch = (tracer.epoch or 0) + 1
            return orig(self, *args, **kwargs)

        tracer._patches.append((owner, attr, orig))
        setattr(owner, attr, scoped)

    for attr in ("apply_epoch", "apply_epoch_warehouse"):
        tracer.wrap(engine.CdcEngine, attr, "engine.epoch", group=True, on_result=epoch_result)
        epoch_scope(engine.CdcEngine, attr)
    tracer.wrap(engine.CdcEngine, "recover", "engine.recover")
    tracer.wrap(engine.CdcEngine, "recover_warehouse", "engine.recover")
    tracer.wrap(engine.CdcEngine, "_apply_silver", "silver.dag")
    tracer.wrap(ChangeStreamSource, "max_lsn", "sources.max_lsn")

    def staged(span, args, kwargs, out):
        _files, observed, nbytes = out
        span.attrs.update(rows=observed.get("rows") or 0, bytes=nbytes)

    tracer.wrap(
        LakeTable, "write_bucketed",
        lambda parent, _a: "lake.table.stage" if parent == "engine.epoch" else "lake.table.write",
        group=in_epoch, on_result=staged,
    )

    def merged(span, args, kwargs, res):
        span.attrs.update(bytes_written=res.bytes_written,
                          buckets_rewritten=res.buckets_rewritten)

    tracer.wrap(LakeTable, "merge", "lake.table.merge", group=in_epoch, on_result=merged)
    tracer.wrap(LakeTable, "snapshot", "lake.table.snapshot")
    tracer.wrap(ManifestStore, "finalize", "lake.manifest.finalize")
    tracer.wrap(ManifestStore, "get", "lake.manifest.get")
    tracer.wrap(backends.DuckBackend, "merge", "lake.backends.merge", group=True)

    def exported(span, args, kwargs, files):
        span.attrs.update(rows=sum(pq.ParquetFile(f).metadata.num_rows for f in files))

    tracer.wrap(backends, "_export_delta", "lake.backends.export", on_result=exported)
    for cls in (SilverModel, AggregateModel, DeltaAggregateModel):
        tracer.wrap(cls, "apply_epoch", lambda _p, a: f"silver.{a[0].name}.apply", group=True)


def _mean(total: float, n: int) -> float:
    return total / n if n else 0.0


def layer_metrics(spans: list[dict], prefix_epochs: int, session_start_s: float,
                  model_names: list[str]) -> dict[str, float]:
    """Per-layer metrics from a traced run. Times are means per applied
    epoch over every traced epoch; counts and bytes are means per epoch
    over the first ``prefix_epochs`` epochs, which are the same epochs
    in every run of a seed, so they repeat exactly."""
    epochs = [s for s in spans if s["name"] == "engine.epoch" and not s["attrs"].get("skipped")]
    ids = [s["epoch"] for s in epochs]
    prefix = set(ids[:prefix_epochs])
    n, k = len(epochs), len(prefix)
    own = self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def parent_name(s):
        p = by_id.get(s["parent"])
        return p["name"] if p else None

    def dur(s):
        return s["end"] - s["start"]

    def named(name, under=None):
        return [s for s in spans if s["name"] == name
                and (under is None or parent_name(s) == under)]

    def time_of(ss):
        return _mean(sum(dur(s) for s in ss), n)

    def count_of(ss):
        return _mean(sum(1 for s in ss if s["epoch"] in prefix), k)

    def spark_of(ss, key, everywhere=False):
        sel = ss if everywhere else [s for s in ss if s["epoch"] in prefix]
        return _mean(sum(s["attrs"].get("spark", {}).get(key, 0) for s in sel), n if everywhere else k)

    def attr_sum(ss, key):
        return sum(s["attrs"].get(key, 0) for s in ss if s["epoch"] in prefix)

    stage = named("lake.table.stage")
    merge = named("lake.table.merge", under="engine.epoch")
    export = named("lake.backends.export")
    wh_merge = named("lake.backends.merge")
    dag = named("silver.dag")
    models = {m: named(f"silver.{m}.apply") for m in model_names}
    model_spans = [s for ss in models.values() for s in ss]
    groups = [s for s in spans if s["group"] is not None]

    staged_rows = attr_sum(stage, "rows") + attr_sum(export, "rows")
    read_rows = attr_sum(epochs, "slice_events")
    stage_bytes = attr_sum(stage, "bytes")
    merge_bytes = attr_sum(merge, "bytes_written")
    dag_wall = sum(dur(s) for s in dag)

    out = {
        "session.start_s": session_start_s,
        "engine.epoch_self_s": _mean(sum(own[s["id"]] for s in epochs), n),
        "engine.recover_s": time_of(named("engine.recover")),
        "engine.spark_jobs_per_epoch": spark_of(groups, "jobs"),
        "sources.max_lsn_s": time_of(named("sources.max_lsn")),
        "operators.dedup_survival": staged_rows / read_rows if read_rows else 0.0,
        "lake.table.stage_s": time_of(stage),
        "lake.table.merge_s": time_of(merge),
        "lake.table.merge_bytes_written": _mean(merge_bytes, k),
        "lake.table.buckets_rewritten": _mean(attr_sum(merge, "buckets_rewritten"), k),
        "lake.table.write_amplification": merge_bytes / stage_bytes if stage_bytes else 0.0,
        "lake.table.snapshot_s": time_of(named("lake.table.snapshot")),
        "lake.table.snapshot_calls": count_of(named("lake.table.snapshot")),
        "lake.manifest.finalize_s": time_of(named("lake.manifest.finalize")),
        "lake.manifest.get_calls": count_of(named("lake.manifest.get")),
        "lake.backends.export_s": time_of(export),
        "lake.backends.merge_s": time_of(wh_merge),
        "lake.backends.duckdb_s": time_of(wh_merge) - time_of(export),
        "silver.dag_wall_s": time_of(dag),
        "silver.overlap": (
            sum(dur(s) for s in model_spans) / dag_wall if dag_wall else 0.0
        ),
    }
    for key in SPARK_KEYS:
        every = key == "executor_run_s"
        out[f"stage.{key}"] = spark_of(stage, key, every)
        out[f"merge.{key}"] = spark_of(merge, key, every)
        out[f"backends.{key}"] = spark_of(wh_merge, key, every)
        out[f"silver.{key}"] = spark_of(model_spans, key, every)
    for m, ss in models.items():
        out[f"silver.{m}.apply_s"] = time_of(ss)
    return out
