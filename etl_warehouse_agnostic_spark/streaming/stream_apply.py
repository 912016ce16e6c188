"""Structured-Streaming front-end for the CDC engine.

The reference's extraction loop is pull-based micro-batching
(watermark → fetch delta → append → advance watermark,
extractors/repsly/extractor.py:580-621,1406-1475). The batch engine
(CdcEngine.run) reproduces that directly; this module is the
push-based variant: ``readStream`` over the change-log directory →
``foreachBatch`` → the same exactly-once epoch apply.

Design notes (scale):
- ``foreachBatch`` is the idiomatic Spark pattern for MERGE-style
  sinks (Structured Streaming has no native upsert sink); each
  micro-batch becomes one engine epoch, applied to one sink — the
  ``warehouse`` given, else the engine's table — through
  ``apply_epoch(..., sink=)``, so exactly-once holds even though
  foreachBatch itself is at-least-once: a replayed batch id is
  detected via the epoch-id idempotence check and skipped.
- ``start`` recovers the sink before the query starts, like the batch
  tail loop: a replayed batch whose manifest already finalized is
  skipped, so an epoch whose models did not all commit before a crash
  is caught up from its retained staging dir first.
- ``start()`` drains the backlog in bounded batches then stops
  (``trigger(availableNow=True)``) — the streaming analog of the batch
  tail loop; ``start(processing_time)`` tails continuously.
- The epoch id is ``batch_id + epoch_base + 1`` — monotone across
  restarts because Spark's own streaming checkpoint persists batch
  ids; our manifest store remains the source of truth for offsets.
- LWW ordering is (lsn, ts) within the batch, same as batch mode; no
  event-time watermark is needed because key-dedup + MERGE make late
  or re-delivered events idempotent (reference P6 lookback semantics).
- **Ordering contract**: micro-batches must arrive in LSN order, the
  same contract the batch tail loop provides and that binlog/WAL
  shippers (Kafka per-partition, Debezium) guarantee. For file
  streams Spark orders discovery by file mtime — an appended change
  log satisfies this naturally; bulk-written test fixtures must stamp
  mtimes (see tests/test_streaming.py).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from etl_warehouse_agnostic_spark.engine import CdcEngine
from etl_warehouse_agnostic_spark.lake.manifest import publish_json


class StreamingCdcApply:
    def __init__(
        self,
        engine: CdcEngine,
        changes_path: str,
        checkpoint_location: str,
        max_files_per_trigger: int | None = None,
        epoch_base: int | None = None,
        warehouse=None,
    ):
        self.engine = engine
        self.changes_path = changes_path
        self.checkpoint_location = checkpoint_location
        self.max_files_per_trigger = max_files_per_trigger
        # The one sink every micro-batch applies to: the warehouse (or
        # lake table) given, else the engine's table.
        self.sink = warehouse if warehouse is not None else engine.table
        # Offset epoch ids past whatever the batch path already applied.
        # The base is PINNED on first start (persisted beside the
        # streaming checkpoint): re-deriving it from last_epoch() after a
        # crash would hand a replayed batch_id a fresh epoch id and
        # silently bypass the epoch-id exactly-once check (the batch
        # would be re-applied; correct only via LWW content idempotence,
        # with duplicate epochs in the manifests).
        self.epoch_base = self._pin_epoch_base(epoch_base)

    def _pin_epoch_base(self, explicit: int | None) -> int:
        os.makedirs(self.checkpoint_location, exist_ok=True)
        pin = os.path.join(self.checkpoint_location, "epoch_base.json")
        if not os.path.exists(pin):
            base = explicit
            if base is None:
                # Recover first, so an epoch recovery heals is counted in
                # the base and the first batch does not reuse (and skip)
                # its id.
                self.engine.recover(sink=self.sink)
                base = self.engine.checkpoints.last_epoch() or 0
            if publish_json({"epoch_base": base}, pin):
                return base
        # an earlier start's pin, or a concurrent first starter's that won
        with open(pin) as f:
            return int(json.load(f)["epoch_base"])

    def _apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        epoch = self.epoch_base + batch_id + 1
        self.engine.apply_epoch(batch_df, epoch, sink=self.sink)

    def start(self, processing_time: str | None = None):
        """Start the stream. Without ``processing_time`` it drains the
        backlog and stops (availableNow) — the batch-equivalent replay.
        ``processing_time`` instead runs FOREVER on a micro-batch
        cadence (the reference's scheduled-DAG mode,
        airflow/dags/repsly_dag.py:309-343): new change-log files are
        picked up each interval, and a kill at ANY point — mid-batch
        included — resumes exactly-once on restart, because a replayed
        batch id maps to the same epoch id and the epoch ledger makes
        it a no-op (proven by tests/test_streaming.py kill-restart).
        Recovery runs first, before any batch is planned."""
        self.engine.recover(sink=self.sink)
        # File streams need a fixed schema: the static dir's.
        reader = self.engine.spark.readStream.schema(
            self.engine.spark.read.parquet(self.changes_path).schema
        )
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        stream = reader.parquet(self.changes_path)

        writer = (
            stream.writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_location)
            .outputMode("update")
        )
        if processing_time is None:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def run_available(self) -> None:
        """Drain the current backlog and return (availableNow)."""
        q = self.start()
        q.awaitTermination()

    def run_continuous(self, processing_time: str = "1 second"):
        """Tail the change log forever on a micro-batch cadence;
        returns the StreamingQuery (caller stops/monitors it)."""
        return self.start(processing_time)
