"""PySpark-native CDC / incremental-ingest engine.

A from-scratch rebuild of the capabilities of
mustafamammoth/ETL-Warehouse-Agnostic (see /root/reference, SURVEY.md)
re-expressed Spark-first: binlog/WAL-shaped change streams over
multi-turn conversation transcripts, salted hash-partitioned
last-writer-wins dedup, MERGE-style upsert into a snapshot-committed
lake table keyed by (conv_id, turn_idx), schema evolution via
Arrow-vectorized projection, exactly-once via idempotent epoch-stamped
commits plus a checkpoint manifest.

Reference ancestry is cited per-module as ``file:line`` into
/root/reference (the reference is a Python/ClickHouse/dbt pipeline;
nothing here is a port of its code — only its semantics).
"""

__version__ = "0.1.0"

from etl_warehouse_agnostic_spark.session import get_spark  # noqa: F401
from etl_warehouse_agnostic_spark.lake.backends import (  # noqa: E402,F401
    DuckBackend,
    make_warehouse,
)
from etl_warehouse_agnostic_spark.orchestrate import (  # noqa: E402,F401
    MultiSourceRunner,
    SourceSpec,
)
