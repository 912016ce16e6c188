"""Schema-evolution projection — Arrow-vectorized, never per-row.

The reference evolves tables additively: diff incoming DataFrame
columns against the live table, ``ALTER TABLE ADD COLUMN`` per new
column (extractors/leaflink/extractor.py:1053-1082), dbt
``on_schema_change='append_new_columns'``
(dbt/models/raw/repsly/client_notes_raw.sql:4). Our engine does the
same add-only evolution on the lake table, then projects every change
batch — a mix of old-writer (schema_ver=1, no ``tool``) and new-writer
events — onto the evolved schema.

Two equivalent projection paths (tested equal):

- ``project_columns``: pure JVM Column select (null-fill + cast) —
  the fast path, and the lake table's projection onto its own schema.
- ``project_arrow``: ``mapInPandas`` over Arrow record batches — whole
  pandas columns at a time, zero per-row Python (the north rule's
  mandated mechanism); the engine takes it for a batch that evolves
  the schema.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:
    import pandas as pd


def new_fields(df: DataFrame, schema: T.StructType, passthrough: set[str] | None = None) -> list[T.StructField]:
    """Fields present in the batch but absent from the target schema —
    the add-only evolution delta (they become ADD COLUMNs)."""
    have = {f.name for f in schema.fields} | (passthrough or set())
    return [T.StructField(f.name, f.dataType, True) for f in df.schema.fields if f.name not in have]


def project_columns(df: DataFrame, schema: T.StructType, keep: list[str] | None = None) -> DataFrame:
    """JVM-side projection onto `schema`: missing → NULL, cast, reorder.
    Extra non-schema columns listed in `keep` ride along unchanged."""
    cols = []
    for f in schema.fields:
        if f.name in df.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols, *[F.col(c) for c in (keep or []) if c in df.columns])


def project_arrow(
    df: DataFrame,
    schema: T.StructType,
    keep: list[str] | None = None,
) -> DataFrame:
    """Arrow-vectorized projection via ``mapInPandas``.

    Each Arrow batch arrives as a pandas DataFrame; columns are added
    and reordered with whole-Series operations only.
    """
    keep_cols = [c for c in (keep or []) if c in df.columns]
    out_schema = T.StructType(
        list(schema.fields)
        + [df.schema[c] for c in keep_cols]
    )
    target_names = [f.name for f in out_schema.fields]

    def _project(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            for name in target_names:
                if name not in pdf.columns:
                    pdf[name] = None
            yield pdf[target_names]

    return df.mapInPandas(_project, schema=out_schema)
