"""Change-stream source: bounded, cursor-ordered scans over a
binlog/WAL-shaped change table.

The Spark rebuild of the reference's monotone-cursor pagination loops
(SURVEY.md §2.1 S1/S2: Repsly ``LastTimeStamp`` / ``Last<Entity>ID``
cursors, extractors/repsly/extractor.py:1071-1296) — re-expressed as a
predicate-pushed scan ``WHERE lsn > lo AND lsn <= hi`` against parquet
(or any Spark source). Catalyst pushes the lsn range into the scan, so
an epoch reads only its slice.

Supports a lookback overlap (re-reading a window below the cursor,
reference: lookback_minutes, config/sources/repsly.yml:48); overlap
rows are eliminated by LWW dedup + idempotent MERGE, which is what
makes replay safe.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_warehouse_agnostic_spark.lake.table import footer_census


class ChangeStreamSource:
    def __init__(
        self,
        spark: SparkSession,
        path: str | None = None,
        df: DataFrame | None = None,
        lsn_col: str = "lsn",
    ):
        if (path is None) == (df is None):
            raise ValueError("provide exactly one of path / df")
        self.spark = spark
        self.path = path
        self._df = df
        self.lsn_col = lsn_col

    def frame(self) -> DataFrame:
        if self._df is not None:
            return self._df
        return self.spark.read.parquet(self.path)

    def max_lsn(self) -> int:
        if self.path is not None:
            v = self._max_lsn_from_footers()
            if v is not None:
                return v
        row = self.frame().agg(F.max(self.lsn_col)).first()
        return int(row[0]) if row and row[0] is not None else 0

    def _max_lsn_from_footers(self) -> int | None:
        """Exact max(lsn) from the parquet footers under ``path``
        (``footer_census``: metadata only, O(files), no Spark job, the
        same census as the engine's staged offsets). None — the caller
        scans — when there are no files, a footer cannot be read, or
        the census is not exact (a group or file without usable
        stats, an all-null cursor)."""
        files = []
        for root, _, fns in os.walk(self.path):
            files += [os.path.join(root, f) for f in fns if f.endswith(".parquet")]
        if not files and self.path.endswith(".parquet") and os.path.isfile(self.path):
            files = [self.path]
        try:
            return footer_census(files, self.lsn_col)[1]
        except Exception:
            return None

    def read_slice(self, lo_exclusive: int, hi_inclusive: int, lookback: int = 0) -> DataFrame:
        """Events with lo-lookback < lsn <= hi (filter pushed to scan)."""
        c = F.col(self.lsn_col)
        return self.frame().where(
            (c > F.lit(lo_exclusive - lookback)) & (c <= F.lit(hi_inclusive))
        )

    def plan_bounded_slices(
        self,
        lo_exclusive: int,
        hi_inclusive: int,
        max_rows: int = 9500,
        granules: int = 1024,
    ) -> list[tuple[int, int]]:
        """Plan scan windows of ≤ ``max_rows`` rows each (S5).

        The reference hits the same need reactively: offset pagination
        capped at skip>9500 (or HTTP 400) triggers a '+90 days and reset
        skip' jump (get_paginated_data_fixed_query_params,
        extractors/repsly/extractor.py:932-1069). Re-expressed as a
        deterministic plan: ONE pushed-down aggregation builds a cursor
        histogram at ``granules`` resolution (≤ ``granules`` rows to the
        driver), then consecutive granules are greedily packed into
        windows under the cap. A single granule denser than the cap
        stands alone (the engine's dedup+merge make oversized windows
        correct, just bigger) — no retry loop, no dropped rows.

        Returns half-open-by-convention (lo_exclusive, hi_inclusive)
        pairs whose union is exactly the requested range.
        """
        if hi_inclusive <= lo_exclusive:
            return []
        span = hi_inclusive - lo_exclusive
        g = max(1, span // granules)
        c = F.col(self.lsn_col)
        hist = (
            self.frame()
            .where((c > F.lit(lo_exclusive)) & (c <= F.lit(hi_inclusive)))
            .groupBy(F.floor((c - lo_exclusive - 1) / g).cast("long").alias("gr"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        counts = {int(r["gr"]): int(r["n"]) for r in hist}
        n_granules = (span + g - 1) // g
        slices: list[tuple[int, int]] = []
        cur_lo = lo_exclusive
        cur_rows = 0
        for i in range(n_granules):
            gn = counts.get(i, 0)
            g_hi = min(lo_exclusive + (i + 1) * g, hi_inclusive)
            if cur_rows and cur_rows + gn > max_rows:
                slices.append((cur_lo, lo_exclusive + i * g))
                cur_lo = lo_exclusive + i * g
                cur_rows = 0
            cur_rows += gn
            if i == n_granules - 1:
                slices.append((cur_lo, g_hi))
        return slices
