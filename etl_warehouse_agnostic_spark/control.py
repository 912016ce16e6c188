"""Control-plane scheduling checks (SURVEY.md §2.2 P8).

The reference skips a reference-data endpoint when its last successful
extraction is younger than ``refresh_interval_hours``
(_should_skip_reference_data_extraction,
extractors/leaflink/extractor.py:958-982). Here the manifest store IS
the extraction log, so the check is a driver-side metadata read — no
Spark job.
"""

from __future__ import annotations

import time

from etl_warehouse_agnostic_spark.lake.manifest import ManifestStore, parse_utc


def last_refresh_epoch_ts(manifests: ManifestStore) -> float | None:
    """Unix ts of the newest finalized epoch, or None if never run."""
    last = manifests.last_epoch()
    if last is None:
        return None
    committed_at = manifests.get(last).get("committed_at")
    if not committed_at:
        return None
    return parse_utc(committed_at)


def should_skip_refresh(
    manifests: ManifestStore,
    refresh_interval_hours: float,
    now: float | None = None,
) -> bool:
    """True when the newest finalized epoch is younger than the refresh
    interval — the caller skips the extraction entirely (P8)."""
    ts = last_refresh_epoch_ts(manifests)
    if ts is None:
        return False
    now_ts = time.time() if now is None else now
    return (now_ts - ts) < refresh_interval_hours * 3600.0
