"""Checkpoint manifests — per-epoch offsets, lineage, metrics.

The Spark rebuild of the reference's watermark state files
(airflow/state/repsly_watermarks.json:1-18) and their atomic write
protocol: tmp file + fsync + checksum + atomic publish
(extractors/repsly/extractor.py:432-481). One JSON per committed epoch
(FIXTURES.md F4) under ``<dir>/epoch=<N>.json``.

Exactly-once contract (SURVEY.md §2.9 T2, §7.4):
  1. the sink's MERGE commits atomically, recording the epoch id and
     its manifest in the sink's epoch ledger (a lake table's snapshot
     summary, a warehouse's ``_epochs`` table);
  2. only then is the manifest finalized here.
Crash between (1) and (2) → recovery reads the recorded manifest back
and finalizes it without re-applying (see CdcEngine.recover).
"""

from __future__ import annotations

import calendar
import hashlib
import json
import os
import time
import uuid
from typing import Any

# The one format of every ``committed_at`` stamp (manifests, snapshots).
_TS_FMT = "%Y-%m-%dT%H:%M:%SZ"


def utc_now() -> str:
    """Now, as a ``committed_at`` stamp (UTC, whole seconds)."""
    return time.strftime(_TS_FMT, time.gmtime())


def parse_utc(stamp: str) -> float:
    """The unix time of a ``committed_at`` stamp. ``timegm`` reads the
    struct_time as UTC; ``mktime`` would read it as local time and
    guess DST, an hour off on non-UTC hosts in summer."""
    return float(calendar.timegm(time.strptime(str(stamp), _TS_FMT)))


def publish_json(payload: dict[str, Any], final_path: str) -> bool:
    """Durably publish ``payload`` as the JSON file ``final_path``
    unless that file exists: write a tmp file beside it, fsync it, then
    hard-link it into place (a link never replaces a file, so exactly
    one of several concurrent publishers wins). Returns whether this
    call published; each caller decides what an existing file means."""
    tmp = os.path.join(os.path.dirname(final_path), f"_tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1, default=str)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, final_path)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


class ManifestStore:
    def __init__(self, path: str):
        self.path = os.path.abspath(path)
        os.makedirs(self.path, exist_ok=True)

    def _file(self, epoch: int) -> str:
        return os.path.join(self.path, f"epoch={epoch:08d}.json")

    def epochs(self) -> list[int]:
        out = []
        for f in os.listdir(self.path):
            if f.startswith("epoch=") and f.endswith(".json"):
                out.append(int(f[6:-5]))
        return sorted(out)

    def last_epoch(self) -> int | None:
        es = self.epochs()
        return es[-1] if es else None

    def is_finalized(self, epoch: int) -> bool:
        return os.path.exists(self._file(epoch))

    def get(self, epoch: int) -> dict[str, Any]:
        with open(self._file(epoch)) as f:
            doc = json.load(f)
        body = json.dumps(doc["manifest"], sort_keys=True, default=str)
        if hashlib.md5(body.encode()).hexdigest() != doc["checksum"]:
            raise ValueError(f"manifest checksum mismatch for epoch {epoch}")
        return doc["manifest"]

    def finalize(self, epoch: int, manifest: dict[str, Any]) -> None:
        """Atomic publish; replay of an already-finalized epoch is a
        no-op (idempotent)."""
        final = self._file(epoch)
        if os.path.exists(final):
            return
        body = json.dumps(manifest, sort_keys=True, default=str)
        doc = {"manifest": manifest, "checksum": hashlib.md5(body.encode()).hexdigest()}
        publish_json(doc, final)  # lost to a concurrent finalize: same content

    def high_water_lsn(self) -> int:
        last = self.last_epoch()
        if last is None:
            return 0
        return int(self.get(last)["lineage"]["lsn_range"][1])
