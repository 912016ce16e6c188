"""Pure helpers of the benchmark: span self time, the host-noise probe
and host facts. Nothing here imports Spark, so the helpers are testable
without a JVM (see test_helpers.py)."""

from __future__ import annotations

import hashlib
import os
import time

# One threshold for flagging a run whose host slowed down while it ran:
# the slower of the two probes bracketing the timed region is more than
# this many times the faster one. Flagged runs are reported, never
# adjusted.
NOISY_FACTOR = 1.5


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    direct children cover (children running concurrently on threads are
    counted once). Spans are dicts with id, parent, start, end."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        clipped = [
            (max(lo, s["start"]), min(hi, s["end"]))
            for lo, hi in children.get(s["id"], [])
            if hi > s["start"] and lo < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(clipped)
    return out


def cpu_probe(rounds: int = 2, blocks: int = 200) -> float:
    """Fixed CPU-bound work (SHA-256 over a constant buffer), best of
    ``rounds``: a slow host shows as a slow probe."""
    buf = bytes(range(256)) * 4096  # 1 MiB
    best = None
    for _ in range(rounds):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(blocks):
            h.update(buf)
        h.hexdigest()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def noise_report(before: float, after: float, ticks_before=None, ticks_after=None) -> dict:
    """The probe pair, flagged with the one threshold, and the share of
    CPU time the hypervisor took away in between (steal), when given."""
    factor = max(before, after) / min(before, after)
    out = {
        "probe_before_s": before,
        "probe_after_s": after,
        "factor": factor,
        "threshold": NOISY_FACTOR,
        "noisy": factor > NOISY_FACTOR,
    }
    if ticks_before is not None:
        steal, total = (a - b for a, b in zip(ticks_after, ticks_before))
        out["steal_share"] = steal / total if total else 0.0
    return out


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def reset_peak_rss(pid: int) -> None:
    """Restart a process's VmHWM from its current RSS (Linux >= 4.0)."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def driver_mem_setting(mem_total: int) -> str:
    """Driver heap sized to the machine: 1/8 of RAM, 1-8 GiB."""
    gib = max(1, min(8, mem_total // (8 * 1024**3)))
    return f"{gib}g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_digest(root: str, package: str) -> str:
    """Content hash of the program's Python sources, so a result names
    the code it measured even in a checkout without git metadata."""
    h = hashlib.sha256()
    base = os.path.join(root, package)
    for dirpath, dirnames, files in os.walk(base):
        dirnames.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_sha(root: str) -> str | None:
    """HEAD commit read from the checkout's .git directory, if any."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
    except OSError:
        return None
    if not ref.startswith("ref: "):
        return ref
    try:
        with open(os.path.join(root, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return None
