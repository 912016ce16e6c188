"""CDC-apply benchmark: one workload per process.

    python3 perfbench/run.py --workload medallion --seed 7 --seconds 10 --trace 0
    python3 -m pytest perfbench -q          # the benchmark's own helpers

Builds nothing: runs the engine from the checkout this file sits in,
pinned to this machine (``local[nproc]``, driver heap sized to RAM),
with every working file under ``.perfbench_work/`` in the checkout,
removed on exit. Prints a detail line (host facts, input fingerprints,
noise probe, oracle results, the full per-layer table) and then, as the
last line, the result object::

    {"correct": true, "attempted": E, "failed": 0, "metrics": {...}}

``attempted`` counts timed epochs; an oracle mismatch fails all of them
(the detail line's ``error_rate`` is failed / attempted).

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones from a traced run (plus, in the detail line, the traced
minus untraced end-to-end numbers against the untraced run of the same
workload and seed in this checkout, else its latest untraced run).
Exit code 0 only when a result is printed.

End-to-end metrics (tracing off):

- ``setup_s``: process start to the first timed epoch (JVM and session,
  input generation, the pre-built table, untimed warm-up cycles);
- ``events_per_s``: change events per cycle / median cycle wall;
- ``epoch_p50_s``, ``epoch_tail_s``: per-epoch commit latency timed
  around each ``apply_epoch`` call; a run measures fewer than 20
  epochs, so the tail is their maximum (detail line only, labelled
  "max of N");
- ``bytes_written_per_event``: table bytes written per event applied
  (the warehouse: database file bytes after a load per event loaded);
- ``peak_rss_mb``: the driver JVM's peak RSS (VmHWM) over the timed
  loop, restarted when the loop starts.
"""

from __future__ import annotations

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "etl_warehouse_agnostic_spark"
STATE = os.path.join(ROOT, ".perfbench_work")

# Per-layer metrics printed on the result line of a traced run (the
# per_layer list of BENCHMARK.json). Times that are zero by construction
# on some workload (lake.table.* times on the warehouse, backend times
# on a lake table, silver.* times off the model DAG) are in the detail
# line's "layers" table only; the silver layer's counts and its overlap
# ratio are on the result line.
RESULT_LAYERS = [
    "session.start_s", "engine.epoch_self_s", "engine.recover_s",
    "engine.spark_jobs_per_epoch", "sources.max_lsn_s", "operators.dedup_survival",
    "lake.manifest.finalize_s", "lake.manifest.get_calls", "lake.table.snapshot_calls",
    "lake.table.merge_bytes_written", "lake.table.buckets_rewritten",
    "lake.table.write_amplification",
    "stage.jobs", "stage.tasks", "stage.shuffle_write_bytes", "stage.input_bytes",
    "merge.jobs", "merge.tasks", "merge.input_bytes", "merge.output_bytes",
    "backends.jobs", "backends.output_bytes",
    "silver.jobs", "silver.tasks", "silver.output_bytes", "silver.overlap",
]

UNITS = {
    "setup_s": "s", "events_per_s": "1/s", "epoch_p50_s": "s", "epoch_tail_s": "s",
    "bytes_written_per_event": "B", "peak_rss_mb": "MB",
}
# End-to-end metrics on the result line (the end_to_end list of
# BENCHMARK.json). epoch_tail_s is in the detail line only: the maximum
# of a handful of epochs reads a single stall and spreads across runs by
# more than any bound a later change could be held to.
RESULT_END_TO_END = [k for k in UNITS if k != "epoch_tail_s"]


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "B"
    if name in ("operators.dedup_survival", "lake.table.write_amplification", "silver.overlap"):
        return "ratio"
    return "count"


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(work: str, cores: int, driver_mem: str) -> None:
    """Everything the session reads from the environment, set before
    the JVM starts: all cores of this machine, heap sized to its RAM,
    shuffle/spill and temp files inside the work directory."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        # The session's synthetic prewarm is off: it writes its scratch
        # tables to /dev/shm, outside the checkout. Set-up runs the
        # workload's own plans untimed instead (a warm-up load, or
        # epochs on the pre-built table), which warms what the loop runs.
        "SPARK_GRAFT_PREWARM": "0",
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # Python workers import the program by name
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })


def start_spark(cores: int):
    from etl_warehouse_agnostic_spark.session import get_spark

    return get_spark("perfbench", cores=cores, shuffle_partitions=cores)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit: closing its stdin is the gateway's signal to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def end_to_end(spec, runner, setup_s: float) -> dict:
    out = runner.out
    events = out.cycle_events * len(out.cycle_walls)
    if spec.warehouse:
        bytes_per_event = statistics.median(out.sink_bytes) / out.cycle_events
    else:
        bytes_per_event = sum(out.epoch_bytes) / events
    return {
        "setup_s": setup_s,
        "events_per_s": out.cycle_events / statistics.median(out.cycle_walls),
        "epoch_p50_s": statistics.median(out.epoch_walls),
        "epoch_tail_s": max(out.epoch_walls),
        "bytes_written_per_event": bytes_per_event,
        "peak_rss_mb": out.peak_rss_mb,
    }


def host_facts(cores: int, mem_total: int, driver_mem: str) -> dict:
    import duckdb
    import pyspark

    from perfbench.stats import git_sha, source_digest

    return {
        "nproc": cores,
        "mem_total_gib": round(mem_total / 1024**3, 2),
        "driver_mem": driver_mem,
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "git_sha": git_sha(ROOT),
        "source_digest": source_digest(ROOT, PACKAGE),
    }


def measure(args, work: str, cores: int, host: dict) -> tuple[dict, dict]:
    import duckdb

    from perfbench import stats, tracing
    from perfbench.workloads import MODEL_NAMES, WORKLOADS, Runner

    spec = WORKLOADS[args.workload]
    t0 = time.monotonic()
    spark = start_spark(cores)
    session_start_s = time.monotonic() - t0
    session_s = time.monotonic() - PROCESS_START
    try:
        import etl_warehouse_agnostic_spark as program

        if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
            raise RuntimeError(f"{PACKAGE} imported from outside the checkout: {program.__file__}")
        duck = duckdb.connect()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        runner = Runner(spark, spec, args.seed, work, cores)
        runner.setup(duck)
        setup_s = time.monotonic() - PROCESS_START

        tracer = None
        if args.trace:
            tracer = tracing.Tracer(spark)
            tracing.instrument(tracer)
        probe_before = stats.cpu_probe()
        ticks_before = stats.cpu_ticks()
        stats.reset_peak_rss(jvm_pid)
        try:
            runner.loop(args.seconds)
        finally:
            if tracer is not None:
                tracer.restore()
        runner.out.peak_rss_mb = stats.vm_hwm_mb(jvm_pid)
        ticks_after = stats.cpu_ticks()
        probe_after = stats.cpu_probe()
        if tracer is not None:
            tracer.collect_spark()
        correct = runner.check(duck)
        duck.close()
    finally:
        stop_spark(spark)

    out = runner.out
    e2e = end_to_end(spec, runner, setup_s)
    attempted = len(out.epoch_walls)
    detail = {
        "workload": spec.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "inputs": out.fingerprints,
        "setup_parts": {"session_s": session_s, **out.setup_parts},
        "cycles": len(out.cycle_walls),
        "epochs": attempted,
        "loop_s": out.loop_s,
        "epoch_tail": f"max of {attempted}",
        "epoch_walls_s": out.epoch_walls,
        "noise": stats.noise_report(probe_before, probe_after, ticks_before, ticks_after),
        "checks": out.checks,
        "error_rate": 0.0 if correct else 1.0,
        "end_to_end": {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()},
    }
    # untraced results of this workload: the latest, and per seed
    last = [os.path.join(STATE, "last", f"{spec.name}{tag}.json")
            for tag in (f"-seed{args.seed}", "")]
    if args.trace:
        spans = tracer.dump()
        layers = tracing.layer_metrics(
            spans, prefix_epochs=spec.min_cycles * spec.epochs_per_cycle,
            session_start_s=session_start_s, model_names=MODEL_NAMES)
        detail["layers"] = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
        spans_path = os.path.join(STATE, "spans", f"{spec.name}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as f:
            json.dump(spans, f)
        detail["spans_file"] = os.path.relpath(spans_path, ROOT)
        found = [p for p in last if os.path.exists(p)]
        if found:  # same seed when there is one
            with open(found[0]) as f:
                base = json.load(f)
            detail["trace_overhead"] = {
                "untraced_seed": base["seed"],
                **{k: e2e[k] - base["metrics"][k] for k in e2e},
            }
        metrics = {k: detail["layers"][k] for k in RESULT_LAYERS}
    else:
        os.makedirs(os.path.dirname(last[0]), exist_ok=True)
        for path in last:
            with open(path, "w") as f:
                json.dump({"seed": args.seed, "metrics": e2e}, f)
        metrics = {k: detail["end_to_end"][k] for k in RESULT_END_TO_END}
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": 0 if correct else attempted,
        "metrics": metrics,
    }
    return result, detail


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to the benchmark in {ROOT}",
              file=sys.stderr)
        return 2
    # import the benchmark as the ``perfbench`` package, never its
    # modules as top-level names (they would shadow the stdlib)
    if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(os.path.abspath(__file__)):
        sys.path[0] = ROOT
    else:
        sys.path.insert(0, ROOT)
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    from perfbench.stats import driver_mem_setting, mem_total_bytes, nproc

    cores = nproc()
    mem_total = mem_total_bytes()
    driver_mem = driver_mem_setting(mem_total)
    work = os.path.join(STATE, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        pin_environment(work, cores, driver_mem)
        result, detail = measure(args, work, cores, host_facts(cores, mem_total, driver_mem))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
