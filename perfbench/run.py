"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 1 --trace 0

One process, one client, closed loop: every operation starts when the
previous one has finished, on a ``local[N]`` session with N = the host's
cores. A run

1. generates its inputs into ``.bench_work/`` (query tables from a fixed
   seed; the ETL glob and the query order from ``--seed``);
2. sets up ``SETUPS`` times (session start plus first touch of every input)
   and reports the median as ``setup_s``;
3. makes one untimed warm pass that also checks every result: ETL counts
   against the generator's manifest, query values against their DuckDB
   oracle twins and row counts against ``pinned.json``;
4. times passes over the workload's operations until ``--seconds`` have
   passed (at least ``MIN_PASSES``) and reports medians; every timed
   operation is checked again (ETL manifest, pinned query row counts).

With ``--trace 1`` the timed passes alternate untraced and traced; traced
passes wrap the program's public functions in spans (``spans.py``) and the
per-layer metrics are the medians over traced passes. See ``NOTES.md``.

The last line of standard output is the result object; progress goes to
standard error. Exit code 2 means the program under test is missing.

The run leaves no process behind: it makes itself the subreaper of every
process it starts (the Spark JVM and the Python workers the JVM forks), and
on every way out (normal end, error, SIGTERM/SIGINT/SIGHUP, its own
``DEADLINE_S`` alarm) it stops the session, shuts the JVM down and waits
until every descendant has ended.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from typing import Optional

from workloads import CONFIG_XML, ROOT, WORK, WORKLOADS, log

SETUPS = 3
# The JVM is still warming during the timed passes, so each pass is faster
# than the one before and the median depends on how many passes ran. A run
# therefore makes a fixed number of passes; ``--seconds`` only adds passes
# when it is longer than they take.
MIN_PASSES = 2
# A run that has not ended by then stops, cleans up and exits non-zero
# without a result, inside the 180 s a run may take.
DEADLINE_S = 170


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """Half of physical RAM, at most 4 GiB: the inputs are small, and the
    driver JVM must stay well below what the host has."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
    return min(4096, total_kb // 1024 // 2)


# --------------------------------------------------------------------------
# Spark session
# --------------------------------------------------------------------------


def build_session(trace: bool):
    from pyspark.sql import SparkSession

    cores = host_cores()
    tmp = WORK / "tmp"
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.local.dir", str(WORK / "spark-local"))
        .config("spark.sql.warehouse.dir", str(WORK / "warehouse"))
    )
    if trace:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.sql.ui.explainMode", "simple")
            .config("spark.eventLog.dir", (WORK / "eventlog").as_uri())
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(str(WORK / "checkpoints"))
    return spark


def jvm_pid() -> Optional[int]:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


# --------------------------------------------------------------------------
# Processes
# --------------------------------------------------------------------------


class Stop(BaseException):
    """Raised by the signal handlers so the clean-up in ``main`` runs."""


def on_signal(signum, _frame):
    raise Stop(signal.Signals(signum).name)


def become_subreaper() -> None:
    """Orphaned descendants (workers of a JVM that has exited) are
    re-parented to this process, so it can wait for them."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # ended while listing
        children.setdefault(ppid, []).append(int(entry))
    found, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            found.append(c)
            todo.append(c)
    return found


def reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes() -> None:
    """Shut the Spark JVM down and wait until every process this run
    started, directly or not, has ended: first by closing the JVM's stdin,
    then SIGTERM, then SIGKILL. Nothing here talks to the JVM, which may be
    the part that failed."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=15)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    me = os.getpid()
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        end = time.monotonic() + grace
        while True:
            reap()
            left = descendants(me)
            if not left or time.monotonic() > end:
                break
            time.sleep(0.1)
        if not left:
            return
        log(f"sending {sig.name} to {left}")
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
    reap()
    left = descendants(me)
    if left:
        log(f"processes still running: {left}")


# --------------------------------------------------------------------------
# Run
# --------------------------------------------------------------------------


def program_present() -> bool:
    return (ROOT / "manufacturing_data_integration_tool_spark" / "__init__.py").is_file() and (
        ROOT / "__spark_entry__.py"
    ).is_file() and CONFIG_XML.is_file()


def timed_passes(spark, workload, tracer, seconds: float) -> list[dict]:
    """Timed passes until ``seconds`` have passed, at least ``MIN_PASSES``.

    With a tracer, passes alternate untraced and traced and end on an
    untraced one, so a linear drift over the run (the JVM still warming)
    cancels in the tracing overhead."""
    passes: list[dict] = []
    start = time.perf_counter()
    p = 0
    min_passes = MIN_PASSES + 1 if tracer is not None else MIN_PASSES
    while p < min_passes or time.perf_counter() - start < seconds or (tracer is not None and p % 2 == 0):
        traced = tracer is not None and p % 2 == 1
        if traced:
            tracer.pass_no = p
            tracer.install()
        try:
            wall, attempted, failed, recs = workload.run_pass(spark, p, tracer if traced else None)
        finally:
            if traced:
                tracer.uninstall()
        passes.append(
            {"pass": p, "traced": traced, "wall": wall, "attempted": attempted, "failed": failed, "records": recs}
        )
        ops = " ".join(f"{r['op']}={r['build_s']:.2f}+{r['exec_s']:.2f}" for r in recs if "build_s" in r)
        log(f"pass {p}{' traced' if traced else ''}: {wall:.2f}s {ops}")
        p += 1
    return passes


def run(args) -> dict:
    sys.path.insert(0, str(ROOT))
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local", "checkpoints", "eventlog"):
        (WORK / sub).mkdir(parents=True)
    # temporary files of Python and of the JVM it launches stay in the checkout
    os.environ["TMPDIR"] = str(WORK / "tmp")
    tempfile.tempdir = None
    trace = bool(args.trace)

    t = time.perf_counter()
    workload = WORKLOADS[args.workload](args.seed)
    log(f"inputs generated in {time.perf_counter() - t:.1f}s")

    # The program is imported before set-up so set-up times compare
    # session starts, not one-off imports.
    import manufacturing_data_integration_tool_spark  # noqa: F401
    import __spark_entry__  # noqa: F401

    tracer = None
    if trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.pass_no = -2  # set-up spans
        tracer.install()

    setup_times, spark = [], None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t = time.perf_counter()
            spark = build_session(trace)
            if tracer is not None:
                tracer.sc = spark.sparkContext
            workload.touch(spark)
            setup_times.append(time.perf_counter() - t)
        log(f"setups: {[round(s, 2) for s in setup_times]}")
        if tracer is not None:
            tracer.uninstall()

        t = time.perf_counter()
        attempted, failed = workload.warm(spark)
        warm_s = time.perf_counter() - t
        log(f"warm pass {warm_s:.1f}s, {failed} of {attempted} checks failed")

        passes = timed_passes(spark, workload, tracer, args.seconds)
        for x in passes:
            attempted += x["attempted"]
            failed += x["failed"]
        wall_s = median([x["wall"] for x in passes if not x["traced"]])
        rss = vm_hwm_mb("self")
        pid = jvm_pid()
        if pid is not None:
            rss += vm_hwm_mb(pid)
        app_dir = WORK / "eventlog" / f"eventlog_v2_{spark.sparkContext.applicationId}"
    finally:
        if spark is not None:
            spark.stop()  # also flushes the event log

    if not trace:
        metrics = {
            "wall_s": (wall_s, "s"),
            "etl_rows_per_s": (workload.rows_per_pass() / wall_s, "rows/s"),
            "setup_s": (median(setup_times), "s"),
        }
    else:
        import layers

        tracer.dump(str(WORK / "spans.jsonl"))
        metrics = layers.per_layer_metrics(
            tracer=tracer,
            app_dir=str(app_dir),
            passes=passes,
            cores=host_cores(),
            untraced_wall_s=wall_s,
        )
        metrics["ops_failed_frac"] = (failed / attempted, "ratio")
        metrics["warm_pass_s"] = (warm_s, "s")
        metrics["peak_rss_mb"] = (rss, "MB")

    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not program_present():
        log(f"the program under test is missing from {ROOT}")
        return 2
    become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP, signal.SIGALRM):
        signal.signal(sig, on_signal)
    signal.alarm(DEADLINE_S)
    try:
        result = run(args)
    except Stop as e:
        log(f"stopped by {e}")
        return 3
    finally:
        signal.alarm(0)
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, signal.SIG_IGN)  # let the clean-up finish
        stop_processes()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
