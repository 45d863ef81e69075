"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Set-up builds a Spark session on
``local[nproc]`` through the package's ``get_spark`` and generates the
workload's inputs from the seed; then ops run closed loop (one client)
until ``--seconds`` have passed. The first phase of the first op runs
in the fresh JVM and carries its first-use compilation; later phases
run in the same, warm JVM. Output checks run outside the timed
regions. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. Exits 1 when a check fails and 2 when the
checkout holds no program to measure.

Everything the run writes goes under ``.perfbench_work/`` in the
checkout and is removed at exit; the Spark JVM is stopped and waited
for before the result is printed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import logging
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _session(work: str, trace: bool):
    from tmdb_index_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        from perfbench.spans import EVENT_LOG_CONF

        conf |= EVENT_LOG_CONF
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "events")
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(os.path.join(work, "checkpoints"))
    return spark


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _cpu_seconds(root_pid: int) -> float:
    """CPU seconds used so far by this process, the process ``root_pid``
    and every live descendant of it (Spark's Python workers), including
    the reaped children each of them has waited for."""
    tick = os.sysconf("SC_CLK_TCK")
    parents: dict[int, int] = {}
    times: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while being listed
            continue
        pid = int(entry)
        parents[pid] = int(fields[1])
        times[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    tree, total = {root_pid}, 0
    for pid in sorted(times):
        p = pid
        while p in parents and p not in tree and p > 1:
            p = parents[p]
        if p in tree:
            tree.add(pid)
            total += times[pid]
    usage = resource.getrusage(resource.RUSAGE_SELF)
    return total / tick + usage.ru_utime + usage.ru_stime


def run(args: argparse.Namespace) -> int:
    if not os.path.isfile(os.path.join(ROOT, "tmdb_index_spark", "cli.py")):
        print(f"no tmdb_index_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)

    # The program keys changes to date.today() and fetch times to UTC
    # now; one time zone for Python, the JVM and the expectation model.
    os.environ["TZ"] = "UTC"
    time.tzset()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "events", "checkpoints"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM the run starts (the launcher and the driver) keeps its
    # temporary files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    logging.getLogger("py4j").setLevel(logging.WARNING)

    try:
        result = _measure(args, spec, work, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _measure(args: argparse.Namespace, spec: dict, work: str, workload) -> dict:
    from pyspark import SparkContext

    from perfbench.spans import Tracer, read_event_log

    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(work, bool(args.trace))
        t1 = time.perf_counter()
        wl = workload(spark, work, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - t0
        print(f"setup {setup_s:.2f}s: session {t1 - t0:.2f}s", file=sys.stderr)

        tracer = None
        if args.trace:
            tracer = Tracer(spark.sparkContext)
            wl.trace(tracer)
        jvm_pid = SparkContext._gateway.proc.pid
        op_times, op_cpu = [], []
        deadline = time.perf_counter() + args.seconds
        while not op_times or time.perf_counter() < deadline:
            wl.op_index = len(op_times)
            cpu0 = _cpu_seconds(jvm_pid)
            start = time.perf_counter()
            try:
                op_times.append(wl.op(tracer))
            except Exception:  # noqa: BLE001 — a raising op is a failed op
                wl.fail(traceback.format_exc())
                op_times.append(time.perf_counter() - start)
            op_cpu.append(_cpu_seconds(jvm_pid) - cpu0)
            print(f"op {wl.op_index}: {op_times[-1]:.2f}s, cpu {op_cpu[-1]:.2f}s", file=sys.stderr)
        if tracer is not None:
            tracer.unwrap()
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        wl.op_index = -1
        t0 = time.perf_counter()
        _stop(spark)
        spark = None
        print(f"stop {time.perf_counter() - t0:.2f}s", file=sys.stderr)
        t0 = time.perf_counter()
        wl.finish()
        print(f"checks {time.perf_counter() - t0:.2f}s", file=sys.stderr)
    finally:
        if spark is not None:
            _stop(spark)

    end_to_end = {
        "op_s": statistics.median(op_times),
        "op_cpu_s": statistics.median(op_cpu),
        "setup_s": setup_s,
        "driver_peak_rss_mb": rss_mb,
    }
    if tracer is None:
        wanted = spec["end_to_end"]
        values = end_to_end
    else:
        wanted = spec["per_layer"]
        values = tracer.metrics(read_event_log(os.path.join(work, "events")), args.workload)
        values |= {f"{args.workload}.traced.{k}": v for k, v in end_to_end.items()}
        values[f"{args.workload}.trace_overhead_s"] = tracer.overhead_s / len(op_times)
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in values:
            value = values[name]
        elif name.startswith(args.workload + "."):
            # a layer this workload should reach was never called: the
            # wrapper no longer sits where the program looks it up
            wl.fail(f"per-layer metric {name} was not recorded")
            value = 0
        else:
            value = 0  # a layer of the other workload, not run here
        metrics[name] = {"value": value, "unit": m["unit"]}

    for i, msg in wl.failures:
        print(f"check failed ({'run' if i < 0 else f'op {i}'}): {msg}", file=sys.stderr)
    return {
        "correct": not wl.failures,
        "attempted": len(op_times),
        "failed": len({i for i, _ in wl.failures if i >= 0}),
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    return run(_parse(argv))


if __name__ == "__main__":
    sys.exit(main())
