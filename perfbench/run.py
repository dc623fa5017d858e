"""Benchmark entry point.

    python3 perfbench/run.py --workload incr_chain|query_registry \
        --seed N --seconds S --trace 0|1 [--inject-fault delta_target|iceberg_target|hudi_target]

Run from the root of a checkout. Everything the run writes goes under
``.perfbench/`` in that checkout; the run's own work directory is removed
at the end and only ``.perfbench/out/`` (spans, detail) is kept.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics from a separate traced run. The line
before it is a ``detail`` object: host context, the workload's own metric
names, sample counts and every failure message.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

LAUNCH = time.perf_counter()
LOADAVG_AT_LAUNCH = os.getloadavg()[0]
ROOT = os.getcwd()


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("incr_chain", "query_registry"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument(
        "--inject-fault",
        choices=("delta_target", "iceberg_target", "hudi_target"),
        help="incr_chain only: corrupt this target after every timed cycle "
        "(negative test of the checks)",
    )
    args = ap.parse_args(argv)
    if args.inject_fault and args.workload != "incr_chain":
        ap.error("--inject-fault applies to incr_chain only")
    return args


def isolate(work: str) -> None:
    """Keep every file the run (and the JVM it starts) writes inside the
    checkout, and let Python workers import the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cpus())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        # a fixed set of JIT compiler threads, so their CPU time never moves
        # into the JVM's own total when an idle one exits
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


def spark_cpus() -> int:
    """Spark's task slots: half the cores. Each slot can hold a Python
    worker busy with the program's pandas work while the JVM's JIT threads
    and the driver process also run, so ``local[nproc]`` keeps more threads
    runnable than there are cores and its timings follow the scheduler."""
    return max(1, (os.cpu_count() or 1) // 2)


def host_counters() -> dict[str, float]:
    """Cumulative host counters: CPU ticks (all and stolen by the
    hypervisor) and the kernel's pressure-stall totals (microseconds some
    task waited for CPU, memory or IO). 0 where the kernel lacks them."""
    out = {"wall": time.perf_counter(), "ticks": 0.0, "steal": 0.0}
    with contextlib.suppress(OSError, ValueError, IndexError):
        with open("/proc/stat", encoding="utf-8") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
        out["ticks"], out["steal"] = float(sum(ticks[:8])), float(ticks[7])
    for res in ("cpu", "memory", "io"):
        out[res] = 0.0
        with contextlib.suppress(OSError, ValueError, IndexError):
            with open(f"/proc/pressure/{res}", encoding="utf-8") as fh:
                out[res] = float(fh.readline().rsplit("total=", 1)[1])
    return out


def host_noise(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    """Between two ``host_counters()`` readings: the share of CPU time the
    hypervisor stole, and the share of wall time some task stalled on CPU,
    memory or IO."""
    wall_us = max(b["wall"] - a["wall"], 1e-9) * 1e6
    out = {"steal_share": (b["steal"] - a["steal"]) / max(b["ticks"] - a["ticks"], 1.0)}
    for res in ("cpu", "memory", "io"):
        out[f"{res}_stall_share"] = (b[res] - a[res]) / wall_us
    return {k: round(v, 4) for k, v in out.items()}


def start_spark():
    from incubator_xtable_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM and every process under it
    (the Python worker daemon and its workers) to end."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 10
    for pid in procs:
        while _alive(pid):
            if time.monotonic() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _descendants(root: int) -> list[int]:
    parent = {int(p): _status(p, "PPid:") for p in os.listdir("/proc") if p.isdigit()}
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        kids = [child for child, ppid in parent.items() if ppid == pid]
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    """True while the process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def calibration_probe(spark) -> list[float]:
    """bench.py's pinned CPU + shuffle probe; every rep is recorded."""
    from pyspark.sql import functions as F

    reps = []
    for _ in range(2):
        t0 = time.perf_counter()
        (
            spark.range(0, 20_000_000, 1, 32)
            .select(
                (F.col("id") % 1000).alias("k"),
                F.sha2(F.col("id").cast("string"), 256).alias("h"),
            )
            .groupBy("k")
            .agg(F.count("*").alias("n"), F.max("h").alias("mx"))
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        reps.append(round(time.perf_counter() - t0, 4))
    return reps


def peak_rss_mb() -> dict[str, float]:
    """Peak RSS (VmHWM) of this process and of its JVM child, in MB. Their
    sum is an upper bound on the pair's joint peak; the JVM's Python workers
    are not counted."""
    kids = [p for p in os.listdir("/proc") if p.isdigit() and _status(p, "PPid:") == os.getpid()]
    return {
        "python": _status("self", "VmHWM:") / 1024.0,
        "jvm": sum(_status(k, "VmHWM:") for k in kids) / 1024.0,
    }


def _status(pid: str, key: str) -> int:
    """One integer field of /proc/<pid>/status (0 if the process is gone)."""
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def load_metric_names() -> tuple[list[dict], list[dict]]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isdir(os.path.join(ROOT, "incubator_xtable_spark")):
        print("perfbench: run from the root of a checkout of the program", file=sys.stderr)
        return 2
    end_to_end, per_layer = load_metric_names()
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    isolate(work)
    spark = None
    try:
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS, cpu_by_kind, per_layer_names, program_cpu_s

        if {m["name"] for m in per_layer} != {n for n, _ in per_layer_names()}:
            raise SystemExit("perfbench: BENCHMARK.json per_layer differs from per_layer_names()")
        spark = start_spark()
        session_s = time.perf_counter() - LAUNCH
        session_cpu_s = program_cpu_s(cpu_by_kind())
        host = {
            "nproc": os.cpu_count(),
            "cpus": spark.sparkContext.defaultParallelism,
            "loadavg_at_launch": LOADAVG_AT_LAUNCH,
        }
        tracer = Tracer(spark, bool(args.trace))
        wl = WORKLOADS[args.workload](spark, tracer, args.seed, work, args.inject_fault)
        t0 = time.perf_counter()
        wl.setup()
        setup_total_s = session_s + (time.perf_counter() - t0)
        # session start happens once per process; the workload's set-up unit
        # is repeated and its median taken
        setup_s = session_cpu_s + statistics.median(wl.setup_cpu_reps)
        setup_wall_s = session_s + statistics.median(wl.setup_reps)
        host["loadavg_start"] = os.getloadavg()[0]
        counters = host_counters()
        t_run = time.perf_counter()
        wl.run(args.seconds)
        measured_s = time.perf_counter() - t_run
        host["loadavg_end"] = os.getloadavg()[0]
        host["measured_phase"] = host_noise(counters, host_counters())
        # the measured work's peak, before the end-of-run checks allocate their own
        rss = peak_rss_mb()
        wl.verify()
        if args.trace:
            # after the measured phase, so traced and untraced runs differ
            # only in tracing
            host["calibration_sec_reps"] = calibration_probe(spark)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    failed = wl.failed_ops()
    correct = not wl.failures and bool(wl.samples)
    if args.trace:
        values = wl.layers()
        values["trace.cpu_s_per_op"] = wl.summary()["cpu_s_per_op"]
        values["trace.op_p50_s"] = wl.wall()["op_p50_s"]
        names = per_layer
    else:
        values = {**wl.summary(), "setup_s": setup_s}
        names = end_to_end
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in names}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host,
        "session_s": session_s,
        "session_cpu_s": session_cpu_s,
        "setup_reps_s": wl.setup_reps,
        "setup_cpu_reps_s": wl.setup_cpu_reps,
        "setup_wall_s": setup_wall_s,
        "setup_total_s": setup_total_s,
        "measured_s": measured_s,
        "peak_rss_mb": rss,
        "samples": len(wl.samples),
        "op_cpu_p50_s": wl.summary()["op_cpu_p50_s"],
        "wall": wl.wall(),
        "op_failure_ratio": failed / max(wl.attempted, 1),
        "workload_metrics": wl.detail(),
        "cpu_s_by_kind": wl.cpu_kinds,
        "failures": [f"op {op}: {msg}" for op, msg in wl.failures[:20]],
    }
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{stem}.json"), "w", encoding="utf-8") as fh:
        json.dump({"detail": detail, "spans": tracer.spans}, fh)
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(wl.attempted, 1),
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
