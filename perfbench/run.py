"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_landing --seed 1 --seconds 25 \
        --trace 0

Run from the root of a checkout. One client process drives the package
on ``local[<cores>]``, half the host's cores: it generates the workload's
inputs from the seed, starts the session, warms up, then runs
``--seconds`` worth of operations, checking every committed output. The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it records the
host and sample counts.

All files live under ``.perfbench_work/`` in the checkout and are
removed at exit; the process waits for the JVM it started to end.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "serverless_data_pipeline_spark"
GEN_REPEATS = 3
# Fits the working set of both workloads with room for the Python
# workers on a 4-core, 15 GB host.
DRIVER_MEM = "3g"


def tail(xs: list) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples above it; with fewer than 11 samples, the maximum."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, n
    return s[n - 11], round(100.0 * (n - 10) / n, 1), n


def account(steps: list, errors: list) -> tuple[int, int]:
    """(attempted, failed) operations: an operation fails when one of its
    output checks finds a problem or when it raises."""
    failed = sum(bool(st.problems) for st in steps) + len(errors)
    return len(steps) + len(errors), failed


def calib_ms(reps: int = 40) -> float:
    """Single-thread host speed probe: md5 over 1 MiB ``reps`` times,
    best of three."""
    buf = bytes(range(256)) * 4096
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.md5()
        for _ in range(reps):
            h.update(buf)
        h.digest()
        best = min(best, (time.perf_counter() - t0) * 1000)
    return round(best, 2)


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (empty where absent)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_frac(t0: list, t1: list) -> float | None:
    """Share of CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests."""
    if len(t0) < 8 or len(t1) < 8:
        return None
    d = [b - a for a, b in zip(t0, t1)]
    return round(d[7] / max(1, sum(d[:8])), 4)


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def metric_units() -> dict:
    """Metric name -> unit, as declared in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"]
            for m in bench["end_to_end"] + bench["per_layer"]}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it: the
    JVM exits when its stdin closes."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE} not found next to perfbench/",
              file=sys.stderr)
        return 2
    # Spark gets half the cores; the rest are left to the driver JVM's own
    # threads (JIT, GC, scheduler), the Python driver and its workers. On a
    # 4-core host with every core given to tasks, all of them competed for
    # the same cores: operations ran 1.5x slower and varied twice as much.
    nproc = len(os.sched_getaffinity(0))
    cores = max(1, nproc // 2)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "local"))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get(
                "PYTHONPATH", "").split(os.pathsep) if p]),
        "TZ": "UTC",
    })
    time.tzset()
    os.chdir(work)
    sys.path[:0] = [ROOT, HERE]
    try:
        return run(args, work, nproc, cores)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def run(args, work: str, nproc: int, cores: int) -> int:
    import layers
    import spans
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    host = {"nproc": nproc, "cores": cores, "driver_mem": DRIVER_MEM,
            "calib_ms": calib_ms(), "loadavg": list(os.getloadavg())}

    # --- set-up: inputs (repeated, median), session, warm-up
    cls = WORKLOADS[args.workload]
    gen_s = []
    for i in range(GEN_REPEATS):
        w = cls(None, work, args.seed)
        t0 = time.perf_counter()
        w.generate(os.path.join(work, f"in{i}"))
        gen_s.append(time.perf_counter() - t0)
        w.close()
    truth = w.truth

    extra = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
             # a fixed heap: growing it on demand made run times depend
             # on when the collector resized it
             "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}"}
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + log_dir,
                      "spark.eventLog.compress": "false"})
    t0 = time.perf_counter()
    from serverless_data_pipeline_spark.session import get_spark
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      extra_conf=extra)
    session_s = time.perf_counter() - t0
    try:
        tracer = None
        if args.trace:
            tracer = spans.Tracer(spark.sparkContext)
            layers.install(tracer)
        wl = cls(spark, work, args.seed, tracer)
        wl.truth = truth
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = statistics.median(gen_s) + session_s + warm_s
        if tracer:
            first_sid = len(tracer.spans)
            tracer.overhead_s = 0.0

        # --- measured operations: a count fixed by --seconds, not by how
        # fast the host is this minute. Ops speed up from one to the next
        # (the JVM is still compiling), so a count that followed the host
        # moved the median by more than the host did.
        steps, errors = [], []
        cpu0 = cpu_ticks()
        for _ in range(max(1, round(args.seconds / cls.STEP_S))):
            try:
                st = wl.step()
            except Exception as e:          # an operation that raised
                errors.append(repr(e)[:300])
                break
            if st is None:
                break
            steps.append(st)
        host["steal_frac"] = steal_frac(cpu0, cpu_ticks())
        if tracer:
            measured = range(first_sid, len(tracer.spans))
            overhead_s = tracer.overhead_s

        op_s = [st.op_s for st in steps]
        query_s = [x for st in steps for x in st.query_s]
        # each pass of the read-back query set, as one latency: single
        # queries differ by type, so their median jumped between types
        # from run to run
        set_s = [x for st in steps for x in [sum(st.query_s)] + st.query_sets]
        attempted, failed = account(steps, errors)
        problems = [p for st in steps for p in st.problems] + errors
        problems += wl.warm_problems
        summary = wl.summary() if steps else {}
        wl.close()
        rss_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        rss_kb += vm_hwm_kb(spark.sparkContext._gateway.proc.pid)
    finally:
        stop_spark(spark)

    ok = bool(op_s) and not problems
    units = metric_units()
    info = {"workload": args.workload, "seed": args.seed, "host": host,
            "op_s": [round(x, 3) for x in op_s],
            "query_s": [round(x, 3) for x in query_s],
            "query_set_s": [round(x, 3) for x in set_s],
            "setup": {"gen_s": round(statistics.median(gen_s), 4),
                      "session_s": round(session_s, 4),
                      "warm_s": round(warm_s, 4)},
            "problems": problems[:10]}
    if not op_s:
        print(json.dumps(info))
        print(json.dumps({"correct": False, "attempted": max(1, attempted),
                          "failed": max(1, failed), "metrics": {}}))
        return 0

    if args.trace:
        per_span = spans.rollup(spans.read_event_log(log_dir))
        vals = layers.compute(tracer, per_span, measured, overhead_s, wl,
                              session_s, op_s, cores)
        metrics = {k: {"value": vals[k], "unit": units[k]}
                   for k in layers.LAYERS}
    else:
        # Tails are recorded here, not as metrics: a run holds too few
        # operations for a percentile with ten samples beyond it.
        info["tails"] = {k: dict(zip(("value", "percentile", "n"), tail(xs)))
                         for k, xs in (("op_s", op_s), ("query_s", query_s))}
        # Recorded, not a metric: with the heap fixed at DRIVER_MEM the
        # JVM's resident set is mostly that heap, whatever the work.
        info["peak_rss_mb"] = round(rss_kb / 1024, 1)
        vals = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(op_s),
            "query_set_p50_s": statistics.median(set_s),
            **summary,
        }
        metrics = {k: {"value": v, "unit": units[k]}
                   for k, v in vals.items()}
    print(json.dumps(info))
    print(json.dumps({"correct": ok, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
