"""Pipeline benchmark: one workload, one seed, one local[nproc] session.

    python3 pipebench/run.py --workload extract_job --seed 1 --seconds 8 --trace 0

Run from the repository root. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
untraced (--trace 0), the per-layer metrics traced (--trace 1; its
measured repetitions interleave untraced and traced ones, so the
traced ones can be compared with untraced ones of the same session). The
line before it is a JSON detail record (warm-up repetition times, the
measured repetitions, host context, failures). See pipebench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"

END_TO_END = {"setup_s": "s", "wall_s": "s", "items_per_s": "1/s",
              "cpu_s": "s"}


def session(nproc: int, work: Path):
    """A local[nproc] session with job.py/bench.py's confs, sized to the
    host: heap a quarter of RAM (at most 4 GiB), scratch in `work`."""
    from pyspark.sql import SparkSession

    with open("/proc/meminfo") as f:
        ram_gb = int(f.readline().split()[1]) / 2**20
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    confs = {
        "spark.driver.memory": f"{max(1, min(4, int(ram_gb // 4)))}g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.sql.shuffle.partitions": str(max(nproc, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
        "spark.sql.files.maxPartitionBytes": str(1 << 20),
        "spark.sql.files.openCostInBytes": str(1 << 20),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    b = SparkSession.builder.master(f"local[{nproc}]").appName("pipebench")
    for k, v in confs.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark):
    """Stop the session and its JVM, and wait until the JVM and every
    process it started (the Python workers) have exited."""
    import signal
    import time

    from pyspark import SparkContext

    from harness import tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = set(tree(proc.pid)) if proc is not None else set()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while started and time.monotonic() < deadline:
        started = {p for p in started if Path(f"/proc/{p}").exists()}
        time.sleep(0.1)
    for p in started:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one result before the output checks "
                         "(shows that the checks catch it)")
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import __spark_entry__  # noqa: F401
        import fixtures.gen_pages  # noqa: F401
        import pdf_extraction_api_spark.job  # noqa: F401
        import refkernel  # noqa: F401
    except ImportError as exc:
        print(f"pipebench: the program is not importable from {ROOT}: "
              f"{exc}", file=sys.stderr)
        return 2

    from harness import Clock, Host, RssPeak, median, tree_cpu_s
    from workloads import LAYER_UNITS, WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    nproc = os.cpu_count()
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")

    host, clock, pid = Host(), Clock(), os.getpid()
    wl = WORKLOADS[args.workload](args.seed, run_dir, WORK / "cache",
                                  min(4, nproc))
    spark = None
    try:
        t = clock()
        wl.prepare()
        gen_s = clock() - t
        with RssPeak(pid) as rss:
            t_setup = clock()
            spark = session(nproc, run_dir)
            session_s = clock() - t_setup
            tracer = None
            if args.trace:
                from tracing import Tracer

                tracer = Tracer(spark, clock, run_dir / "eventlog")
            wl.setup(spark, tracer)
            first_s = clock() - t_setup - session_s
            cpu = lambda: tree_cpu_s(pid)  # noqa: E731
            warm = [wl.rep(k, clock, cpu, False)
                    for k in range(wl.WARM_REPS)]
            setup_s = clock() - t_setup - sum(r["stage_s"] for r in warm)
            rss.reset()
            # a traced run interleaves untraced and traced repetitions
            # as U T T U ..., at least 2 of each, so that repetition time
            # still falling with warm-up does not favour either kind
            reps: list[dict] = []
            least = 4 if args.trace else 2
            t_measure = clock()
            while len(reps) < least or (
                    clock() - t_measure < args.seconds
                    and len(reps) < wl.MAX_MEASURED):
                traced = bool(args.trace) and len(reps) % 4 in (1, 2)
                r = wl.rep(len(warm) + len(reps), clock, cpu, traced)
                reps.append({**r, "traced": traced})
            peak_mb = rss.peak_mb
            measured = list(range(len(warm), len(warm) + len(reps)))
            t = clock()
            errors, fails = wl.check(measured, args.corrupt)
            check_s = clock() - t
        stop(spark)
        spark = None
        plain = [r for r in reps if not r["traced"]]
        metrics = {
            "setup_s": setup_s,
            "wall_s": median([r["wall_s"] for r in plain]),
            "items_per_s": median([r["items"] / r["wall_s"] for r in plain]),
            "cpu_s": median([r["cpu_s"] for r in plain]),
        }
        out = {k: {"value": v, "unit": END_TO_END[k]}
               for k, v in metrics.items()}
        if args.trace:
            traced = [i for i, r in zip(measured, reps) if r["traced"]]
            out = trace_metrics(wl, traced, run_dir, metrics["wall_s"],
                                median([r["wall_s"] for r in reps
                                        if r["traced"]]),
                                nproc, LAYER_UNITS)
            out["proc.peak_rss_mb"] = {"value": peak_mb, "unit": "MB"}
        attempted = sum(r["items"] for r in reps)
        detail = {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "unit": wl.unit,
            "gen_s": gen_s, "session_s": session_s, "first_run_s": first_s,
            "warmup_wall_s": [r["wall_s"] for r in warm],
            "warm_leveled": abs(reps[0]["wall_s"] - warm[-1]["wall_s"])
            <= 0.1 * warm[-1]["wall_s"],
            "measured_wall_s": [r["wall_s"] for r in reps],
            "measured_traced": [r["traced"] for r in reps],
            "measured_cpu_s": [r["cpu_s"] for r in reps],
            "check_s": check_s, "total_s": clock(),
            "peak_rss_mb": peak_mb,
            "host": host.context(), "failures": fails,
        }
        print(json.dumps({"detail": detail}))
        print(json.dumps({"correct": not fails, "attempted": attempted,
                          "failed": errors + len(fails), "metrics": out}))
        return 0
    finally:
        if spark is not None:
            stop(spark)
        wl.cleanup()
        shutil.rmtree(run_dir, ignore_errors=True)


def trace_metrics(wl, traced, run_dir, plain_wall_s, traced_wall_s,
                  nproc, units) -> dict:
    """Per-layer metrics of the traced repetitions; the overhead compares
    their median wall time with the untraced ones of the same run."""
    from tracing import EventLog, read_event_log

    log = EventLog(read_event_log(run_dir / "eventlog"))
    layer = {k: 0.0 for k in units}
    layer.update(wl.layers(traced, log))
    if layer["kernel.extract_us"]:
        layer["kernel.floor_docs_per_s"] = nproc * 1e6 / layer[
            "kernel.extract_us"]
    layer["trace_overhead_frac"] = traced_wall_s / plain_wall_s - 1
    return {k: {"value": v, "unit": units[k]} for k, v in layer.items()}


if __name__ == "__main__":
    sys.exit(main())
