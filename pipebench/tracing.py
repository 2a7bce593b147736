"""Traced-run instruments: spans around calls into each layer, the Spark
event log read back per span, and single-thread kernel timings.

Spans are recorded by the benchmark around the program's public calls;
nothing inside the program is instrumented. The event log is written
only during traced repetitions: the tracer attaches Spark's own
event-logging listener to the running session when a traced
repetition starts and detaches it when it ends, so the untraced
repetitions of the same session measure what tracing costs. Every
Spark job started inside a span carries the span's name and
repetition as local properties, so the event log's task metrics can
be attributed to it.
"""

from __future__ import annotations

import contextlib
import json
import random
import statistics
import time
from pathlib import Path

SPAN_KEY = "pipebench.span"
REP_KEY = "pipebench.rep"


class Tracer:
    """In-memory spans (name, repetition, start_s, end_s), and one event
    log file per traced repetition under `log_dir`."""

    def __init__(self, spark, clock, log_dir: Path):
        self.sc = spark.sparkContext
        self.clock = clock
        self.log_dir = log_dir
        self.spans: list[tuple[str, int, float, float]] = []
        self.rep = -1
        self._listener = None

    def set_rep(self, rep: int):
        self.rep = rep
        self.sc.setLocalProperty(REP_KEY, str(rep))

    def start_log(self, rep: int):
        """Attach an event-logging listener writing `log_dir/rep-<rep>`,
        uncompressed and not rolled."""
        jsc, jvm = self.sc._jsc.sc(), self.sc._jvm
        self.log_dir.mkdir(parents=True, exist_ok=True)
        conf = (jsc.conf().clone()
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false"))
        listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            f"rep-{rep}", jvm.scala.Option.apply(None),
            jvm.java.net.URI(self.log_dir.resolve().as_uri()), conf,
            jsc.hadoopConfiguration())
        listener.start()
        jsc.addSparkListener(listener)
        self._listener = listener
        self.set_rep(rep)

    def stop_log(self):
        """Deliver every queued event, then detach and close the log."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(self._listener)
        self._listener.stop()
        self._listener = None
        self.set_rep(-1)

    @contextlib.contextmanager
    def span(self, name: str):
        self.sc.setLocalProperty(SPAN_KEY, name)
        t0 = self.clock()
        try:
            yield
        finally:
            self.spans.append((name, self.rep, t0, self.clock()))
            self.sc.setLocalProperty(SPAN_KEY, None)

    def durations(self, name: str, reps=None) -> list[float]:
        return [t1 - t0 for n, r, t0, t1 in self.spans
                if n == name and (reps is None or r in reps)]


@contextlib.contextmanager
def patched(obj, attr: str, wrap):
    """Temporarily replace obj.attr with wrap(original)."""
    orig = getattr(obj, attr)
    setattr(obj, attr, wrap(orig))
    try:
        yield
    finally:
        setattr(obj, attr, orig)


# ------------------------------------------------------------ event log
def read_event_log(log_dir: Path) -> list[dict]:
    """The events of every traced repetition's log, in order."""
    events: list[dict] = []
    for p in sorted(log_dir.glob("rep-*")):
        with p.open() as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def _python_metric_ids(node: dict, out: dict[str, set[int]]):
    """Metric ids of the plan's Python exec nodes (MapInArrow,
    MapInPandas, ArrowEvalPython, ...): those reporting Python data."""
    metrics = node.get("metrics", [])
    if any(m["name"] == "data sent to Python workers" for m in metrics):
        for m in metrics:
            out.setdefault(m["name"], set()).add(m["accumulatorId"])
    for child in node.get("children", []):
        _python_metric_ids(child, out)


class EventLog:
    """Task metrics of an event log, attributable to repetition and
    span through the jobs' local properties."""

    def __init__(self, events: list[dict]):
        stage_tag: dict[int, tuple[int, str | None]] = {}
        py_ids: dict[str, set[int]] = {}
        self.tasks: list[dict] = []
        for e in events:
            kind = e.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                tag = (int(props.get(REP_KEY, -1)), props.get(SPAN_KEY))
                for sid in e.get("Stage IDs", []):
                    stage_tag[sid] = tag
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"):
                _python_metric_ids(e.get("sparkPlanInfo", {}), py_ids)
            elif kind == "SparkListenerTaskEnd":
                info, m = e.get("Task Info", {}), e.get("Task Metrics") or {}
                rep, span = stage_tag.get(e["Stage ID"], (-1, None))
                acc = {a["ID"]: a.get("Update") for a in
                       info.get("Accumulables", [])}
                sw = m.get("Shuffle Write Metrics") or {}
                self.tasks.append({
                    "rep": rep, "span": span, "stage": e["Stage ID"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                    "spill_b": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    "acc": acc,
                })
        self.py_ids = py_ids

    def select(self, rep=None, span=None) -> list[dict]:
        return [t for t in self.tasks
                if (rep is None or t["rep"] == rep)
                and (span is None or t["span"] == span)]

    def py_metric(self, tasks: list[dict], name: str) -> int:
        ids = self.py_ids.get(name, set())
        return sum(int(v) for t in tasks for i, v in t["acc"].items()
                   if i in ids and v is not None)

    def python_tasks(self, tasks: list[dict]) -> list[dict]:
        """Tasks that ran a Python exec node (carry its metrics)."""
        ids = set().union(*self.py_ids.values()) if self.py_ids else set()
        return [t for t in tasks if ids & t["acc"].keys()]


def exec_summary(tasks: list[dict]) -> dict:
    """Executor totals of a set of tasks; task_skew is max / median task
    run time within the stage that ran longest in total."""
    stages: dict[int, list[int]] = {}
    for t in tasks:
        stages.setdefault(t["stage"], []).append(t["run_ms"])
    runs = max(stages.values(), key=sum, default=[])
    med = statistics.median(runs) if runs else 0
    return {
        "cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "task_skew": (max(runs) / med) if med else 0.0,
        "shuffle_write_mb": sum(t["shuffle_write_b"] for t in tasks) / 2**20,
        "spill_mb": sum(t["spill_b"] for t in tasks) / 2**20,
    }


# ------------------------------------------------------- kernel timing
def kernel_timings(docs: list[tuple[str, bytes]], seed: int) -> dict:
    """Single-thread µs per doc of each kernel stage on a seeded sample
    of 100 docs: the median over 5 passes of each pass's mean. The
    grid-classification memo is emptied before each timed call, so
    every pass times classification as a fresh worker would run it
    (repeats inside one document still hit, as they do in a job)."""
    from pdf_extraction_api_spark.kernel import tablepipe
    from pdf_extraction_api_spark.kernel.batch import extract_one
    from pdf_extraction_api_spark.kernel.model import parse_document

    picked = random.Random(seed).sample(docs, min(100, len(docs)))
    parse, tables, full = [], [], []
    for _ in range(5):
        tp = tt = tf = 0.0
        for url, html in picked:
            t0 = time.perf_counter()
            m = parse_document(html)
            tp += time.perf_counter() - t0
            tablepipe._CLS_CACHE.clear()
            t0 = time.perf_counter()
            for page in sorted(m.tables):
                slot = m.tables[page]
                tablepipe.page_tables(page, slot["lattice"], slot["stream"])
            tt += time.perf_counter() - t0
            tablepipe._CLS_CACHE.clear()
            t0 = time.perf_counter()
            extract_one(url, html)
            tf += time.perf_counter() - t0
        n = len(picked)
        parse.append(tp / n * 1e6)
        tables.append(tt / n * 1e6)
        full.append(tf / n * 1e6)
    return {"parse_us": statistics.median(parse),
            "tables_us": statistics.median(tables),
            "extract_us": statistics.median(full)}
