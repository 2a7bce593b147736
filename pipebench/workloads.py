"""The benchmark's workloads. Each is a closed loop with one client on one
local[nproc] Spark application: one repetition at a time, the next
starting when the previous has returned.

A workload has four phases, called in order by run.py:
`prepare` (generate or load inputs; not part of set-up time),
`setup` (build plans, cold first run), `rep` (one timed repetition,
also used for warm-up; traced or not), `check` (output checks on the
measured repetitions), and, in a traced run, `layers` (per-layer
metrics of the traced repetitions). A repetition returns its wall and
CPU seconds, its item count, and `stage_s`, the untimed input staging
before it (kept out of set-up time).
"""

from __future__ import annotations

import contextlib
import io
import json
import random
import shutil
from pathlib import Path

from checks import exactly_once, matches_reference, rows_equal, totals_agree
from harness import median
from inputs import (
    POOL_BLOCKS,
    mark,
    page_pool,
    read_blocks,
    tpch_tables,
    write_pages,
)
from tracing import EventLog, exec_summary, kernel_timings, patched

# Per-layer metrics reported by a traced run, with units. A workload
# reports 0 for a layer it never enters (extract_job runs no headline
# query; ops_headline makes no catalog commit). The streaming layer is
# probed by extract_job's traced run only.
LAYER_UNITS = {
    "kernel.parse_us": "us", "kernel.tables_us": "us",
    "kernel.extract_us": "us", "kernel.floor_docs_per_s": "1/s",
    "kernel.job_us_per_doc": "us", "kernel.partition_skew": "ratio",
    "plans.kernel_share": "ratio", "plans.py_bytes_in_per_doc": "B",
    "plans.py_bytes_out_per_doc": "B", "plans.stats_s": "s",
    "catalog.read_s": "s", "catalog.append_s": "s",
    "catalog.audit_append_s": "s", "catalog.files_per_commit": "count",
    "catalog.write_amp": "ratio",
    "ops.shuffle_write_mb": "MB", "ops.spill_mb": "MB", "ops.gc_s": "s",
    "ops.cached_mb": "MB",
    "stream.batches": "count", "stream.add_batch_ms": "ms",
    "stream.trigger_ms": "ms", "stream.offsets_ms": "ms",
    "stream.commit_ms": "ms",
    "exec.cpu_s": "s", "exec.gc_s": "s", "exec.task_skew": "ratio",
    "trace_overhead_frac": "ratio",
}

# 11 of bench.py's 15 headline queries: every run pays session start,
# plan build and a cold pass, and all 15 cost ~95 s a run on 4 cores,
# twice the per-run budget. Left out, each with a kept query of the
# same plan shape: j2_range_join (broadcast join, as j1),
# dd_simhash and dd_embed_lsh (signature + bucket shuffle, as
# dd_minhash_lsh), ann_topk_brute (nested-loop join + window, as w1).
HEADLINE = [
    "a11_grand_totals",      # TPC-H Q1-shaped hash aggregate
    "j1_packaging_join",     # broadcast equi-join + aggregate
    "w1_row_number",         # window over a hash shuffle
    "w3_topk",               # TakeOrderedAndProject
    "d1_dedup_hash",         # hash dedup (window)
    "dd_minhash_lsh",        # shingle -> minhash -> band join
    "tx_quality",            # higher-order-function text metrics
    "mm_image_metrics",      # PNG encode/decode + numpy (Python path)
    "q5_local_supplier",     # 6-way star join
    "aj_asof_join",          # as-of join via one window
    "ex4_flagship_rollup",   # extraction kernel + rollup (Python path)
]
for _q in HEADLINE:
    LAYER_UNITS[f"ops.{_q}_s"] = "s"


def _read_table(wh: Path, table: str, run_id: str | None = None,
                columns=None, urls=None) -> list[dict]:
    """Rows of a catalog table read straight from its committed
    manifests (all of them, or one run's; all rows, or those of `urls`)."""
    import pyarrow.parquet as pq

    filters = [("url", "in", sorted(urls))] if urls else None
    tdir = wh / table
    rows: list[dict] = []
    for m in sorted(tdir.glob("manifest-*.json")):
        info = json.loads(m.read_text())
        if run_id is None or info["run_id"] == run_id:
            for f in info["files"]:
                rows.extend(pq.read_table(tdir / f, columns=columns,
                                          filters=filters).to_pylist())
    return rows


def _manifest(wh: Path, table: str, run_id: str) -> dict:
    for m in (wh / table).glob(f"manifest-*-{run_id}.json"):
        return json.loads(m.read_text())
    raise FileNotFoundError(f"no {table} manifest for {run_id} in {wh}")


class ExtractJob:
    """`job.main --resume --stats` into a fresh copy of a warehouse that
    already holds a committed slice (pool block 0). Each repetition's
    input is NEW_BLOCKS fresh pool blocks plus the committed slice,
    which the resume anti-join drops before the kernel."""

    # 4000 new pages a measured repetition, so that the extraction stage,
    # not the job's fixed costs, takes most of a repetition.
    NEW_BLOCKS, FILES = 8, 16
    # Warm-up after the cold first run: 2 repetitions of 6000 new pages.
    # Repetition time falls with the pages processed, not only with the
    # jobs run: after 2 warm-up jobs of 1000 or 3000 pages, 3000-page
    # repetitions still fell 10-25% from the first measured one to the
    # third. Big warm-up jobs put the most pages through for each job's
    # fixed cost within the run budget (22 runs per workload in 3420 s,
    # each paying a JVM start and a cold first job).
    WARM_REPS, WARM_BLOCKS = 2, 12
    # A traced run needs 4 measured repetitions (U T T U, see run.py).
    MAX_MEASURED = 4
    SAMPLE = 8  # urls per repetition checked against refkernel
    unit = "docs"

    def __init__(self, seed: int, work: Path, cache: Path, procs: int):
        self.seed, self.work, self.cache, self.procs = seed, work, cache, procs
        self.reps: dict[int, dict] = {}
        self.tracer = None

    def prepare(self):
        self.pool = page_pool(self.cache, self.procs)
        sizes = ([self.WARM_BLOCKS] * self.WARM_REPS
                 + [self.NEW_BLOCKS] * self.MAX_MEASURED)
        assert sum(sizes) <= POOL_BLOCKS - 2, "pool too small"
        order = random.Random(f"{self.seed}:blocks").sample(
            range(2, POOL_BLOCKS), POOL_BLOCKS - 2)
        self.rep_blocks, i = [], 0
        for n in sizes:
            self.rep_blocks.append(order[i:i + n])
            i += n
        self.old = mark(read_blocks(self.pool, [0]), f"s{self.seed}-base")
        write_pages(self.old, self.work / "base_in", self.FILES)

    def _job(self, argv: list[str]) -> str:
        from pdf_extraction_api_spark import job

        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = job.main(argv)
        if code != 0:
            raise RuntimeError(f"job.main exited {code}: {out.getvalue()}")
        return out.getvalue()

    def setup(self, spark, tracer):
        self.spark, self.tracer = spark, tracer
        self.base_wh = self.work / "base_wh"
        self._job(["--pages", str(self.work / "base_in"),
                   "--warehouse", str(self.base_wh), "--run-id", "base"])

    def rep(self, k: int, clock, cpu, traced: bool) -> dict:
        import pyarrow as pa

        t_stage = clock()
        rng = random.Random(f"{self.seed}:{k}")
        new = mark(read_blocks(self.pool, self.rep_blocks[k]),
                   f"s{self.seed}-r{k}")
        in_dir, wh = self.work / f"in{k}", self.work / f"wh{k}"
        in_bytes = write_pages(pa.concat_tables([new, self.old]), in_dir,
                               self.FILES)
        shutil.copytree(self.base_wh, wh)
        stage_s = clock() - t_stage
        c0, t0 = cpu(), clock()
        if traced:
            self.tracer.start_log(k)
        with (self._traced() if traced else contextlib.nullcontext()):
            out = self._job(["--pages", str(in_dir), "--warehouse", str(wh),
                             "--run-id", f"r{k}", "--resume", "--stats"])
        if traced:
            self.tracer.stop_log()
        wall, cpu_s = clock() - t0, cpu() - c0
        shutil.rmtree(in_dir)
        self.reps[k] = {
            "wh": wh, "stats": json.loads(out.strip().splitlines()[-1]),
            "urls": set(new["url"].to_pylist()),
            "sample": [(r["url"], r["html"]) for r in new.take(
                rng.sample(range(new.num_rows), self.SAMPLE)).to_pylist()],
            "in_bytes": in_bytes,
        }
        return {"wall_s": wall, "cpu_s": cpu_s, "items": new.num_rows,
                "stage_s": stage_s}

    def _traced(self):
        """Spans around the job's calls into the catalog and the stats
        pass (patched on the classes/modules job.main imports from)."""
        from pdf_extraction_api_spark.plans import extract
        from pdf_extraction_api_spark.sources.catalog import SnapshotCatalog

        tr = self.tracer

        def read(orig):
            def wrapped(cat, spark, table, *a, **kw):
                with tr.span("catalog.read_s"):
                    return orig(cat, spark, table, *a, **kw)
            return wrapped

        def append(orig):
            def wrapped(cat, df, table, run_id):
                name = ("catalog.append_s" if table == "results"
                        else "catalog.audit_append_s")
                with tr.span(name):
                    return orig(cat, df, table, run_id)
            return wrapped

        class _TimedCollect:
            def __init__(self, df):
                self.df = df

            def collect(self):
                with tr.span("plans.stats_s"):
                    return self.df.collect()

        def stats(orig):
            return lambda results: _TimedCollect(orig(results))

        stack = contextlib.ExitStack()
        stack.enter_context(patched(SnapshotCatalog, "read", read))
        stack.enter_context(patched(SnapshotCatalog, "append", append))
        stack.enter_context(patched(extract, "run_stats", stats))
        return stack

    def check(self, measured: list[int], corrupt: bool) -> tuple[int, list[str]]:
        """(docs with a kernel error row, failed checks)."""
        base_urls = set(self.old["url"].to_pylist())
        errors, fails = 0, []
        for k in measured:
            rep = self.reps[k]
            cols = ["url", "n_pages", "extracted_text", "n_tables", "error"]
            rows = _read_table(rep["wh"], "results", f"r{k}", cols)
            by_url = {r["url"]: r for r in _read_table(
                rep["wh"], "results", f"r{k}", cols + ["tables"],
                urls={u for u, _ in rep["sample"]})}
            if corrupt and k == measured[0]:
                # one corrupted result: a byte of one sampled document
                row = by_url[rep["sample"][0][0]]
                row["extracted_text"] = bytes(row["extracted_text"]) + b"!"
            errors += sum(r["error"] is not None for r in rows)
            committed = [r["url"] for r in _read_table(
                rep["wh"], "results", columns=["url"])]
            found = exactly_once(committed, base_urls | rep["urls"])
            for url, html in rep["sample"]:
                found += matches_reference(by_url[url], html)
            audit = _read_table(rep["wh"], "audit", f"r{k}")
            found += totals_agree(rows, rep["stats"], audit)
            fails += [f"extract_job rep {k}: {f}" for f in found]
        if self.tracer:
            fails += self.stream_probe(self.spark)
        return errors, fails

    def stream_probe(self, spark) -> list[str]:
        """One availableNow catch-up of the streaming surface over pool
        block 1 (24 files, so 3 microbatches of 8); keeps the microbatch
        durations and checks every url committed once."""
        from pdf_extraction_api_spark.sources.catalog import SnapshotCatalog
        from pdf_extraction_api_spark.streaming.stream import (
            start_extraction_stream,
        )

        rows = mark(read_blocks(self.pool, [1]), f"s{self.seed}-stream")
        in_dir, wh = self.work / "stream_in", self.work / "stream_wh"
        write_pages(rows, in_dir, 24)
        q = start_extraction_stream(spark, str(in_dir), SnapshotCatalog(
            str(wh)), "results", str(self.work / "stream_ckpt"))
        q.awaitTermination()
        self.batches = [p.durationMs for p in q.recentProgress
                        if p.numInputRows > 0]
        committed = [r["url"] for r in _read_table(wh, "results",
                                                   columns=["url"])]
        return [f"stream probe: {f}" for f in
                exactly_once(committed, set(rows["url"].to_pylist()))]

    def layers(self, measured: list[int], log: EventLog) -> dict:
        out: dict[str, float] = {}
        b = self.batches
        out["stream.batches"] = len(b)
        out["stream.add_batch_ms"] = median([d["addBatch"] for d in b])
        out["stream.trigger_ms"] = median([d["triggerExecution"] for d in b])
        out["stream.offsets_ms"] = median(
            [d.get("latestOffset", 0) + d.get("getBatch", 0)
             + d.get("queryPlanning", 0) for d in b])
        out["stream.commit_ms"] = median(
            [d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in b])
        out.update({f"kernel.{k}": v for k, v in kernel_timings(
            [(r["url"], r["html"]) for r in self.old.to_pylist()],
            self.seed).items()})
        per: dict[str, list[float]] = {}

        def add(name, v):
            per.setdefault(name, []).append(v)

        for k in measured:
            rep, wh = self.reps[k], self.reps[k]["wh"]
            audit = _read_table(wh, "audit", f"r{k}")
            kms = sorted(a["kernel_ms"] for a in audit)
            docs = sum(a["input_rows"] for a in audit)
            add("kernel.job_us_per_doc", sum(kms) * 1e3 / docs)
            add("kernel.partition_skew", kms[-1] / median(kms))
            tasks = log.select(rep=k)
            # the kernel pass runs inside the results append (cached)
            py = log.python_tasks(log.select(rep=k, span="catalog.append_s"))
            run_s = sum(t["run_ms"] for t in py) / 1e3
            add("plans.kernel_share", sum(kms) / 1e3 / run_s if run_s else 0)
            add("plans.py_bytes_in_per_doc",
                log.py_metric(py, "data sent to Python workers") / docs)
            add("plans.py_bytes_out_per_doc",
                log.py_metric(py, "data returned from Python workers") / docs)
            files = written = 0
            for table in ("results", "audit"):
                m = _manifest(wh, table, f"r{k}")
                files += len(m["files"])
                written += sum((wh / table / f).stat().st_size
                               for f in m["files"])
            add("catalog.files_per_commit", files / 2)
            add("catalog.write_amp", written / rep["in_bytes"])
            s = exec_summary(tasks)
            for name in ("cpu_s", "gc_s", "task_skew"):
                add(f"exec.{name}", s[name])
        for name in ("plans.stats_s", "catalog.read_s", "catalog.append_s",
                     "catalog.audit_append_s"):
            per[name] = self.tracer.durations(name, set(measured))
        out.update({name: median(v) for name, v in per.items()})
        return out

    def cleanup(self):
        for rep in self.reps.values():
            shutil.rmtree(rep["wh"], ignore_errors=True)


class OpsHeadline:
    """The headline queries of bench.py, one at a time to the noop
    sink, in one long-lived session. A repetition is one pass."""

    WARM_REPS = 3
    MAX_MEASURED = 8
    unit = "queries"

    def __init__(self, seed: int, work: Path, cache: Path, procs: int):
        self.seed, self.work, self.cache = seed, work, cache
        self.passes: dict[int, dict] = {}
        self.tracer = None
        self.raised = 0

    def prepare(self):
        self.sf = tpch_tables(self.cache)

    def setup(self, spark, tracer):
        import __spark_entry__ as entry

        self.spark, self.tracer = spark, tracer
        q = entry.queries()
        self.dfs = {n: q[n](spark, self.sf) for n in HEADLINE}

    def rep(self, k: int, clock, cpu, traced: bool) -> dict:
        per: dict[str, float] = {}
        c0, t0 = cpu(), clock()
        if traced:
            self.tracer.start_log(k)
        for name, df in self.dfs.items():
            q0 = clock()
            try:
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failing query counts, the pass goes on
                self.raised += 1
                print(f"pipebench: {name} raised {type(exc).__name__}: {exc}")
            per[name] = clock() - q0
        if traced:
            self.tracer.stop_log()
        wall, cpu_s = clock() - t0, cpu() - c0
        rec = {"per_query": per}
        if traced:
            rec["cached_mb"] = sum(
                i.memSize() + i.diskSize() for i in
                self.spark.sparkContext._jsc.sc().getRDDStorageInfo()) / 2**20
        self.passes[k] = rec
        return {"wall_s": wall, "cpu_s": cpu_s, "items": len(self.dfs),
                "stage_s": 0.0}

    def check(self, measured: list[int], corrupt: bool) -> tuple[int, list[str]]:
        """Each query's rows against its DuckDB oracle, once, after the
        measured passes (mm_image_metrics has none: rows only)."""
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for p in Path(self.sf).glob("*.parquet"):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM "
                        f"read_parquet('{p}')")
        fails = []
        for name, df in self.dfs.items():
            try:
                rows = [tuple(r) for r in df.collect()]
            except Exception as exc:
                fails.append(f"{name}: raised {type(exc).__name__}: {exc}")
                continue
            if corrupt and name == HEADLINE[0]:
                rows[0] = (rows[0][0] + "!",) + rows[0][1:]
            if name in oracles:
                rel = con.sql(oracles[name])
                fails += rows_equal(name, df.columns, rows,
                                    list(rel.columns), rel.fetchall())
            else:
                want = con.sql("SELECT count(*) FROM documents").fetchone()[0]
                if len(rows) != want:
                    fails.append(f"{name}: {len(rows)} rows != {want} "
                                 "documents")
        con.close()
        if self.tracer:  # kernel timings run after the session stops
            from pdf_extraction_api_spark.operators.kernelq import (
                pages_from_documents,
            )

            self.kernel_docs = [
                (r.url, bytes(r.html)) for r in
                pages_from_documents(self.spark, self.sf).collect()]
        return self.raised, [f"ops_headline: {f}" for f in fails]

    def layers(self, measured: list[int], log: EventLog) -> dict:
        out = {f"kernel.{k}": v for k, v in
               kernel_timings(self.kernel_docs, self.seed).items()}
        for name in HEADLINE:
            out[f"ops.{name}_s"] = median(
                [self.passes[k]["per_query"][name] for k in measured])
        per: dict[str, list[float]] = {}
        for k in measured:
            s = exec_summary(log.select(rep=k))
            for name in ("cpu_s", "gc_s", "task_skew"):
                per.setdefault(f"exec.{name}", []).append(s[name])
            per.setdefault("ops.shuffle_write_mb", []).append(
                s["shuffle_write_mb"])
            per.setdefault("ops.spill_mb", []).append(s["spill_mb"])
            per.setdefault("ops.gc_s", []).append(s["gc_s"])
            per.setdefault("ops.cached_mb", []).append(
                self.passes[k]["cached_mb"])
        out.update({name: median(v) for name, v in per.items()})
        return out

    def cleanup(self):
        pass


WORKLOADS = {"extract_job": ExtractJob, "ops_headline": OpsHeadline}
