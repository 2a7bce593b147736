"""The benchmark's own tests: every output check passes on a correct
result and reports a failure on a corrupted one.

    python3 -m pytest pipebench/test_checks.py -q

The two end-to-end tests start a Spark session each (about a minute
apiece); the others need no Spark.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH.parent))

from checks import (  # noqa: E402
    exactly_once,
    matches_reference,
    rows_equal,
    totals_agree,
)


@pytest.fixture(scope="module")
def docs():
    from fixtures.gen_pages import gen_row
    from pdf_extraction_api_spark.kernel.batch import extract_one

    out = []
    for i in range(40):
        r = gen_row(i)
        out.append((extract_one(r["url"], r["html"]), r["html"]))
    return out


def test_exactly_once():
    assert exactly_once(["a", "b"], {"a", "b"}) == []
    assert exactly_once(["a", "a", "b"], {"a", "b"})
    assert exactly_once(["a"], {"a", "b"})
    assert exactly_once(["a", "b", "c"], {"a", "b"})


def test_reference_match_and_corruption(docs):
    assert all(matches_reference(row, html) == [] for row, html in docs)
    row, html = next((r, h) for r, h in docs if r["extracted_text"])
    bad = {**row, "extracted_text": row["extracted_text"][:-1] + b"#"}
    assert matches_reference(bad, html)
    with_table = next(r for r, _ in docs if r["tables"])
    html = next(h for r, h in docs if r is with_table)
    t0 = {**with_table["tables"][0], "csv_bytes": b"x"}
    bad = {**with_table, "tables": [t0] + with_table["tables"][1:]}
    assert matches_reference(bad, html)


def _totals(rows):
    stats = {"documents": len(rows),
             "total_pages": sum(r["n_pages"] for r in rows),
             "total_tables": sum(r["n_tables"] for r in rows),
             "extracted_bytes": sum(len(r["extracted_text"]) for r in rows)}
    audit = [{"input_rows": len(rows), "output_rows": len(rows),
              "n_tables": stats["total_tables"], "errors": 0}]
    return stats, audit


def test_totals_and_corruption(docs):
    rows = [r for r, _ in docs]
    stats, audit = _totals(rows)
    assert totals_agree(rows, stats, audit) == []
    assert totals_agree(rows, {**stats, "total_tables": 0}, audit)
    assert totals_agree(rows, stats, [{**audit[0], "input_rows": 1}])
    assert totals_agree(rows[1:], stats, audit)


def test_rows_equal_and_corruption():
    cols, rows = ["k", "v"], [("a", 1.0), ("b", 2.5)]
    assert rows_equal("q", cols, rows, ["v", "k"],
                      [(2.5, "b"), (1.0, "a")]) == []
    assert rows_equal("q", cols, [("a", 1.0), ("b", 2.6)], cols, rows)
    # a rounding tie resolved the other way passes; a real change fails
    assert rows_equal("q", cols, [("a", 4692376.44)], cols,
                      [("a", 4692376.43)]) == []
    assert rows_equal("q", cols, [("a", 4692376.44)], cols,
                      [("a", 4692386.44)])
    assert rows_equal("q", cols, rows[:1], cols, rows)
    assert rows_equal("q", ["k", "w"], rows, cols, rows)


@pytest.mark.parametrize("workload", ["extract_job", "ops_headline"])
def test_corrupted_run_reports_failure(workload):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", "0", "--corrupt"]
    p = subprocess.run(cmd, cwd=BENCH.parent, capture_output=True,
                       text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] >= 1


def test_metric_names_match_benchmark_json():
    import run
    from workloads import LAYER_UNITS

    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        **LAYER_UNITS, "proc.peak_rss_mb": "MB"}
