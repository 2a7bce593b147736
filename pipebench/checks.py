"""Output checks. Each returns a list of failure strings (empty = pass),
so a run can count failures instead of stopping at the first one."""

from __future__ import annotations

import datetime as dt
import decimal
import math


def exactly_once(committed_urls: list[str], expected: set[str]) -> list[str]:
    """Every input url is committed exactly once."""
    out = []
    if len(committed_urls) != len(set(committed_urls)):
        out.append(f"{len(committed_urls) - len(set(committed_urls))} "
                   "urls committed more than once")
    missing = expected - set(committed_urls)
    extra = set(committed_urls) - expected
    if missing:
        out.append(f"{len(missing)} input urls not committed")
    if extra:
        out.append(f"{len(extra)} committed urls not in the input")
    return out


def _table_key(t: dict) -> tuple:
    return (t["page"], t["table_index"], t["method"], bytes(t["csv_bytes"]),
            t["content_hash"], t["table_type"])


def matches_reference(row: dict, html: bytes) -> list[str]:
    """A committed result row is byte-equal to refkernel on the same
    input (text, page count and every table's csv bytes and hash)."""
    from refkernel import extract_document

    ref = extract_document(row["url"], html)
    out = []
    if bytes(row["extracted_text"]) != ref["extracted_text"]:
        out.append(f"{row['url']}: extracted_text differs from refkernel")
    if row["n_pages"] != ref["n_pages"]:
        out.append(f"{row['url']}: n_pages {row['n_pages']} != "
                   f"{ref['n_pages']}")
    got = [_table_key(t) for t in row["tables"] or []]
    if got != [_table_key(t) for t in ref["tables"]]:
        out.append(f"{row['url']}: tables differ from refkernel")
    return out


def totals_agree(rows: list[dict], stats: dict, audit: list[dict]) -> list[str]:
    """--stats and the audit table both equal the sums over results."""
    docs = len(rows)
    tables = sum(r["n_tables"] for r in rows)
    errors = sum(r["error"] is not None for r in rows)
    expect = {
        "documents": docs,
        "total_pages": sum(r["n_pages"] for r in rows),
        "total_tables": tables,
        "extracted_bytes": sum(len(r["extracted_text"]) for r in rows),
    }
    out = [f"stats {k}={stats.get(k)} != {v} summed over results"
           for k, v in expect.items() if stats.get(k) != v]
    audit_sums = {
        "input_rows": (sum(a["input_rows"] for a in audit), docs),
        "output_rows": (sum(a["output_rows"] for a in audit), docs - errors),
        "n_tables": (sum(a["n_tables"] for a in audit), tables),
        "errors": (sum(a["errors"] for a in audit), errors),
    }
    out += [f"audit {k}={got} != {want} summed over results"
            for k, (got, want) in audit_sums.items() if got != want]
    return out


def _norm(v):
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _same(a, b) -> bool:
    """Floats agree to 1e-6 relative: the two engines sum in different
    orders, so a rounded sum can land on either side of a rounding tie
    (seed 9's q5 revenue of NATION_6 sums to 4692376.435 and rounds to
    .44 in Spark, .43 in DuckDB). Everything else compares exactly."""
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or math.isclose(
            a, b, rel_tol=1e-6, abs_tol=1e-9)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(map(_same, a, b))
    return _norm(a) == _norm(b)


def _canon(cols: list[str], rows: list[tuple]) -> tuple:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    plain = [tuple(float(v) if isinstance(v, decimal.Decimal) else v
                   for v in (r[i] for i in order)) for r in rows]
    return [cols[i] for i in order], sorted(
        plain, key=lambda r: tuple(_norm(v) for v in r))


def rows_equal(name: str, cols: list[str], rows: list[tuple],
               ocols: list[str], orows: list[tuple]) -> list[str]:
    """Order-insensitive equality of a query result with its oracle:
    column names, row count and every value (floats to 1e-6 relative,
    see _same)."""
    sc, sb = _canon(cols, rows)
    oc, ob = _canon(ocols, orows)
    if sc != oc:
        return [f"{name}: columns {sc} != oracle {oc}"]
    if len(sb) != len(ob):
        return [f"{name}: {len(sb)} rows != oracle {len(ob)}"]
    if not all(map(_same, sb, ob)):
        return [f"{name}: values differ from oracle"]
    return []
