"""Seeded benchmark inputs, cached on disk under the work directory.

Two input families:

- a crawl-page pool of `fixtures.gen_pages.gen_row` pages (its own
  family mix), generated once per checkout because it does not depend
  on the workload seed. The pool is cut into blocks of BLOCK pages,
  each with the same count per family (the gen_row weights), stored as
  one Parquet row group each. A repetition of `extract_job` takes whole
  blocks, a disjoint set per repetition chosen by the seed, so every
  repetition carries the same work mix and no page is used twice in a
  run. `mark` appends a per-repetition HTML comment to every body:
  bodies that are equal inside one repetition stay equal (the crawl's
  own duplicates), but no body repeats across repetitions, so the
  kernel's per-worker memo is never fed by the benchmark's reruns;
- TPC-H-shaped tables (`region nation customer supplier part orders
  lineitem events documents embeddings`) for `ops_headline`, generated
  once from a fixed seed (the workload seed does not change them), with
  the schemas and value domains of the repository's test data at scale
  factor 0.01.
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta
from pathlib import Path

BLOCK = 500
# block 0: the committed base slice; block 1: the stream probe;
# blocks 2..: repetitions (2 warm-up ones of 12 blocks, then at most 4
# measured ones of 8).
POOL_BLOCKS = 58


def _gen_chunk(bounds: tuple[int, int]) -> list[dict]:
    from fixtures.gen_pages import gen_row

    return [gen_row(i) for i in range(*bounds)]


def _block_counts() -> dict[str, int]:
    from fixtures.gen_pages import FAMILIES

    total = sum(w for _, w in FAMILIES)
    counts = {f: round(BLOCK * w / total) for f, w in FAMILIES}
    counts[FAMILIES[0][0]] += BLOCK - sum(counts.values())
    return counts


def page_pool(cache: Path, procs: int) -> Path:
    """Path of the block pool (gen_row seed 42, doc ids in order, each
    page going to the first block that still lacks its family),
    generated in `procs` processes on first use."""
    path = cache / f"pool_{POOL_BLOCKS}x{BLOCK}.parquet"
    if path.exists():
        return path
    import multiprocessing as mp

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fixtures.gen_pages import FAMILIES

    counts = _block_counts()
    waiting: dict[str, list[dict]] = {f: [] for f in counts}
    cache.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    writer, blocks, start, step = None, 0, 0, 500
    with mp.get_context("fork").Pool(procs) as pool:
        while blocks < POOL_BLOCKS:
            chunks = [(start + i * step, start + (i + 1) * step)
                      for i in range(2 * procs)]
            start = chunks[-1][1]
            for part in pool.map(_gen_chunk, chunks):
                for r in part:
                    waiting[r["_family"]].append(r)
            while blocks < POOL_BLOCKS and all(
                    len(waiting[f]) >= c for f, c in counts.items()):
                picked = {f: waiting[f][:c] for f, c in counts.items()}
                for f, c in counts.items():
                    del waiting[f][:c]
                rows: list[dict] = []
                while len(rows) < BLOCK:  # families interleaved
                    for f, _ in FAMILIES:
                        if picked[f]:
                            rows.append(picked[f].pop(0))
                table = pa.Table.from_pylist(rows)
                if writer is None:
                    writer = pq.ParquetWriter(tmp, table.schema)
                writer.write_table(table, row_group_size=BLOCK)
                blocks += 1
        pool.close()
        pool.join()
    writer.close()
    tmp.rename(path)
    return path


PAGE_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def read_blocks(pool: Path, blocks: list[int]):
    """The pages of the given pool blocks, as an Arrow table."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(pool).read_row_groups(blocks, columns=PAGE_COLUMNS)


def mark(pages, tag: str):
    """Make every body and url unique to `tag` (one repetition)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    url = pc.binary_join_element_wise(pages["url"], f"?{tag}", "")
    html = pc.binary_join_element_wise(
        pages["html"], pa.scalar(f"<!--{tag}-->".encode()), pa.scalar(b""))
    pages = pages.set_column(pages.schema.get_field_index("url"), "url", url)
    return pages.set_column(pages.schema.get_field_index("html"), "html",
                            html)


def write_pages(pages, out: Path, files: int) -> int:
    """Write the pages round-robin into `files` Parquet files (one scan
    task each under the session's 1 MiB open cost); returns bytes
    written."""
    import pyarrow.parquet as pq

    out.mkdir(parents=True, exist_ok=True)
    for i in range(files):
        pq.write_table(pages.take(list(range(i, pages.num_rows, files))),
                       out / f"part-{i:03d}.parquet")
    return sum(p.stat().st_size for p in out.glob("*.parquet"))


# ------------------------------------------------------- TPC-H-shaped
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
               "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
_VOCAB = ("a the key agg row scan slow fast table value part hash merge "
          "batch spark line sort window order data column join small "
          "customer query big group filter stream vector").split()
_PART_WORDS = ["small", "red", "large", "blue", "steel", "ring",
               "widget", "bolt", "green", "brass"]
_PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM"]

SCALE = {"customer": 1500, "supplier": 100, "part": 2000,
         "orders": 15000, "lineitem": 60000, "events": 10000,
         "documents": 500, "embeddings": 500}


# The tables do not depend on the workload seed: per-seed data would add
# spread between runs without loading any other operator.
TABLE_SEED = 42


def tpch_tables(cache: Path) -> str:
    """Directory of the tables (generated on first use)."""
    seed = TABLE_SEED
    out = cache / f"tpch_s{seed}"
    if (out / "_SUCCESS").exists():
        return str(out)
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    n = SCALE

    def day(lo: datetime, span_days: int, size: int):
        return [lo + timedelta(days=int(d))
                for d in g.integers(0, span_days, size)]

    def money(lo: float, hi: float, size: int):
        return np.round(g.uniform(lo, hi, size), 2)

    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": _REGIONS},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)],
                                           pa.int32())},
        "customer": {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": g.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": money(-999, 9999, n["customer"]),
            "c_mktsegment": g.choice(_SEGMENTS, n["customer"])},
        "supplier": {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": g.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": money(-999, 9999, n["supplier"])},
        "part": {
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [" ".join(g.choice(_PART_WORDS, 2))
                       for _ in range(n["part"])],
            "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n["part"])],
            "p_type": g.choice(_PART_TYPES, n["part"]),
            "p_size": g.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(
                900 + np.arange(n["part"]) * 0.1, 2)},
        "orders": {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": g.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": g.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": money(1000, 500000, n["orders"]),
            "o_orderdate": day(datetime(1995, 1, 1), 2404, n["orders"]),
            "o_orderpriority": g.choice(_PRIORITIES, n["orders"])},
        "lineitem": {
            "l_orderkey": g.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": g.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": g.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": g.integers(1, 8, n["lineitem"]).astype(np.int32),
            "l_quantity": g.integers(1, 51, n["lineitem"]).astype(float),
            "l_extendedprice": money(900, 100000, n["lineitem"]),
            "l_discount": np.round(g.integers(0, 11, n["lineitem"]) / 100, 2),
            "l_tax": np.round(g.integers(0, 9, n["lineitem"]) / 100, 2),
            "l_returnflag": g.choice(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": g.choice(["F", "O"], n["lineitem"]),
            "l_shipdate": day(datetime(1995, 1, 2), 2497, n["lineitem"])},
    }
    ne = n["events"]
    secs = np.sort(g.uniform(0, 30 * 86400, ne))
    tables["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": [datetime(2024, 1, 1) + timedelta(seconds=float(s))
               for s in secs],
        "user_id": g.integers(0, 150, ne),
        "event_type": g.choice(_EVENTS, ne),
        "value": np.round(g.exponential(60.0, ne) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in g.integers(0, 100, ne)]}
    nd = n["documents"]
    texts = [" ".join(g.choice(_VOCAB, int(k)))
             for k in g.integers(20, 90, nd)]
    tables["documents"] = {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": g.choice(_LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    nv = n["embeddings"]
    labels = g.integers(0, 10, nv)
    centers = g.normal(0, 1, (10, 64))
    vecs = centers[labels] + g.normal(0, 0.6, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels.astype(np.int32)}
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), out / f"{name}.parquet")
    (out / "_SUCCESS").touch()
    return str(out)
