"""index-queries: the read side of the index.

The nine headline entry queries of ``bench.py`` over tables generated
here from the seed with the schemas, row counts and value distributions
of the sf0.1 test data (a TPC-H-like star plus ``events``, ``documents``
and ``embeddings``; see ``generate_tables``). No crawl runs, so the
crawl engine is bypassed: an engine change should not move these
numbers, a session or operator change should.

Closed loop, one driver thread: a step is one pass over the nine
queries, plan construction included, each collected to the driver.
The first ``WARM_PASSES`` passes are the warm-up and count in set-up.
The rows of every pass, warm-up and timed, are checked after the last
one against each query's DuckDB ``oracle_sql`` on the same files.
Set-up (generate the tables, open the index) runs
``SETUP_REPEATS`` times; opening the index alone is the open time.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext

import numpy as np

HEADLINE = (
    "q01_pricing_summary",   # filtered scan + partial agg
    "q03_seen_join",         # broadcast join + agg
    "q05_priority_dedup",    # window dedup
    "q06_frontier_pop",      # frontier admission window + top-k
    "q16_dedup_exact",       # hash-groupBy dedup
    "q18_lsh_pairs",         # minhash + LSH self-join
    "q21_cosine_topk",       # brute-force cosine rerank
    "q22_ann_lsh",           # LSH-pruned ANN
    "q23_text_quality",      # full-corpus quality features
)
# rows per table, as in the sf0.1 test data the headline queries were
# written against
SIZES = {"lineitem": 600_000, "orders": 150_000, "customer": 15_000,
         "events": 100_000, "documents": 5_000, "embeddings": 2_000}
SETUP_REPEATS = 3
# the first pass in a new JVM runs 4x slower than a warm one (code
# generation, Python worker start-up); the next ones still get ~20%
# faster a pass while the JIT compiles
WARM_PASSES = 2
MIN_TIMED_STEPS = 3

_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "line merge order part query row scan slow small sort spark "
          "stream table the value vector window key").split()
_LANGS = ("en", "fr", "de", "es", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
NEAR_DUP_FRAC = 0.05         # text of another document + " dup"
EXACT_DUP_PAIRS_PER_DOC = 8 / 5_000


def generate_tables(seed: int, out: str) -> None:
    """Write the query tables as parquet under ``out``, with the row
    counts, key ranges and value distributions of the sf0.1 test data:
    uniform keys and categories, exponential event values, documents of
    10-99 words drawn uniformly from a 30-word vocabulary with 5%
    near-duplicates (another document's text + " dup") and a few exact
    duplicate pairs, unit-norm Gaussian 64-d embeddings."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    def days(lo: str, n: int, span: int) -> np.ndarray:
        return (np.datetime64(lo, "us")
                + rng.integers(0, span, n) * np.timedelta64(1, "D"))

    def pick(values, n: int, p=None) -> pa.Array:
        return pa.array(np.asarray(values)[rng.choice(len(values), n, p=p)])

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    n = SIZES["lineitem"]
    no, nc = SIZES["orders"], SIZES["customer"]
    write("lineitem", {
        "l_orderkey": rng.integers(0, no, n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n),
        "l_linestatus": pick(["O", "F"], n),
        "l_shipdate": days("1995-01-02", n, 2499),
    })
    write("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": pick(["O", "F", "P"], no),
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, no), 2),
        "o_orderdate": days("1995-01-01", no, 2404),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], no),
    })
    write("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], nc),
    })
    ne = SIZES["events"]
    write("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01", "us")
               + np.sort(rng.integers(0, 86_400 * 10**6 * 30, ne))
               * np.timedelta64(1, "us")),
        "user_id": rng.integers(0, 1_500, ne),
        "event_type": pick(["click", "error", "purchase", "signup", "view"],
                           ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = SIZES["documents"]
    texts = [" ".join(np.asarray(_WORDS)[rng.integers(0, len(_WORDS), k)])
             for k in rng.integers(10, 100, nd)]
    ids = rng.permutation(nd)
    n_near = round(nd * NEAR_DUP_FRAC)
    n_exact = round(nd * EXACT_DUP_PAIRS_PER_DOC)
    for i, src in zip(ids[:n_near], ids[n_near:2 * n_near]):
        texts[i] = texts[src] + " dup"
    for i, src in zip(ids[2 * n_near:2 * n_near + n_exact],
                      ids[2 * n_near + n_exact:2 * (n_near + n_exact)]):
        texts[i] = texts[src]
    write("documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": pick(_LANGS, nd, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    nv = SIZES["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    })


def _open(spark, data: str) -> float:
    """Open the index: a reader handle (file listing + parquet footer
    schema) for every table, through the entry module's handle cache."""
    import __spark_entry__ as entry

    t0 = time.perf_counter()
    for t in SIZES:
        entry._t(spark, data, t)
    return time.perf_counter() - t0


def _step(spark, data: str, tracer=None) -> tuple[dict, dict]:
    """One pass over the queries, each collected to the driver. Returns
    the timings and the rows by query (columns, rows)."""
    import __spark_entry__ as entry

    qs = entry.queries()
    q_s, rows = {}, {}
    w0 = time.time()
    for name in HEADLINE:
        t0 = time.perf_counter()
        with tracer.span(f"query.{name}") if tracer else nullcontext():
            df = qs[name](spark, data)
            rows[name] = (df.columns, [tuple(r) for r in df.collect()])
        q_s[name] = time.perf_counter() - t0
    return ({"queries_s": sum(q_s.values()), "query_s": q_s,
             "t0": w0, "t1": time.time()}, rows)


def run(spark, seed: int, seconds: float, work: str, cores: int,
        tracer=None) -> dict:
    setups, opens = [], []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        data = os.path.join(work, f"index{i}")
        generate_tables(seed, data)
        opens.append(_open(spark, data))
        setups.append(time.perf_counter() - t0)
        if i + 1 < SETUP_REPEATS:
            shutil.rmtree(data)

    passes: dict[str, dict] = {}
    warm_s = 0.0
    for i in range(WARM_PASSES):
        step, passes[f"warm-up pass {i}"] = _step(spark, data)
        warm_s += step["queries_s"]
    steps: list[dict] = []
    deadline = time.perf_counter() + seconds
    while len(steps) < MIN_TIMED_STEPS or time.perf_counter() < deadline:
        step, passes[f"timed pass {len(steps)}"] = _step(spark, data, tracer)
        steps.append(step)

    problems = check(data, passes)
    return {
        "setup_open_s": setups,
        "warm_step_s": warm_s,
        "steps": steps,
        "measured_s": sum(s["queries_s"] for s in steps),
        "problems": problems,
        "end_to_end": {
            "setup_s": statistics.median(setups) + warm_s,
            # queries_s: a pass at each query's median, which a
            # contention burst during part of one pass moves less than
            # the median pass wall
            "step_s_p50": sum(statistics.median(s["query_s"][q]
                                                for s in steps)
                              for q in HEADLINE),
        },
        "open_s": opens,
        "attempted": len(passes) * len(HEADLINE),
        "failed": len(problems),
    }


def check(data: str, passes: dict[str, dict]) -> list[str]:
    """The collected rows of each pass, per headline query, against its
    DuckDB oracle on the same files, compared as a multiset of rows with
    columns sorted by name, with the comparison of
    ``tests/test_entry_contract.py``."""
    import duckdb
    from test_entry_contract import _multiset

    import __spark_entry__ as entry

    con = duckdb.connect()
    try:
        for t in SIZES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(data, t)}.parquet')")
        problems = []
        sqls = entry.oracle_sql()
        for name in HEADLINE:
            res = con.execute(sqls[name])
            dcols = [d[0].lower() for d in res.description]
            want = _multiset(res.fetchall(), dcols)
            for label, results in passes.items():
                columns, rows = results[name]
                cols = [c.lower() for c in columns]
                if sorted(cols) != sorted(dcols):
                    problems.append(f"{label} {name}: columns")
                elif _multiset(rows, cols) != want:
                    problems.append(f"{label} {name}: rows")
        return problems
    finally:
        con.close()
