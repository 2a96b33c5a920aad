"""crawl-polite: the engine at the reference's politeness budget.

A ``generate_web`` web of 8 sites x 40 pages crawled with
``round_budget=2`` (the reference's CONCURRENT_REQUESTS): every round
admits at most 16 URLs, so the fixed per-round cost (selection, staged
writes, commit, Spark job scheduling) is nearly all of a round's wall
time. The full crawl takes ~19 rounds, more than one run measures, so
the run compares the partial crawl it made against the sequential
oracle stopped at the same round (``crawl_site(max_rounds=...)``).

Closed loop, one driver thread: each round starts after the previous one
returns. Set-up (generate and write the web, open the engine on a new
catalog) runs ``SETUP_REPEATS`` times. The first ``WARM_ROUNDS`` rounds
are the warm-up and count in set-up: they pay the JVM's codegen fill
and most of its JIT compilation, which makes the first round 2x slower
than the later ones. At that round boundary the engine is dropped and
reopened on the committed catalog ``REOPENS`` times (the resume time),
and the crawl continues on the reopened engine: rounds are timed until ``seconds`` have passed,
and never fewer than ``MIN_TIMED_ROUNDS``. The engine runs its default
configuration apart from the round budget, so it compacts every eighth
round: no round a run reaches compacts, and the median is a steady
round. The traced run times compaction in a probe round instead.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

N_SITES = 8
PAGES_PER_SITE = 40
ROUND_BUDGET = 2
WARM_ROUNDS = 1
MIN_TIMED_ROUNDS = 3
SETUP_REPEATS = 3
REOPENS = 3


def _walk(root: str) -> dict[str, int]:
    """Size of every file under ``root``, by path."""
    return {os.path.join(d, f): os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(root) for f in files}


def _open(spark, fx, paths, root, cores):
    from meilisearchcrawler_spark.config import CrawlConfig
    from meilisearchcrawler_spark.engine.crawler import CrawlEngine

    cfg = CrawlConfig(round_budget=ROUND_BUDGET, shuffle_partitions=cores)
    return CrawlEngine(spark, root, paths["pages"], fx.seeds, fx.robots,
                       cfg, initial_url_seen=fx.url_seen)


def _drop(eng) -> None:
    pool = getattr(eng, "_eager_pool", None)
    if pool is not None:
        pool.shutdown(wait=True)


def run(spark, seed: int, seconds: float, work: str, cores: int,
        tracer=None) -> dict:
    """Run the workload; returns raw per-round samples and the check."""
    from meilisearchcrawler_spark.fixtures.webgen import (
        generate_web,
        write_parquet,
    )
    from meilisearchcrawler_spark.oracle.refcrawler import crawl_site

    opens = []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        fx = generate_web(seed=seed, n_sites=N_SITES,
                          pages_per_site=PAGES_PER_SITE)
        d = os.path.join(work, f"crawl{i}")
        paths = write_parquet(fx, os.path.join(d, "web"))
        eng = _open(spark, fx, paths, os.path.join(d, "catalog"), cores)
        opens.append(time.perf_counter() - t0)
        if i + 1 < SETUP_REPEATS:
            _drop(eng)
            shutil.rmtree(d)
    root = os.path.join(d, "catalog")

    t0 = time.perf_counter()
    for _ in range(WARM_ROUNDS):
        eng.run_round()
    warm_s = time.perf_counter() - t0

    resume: list[float] = []
    for _ in range(REOPENS):
        _drop(eng)
        t0 = time.perf_counter()
        eng = _open(spark, fx, paths, root, cores)
        resume.append(time.perf_counter() - t0)

    rounds: list[dict] = []
    files = _walk(root) if tracer else {}
    deadline = time.perf_counter() + seconds
    finished = False
    while len(rounds) < MIN_TIMED_ROUNDS or time.perf_counter() < deadline:
        no = eng.round_no
        w0, t0 = time.time(), time.perf_counter()
        progressed = eng.run_round()
        rec = {"round": no, "wall_s": time.perf_counter() - t0,
               "t0": w0, "t1": time.time()}
        if tracer:
            now = _walk(root)
            new = {p: s for p, s in now.items() if files.get(p) != s}
            rec["files"], rec["bytes"] = len(new), sum(new.values())
            files = now
        rounds.append(rec)
        if not progressed or not any(s.active for s in eng.sites.values()):
            finished = True
            break
    measured_s = sum(r["wall_s"] for r in rounds)

    oracle = {s["site"]: crawl_site(fx, s, batch_size=ROUND_BUDGET,
                                    max_rounds=None if finished
                                    else eng.round_no)
              for s in fx.seeds}
    problems = check(eng, oracle)
    _drop(eng)
    # the engine's admitted rows equal the oracle's when the check passes
    timed = {r["round"] for r in rounds}
    fetched = sum(r["action"] == "admitted" and r["round"] in timed
                  for o in oracle.values() for r in o.crawl_log)
    return {
        "setup_open_s": opens,
        "warm_round_s": warm_s,
        "rounds": rounds,
        "resume_s": resume,
        "rounds_committed": eng.round_no,
        "finished": finished,
        "fetched": fetched,
        "measured_s": measured_s,
        "problems": problems,
        "pages_per_s": fetched / measured_s,
        "end_to_end": {
            "setup_s": statistics.median(opens) + warm_s,
            "step_s_p50": statistics.median(r["wall_s"] for r in rounds),
        },
        "attempted": len(rounds) + 1,  # timed rounds + the check
        "failed": int(bool(problems)),
    }


def check(eng, oracle: dict) -> list[str]:
    """Engine state vs the oracle stopped at the same round, with the
    comparison of ``tests/test_engine_equivalence.py``: admitted sequence
    with counters, URL-seen set and fields, visited set, documents and
    the stats rollup. Returns the first mismatch found, if any."""
    from test_engine_equivalence import _assert_equivalent

    try:
        _assert_equivalent(eng, oracle)
    except AssertionError as exc:
        return [str(exc)]
    return []
