"""Round-6 optimization internals: driver-tracked frontier sizes, the
small-round candidate-prefix shortcut, the escalation-stats skip and
the adaptive Bloom-probe skip. All of them only change PLAN shape /
driver bookkeeping — these tests pin (a) the tracked size against the
actual live frontier every round, (b) row-identity of the shortcut
prefix, (c) that a legacy checkpoint (state without ``frontier_rows``)
still resumes and completes identically, (d) that the stats collect
is skipped exactly while no site can fill its prefix, with the crawl
equal to the oracle either way, and (e) that the Bloom filter stays
complete while the probe is skipped."""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import functions as F
from test_engine_equivalence import _assert_equivalent

from meilisearchcrawler_spark.config import CrawlConfig
from meilisearchcrawler_spark.engine.bloom import PartitionedBloom
from meilisearchcrawler_spark.engine.crawler import (
    CrawlEngine, candidate_prefix)
from meilisearchcrawler_spark.fixtures.webgen import generate_web, write_parquet
from meilisearchcrawler_spark.functions.urls import url_hash_col
from meilisearchcrawler_spark.oracle.refcrawler import crawl_site
from meilisearchcrawler_spark.session import ship_package


def _web(tmp_path, seed=19, n_sites=2, pages_per_site=24, fanout=(2, 5)):
    fx = generate_web(seed=seed, n_sites=n_sites,
                      pages_per_site=pages_per_site, fanout=fanout)
    out = tmp_path / "web"
    out.mkdir(exist_ok=True)
    paths = write_parquet(fx, str(out))
    return fx, paths


def _live_counts(eng) -> dict[str, int]:
    live = eng._live_frontier()
    if live is None:
        return {}
    return {r["site"]: r["cnt"] for r in
            live.groupBy("site").agg(F.count("*").alias("cnt")).collect()}


def test_frontier_rows_tracks_live_frontier(spark, tmp_path):
    """After every round (including across a compaction, which folds
    pops without changing the live set), the driver-tracked
    ``frontier_rows`` equals the actual live-frontier row count."""
    ship_package(spark)
    fx, paths = _web(tmp_path)
    eng = CrawlEngine(spark, str(tmp_path / "cat"), paths["pages"],
                      fx.seeds, fx.robots,
                      CrawlConfig(round_budget=6, shuffle_partitions=4,
                                  compact_every=2),
                      initial_url_seen=fx.url_seen)
    for _ in range(40):
        progressed = eng.run_round()
        actual = _live_counts(eng)
        for name, st in eng.sites.items():
            assert st.frontier_rows is not None
            assert st.frontier_rows == actual.get(name, 0), \
                f"{name}: tracked {st.frontier_rows} != {actual.get(name, 0)}"
        if not progressed:
            break
    assert not any(s.active for s in eng.sites.values())
    # drained crawl: every tracked size is exactly zero
    assert all(s.frontier_rows == 0 for s in eng.sites.values())


def test_legacy_state_without_frontier_rows_resumes(spark, tmp_path):
    """A checkpoint whose state predates ``frontier_rows`` resumes with
    the field unknown (None), keeps the budget-only bounds, and
    completes with a crawl_log identical to an uninterrupted run."""
    ship_package(spark)
    fx, paths = _web(tmp_path)
    cfg = dict(round_budget=6, shuffle_partitions=4)

    full = CrawlEngine(spark, str(tmp_path / "full"), paths["pages"],
                       fx.seeds, fx.robots, CrawlConfig(**cfg),
                       initial_url_seen=fx.url_seen)
    full.run(max_rounds=300)
    want = sorted(map(tuple, full.catalog.read("crawl_log")
                      .select("site", "round", "pos_in_round", "url",
                              "counter", "action").collect()))

    part = CrawlEngine(spark, str(tmp_path / "part"), paths["pages"],
                       fx.seeds, fx.robots, CrawlConfig(**cfg),
                       initial_url_seen=fx.url_seen)
    part.run(max_rounds=2)
    # strip the round-6 field from the committed state, as a pre-round-6
    # checkpoint would have written it
    mpath = os.path.join(str(tmp_path / "part"), "manifest.json")
    with open(mpath) as f:
        manifest = json.load(f)
    for site_state in manifest["state"]["sites"].values():
        site_state.pop("frontier_rows")
    with open(mpath, "w") as f:
        json.dump(manifest, f)

    resumed = CrawlEngine(spark, str(tmp_path / "part"), paths["pages"],
                          fx.seeds, fx.robots, CrawlConfig(**cfg),
                          initial_url_seen=fx.url_seen)
    assert all(s.frontier_rows is None for s in resumed.sites.values())
    resumed.run(max_rounds=300)
    got = sorted(map(tuple, resumed.catalog.read("crawl_log")
                     .select("site", "round", "pos_in_round", "url",
                             "counter", "action").collect()))
    assert got == want


def _spy_selection_kicks(eng) -> dict[int, bool]:
    """Per round number: did selection take the stats-skip path? Only
    that path kicks the admission frame from inside ``_select_pops``
    (the fetch kick comes later, in ``_execute_round``)."""
    kicks: list[int] = []
    skipped: dict[int, bool] = {}
    kick, select = eng._kick, eng._select_pops

    def spy_kick(rnd, df):
        kicks.append(rnd.no)
        return kick(rnd, df)

    def spy_select(rnd, budgets):
        n = len(kicks)
        try:
            return select(rnd, budgets)
        finally:
            skipped[rnd.no] = len(kicks) > n

    eng._kick, eng._select_pops = spy_kick, spy_select
    return skipped


def _oracle(fx, budget, max_rounds=None):
    return {s["site"]: crawl_site(fx, s, batch_size=budget,
                                  max_rounds=max_rounds)
            for s in fx.seeds}


def test_escalation_stats_skip_is_row_identical(spark, tmp_path):
    """With tracked sizes under ``prefix_k`` the escalation stats
    collect is skipped in every round, and the crawl still equals the
    sequential oracle."""
    ship_package(spark)
    fx, paths = _web(tmp_path)
    eng = CrawlEngine(spark, str(tmp_path / "cat"), paths["pages"],
                      fx.seeds, fx.robots,
                      CrawlConfig(round_budget=6, shuffle_partitions=4),
                      initial_url_seen=fx.url_seen)
    skipped = _spy_selection_kicks(eng)
    eng.run(max_rounds=300)
    assert skipped and all(skipped.values())
    _assert_equivalent(eng, _oracle(fx, 6))


def test_escalation_stats_collected_when_frontier_fills_prefix(spark,
                                                               tmp_path):
    """Once a site's tracked frontier reaches ``prefix_k`` (escalation
    becomes possible) the stats collect runs again, and the crawl
    still equals the oracle stopped at the same round."""
    ship_package(spark)
    fx, paths = _web(tmp_path, seed=29, n_sites=1, pages_per_site=150,
                     fanout=(30, 40))
    budget = 2
    prefix_k = budget * 8 + 64
    eng = CrawlEngine(spark, str(tmp_path / "cat"), paths["pages"],
                      fx.seeds, fx.robots,
                      CrawlConfig(round_budget=budget, shuffle_partitions=4),
                      initial_url_seen=fx.url_seen)
    skipped = _spy_selection_kicks(eng)
    full: dict[int, bool] = {}
    for _ in range(4):
        full[eng.round_no] = any(st.frontier_rows >= prefix_k
                                 for st in eng.sites.values())
        eng.run_round()
    assert any(full.values()) and not all(full.values())
    for no, is_full in full.items():
        assert skipped[no] == (not is_full), f"round {no}"
    _assert_equivalent(eng, _oracle(fx, budget, max_rounds=eng.round_no))


def test_cogroup_bloom_keeps_bits_while_probe_skipped(spark, tmp_path):
    """In cogroup mode the per-round Bloom delta is OR-merged into the
    committed bitmaps even in rounds that skip the probe (small
    visited table), so once the probe starts it never reports a
    visited URL as new."""
    ship_package(spark)
    fx, paths = _web(tmp_path)
    eng = CrawlEngine(spark, str(tmp_path / "cat"), paths["pages"],
                      fx.seeds, fx.robots,
                      CrawlConfig(round_budget=6, shuffle_partitions=4,
                                  bloom_probe_mode="cogroup"),
                      initial_url_seen=fx.url_seen)
    eng.run(max_rounds=4)
    assert eng.catalog.table_bytes("visited") < eng.cfg.prune_min_bytes
    bloom = PartitionedBloom(eng._bloom.num_partitions, eng._bloom.bits,
                             eng._bloom.k)
    for r in eng._bloom_latest().collect():
        bloom.parts[r["pid"]] = np.frombuffer(r["bits"], dtype=np.uint8)
    hashes = np.array([r[0] for r in eng.visited().select(
        url_hash_col(F.col("url"))).collect()], dtype=np.int64)
    assert len(hashes) > 4
    assert bloom.might_contain(hashes).all()


def test_candidate_prefix_small_is_row_identical(spark):
    """``small=True`` must return exactly the two-phase prefix's rows
    (it only skips the pre-pruning passes)."""
    ship_package(spark)
    rows = [
        {"site": f"s{i % 3}", "url": f"u{i}", "host": "h",
         "depth": i % 4, "counter": i}
        for i in range(200)
    ]
    frontier = spark.createDataFrame(rows)
    for k in (1, 7, 50, 300):
        a = sorted(map(tuple, candidate_prefix(frontier, k).collect()))
        b = sorted(map(tuple,
                       candidate_prefix(frontier, k, small=True).collect()))
        assert a == b, f"prefix_k={k} diverges"
