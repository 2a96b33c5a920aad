"""A round that fails after submitting its background jobs (staged
writes, collects, noop kicks) must settle them before it releases the
frames they read: no Spark job outlives ``run_round``. Nothing of the
failed round is committed, so a reopened engine resumes from the last
committed round and finishes equal to the oracle. A failing advisory
noop kick is logged and never aborts a round."""

from __future__ import annotations

import logging

import pytest
from test_engine_equivalence import _assert_equivalent

from meilisearchcrawler_spark.config import CrawlConfig
from meilisearchcrawler_spark.engine.crawler import CrawlEngine
from meilisearchcrawler_spark.fixtures.webgen import generate_web, write_parquet
from meilisearchcrawler_spark.oracle.refcrawler import crawl_site
from meilisearchcrawler_spark.session import ship_package


def test_mid_round_abort_settles_jobs_and_resumes(spark, tmp_path, caplog):
    ship_package(spark)
    fx = generate_web(seed=31, n_sites=2, pages_per_site=24)
    paths = write_parquet(fx, str(tmp_path / "web"))
    root = str(tmp_path / "cat")
    cfg = CrawlConfig(round_budget=3, shuffle_partitions=4)
    eng = CrawlEngine(spark, root, paths["pages"], fx.seeds, fx.robots, cfg,
                      initial_url_seen=fx.url_seen)
    eng.run(max_rounds=2)

    submitted: list[int] = []

    def failing_dedup(rnd, links, popped):
        submitted.append(len(rnd.jobs))
        raise RuntimeError("injected link-dedup failure")

    eng._dedup_links = failing_dedup
    with pytest.raises(RuntimeError, match="injected"):
        eng.run_round()
    # the round failed after its writes, collects and kicks went out
    assert submitted and submitted[0] >= 8
    sc = spark.sparkContext
    # job-end events reach the status store through the listener bus;
    # drain it so a job still running is the only way to show as active
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getActiveJobsIds()) == []
    assert eng.catalog.committed_round == 1

    resumed = CrawlEngine(spark, root, paths["pages"], fx.seeds, fx.robots,
                          cfg)
    assert resumed.round_no == 2
    kick = resumed._kick

    def failing_kick(rnd, df):
        if rnd.no == 2:
            def fail():
                raise RuntimeError("injected kick failure")
            resumed._submit(rnd, fail, advisory=True)
        else:
            kick(rnd, df)

    resumed._kick = failing_kick
    with caplog.at_level(logging.WARNING,
                         logger="meilisearchcrawler_spark.engine.crawler"):
        resumed.run(max_rounds=300)
    assert "noop kick failed" in caplog.text
    assert "injected kick failure" in caplog.text
    assert not any(s.active for s in resumed.sites.values())
    oracle = {s["site"]: crawl_site(fx, s, batch_size=3) for s in fx.seeds}
    _assert_equivalent(resumed, oracle)
