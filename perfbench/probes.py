"""Single-layer probes for the traced run: kernel rates measured by
calling each layer directly, independent of the workload.

Every rate is work done divided by the wall time of a loop over a fixed,
seeded input; the Spark-side probes (fetch stage, top-K, image stage)
run one warm-up action first.
"""

from __future__ import annotations

import os
import time

import numpy as np

BLOOM_PARTS, BLOOM_BITS, BLOOM_K = 64, 1 << 17, 7  # the engine's geometry
BLOOM_KEYS_PER_BIT = 0.1                            # bloom_bits_per_key=10
FETCH_URLS = 4_000
TOPK_ROWS, TOPK_PREFIX = 200_000, 80
IMAGES, IMAGE_SOURCES = 400, 30


def _rate(n: int, fn) -> float:
    t0 = time.perf_counter()
    fn()
    return n / (time.perf_counter() - t0)


def kernels(pages_path: str, robots: list[dict]) -> dict:
    """Single-thread rates of the fetch_parse body's kernels over the
    pages of one generated web: parse (parse_page + clean_text + excerpt
    + hash, as fetch_parse runs them), URL normalization of the parsed
    links, robots admission, and page-store gets from a fresh store."""
    import pandas as pd
    import pyarrow.parquet as pq

    from meilisearchcrawler_spark.engine.pagestore import LazyPageStore
    from meilisearchcrawler_spark.functions import html as H
    from meilisearchcrawler_spark.functions import text as T
    from meilisearchcrawler_spark.functions.robots import robots_denied_udf
    from meilisearchcrawler_spark.functions.urls import normalize_url

    pages = pq.read_table(pages_path, columns=[
        "url", "html", "content_type", "site"]).to_pylist()
    pages = [p for p in pages if p["html"]
             and "text/html" in p["content_type"].lower()]
    seed_of = {p["site"]: p["url"].split("/", 3)[:3] for p in pages}
    links: list[str] = []

    def parse():
        for p in pages:
            seed = "/".join(seed_of[p["site"]]) + "/"
            parsed = H.parse_page(p["html"], p["url"], seed)
            content = T.clean_text(parsed.content_raw)
            excerpt = T.create_excerpt(content)
            T.get_content_hash(content, parsed.title, parsed.images, excerpt)
            links.extend(parsed.links)

    out = {"functions.parse_pages_per_s": _rate(len(pages), parse)}
    urls = links or [p["url"] for p in pages]
    out["functions.normalize_urls_per_s"] = _rate(
        len(urls), lambda: [normalize_url(u) for u in urls])

    from meilisearchcrawler_spark.engine.crawler import _robots_txt_of
    from meilisearchcrawler_spark.functions.urls import url_host

    rob = {r["host"]: r for r in robots}
    txt, allow = [], []
    for u in urls:
        r = rob.get(url_host(u))
        txt.append(_robots_txt_of(r) if r else None)
        allow.append(bool(r.get("fetch_fails")) if r else False)
    out["functions.robots_urls_per_s"] = _rate(len(urls), lambda: (
        robots_denied_udf.func(pd.Series(urls), pd.Series(txt),
                               pd.Series(allow))))

    store = LazyPageStore(pages_path)
    all_urls = [p["url"] for p in pages]
    out["pagestore.gets_per_s"] = _rate(
        len(all_urls), lambda: [store.get(u) for u in all_urls])
    return out


def bloom(seed: int) -> dict:
    """Delta build and probe rates of the Bloom kernels on one
    partition, and the false-positive rate of a filter at the engine's
    geometry loaded to its design density, on a disjoint unseen set."""
    from meilisearchcrawler_spark.engine.bloom import (
        PartitionedBloom,
        bitmap_delta,
        check_hashes,
    )

    rng = np.random.default_rng(seed)
    part_keys = int(BLOOM_BITS * BLOOM_KEYS_PER_BIT)
    h = rng.integers(-2**63, 2**63 - 1, part_keys * 8, dtype=np.int64)
    delta = np.zeros(BLOOM_BITS // 8, dtype=np.uint8)

    def build():
        for chunk in np.split(h, 8):
            delta[:] |= bitmap_delta(chunk, BLOOM_BITS, BLOOM_K)

    out = {"bloom.delta_hashes_per_s": _rate(len(h), build)}
    out["bloom.probe_hashes_per_s"] = _rate(
        len(h), lambda: check_hashes(h, delta, BLOOM_BITS, BLOOM_K))

    f = PartitionedBloom(BLOOM_PARTS, bits_per_partition=BLOOM_BITS,
                         num_hashes=BLOOM_K)
    seen = rng.integers(0, 2**62, BLOOM_PARTS * part_keys, dtype=np.int64)
    unseen = rng.integers(2**62, 2**63 - 1, 200_000, dtype=np.int64)
    pids = (seen.astype(np.uint64) % np.uint64(BLOOM_PARTS)).astype(np.int64)
    for pid in range(BLOOM_PARTS):
        f.or_delta(pid, bitmap_delta(seen[pids == pid], BLOOM_BITS,
                                     BLOOM_K).tobytes())
    out["bloom.fp_rate"] = float(f.might_contain(unseen).mean())
    return out


def fetch_stage(spark, seed: int, cores: int, parse_rate: float) -> dict:
    """``fetch_stage_throughput``: the engine's fetch_parse mapInPandas
    over ``FETCH_URLS`` admitted URLs, and its efficiency against the
    single-thread parse kernel on every core (the Arrow/pandas boundary
    share)."""
    from meilisearchcrawler_spark.engine.bench_crawl import (
        fetch_stage_throughput,
    )

    kw = dict(n_urls=FETCH_URLS, n_sites=4, pages_per_site=150,
              shuffle_partitions=cores, seed=seed)
    fetch_stage_throughput(spark, **kw)
    rate = fetch_stage_throughput(spark, **kw)["urls_per_sec"]
    return {"fetch.stage_urls_per_s": rate,
            "fetch.stage_efficiency": rate / (cores * parse_rate)}


def topk(spark, seed: int, cores: int) -> dict:
    """Rows per second of ``candidate_prefix`` (the per-site top-K
    selection) over a synthetic frontier."""
    from pyspark.sql import functions as F

    from meilisearchcrawler_spark.engine.crawler import candidate_prefix

    fr = (spark.range(TOPK_ROWS, numPartitions=cores)
          .select(F.concat(F.lit("site"), F.col("id") % 8).alias("site"),
                  F.concat(F.lit("http://h/p"), F.col("id")).alias("url"),
                  F.concat(F.lit("h"), F.col("id") % 97).alias("host"),
                  F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(5)).cast("int")
                  .alias("depth"),
                  F.col("id").alias("counter"))).cache()
    fr.count()

    def go():
        candidate_prefix(fr, TOPK_PREFIX).write.format("noop") \
            .mode("overwrite").save()

    go()
    rate = _rate(TOPK_ROWS, go)
    fr.unpersist()
    return {"crawler.topk_rows_per_s": rate}


def fixture_pages(seed: int):
    """Pages and robots of the web ``fetch_stage`` crawls (the bench
    fixture, cached in the temp directory the harness sets)."""
    from meilisearchcrawler_spark.engine.bench_crawl import bench_fixture

    fx, paths = bench_fixture(4, 150, seed, load_pages=False)
    return paths["pages"], fx.robots


def crawl_round(spark, seed: int, work: str, cores: int) -> dict:
    """One round of a small polite crawl that compacts in that round,
    then one reopen of the engine: gives every crawler phase, catalog call
    and the resume a sample on a workload that runs no crawl. Shaped like
    a crawl result."""
    from meilisearchcrawler_spark.config import CrawlConfig
    from meilisearchcrawler_spark.engine.crawler import CrawlEngine
    from meilisearchcrawler_spark.fixtures.webgen import (
        generate_web,
        write_parquet,
    )

    from .crawl import _drop, _walk

    fx = generate_web(seed=seed, n_sites=2, pages_per_site=12)
    d = os.path.join(work, "probe-crawl")
    paths = write_parquet(fx, os.path.join(d, "web"))
    root = os.path.join(d, "catalog")
    cfg = CrawlConfig(round_budget=2, shuffle_partitions=cores,
                      compact_every=1)
    eng = CrawlEngine(spark, root, paths["pages"], fx.seeds, fx.robots, cfg,
                      initial_url_seen=fx.url_seen)
    before = _walk(root)
    w0, t0 = time.time(), time.perf_counter()
    eng.run_round()
    rec = {"round": 0, "wall_s": time.perf_counter() - t0,
           "t0": w0, "t1": time.time()}
    after = _walk(root)
    new = {p: s for p, s in after.items() if before.get(p) != s}
    rec["files"], rec["bytes"] = len(new), sum(new.values())
    _drop(eng)
    t0 = time.perf_counter()
    CrawlEngine(spark, root, paths["pages"], fx.seeds, fx.robots, cfg,
                initial_url_seen=fx.url_seen)
    return {"rounds": [rec], "resume_s": [time.perf_counter() - t0]}


def query_pass(spark, seed: int, work: str) -> dict:
    """Open freshly generated tables and run one pass over the headline
    queries: gives the index open and every query a sample on a workload
    that runs no queries. Shaped like an index result."""
    from . import index

    data = os.path.join(work, "probe-index")
    index.generate_tables(seed, data)
    open_s = index._open(spark, data)
    return {"steps": [index._step(spark, data)[0]], "open_s": [open_s]}


def image_stage(spark, seed: int, work: str, cores: int) -> tuple[dict, list]:
    """Image URLs per second of the decode-and-verify stage
    (``operators.images.decode_and_verify``) over ``IMAGES`` rows that
    repeat the page images of a seeded web; every row must decode."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from meilisearchcrawler_spark.fixtures import imagegen as I
    from meilisearchcrawler_spark.fixtures.webgen import generate_web
    from meilisearchcrawler_spark.operators.images import decode_and_verify

    fx = generate_web(seed=seed, n_sites=4, pages_per_site=60)
    rows = I.generate_images(fx.page_images[:IMAGE_SOURCES], seed=seed)
    path = I.write_images_parquet(rows, os.path.join(work, "images.parquet"))
    base = (spark.read.parquet(path)
            .withColumn("iidx",
                        F.row_number().over(Window.orderBy("image_id")) - 1))
    df = (spark.range(IMAGES).repartition(cores * 2)
          .withColumn("iidx", (F.col("id") % len(rows)).cast("int"))
          .join(F.broadcast(base), "iidx").drop("id", "iidx"))

    def go():
        return decode_and_verify(df, truth_fn=I.pixels_for).select(
            F.count("*").alias("n"),
            F.sum(F.col("decode_ok").cast("int")).alias("ok")).collect()[0]

    go()
    t0 = time.perf_counter()
    r = go()
    rate = r["n"] / (time.perf_counter() - t0)
    problems = [] if r["n"] == r["ok"] == IMAGES else [
        f"image stage: {r['ok']}/{r['n']} of {IMAGES} images decoded"]
    return {"operators.image_urls_per_s": rate}, problems
