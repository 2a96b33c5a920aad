#!/usr/bin/env python
"""Decompose the per-round FIXED driver cost (round-4 verdict #3).

ROUND4.md measured ~10-12 s/round of size-independent driver cost,
~3 s each at the three lineage cuts. Hypothesis under test: with AQE
enabled, ``Dataset.localCheckpoint(eager=False)`` is NOT lazy —
``physicalPlan.execute()`` on an ``AdaptiveSparkPlanExec`` triggers
``getFinalPhysicalPlan``, which synchronously materializes every
upstream exchange as its own query stage (submit → wait → replan per
exchange). At toy round sizes that is pure scheduling overhead; the
work would pipeline into one job if the plan compiled non-adaptively.

Variants, interleaved in one session (both runtime-settable):
  aqe_cut     current behavior — cuts compile with AQE on
  static_cut  cuts compile with AQE off + shuffle width derived from
              the round's row bound (the engine's AQE-coalescing
              substitute for bounded round frames)

Reports per-cut blocking time and full toy-crawl wall per variant.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from meilisearchcrawler_spark.engine import crawler as crawler_mod  # noqa: E402
from meilisearchcrawler_spark.engine.bench_crawl import crawl_throughput  # noqa: E402
from meilisearchcrawler_spark.session import get_spark  # noqa: E402

REPEAT = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "5"))

CUT_TIMES: list[float] = []
_ORIG_CUT = crawler_mod.CrawlEngine._cut
_ORIG_LATENCY = crawler_mod.CrawlEngine._latency_mode
MODE = {"static": False}
POP_BOUND = {"rows": 1}


def noting_latency(self, rnd):
    # the round's popped-row bound, for the static cut width below
    POP_BOUND["rows"] = rnd.pop_bound
    return _ORIG_LATENCY(self, rnd)


def timed_cut(self, df):
    t0 = time.perf_counter()
    if MODE["static"]:
        sp = self.spark
        old_aqe = sp.conf.get("spark.sql.adaptive.enabled")
        old_sp = sp.conf.get("spark.sql.shuffle.partitions")
        bound = POP_BOUND["rows"] or 1
        width = max(1, min(int(old_sp), bound // 4000 + 1))
        sp.conf.set("spark.sql.adaptive.enabled", "false")
        sp.conf.set("spark.sql.shuffle.partitions", str(width))
        try:
            out = df.localCheckpoint(eager=False)
        finally:
            sp.conf.set("spark.sql.adaptive.enabled", old_aqe)
            sp.conf.set("spark.sql.shuffle.partitions", old_sp)
    else:
        out = _ORIG_CUT(self, df)
    CUT_TIMES.append(time.perf_counter() - t0)
    return out


def main() -> None:
    crawler_mod.CrawlEngine._cut = timed_cut
    crawler_mod.CrawlEngine._latency_mode = noting_latency
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(master=f"local[{cpus}]",
                      shuffle_partitions=max(int(cpus), 8),
                      app_name="mcspark-roundcost")
    spark.sparkContext.setLogLevel("ERROR")

    crawl_throughput(spark)  # warm (fixture + JIT)

    res = {"aqe_cut": {"crawl": [], "cuts": []},
           "static_cut": {"crawl": [], "cuts": []}}
    for rep in range(REPEAT):
        for name in ("aqe_cut", "static_cut"):
            MODE["static"] = name == "static_cut"
            CUT_TIMES.clear()
            t0 = time.perf_counter()
            r = crawl_throughput(spark)
            wall = time.perf_counter() - t0
            res[name]["crawl"].append(round(wall, 2))
            res[name]["cuts"].append(round(sum(CUT_TIMES), 2))
            print(f"# rep{rep} {name}: crawl {wall:.1f}s "
                  f"cut_total {sum(CUT_TIMES):.1f}s over "
                  f"{len(CUT_TIMES)} cuts / {r['rounds']} rounds "
                  f"(per-cut {[round(t, 2) for t in CUT_TIMES[:12]]}...)",
                  file=sys.stderr)

    out = {}
    for name, d in res.items():
        out[name] = {
            "crawl_median": round(statistics.median(d["crawl"]), 2),
            "cut_total_median": round(statistics.median(d["cuts"]), 2),
            "crawl_runs": d["crawl"], "cut_runs": d["cuts"]}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
