#!/usr/bin/env python3
"""Layered benchmark: one workload per run, end to end or traced.

    python3 perfbench/run.py --workload crawl-polite --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 1

Run from the repository root. Spark runs as ``local[nproc]`` with one
shuffle partition per core and a driver heap of a quarter of the box's
RAM (1-4 GB). Every temporary file (fixtures, catalogs, Spark local
dirs, the event log) lives under ``.perfbench_work/`` and is deleted
when the run ends; the full report of each run is kept as
``.perfbench_work/results/<workload>-seed<seed>-trace<t>.json``.

``--trace 0`` times the workload untraced and prints the end-to-end
metrics. ``--trace 1`` wraps the engine's phase methods and the
catalog's stage, read and commit methods, turns on the Spark event log,
runs the workload and then the single-layer probes (``probes.py``: a
compacting crawl round, one query pass on ``crawl-polite``, and the
kernel, Bloom, top-K, fetch and image probes), and prints the
per-layer metrics. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0
only when every correctness check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl-polite", "index-queries")
CRAWL_PHASES = ("select_pops", "execute_round", "dedup_links", "compact")
CATALOG_GROUPS = {"stage": ("stage", "stage_rows"),
                  "read": ("read", "read_split", "read_since"),
                  "commit_round": ("commit_round",)}


def _box() -> tuple[int, int]:
    cores = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return cores, ram


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _start_spark(work: str, cores: int, ram: int, trace: bool):
    """Session sized to the box; all Spark and JVM scratch under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata file: the JVM writes it to /tmp whatever the tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # static confs must reach spark-submit: the session builder of
    # get_spark keeps its own options
    confs = ["spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        confs += ["spark.eventLog.enabled=true",
                  f"spark.eventLog.dir=file://{log_dir}",
                  "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {c}" for c in confs) + " pyspark-shell"

    from meilisearchcrawler_spark.session import get_spark

    heap_gb = max(1, min(4, ram // 4 // 2**30))
    spark = get_spark(master=f"local[{cores}]", shuffle_partitions=cores,
                      app_name="perfbench", driver_memory=f"{heap_gb}g")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _crawl_layers(res: dict, tracer, events, cores: int) -> dict:
    """Per-round medians of phase spans, catalog calls and Spark counts
    over the timed rounds of one crawl result."""
    from perfbench.spans import spark_window

    per_round = []
    for r in res["rounds"]:
        spans = tracer.within(r["t0"], r["t1"])
        by = {}
        for s in spans:
            by.setdefault(s.name, []).append(s.dur)
        row = {p: sum(by.get(f"crawler.{p}", [])) for p in CRAWL_PHASES}
        row["remainder"] = r["wall_s"] - row["select_pops"] \
            - row["execute_round"] - row["compact"]
        for g, names in CATALOG_GROUPS.items():
            ds = [d for n in names for d in by.get(f"catalog.{n}", [])]
            row[f"{g}_calls"], row[f"{g}_s"] = len(ds), sum(ds)
        row.update(files=r["files"], bytes=r["bytes"], wall_s=r["wall_s"])
        sw = spark_window(events, r["t0"], r["t1"], cores)
        row.update(jobs=sw["jobs"], stages=sw["stages"], tasks=sw["tasks"])
        per_round.append(row)
    res["per_round_trace"] = per_round

    def med(k):
        return statistics.median(row[k] for row in per_round)

    return {
        "crawler.select_pops_s": med("select_pops"),
        "crawler.execute_round_s": med("execute_round"),
        "crawler.dedup_links_s": med("dedup_links"),
        "crawler.round_remainder_s": med("remainder"),
        "crawler.jobs_per_round": med("jobs"),
        "crawler.stages_per_round": med("stages"),
        "crawler.tasks_per_round": med("tasks"),
        "catalog.stage_calls_per_round": med("stage_calls"),
        "catalog.stage_s": med("stage_s"),
        "catalog.read_calls_per_round": med("read_calls"),
        "catalog.read_s": med("read_s"),
        "catalog.commit_round_s": med("commit_round_s"),
        "catalog.bytes_per_round": med("bytes"),
        "catalog.files_per_round": med("files"),
        "crawler.resume_s": statistics.median(res["resume_s"]),
    }


def _index_layers(res: dict) -> dict:
    from perfbench import index

    out = {f"query.{q}_s": statistics.median(s["query_s"][q]
                                             for s in res["steps"])
           for q in index.HEADLINE}
    out["query.open_s"] = statistics.median(res["open_s"])
    return out


def _window(res: dict) -> tuple[float, float]:
    samples = res.get("rounds") or res["steps"]
    return samples[0]["t0"], samples[-1]["t1"]


def measure(workload: str, seed: int, seconds: float, trace: bool,
            work: str) -> dict:
    cores, ram = _box()
    ticks0 = _cpu_ticks()
    t0 = time.perf_counter()
    spark = _start_spark(work, cores, ram, trace)
    session_s = time.perf_counter() - t0

    from perfbench import crawl, index, probes
    from perfbench.spans import Tracer, read_event_log, spark_window

    mods = {"crawl-polite": crawl, "index-queries": index}
    tracer = Tracer() if trace else None
    report = {"workload": workload, "seed": seed, "seconds": seconds,
              "trace": int(trace), "nproc": cores,
              "ram_gb": round(ram / 2**30, 1), "session_s": session_s}
    try:
        if tracer:
            tracer.install()
        res = mods[workload].run(spark, seed, seconds, work, cores, tracer)
        report["run"] = res
        layers: dict = {}
        if trace:
            # the layers this workload does not touch get one probe
            # sample each, so every layer is measured on every workload;
            # the probe round compacts, no crawl-polite round does
            compacting = probes.crawl_round(spark, seed, work, cores)
            side = (probes.query_pass(spark, seed, work)
                    if workload == "crawl-polite" else compacting)
            pages, robots = probes.fixture_pages(seed)
            layers.update(probes.kernels(pages, robots))
            layers.update(probes.bloom(seed))
            layers.update(probes.fetch_stage(
                spark, seed, cores, layers["functions.parse_pages_per_s"]))
            layers.update(probes.topk(spark, seed, cores))
            image_rate, image_problems = probes.image_stage(
                spark, seed, work, cores)
            layers.update(image_rate)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_mb = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(int(jvm_pid))
    finally:
        if tracer:
            tracer.uninstall()
        _stop_spark(spark)

    # share of the box's CPU time the hypervisor gave to other guests
    # during the run: a high value marks a run measured under contention
    ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    report["cpu_steal_frac"] = ticks[7] / max(sum(ticks), 1)
    e2e = dict(res["end_to_end"])
    e2e["setup_s"] += session_s
    report["end_to_end"] = e2e
    report["peak_rss_mb"] = peak_mb
    problems = list(res["problems"])
    attempted, failed = res["attempted"], res["failed"]
    if trace:
        problems += image_problems
        attempted += 1
        failed += len(image_problems)
        layers["spark.peak_rss_mb"] = peak_mb
        events = read_event_log(os.path.join(work, "eventlog"))
        crawl_res, index_res = ((res, side) if workload == "crawl-polite"
                                else (side, res))
        layers.update(_crawl_layers(crawl_res, tracer, events, cores))
        probe = compacting["rounds"][0]
        layers["crawler.compact_s"] = sum(
            s.dur for s in tracer.within(probe["t0"], probe["t1"])
            if s.name == "crawler.compact")
        report["crawl_rounds_trace"] = crawl_res["per_round_trace"]
        layers.update(_index_layers(index_res))
        w0, w1 = _window(res)
        sw = spark_window(events, w0, w1, cores)
        layers.update({
            "spark.executor_run_s": sw["run_s"],
            "spark.executor_cpu_s": sw["cpu_s"],
            "spark.gc_s": sw["gc_s"],
            "spark.shuffle_read_bytes": sw["shuffle_read_bytes"],
            "spark.shuffle_write_bytes": sw["shuffle_write_bytes"],
            "spark.spill_bytes": sw["spill_bytes"],
            "spark.failed_tasks": sw["failed"],
            "spark.executor_busy_frac": sw["busy_frac"],
        })
        # the same Spark sums per phase span, for the report only
        phases: dict = {}
        for s in tracer.spans:
            if w0 <= s.start <= w1 and s.parent is None:
                agg = phases.setdefault(s.name, {"spans": 0, "wall_s": 0.0})
                agg["spans"] += 1
                agg["wall_s"] += s.dur
                for k, v in spark_window(events, s.start, s.end,
                                         cores).items():
                    if k != "busy_frac":
                        agg[k] = agg.get(k, 0) + v
        for agg in phases.values():
            agg["busy_frac"] = agg["run_s"] / (cores * max(agg["wall_s"],
                                                           1e-9))
        report["spark_by_span"] = phases
        report["per_layer"] = layers
    report["problems"] = problems
    report["attempted"], report["failed"] = attempted, failed
    return report


def _print_report(rep: dict, out) -> None:
    e = rep["end_to_end"]
    run = rep["run"]
    p = lambda *a: print(*a, file=out)  # noqa: E731
    p(f"# {rep['workload']} seed={rep['seed']} trace={rep['trace']} "
      f"nproc={rep['nproc']} ram={rep['ram_gb']}GB "
      f"session_start={rep['session_s']:.2f}s "
      f"cpu_steal={rep['cpu_steal_frac']:.3f}")
    p(f"#   set-up opens (run order): "
      f"{[round(x, 3) for x in run['setup_open_s']]}")
    if rep["workload"] == "crawl-polite":
        walls = [run["warm_round_s"]] + [r["wall_s"] for r in run["rounds"]]
        p(f"#   round walls (run order, warm-up first): "
          f"{[round(x, 3) for x in walls]}")
        p(f"#   round_s_p50={e['step_s_p50']:.3f} s "
          f"(n={len(run['rounds'])})  pages_per_s={run['pages_per_s']:.3f}  "
          f"resume_s={statistics.median(run['resume_s']):.3f} "
          f"(reopens {[round(x, 3) for x in run['resume_s']]})")
    else:
        walls = [s["queries_s"] for s in run["steps"]]
        p(f"#   query-pass walls (run order): "
          f"{[round(x, 3) for x in walls]}  warm pass {run['warm_step_s']:.3f}")
        p(f"#   queries_s={e['step_s_p50']:.3f} s (sum of query medians, "
          f"n={len(walls)})  open_s={statistics.median(run['open_s']):.3f} "
          f"(opens {[round(x, 3) for x in run['open_s']]})")
    failed_frac = rep["failed"] / max(rep["attempted"], 1)
    p(f"#   setup_s={e['setup_s']:.3f}  peak_rss_mb={rep['peak_rss_mb']:.0f}  "
      f"failed_frac={failed_frac:.3f} ({rep['failed']}/{rep['attempted']})")
    for row in rep.get("crawl_rounds_trace", []):
        p(f"#   round wall {row['wall_s']:.3f} = select_pops "
          f"{row['select_pops']:.3f} + execute_round {row['execute_round']:.3f}"
          f" (dedup_links {row['dedup_links']:.3f}) + compact "
          f"{row['compact']:.3f} + remainder {row['remainder']:.3f}; "
          f"jobs {row['jobs']} stages {row['stages']} tasks {row['tasks']}")
    for k, v in rep.get("per_layer", {}).items():
        p(f"#   {k} = {v:.6g}")
    if rep.get("overhead"):
        p(f"#   tracing overhead (traced - untraced): {rep['overhead']}")
    for prob in rep["problems"]:
        p(f"#   CHECK FAILED: {prob}")


def _run_all(args) -> int:
    code = 0
    for w in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        print(f"{w}: {lines[-1] if lines else ''}", flush=True)
        code = code or proc.returncode
    return code


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return _run_all(args)

    # the correctness checks reuse the comparisons of the test suite
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    try:
        import __spark_entry__  # noqa: F401
        import duckdb  # noqa: F401
        import meilisearchcrawler_spark  # noqa: F401
        import pyspark  # noqa: F401
        import test_engine_equivalence  # noqa: F401
        import test_entry_contract  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}",
              file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        rep = measure(args.workload, args.seed, args.seconds,
                      bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}")
    if args.trace:
        try:
            with open(f"{stem}-trace0.json") as f:
                plain = json.load(f)["end_to_end"]
            rep["overhead"] = {k: v - plain[k]
                               for k, v in rep["end_to_end"].items()
                               if k in plain}
        except FileNotFoundError:
            pass
    with open(f"{stem}-trace{args.trace}.json", "w") as f:
        json.dump(rep, f, indent=1, default=str)
    _print_report(rep, sys.stderr)

    metrics = rep["per_layer"] if args.trace else rep["end_to_end"]
    units = _units()
    correct = not rep["problems"]
    print(json.dumps({
        "correct": correct,
        "attempted": rep["attempted"],
        "failed": rep["failed"],
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
