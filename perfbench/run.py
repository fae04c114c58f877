"""warps-nutch-spark benchmark: crawl_discover, crawl_deep_frontier and
query_suite on one local[nproc] Spark session, closed loop, one client.

    python3 perfbench/run.py --workload crawl_discover --seed 1 \
        --seconds 10 --trace 0 [--size full|smoke]

Run from the repository root. Inputs are generated from ``--seed``;
the program sees only the generated seed file or tables. ``--trace 0``
measures the end-to-end metrics with tracing off, after one checked but
untimed warm-up episode (crawl) or pass (query_suite); ``--trace 1`` is the
separate traced run that gives the per-layer metrics and the tracing
overhead. The metric names and units come from BENCHMARK.json; what
each one means, per workload, is in perfbench/layers.json.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it carries the details (box,
noise probe, per-unit walls, check failures). Spans of a traced run are
written to .perfbench_work/traces/. Everything the run writes stays
under .perfbench_work/ in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_discover", "crawl_deep_frontier", "query_suite")
# per-layer metric prefixes of the layers each kind of workload bypasses;
# a traced run reports 0 for them
CRAWL_LAYERS = ("round.", "inject.", "generate.", "fetch.", "parse.", "updatedb.", "frontier.", "urlseen.")
BYPASSED = {"crawl": ("queries.",), "query_suite": CRAWL_LAYERS}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes (temp files, the JVM's temp dir,
    Spark scratch) inside ``work``; single-threaded BLAS in the Python
    workers, as bench.py does."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    sys.path[:0] = [ROOT, HERE]


def box() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return {"nproc": nproc, "ram_gb": mem_kb / 2**20}


def box_noise() -> dict:
    """ROADMAP box_noise probe: 1-minute load average and a 1-thread
    numpy matmul wall. Recorded only."""
    import numpy as np

    rng = np.random.default_rng(0)
    a, b = rng.random((800, 800)), rng.random((800, 800))
    a @ b
    t0 = time.perf_counter()
    for _ in range(3):
        a @ b
    return {"load_avg_1m": os.getloadavg()[0], "matmul_1t_s": time.perf_counter() - t0}


def build_session(work: str, nproc: int, ram_gb: float, trace: bool):
    from pyspark.sql import SparkSession

    # driver heap: a quarter of RAM, at most 2 GB (bench.py's 24g
    # exceeds small boxes; the workloads' data is a few MB)
    driver_gb = max(1, min(2, int(ram_gb // 4)))
    b = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_gb}g")
        .config("spark.sql.shuffle.partitions", str(2 * nproc))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            # a pre-touched fixed-size heap keeps the JVM's resident set
            # independent of when the collector grows the heap
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            f" -Xms{driver_gb}g -XX:+AlwaysPreTouch",
        )
    )
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{log_dir}")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    from warps_nutch_spark.queries import ensure_worker_imports

    ensure_worker_imports(spark)
    # start the Python workers and their pandas/pyarrow imports now, so
    # the first timed pandas-UDF stage does not carry them
    spark.range(0, nproc, 1, nproc).mapInPandas(lambda it: it, "id long").count()
    return spark, driver_gb


def stop_session(spark) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and
    wait until the JVM and every Python worker under it have ended."""
    from procmem import tree_pids

    proc = getattr(spark.sparkContext._gateway, "proc", None)
    pids = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# -- workloads ---------------------------------------------------------
# Nominal walls of a warm crawl episode and a warm query pass on 4 cores.
# A run measures as many units as cover --seconds at these walls, so the
# count follows --seconds alone: a fast box would otherwise also measure
# more, and later (warmer, faster) units than a slow one, which widens
# the run-to-run spread.
EPISODE_S = 15.0
PASS_S = 10.0


def units(seconds: float, unit_s: float) -> int:
    return max(1, round(seconds / unit_s))


def run_crawl(spark, args, work: str, nproc: int, tracer) -> dict:
    from crawl import CrawlRun, summarize

    run = CrawlRun(spark, work, args.workload, args.size, args.seed, nproc)
    setup_walls, drv = run.setups()
    details = {"seed_urls": run.n_seeds, "web": run.web_params, "setup_walls": setup_walls}
    if tracer is None:
        # warm-up episode: a session's first round carries the JIT and
        # plan-compilation cost of every stage; it is checked, not measured
        warmup = run.crawl(drv)
        run.check(drv, warmup)
        details["warmup_walls"] = [x["wall"] for x in warmup]
        # closed loop: measured episodes on fresh set-ups, as many as
        # cover --seconds at the nominal episode wall; each set-up adds a
        # set-up sample
        episodes = []
        for _ in range(units(args.seconds, EPISODE_S) if warmup else 0):
            shutil.rmtree(drv.workdir, ignore_errors=True)
            t0 = time.perf_counter()
            drv = run.setup()
            setup_walls.append(time.perf_counter() - t0)
            rounds = run.crawl(drv)
            run.check(drv, rounds)
            if len(rounds) < run.shape.rounds:
                break
            episodes.append(rounds)
        details["episodes"] = episodes
        metrics = summarize(episodes, setup_walls) if episodes else {}
        return {"run": run, "metrics": metrics, "details": details}

    # traced run: the traced episode first (its busy probes absorb the
    # session's first-execution cost), then an untraced episode on a
    # fresh set-up as the overhead reference
    layer = run.inject_busy(drv, tracer)
    with tracer.span("episode:traced"):
        traced = run.traced_crawl(drv, tracer)
    shutil.rmtree(drv.workdir, ignore_errors=True)
    drv = run.setup()
    with tracer.span("episode:untraced"):
        rounds = run.crawl(drv)
    run.check(drv, rounds)
    untraced = sum(x["wall"] for x in rounds)
    # the traced episode's counts must match the untraced one's
    want = [(x["fetched"], x["updated"]) for x in rounds]
    run._check("traced_counts", traced["counts"] == want, f"{traced['counts']} != {want}")
    layer.update(traced["metrics"])
    layer["trace.overhead_s"] = traced["traced_wall"] - untraced
    layer["trace.overhead_ratio"] = layer["trace.overhead_s"] / untraced
    details.update(untraced_wall=untraced, traced_wall=traced["traced_wall"])
    windows = traced["round_windows"]

    def after_stop(events) -> dict:
        n = len(windows)
        sums = [events.totals(a, b) for a, b in windows]
        return {
            "round.shuffle_write_mb": sum(s[0] for s in sums) / n / 2**20,
            "round.spill_mb": sum(s[1] for s in sums) / n / 2**20,
        }

    return {"run": run, "metrics": layer, "details": details, "after_stop": after_stop}


def run_queries(spark, args, work: str, nproc: int, tracer) -> dict:
    from suite import FAMILIES, LEAVES, QuerySuite

    qs = QuerySuite(spark, work, args.seed, args.size)
    setup_walls = qs.setup()
    details = {"setup_walls": setup_walls, "oracle_rows": qs.expected}
    if tracer is None:
        # warm-up pass: a leaf's first execution in the session carries
        # its JIT and plan-compilation cost; it is checked, not measured
        details["warmup_s"] = qs.run_pass()
        samples: dict[str, list[float]] = {n: [] for n in LEAVES}
        pass_s: list[float] = []
        for _ in range(units(args.seconds, PASS_S)):
            walls = qs.run_pass()
            for name, wall in walls.items():
                samples[name].append(wall)
            pass_s.append(sum(walls.values()))
        med = {n: statistics.median(v) for n, v in samples.items() if v}
        details.update(pass_s=pass_s, leaf_median_s=med)
        metrics = {}
        if len(med) == len(LEAVES):
            metrics = {
                "throughput_per_s": len(med) / sum(med.values()),
                "unit_max_s": max(med.values()),
                "unit_geomean_s": statistics.geometric_mean(med.values()),
                "setup_s": statistics.median(setup_walls),
            }
        return {"run": qs, "metrics": metrics, "details": details}

    with tracer.span("pass:untraced"):
        untraced = qs.run_pass()
    with tracer.span("pass:traced"):
        traced = qs.run_pass(tracer=tracer)
    with tracer.span("pass:noop"):
        noop = qs.run_pass(sink="noop")
    leaf_spans = [s for s in tracer.spans if s["name"].startswith("leaf:")]
    layer = {f"queries.{f}_s": sum(w for n, w in traced.items() if LEAVES[n] == f) for f in FAMILIES}
    layer["queries.noop_s"] = sum(noop.values())
    layer["queries.jobs"] = sum(s["jobs"] for s in leaf_spans)
    layer["queries.tasks"] = sum(s["tasks"] for s in leaf_spans)
    t_traced = sum(tracer.wall(s) for s in leaf_spans)
    t_untraced = sum(untraced.values())
    layer["trace.overhead_s"] = t_traced - t_untraced
    layer["trace.overhead_ratio"] = layer["trace.overhead_s"] / t_untraced
    details.update(leaf_traced_s=traced, leaf_noop_s=noop)
    return {"run": qs, "metrics": layer, "details": details}


def main(argv=None) -> int:
    args = parse_args(argv)
    out_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(out_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        return _main(args, out_root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _main(args, out_root: str, work: str) -> int:
    prepare_env(work)
    import warps_nutch_spark  # noqa: F401  (fails fast outside a checkout)
    import pyspark

    from procmem import PeakRss
    from tracing import EventLogTotals, Tracer

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    info = box()
    noise_pre = box_noise()
    with PeakRss() as mem:
        t0 = time.perf_counter()
        spark, driver_gb = build_session(work, info["nproc"], info["ram_gb"], args.trace)
        session_s = time.perf_counter() - t0
        info.update(
            driver_gb=driver_gb,
            pyspark=pyspark.__version__,
            java=spark.sparkContext._jvm.System.getProperty("java.version"),
            session_s=session_s,
        )
        tracer = Tracer(spark) if args.trace else None
        fn = run_queries if args.workload == "query_suite" else run_crawl
        try:
            res = fn(spark, args, work, info["nproc"], tracer)
        finally:
            stop_session(spark)
    noise_post = box_noise()

    metrics = dict(res["metrics"])
    if args.trace:
        metrics.update(res.get("after_stop", lambda _ev: {})(EventLogTotals(os.path.join(work, "eventlog"))))
        skip = BYPASSED["query_suite" if args.workload == "query_suite" else "crawl"]
        metrics.update({m["name"]: 0.0 for m in wanted if m["name"].startswith(skip)})
        os.makedirs(os.path.join(out_root, "traces"), exist_ok=True)
        tracer.dump(os.path.join(out_root, "traces", f"{args.workload}-seed{args.seed}.json"))
    else:
        metrics["peak_rss_mb"] = mem.peak_mb
    run = res["run"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        run.attempted += 1
        run.failed += 1
        run.errors.append(f"metrics not measured: {missing}")
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "box": info,
        "box_noise": {"pre": noise_pre, "post": noise_post},
        "peak_rss_mb": mem.peak_mb,
        "errors": run.errors,
        **res["details"],
    }
    print(json.dumps(details, default=str))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted if m["name"] in metrics
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
