"""Crawl workloads: crawl_discover and crawl_deep_frontier.

One episode = a fresh work directory, ``RoundDriver.inject`` of the
seed file (the set-up), then ``rounds`` calls of ``run_round``. The
loop is closed: each round starts when the previous one returned.

The traced episode drives each round one stage per call through
``run_round(r, stop_after=...)`` and, before each stage commits, times
the layer's public function on the same inputs with a noop sink (the
stage's ``busy_s``).
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass

import numpy as np

from pyspark.sql import functions as F

from warps_nutch_spark.config import CrawlConfig
from warps_nutch_spark.operators import fetch as fetch_op
from warps_nutch_spark.operators import generate as gen_op
from warps_nutch_spark.operators import inject as inj_op
from warps_nutch_spark.operators import parse as parse_op
from warps_nutch_spark.operators import updatedb as upd_op
from warps_nutch_spark.plans.round import RoundDriver
from warps_nutch_spark.simweb import SimWeb, make_url


@dataclass(frozen=True)
class Shape:
    hosts: int
    pages_base: int
    seeds_per_host: int  # 0 = inject every page of the web
    rounds: int  # per episode
    max_per_host: int
    setups: int  # set-up repetitions per run; the last one is crawled


SHAPES = {
    "crawl_discover": {
        "full": Shape(200, 20, 4, 1, 200, 2),
        "smoke": Shape(12, 8, 1, 1, 200, 2),
    },
    "crawl_deep_frontier": {
        "full": Shape(100, 200, 0, 1, 1, 3),
        "smoke": Shape(10, 40, 0, 1, 1, 2),
    },
}

DEFAULT_SEED = 1
# per-round (fetched, updated) at DEFAULT_SEED; these are aggregate
# counts, independent of partitioning and core count
PINS = {
    ("crawl_discover", "full"): [(800, 1653)],
    ("crawl_discover", "smoke"): [(12, 38)],
    ("crawl_deep_frontier", "full"): [(100, 575)],
    ("crawl_deep_frontier", "smoke"): [(10, 42)],
}


def crawl_config(shape: Shape, nproc: int) -> CrawlConfig:
    """bench.py's crawl config, box-sized: bucket, Bloom and salt fan-out
    follow the core count (bench.py's values assume 32 cores). A
    compaction ratio of 1 makes a discovery round's merge compact the
    frontier, so the measured round carries one compaction."""
    return CrawlConfig(
        max_per_host=shape.max_per_host,
        crawl_delay_ms=1000,
        host_buckets=2 * nproc,
        bloom_partitions=nproc,
        bloom_capacity_per_partition=200_000,
        salt_factor=max(1, nproc // 4),
        frontier_compact_ratio=1.0,
    )


def make_inputs(seed: int, shape: Shape) -> tuple[tuple, list[str]]:
    """(SimWeb params, seed URLs) drawn from ``seed``: the seed fixes the
    web's behaviour and which pages of each host are seeds."""
    rng = random.Random(seed)
    web_params = (shape.hosts, shape.pages_base, rng.randrange(1, 2**31))
    web = SimWeb(*web_params)
    if shape.seeds_per_host == 0:
        return web_params, web.all_urls()["url"].tolist()
    hosts, pages = [], []
    for h in range(shape.hosts):
        pool = range(min(8, int(web.host_sizes[h])))
        for j in sorted(rng.sample(pool, min(shape.seeds_per_host, len(pool)))):
            hosts.append(h)
            pages.append(j)
    return web_params, list(make_url(np.array(hosts), np.array(pages)))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / 2**20


class CrawlRun:
    """Set-ups, episodes and output checks of one crawl workload run."""

    def __init__(self, spark, work_dir: str, workload: str, size: str, seed: int, nproc: int):
        self.spark = spark
        self.work_dir = work_dir
        self.shape = SHAPES[workload][size]
        self.pin = PINS[(workload, size)] if seed == DEFAULT_SEED else None
        self.cfg = crawl_config(self.shape, nproc)
        self.web_params, urls = make_inputs(seed, self.shape)
        self.seed_file = os.path.join(work_dir, "seeds.txt")
        with open(self.seed_file, "w") as f:
            f.write("\n".join(urls) + "\n")
        self.n_seeds = len(urls)
        self._episodes = 0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.first_counts: list[tuple[int, int]] | None = None

    # -- set-up -------------------------------------------------------
    def setup(self) -> RoundDriver:
        wd = os.path.join(self.work_dir, f"ep{self._episodes}")
        self._episodes += 1
        drv = RoundDriver(self.spark, wd, self.cfg, self.web_params)
        drv.inject(self.seed_file)
        return drv

    def setups(self) -> tuple[list[float], RoundDriver]:
        """Run the set-up ``shape.setups`` times in fresh directories and
        return (walls, the last driver), which the episode crawls."""
        walls, drv = [], None
        for _ in range(self.shape.setups):
            if drv is not None:
                shutil.rmtree(drv.workdir, ignore_errors=True)
            t0 = time.perf_counter()
            drv = self.setup()
            walls.append(time.perf_counter() - t0)
        return walls, drv

    # -- untraced episode ---------------------------------------------
    def crawl(self, drv: RoundDriver) -> list[dict]:
        """All rounds of one episode; each entry has wall, fetched, updated."""
        out = []
        for r in range(self.shape.rounds):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                st = drv.run_round(r)
            except Exception as e:  # a failed round ends the episode
                self.failed += 1
                self.errors.append(f"round {r}: {type(e).__name__}: {e}"[:300])
                break
            out.append({"wall": time.perf_counter() - t0, "fetched": st["fetched"], "updated": st["updated"]})
        return out

    # -- output checks ------------------------------------------------
    def _check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check {name} failed {detail}".strip())

    def _artifact(self, drv: RoundDriver, r: int, stage: str):
        # round artifacts live at rounds/<batch_id>/<stage>/data
        path = os.path.join(drv.workdir, "rounds", f"batch-{r:04d}", stage, "data")
        return self.spark.read.parquet(path)

    def check(self, drv: RoundDriver, rounds: list[dict]) -> None:
        counts = [(x["fetched"], x["updated"]) for x in rounds]
        if self.pin is not None:
            self._check("pinned_counts", counts == self.pin, f"{counts} != {self.pin}")
        elif self.first_counts is None:
            self.first_counts = counts
        else:
            self._check("repeatable_counts", counts == self.first_counts, f"{counts} != {self.first_counts}")
        self._check("all_rounds_ran", len(rounds) == self.shape.rounds)

        frontier = drv.store.read().select("url_hash")
        seen = drv.urlseen.maybe_seen(frontier, "url_hash")
        row = seen.agg(
            F.count("*").alias("rows"),
            F.countDistinct("url_hash").alias("keys"),
            F.sum((~F.col("maybe_seen")).cast("long")).alias("unseen"),
        ).collect()[0]
        self._check("frontier_keys_unique", row["rows"] == row["keys"], f"{row['rows']} rows, {row['keys']} keys")
        self._check("frontier_keys_seen", (row["unseen"] or 0) == 0, f"{row['unseen']} keys not in url-seen")

        fetched = None
        for r in range(len(rounds)):
            f = self._artifact(drv, r, "fetch").filter(F.col("fetched")).select(F.lit(r).alias("r"), "host")
            fetched = f if fetched is None else fetched.unionByName(f)
        per_host = {}
        if fetched is not None:
            per_host = {
                row["r"]: row["m"]
                for row in fetched.groupBy("r", "host").count().groupBy("r").agg(F.max("count").alias("m")).collect()
            }
        for r, res in enumerate(rounds):
            fl_rows = self._artifact(drv, r, "generate").count()
            self._check("fetched_le_fetchlist", res["fetched"] <= fl_rows, f"round {r}")
            self._check(
                "per_host_le_max", per_host.get(r, 0) <= self.cfg.max_per_host, f"round {r}: {per_host.get(r)}"
            )

    # -- traced episode -----------------------------------------------
    def traced_crawl(self, drv: RoundDriver, tracer) -> dict:
        """Rounds stage at a time with spans, busy probes and counts.
        Returns per-layer metrics (per-round means) and the traced wall
        (stage spans only, probes excluded)."""
        spark, cfg, store = self.spark, self.cfg, drv.store
        robots = spark.createDataFrame(SimWeb(*self.web_params).robots())
        acc: dict[str, float] = {}

        def add(key: str, v: float) -> None:
            acc[key] = acc.get(key, 0.0) + v

        def probe(name: str, fn) -> float:
            with tracer.span(f"probe:{name}") as sp:
                fn()
            return tracer.wall(sp)

        stage_spans, counts, round_windows = [], [], []
        base_versions = {ln["version"] for ln in store.lineage_chain()}
        for r in range(self.shape.rounds):
            batch = f"batch-{r:04d}"
            now = drv.round_now(r)
            snaps_before = set(os.listdir(store.path))
            with tracer.span(f"round:{r}") as rsp:
                chain = store.lineage_chain()
                last_base = max(ln["version"] for ln in chain if ln.get("kind", "base") == "base")
                add("frontier.delta_snapshots", sum(1 for ln in chain if ln["version"] > last_base))
                add("frontier.read_s", probe("frontier.read", lambda: _noop(store.read())))
                frontier_rows = store.read().count()
                add("frontier.rows", frontier_rows)
                add("generate.rows_in", frontier_rows)
                add(
                    "generate.busy_s",
                    probe(
                        "generate",
                        lambda: _noop(
                            gen_op.generate(
                                store.read(), cfg, now, batch, drv.unreachable_hosts(), current_round=r
                            )
                        ),
                    ),
                )
                for stage in ("generate", "fetch", "parse"):
                    if stage == "fetch":
                        fl = self._artifact(drv, r, "generate")
                        add(
                            "fetch.busy_s",
                            probe(
                                "fetch",
                                lambda: _noop(
                                    fetch_op.fetch(
                                        fl, robots, cfg, now, batch, self.web_params,
                                        host_config=drv.host_config(),
                                    )
                                ),
                            ),
                        )
                    elif stage == "parse":
                        fres = self._artifact(drv, r, "fetch")
                        add("parse.busy_s", probe("parse", lambda: _noop(parse_op.parse(fres, cfg, batch))))
                    with tracer.span(f"{batch}:{stage}", stage=stage) as sp:
                        drv.run_round(r, stop_after=stage)
                    stage_spans.append(sp)
                fl = self._artifact(drv, r, "generate")
                parsed = self._artifact(drv, r, "parse")

                def _updatedb_probe() -> None:
                    cached: list = []
                    merge_rows, _ = upd_op.updatedb(
                        store.read(), parsed, cfg, now, batch, drv.urlseen,
                        cached_out=cached, prev_state=fl.select("url_hash", "inlinks", "repr_url"),
                    )
                    _noop(merge_rows)
                    for df in cached:
                        df.unpersist()

                add("updatedb.busy_s", probe("updatedb", _updatedb_probe))
                keys = upd_op.aggregate_contributions(
                    upd_op.explode_contributions(parsed, cfg), cfg
                ).select(F.col("to_url_hash").alias("url_hash"))
                add("urlseen.lookup_s", probe("urlseen.lookup", lambda: _noop(drv.urlseen.maybe_seen(keys, "url_hash"))))
                screened = drv.urlseen.maybe_seen(keys, "url_hash").agg(
                    F.count("*").alias("n"), F.sum((~F.col("maybe_seen")).cast("long")).alias("out")
                ).collect()[0]
                add("urlseen.probed", screened["n"])
                add("urlseen.screened", screened["out"] or 0)

                with tracer.span(f"{batch}:updatedb", stage="updatedb") as sp:
                    st = drv.run_round(r)
                stage_spans.append(sp)
                counts.append((st["fetched"], st["updated"]))
            round_windows.append((rsp["start"], rsp["end"]))

            # counts over the committed artifacts (untimed)
            fres = self._artifact(drv, r, "fetch")
            frow = fres.agg(
                F.count("*").alias("rows"),
                F.countDistinct("host").alias("queues"),
                F.sum(F.col("fetched").cast("long")).alias("fetched"),
            ).collect()[0]
            add("fetch.rows", frow["rows"])
            add("fetch.queues", frow["queues"])
            add("fetch.fetched", frow["fetched"] or 0)
            prow = parsed.agg(
                F.count("*").alias("rows"),
                F.sum(F.size(F.coalesce("outlinks", F.array()))).alias("outlinks"),
                F.sum(F.col("decode_ok").cast("long")).alias("ok"),
                F.sum(F.col("image_id").isNotNull().cast("long")).alias("decoded"),
            ).collect()[0]
            add("parse.rows", prow["rows"])
            add("parse.outlinks", prow["outlinks"] or 0)
            add("parse.decode_ok", prow["ok"] or 0)
            add("parse.decode_tried", prow["rows"])
            add("updatedb.contribs", upd_op.explode_contributions(parsed, cfg).count())
            add("updatedb.merge_rows", self._artifact(drv, r, "updatedb").count())
            add("updatedb.new_rows", store.read().count() - frontier_rows)
            add("generate.rows_out", fl.count())
            add("frontier.adopt_s", st["stage_sec"].get("updatedb.adopt", 0.0))
            add("urlseen.merge_s", st["stage_sec"].get("updatedb.urlseen", 0.0))
            new_snaps = set(os.listdir(store.path)) - snaps_before
            add("frontier.bytes_written_mb", sum(_dir_mb(os.path.join(store.path, d)) for d in new_snaps))

        n = self.shape.rounds
        per_round = {k: v / n for k, v in acc.items()}
        for stage in ("generate", "fetch", "parse", "updatedb"):
            per_round[f"round.{stage}_s"] = sum(tracer.wall(s) for s in stage_spans if s["stage"] == stage) / n
        per_round["round.jobs"] = sum(s["jobs"] for s in stage_spans) / n
        per_round["round.tasks"] = sum(s["tasks"] for s in stage_spans) / n
        per_round["fetch.fetched_ratio"] = acc["fetch.fetched"] / max(acc["fetch.rows"], 1)
        per_round["parse.decode_ok_ratio"] = acc["parse.decode_ok"] / max(acc["parse.decode_tried"], 1)
        per_round["urlseen.screened_ratio"] = acc["urlseen.screened"] / max(acc["urlseen.probed"], 1)
        per_round["urlseen.state_mb"] = _dir_mb(drv.urlseen.path)
        per_round["frontier.compactions"] = sum(
            1
            for ln in store.lineage_chain()
            if ln["version"] not in base_versions and ln.get("kind") == "base"
        )
        return {
            "metrics": per_round,
            "traced_wall": sum(tracer.wall(s) for s in stage_spans),
            "round_windows": round_windows,
            "counts": counts,
        }

    # -- inject layer -------------------------------------------------
    def inject_busy(self, drv: RoundDriver, tracer) -> dict:
        """inject.busy_s (seed rows built to a noop sink) and inject.rows."""
        seeds = inj_op.parse_seed_lines(self.spark, self.seed_file)
        rows = inj_op.build_seed_rows(seeds, self.cfg, drv.start_ms, "inject")
        with tracer.span("probe:inject") as sp:
            _noop(rows)
        return {"inject.busy_s": tracer.wall(sp), "inject.rows": rows.count()}


def summarize(episodes: list[list[dict]], setup_walls: list[float]) -> dict:
    """End-to-end metrics over the rounds of the episodes: medians over
    episodes, so one slow episode does not move them."""
    import statistics

    walls = [x["wall"] for ep in episodes for x in ep]
    return {
        "throughput_per_s": statistics.median(
            sum(x["fetched"] + x["updated"] for x in ep) / sum(x["wall"] for x in ep) for ep in episodes
        ),
        "unit_max_s": statistics.median(max(x["wall"] for x in ep) for ep in episodes),
        "unit_geomean_s": statistics.geometric_mean(walls),
        "setup_s": statistics.median(setup_walls),
    }
