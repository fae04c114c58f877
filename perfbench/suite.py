"""query_suite workload: a fixed, family-stratified set of QUERIES
leaves over seeded synthetic tables, each forced with ``count()``.

A family is fixed by the operator module a leaf calls: ``ann``
(operators.ann), ``dedup`` (operators.dedup / operators.cc), ``parse``
(operators.parse_*), ``frontier`` (built on ``queries.derived_frontier``
and none of the above) and ``other``. Every leaf's row count is checked
against its DuckDB oracle twin, computed once per run and untimed.
"""

from __future__ import annotations

import os
import time

LEAVES = {
    "dedup_minhash_lsh": "dedup",
    "text_profile_signature": "dedup",
    "embedding_topk": "ann",
    "embedding_cosine_dedup": "ann",
    "parse_html": "parse",
    "parse_metatags": "parse",
    "generate_topn": "frontier",
    "host_stats": "frontier",
    "url_reverse": "frontier",
    "salted_join": "other",
    "events_windowed": "other",
}
FAMILIES = ("dedup", "ann", "parse", "frontier", "other")
# sizes: table scale, set-up repetitions
SIZES = {"full": (1.0, 3), "smoke": (0.2, 2)}


def oracle_counts(data_dir: str, tables: list[str]) -> dict[str, int]:
    import duckdb

    from warps_nutch_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {
            name: con.sql(f"SELECT count(*) FROM ({ORACLES[name]})").fetchone()[0]
            for name in LEAVES
        }
    finally:
        con.close()


class QuerySuite:
    """Set-up, passes and checks of one query_suite run."""

    def __init__(self, spark, work_dir: str, seed: int, size: str):
        from warps_nutch_spark.queries import QUERIES

        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.scale, self.setups = SIZES[size]
        self.fns = {name: QUERIES[name] for name in LEAVES}
        self.data_dir = ""
        self.tables: list[str] = []
        self.expected: dict[str, int] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def setup_once(self, i: int) -> float:
        """Write the seeded tables to a fresh directory and open each
        one in Spark; returns the wall time."""
        from querydata import write_tables

        t0 = time.perf_counter()
        self.data_dir = os.path.join(self.work_dir, f"tables{i}")
        self.tables = write_tables(self.data_dir, self.seed, self.scale)
        for t in self.tables:
            self.spark.read.parquet(os.path.join(self.data_dir, f"{t}.parquet")).count()
        return time.perf_counter() - t0

    def setup(self) -> list[float]:
        times = [self.setup_once(i) for i in range(self.setups)]
        self.expected = oracle_counts(self.data_dir, self.tables)
        return times

    def run_leaf(self, name: str, sink: str = "count") -> float | None:
        """Time one leaf; None when it raised or its row count is not
        the oracle's. Every call counts as one attempted operation."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            df = self.fns[name](self.spark, self.data_dir)
            if sink == "count":
                rows = df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
                rows = self.expected[name]
        except Exception as e:  # a failing leaf is a failed operation
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
            return None
        wall = time.perf_counter() - t0
        if rows != self.expected[name]:
            self.failed += 1
            self.errors.append(f"{name}: {rows} rows, oracle {self.expected[name]}")
            return None
        return wall

    def run_pass(self, sink: str = "count", tracer=None) -> dict[str, float]:
        walls = {}
        for name in LEAVES:
            if tracer is None:
                wall = self.run_leaf(name, sink)
            else:
                with tracer.span(f"leaf:{name}", family=LEAVES[name]):
                    wall = self.run_leaf(name, sink)
            if wall is not None:
                walls[name] = wall
        return walls
