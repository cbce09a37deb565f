"""Benchmark workloads shared by bench.py and the scaling-evidence runner.

The headline metric mirrors BASELINE.json: frontier URLs scheduled+fetched
per second on a Common-Crawl-style frontier, evidenced at two parallelism
levels (local[8] vs local[32] = N vs 4N cores, BASELINE.md protocol).
"""

from __future__ import annotations

import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commoncrawlnewsdataset_spark.frontier.waves import WaveRunner


def synth_frontier_seeds(
    spark: SparkSession, n_urls: int, n_hosts: int = 2000, seed: int = 42
) -> DataFrame:
    """Deterministic seed list built JVM-side (spark.range — no driver data):
    Zipf-ish host skew via a squared uniform draw, priorities, timestamps."""
    base = spark.range(n_urls)
    # skewed host id: squaring a uniform hash concentrates mass near 0
    u = (F.abs(F.hash(F.col("id").cast("string"), F.lit(seed))) % 1000) / 1000.0
    host_id = F.floor(u * u * n_hosts).cast("int")
    return base.select(
        F.concat(
            F.lit("https://h"), host_id.cast("string"), F.lit(".example.org/p/"),
            F.col("id").cast("string"),
        ).alias("url"),
        (F.abs(F.hash(F.col("id").cast("string"), F.lit(seed + 1))) % 1000 / 1000.0).alias("priority"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=F.col("id") % 86400)).alias("discovered_ts"),
    )


def make_costed_fetcher(work_us: float = 100.0):
    """Deterministic fetcher charging ~work_us of CPU per URL (md5 loop,
    ~0.7us/iteration).  A real fetch + trafilatura extraction costs
    10-100ms/URL; a near-zero simulated fetch would make the benchmark
    measure Spark's fixed job latency instead of crawl throughput, so the
    cost model errs 100x *below* reality."""
    import hashlib

    iters = max(1, int(work_us / 0.7))
    buf = b"x" * 256

    def fetch(url: str, max_retries: int = 5):
        d = url.encode()
        for _ in range(iters):
            d = hashlib.md5(buf + d[:16]).digest()
        from commoncrawlnewsdataset_spark.frontier.waves import simulated_fetch

        return simulated_fetch(url, max_retries)

    return fetch


def frontier_wave_bench(
    spark: SparkSession,
    n_urls: int = 400_000,
    n_hosts: int = 2000,
    per_host_budget: int = 400,
    state_dir: str | None = None,
    fetch_work_us: float = 100.0,
) -> dict:
    """One full crawl wave (politeness select -> bloom/exact URL-seen ->
    costed fetch -> snapshot commit + metrics) over a skewed synthetic
    frontier.  Seed load is timed separately: steady-state crawl throughput
    is the per-wave figure, not the one-time bootstrap."""
    tmp = state_dir or tempfile.mkdtemp(prefix="frontier-bench-")
    try:
        runner = WaveRunner(
            spark, tmp, per_host_budget=per_host_budget, nsalt=8,
            use_robots=False, detailed_metrics=False,
            fetcher=make_costed_fetcher(fetch_work_us),
        )
        t_load0 = time.time()
        runner.load_seeds(synth_frontier_seeds(spark, n_urls, n_hosts))
        load_s = time.time() - t_load0
        t0 = time.time()
        manifest = runner.run_wave()
        elapsed = time.time() - t0
        return {
            "n_urls": n_urls,
            "n_scheduled": manifest["n_selected"],
            "n_fetched": manifest["n_fetched"],
            "seed_load_s": load_s,
            "elapsed_s": elapsed,
            "urls_per_sec": manifest["n_selected"] / elapsed,
            "fetch_work_us": fetch_work_us,
        }
    finally:
        if state_dir is None:
            shutil.rmtree(tmp, ignore_errors=True)
