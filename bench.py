"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on the session's default parallelism (session.resolve_parallelism:
$SPARK_GRAFT_CPUS, else the usable cores) and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline metric is the BASELINE.json target: frontier URLs
scheduled+fetched per second (one full crawl wave over a skewed 400k-URL
synthetic frontier).  Per-query wall times cover the representative operator
families (agg, star join, windows, UDF metrics, dedup, ANN, quantization).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def _loadavg() -> list[float]:
    """Host 1/5/15-min load at measurement time — recorded IN the artifact
    because this box shares hardware: a run that overlaps external load
    reads 20-50% slow on every query (adjudicated in NOTES_r4.md), and the
    number lets a reader tell engine regressions from machine state."""
    try:
        with open("/proc/loadavg") as fh:
            return [round(float(x), 2) for x in fh.read().split()[:3]]
    except OSError:
        return []


def _wait_for_quiet(threshold: float = 2.0, max_wait_s: int = 180) -> float:
    """Bench hygiene at the source (VERDICT r4 'What's wrong #2'): external
    host load inflates EVERY query 20-50%, so an artifact timed under load
    misreads as an engine regression.  Wait (bounded) for the 1-min load to
    drop below `threshold` before timing; the waited seconds are recorded
    in the JSON so the artifact carries its own noise context either way.
    Override: SPARK_GRAFT_NO_QUIET_WAIT=1 skips the wait entirely."""
    if os.environ.get("SPARK_GRAFT_NO_QUIET_WAIT"):
        return 0.0
    t0 = time.time()
    while time.time() - t0 < max_wait_s:
        la = _loadavg()
        if not la or la[0] < threshold:
            break
        time.sleep(10)
    return round(time.time() - t0, 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    waited_s = _wait_for_quiet()

    from commoncrawlnewsdataset_spark.benchlib import frontier_wave_bench
    from commoncrawlnewsdataset_spark.plans.queries import spark_queries
    from commoncrawlnewsdataset_spark.session import get_spark

    load_start = _loadavg()
    spark = get_spark("ccnews-bench")
    spark.sparkContext.setLogLevel("ERROR")

    headline = [
        "pricing_summary",
        "star_join_topn",
        "sessionize",
        "text_stats",
        "quality_filter",
        "lang_id",
        "dedup_exact",
        "simhash",
        "hashed_ids",
        "cosine_topk",
        "int8_quantize",
        "politeness_wave",
        "url_seen_antijoin",
        # round 2: from-scratch WARC round-trip and the production-capped
        # near-dup configs (the exact plans the oracle now certifies)
        "warc_scan",
        "jaccard_pairs",
        "minhash_lsh_pairs",
        "cosine_dup_pairs_lsh",
        # round 3: training-mix hygiene + the crawl->corpus capstone (two
        # REAL waves + extract + dedup + pack in one lazy-plan spine)
        "chunk_dedup",
        "repetition_stats",
        "domain_cap",
        "crawl_corpus_pipeline",
        # round 4: int8 inner-product search + the >=0.9-recall two-stage
        # rescore (both oracle-certified)
        "int8_topk",
        "ann_rescore_topk",
    ]
    registry = spark_queries()
    # warm up the JVM/codegen/python-worker pools so the first timed query
    # isn't charged for session spin-up
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000).count()
    registry["pricing_summary"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    for name in headline:
        fn = registry[name]
        df = fn(spark, sf_dir)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 3)

    # UDF-heavy stages (not in the oracle registry)
    import __spark_entry__ as entry_mod

    for name in ["quality_metrics_udf", "minhash_lsh_capped", "minhash_lsh_xxhash"]:
        t0 = time.time()
        if name == "quality_metrics_udf":
            entry_mod.q_quality_metrics_udf(spark, sf_dir).write.format("noop").mode("overwrite").save()
        else:
            from commoncrawlnewsdataset_spark.operators.dedup import minhash_lsh_pairs

            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            # k=3 shingles + tight cap: production-shaped parameters (the
            # synthetic 40-word vocab makes k<=2 shingles degenerate-hot);
            # xxhash variant = the native-64-bit production hash family
            hasher = "xxhash64" if name.endswith("xxhash") else "md5"
            minhash_lsh_pairs(
                docs, "doc_id", "text", 8, 4, k=3, bucket_cap=64, hasher=hasher
            ).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 3)

    # headline: a full frontier crawl wave.  A small warmup wave first —
    # the wave loop's code paths (politeness windows, bloom build/probe,
    # Arrow fetch) JIT on first use and the cold run measures the JVM, not
    # the engine (observed 13 s cold vs 7.9 s warm at 400k urls).  Best of
    # TWO measured waves (both samples recorded in the JSON): single-shot
    # samples on this shared box vary +/-30% with neighbor load the guest
    # cannot see (r5 A/B against the unchanged r4 tree reproduced the same
    # spread), and the best-of-2 minimum is the stabler engine signal.
    frontier_wave_bench(spark, n_urls=50_000)
    samples = [frontier_wave_bench(spark, n_urls=400_000) for _ in range(2)]
    wave = min(samples, key=lambda w: w["elapsed_s"])
    timings["frontier_wave"] = round(wave["elapsed_s"], 3)

    print(
        json.dumps(
            {
                "metric": "frontier_urls_scheduled_fetched_per_sec",
                "value": round(wave["urls_per_sec"], 1),
                "unit": "urls/sec",
                "queries": timings,
                "sf": float(sf),
                "frontier": {
                    "n_urls": wave["n_urls"],
                    "n_scheduled": wave["n_scheduled"],
                    "n_fetched": wave["n_fetched"],
                    "cpus": spark.sparkContext.defaultParallelism,
                    "wave_samples_s": [round(w["elapsed_s"], 3) for w in samples],
                    # ADVICE r5: tag the sampling protocol so cross-round
                    # rows stay apples-to-apples (r1-r4 were single-shot)
                    "sampling": "warmup+best_of_2",
                },
                "loadavg_start": load_start,
                "loadavg_end": _loadavg(),
                "quiet_wait_s": waited_s,
            }
        )
    )


if __name__ == "__main__":
    main()
