"""spark-submit entry point (north_rule: ships via --py-files).

Usage (cluster):
    python tools/package_pyfiles.py          # -> dist/ccnews_spark.zip
    spark-submit --py-files dist/ccnews_spark.zip \
        -m commoncrawlnewsdataset_spark.cli crawl --seeds s3://.../seeds \
        --state s3://.../frontier --waves 10 --budget 100

Subcommands:
    crawl     run crawl waves against a frontier state dir (resumable)
    maintain  compact the frontier state + optionally expire covered deltas
    pipeline  run the extraction pipeline (03→08) pages -> star schema
    embed     embedding + quantization stage (09)
"""

from __future__ import annotations

import argparse
import json
import sys


def _crawl(args) -> None:
    from commoncrawlnewsdataset_spark.frontier.waves import WaveRunner
    from commoncrawlnewsdataset_spark.session import get_spark

    spark = get_spark("ccnews-crawl")
    runner = WaveRunner(
        spark,
        args.state,
        per_host_budget=args.budget,
        nsalt=args.nsalt,
        wave_seconds=args.wave_seconds,
        robots_rules=(
            spark.read.parquet(args.robots) if args.robots else None
        ),
        use_robots=bool(args.robots),
        # --pages: persist fetched payloads per wave (single fetch pass);
        # the extraction pipeline then reads <pages>/wave=*.parquet
        page_sink_dir=args.pages,
        # --bucket-state N: bucket count of the url-bucketed checkpoints;
        # post-compaction waves join the frontier side Exchange-free
        bucket_state=args.bucket_state,
    )
    if args.seeds:
        if runner.last_wave() >= 0:
            print("state dir already seeded; resuming", file=sys.stderr)
        else:
            runner.load_seeds(spark.read.parquet(args.seeds))
    # --compact-every: without a cadence the wave log grows unbounded and
    # the Exchange-free gate never engages — the soak-proven default is a
    # checkpoint every 5 waves + delta expiry (BENCH/SOAK10M_BUCKETED.md);
    # 0 disables both
    for manifest in runner.run(
        max_waves=args.waves,
        compact_every=args.compact_every or None,
        expire=not args.no_expire,
    ):
        print(json.dumps(manifest))
        if manifest.get("done"):
            break


def _pipeline(args) -> None:
    from commoncrawlnewsdataset_spark.plans.pipeline import run_pipeline
    from commoncrawlnewsdataset_spark.schemas import (
        GAZETTEER_SCHEMA,
        NUTS_REGIONS_SCHEMA,
        TLD_EXCLUSIONS_SCHEMA,
    )
    from commoncrawlnewsdataset_spark.session import get_spark
    from commoncrawlnewsdataset_spark.synth import make_gazetteer_pdf, make_nuts_pdf

    spark = get_spark("ccnews-pipeline")
    pages = spark.read.parquet(args.pages)
    excl = (
        spark.read.parquet(args.tld_exclusions)
        if args.tld_exclusions
        else spark.createDataFrame([], TLD_EXCLUSIONS_SCHEMA)
    )
    gaz = spark.createDataFrame(make_gazetteer_pdf(), GAZETTEER_SCHEMA)
    nuts = spark.createDataFrame(make_nuts_pdf(), NUTS_REGIONS_SCHEMA)
    result = run_pipeline(spark, pages, excl, gaz, nuts, args.geomap_min_count)
    for name in ("articles", "locations", "article_locations", "article_vectors"):
        getattr(result, name).write.mode("overwrite").parquet(f"{args.out}/{name}")
        print(f"wrote {args.out}/{name}")


def _embed(args) -> None:
    from commoncrawlnewsdataset_spark.plans.embed import (
        embed_articles,
        with_all_quantizations,
    )
    from commoncrawlnewsdataset_spark.session import get_spark

    spark = get_spark("ccnews-embed")
    articles = spark.read.parquet(args.articles)
    out = with_all_quantizations(embed_articles(articles, dim=args.dim))
    out.write.mode("overwrite").parquet(args.out)
    print(f"wrote {args.out}")


def _progress(args) -> None:
    """check_progress.sh analog: per-wave crawl progress from the committed
    manifests (lineage survives even after expire_snapshots) — no Spark
    session needed."""
    from commoncrawlnewsdataset_spark.frontier.waves import WaveRunner

    runner = WaveRunner(None, args.state)
    waves = runner.committed_waves()
    total = {"selected": 0, "fetched": 0, "failed": 0, "discovered": 0}
    for w in waves:
        m = runner.read_manifest(w)
        row = {
            "wave": w,
            "n_selected": m.get("n_selected", 0),
            "n_fetched": m.get("n_fetched", 0),
            "n_failed": m.get("n_failed", 0),
            "n_discovered": m.get("n_discovered", 0),
            "urls_per_sec": m.get("urls_per_sec"),
            "done": m.get("done", False),
        }
        total["selected"] += row["n_selected"] or 0
        total["fetched"] += row["n_fetched"] or 0
        total["failed"] += row["n_failed"] or 0
        total["discovered"] += row["n_discovered"] or 0
        print(json.dumps(row))
    print(json.dumps({"waves": len(waves), "checkpoints": runner.committed_checkpoints(), **total}))


def _maintain(args) -> None:
    """Iceberg-style table maintenance for a long-lived frontier, without
    running waves: compact the resolved state into a checkpoint at the
    last committed wave, then (with --expire) drop the raw wave deltas a
    checkpoint covers — the 'rewrite_data_files + expire_snapshots' pair a
    production crawl schedules between waves (BENCH/SOAK*.md measures both
    inline; this exposes them standalone for cron-style operation)."""
    from commoncrawlnewsdataset_spark.frontier.waves import WaveRunner
    from commoncrawlnewsdataset_spark.session import get_spark

    spark = get_spark("ccnews-maintain")
    runner = WaveRunner(spark, args.state, bucket_state=args.bucket_state)
    last = runner.last_wave()
    if last < 0:
        print(json.dumps({"error": "no committed waves in state dir"}))
        return
    compacted = runner.compact(last)
    expired = runner.expire_snapshots() if args.expire else []
    print(json.dumps({
        "compacted_at_wave": compacted,
        "expired_waves": len(expired),
        "checkpoints": runner.committed_checkpoints(),
    }))


def main(argv: list[str] | None = None) -> None:
    from commoncrawlnewsdataset_spark.frontier.waves import WaveRunner

    p = argparse.ArgumentParser(prog="ccnews-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl")
    c.add_argument("--state", required=True)
    c.add_argument("--seeds")
    c.add_argument("--robots")
    c.add_argument("--waves", type=int, default=10)
    c.add_argument("--budget", type=int, default=10)
    c.add_argument("--nsalt", type=int, default=8)
    c.add_argument("--wave-seconds", type=float, default=None)
    c.add_argument("--bucket-state", type=int, default=WaveRunner.bucket_state,
                   help="bucket count for the url-bucketed state checkpoints "
                        "(Exchange-free frontier joins after compaction; "
                        "default %(default)s)")
    c.add_argument("--pages", default=None,
                   help="page-sink dir: persist fetched html per wave")
    c.add_argument("--compact-every", type=int, default=5,
                   help="checkpoint the resolved state every N waves "
                        "(0 = never; keeps snapshot reads O(delta) and "
                        "engages the bucketed Exchange-free gate)")
    c.add_argument("--no-expire", action="store_true",
                   help="keep delta files a checkpoint already covers.  "
                        "BREAKING CHANGE (r6): crawl now expires covered "
                        "deltas by default — the on-disk log is no longer "
                        "append-only unless this flag is passed; time "
                        "travel below the newest checkpoint needs it")
    c.set_defaults(fn=_crawl)

    pl = sub.add_parser("pipeline")
    pl.add_argument("--pages", required=True)
    pl.add_argument("--out", required=True)
    pl.add_argument("--tld-exclusions")
    pl.add_argument("--geomap-min-count", type=int, default=100)
    pl.set_defaults(fn=_pipeline)

    e = sub.add_parser("embed")
    e.add_argument("--articles", required=True)
    e.add_argument("--out", required=True)
    e.add_argument("--dim", type=int, default=64)
    e.set_defaults(fn=_embed)

    m = sub.add_parser("maintain")
    m.add_argument("--state", required=True)
    m.add_argument("--expire", action="store_true",
                   help="also drop raw deltas covered by the checkpoint")
    m.add_argument("--bucket-state", type=int, default=WaveRunner.bucket_state,
                   help="bucket count for a new checkpoint (default "
                        "%(default)s); a wave already checkpointed keeps "
                        "its layout")
    m.set_defaults(fn=_maintain)

    pr = sub.add_parser("progress")
    pr.add_argument("--state", required=True)
    pr.set_defaults(fn=_progress)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
