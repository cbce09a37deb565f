"""Frontier tests: reference-scheduler parity, URL-seen correctness, salting
invariance, robots gating, resume equivalence, dedup idempotence."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from commoncrawlnewsdataset_spark.frontier.core import (
    build_bloom_shards,
    bloom_probe,
    url_seen_gate,
    with_frontier_keys,
)
from commoncrawlnewsdataset_spark.frontier.politeness import politeness_rank
from commoncrawlnewsdataset_spark.frontier.robots import gate_by_robots, parse_robots_txt
from commoncrawlnewsdataset_spark.frontier.simulate import ReferenceSchedulerModel
from commoncrawlnewsdataset_spark.frontier.waves import WaveRunner, simulated_fetch
from commoncrawlnewsdataset_spark.schemas import SEEDS_SCHEMA
from commoncrawlnewsdataset_spark.synth import make_seeds_pdf


def _seeds_df(spark, n=200, seed=7):
    return spark.createDataFrame(make_seeds_pdf(n, seed), SEEDS_SCHEMA)


def _parity_seeds(spark, urls):
    """Reference-parity shape: constant priority, discovered_ts = seed index
    (FIFO total order), single virtual host handled by the budget."""
    rows = [
        (u, 1.0, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i))
        for i, u in enumerate(urls)
    ]
    return spark.createDataFrame(rows, SEEDS_SCHEMA)


def test_reference_scheduler_parity(spark, tmp_path):
    """north_rule: identical fetched set AND identical wave chunking/order as
    the reference scheduler under the same seed list + budget."""
    urls = [f"https://cc.example.org/warc/{i:04d}" for i in range(53)]
    urls[7] = urls[3]  # duplicate seed -> exists-skip path
    model = ReferenceSchedulerModel(budget=10)
    expected_order, expected_waves = model.run(urls)

    runner = WaveRunner(
        spark, str(tmp_path / "state"), per_host_budget=10, nsalt=4,
        use_robots=False,
        fetcher=lambda u, r: (True, 1, 100),  # parity mode: all fetches succeed
    )
    runner.load_seeds(_parity_seeds(spark, urls))
    manifests = runner.run(max_waves=20)

    fetched_waves = []
    for m in manifests:
        if m.get("done"):
            break
        delta = spark.read.parquet(
            f"{tmp_path}/state/wave={m['wave']:05d}/delta.parquet"
        )
        wave_urls = [
            r["url"]
            for r in delta.orderBy(F.desc("priority"), "discovered_ts", "url")
            .select("url").collect()
        ]
        fetched_waves.append(wave_urls)

    assert fetched_waves == expected_waves
    assert [u for w in fetched_waves for u in w] == expected_order
    # URL-seen set identical
    got_fetched = {
        r["url"]
        for r in runner.state().filter(F.col("status") == "fetched").collect()
    }
    assert got_fetched == set(expected_order)


def test_politeness_budget_and_determinism(spark):
    seeds = with_frontier_keys(_seeds_df(spark, 300))
    ranked = politeness_rank(seeds.withColumn("status", F.lit("pending")), 5, nsalt=4)
    per_host = ranked.groupBy("host").count().collect()
    assert all(r["count"] <= 5 for r in per_host)
    # deterministic: two runs give identical selections
    a = sorted(r["url"] for r in ranked.select("url").collect())
    b = sorted(r["url"] for r in politeness_rank(
        seeds.withColumn("status", F.lit("pending")), 5, nsalt=4).select("url").collect())
    assert a == b


def test_salting_invariance(spark):
    """Salting changes partitioning, never the selected set (SURVEY §7)."""
    seeds = with_frontier_keys(_seeds_df(spark, 400, seed=21))
    sel1 = sorted(r["url"] for r in politeness_rank(seeds, 7, nsalt=1).select("url").collect())
    sel8 = sorted(r["url"] for r in politeness_rank(seeds, 7, nsalt=8).select("url").collect())
    sel32 = sorted(r["url"] for r in politeness_rank(seeds, 7, nsalt=32).select("url").collect())
    assert sel1 == sel8 == sel32


def test_bloom_no_false_negatives_and_exact_backstop(spark):
    seeds = with_frontier_keys(_seeds_df(spark, 500)).select("url").distinct()
    fetched = seeds.limit(100)
    shards = build_bloom_shards(fetched, num_shards=4, m_bits_per_shard=1 << 12)
    probed = bloom_probe(seeds, shards, num_shards=4, m_bits_per_shard=1 << 12)
    # every truly-fetched url must be flagged maybe_seen (no false negatives)
    missed = probed.join(fetched, "url", "left_semi").filter(~F.col("maybe_seen")).count()
    assert missed == 0
    # end-to-end: the gate's bloom path == plain anti-join (bit-for-bit
    # same url set), with the seen set as either part
    def gated(*parts, **kw):
        return sorted(r["url"] for r in url_seen_gate(seeds, *parts, **kw).df.collect())

    exact = gated(None, fetched, bloom=False)
    assert exact == sorted(r["url"] for r in seeds.join(fetched, "url", "left_anti").collect())
    assert gated(None, fetched) == gated(fetched, None) == exact


def test_robots_gating(spark):
    rules_rows = parse_robots_txt(
        "news1.example.de",
        "User-agent: *\nDisallow: /crawl/00\nAllow: /crawl/\nCrawl-delay: 2\n",
    )
    assert any(not r["allowed"] for r in rules_rows)
    rules = spark.createDataFrame(rules_rows)
    seeds = with_frontier_keys(_seeds_df(spark, 300))
    gated = gate_by_robots(seeds, rules)
    bad = gated.filter(
        (F.col("host") == "news1.example.de") & F.col("url").contains("/crawl/00")
    ).count()
    assert bad == 0
    # other hosts untouched
    assert gated.filter(F.col("host") != "news1.example.de").count() == seeds.filter(
        F.col("host") != "news1.example.de"
    ).count()


def test_wave_dedup_idempotent_and_resume(spark, tmp_path):
    """Property tests from SURVEY §5: (a) a url is fetched at most once across
    waves; (b) resuming from a snapshot reproduces the uninterrupted state."""
    state_a = str(tmp_path / "a")
    runner = WaveRunner(spark, state_a, per_host_budget=3, nsalt=4, use_robots=False)
    runner.load_seeds(_seeds_df(spark, 120, seed=5))
    runner.run(max_waves=4)  # partial crawl (waves 1..4)

    # resume with a FRESH runner on the same state dir
    resumed = WaveRunner(spark, state_a, per_host_budget=3, nsalt=4, use_robots=False)
    assert resumed.last_wave() == runner.last_wave()
    resumed.run(max_waves=30)

    # uninterrupted control run
    state_b = str(tmp_path / "b")
    control = WaveRunner(spark, state_b, per_host_budget=3, nsalt=4, use_robots=False)
    control.load_seeds(_seeds_df(spark, 120, seed=5))
    control.run(max_waves=34)

    sa = sorted(
        (r["url"], r["status"], r["wave"])
        for r in resumed.state().select("url", "status", "wave").collect()
    )
    sb = sorted(
        (r["url"], r["status"], r["wave"])
        for r in control.state().select("url", "status", "wave").collect()
    )
    assert sa == sb

    # at-most-once: no url appears in two waves' outcomes
    import collections

    all_outcomes = collections.Counter()
    for w in resumed.committed_waves():
        if w == 0:
            continue
        delta = spark.read.parquet(f"{state_a}/wave={w:05d}/delta.parquet")
        for r in delta.select("url").collect():
            all_outcomes[r["url"]] += 1
    assert all_outcomes and max(all_outcomes.values()) == 1


def test_manifest_metrics(spark, tmp_path):
    runner = WaveRunner(spark, str(tmp_path / "m"), per_host_budget=5, nsalt=2, use_robots=False)
    runner.load_seeds(_seeds_df(spark, 80, seed=9))
    m = runner.run_wave()
    assert m["n_selected"] == m["n_fetched"] + m["n_failed"]
    assert m["urls_per_sec"] > 0
    assert sum(p["rows"] for p in m["per_partition_rows"]) == m["n_selected"]
    assert runner.read_manifest(m["wave"]) == m


def test_link_discovery_expands_frontier(spark, tmp_path):
    """Open-frontier mode: fetched pages yield child urls that enter the
    frontier as pending exactly once (URL-seen gated), then get crawled."""
    from pyspark.sql import functions as F2

    def expander(fetched):
        return fetched.select(
            F2.concat(F2.col("url"), F2.lit("/child")).alias("url"),
            F2.lit(0.5).alias("priority"),
            F2.col("discovered_ts"),
        )

    runner = WaveRunner(
        spark, str(tmp_path / "lx"), per_host_budget=50, nsalt=2,
        use_robots=False, link_expander=expander,
        fetcher=lambda u, r: (True, 1, 10),
    )
    urls = [f"https://h{i % 3}.example.org/p/{i}" for i in range(30)]
    runner.load_seeds(_parity_seeds(spark, urls))
    m1 = runner.run_wave()
    assert m1["n_discovered"] == m1["n_fetched"] == 30
    m2 = runner.run_wave()
    # wave 2 fetches exactly the discovered children; their children are new
    assert m2["n_selected"] == 30
    children = {
        r["url"]
        for r in runner.state().filter(F2.col("status") == "fetched").collect()
    }
    assert {u + "/child" for u in urls} <= children
    # idempotence of discovery: no child was enqueued twice
    st = runner.state().groupBy("url").count().filter("count > 1").count()
    assert st == 0


def test_crawl_delay_budgets(spark, tmp_path):
    """Per-host budget = wave_seconds / crawl_delay_s from robots rules."""
    rules = spark.createDataFrame(
        [("h0.example.org", "/none/", False, 10.0), ("h1.example.org", "/none/", False, 1.0)],
        ["host", "path_prefix", "allowed", "crawl_delay_s"],
    )
    runner = WaveRunner(
        spark, str(tmp_path / "cd"), per_host_budget=100, nsalt=2,
        use_robots=True, robots_rules=rules, wave_seconds=10.0,
        fetcher=lambda u, r: (True, 1, 10),
    )
    urls = [f"https://h{i % 3}.example.org/p/{i}" for i in range(90)]
    runner.load_seeds(_parity_seeds(spark, urls))
    runner.run_wave()
    per_host = {
        r["host"]: r["count"]
        for r in runner.state()
        .filter(F.col("status") == "fetched")
        .groupBy("host").count().collect()
    }
    assert per_host["h0.example.org"] == 1    # 10s wave / 10s delay
    assert per_host["h1.example.org"] == 10   # 10s wave / 1s delay
    assert per_host["h2.example.org"] == 30   # no rule -> default budget 100


def test_compaction_preserves_state_and_time_travel(spark, tmp_path):
    """compact() is a pure read optimization: post-compaction state equals
    the uncompacted control, later waves behave identically, and time travel
    below the checkpoint still resolves from raw deltas."""
    a, b = str(tmp_path / "ca"), str(tmp_path / "cb")
    ra = WaveRunner(spark, a, per_host_budget=4, nsalt=2, use_robots=False)
    rb = WaveRunner(spark, b, per_host_budget=4, nsalt=2, use_robots=False)
    for r, d in ((ra, a), (rb, b)):
        r.load_seeds(_seeds_df(spark, 60, seed=3))
        r.run_wave()
        r.run_wave()
    ckpt = ra.compact()
    assert ckpt == 2 and ra.committed_checkpoints() == [2]
    ra.run_wave()
    rb.run_wave()

    def snap(r, upto=None):
        return sorted(
            (x["url"], x["status"], x["wave"])
            for x in r.state(upto_wave=upto).select("url", "status", "wave").collect()
        )

    assert snap(ra) == snap(rb)                  # final states identical
    assert snap(ra, upto=1) == snap(rb, upto=1)  # time travel below checkpoint
    assert snap(ra, upto=2) == snap(rb, upto=2)  # time travel AT checkpoint


def test_auto_compaction_policy(spark, tmp_path):
    runner = WaveRunner(spark, str(tmp_path / "ac"), per_host_budget=4, nsalt=2, use_robots=False)
    runner.load_seeds(_seeds_df(spark, 60, seed=8))
    runner.run(max_waves=5, compact_every=2)
    assert runner.committed_checkpoints()  # checkpoints were taken
    # state readable and consistent: every seed url has exactly one record
    assert runner.state().groupBy("url").count().filter("count > 1").count() == 0


def test_reprioritize_changes_next_wave(spark, tmp_path):
    """Wave-barrier re-scoring: boosted urls win the next wave's budget, and
    the re-scoring itself is a snapshotted delta (resume/time-travel safe)."""
    runner = WaveRunner(spark, str(tmp_path / "rp"), per_host_budget=3, nsalt=2, use_robots=False,
                        fetcher=lambda u, r: (True, 1, 10))
    urls = [f"https://one.example.org/p/{i:03d}" for i in range(12)]
    runner.load_seeds(_parity_seeds(spark, urls))
    runner.run_wave()  # fetches p/000..002 (FIFO: equal priority, ts order)

    # boost the LAST urls
    n = runner.reprioritize(lambda df: F.when(F.col("url") >= "https://one.example.org/p/009", 9.0).otherwise(1.0))
    assert n == 9  # the 9 still-pending urls were re-scored
    m = runner.run_wave()
    delta = spark.read.parquet(f"{tmp_path}/rp/wave={m['wave']:05d}/delta.parquet")
    fetched = sorted(r["url"] for r in delta.collect())
    assert fetched == [f"https://one.example.org/p/{i:03d}" for i in (9, 10, 11)]

    # resume still works across the reprioritize delta
    resumed = WaveRunner(spark, str(tmp_path / "rp"), per_host_budget=3, nsalt=2, use_robots=False,
                         fetcher=lambda u, r: (True, 1, 10))
    assert resumed.last_wave() == m["wave"]
    resumed.run_wave()
    done = {r["url"] for r in resumed.state().filter(F.col("status") == "fetched").collect()}
    assert len(done) == 9  # 3 + 3 + 3 fetched so far


def test_fork_from_any_snapshot(spark, tmp_path):
    """north_rule 'resumes mid-crawl from any snapshot': forking from wave 2
    and crawling to completion yields the same final fetched set as the
    uninterrupted run, and never re-fetches what wave<=2 already fetched."""
    base = WaveRunner(spark, str(tmp_path / "f0"), per_host_budget=4, nsalt=2, use_robots=False)
    base.load_seeds(_seeds_df(spark, 80, seed=13))
    base.run(max_waves=10)
    final_set = {r["url"] for r in base.state().filter(F.col("status") == "fetched").collect()}

    forked = base.fork(str(tmp_path / "f2"), upto_wave=2)
    pre = {r["url"] for r in forked.state().filter(F.col("status") == "fetched").collect()}
    forked.run(max_waves=10)
    post = {r["url"] for r in forked.state().filter(F.col("status") == "fetched").collect()}
    assert pre < post == final_set
    # no url fetched twice in the fork (waves 1+ outcomes disjoint from wave-0 fetched)
    for w in forked.committed_waves():
        if w == 0:
            continue
        delta = spark.read.parquet(f"{tmp_path}/f2/wave={w:05d}/delta.parquet")
        refetched = {r["url"] for r in delta.collect()} & pre
        assert not refetched


def test_state_resolution_is_o_delta_after_checkpoint(spark, tmp_path):
    """VERDICT r1 #4: post-checkpoint snapshot resolution must window only
    the deltas and keep the checkpoint scan Exchange-free (broadcast
    anti-join), so per-wave cost is O(delta) not O(frontier)."""
    runner = WaveRunner(spark, str(tmp_path / "od"), per_host_budget=4, nsalt=2, use_robots=False)
    runner.load_seeds(_seeds_df(spark, 60, seed=21))
    runner.run_wave()
    runner.run_wave()
    runner.compact()
    runner.run_wave()  # one delta after the checkpoint

    st = runner.state()
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        st.explain("formatted")
    plan = buf.getvalue()
    # exactly one window (over the post-checkpoint deltas), never over the
    # checkpoint union
    import re

    # the checkpoint scan is a DIRECT child of the broadcast anti-join — no
    # Exchange/Sort/Window ever touches the O(frontier) side
    assert re.search(
        r"BroadcastHashJoin LeftAnti BuildRight \(\d+\)\n[\s:]*- Scan parquet", plan
    ), plan
    # the checkpoint is scanned exactly once (and only scanned)
    assert plan.count("checkpoint=") == 1, plan
    # every window/shuffle in the plan sits over a wave delta, none over the
    # checkpoint.  r8: with exactly ONE post-checkpoint delta the
    # latest-record window is skipped entirely (deltas are unique-per-url
    # by construction), so the plan carries no Window at all.
    assert plan.count("Window (") == 0, plan
    locs = re.findall(r"Location: InMemoryFileIndex \[file:(\S+)\]", plan)
    assert sum("checkpoint=" in p for p in locs) == 1
    assert all(("wave=" in p) or ("checkpoint=" in p) for p in locs)

    # and the resolved state is still correct: one record per url, fetched
    # counts match an uncompacted control
    control = WaveRunner(spark, str(tmp_path / "odc"), per_host_budget=4, nsalt=2, use_robots=False)
    control.load_seeds(_seeds_df(spark, 60, seed=21))
    control.run_wave(); control.run_wave(); control.run_wave()
    snap = lambda r: sorted(
        (x["url"], x["status"], x["wave"])
        for x in r.state().select("url", "status", "wave").collect()
    )
    assert snap(runner) == snap(control)

    # with TWO post-checkpoint deltas the windowed resolution re-engages —
    # still over the deltas only, never the checkpoint side
    runner.run_wave()
    control.run_wave()
    buf2 = io.StringIO()
    with contextlib.redirect_stdout(buf2):
        runner.state().explain("formatted")
    plan2 = buf2.getvalue()
    assert plan2.count("Window (") == 2, plan2
    assert plan2.count("checkpoint=") == 1, plan2
    assert snap(runner) == snap(control)


def test_interrupted_seed_load_is_ignored(spark, tmp_path):
    """ADVICE r1: a wave-0 delta without a manifest (crash mid seed load) is
    NOT treated as committed — resume sees an empty log and re-seeding is
    idempotent."""
    state_dir = tmp_path / "il"
    runner = WaveRunner(spark, str(state_dir), per_host_budget=4, nsalt=2, use_robots=False)
    seeds = _seeds_df(spark, 20, seed=4)
    # simulate the crash: delta written, manifest never committed
    runner._write_delta(runner.spark.createDataFrame(
        seeds.limit(5).collect(), seeds.schema), 0)  # partial delta, no manifest
    assert runner.committed_waves() == []
    assert runner.last_wave() == -1
    # re-running the seed load commits atomically and repairs the state
    runner.load_seeds(seeds)
    assert runner.committed_waves() == [0]
    assert runner.state().count() == runner.read_manifest(0)["seeded"]


def test_link_discovery_dedup_is_deterministic(spark, tmp_path):
    """ADVICE r1: the same url discovered from multiple pages with different
    priorities must keep the HIGHEST priority (window, not an arbitrary
    dropDuplicates pick), so crawl order is reproducible."""
    from pyspark.sql import functions as F2

    def expander(fetched):
        # every fetched page discovers THE SAME child url, with a priority
        # derived from the discovering page -> a deterministic max exists
        return fetched.select(
            F2.lit("https://h0.example.org/shared-child").alias("url"),
            (F2.length("url") % 7).cast("double").alias("priority"),
            F2.col("discovered_ts"),
        )

    urls = [f"https://h{i % 3}.example.org/p/{i:02d}" for i in range(12)]
    expected_priority = max(float(len(u) % 7) for u in urls)
    for attempt in ("a", "b"):
        runner = WaveRunner(
            spark, str(tmp_path / f"dd{attempt}"), per_host_budget=50, nsalt=4,
            use_robots=False, link_expander=expander,
            fetcher=lambda u, r: (True, 1, 10),
        )
        runner.load_seeds(_parity_seeds(spark, urls))
        runner.run_wave()
        child = runner.state().filter(F.col("url") == "https://h0.example.org/shared-child")
        rows = child.collect()
        assert len(rows) == 1
        assert rows[0]["priority"] == expected_priority


def test_page_sink_feeds_extraction_spine(spark, tmp_path):
    """ADVICE r1: fetched payloads must not be discarded — with a
    page_sink_dir the wave persists html bytes once (single fetch pass) and
    .pages() exposes the input_hint shape that extract_articles consumes."""
    from commoncrawlnewsdataset_spark.functions.extract import extract_articles

    runner = WaveRunner(
        spark, str(tmp_path / "ps"), per_host_budget=20, nsalt=2,
        use_robots=False, page_sink_dir=str(tmp_path / "pages"),
    )
    urls = [f"https://h{i % 2}.example.org/art/{i:02d}" for i in range(16)]
    runner.load_seeds(_parity_seeds(spark, urls))
    m = runner.run_wave()
    pages = runner.pages()
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    n_pages = pages.count()
    assert n_pages == m["n_fetched"] > 0
    # payloads are real html and flow through the extraction UDF
    arts = extract_articles(pages.select("url", "html"))
    got = arts.filter(F.col("text").isNotNull())
    assert got.count() > 0
    one = got.orderBy("url").first()
    assert "Deterministic body for" in one["text"]
    # delta/metrics were derived from the sink re-read: failed urls have no page
    failed = runner.state().filter(F.col("status") == "failed").count()
    assert n_pages + failed == m["n_selected"]


def test_pages_reads_committed_waves_only(spark, tmp_path):
    """pages() reads the sink files of committed waves only: a sink file
    left by a wave that crashed before its manifest is not listed."""
    import shutil

    runner = WaveRunner(
        spark, str(tmp_path / "ps"), per_host_budget=20, nsalt=2,
        use_robots=False, page_sink_dir=str(tmp_path / "pages"),
    )
    urls = [f"https://h{i % 2}.example.org/art/{i:02d}" for i in range(16)]
    runner.load_seeds(_parity_seeds(spark, urls))
    m = runner.run_wave()
    # wave 2 crashed after its sink write, before its manifest
    shutil.copytree(runner._page_sink_path(1), runner._page_sink_path(2))
    assert runner.committed_waves() == [0, 1]
    assert runner.pages().count() == m["n_fetched"] > 0


def test_expire_snapshots_keeps_state_and_lineage(spark, tmp_path):
    """Iceberg expire_snapshots analog: raw deltas covered by a checkpoint
    can be dropped — resolved state unchanged, manifests (lineage) kept,
    time travel valid above the horizon."""
    runner = WaveRunner(spark, str(tmp_path / "ex"), per_host_budget=4, nsalt=2, use_robots=False)
    runner.load_seeds(_seeds_df(spark, 60, seed=5))
    runner.run_wave(); runner.run_wave()
    runner.compact()          # checkpoint at wave 2
    runner.run_wave()         # wave 3 delta stays raw

    before = sorted((r["url"], r["status"], r["wave"])
                    for r in runner.state().select("url", "status", "wave").collect())
    expired = runner.expire_snapshots()
    assert expired == [0, 1, 2]
    after = sorted((r["url"], r["status"], r["wave"])
                   for r in runner.state().select("url", "status", "wave").collect())
    assert before == after
    # lineage manifests survive expiration
    assert runner.read_manifest(1)["n_selected"] > 0
    # time travel above the horizon still resolves (checkpoint + wave 3)
    assert runner.state(upto_wave=3).count() == len(after)
    # resume on the expired log keeps working
    resumed = WaveRunner(spark, str(tmp_path / "ex"), per_host_budget=4, nsalt=2, use_robots=False)
    assert resumed.last_wave() == 3
    resumed.run_wave()
    assert resumed.state().groupBy("url").count().filter("count > 1").count() == 0


def test_robots_rfc_group_and_longest_match(spark):
    """RFC 9309 semantics: the specific-agent group OVERRIDES '*' (no merge),
    consecutive User-agent lines share a group, and Allow/Disallow conflicts
    resolve by longest matching prefix (ties -> Allow)."""
    body = (
        "User-agent: otherbot\nDisallow: /\n\n"
        "User-agent: ccbot\nUser-agent: newsbot\n"
        "Disallow: /private/\nAllow: /private/press/\nCrawl-delay: 2\n\n"
        "User-agent: *\nDisallow: /everything/\n"
    )
    # specific group picked over *
    rules_rows = parse_robots_txt("h.example", body, agent="ccbot")
    prefixes = {(r["path_prefix"], r["allowed"]) for r in rules_rows}
    assert prefixes == {("/private/", False), ("/private/press/", True)}
    assert all(r["crawl_delay_s"] == 2.0 for r in rules_rows)
    # shared group via consecutive User-agent lines
    assert {(r["path_prefix"], r["allowed"]) for r in parse_robots_txt(
        "h.example", body, agent="newsbot")} == prefixes
    # unknown agent falls back to *
    assert {(r["path_prefix"], r["allowed"]) for r in parse_robots_txt(
        "h.example", body, agent="nobody")} == {("/everything/", False)}

    # longest-match gating: /private/press/x allowed, /private/x dropped
    rules = spark.createDataFrame(rules_rows)
    seeds = with_frontier_keys(spark.createDataFrame(
        [(f"https://h.example{p}",) for p in
         ("/private/a", "/private/press/a", "/public/a")], ["url"]))
    got = sorted(r["url"] for r in gate_by_robots(seeds, rules).collect())
    assert got == [
        "https://h.example/private/press/a",
        "https://h.example/public/a",
    ]


def test_bloom_probe_stays_jvm_side(spark):
    """Regression lock for the round-2 scale bug: the probe's bit tests must
    be column expressions — no scalar-UDF node (ArrowEvalPython) may appear,
    because it would serialize the broadcast bitset per candidate row (the
    bloom BUILD's applyInPandas over tiny shard groups is the only python)."""
    import contextlib
    import io
    import re

    seeds = with_frontier_keys(_seeds_df(spark, 300)).select("url").distinct()
    fetched = seeds.limit(50)
    out = url_seen_gate(seeds, None, fetched)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.df.explain("formatted")
    plan = buf.getvalue()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    # bloom build only, and ONE of it: both union branches scan the same
    # cached shard set, so the formatted plan numbers one build node
    assert len(set(re.findall(r"FlatMapGroupsInPandas \((\d+)\)", plan))) == 1, plan
    (shards,) = out.cached
    assert shards.is_cached
    assert "BroadcastHashJoin" in plan  # bitset attaches via broadcast
    shards.unpersist()


def test_expire_snapshots_horizon_clamps_to_checkpoint(spark, tmp_path):
    """ADVICE r2: expire_snapshots(keep_waves_after=K) must clamp its horizon
    to the newest committed checkpoint <= K.  Deleting deltas up to K itself
    breaks state(upto_wave=W) for checkpoint < W <= K, because W resolves
    from that checkpoint plus EVERY delta after it."""
    runner = WaveRunner(spark, str(tmp_path / "cl"), per_host_budget=4, nsalt=2, use_robots=False)
    runner.load_seeds(_seeds_df(spark, 60, seed=9))
    runner.run_wave(); runner.run_wave()   # waves 1, 2
    runner.compact()                       # checkpoint at wave 2
    runner.run_wave(); runner.run_wave()   # waves 3, 4 (raw deltas)

    want3 = sorted(
        (r["url"], r["status"])
        for r in runner.state(upto_wave=3).select("url", "status").collect()
    )
    # K=3 sits between checkpoint 2 and wave 3: horizon clamps DOWN to 2
    assert runner.expire_snapshots(keep_waves_after=3) == [0, 1, 2]
    got3 = sorted(
        (r["url"], r["status"])
        for r in runner.state(upto_wave=3).select("url", "status").collect()
    )
    assert got3 == want3  # time travel to wave 3 still resolves after expiry
    assert runner.state(upto_wave=4).count() == runner.state().count()
    # K below the oldest surviving checkpoint: nothing can safely expire
    assert runner.expire_snapshots(keep_waves_after=1) == []


def test_robots_multiple_matching_groups_combined():
    """RFC 9309 §2.2.1: ALL groups matching the same agent combine — a second
    'User-agent: ccbot' group later in the file must not be ignored.  The
    crawl delay merges as max (conservative politeness)."""
    body = (
        "User-agent: ccbot\nDisallow: /a/\nCrawl-delay: 1\n\n"
        "User-agent: *\nDisallow: /x/\n\n"
        "User-agent: ccbot\nDisallow: /b/\nAllow: /b/ok/\nCrawl-delay: 3\n"
    )
    rows = parse_robots_txt("h.example", body, agent="ccbot")
    assert {(r["path_prefix"], r["allowed"]) for r in rows} == {
        ("/a/", False), ("/b/", False), ("/b/ok/", True)}
    assert all(r["crawl_delay_s"] == 3.0 for r in rows)
    # multiple '*' groups combine too (unknown agent falls through to them);
    # the specific-agent groups still fully override '*' (no cross-merge)
    body2 = "User-agent: *\nDisallow: /x/\n\nUser-agent: *\nDisallow: /y/\n"
    assert {(r["path_prefix"], r["allowed"]) for r in parse_robots_txt(
        "h.example", body2, agent="nobody")} == {("/x/", False), ("/y/", False)}
    assert {(r["path_prefix"], r["allowed"]) for r in parse_robots_txt(
        "h.example", body, agent="nobody")} == {("/x/", False)}


def test_page_sink_rejects_payloadless_fetcher(spark, tmp_path):
    """ADVICE r2: page_sink_dir + a legacy 3-tuple fetcher must fail fast
    instead of silently sinking html=None for every page."""
    runner = WaveRunner(
        spark, str(tmp_path / "ps"), per_host_budget=4, nsalt=2,
        use_robots=False, fetcher=lambda u, r: (True, 1, 100),
        page_sink_dir=str(tmp_path / "pages"),
    )
    runner.load_seeds(_seeds_df(spark, 20, seed=3))
    with pytest.raises(Exception, match="payload-returning fetcher"):
        runner.run_wave()


def test_wave_order_two_phase_exact(spark):
    """VERDICT r2 #7: wave_order must not be a no-partition global window.
    The range-partitioned two-phase sequence equals the serial global
    row_number exactly, and the data-sized window is partitioned by _pid
    (the only unpartitioned window runs over per-partition totals)."""
    import contextlib
    import io
    import re

    from commoncrawlnewsdataset_spark.frontier.politeness import wave_order

    seeds = with_frontier_keys(_seeds_df(spark, 400, seed=11))
    sel = politeness_rank(seeds, per_host_budget=5, nsalt=4)
    out = wave_order(sel)
    rows = out.collect()
    assert sorted(r["wave_seq"] for r in rows) == list(range(1, len(rows) + 1))
    ordered = sorted(
        rows, key=lambda r: (r["rank"], -r["priority"], r["discovered_ts"], r["url"])
    )
    assert [r["wave_seq"] for r in ordered] == list(range(1, len(rows) + 1))

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "rangepartitioning" in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and any("_pid" in s for s in specs), plan


def test_rules_from_crawled_robots_bodies(spark):
    """The rules dimension can be built from crawled robots.txt bodies
    (mapInPandas parse per host) and gates the frontier identically to
    hand-built rules."""
    from commoncrawlnewsdataset_spark.frontier.robots import rules_from_robots_pages

    bodies = spark.createDataFrame(
        [
            ("a.example", "User-agent: ccbot\nDisallow: /private/\nCrawl-delay: 2\n"),
            ("b.example", "User-agent: *\nDisallow: /\n"),
            ("c.example", ""),  # no robots.txt -> no rules -> fully allowed
        ],
        ["host", "body"],
    )
    rules = rules_from_robots_pages(bodies, agent="ccbot")
    got = {(r["host"], r["path_prefix"], r["allowed"]) for r in rules.collect()}
    assert got == {("a.example", "/private/", False), ("b.example", "/", False)}
    seeds = with_frontier_keys(spark.createDataFrame(
        [(u,) for u in (
            "https://a.example/private/x", "https://a.example/public/x",
            "https://b.example/anything", "https://c.example/ok")], ["url"]))
    kept = sorted(r["url"] for r in gate_by_robots(seeds, rules).collect())
    assert kept == ["https://a.example/public/x", "https://c.example/ok"]


def test_reprioritize_with_pagerank_scores(spark, tmp_path):
    """Close the loop graph -> priority queue: reprioritize() the frontier
    with per-host PageRank scores; the next wave's politeness selection
    follows the new importance order."""
    from commoncrawlnewsdataset_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        # h2 absorbs h1's whole rank plus half of h0's; h1 gets only half of
        # h0's; h0 gets only the dangling redistribution -> strict order
        [("h0", "h1"), ("h0", "h2"), ("h1", "h2")],
        ["src", "dst"],
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, n_iter=5).collect()}
    assert ranks["h2"] > ranks["h1"] > ranks["h0"]

    urls = [(f"https://{h}.example.org/p/{i}", 0.5, dt.datetime(2024, 1, 1))
            for h in ("h0", "h1", "h2") for i in range(3)]
    runner = WaveRunner(spark, str(tmp_path / "pr"), per_host_budget=9, nsalt=2,
                        use_robots=False)
    runner.load_seeds(spark.createDataFrame(urls, SEEDS_SCHEMA))

    mapping = F.create_map(
        *[x for h, r in ranks.items() for x in (F.lit(f"{h}.example.org"), F.lit(r))]
    )
    n = runner.reprioritize(lambda pending: F.coalesce(mapping[F.col("host")], F.lit(0.0)))
    assert n == 9
    sel = runner.select_wave().df.collect()
    by_host = {r["host"]: r["priority"] for r in sel}
    assert (by_host["h2.example.org"] > by_host["h1.example.org"]
            > by_host["h0.example.org"])


def test_politeness_debt_batch_fold(spark):
    """The JVM-side F.aggregate fold computes the debt recurrence exactly
    (hand-replayed), including banked credit raising a later allowance."""
    from commoncrawlnewsdataset_spark.frontier.politeness import politeness_debt_batch

    rows = [("slow.example", b, i) for b, n in [(0, 5), (1, 1), (2, 2), (3, 7)]
            for i in range(n)]
    rows += [("fast.example", b, i) for b, n in [(0, 10), (1, 40)] for i in range(n)]
    req = spark.createDataFrame(rows, ["host", "batch", "i"])
    out = {r["host"]: r.asDict() for r in politeness_debt_batch(
        req, "host", "batch", {"slow.example": 10.0},
        batch_seconds=30.0, default_delay=1.0).collect()}

    def replay(ns, delay):
        carry, req_c, gr = 0.0, 0, 0
        for n in ns:
            allowed = int((30.0 + carry) // delay)
            g = min(n, allowed)
            carry = min(30.0, 30.0 + carry - g * delay)
            req_c += n
            gr += g
        return req_c, gr, carry

    r, g, c = replay([5, 1, 2, 7], 10.0)
    s = out["slow.example"]
    assert (s["n_requested"], s["n_granted"], s["carry_s"]) == (r, g, c)
    assert s["n_deferred"] == r - g > 0  # debt actually bit
    r, g, c = replay([10, 40], 1.0)
    f = out["fast.example"]
    assert (f["n_requested"], f["n_granted"], f["n_deferred"]) == (r, g, 0)


def test_requeue_failed_bounded_retries(spark, tmp_path):
    """Second-chance scheduling: failed urls go back to pending and are
    retried by later waves, attempts accumulate ACROSS waves, and a
    persistently dead url exhausts max_attempts and stays failed."""
    def flaky(url, max_retries):
        # /bad/ urls always fail after 2 attempts; everything else succeeds
        return ("/bad/" not in url, 2, 100)

    urls = [f"https://h0.example.org/{'bad' if i % 4 == 0 else 'ok'}/{i:03d}"
            for i in range(24)]
    runner = WaveRunner(spark, str(tmp_path / "rq"), per_host_budget=50,
                        nsalt=2, use_robots=False, fetcher=flaky)
    runner.load_seeds(_parity_seeds(spark, urls))
    runner.run_wave()
    failed = runner.state().filter("status = 'failed'")
    assert failed.count() == 6
    assert {r["attempts"] for r in failed.collect()} == {2}

    assert runner.requeue_failed(max_attempts=5) == 6
    assert runner.state().filter("status = 'pending'").count() == 6
    runner.run_wave()  # retry: fails again, attempts now 2 + 2 = 4
    failed = runner.state().filter("status = 'failed'")
    assert {r["attempts"] for r in failed.collect()} == {4}

    assert runner.requeue_failed(max_attempts=5) == 6  # 4 < 5: one more chance
    runner.run_wave()  # attempts 6
    assert {r["attempts"] for r in runner.state().filter("status = 'failed'").collect()} == {6}
    assert runner.requeue_failed(max_attempts=5) == 0  # budget exhausted
    # successes were never re-fetched
    assert runner.state().filter("status = 'fetched'").count() == 18


def test_adaptive_budgets_back_off_failing_hosts(spark, tmp_path):
    """AIMD politeness: a host that failed its whole last wave gets its
    next-wave budget cut to min_budget, healthy hosts keep the base."""
    def flaky(url, max_retries):
        return ("sick" not in url, 2, 100)

    urls = [f"https://{h}.example.org/a/{i:03d}"
            for h in ("good", "sick") for i in range(12)]
    runner = WaveRunner(spark, str(tmp_path / "ad"), per_host_budget=4,
                        nsalt=2, use_robots=False, fetcher=flaky,
                        adaptive_budgets=True)
    runner.load_seeds(_parity_seeds(spark, urls))
    runner.run_wave()  # wave 1: both hosts get 4; sick fails all 4
    runner.run_wave()  # wave 2: sick's budget = max(1, floor(4*(1-1))) = 1
    w2 = spark.read.parquet(str(tmp_path / "ad" / "wave=00002" / "delta.parquet"))
    by_host = {r["host"]: r["n"] for r in
               w2.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert by_host == {"good.example.org": 4, "sick.example.org": 1}


def test_html_link_discovery_crawl(spark, tmp_path):
    """The REAL crawl loop: wave N's fetched html is parsed for <a href>
    links (scan-stage regexp, sink-backed rows) and wave N+1 fetches the
    discovered urls — BFS over a deterministic 5-page site from a single
    seed, with relative/protocol-relative resolution and non-http schemes
    dropped."""
    from commoncrawlnewsdataset_spark.frontier.links import make_html_link_expander

    site = {
        "https://w.example/a": ["/b", "https://w.example/c"],
        "https://w.example/b": ["/c", "/d", "mailto:x@y.example", "#frag"],
        "https://w.example/c": [],
        "https://w.example/d": ["//w.example/e"],
        "https://w.example/e": [],
    }

    def site_fetch(url, max_retries):
        links = site.get(url)
        if links is None:
            return False, 1, 0, None
        body = ("<html><body>"
                + "".join(f'<a href="{x}">x</a>' for x in links)
                + "<p>page body</p></body></html>")
        return True, 1, len(body), body.encode()

    runner = WaveRunner(
        spark, str(tmp_path / "site"), per_host_budget=10, nsalt=2,
        use_robots=False, fetcher=site_fetch,
        page_sink_dir=str(tmp_path / "pages"),
        link_expander=make_html_link_expander(),
    )
    runner.load_seeds(_parity_seeds(spark, ["https://w.example/a"]))
    manifests = runner.run(max_waves=10)

    fetched = {r["url"]: r["wave"] for r in
               runner.state().filter("status = 'fetched'").collect()}
    assert set(fetched) == set(site)  # every reachable page crawled
    # BFS depth: a=1, b/c=2 (linked from a), d=3 (from b), e=4 (from d)
    assert fetched["https://w.example/a"] == 1
    assert fetched["https://w.example/b"] == fetched["https://w.example/c"] == 2
    assert fetched["https://w.example/d"] == 3
    assert fetched["https://w.example/e"] == 4
    # mailto/#frag never entered the frontier
    assert runner.state().filter("url like '%mailto%'").count() == 0
    waves_run = [m for m in manifests if not m.get("done")]
    assert len(waves_run) == 4


def test_bloom_probe_word_array_plan_shape(spark):
    """Regression lock for the round-3 probe rewrite: the bit tests must be
    integer ops over the word array (element_at + getbit) — the binary-blob
    form (substring -> hex -> conv -> pow per test) measured ~30x slower at
    10^6 candidates and must not come back."""
    import contextlib
    import io

    seeds = with_frontier_keys(_seeds_df(spark, 300)).select("url").distinct()
    fetched = seeds.limit(50)
    out = url_seen_gate(seeds, None, fetched)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.df.explain("formatted")
    plan = buf.getvalue().lower()
    assert "getbit" in plan
    assert "element_at" in plan
    for slow in ("conv(", "hex(", "power("):
        assert slow not in plan, f"slow bit-test op {slow} back in the probe plan"


def test_extract_links_guards_malformed_relative(spark):
    """ADVICE r3: relative hrefs on a page whose OWN url is not http(s)
    must drop (null), not concat an empty scheme/origin into a malformed
    '://host/x' that would pass the not-null filter into the frontier."""
    from commoncrawlnewsdataset_spark.frontier.links import extract_links

    html = (b'<a href="//cdn.example/a">p</a>'
            b'<a href="/rel">r</a>'
            b'<a href="https://abs.example/x">ok</a>')
    pages = spark.createDataFrame(
        [("https://good.example/page", html),
         ("file:///local/page", html),          # non-http source url
         ("not a url at all", html)],
        "url string, html binary",
    )
    edges = {(r["src"], r["dst"]) for r in extract_links(pages).collect()}
    assert edges == {
        ("https://good.example/page", "https://cdn.example/a"),
        ("https://good.example/page", "https://good.example/rel"),
        ("https://good.example/page", "https://abs.example/x"),
        # non-http sources keep ONLY the absolute link
        ("file:///local/page", "https://abs.example/x"),
        ("not a url at all", "https://abs.example/x"),
    }
    assert not any(d.startswith("://") or "//cdn" in d and d.startswith(":")
                   for _, d in edges)


def test_pagerank_kill_and_resume(spark, tmp_path):
    """VERDICT r3 #7: with checkpoint_dir, pagerank spills ranks per
    iteration into _SUCCESS-marked round dirs, and a re-run over the same
    dir RESUMES from the newest committed iteration to a bit-identical
    result (per-iteration 10-dp rounding makes the fixpoint reproducible)."""
    import os
    import shutil

    from commoncrawlnewsdataset_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
        "src string, dst string",
    )
    want = {r["node"]: r["rank"] for r in pagerank(edges, n_iter=6).collect()}

    ckpt = str(tmp_path / "pr")
    # "killed" run: only 3 of 6 iterations complete and spill
    pagerank(edges, n_iter=3, checkpoint_dir=ckpt, checkpoint_every=1).collect()
    committed = sorted(d for d in os.listdir(ckpt) if d.startswith("round="))
    assert committed == ["round=00000", "round=00001", "round=00002"]

    # resume: must pick up AFTER round 2, not restart — prove it by
    # corrupting what a restart would need (round 0/1 spills removed)
    shutil.rmtree(os.path.join(ckpt, "round=00000"))
    shutil.rmtree(os.path.join(ckpt, "round=00001"))
    got = {r["node"]: r["rank"] for r in
           pagerank(edges, n_iter=6, checkpoint_dir=ckpt,
                    checkpoint_every=1).collect()}
    assert got == want
    # and the resumed run committed exactly the missing iterations
    assert sorted(d for d in os.listdir(ckpt) if d.startswith("round=")) == [
        "round=00002", "round=00003", "round=00004", "round=00005",
    ]


def test_crawl_order_returns_ordered_dataframe(spark, tmp_path):
    """VERDICT r3 #5: crawl_order is a DataFrame (no driver-side collect on
    a production surface) carrying a global seq that follows the
    deterministic order contract: wave, then priority DESC, ts, url."""
    from pyspark.sql import DataFrame as SparkDF

    runner = WaveRunner(
        spark, str(tmp_path / "co"), per_host_budget=4, nsalt=2,
        use_robots=False, fetcher=lambda u, r: (True, 1, 10),
    )
    urls = [f"https://h{i % 3}.example.org/p/{i}" for i in range(24)]
    runner.load_seeds(_parity_seeds(spark, urls))
    runner.run_wave()
    runner.run_wave()
    out = runner.crawl_order()
    assert isinstance(out, SparkDF)
    rows = out.collect()  # test-scale collect, ON the test side
    assert [r["seq"] for r in rows] == list(range(1, len(rows) + 1))
    keys = [(r["wave"], -r["priority"], r["discovered_ts"], r["url"]) for r in rows]
    assert keys == sorted(keys)
    assert {r["url"] for r in rows} <= set(urls)

    # VERDICT r4 #3 plan lock: seq comes from the range-partitioned
    # two-phase rank — the full-data row_number window must be partitioned
    # (by the range-partition id), with the range exchange in the plan; a
    # bare Window.orderBy would funnel every url through one task
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "rangepartitioning" in plan.lower(), plan
    import re

    specs = re.findall(r"windowspecdefinition\(([^,)]+)[,)]", plan)
    assert specs, plan
    for first_arg in specs:
        # in an UNpartitioned spec the first argument is a sort key
        # (carries ASC/DESC); partitioned specs lead with bare columns.
        # Blessed exception: the offset window ordered by _pid — it runs
        # over the one-row-per-partition totals, bounded by the partition
        # count, never by the data.
        if first_arg.strip().startswith("_pid#"):
            continue
        assert " ASC" not in first_arg and " DESC" not in first_arg, (
            "unpartitioned window over full data:\n" + plan
        )
    # and the seq rank itself is the two-phase _pid form
    assert any("_pid" in s for s in specs), plan


def test_no_unpartitioned_window_in_package():
    """Source-level guard for VERDICT r4 #3: the only Window.orderBy
    (no partitionBy) sites in the package are the two blessed offset
    windows over one-row-per-partition totals (ranged_row_number and
    packing's global cumsum) — any new bare global window is a
    single-task funnel at 10^10 rows and must use ranged_row_number."""
    import pathlib

    import commoncrawlnewsdataset_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for py in root.rglob("*.py"):
        for ln, line in enumerate(py.read_text().splitlines(), 1):
            if "Window.orderBy" in line and "#" != line.lstrip()[:1]:
                # blessed: the offset window over one-row-per-partition
                # totals, always spelled Window.orderBy("_pid")
                if '"_pid"' not in line:
                    rel = str(py.relative_to(root))
                    offenders.append(f"{rel}:{ln}: {line.strip()}")
    assert not offenders, (
        "bare Window.orderBy over data columns (use ranged_row_number):\n"
        + "\n".join(offenders)
    )


def test_extract_links_survives_invalid_utf8(spark):
    """Real crawl bytes are routinely malformed: a page with invalid UTF-8
    must not kill the job (ANSI decode() raises) — links in the valid
    portion are still extracted."""
    from commoncrawlnewsdataset_spark.frontier.links import extract_links

    bad = b'\xff\xfe<a href="https://x.example/a">ok</a>\x80\x81<a href="/rel">r</a>'
    pages = spark.createDataFrame(
        [("https://s.example/p", bad)], "url string, html binary"
    )
    got = {r["dst"] for r in extract_links(pages).collect()}
    assert got == {"https://x.example/a", "https://s.example/rel"}


def test_sitemap_seeds_survive_garbage_lastmod(spark):
    """A malformed <lastmod> (hostile/sloppy webmasters) must yield NULL
    discovered_ts, not an ANSI cast failure that kills the seed ingest."""
    from commoncrawlnewsdataset_spark.frontier.sitemaps import sitemap_seed_urls

    xml = ("<urlset>"
           "<url><loc>https://h.example/good</loc>"
           "<lastmod>2024-02-03</lastmod></url>"
           "<url><loc>https://h.example/bad</loc>"
           "<lastmod>not-a-date</lastmod></url>"
           "</urlset>")
    rows = {r["url"]: r["discovered_ts"] for r in sitemap_seed_urls(
        spark.createDataFrame([("h.example", xml)], "host string, body string")
    ).collect()}
    assert rows["https://h.example/good"] is not None
    assert rows["https://h.example/bad"] is None


def test_robots_crawl_delay_rejects_nan_inf(spark):
    """float() parses 'nan'/'inf': a hostile Crawl-delay must not poison the
    politeness math (nan breaks max(); inf starves the host forever) —
    non-finite and negative delays are ignored, huge ones clamp to a day."""
    from commoncrawlnewsdataset_spark.frontier.robots import parse_robots_txt

    def delay_of(body):
        rules = parse_robots_txt("h.example", body)
        return rules[0]["crawl_delay_s"] if rules else None

    assert delay_of("User-agent: *\nCrawl-delay: nan\nDisallow: /x\n") is None
    assert delay_of("User-agent: *\nCrawl-delay: inf\nDisallow: /x\n") is None
    assert delay_of("User-agent: *\nCrawl-delay: -5\nDisallow: /x\n") is None
    assert delay_of("User-agent: *\nCrawl-delay: 1e308\nDisallow: /x\n") == 86400.0
    assert delay_of("User-agent: *\nCrawl-delay: 2.5\nDisallow: /x\n") == 2.5


def test_cli_maintain_compacts_and_preserves_resume(spark, tmp_path, capsys):
    """`cli maintain --expire` compacts the frontier state and drops covered
    deltas; lineage (manifests) survives, and the state still resolves for
    a subsequent crawl resume — the cron-style maintenance path."""
    import json as js

    from commoncrawlnewsdataset_spark import cli

    runner = WaveRunner(
        spark, str(tmp_path / "st"), per_host_budget=10, nsalt=2,
        use_robots=False, fetcher=lambda u, r: (True, 1, 10),
    )
    urls = [f"https://h{i % 2}.example.org/p/{i}" for i in range(20)]
    runner.load_seeds(_parity_seeds(spark, urls))
    runner.run_wave()
    runner.run_wave()

    cli.main(["maintain", "--state", str(tmp_path / "st"), "--expire"])
    out = js.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["compacted_at_wave"] >= 0 and out["expired_waves"] >= 1

    # the compacted state is still the full truth
    st = runner.state()
    assert st.filter(F.col("status") == "fetched").count() == 20
    # and maintain on an empty dir reports instead of raising
    cli.main(["maintain", "--state", str(tmp_path / "empty")])
    err = js.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "error" in err


def _bucketed_runner(spark, path, bucket_state):
    from pyspark.sql import functions as F2

    def expander(fetched):
        return fetched.select(
            F2.concat(F2.col("url"), F2.lit("/child")).alias("url"),
            F2.lit(0.5).alias("priority"),
            F2.col("discovered_ts"),
        )

    return WaveRunner(
        spark, path, per_host_budget=6, nsalt=2, use_robots=False,
        link_expander=expander, fetcher=lambda u, r: (True, 1, 10),
        bucket_state=bucket_state,
    )


def test_bucketed_state_parity_and_resume(spark, tmp_path):
    """VERDICT r4 #4: the bucketed checkpoint is a pure layout change —
    wave-by-wave manifests and the final resolved state are identical to
    an uncompacted twin that resolves from its deltas alone (same seeds,
    same discovery), across a compact() in the middle; and after the
    catalog entry is lost (new-session analog) state() still resolves by
    re-registering the bucketed table from the files."""
    urls = [f"https://b{i % 4}.example.org/p/{i}" for i in range(40)]

    twin = _bucketed_runner(spark, str(tmp_path / "twin"), 8)
    buck = _bucketed_runner(spark, str(tmp_path / "buck"), 8)
    for r in (twin, buck):
        r.load_seeds(_parity_seeds(spark, urls))
        r.run_wave()
        r.run_wave()
        if r is buck:
            r.compact()
        r.run_wave()

    def snap(r):
        return sorted(
            (x["url"], x["status"], x["wave"], x["attempts"])
            for x in r.state().collect()
        )

    assert snap(twin) == snap(buck)
    for w in range(1, 4):
        mp, mb = twin.read_manifest(w), buck.read_manifest(w)
        for k in ("n_selected", "n_fetched", "n_failed", "n_discovered"):
            assert mp.get(k) == mb.get(k), (w, k)

    # bloom shards + meta persisted at the checkpoint
    import os

    ckpt = buck._checkpoint_dir(buck.committed_checkpoints()[-1])
    assert os.path.exists(os.path.join(ckpt, "bloom_meta.json"))
    assert os.path.isdir(os.path.join(ckpt, "bloom.parquet"))

    # catalog-loss resume: drop the table, a fresh read re-registers it
    tbl = buck._ckpt_table_name(buck.committed_checkpoints()[-1], 8)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    assert snap(buck) == snap(twin)
    assert spark.catalog.tableExists(tbl)  # re-registered from files
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_bucketed_state_gate_joins_exchange_free(spark, tmp_path):
    """Plan lock for VERDICT r4 #4: with a bucketed checkpoint, the URL-seen
    exact backstop and the discovery gate join the frontier-sized side as a
    bucketed scan — SortMergeJoin LeftAnti with NO Exchange and NO Sort on
    the checkpoint side (the only Exchange is the wave-bounded candidate
    side).  Locked by diffing Exchange counts against the same plan over a
    plain-parquet checkpoint, which must shuffle MORE."""
    import contextlib
    import io

    buck = _bucketed_runner(spark, str(tmp_path / "bk"), 8)
    urls = [f"https://c{i % 4}.example.org/p/{i}" for i in range(40)]
    buck.load_seeds(_parity_seeds(spark, urls))
    buck.run_wave()
    buck.compact()
    buck.run_wave()

    snap = buck._snapshot_parts()
    ckpt_wave = snap.ckpt_wave
    assert snap.ckpt is not None and ckpt_wave is not None
    big = snap.ckpt.filter(F.col("status") == "fetched").select("url")
    small = snap.deltas.select("url") if snap.deltas is not None else None

    def gate(big_side):
        return url_seen_gate(
            cands, big_side, small, recent_bound=snap.delta_bound,
            broadcast_max=buck.broadcast_delta_max, bloom=False,
        ).df

    cands = spark.createDataFrame(
        [(u + "/new",) for u in urls], "url string"
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        import re

        def shuffle_exchanges(df):
            b = io.StringIO()
            with contextlib.redirect_stdout(b):
                df.explain("formatted")
            p = b.getvalue()
            # node-detail headers: "(16) Exchange" = shuffle;
            # "(14) BroadcastExchange" deliberately NOT counted
            return p, len(re.findall(r"\(\d+\) Exchange\b", p))

        plan, n_exchange_bucketed = shuffle_exchanges(gate(big))
        assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan
        assert "ccn_state_" in plan, plan  # right side IS the bucketed table
        # the checkpoint-side subtree (between the SMJ's right Sort and the
        # bucketed scan) carries no Exchange: the only shuffles are the
        # candidate side of the SMJ and the O(delta) latest-record window
        assert n_exchange_bucketed == 2, plan

        # negative control: same gate over the checkpoint read as PLAIN
        # parquet must shuffle the checkpoint side too
        import os

        plain_ckpt = spark.read.parquet(
            os.path.join(buck._checkpoint_dir(ckpt_wave), "state.parquet")
        )
        big_plain = plain_ckpt.filter(F.col("status") == "fetched").select("url")
        plan2, n_exchange_plain = shuffle_exchanges(gate(big_plain))
        assert n_exchange_plain == n_exchange_bucketed + 1, (
            f"bucketed={n_exchange_bucketed} plain={n_exchange_plain}\n" + plan2
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {buck._ckpt_table_name(ckpt_wave, 8)}")


def test_bucketed_state_bucket_count_is_persisted(spark, tmp_path):
    """r5 review regression: the checkpoint's bucket count is recorded at
    write time and used on re-register — a runner restarted with a
    DIFFERENT bucket_state must not register the files under the wrong
    layout, and re-compacting the same wave under it is a no-op.  A
    legacy checkpoint without bucket_meta.json reads as plain parquet."""
    import dataclasses
    import json
    import os

    buck = _bucketed_runner(spark, str(tmp_path / "bm"), 8)
    urls = [f"https://m{i % 4}.example.org/p/{i}" for i in range(30)]
    buck.load_seeds(_parity_seeds(spark, urls))
    buck.run_wave()
    buck.compact()
    ckpt = buck.committed_checkpoints()[-1]
    meta_path = os.path.join(buck._checkpoint_dir(ckpt), "bucket_meta.json")
    assert json.load(open(meta_path)) == {"n_buckets": 8}

    # restart with bucket_state=64: reads must use the FILES' count (8)
    spark.sql(f"DROP TABLE IF EXISTS {buck._ckpt_table_name(ckpt, 8)}")
    resumed = dataclasses.replace(buck, bucket_state=64)
    snap = sorted((r["url"], r["status"]) for r in resumed.state().collect())
    want = sorted((r["url"], r["status"]) for r in buck.state().collect())
    assert snap == want  # layout metadata never changes the data
    assert spark.catalog.tableExists(resumed._ckpt_table_name(ckpt, 8))
    assert not spark.catalog.tableExists(resumed._ckpt_table_name(ckpt, 64))

    # re-compacting the checkpointed wave under 64 buckets is a no-op:
    # files, meta and the registered count all stay at 8
    success = os.path.join(buck._checkpoint_dir(ckpt), "state.parquet", "_SUCCESS")
    mtime = os.path.getmtime(success)
    assert resumed.compact(ckpt) == ckpt
    assert os.path.getmtime(success) == mtime
    assert json.load(open(meta_path)) == {"n_buckets": 8}
    assert sorted((r["url"], r["status"]) for r in resumed.state().collect()) == want
    assert not spark.catalog.tableExists(resumed._ckpt_table_name(ckpt, 64))

    # legacy checkpoint (written plain, no bucket_meta.json): state() reads
    # the files as plain parquet and registers nothing
    spark.sql(f"DROP TABLE IF EXISTS {buck._ckpt_table_name(ckpt, 8)}")
    os.remove(meta_path)
    assert resumed._ckpt_bucket_count(ckpt) is None
    assert sorted((r["url"], r["status"]) for r in resumed.state().collect()) == want
    assert not spark.catalog.tableExists(resumed._ckpt_table_name(ckpt, 8))


def test_bucket_state_rejects_plain_layout(tmp_path):
    """Every checkpoint is url-bucketed: no bucket count means no runner."""
    import pytest as _pytest

    for bad in (None, 0, -4):
        with _pytest.raises(ValueError, match="bucket_state"):
            WaveRunner(None, str(tmp_path / "s"), bucket_state=bad)


def test_compact_drops_superseded_catalog_tables(spark, tmp_path):
    """ADVICE r5: each bucketed compact() unregisters the previous
    checkpoints' catalog entries for THIS state dir (metadata only — the
    parquet files and older-snapshot reads keep working), so long sessions
    don't accumulate stale external tables; other state dirs' entries are
    untouched; and a state dir containing a single quote fails loud before
    reaching the SQL literal."""
    import zlib

    runner = _bucketed_runner(spark, str(tmp_path / "drop"), 8)
    other = _bucketed_runner(spark, str(tmp_path / "other"), 8)
    urls = [f"https://h{i % 3}.example.org/d/{i}" for i in range(24)]
    for r in (runner, other):
        r.load_seeds(_parity_seeds(spark, urls))
        r.run_wave()
        r.compact()
    tag = zlib.crc32(str(tmp_path / "drop").encode()) & 0xFFFFFFFF
    prefix = f"ccn_state_{tag:08x}_"
    runner.state().count()  # registers ckpt table for wave 1
    assert any(t.name.startswith(prefix) for t in spark.catalog.listTables())

    runner.run_wave()
    runner.compact()
    runner.state().count()
    mine = [t.name for t in spark.catalog.listTables() if t.name.startswith(prefix)]
    assert len(mine) == 1 and mine[0].startswith(f"{prefix}00002")
    # the other state dir's entry survives
    otag = zlib.crc32(str(tmp_path / "other").encode()) & 0xFFFFFFFF
    other.state().count()
    assert any(t.name.startswith(f"ccn_state_{otag:08x}_") for t in spark.catalog.listTables())
    # older snapshots still resolve (files untouched, table re-registered)
    assert runner.state(upto_wave=1).count() > 0

    import dataclasses
    import os
    import pytest as _pytest

    quoted_dir = str(tmp_path / "qu'ote")
    os.makedirs(quoted_dir, exist_ok=True)
    q = dataclasses.replace(runner, state_dir=quoted_dir)
    q.load_seeds(_parity_seeds(spark, urls[:6]))
    q.run_wave()
    q.compact()  # saveAsTable path-option API: quoting safe here
    qtag = zlib.crc32(os.path.abspath(quoted_dir).encode()) & 0xFFFFFFFF
    for t in spark.catalog.listTables():  # simulate a fresh session
        if t.name.startswith(f"ccn_state_{qtag:08x}_"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    with _pytest.raises(ValueError, match="single quote"):
        q.state().count()  # re-registration interpolates LOCATION


def test_load_seeds_bare_url_list(spark, tmp_path):
    """A seed set can be a bare url list (the reference's seed files are one
    url per line): priority/discovered_ts default to deterministic constants
    and the bootstrap dedups + schedules exactly as with the full schema."""
    urls = [f"https://s{i % 3}.example.org/p/{i}" for i in range(12)]
    bare = spark.createDataFrame([(u,) for u in urls + urls[:4]], ["url"])
    r = WaveRunner(
        spark, str(tmp_path / "bare"), per_host_budget=10, nsalt=2,
        use_robots=False, fetcher=lambda u, rr: (True, 1, 10),
    )
    r.load_seeds(bare)
    st = r.state().collect()
    assert len(st) == 12  # duplicates collapsed
    assert {row["status"] for row in st} == {"pending"}
    assert {row["priority"] for row in st} == {0.0}
    m = r.run_wave()
    assert m["n_fetched"] == 12


def test_run_loop_compaction_cadence_matches_manual(spark, tmp_path):
    """The CLI-facing run(compact_every=N, expire=True) loop is behaviorally
    identical to an uncompacted run (same per-wave manifests, same final
    resolved state) while actually producing checkpoints and expiring the
    covered deltas — and a fresh runner resumes from the compacted dir."""
    import dataclasses
    import os as _os

    urls = [f"https://c{i % 4}.example.org/p/{i}" for i in range(48)]
    plain = _bucketed_runner(spark, str(tmp_path / "plain"), 8)
    auto = _bucketed_runner(spark, str(tmp_path / "auto"), 8)
    plain.load_seeds(_parity_seeds(spark, urls))
    auto.load_seeds(_parity_seeds(spark, urls))

    base = plain.run(max_waves=4)
    cad = auto.run(max_waves=4, compact_every=2, expire=True)
    for mb, mc in zip(base, cad):
        assert (mb["wave"], mb["n_selected"], mb["n_fetched"]) == (
            mc["wave"], mc["n_selected"], mc["n_fetched"])
    # checkpoints exist and the covered deltas are gone
    assert auto.committed_checkpoints(), "cadence produced no checkpoint"
    assert any(m.get("expired_waves") for m in cad), "expiry never ran"
    gone = [w for m in cad for w in m.get("expired_waves", [])]
    for w in gone:
        assert not _os.path.isdir(
            _os.path.join(str(tmp_path / "auto"), f"wave={w:05d}", "delta.parquet")
        )
    # same resolved state as the uncompacted twin
    cols = ["url", "status", "wave"]
    assert sorted(map(tuple, plain.state().select(*cols).collect())) == sorted(
        map(tuple, auto.state().select(*cols).collect())
    )
    # fresh-session resume over the compacted+expired dir
    resumed = dataclasses.replace(auto)
    m = resumed.run_wave()
    assert m["wave"] == cad[-1]["wave"] + 1


def _head_twin_runners(spark, tmp_path, head_factor, urls, budget=3):
    runners = []
    for name, hf in (("full", 0), ("head", head_factor)):
        r = WaveRunner(
            spark, str(tmp_path / name), per_host_budget=budget, nsalt=2,
            use_robots=False, fetcher=simulated_fetch, bucket_state=4,
            head_factor=hf,
        )
        r.load_seeds(_parity_seeds(spark, urls))
        runners.append(r)
    return runners


def test_head_selection_equals_full_scan(spark, tmp_path):
    """VERDICT r6 #3: the candidate-head wave selection is EXACTLY the full
    O(pending) rank — wave by wave, across compactions, a reprioritize (all
    rows superseded -> provable fallback), a requeue, and frontier drain —
    with Zipf-skewed hosts so truncation genuinely binds (head H=2*budget
    drains after one wave and the validity rule must force fallback)."""
    # skewed hosts: h0 gets ~half the urls -> truncated at H; h3 tiny
    urls = [
        f"https://h{0 if i % 2 == 0 else (i % 4)}.example.org/p/{i:03d}"
        for i in range(80)
    ]
    full, head = _head_twin_runners(spark, tmp_path, head_factor=2, urls=urls)

    def step(fn_name, *args):
        for r in (full, head):
            getattr(r, fn_name)(*args)

    step("run_wave")
    step("compact")          # head written here (H = 2*3 = 6 per host)
    step("run_wave")         # head path: survivors 6 >= 3 -> used
    step("run_wave")         # survivors 3 >= 3 -> used
    step("run_wave")         # survivors 0 < 3 -> PROVEN fallback
    step("reprioritize", lambda df: F.pmod(F.col("url_hash"), F.lit(97)).cast("double"))
    step("run_wave")         # all pending superseded -> fallback, new order
    step("compact")
    step("run_wave")         # fresh head under the new priorities
    step("requeue_failed", 3)
    step("run_wave")
    for _ in range(12):      # drain to done on both
        if full.run_wave().get("done") | head.run_wave().get("done"):
            break

    cols = ["wave", "url", "status", "priority", "attempts"]
    a = sorted(map(tuple, full.state().select(*cols).collect()))
    b = sorted(map(tuple, head.state().select(*cols).collect()))
    assert a == b
    # manifests agree wave-for-wave, and the head actually engaged AND
    # actually fell back at least once each (the test exercises both paths)
    used = []
    for w in head.committed_waves():
        mf, mh = full.read_manifest(w), head.read_manifest(w)
        for k in ("n_selected", "n_fetched", "n_failed"):
            assert mf.get(k) == mh.get(k), (w, k)
        assert not mf.get("head_used", False)
        if "head_used" in mh:
            used.append(mh["head_used"])
    assert any(used), "head selection never engaged"
    assert not all(used), "fallback never exercised"
    # crawl order (the north-rule total order) is identical
    oc = ["wave", "seq", "url", "status"]
    assert (
        full.crawl_order().select(*oc).orderBy("seq").collect()
        == head.crawl_order().select(*oc).orderBy("seq").collect()
    )


def test_head_selection_with_robots_budgets_equals_full(spark, tmp_path):
    """Head selection under per-host crawl-delay budgets (robots +
    wave_seconds): validity must compare survivors against each host's
    OVERRIDE budget, not the default — equality holds wave-for-wave, and a
    host whose override exceeds its surviving head forces the proven
    fallback."""
    import pandas as pd

    robots = spark.createDataFrame(
        pd.DataFrame(
            [
                # h0: 1s delay -> budget floor(10/1)=10 (override > default 3!)
                {"host": "h0.example.org", "path_prefix": "/private/",
                 "allowed": False, "crawl_delay_s": 1.0},
                # h1: 5s delay -> budget 2 (stricter than default)
                {"host": "h1.example.org", "path_prefix": "/private/",
                 "allowed": False, "crawl_delay_s": 5.0},
            ]
        )
    )
    urls = [f"https://h{i % 3}.example.org/p/{i:03d}" for i in range(90)]
    runners = []
    for name, hf in (("full", 0), ("head", 4)):
        r = WaveRunner(
            spark, str(tmp_path / name), per_host_budget=3, nsalt=2,
            use_robots=True, robots_rules=robots, wave_seconds=10.0,
            fetcher=simulated_fetch, bucket_state=4, head_factor=hf,
        )
        r.load_seeds(_parity_seeds(spark, urls))
        runners.append(r)
    full, head = runners

    for fn, args in (("run_wave", ()), ("compact", ()), ("run_wave", ()),
                     ("run_wave", ()), ("run_wave", ())):
        for r in (full, head):
            getattr(r, fn)(*args)

    cols = ["wave", "url", "status", "attempts"]
    assert sorted(map(tuple, full.state().select(*cols).collect())) == sorted(
        map(tuple, head.state().select(*cols).collect())
    )
    used = [head.read_manifest(w).get("head_used") for w in head.committed_waves()]
    assert any(used), "head never engaged under robots budgets"


def test_compact_idempotent_and_head_files_written(spark, tmp_path):
    """compact() at an already-checkpointed wave with the same layout is a
    no-op (state.parquet untouched); the bucketed checkpoint carries
    head.parquet + head_counts.parquet + head_meta.json sized
    head_factor*budget."""
    import json as js
    import os

    r = WaveRunner(
        spark, str(tmp_path / "st"), per_host_budget=3, nsalt=2,
        use_robots=False, fetcher=simulated_fetch, bucket_state=4,
        head_factor=4,
    )
    urls = [f"https://h{i % 2}.example.org/p/{i:03d}" for i in range(60)]
    r.load_seeds(_parity_seeds(spark, urls))
    r.run_wave()
    upto = r.compact()
    ck = r._checkpoint_dir(upto)
    with open(os.path.join(ck, "head_meta.json")) as f:
        meta = js.load(f)
    assert meta["H"] == 12 and meta["base_wave"] == upto
    head = spark.read.parquet(os.path.join(ck, "head.parquet"))
    per_host = {x["host"]: x["n"] for x in
                head.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert all(n <= 12 for n in per_host.values()) and per_host
    counts = spark.read.parquet(os.path.join(ck, "head_counts.parquet"))
    # r8: head_counts additionally carries the per-host head depth
    # (head_factor × max(budget, crawl-delay override)) for the
    # truncation test; with no overrides it equals the uniform meta H
    assert {c for c in counts.columns} == {"host", "n_pending", "head_h"}
    assert all(r["head_h"] == meta["H"] for r in counts.collect())

    mtime = os.path.getmtime(os.path.join(ck, "state.parquet", "_SUCCESS"))
    assert r.compact(upto) == upto  # same wave, same layout -> no-op
    assert os.path.getmtime(os.path.join(ck, "state.parquet", "_SUCCESS")) == mtime


def test_head_partial_fallback_single_drained_host(spark, tmp_path):
    """r7.2: ONE truncated host draining its head triggers the PARTIAL
    path — candidate selection for the 29 valid hosts plus a full-scan leg
    restricted to the drained host — and the union equals the full-path
    twin exactly.  (With <=10 hosts any invalid host exceeds the 10%%
    partial bound, so this needs a wide host set.)"""
    # h0: 60 urls (truncated at H=6); h1..h29: 4 urls each (complete heads)
    urls = [f"https://h0.example.org/p/{i:03d}" for i in range(60)] + [
        f"https://h{1 + i % 29}.example.org/p/{i:03d}" for i in range(29 * 4)
    ]
    full, head = _head_twin_runners(spark, tmp_path, head_factor=2, urls=urls)
    for r in (full, head):
        r.run_wave()
        r.compact()
        r.run_wave()   # h0 head: 6 -> 3 survivors >= budget 3 -> pure head
        r.run_wave()   # h0 survivors 0 < 3 -> PARTIAL (1/30 hosts invalid)
        r.run_wave()

    cols = ["wave", "url", "status", "attempts"]
    assert sorted(map(tuple, full.state().select(*cols).collect())) == sorted(
        map(tuple, head.state().select(*cols).collect())
    )
    modes = [head.read_manifest(w).get("head_used")
             for w in head.committed_waves() if w >= 2]
    assert True in modes, f"pure-head wave missing: {modes}"
    assert "partial" in modes, f"partial wave missing: {modes}"
