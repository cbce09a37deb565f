"""Round-8 optimization equivalence tests.

Every r8 optimization is a plan change that must NOT change results:
- single-delta snapshot reads skip the latest-record window,
- a frontier whose manifests prove no fetched row skips the URL-seen gate,
- the recent-side broadcast hints follow one size rule (hint-on ≡
  hint-off, an unprovable bound drops the hint, and the URL-seen and
  discovery gates drop it past broadcast_delta_max),
- the URL-seen gate builds each bloom shard once per wave and records
  what it did in the wave manifest,
- with_sql_text_stats computes each split array once (same values),
- the quality_metrics_udf ASCII guard rides the lazy plan.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from commoncrawlnewsdataset_spark.frontier import core, waves
from commoncrawlnewsdataset_spark.frontier.core import broadcast_fits
from commoncrawlnewsdataset_spark.frontier.waves import WaveRunner, simulated_fetch


def _seed_df(spark, n=400, n_hosts=7):
    return spark.range(n).select(
        F.concat(
            F.lit("https://h"), (F.col("id") % n_hosts).cast("string"),
            F.lit(".example.org/p/"), F.col("id").cast("string"),
        ).alias("url"),
        (F.abs(F.hash(F.col("id").cast("string"))) % 1000 / 1000.0).alias("priority"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("id") % 977)
        ).alias("discovered_ts"),
    )


def _rows(df, cols=("url", "status", "wave")):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_snapshot_single_delta_no_window(spark, tmp_path):
    """state() over exactly one committed delta must equal the windowed
    resolution (the delta is unique-per-url by construction), and its plan
    must carry no window over the delta."""
    runner = WaveRunner(spark, str(tmp_path / "s"), per_host_budget=5,
                        use_robots=False, fetcher=simulated_fetch,
                        detailed_metrics=False)
    runner.load_seeds(_seed_df(spark))
    st = runner.state()
    plan = st._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "single-delta snapshot should skip the window"
    # equivalence vs the general path (force it by reading 2 waves later)
    runner.run_wave()
    st2 = runner.state(upto_wave=0)  # still single delta
    assert _rows(st2) == _rows(st)
    st_all = runner.state()  # two deltas -> windowed path
    assert "Window" in st_all._jdf.queryExecution().executedPlan().toString()
    # every url uniquely resolved either way
    assert st_all.groupBy("url").count().filter("count > 1").count() == 0


@pytest.mark.parametrize("bucket_state", [WaveRunner.bucket_state, 4])
def test_first_wave_skips_urlseen_gate_equivalently(
    spark, tmp_path, monkeypatch, bucket_state
):
    """Wave 1 after load_seeds: the manifests prove no fetched row, so the
    gate is the identity.  It must select exactly what the gated path
    selects, and the selection run_wave plans holds no URL-seen gate
    whatever the bucket count."""
    runner = WaveRunner(spark, str(tmp_path / "s"), per_host_budget=5,
                        use_robots=False, fetcher=simulated_fetch,
                        detailed_metrics=False, bucket_state=bucket_state)
    runner.load_seeds(_seed_df(spark))
    snap = runner._snapshot_parts()
    assert not snap.ckpt_fetched and not snap.deltas_fetched
    fast = runner.select_wave(snap)
    slow = runner.select_wave(snap._replace(deltas_fetched=True))
    cols = ("url", "rank")
    assert _rows(fast.df, cols) == _rows(slow.df, cols)
    assert fast.record == {"skipped": True} and not slow.record["skipped"]

    def has_gate(df):
        return "LeftAnti" in df._jdf.queryExecution().optimizedPlan().toString()

    assert has_gate(slow.df) and not has_gate(fast.df)
    for df in slow.cached:
        df.unpersist()
    # run_wave engages the fast path itself: its selection holds no gate
    # and commits the same selection as the gated one computed above
    planned = []
    select_wave = runner.select_wave

    def spy(*args, **kwargs):
        planned.append(select_wave(*args, **kwargs))
        return planned[-1]

    monkeypatch.setattr(runner, "select_wave", spy)
    manifest = runner.run_wave()
    assert len(planned) == 1 and not has_gate(planned[0].df)
    assert manifest["n_selected"] == len(_rows(slow.df, ("url",)))
    assert manifest["gates"]["url_seen"] == {"skipped": True}


def _mk_compacted_runner(spark, tmp_path, **kw):
    runner = WaveRunner(spark, str(tmp_path / "s"), per_host_budget=5,
                        use_robots=False, fetcher=simulated_fetch,
                        detailed_metrics=False, bucket_state=4, head_factor=0,
                        **kw)
    runner.load_seeds(_seed_df(spark))
    runner.run_wave()
    runner.compact()
    runner.run_wave()
    return runner


def test_broadcast_gate_hint_on_equals_hint_off(spark, tmp_path):
    """The size-gated delta broadcast (VERDICT r7 #1): state() with the
    hint engaged (bound <= max) equals state() with the hint dropped
    (broadcast_delta_max=0), wave-for-wave."""
    import dataclasses

    runner = _mk_compacted_runner(spark, tmp_path)
    on = runner.state()
    off_runner = dataclasses.replace(runner, broadcast_delta_max=0)
    off = off_runner.state()
    assert _rows(on, ("url", "status", "wave", "host")) == _rows(
        off, ("url", "status", "wave", "host")
    )
    # the rule actually flips the hint: bound is known and positive here
    bound = runner._snapshot_parts().delta_bound
    assert bound and bound > 0
    assert broadcast_fits(bound, runner.broadcast_delta_max)
    df = off.select("url")
    assert runner._hinted(df, bound) is not df
    # hint-off runner must not broadcast
    assert not broadcast_fits(bound, off_runner.broadcast_delta_max)
    assert off_runner._hinted(df, bound) is df  # unchanged, no hint


def test_broadcast_gate_unprovable_bound_drops_hint(spark, tmp_path):
    """A fork delta has no manifest row count -> bound None -> no hint,
    and state() still resolves correctly."""
    runner = _mk_compacted_runner(spark, tmp_path)
    forked = runner.fork(str(tmp_path / "fork"))
    forked.run_wave()
    forked.compact()
    forked.run_wave()
    # the fork's post-checkpoint waves have proper manifests, so bound is
    # provable again there; simulate the unprovable case directly:
    assert runner._manifest_bounds([0]) == (400, 0)  # seeded manifest
    assert forked._manifest_bounds([0]) == (None, None)  # forked_from manifest
    assert not broadcast_fits(None, forked.broadcast_delta_max)
    st = forked.state()
    assert st.groupBy("url").count().filter("count > 1").count() == 0


def test_delta_rows_bound_from_manifests(spark, tmp_path):
    """The manifest-derived bound covers every delta-writing path and never
    under-counts (it is an upper bound on resolved rows)."""
    runner = WaveRunner(spark, str(tmp_path / "s"), per_host_budget=5,
                        use_robots=False, fetcher=simulated_fetch,
                        detailed_metrics=False)
    runner.load_seeds(_seed_df(spark, n=100))
    runner.run_wave()
    runner.requeue_failed()
    runner.reprioritize(lambda df: F.col("priority") * 2)
    waves = runner.committed_waves()
    bound, fetched = runner._manifest_bounds(waves)
    deltas = [
        spark.read.parquet(os.path.join(runner._wave_dir(w), "delta.parquet"))
        for w in waves
    ]
    assert bound is not None and bound >= sum(d.count() for d in deltas)
    assert fetched == sum(d.filter("status = 'fetched'").count() for d in deltas) > 0


def _expander(fetched):
    """Two links per fetched page: a fresh child and a back-link into the
    seed url space."""
    h = F.abs(F.hash("url"))
    return fetched.select(
        F.explode(F.array(
            F.concat(F.col("url"), F.lit("/c")),
            F.concat(F.lit("https://h"), (h % 7).cast("string"),
                     F.lit(".example.org/p/"), (h % 500).cast("string")),
        )).alias("url"),
        (F.col("priority") / 2).alias("priority"),
        "discovered_ts",
    )


def test_gate_decisions_recorded_in_manifest(spark, tmp_path):
    """Every wave manifest records what the URL-seen and discovery gates
    did: skipped by the manifest proof, where the bloom came from, and
    whether the recent side was broadcast under which row bound."""
    kw = dict(per_host_budget=5, use_robots=False, fetcher=simulated_fetch,
              detailed_metrics=False, bucket_state=4, head_factor=0,
              link_expander=_expander)
    runner = WaveRunner(spark, str(tmp_path / "s"), **kw)
    runner.load_seeds(_seed_df(spark))

    def bound(upto, since=0):
        return runner._manifest_bounds(list(range(since, upto + 1)))[0]

    m1 = runner.run_wave()  # seed-only: nothing fetched yet
    assert m1["gates"]["url_seen"] == {"skipped": True}
    assert m1["gates"]["discovery"] == {
        "skipped": False, "bloom": None, "broadcast": True,
        "bound": bound(0) + m1["n_selected"],
    }
    m2 = runner.run_wave()  # before any checkpoint: shards built this wave
    assert m2["gates"]["url_seen"] == {
        "skipped": False, "bloom": "built", "broadcast": True, "bound": bound(1),
    }
    runner.compact()
    m3 = runner.run_wave()  # right after compaction: persisted shards only
    assert m3["gates"]["url_seen"] == {
        "skipped": False, "bloom": "persisted", "broadcast": None, "bound": 0,
    }
    m4 = runner.run_wave()  # persisted shards OR-ed with this wave's build
    assert m4["gates"]["url_seen"] == {
        "skipped": False, "bloom": "both", "broadcast": True, "bound": bound(3, 3),
    }
    off = WaveRunner(spark, str(tmp_path / "off"), broadcast_delta_max=0, **kw)
    off.load_seeds(_seed_df(spark))
    off.run_wave()
    m = off.run_wave()
    assert m["gates"]["url_seen"]["broadcast"] is False
    assert m["gates"]["discovery"]["broadcast"] is False
    assert m["n_selected"] == m2["n_selected"]


def test_bloom_shards_built_once_per_wave(spark, tmp_path, monkeypatch):
    """The URL-seen gate's union branches (definitely-new ∪ re-checked)
    both probe the shard set; each shard must still be BUILT once per
    wave — before any checkpoint and after one (persisted ∪ built)."""
    marks = tmp_path / "marks"
    marks.mkdir()
    build = core.build_bloom_shards

    def counting_build(*args, **kwargs):
        out_dir = str(marks)

        def mark(batches):
            import uuid

            for pdf in batches:
                for shard in pdf["shard"]:
                    open(os.path.join(out_dir, f"{shard}-{uuid.uuid4().hex}"), "w").close()
                yield pdf

        return build(*args, **kwargs).mapInPandas(mark, core.BLOOM_SHARD_SCHEMA)

    monkeypatch.setattr(core, "build_bloom_shards", counting_build)
    runner = WaveRunner(spark, str(tmp_path / "s"), per_host_budget=5,
                        use_robots=False, fetcher=simulated_fetch,
                        detailed_metrics=False, bucket_state=4, head_factor=0)
    runner.load_seeds(_seed_df(spark, n=1200, n_hosts=20))

    def builds_per_shard(step):
        for f in os.listdir(marks):
            os.remove(marks / f)
        step()
        return Counter(f.split("-")[0] for f in os.listdir(marks))

    assert builds_per_shard(runner.run_wave) == Counter()  # gate skipped
    for wave in (2, 4):
        built = builds_per_shard(runner.run_wave)
        assert built and set(built.values()) == {1}, (wave, built)
        if wave == 2:
            builds_per_shard(runner.compact)
            runner.run_wave()  # wave 3: persisted shards only


@pytest.mark.parametrize("limit", [0, 10**9])
def test_gates_follow_broadcast_bound(spark, tmp_path, monkeypatch, limit):
    """The URL-seen backstop and the discovery gate broadcast their recent
    side only within broadcast_delta_max: past it no anti-join of either
    gate is a broadcast join (AQE's own broadcast switched off)."""
    runner = WaveRunner(spark, str(tmp_path / "s"), per_host_budget=5,
                        use_robots=False, fetcher=simulated_fetch,
                        detailed_metrics=False, bucket_state=4, head_factor=0,
                        link_expander=_expander, broadcast_delta_max=limit)
    runner.load_seeds(_seed_df(spark))
    runner.run_wave()
    runner.compact()
    runner.run_wave()
    gated = []
    gate = waves.url_seen_gate

    def spy(*args, **kwargs):
        gated.append(gate(*args, **kwargs))
        return gated[-1]

    monkeypatch.setattr(waves, "url_seen_gate", spy)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        m = runner.run_wave()
        plans = [g.df._jdf.queryExecution().executedPlan().toString() for g in gated]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    hinted = limit > 0
    assert len(plans) == 2  # the URL-seen gate and the discovery gate
    for plan in plans:
        assert "LeftAnti" in plan
        assert bool(re.search(r"BroadcastHashJoin[^\n]*LeftAnti", plan)) == hinted, plan
    assert m["gates"]["url_seen"]["broadcast"] is hinted
    assert m["gates"]["discovery"]["broadcast"] is hinted


def test_head_depth_scales_with_crawl_delay_override(spark, tmp_path):
    """VERDICT r7 #5: the persisted candidate head is sized per host as
    head_factor x max(budget, crawl-delay override), so an override budget
    above the uniform depth no longer forces the partial fallback on every
    truncated wave; selection remains exactly the full-scan selection."""
    rules = spark.createDataFrame(
        [("h0.example.org", "/never/", False, 1.0)],
        "host string, path_prefix string, allowed boolean, crawl_delay_s double",
    )
    kw = dict(per_host_budget=3, nsalt=2, use_robots=True, robots_rules=rules,
              wave_seconds=30.0, fetcher=simulated_fetch,
              detailed_metrics=False, bucket_state=4)
    head = WaveRunner(spark, str(tmp_path / "h"), head_factor=4, **kw)
    full = WaveRunner(spark, str(tmp_path / "f"), head_factor=0, **kw)
    # h0 override budget = floor(30/1) = 30 > uniform depth 4*3 = 12;
    # give h0 plenty of pending so it stays truncated
    urls = [f"https://h0.example.org/p/{i:03d}" for i in range(200)] + [
        f"https://h{1 + i % 3}.example.org/p/{i:03d}" for i in range(60)
    ]
    for r in (head, full):
        r.load_seeds(_seed_df(spark, n=1).limit(0).unionByName(
            spark.createDataFrame([(u,) for u in urls], "url string")
            .select("url", F.lit(0.5).alias("priority"),
                    F.lit("2024-01-01 00:00:00").cast("timestamp").alias("discovered_ts"))
        ))
        r.run_wave()
        r.compact()
    counts = spark.read.parquet(
        head._checkpoint_dir(head.committed_checkpoints()[-1])
        + "/head_counts.parquet"
    )
    got = {r["host"]: r["head_h"] for r in counts.collect()}
    assert got["h0.example.org"] == 4 * 30   # factor x override
    assert all(v == 12 for h, v in got.items() if h != "h0.example.org")
    # the deep head proves validity: wave 2 runs the head path, no partial
    m_head = head.run_wave()
    m_full = full.run_wave()
    assert m_head["head_used"] is True
    assert m_head["n_selected"] == m_full["n_selected"]
    # and the SELECTED url sets agree wave-for-wave
    a = {r["url"] for r in head.state().filter(
        F.col("status").isin("fetched", "failed")).collect()}
    b = {r["url"] for r in full.state().filter(
        F.col("status").isin("fetched", "failed")).collect()}
    assert a == b


def test_cache_torn_entry_fails_loud(tmp_path):
    """VERDICT r7 #6: an entry published without its _SUCCESS marker (the
    torn-rename signature of an object-store mount) must raise, never be
    consumed; a healthy build carries the marker."""
    from commoncrawlnewsdataset_spark.cache import ensure_cached_dir

    parent = str(tmp_path / "kind")

    def build(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "data.bin"), "w") as fh:
            fh.write("x")

    final = ensure_cached_dir(parent, "e-aaaa", build)
    assert os.path.exists(os.path.join(final, "_SUCCESS"))
    # simulate the torn publish
    os.remove(os.path.join(final, "_SUCCESS"))
    with pytest.raises(RuntimeError, match="_SUCCESS"):
        ensure_cached_dir(parent, "e-aaaa", build)


def test_sql_text_stats_values_unchanged(spark):
    """The single-pass with_sql_text_stats computes the same values as the
    per-metric definitions it replaced."""
    from commoncrawlnewsdataset_spark.functions.textmetrics import (
        sql_bullet_point_starts,
        sql_fraction_ellipsis,
        sql_javascript_count,
        sql_line_count,
        sql_sentences_count,
        sql_word_count,
        with_sql_text_stats,
    )

    rows = [
        (0, "plain words here and there. More words follow!"),
        (1, "• bullet line\nsecond line...\nthird – line…\n"),
        (2, ""),
        (3, None),
        (4, "JavaScript javascript JAVASCRIPT\n\n\nx y z"),
        (5, "  leading   and trailing   spaces  "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in with_sql_text_stats(df).collect()
    }
    t = F.col("text")
    wc = sql_word_count(t)
    nl = sql_line_count(t)
    ref = {
        r["doc_id"]: r.asDict()
        for r in df.select(
            "doc_id",
            wc.alias("word_count"),
            sql_sentences_count(t).alias("sentences_count"),
            sql_javascript_count(t).alias("javascript_count"),
            (wc / nl).cast("double").alias("words_per_line"),
            F.when(
                wc > 0,
                (F.length(F.regexp_replace(t, r"\s+", "")) / wc).cast("double"),
            ).otherwise(F.lit(0.0)).alias("mean_word_length"),
            sql_fraction_ellipsis(t).alias("fraction_ellipsis"),
            sql_bullet_point_starts(t).alias("bullet_point_starts"),
        ).collect()
    }
    for k in ref:
        for col, v in ref[k].items():
            assert got[k][col] == v or (v != v and got[k][col] != got[k][col]), (
                k, col, v, got[k][col]
            )
