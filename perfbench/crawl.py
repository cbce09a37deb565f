"""``crawl_corpus``: a steady-state crawl with link discovery, then the
corpus spine over the fetched pages.

The frontier starts from seeded URLs over uniformly drawn hosts.  Every
wave goes through the page sink and the HTML link expander, so ``run_wave``
takes its cached body: it writes payloads and discovered URLs, and the
URL-seen gate rejects links to known URLs.  The state is bucketed and
compacted (then expired) after wave ``COMPACT_AFTER``, so the later waves
select from the persisted candidate head.  The sink pages then go through
``extract_articles`` -> ``with_quality_metrics`` -> ``filter_quality`` ->
``drop_exact_dups`` -> ``minhash_lsh_pairs`` + ``pack_chunks``, each stage
written once, so each layer's time is the time of its own call.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.harness import dir_stats, median, tree_cpu_s

N_SEEDS = 20_000
N_HOSTS = 2_000
BUDGET = 2
WAVES = 3
COMPACT_AFTER = 2
BUCKETS = 4
CHUNK_TOKENS = 2048
SETUP_REPS = 3

_WORDS = (
    "market council report energy budget transport housing election school "
    "hospital weather harbour railway museum festival library research "
    "airport farmers minister workers company village theatre football "
    "science climate police justice student teacher bridge tourism "
    "industry finance culture history policy region citizen"
).split()
_TEMPLATES = 40  # shared bodies that exact and near duplicates copy


def host_of(seed: int, i: int, n_hosts: int) -> int:
    return zlib.crc32(f"{seed}:{i}".encode()) % n_hosts


def seed_url(seed: int, i: int, n_hosts: int) -> str:
    return f"https://h{host_of(seed, i, n_hosts)}.example.org/p/{i}"


def write_seeds(path: str, seed: int, n: int, n_hosts: int) -> None:
    rng = np.random.default_rng(seed)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    pq.write_table(pa.table({
        "url": [seed_url(seed, i, n_hosts) for i in range(n)],
        "priority": np.round(rng.random(n), 3),
        "discovered_ts": pa.array(
            t0 + rng.integers(0, 86_400, n) * 1_000_000, pa.timestamp("us")
        ),
    }), path)


def _paragraphs(text_seed, n_words: int) -> list[str]:
    rnd = random.Random(text_seed)
    words = [rnd.choice(_WORDS) for _ in range(n_words)]
    return [" ".join(words[i:i + 14]) + "." for i in range(0, n_words, 14)]


class CorpusFetcher:
    """Deterministic page fetcher for the crawl: outcomes follow the
    package's ``simulated_fetch`` (1 in 13 URLs fails), and each fetched
    page is article-shaped HTML whose content is a function of (seed, url).

    Of the pages, 8% copy one of ``_TEMPLATES`` shared bodies (exact
    duplicates across hosts), 8% copy one with a word replaced (near
    duplicates), 4% are too short for the quality gate, and the rest are
    unique.  Each page links to two URLs that may be new and to one seed
    URL, which the frontier has already seen."""

    def __init__(self, seed: int, n_seeds: int, n_hosts: int):
        self.seed, self.n_seeds, self.n_hosts = seed, n_seeds, n_hosts

    def __call__(self, url: str, max_retries: int = 5):
        from commoncrawlnewsdataset_spark.frontier.waves import simulated_fetch

        ok, attempts, _n = simulated_fetch(url, max_retries)
        if not ok:
            return False, attempts, 0, None
        h = zlib.crc32(f"{self.seed}|{url}".encode())
        kind = h % 100
        if kind < 16:
            paras = _paragraphs(f"{self.seed}:t{h // 100 % _TEMPLATES}", 70)
            if kind >= 8:
                words = paras[0].split()
                words[(h >> 8) % 13] = "bulletin"
                paras[0] = " ".join(words)
        else:
            paras = _paragraphs(h, 42 if kind < 20 else 70)
        hn = self.n_hosts
        links = [
            f"https://h{(h >> 3) % hn}.example.org/n/{h % 1_000_003}",
            f"https://h{(h >> 11) % hn}.example.org/n/{(h >> 5) % 1_000_003}",
            seed_url(self.seed, (h >> 7) % self.n_seeds, hn),
        ]
        body = (
            "<html><head><title>Report</title></head><body>"
            + "".join(f"<p>{p}</p>" for p in paras)
            + "<nav>" + "".join(f'<a href="{u}">more</a>' for u in links)
            + "</nav></body></html>"
        ).encode()
        return True, attempts, len(body), body


def _new_frontier(ctx):
    """Seed a fresh frontier in a new directory; returns (runner, dir,
    load seconds)."""
    from commoncrawlnewsdataset_spark.frontier.links import make_html_link_expander
    from commoncrawlnewsdataset_spark.frontier.waves import WaveRunner

    d = os.path.join(ctx.work_dir, f"crawl{len(os.listdir(ctx.work_dir))}")
    os.makedirs(d)
    seeds = os.path.join(d, "seeds.parquet")
    write_seeds(seeds, ctx.seed, N_SEEDS, N_HOSTS)
    runner = WaveRunner(
        ctx.spark, os.path.join(d, "state"), per_host_budget=BUDGET, nsalt=4,
        use_robots=False, detailed_metrics=False,
        fetcher=CorpusFetcher(ctx.seed, N_SEEDS, N_HOSTS),
        link_expander=make_html_link_expander(),
        page_sink_dir=os.path.join(d, "pages"), bucket_state=BUCKETS,
    )
    df = ctx.spark.read.parquet(seeds)
    with ctx.tracer.span("frontier.load_seeds") as t:
        runner.load_seeds(df)
    return runner, d, t["s"]


def _cycle(ctx, runner, d: str) -> dict:
    """The measured crawl and corpus spine over one seeded frontier."""
    from commoncrawlnewsdataset_spark.functions.extract import extract_articles
    from commoncrawlnewsdataset_spark.functions.textmetrics import with_quality_metrics
    from commoncrawlnewsdataset_spark.operators.dedup import (
        drop_exact_dups,
        minhash_lsh_pairs,
    )
    from commoncrawlnewsdataset_spark.operators.filters import filter_quality
    from commoncrawlnewsdataset_spark.operators.packing import pack_chunks

    read = ctx.spark.read.parquet
    out = {"wave_s": [], "manifests": [], "spine": {}}

    def call(name: str, fn):
        """One timed operation: (result, seconds)."""
        ctx.ops.attempted += 1
        with ctx.tracer.span(name) as t:
            result = fn()
        return result, t["s"]

    def stage(name: str, build) -> str:
        path = os.path.join(d, "corpus", name.split(".")[1])
        _, out["spine"][name] = call(
            name, lambda: build().write.mode("overwrite").parquet(path))
        return path

    cpu0 = tree_cpu_s()
    with ctx.tracer.span("measure") as measured:
        for w in range(1, WAVES + 1):
            m, s = call("frontier.run_wave", runner.run_wave)
            out["wave_s"].append(s)
            out["manifests"].append(m)
            if w == COMPACT_AFTER:
                _, out["compact_s"] = call("frontier.compact", runner.compact)
                _, out["expire_s"] = call("frontier.expire", runner.expire_snapshots)
        _, out["spine"]["sources.pages_scan"] = call(
            "sources.pages_scan",
            lambda: runner.pages().write.format("noop").mode("overwrite").save())
        articles = stage("functions.extract", lambda: extract_articles(runner.pages()))
        scored = stage("functions.quality_metrics",
                       lambda: with_quality_metrics(read(articles)))
        kept = stage("operators.drop_exact_dups",
                     lambda: drop_exact_dups(filter_quality(read(scored)), "url", "text"))
        stage("operators.minhash_lsh_pairs",
              lambda: minhash_lsh_pairs(read(kept), "url", "text"))
        stage("operators.pack_chunks",
              lambda: pack_chunks(read(kept), CHUNK_TOKENS, id_col="url", text_col="text"))
    out["measured_s"] = measured["s"]
    out["cpu_s"] = tree_cpu_s() - cpu0
    return out


def _digest(spark, d: str) -> tuple[str, dict]:
    """Digest of the written corpus, with the counts it covers."""
    corpus = os.path.join(d, "corpus")
    packed = spark.read.parquet(f"{corpus}/pack_chunks").toPandas()
    packed = packed.sort_values("doc_id").reset_index(drop=True)
    pairs = spark.read.parquet(f"{corpus}/minhash_lsh_pairs").toPandas()
    pairs = pairs.sort_values(["a", "b"]).reset_index(drop=True)
    h = hashlib.sha256()
    h.update(packed.to_csv(index=False).encode())
    h.update(pairs.to_csv(index=False).encode())
    return h.hexdigest(), {"packed": packed, "pairs": len(pairs), "kept": len(packed)}


def _check(ctx, d: str, runner, out: dict) -> dict:
    """Correctness checks of one cycle, outside the timers."""
    import duckdb

    from commoncrawlnewsdataset_spark.frontier.links import extract_links
    from commoncrawlnewsdataset_spark.operators.filters import filter_quality

    spark, ops = ctx.spark, ctx.ops
    pages = os.path.join(d, "pages")
    con = duckdb.connect()
    sink = f"read_parquet('{pages}/wave=*.parquet/*.parquet', filename=true)"
    con.sql(f"CREATE VIEW sink AS SELECT url, host, ok, "
            f"regexp_extract(filename, 'wave=(\\d+)', 1)::INT AS wave FROM {sink}")
    # wave 1 holds seeds only, so its attempted set is a replay of them:
    # per host the first BUDGET URLs by (priority desc, discovered_ts, url)
    con.sql(f"""CREATE VIEW replay AS SELECT url FROM (
        SELECT url, row_number() OVER (
          PARTITION BY regexp_extract(url, '^https?://([^/]+)', 1)
          ORDER BY priority DESC, discovered_ts, url) AS rn
        FROM '{d}/seeds.parquet') WHERE rn <= {BUDGET}""")
    missing, extra = con.sql("""SELECT
        (SELECT count(*) FROM (FROM replay EXCEPT SELECT url FROM sink WHERE wave = 1)),
        (SELECT count(*) FROM (SELECT url FROM sink WHERE wave = 1 EXCEPT FROM replay))
        """).fetchone()
    ops.check(missing == 0 and extra == 0,
              f"wave 1 differs from the seed replay ({missing} missing, {extra} extra)")
    dup = con.sql("SELECT count(*) - count(DISTINCT url) FROM sink").fetchone()[0]
    ops.check(dup == 0, f"{dup} URLs attempted twice")
    over = con.sql(f"SELECT count(*) FROM (SELECT wave, host FROM sink "
                   f"GROUP BY 1, 2 HAVING count(*) > {BUDGET})").fetchone()[0]
    ops.check(over == 0, f"{over} (wave, host) pairs over budget")
    ops.check(all(m["n_selected"] > 0 for m in out["manifests"]), "an empty wave")

    digest, got = _digest(spark, d)
    packed = got["packed"]
    con.register("packed", packed[["doc_id"]])
    unfetched = con.sql("SELECT count(*) FROM packed WHERE doc_id NOT IN "
                        "(SELECT url FROM sink WHERE ok)").fetchone()[0]
    ops.check(unfetched == 0, f"{unfetched} packed URLs were not fetched OK")
    starts, ends = packed["tok_start"].to_numpy(), packed["tok_end"].to_numpy()
    contiguous = (
        len(packed) > 0 and starts[0] == 0
        and bool((starts[1:] == ends[:-1]).all())
        and bool((ends - starts == packed["n_tokens"].to_numpy()).all())
    )
    ops.check(contiguous, "token intervals are not contiguous")
    con.close()

    # counts for the per-layer record, read back from committed output
    links = extract_links(
        runner.pages().select("url", "html")
    ).count()
    passed = filter_quality(spark.read.parquet(f"{d}/corpus/quality_metrics")).count()
    return {"digest": digest, "links": links, "passed_quality": passed,
            "kept": got["kept"], "pairs": got["pairs"]}


def _digest_repeats(ctx, digest: str) -> None:
    """The corpus digest must repeat for a given seed: compared with the
    digest an earlier run of this checkout recorded for the same seed."""
    path = os.path.join(ctx.root, ".perfbench_work", "digests.json")
    key = f"crawl_corpus:{ctx.seed}"
    known = {}
    if os.path.exists(path):
        with open(path) as fh:
            known = json.load(fh)
    if key in known:
        ctx.ops.check(known[key] == digest, f"corpus digest changed for seed {ctx.seed}")
    else:
        known[key] = digest
        with open(path, "w") as fh:
            json.dump(known, fh, indent=1, sort_keys=True)


def _cycles(ctx, frontiers: list) -> list[dict]:
    """Measured cycles, each on a freshly seeded frontier, until the run's
    seconds are spent.  Each is checked after its timers."""
    outs: list[dict] = []
    spent = 0.0
    while not outs or spent < ctx.seconds:
        runner, d = frontiers.pop(0) if frontiers else _new_frontier(ctx)[:2]
        out = _cycle(ctx, runner, d)
        spent += out["measured_s"]
        with ctx.tracer.span("check.corpus"):
            out["check"] = _check(ctx, d, runner, out)
        out["state"] = dir_stats(os.path.join(d, "state"))
        outs.append(out)
    return outs


def run(ctx) -> dict:
    frontiers = []
    for _ in range(SETUP_REPS):
        runner, d, load_s = _new_frontier(ctx)
        frontiers.append((runner, d))
        ctx.setup_samples.append(load_s)
    # no warm-up cycle: it would cost as much as a measured one (~30 s)
    # and the run budget cannot carry both, so the measured cycle includes
    # the JIT compiling its plans
    outs = _cycles(ctx, frontiers)
    ctx.ops.check(len({o["check"]["digest"] for o in outs}) == 1,
                  "cycles of one seed wrote different corpora")
    _digest_repeats(ctx, outs[0]["check"]["digest"])

    ms = [m for o in outs for m in o["manifests"]]
    waves_s = [t for o in outs for t in o["wave_s"]]
    got = outs[-1]["check"]
    n_selected = sum(m["n_selected"] for m in ms)
    crawl_s = sum(waves_s) + sum(o["compact_s"] + o["expire_s"] for o in outs)
    corpus_s = sum(o["measured_s"] for o in outs)
    n_pages = sum(m["n_fetched"] for m in ms)
    state_files, state_bytes = outs[-1]["state"]
    discovered = sum(m["n_discovered"] for m in outs[-1]["manifests"])
    frontier_urls = N_SEEDS + discovered
    half = len(outs[0]["wave_s"]) // 2
    late_early = median([median(o["wave_s"][half:]) / median(o["wave_s"][:half])
                         for o in outs])
    phase: dict[str, list[float]] = {}
    for m in ms:
        for k, v in m.get("phase_s", {}).items():
            phase.setdefault(k, []).append(v)
    heads = [m.get("head_used") for m in ms]
    layers = {
        "frontier.load_seeds_s": median(ctx.setup_samples),
        "frontier.compact_s": median([o["compact_s"] for o in outs]),
        "frontier.expire_s": median([o["expire_s"] for o in outs]),
        "frontier.head_used_ratio": sum(1 for h in heads if h) / len(heads),
        "frontier.head_partial_waves": float(sum(1 for h in heads if h == "partial")),
        "frontier.late_early_ratio": late_early,
        "frontier.state_files": float(state_files),
        "frontier.state_bytes": float(state_bytes),
        "frontier.state_bytes_per_url": state_bytes / frontier_urls,
        "frontier.crawl_urls_per_s": n_selected / crawl_s,
        "frontier.urls_discovered": float(discovered),
        "frontier.discovery_accept_ratio": discovered / got["links"] if got["links"] else 0.0,
        "frontier.wave_s_p50": median(waves_s),
        "operators.dedup_kept_ratio": got["kept"] / got["passed_quality"],
        "operators.lsh_pairs_out": float(got["pairs"]),
        **{f"{k}_s": median([o["spine"][k] for o in outs]) for k in outs[0]["spine"]},
        # manifest phase_s keys, verbatim, under the name of the body that
        # wrote them (page sink + link expander: the cached body)
        **{f"frontier.cached.phase.{k}_s": median(v) for k, v in phase.items()},
    }
    return {
        "throughput_per_s": n_pages / corpus_s,
        "cpu_ms_per_item": 1000.0 * sum(o["cpu_s"] for o in outs) / n_pages,
        "measured_s": corpus_s,
        "named_metrics": {
            "crawl_urls_per_s": (n_selected / crawl_s, "urls/s"),
            "wave_s_p50": (median(waves_s), "s"),
            "state_bytes_per_url": (state_bytes / frontier_urls, "bytes"),
            "corpus_pages_per_s": (n_pages / corpus_s, "pages/s"),
        },
        "samples": {"waves": len(waves_s), "cycles": len(outs),
                    "setup": len(ctx.setup_samples)},
        "layers": layers,
        "waves": len(ms),
        "wave_s": waves_s,
        "digest": got["digest"],
    }
