"""``query_mix``: the query leaves ``bench.py`` times, over seeded tables.

Each leaf is timed across its registry call *and* the collect of its rows:
the registry call can do eager work, so timing only the execution would
hide it.  The check then compares the collected rows with the leaf's DuckDB
oracle, outside the timer, without running the leaf again.  The first pass
runs in a fresh session, so it includes the JIT compiling each leaf's
plans; a run has no budget for a separate warm-up pass.
"""

from __future__ import annotations

import importlib.util
import os

from perfbench import datagen
from perfbench.harness import median, tree_cpu_s

# the registry leaves bench.py times, in its order, but for
# crawl_corpus_pipeline: its two eager waves alone cost ~10 s a pass on 4
# cores, which the run budget cannot carry, and the crawl_corpus workload
# measures that crawl-to-corpus path call by call
REGISTRY_LEAVES = [
    "pricing_summary", "star_join_topn", "sessionize", "text_stats",
    "quality_filter", "lang_id", "dedup_exact", "simhash", "hashed_ids",
    "cosine_topk", "int8_quantize", "politeness_wave", "url_seen_antijoin",
    "warc_scan", "jaccard_pairs", "minhash_lsh_pairs", "cosine_dup_pairs_lsh",
    "chunk_dedup", "repetition_stats", "domain_cap",
    "int8_topk", "ann_rescore_topk",
]
# bench.py's three UDF-heavy extras (not in the registry, so no oracle)
EXTRA_LEAVES = ["quality_metrics_udf", "minhash_lsh_capped", "minhash_lsh_xxhash"]
LEAVES = REGISTRY_LEAVES + EXTRA_LEAVES

# scale factor of the generated tables; at this size a leaf costs mostly
# Spark's fixed per-query work, and a pass takes ~18 s on 4 cores
SF = 0.01


def _selfcheck(root: str):
    """tools/selfcheck.py: the repo's oracle gate, reused for its
    normalisation and comparison so both judge results the same way."""
    path = os.path.join(root, "tools", "selfcheck.py")
    spec = importlib.util.spec_from_file_location("_perfbench_selfcheck", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _leaf(name: str, registry: dict):
    """Callable (spark, data_dir) -> DataFrame for one leaf."""
    if name in registry:
        return registry[name]
    if name == "quality_metrics_udf":
        import __spark_entry__ as entry_mod

        return entry_mod.q_quality_metrics_udf
    from commoncrawlnewsdataset_spark.operators.dedup import minhash_lsh_pairs

    # production-shaped parameters, as bench.py runs them
    hasher = "xxhash64" if name.endswith("xxhash") else "md5"

    def build(spark, data_dir):
        docs = spark.read.parquet(f"{data_dir}/documents.parquet")
        return minhash_lsh_pairs(
            docs, "doc_id", "text", 8, 4, k=3, bucket_cap=64, hasher=hasher
        )

    return build


class CacheCounter:
    """Counts cache entries built and reused by wrapping the package's
    ``cache.ensure_cached_dir`` (callers import it at call time)."""

    def __init__(self):
        import commoncrawlnewsdataset_spark.cache as cache

        self._cache = cache
        self._orig = cache.ensure_cached_dir
        self.built = 0
        self.reused = 0
        cache.ensure_cached_dir = self._wrapped

    def _wrapped(self, parent, entry, build_fn):
        existed = os.path.isdir(os.path.join(parent, entry))
        path = self._orig(parent, entry, build_fn)
        if existed:
            self.reused += 1
        else:
            self.built += 1
        return path

    def close(self) -> None:
        self._cache.ensure_cached_dir = self._orig


class _Collected:
    """A leaf's rows collected once, in the shape selfcheck.compare reads."""

    def __init__(self, sdf):
        self._pdf = sdf.toPandas()

    def toPandas(self):
        return self._pdf.copy()


def _check_extra(name: str, pdf, n_docs: int) -> list[str]:
    """Checks of the leaves that have no oracle."""
    if name == "quality_metrics_udf":
        return [] if len(pdf) == n_docs else [f"{len(pdf)} rows for {n_docs} documents"]
    ordered = bool((pdf["a"] < pdf["b"]).all())
    distinct = not pdf.duplicated(["a", "b"]).any()
    return [] if ordered and distinct else ["candidate pairs not ordered and distinct"]


def _measure(ctx, registry: dict, data_dir: str) -> dict:
    """Timed passes until the run's seconds are spent.  The first pass's
    rows are kept for the checks."""
    tr, ops = ctx.tracer, ctx.ops
    passes: list[float] = []
    leaf_s: dict[str, list[float]] = {n: [] for n in LEAVES}
    construct_s: list[float] = []
    first: dict[str, tuple] = {}
    cpu0 = tree_cpu_s()
    with tr.span("measure") as measured:
        while not passes or sum(passes) < ctx.seconds:
            construct = 0.0
            with tr.span("plans.pass") as p:
                for name in LEAVES:
                    ops.attempted += 1
                    try:
                        with tr.span(f"plans.{name}") as leaf:
                            with tr.span(f"plans.construct.{name}") as c:
                                df = _leaf(name, registry)(ctx.spark, data_dir)
                            rows = _Collected(df)
                    except Exception as e:  # a failing leaf is a failed operation
                        ops.failed += 1
                        ops.failures.append(f"{name}: {e!r}"[:300])
                        continue
                    first.setdefault(name, (df, rows))
                    construct += c["s"]
                    leaf_s[name].append(leaf["s"])
            passes.append(p["s"])
            construct_s.append(construct)
    return {"passes": passes, "leaf_s": leaf_s, "construct_s": construct_s,
            "measured_s": measured["s"], "cpu_s": tree_cpu_s() - cpu0,
            "first": first}


def run(ctx) -> dict:
    from commoncrawlnewsdataset_spark.plans.queries import oracle_sqls, spark_queries

    data_dir = os.path.join(ctx.work_dir, "data")
    datagen.write_tables(data_dir, ctx.seed, SF)
    registry = spark_queries()
    counter = CacheCounter()
    try:
        res = _measure(ctx, registry, data_dir)
    finally:
        counter.close()
    ctx.ops.check(counter.built == 0, f"timed passes built {counter.built} cache entries")

    sc = _selfcheck(ctx.root)
    con = sc.duck_conn(data_dir)
    oracles = oracle_sqls()
    n_docs = con.sql("SELECT count(*) FROM documents").fetchone()[0]
    with ctx.tracer.span("check.oracles"):
        for name, (df, rows) in res["first"].items():
            try:
                if name in oracles:
                    rel = con.sql(oracles[name])
                    issues = sc.compare_schema(df, rel) + sc.compare(name, rows, rel.df())
                else:
                    issues = _check_extra(name, rows.toPandas(), n_docs)
            except Exception as e:  # a failing check is a failed operation
                issues = [repr(e)]
            ctx.ops.check(not issues, f"oracle {name}: {'; '.join(issues)[:300]}")
    con.close()

    passes = res["passes"]
    suite = median(passes)
    return {
        "throughput_per_s": len(LEAVES) * len(passes) / sum(passes),
        "cpu_ms_per_item": 1000.0 * res["cpu_s"] / (len(LEAVES) * len(passes)),
        "measured_s": res["measured_s"],
        "named_metrics": {
            "query_suite_s": (suite, "s"),
        },
        "samples": {"passes": len(passes), "setup": 0},
        "layers": {
            "cache.entries_built": float(counter.built),
            "cache.entries_reused": float(counter.reused),
            "plans.query_suite_s": suite,
            "plans.construct_s": median(res["construct_s"]),
            **{f"plans.{n}_s": median(v) for n, v in res["leaf_s"].items()},
        },
        "pass_s": passes,
    }
