"""Physical-plan shape assertions: the optimizations the engine claims must
actually appear in the executed plan (pushdown, broadcast, top-k operator,
column pruning, no cartesian products)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from commoncrawlnewsdataset_spark.plans import queries as Q

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_pricing_summary_pushes_filter_to_scan(spark):
    df = Q.q_pricing_summary(spark, SF)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read unused money columns like l_tax
    scan = plan[plan.index("ReadSchema"):]
    assert "l_tax" not in scan.split("\n")[0]
    assert "HashAggregate" in plan  # partial+final agg, no sort-agg fallback


def test_star_join_broadcasts_dims(spark):
    plan = plan_of(Q.q_star_join_topn(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region at minimum
    assert "CartesianProduct" not in plan


def test_topk_uses_take_ordered(spark):
    plan = plan_of(Q.q_value_counts_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan  # no global sort for ORDER+LIMIT


def test_anti_join_is_broadcast(spark):
    plan = plan_of(Q.q_doc_source_antijoin(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_extract_prunes_html_before_shuffle(spark):
    """The wide binary column must stay inside the scan stage: the dedup
    exchange partitions on (text, hostname) and must not carry `html`."""
    from commoncrawlnewsdataset_spark.functions.extract import extract_articles
    from commoncrawlnewsdataset_spark.schemas import PAGES_SCHEMA
    from commoncrawlnewsdataset_spark.synth import make_pages_pdf

    pages = spark.createDataFrame(make_pages_pdf(50), PAGES_SCHEMA)
    plan = plan_of(extract_articles(pages))
    exchange = [ln for ln in plan.split("\n") if "Exchange hashpartitioning" in ln]
    assert exchange and all("html" not in ln for ln in exchange)


def test_politeness_no_global_window(spark):
    """The wave selection must never contain a partition-less window
    (single-partition bottleneck)."""
    plan = plan_of(Q.q_politeness_wave(spark, SF))
    import re

    for m in re.finditer(r"Window \[[^\]]*\], \[\]", plan):
        pytest.fail(f"global (unpartitioned) window in plan: {m.group(0)}")


def test_text_stats_stay_jvm_side(spark):
    """The SQL text stats are pure Column expressions: no Python evaluation
    node (row-at-a-time or Arrow) may appear in the plan."""
    plan = plan_of(Q.q_text_stats(spark, SF))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_frontier_select_no_cartesian(spark, tmp_path):
    from commoncrawlnewsdataset_spark.frontier.waves import WaveRunner
    from commoncrawlnewsdataset_spark.schemas import SEEDS_SCHEMA
    from commoncrawlnewsdataset_spark.synth import make_robots_pdf, make_seeds_pdf

    runner = WaveRunner(
        spark, str(tmp_path / "s"), per_host_budget=5,
        robots_rules=spark.createDataFrame(make_robots_pdf()),
    )
    runner.load_seeds(spark.createDataFrame(make_seeds_pdf(100), SEEDS_SCHEMA))
    plan = plan_of(runner.select_wave().df)
    assert "CartesianProduct" not in plan
    # robots gating is a broadcast anti-join, not a shuffled join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_decontaminate_broadcasts_eval_side(spark):
    """The eval shingle set must broadcast (tiny vs corpus): the overlap
    join is a BroadcastHashJoin, never a SortMergeJoin shuffling exploded
    corpus shingles against the eval side."""
    plan = plan_of(Q.q_decontaminate(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pii_redact_is_pure_codegen(spark):
    """PII redaction must stay JVM-side: regex counts + replacements in
    Projects, zero python UDF evaluation in the plan (the only Exchange is
    the deliberate CPU fan-out repartition for the regex-bound stage)."""
    plan = plan_of(Q.q_pii_redact(spark, SF))
    assert "regexp_replace" in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan


def test_lang_id_tokenizes_once(spark):
    """The token pipeline is built once and folded into one signed count:
    the executed plan holds one split(lower(text)), and the labels keep the
    stopword-majority contract, NULL text included."""
    assert plan_of(Q.q_lang_id(spark, SF)).count("split(lower(") == 1

    from commoncrawlnewsdataset_spark.functions.langid import lang_id

    rows = [
        (1, "Der Hund und die Katze sind nicht hier"),
        (2, "The dog and the cat are not here, und"),
        (3, "der the"),
        (4, ""),
        (5, None),
        (6, "  DIE...  Straße,  für  "),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = dict(df.select("id", lang_id(F.col("text")).alias("l")).collect())
    assert got == {1: "de", 2: "en", 3: "und", 4: "und", 5: "und", 6: "de"}


def _write_embeddings(path, vec_ids):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(vec_ids, pa.int64()),
                "embedding": pa.array(
                    [[float(i), 1.0] for i in range(len(vec_ids))],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([0] * len(vec_ids), pa.int32()),
            }
        ),
        path,
        row_group_size=2,
    )


def _probe_vec(spark, sf_dir):
    row = Q._t(spark, sf_dir, "embeddings").orderBy("vec_id").first()
    return [float(x) for x in row["embedding"]]


def test_query_vec_fast_path_only_when_footers_prove_it(spark, tmp_path):
    """The fixtures take the pyarrow path, and it equals the Spark probe.
    A table with a NULL vec_id (which sorts first in Spark and is skipped by
    pyarrow's min) and a multi-file table both run the probe."""
    for sf in (SF, "/root/testdata/sf0.01"):
        fast = Q._query_vec_from_footers(f"{sf}/embeddings.parquet")
        assert fast is not None
        assert fast == Q._query_vec(spark, sf) == _probe_vec(spark, sf)

    nulls = tmp_path / "nulls"
    nulls.mkdir()
    _write_embeddings(nulls / "embeddings.parquet", [7, 5, 9, None, 6])
    assert Q._query_vec_from_footers(str(nulls / "embeddings.parquet")) is None
    assert Q._query_vec(spark, str(nulls)) == _probe_vec(spark, str(nulls)) == [3.0, 1.0]

    multi = tmp_path / "multi" / "embeddings.parquet"
    multi.mkdir(parents=True)
    _write_embeddings(multi / "part-0.parquet", [7, 5])
    _write_embeddings(multi / "part-1.parquet", [9, 3])
    assert Q._query_vec(spark, str(tmp_path / "multi")) == [1.0, 1.0]


def test_dedup_incremental_store_is_run_scoped(spark, monkeypatch):
    """The dedup_incremental leaf keeps its fingerprint store in a
    run-scoped dir under cache_root()/runs (removed at interpreter exit,
    swept after 6 h), never in a bare temp dir that outlives the run."""
    import os

    from commoncrawlnewsdataset_spark.cache import cache_root
    from commoncrawlnewsdataset_spark.operators import dedup

    stores = []
    real = dedup.dedup_against_store

    def spy(df, store, *args, **kwargs):
        stores.append(store)
        return real(df, store, *args, **kwargs)

    monkeypatch.setattr(dedup, "dedup_against_store", spy)
    assert Q.q_dedup_incremental(spark, SF).count() > 0
    runs = os.path.join(cache_root(), "runs")
    assert len(stores) == 2 and len(set(stores)) == 1
    assert os.path.dirname(os.path.dirname(stores[0])) == runs
    assert os.path.isdir(stores[0])
