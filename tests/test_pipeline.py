"""End-to-end pipeline + star schema tests."""

from __future__ import annotations

import hashlib

import pytest

from commoncrawlnewsdataset_spark.plans.pipeline import run_pipeline
from commoncrawlnewsdataset_spark.plans.star import merge_upsert
from commoncrawlnewsdataset_spark.schemas import (
    GAZETTEER_SCHEMA,
    NUTS_REGIONS_SCHEMA,
    PAGES_SCHEMA,
    TLD_EXCLUSIONS_SCHEMA,
)
from commoncrawlnewsdataset_spark.synth import (
    make_gazetteer_pdf,
    make_nuts_pdf,
    make_pages_pdf,
)


@pytest.fixture(scope="module")
def pipe(spark):
    pages = spark.createDataFrame(make_pages_pdf(800, seed=42), PAGES_SCHEMA)
    excl = spark.createDataFrame([(".com",)], TLD_EXCLUSIONS_SCHEMA)
    gaz = spark.createDataFrame(make_gazetteer_pdf(), GAZETTEER_SCHEMA)
    nuts = spark.createDataFrame(make_nuts_pdf(), NUTS_REGIONS_SCHEMA)
    return run_pipeline(spark, pages, excl, gaz, nuts, geomap_min_count=5)


def test_tld_exclusion_applied(pipe):
    hosts = {r["hostname"] for r in pipe.articles_extracted.select("hostname").collect()}
    assert hosts and all(not h.endswith(".com") for h in hosts)


def test_stage_monotone_filtering(pipe):
    n_ext = pipe.articles_extracted.count()
    n_filt = pipe.articles_filtered.count()
    assert 0 < n_filt <= n_ext


def test_geomap_gate_and_coords(pipe):
    rows = pipe.geomap.collect()
    assert rows
    assert all(r["count"] > 5 for r in rows)
    located = [r for r in rows if r["latitude"] is not None]
    assert located and all(r["NUTS"] is not None for r in located)
    # max-LEVL rule: gazetteer cities sit inside level-3 rectangles
    assert any(len(r["NUTS"]) == 5 for r in located)


def test_star_schema_keys_bit_exact(pipe):
    for r in pipe.article_vectors.limit(20).collect():
        expected = int(hashlib.sha256(r["id"].encode()).hexdigest(), 16) % (2**63 - 1)
        assert r["hashed_id"] == expected
    for r in pipe.locations.limit(20).collect():
        expected = int(hashlib.sha1(r["loc_normal"].encode()).hexdigest(), 16) % (10**8)
        assert r["location_id"] == expected


def test_bridge_referential_integrity(pipe):
    al = pipe.article_locations
    orphans = al.join(pipe.articles, al.article_id == pipe.articles.id, "left_anti").count()
    assert orphans == 0
    orphan_locs = al.join(pipe.locations, "location_id", "left_anti").count()
    assert orphan_locs == 0
    assert al.count() > 0


def test_merge_upsert_semantics(spark):
    existing = spark.createDataFrame([(1, "old"), (2, "keep")], ["id", "v"])
    updates = spark.createDataFrame([(1, "new"), (3, "ins")], ["id", "v"])
    replaced = {r["id"]: r["v"] for r in merge_upsert(existing, updates, ["id"], replace=True).collect()}
    assert replaced == {1: "new", 2: "keep", 3: "ins"}  # INSERT OR REPLACE
    ignored = {r["id"]: r["v"] for r in merge_upsert(existing, updates, ["id"], replace=False).collect()}
    assert ignored == {1: "old", 2: "keep", 3: "ins"}  # INSERT OR IGNORE


def test_sessionize_breaks_on_fractional_second_gaps(spark, tmp_path):
    """A gap of 1800.5 s (or 1800 s + 1 us) breaks a session and a gap of
    exactly 1800 s does not — in the batch window sessionizer and the
    DuckDB oracle alike."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from commoncrawlnewsdataset_spark.plans.queries import (
        ORACLE_SESSIONIZE,
        q_sessionize,
    )

    t0 = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC, in microseconds
    gaps_us = {1: 1_800_500_000, 2: 1_800_000_000, 3: 1_800_000_001}
    rows = [(u, ts) for u, g in gaps_us.items() for ts in (t0, t0 + g)]
    sf = str(tmp_path / "sf")
    os.makedirs(f"{sf}/events.parquet")
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "user_id": pa.array([u for u, _ in rows], pa.int64()),
        "ts": pa.array([ts for _, ts in rows], pa.timestamp("us", tz="UTC")),
    }), f"{sf}/events.parquet/b0.parquet")
    want = {(1, 2, 1), (2, 1, 2), (3, 2, 1)}

    batch = {tuple(r) for r in q_sessionize(spark, sf).collect()}

    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet/*.parquet'")
    oracle = {tuple(r) for r in con.sql(ORACLE_SESSIONIZE).fetchall()}
    con.close()
    assert batch == oracle == want


def test_spark_submit_pyfiles_ships_the_engine(tmp_path):
    """north_rule shipping mode: `spark-submit --py-files dist/ccnews_spark.zip`
    must be self-contained — the child runs from an empty cwd with the repo
    STRIPPED from PYTHONPATH, so the import can only resolve from the
    shipped zip.  Runs a real oracle query end-to-end in the child JVM."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    subprocess.run(
        [sys.executable, str(repo / "tools" / "package_pyfiles.py")],
        check=True, cwd=repo, capture_output=True,
    )
    zip_path = repo / "dist" / "ccnews_spark.zip"
    driver = tmp_path / "job.py"
    driver.write_text(
        "import sys\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[4]')\n"
        "         .config('spark.ui.enabled', 'false')\n"
        "         .config('spark.sql.shuffle.partitions', '4').getOrCreate())\n"
        "import commoncrawlnewsdataset_spark\n"
        "assert 'ccnews_spark.zip' in commoncrawlnewsdataset_spark.__file__, (\n"
        "    'package not imported from the shipped zip: '\n"
        "    + commoncrawlnewsdataset_spark.__file__)\n"
        "from commoncrawlnewsdataset_spark.plans.queries import spark_queries\n"
        "df = spark_queries()['pricing_summary'](spark, sys.argv[1])\n"
        "print('SUBMIT_ROWS=' + str(df.count()))\n"
    )
    spark_home = Path(os.environ.get("SPARK_HOME", "")) if os.environ.get("SPARK_HOME") else None
    submit = None
    if spark_home and (spark_home / "bin" / "spark-submit").exists():
        submit = str(spark_home / "bin" / "spark-submit")
    else:
        import pyspark
        cand = Path(pyspark.__file__).parent / "bin" / "spark-submit"
        if cand.exists():
            submit = str(cand)
    assert submit, "spark-submit not found"
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # repo must NOT be importable from the env
    out = subprocess.run(
        [submit, "--master", "local[4]", "--py-files", str(zip_path), str(driver),
         "/root/testdata/sf0.001"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rows = [l for l in out.stdout.splitlines() if l.startswith("SUBMIT_ROWS=")]
    assert rows and int(rows[0].split("=")[1]) > 0
