"""Each Python UDF runs once per row, in one Python exec node.

A filter on a Python UDF's output is pushed below the projection that
computes it, and the UDF then runs a second time for the filter, in a second
Python worker per task, with its input shipped through Arrow twice.  These
tests read the executed plans of the spines that run Python and assert one
node per UDF, none stacked directly on another, and that the one-pass
extraction keeps the rows of a pandas replay."""

from __future__ import annotations

import re

import pandas as pd
import pytest

from commoncrawlnewsdataset_spark.functions.extract import extract_articles, extract_one
from commoncrawlnewsdataset_spark.schemas import PAGES_SCHEMA

SF = "/root/testdata/sf0.001"

# a physical node name that evaluates Python: ArrowEvalPython,
# BatchEvalPython, MapInPandas, MapInArrow, FlatMapGroupsInPandas, ...
_PY_NODE = re.compile(r"Python|InPandas|InArrow")
_TREE_LINE = re.compile(r"^[\s:|+\-]*(\w+)(.*)$")
_CALL = re.compile(r"(\w+)\([^()]*\)#\d+")


def python_nodes(df) -> list[tuple[str, list[str]]]:
    """(node name, functions it evaluates) for every Python node of the
    executed plan, top-down.  Fails if a Python node's child (the next tree
    line: Python nodes are unary) is another Python node."""
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    parsed = [_TREE_LINE.match(ln).groups() for ln in lines if ln.strip()]
    nodes = []
    for i, (name, rest) in enumerate(parsed):
        if not _PY_NODE.search(name):
            continue
        child = parsed[i + 1][0] if i + 1 < len(parsed) else ""
        assert not _PY_NODE.search(child), f"{name} sits directly on {child}"
        nodes.append((name, _CALL.findall(rest)))
    return nodes


def assert_one_node_each(df, *udfs: str) -> None:
    nodes = python_nodes(df)
    for udf in udfs:
        hits = [n for n in nodes if udf in n[1]]
        assert len(hits) == 1, f"{udf} in {len(hits)} Python nodes: {nodes}"
    assert len(nodes) == len(udfs), nodes


@pytest.fixture(scope="module")
def synth_pages(spark):
    import __spark_entry__ as E

    return E._synth_pages(spark, 50)


def test_extract_articles_one_python_node(synth_pages):
    assert_one_node_each(extract_articles(synth_pages), "_extract_batches")


def test_quality_chain_one_python_node_per_udf(synth_pages):
    from commoncrawlnewsdataset_spark.functions.textmetrics import with_quality_metrics
    from commoncrawlnewsdataset_spark.operators.filters import filter_quality

    df = filter_quality(with_quality_metrics(extract_articles(synth_pages)))
    assert_one_node_each(df, "_extract_batches", "quality_metrics_udf")


def test_flagship_spines_one_python_node_per_udf(spark):
    import __spark_entry__ as E

    udfs = ("_extract_batches", "quality_metrics_udf", "ner_locations_udf")
    assert_one_node_each(E.entry(spark), *udfs)
    assert_one_node_each(E.q_extract_pipeline(spark, SF), *udfs)


def test_warc_scan_one_python_node(spark):
    from commoncrawlnewsdataset_spark.plans.queries import q_warc_scan

    df = q_warc_scan(spark, SF)
    assert_one_node_each(df, "warc_roundtrip")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert f"RoundRobinPartitioning({spark.sparkContext.defaultParallelism})" in plan


def _edge_pages() -> pd.DataFrame:
    """Pages outside the synthetic generator's happy path: NULL and empty
    html, non-UTF-8 bytes, no <title>, a <p>-less body, and duplicate
    bodies on the same and on different hosts."""
    body = b"<html><title>T</title><p>same body here</p></html>"
    rows = [
        ("https://a.example.de/null", None),
        ("https://a.example.de/empty", b""),
        ("https://a.example.de/nop", b"<html><title>No paras</title><div>x</div></html>"),
        ("https://a.example.de/blank", b"<html><p>   </p><p><b></b></p></html>"),
        ("https://a.example.de/latin1", "<p>Stra\xdfe und Gr\xfc\xdfe</p>".encode("latin-1")),
        ("https://a.example.de/bad", b"<title>\xff\xfe</title><p>caf\xc3 \x80 ok</p>"),
        ("https://a.example.de/notitle", b"<p>first para</p><p><i>second</i> para</p>"),
        ("https://a.example.de/dated", b'<meta name="date" content="2024-02-03"><p>dated</p>'),
        ("https://a.example.de/d2", body),
        ("https://a.example.de/d1", body),
        ("https://b.example.de/d1", body),
        ("https://b.example.de/z", b"<P class='x'>UPPER tag</P>"),
    ]
    return pd.DataFrame(
        {
            "url": [u for u, _ in rows],
            "warc_ts": pd.Timestamp("2024-01-01"),
            "html": [h for _, h in rows],
            "text": None,
            "lang": None,
        }
    )


def test_extract_articles_equals_pandas_replay(spark):
    """extract_one per row, drop NULL text, keep the min url per
    (text, hostname): every column of every row."""
    pdf = _edge_pages()
    pages = spark.createDataFrame(pdf, PAGES_SCHEMA).repartition(3)
    got = extract_articles(pages).toPandas()

    rows = []
    for url, html in zip(pdf["url"], pdf["html"]):
        out = extract_one(html, url)
        if out is not None and out["text"] is not None:
            rows.append({"url": url, **out})
    replay = pd.DataFrame(rows)
    replay = (
        replay.sort_values("url")
        .drop_duplicates(["text", "hostname"], keep="first")[list(got.columns)]
    )

    def norm(df):
        df = df.sort_values("url").reset_index(drop=True).astype(object)
        return df.where(df.notna(), None)

    assert len(replay) >= 6
    assert norm(got).to_dict("records") == norm(replay).to_dict("records")
