"""X4 — HTML → article extraction as one Arrow-batched mapInPandas pass.

Reference: trafilatura.extract(content, include_comments=False,
deduplicate=True, output_format="json", with_metadata=True)
(Project_Scripts/03_extract_text.py:54-61), projected to
(text, excerpt, date, tags, categories, title, date_crawled, hostname)
(03_extract_text.py:63-75).

trafilatura is not installed in this container, so extraction is pluggable:

- When ``trafilatura`` imports, ``extract_one`` calls it with the exact
  reference kwargs — this is the byte-identical-text surface; pin the same
  trafilatura version as the reference for production parity.
- Otherwise a deterministic pure-Python fallback parses <title>, <p> bodies
  and <meta name="date"> — stable output for tests and benchmarks.

The per-row invariant tested in tests/test_extract.py: the vectorized pass's
``text`` is byte-identical per url to ``extract_one`` applied row-at-a-time
in the reference's loop style (03_extract_text.py:52-75).
"""

from __future__ import annotations

import json
import re
from typing import Iterator
from urllib.parse import urlparse

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

try:  # pragma: no cover - not present in the sandbox
    import trafilatura  # type: ignore

    HAVE_TRAFILATURA = True
except ImportError:
    trafilatura = None
    HAVE_TRAFILATURA = False

EXTRACT_STRUCT = StructType(
    [
        StructField("text", StringType()),
        StructField("excerpt", StringType()),
        StructField("date", StringType()),
        StructField("tags", StringType()),
        StructField("categories", StringType()),
        StructField("title", StringType()),
        StructField("date_crawled", StringType()),
        StructField("hostname", StringType()),
    ]
)

_TITLE_RE = re.compile(rb"<title[^>]*>(.*?)</title>", re.S | re.I)
_META_DATE_RE = re.compile(
    rb"<meta\s+name=[\"']date[\"']\s+content=[\"']([^\"']+)[\"']", re.I
)
_P_RE = re.compile(rb"<p[^>]*>(.*?)</p>", re.S | re.I)
_TAG_RE = re.compile(rb"<[^>]+>")


def _fallback_extract(html: bytes, url: str | None) -> dict | None:
    """Deterministic minimal extractor (sandbox stand-in for trafilatura)."""
    if not html:
        return None
    paras = [
        _TAG_RE.sub(b"", p).decode("utf-8", "replace").strip()
        for p in _P_RE.findall(html)
    ]
    paras = [p for p in paras if p]
    if not paras:
        return None  # mirrors trafilatura returning None on empty bodies
    text = "\n".join(paras)
    m = _TITLE_RE.search(html)
    title = m.group(1).decode("utf-8", "replace").strip() if m else None
    m = _META_DATE_RE.search(html)
    date = m.group(1).decode("utf-8", "replace") if m else None
    hostname = urlparse(url).netloc if url else None
    return {
        "text": text,
        "excerpt": text[:200],
        "date": date,
        "tags": None,
        "categories": None,
        "title": title,
        "date_crawled": date,
        "hostname": hostname,
    }


def extract_one(html: bytes | None, url: str | None) -> dict | None:
    """Extract one document; reference kwargs when trafilatura is present
    (03_extract_text.py:54-75 field mapping: raw_text->text, filedate->date_crawled)."""
    if html is None:
        return None
    if HAVE_TRAFILATURA:
        extracted = trafilatura.extract(
            html,
            include_comments=False,
            deduplicate=True,
            output_format="json",
            with_metadata=True,
        )
        if not extracted:
            return None
        root = json.loads(extracted)
        return {
            "text": root.get("raw_text"),
            "excerpt": root.get("excerpt"),
            "date": root.get("date"),
            "tags": root.get("tags"),
            "categories": root.get("categories"),
            "title": root.get("title"),
            "date_crawled": root.get("filedate"),
            "hostname": root.get("hostname"),
        }
    return _fallback_extract(html, url)


EXTRACTED_SCHEMA = StructType([StructField("url", StringType())] + EXTRACT_STRUCT.fields)


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One Python pass per task: ``extract_one`` per row, and rows whose
    ``text`` is NULL (F3) are dropped here, inside the pass."""
    for pdf in batches:
        rows = []
        for url, html in zip(pdf["url"], pdf["html"]):
            out = extract_one(html, url)
            if out is not None and out["text"] is not None:
                rows.append({"url": url, **out})
        yield pd.DataFrame(rows, columns=EXTRACTED_SCHEMA.fieldNames())


def extract_articles(pages: DataFrame) -> DataFrame:
    """The E2E extraction spine (reference path 03_extract_text.py:37-91):

    pages -> extraction + null-text drop (X4, P2, F3) in one mapInPandas
          -> dedup on (text, hostname) (D1).

    The null-text drop runs inside the Python pass: a filter on a Python
    UDF's output is pushed below the projection that computes it, and the
    UDF then runs a second time for the filter.  ``mapInPandas`` output is
    opaque to the optimizer, so the extractor runs once per row, in one
    Python worker per task.

    Column pruning matters at scale: only (url, html) feed the Python pass;
    `html` (the wide binary column) never leaves it, so the dedup shuffles
    (text, hostname, ...) but never the raw bytes.
    """
    from pyspark.sql import Window

    flat = pages.select("url", "html").mapInPandas(_extract_batches, EXTRACTED_SCHEMA)
    # D1 with a deterministic survivor: the reference's 'keep first' depends
    # on file order (03:80); under parallelism the contract is min(url) per
    # (text, hostname) — same dedup set, reproducible representative
    # (SURVEY §7 'determinism under parallelism').
    w = Window.partitionBy("text", "hostname").orderBy("url")
    return (
        flat.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
