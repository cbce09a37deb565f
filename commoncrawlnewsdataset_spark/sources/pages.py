"""The `pages` table: WARC ingestion + month-partitioned storage.

Reference: stage 02 parses WARC shards with warcio into per-file feathers
(02_extract_newscrawl.py:18-60) and *deletes* the WARC afterwards (02:58-60).
Here:

- ``read_warc`` — `binaryFile` scan + mapInPandas parse (S4) using the
  from-scratch WARC/1.0 reader in sources/warc.py (public plain-text format;
  no warcio needed), response-only filter F1 + header projection P1 inside
  the scan stage so non-response payloads never leave it.
- ``write_pages`` / ``read_pages`` — parquet partitioned by month(warc_ts)
  + bucketed-by-host layout hint, mirroring the reference's YYYY-MM dirs
  (01_download_newscrawl.py:41-43).  Month partition pruning makes
  `WHERE warc_ts >= ...` skip whole directories; in production the same
  writer targets an Iceberg table with `months(warc_ts)` partition transform.
- nothing is ever deleted (S6 divergence: snapshot lineage replaces
  destructive consume).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commoncrawlnewsdataset_spark.schemas import WARC_RECORDS_SCHEMA

def _records_from_bytes(content: bytes) -> list[dict]:
    """Response records of one WARC blob as rows (reference projection,
    02_extract_newscrawl.py:26-33)."""
    from commoncrawlnewsdataset_spark.sources.warc import iter_warc_records

    rows = []
    for rec in iter_warc_records(content):
        if rec.rec_type != "response":
            continue
        # hostile/corrupt headers must not escape the UDF (one bad record
        # would fail the task 4x and then the whole job): malformed
        # WARC-Date coerces to null, malformed Content-Length to 0
        ts = pd.to_datetime(rec.header("WARC-Date"), errors="coerce")
        try:
            clen = int(rec.header("Content-Length") or 0)
        except ValueError:
            clen = 0
        rows.append(
            {
                "id": rec.header("WARC-Record-ID"),
                "url": rec.header("WARC-Target-URI"),
                "warc_ts": None if ts is pd.NaT else ts.tz_localize(None),
                "content_length": clen,
                "mime_type": rec.http_header("Content-Type"),
                "content": rec.content,
            }
        )
    return rows


def read_warc(spark: SparkSession, path_glob: str) -> DataFrame:
    """S4 WARC record scan: one task per WARC shard, response records only
    (F1, 02_extract_newscrawl.py:26), header projection P1 (02:27-33).
    Parsing is the from-scratch WARC/1.0 reader — pure Python inside an
    Arrow-batched mapInPandas, one shard per row of the binaryFile scan."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for content in pdf["content"]:
                rows.extend(_records_from_bytes(content))
            yield pd.DataFrame(rows, columns=[f.name for f in WARC_RECORDS_SCHEMA.fields])

    binaries = spark.read.format("binaryFile").load(path_glob)
    return binaries.select("content").mapInPandas(parse, WARC_RECORDS_SCHEMA)


def warc_records_to_pages(records: DataFrame) -> DataFrame:
    """P1 projection to the input_hint pages shape; html := raw payload."""
    return records.select(
        "url",
        "warc_ts",
        F.col("content").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


def write_pages(pages: DataFrame, path: str, mode: str = "append") -> None:
    """Month-partitioned pages sink (partition pruning on warc_ts filters)."""
    (
        pages.withColumn("month", F.date_format("warc_ts", "yyyy-MM"))
        .repartition("month")
        .write.mode(mode)
        .partitionBy("month")
        .parquet(path)
    )


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).drop("month")
