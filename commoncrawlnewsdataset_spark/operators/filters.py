"""Filters from the reference pipeline (SURVEY §2.3).

- F2 TLD exclusion anti-join (03_extract_text.py:45-46)
- F3 null-text drop        (03_extract_text.py:80; 06:32)
- F4 quality conjunctive filter (05_filter_news.py:34-41) — `between` is
  INCLUSIVE on both ends in pandas and in Spark; boundary tests pin this.
- F6 HAVING count > n      (07_geocode_news.py:142-143)

All single declarative filters — Catalyst pushes them into the scan
(PushedFilters) when they sit over parquet columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quality_filter_predicate() -> Column:
    """F4, exact reference semantics (05_filter_news.py:34-41)."""
    return (
        (F.col("javascript_count") == 0)
        & (F.col("sentences_count") >= 3)
        & (F.col("fraction_non_alpha_words") < 0.1)
        & (F.col("words_per_line") > 5)
        & F.col("mean_word_length").between(3, 12)
        & F.col("word_count").between(50, 10000)
    )


def filter_quality(df: DataFrame) -> DataFrame:
    return df.filter(quality_filter_predicate())


def anti_join_tld_exclusions(
    df: DataFrame, exclusions: DataFrame, tld_col: str = "tld"
) -> DataFrame:
    """F2: broadcast left-anti join replaces the reference's pandas
    ``~isin`` (03_extract_text.py:45-46).  Explicit broadcast: the exclusion
    dim is tiny and must never become the build side of a shuffled join."""
    dim = F.broadcast(exclusions.select(F.col("country_code").alias(tld_col)).distinct())
    return df.join(dim, on=tld_col, how="left_anti")


def having_count_gt(df: DataFrame, key: str, n: int) -> DataFrame:
    """F6/A1: groupBy(key).count() HAVING count > n — map-side partial
    aggregation comes free from the hash aggregate."""
    return df.groupBy(key).count().filter(F.col("count") > n)
