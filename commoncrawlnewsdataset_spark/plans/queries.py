"""Driver-facing query registry: every implemented operator from SURVEY §2
exposed as a (spark_fn, oracle_sql) pair.

Contract (driver protocol, __spark_entry__):
- spark_fn(spark, sf_dir) -> DataFrame reading /root/testdata parquet
- oracle_sql: equivalent DuckDB SQL over the pre-registered views
  (region nation customer supplier part orders lineitem events documents
  embeddings); None => non-SQL-expressible, rows-only check.
- column names identical on both sides; float outputs rounded to 4 dp;
  money sums go through DECIMAL(18,6) so both engines aggregate exactly.

Cross-engine determinism rules used throughout (validated by probes):
- md5/sha256 hex output identical in Spark and DuckDB.
- 2**64 ≡ 2 (mod 2**63-1) folds sha256 into a bigint identically.
- DuckDB regexp_replace needs the 'g' flag to match Spark's replace-all.
- DuckDB casts double->int by ROUNDING while Spark TRUNCATES: every such
  cast goes through an explicit trunc() on the DuckDB side.
- DuckDB list_reduce seeds with the first element: folds get an explicit
  prepended init value.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name in ("documents", "embeddings"):
        # these ship as ONE parquet file -> one input split -> CPU-heavy text
        # and vector expressions would run single-threaded; fan out to the
        # session's parallelism (same lesson as the frontier fetch stage:
        # partition CPU-bound stages by cores, not bytes)
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


# =========================================================================
# Relational conformance (analytics layer; SURVEY §2.7-2.9, §3.3)
# =========================================================================

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical partial-agg + final-agg plan (A-family).
    Sums in DECIMAL so the result is exact under any partial-agg order."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,6)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,6)") - dec("l_discount")))
            ).cast("double").alias("sum_disc_price"),
            F.round(F.avg(dec("l_quantity")).cast("double"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .withColumn("sum_qty", F.round("sum_qty", 4))
        .withColumn("sum_base_price", F.round("sum_base_price", 4))
        .withColumn("sum_disc_price", F.round("sum_disc_price", 4))
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_base_price,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE), 4) AS sum_disc_price,
       round(CAST(avg(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_star_join_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/A3: star join with two broadcast dims + count-distinct + top-k
    (SQLite analytics query, Plan_AWS.md:467-475). nation/region are
    broadcast explicitly; orders⋈customer is the only real shuffle."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double"), 4).alias("revenue"),
        )
        .orderBy(F.desc("n_orders"), "n_name")
        .limit(10)
    )


ORACLE_STAR_JOIN = """
SELECT n_name, r_name,
       count(DISTINCT o_custkey) AS n_customers,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 4) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name, r_name
ORDER BY n_orders DESC, n_name
LIMIT 10
"""


def q_monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 time-series bucket (strftime('%Y-%m') analytics, Plan_AWS.md:480-487)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double"), 4).alias("revenue"),
        )
        .orderBy("month")
    )


ORACLE_MONTHLY = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 4) AS revenue
FROM orders GROUP BY 1 ORDER BY 1
"""


def q_value_counts_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: value_counts().head(k) (ner_content.py:30-32) with deterministic ties."""
    from commoncrawlnewsdataset_spark.operators.topk import value_counts_topk

    return value_counts_topk(_t(spark, sf_dir, "events"), "event_type", 5)


ORACLE_VALUE_COUNTS = """
SELECT event_type, count(*) AS count
FROM events GROUP BY event_type
ORDER BY count DESC, event_type LIMIT 5
"""


def q_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5/A7: most_common(3) per group (ner_content.py:50,72) as window top-k."""
    from commoncrawlnewsdataset_spark.operators.topk import group_topk

    orders = _t(spark, sf_dir, "orders")
    return group_topk(
        orders.select("o_orderpriority", "o_orderkey", F.round("o_totalprice", 4).alias("o_totalprice")),
        ["o_orderpriority"], "o_totalprice", 3, "o_orderkey",
    )


ORACLE_GROUP_TOPK = """
SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
  SELECT o_orderpriority, o_orderkey, round(o_totalprice, 4) AS o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY round(o_totalprice, 4) DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""


def q_having_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+F6: groupBy count HAVING > n — the geomap gate (07:142-143)."""
    from commoncrawlnewsdataset_spark.operators.filters import having_count_gt

    return having_count_gt(_t(spark, sf_dir, "events"), "user_id", 15)


ORACLE_HAVING = """
SELECT user_id, count(*) AS count FROM events GROUP BY user_id HAVING count(*) > 15
"""


def q_countdistinct_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: COUNT(DISTINCT ...) GROUP BY (Plan_AWS.md:467-475)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias("total_value"),
    )


ORACLE_COUNTDISTINCT = """
SELECT event_type, count(DISTINCT user_id) AS n_users,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
FROM events GROUP BY event_type
"""


def q_month_filter_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: prefix month filter + global count (check_progress.sh:48)."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(F.date_format("ts", "yyyy-MM") == "2024-02").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


ORACLE_MONTH_FILTER = """
SELECT count(*) AS n_events, count(DISTINCT user_id) AS n_users
FROM events WHERE strftime(ts, '%Y-%m') = '2024-02'
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (streaming-analog in batch): session breaks on >30 min
    gaps per user via lag + running sum — the window machinery §2.10 uses.
    Gaps compare in whole microseconds, so a 1800.5 s gap breaks a session
    (a cast to whole seconds would read it as 1800 s)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch_us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_epoch_us = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    gap = F.when(epoch_us - prev_epoch_us > 1800 * 10**6, 1).otherwise(0)
    sess = ev.withColumn("brk", gap).withColumn(
        "session_id", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"), F.max("n_events").alias("max_session_events"))
    )


ORACLE_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS brk
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
), c AS (
  SELECT user_id, session_id, count(*) AS n_events FROM s GROUP BY 1, 2
)
SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events
FROM c GROUP BY user_id
"""


# =========================================================================
# Corpus / text-analysis queries over `documents` (SURVEY §2.4 + driver brief)
# =========================================================================

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-expressible X5 subset (7 of 8 metrics — everything except the
    CPython-isalpha fraction_non_alpha_words): JVM-side text statistics."""
    from commoncrawlnewsdataset_spark.functions.textmetrics import with_sql_text_stats

    docs = _t(spark, sf_dir, "documents")
    return with_sql_text_stats(docs.select("doc_id", "text")).select(
        "doc_id",
        "word_count",
        "javascript_count",
        F.round("words_per_line", 4).alias("words_per_line"),
        F.round("mean_word_length", 4).alias("mean_word_length"),
        F.round("fraction_ellipsis", 4).alias("fraction_ellipsis"),
        "bullet_point_starts",
    )


_DUCK_BULLETS = "•‣▶◀◦■□▪▫–"

ORACLE_TEXT_STATS = f"""
SELECT doc_id,
       len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')) AS word_count,
       CAST(trunc((length(lower(text)) - length(regexp_replace(lower(text), 'javascript', '', 'g'))) / 10) AS BIGINT) AS javascript_count,
       round(CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')) AS DOUBLE)
             / len(string_split(text, chr(10))), 4) AS words_per_line,
       round(CASE WHEN len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')) > 0
             THEN CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                  / len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> ''))
             ELSE 0.0 END, 4) AS mean_word_length,
       round(CAST(len(list_filter(string_split(text, chr(10)), l -> regexp_matches(l, '(\\.\\.\\.|…)$'))) AS DOUBLE)
             / len(string_split(text, chr(10))), 4) AS fraction_ellipsis,
       CAST(len(list_filter(string_split(text, chr(10)), l -> regexp_matches(l, '^[{_DUCK_BULLETS}]'))) AS BIGINT) AS bullet_point_starts
FROM documents
"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 band semantics (05_filter_news.py:34-41) over the SQL stats:
    inclusive between on word_count/mean_word_length, strict > on words_per_line."""
    stats = q_text_stats(spark, sf_dir)
    return stats.filter(
        (F.col("javascript_count") == 0)
        & (F.col("words_per_line") > 5)
        & F.col("mean_word_length").between(3, 12)
        & F.col("word_count").between(50, 10000)
    ).select("doc_id", "word_count", "mean_word_length")


ORACLE_QUALITY_FILTER = f"""
WITH stats AS ({ORACLE_TEXT_STATS})
SELECT doc_id, word_count, mean_word_length FROM stats
WHERE javascript_count = 0 AND words_per_line > 5
  AND mean_word_length BETWEEN 3 AND 12
  AND word_count BETWEEN 50 AND 10000
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18 stopword-ratio language id."""
    from commoncrawlnewsdataset_spark.functions.langid import lang_id

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def _oracle_langid() -> str:
    from commoncrawlnewsdataset_spark.functions.langid import DE_STOPWORDS, EN_STOPWORDS

    de = ", ".join(f"'{w}'" for w in DE_STOPWORDS)
    en = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(list_transform(regexp_split_to_array(lower(text), '\\s+'),
                                    t -> regexp_replace(t, '[^a-zäöüß]', '', 'g')),
                     t -> t <> '') AS tt
  FROM documents
), hits AS (
  SELECT doc_id,
         len(list_filter(tt, t -> list_contains([{de}], t))) AS de_n,
         len(list_filter(tt, t -> list_contains([{en}], t))) AS en_n
  FROM toks
)
SELECT doc_id, CASE WHEN de_n > en_n THEN 'de' WHEN en_n > de_n THEN 'en' ELSE 'und' END AS lang_pred
FROM hits
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex (driver brief)."""
    from commoncrawlnewsdataset_spark.functions.quality import token_count_bpe, token_count_ws

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_ws(F.col("text")).alias("n_tokens_ws"),
        token_count_bpe(F.col("text")).alias("n_tokens_bpe"),
    )


ORACLE_TOKEN_COUNTS = r"""
SELECT doc_id,
       len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '')) AS n_tokens_ws,
       len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]')) AS n_tokens_bpe
FROM documents
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (functions.quality.quality_score)."""
    from commoncrawlnewsdataset_spark.functions.quality import quality_score

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score(F.col("text")).alias("quality"))


ORACLE_QUALITY_SCORE = r"""
WITH b AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '')) AS DOUBLE) AS wc,
         CAST(length(text) AS DOUBLE) AS n,
         CAST(length(text) - length(regexp_replace(text, '[^\p{L}\p{N}\s]', '', 'g')) AS DOUBLE) AS punct,
         CAST(length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS DOUBLE) AS alpha
  FROM documents
)
SELECT doc_id,
       round(greatest(least(
         (CASE WHEN wc >= 50 AND wc <= 10000 THEN 1.0 ELSE least(wc / 50.0, 1.0) * 0.5 END) * 0.5
         + (CASE WHEN n > 0 THEN alpha / n ELSE 0.0 END) * 0.4
         - (CASE WHEN n > 0 THEN punct / n ELSE 0.0 END) * 0.2, 1.0), 0.0), 4) AS quality
FROM b
"""


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of normalized text + polynomial rolling hash."""
    from commoncrawlnewsdataset_spark.functions.quality import (
        fingerprint_md5,
        fingerprint_rolling,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        fingerprint_md5(F.col("text")).alias("fp_md5"),
        fingerprint_rolling(F.col("text")).alias("fp_roll"),
    )


ORACLE_FINGERPRINTS = r"""
WITH n AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents
)
SELECT doc_id, md5(norm) AS fp_md5,
       list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(norm, ''), c -> CAST(ascii(c) AS BIGINT))),
                   (acc, x) -> (acc * 31 + x) % 1000000007) AS fp_roll
FROM n
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: min-id survivor per content fingerprint (D1 global form)."""
    from commoncrawlnewsdataset_spark.operators.dedup import exact_dup_groups

    docs = _t(spark, sf_dir, "documents")
    return exact_dup_groups(docs, "doc_id", "text")


ORACLE_DEDUP_EXACT = r"""
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
       min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents GROUP BY 1
"""


N_MINHASH = 8
MINHASH_BANDS = 4


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (unigram shingles) — md5-based, oracle-checkable.
    r8: tokens staged as a column so the 8 per-seed mins share one shingle
    evaluation (the Column form re-evaluated it per seed)."""
    from commoncrawlnewsdataset_spark.operators.dedup import (
        minhash_signature_from_shingles,
        shingle_array,
        tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", tokens(F.col("text")).alias("_t")).select(
        "doc_id",
        F.concat_ws(
            "|",
            minhash_signature_from_shingles(
                shingle_array(F.col("_t"), 1), N_MINHASH
            ),
        ).alias("sig"),
    )


def _oracle_minhash_sigs() -> str:
    mins = ", ".join(
        f"list_min(list_transform(toks, s -> md5('{i}:' || s)))" for i in range(N_MINHASH)
    )
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id, CASE WHEN len(toks) = 0 THEN '' ELSE concat_ws('|', {mins}) END AS sig
FROM t
"""


LSH_BUCKET_CAP = 200  # production skew guard — the config the oracle checks


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (banded bucket join, SURVEY D-family scale
    path) — run WITH the production bucket cap (deterministic sorted-slice),
    so the green row certifies the plan you'd run at 100 TB; the DuckDB
    oracle mirrors the cap with list_sort + list_slice."""
    from commoncrawlnewsdataset_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "doc_id", "text", n_hashes=N_MINHASH, bands=MINHASH_BANDS, k=1,
        bucket_cap=LSH_BUCKET_CAP,
    )


def _oracle_minhash_pairs() -> str:
    rpb = N_MINHASH // MINHASH_BANDS
    bands = []
    for b in range(MINHASH_BANDS):
        parts = " || '|' || ".join(
            f"list_min(list_transform(toks, s -> md5('{b * rpb + r}:' || s)))"
            for r in range(rpb)
        )
        bands.append(f"SELECT doc_id, {b} AS band, md5({parts}) AS bucket FROM t WHERE len(toks) > 0")
    buckets = " UNION ALL ".join(bands)
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
), buckets AS ({buckets}),
capped AS (
  SELECT band, bucket, list_slice(list_sort(list(doc_id)), 1, {LSH_BUCKET_CAP}) AS ids
  FROM buckets GROUP BY band, bucket HAVING count(*) > 1
), e AS (
  SELECT band, bucket, unnest(ids) AS id FROM capped
)
SELECT DISTINCT x.id AS a, y.id AS b
FROM e x JOIN e y USING (band, bucket)
WHERE x.id < y.id
"""


SIMHASH_BITS = 16


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures (16-bit here to keep the oracle SQL finite; the
    operator itself defaults to 32 and scales to 64).  r8: token hashes
    staged as a column — the Column form re-evaluated the tokenize+md5
    pass once per signature bit."""
    from commoncrawlnewsdataset_spark.operators.dedup import (
        simhash_from_hashes,
        token_hashes,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", token_hashes(F.col("text")).alias("_th")
    ).select(
        "doc_id", simhash_from_hashes(F.col("_th"), SIMHASH_BITS).alias("simhash")
    )


def _duck_simhash_terms() -> str:
    return " + ".join(
        f"(CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(th, h -> ((h >> {b}) & 1) * 2 - 1)), (a, x) -> a + x) > 0 "
        f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )


_DUCK_SIMHASH_CTE = r"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
  FROM documents
), th AS (
  SELECT doc_id, toks,
         list_transform(toks, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS th
  FROM t
)"""


def _oracle_simhash() -> str:
    return f"""
{_DUCK_SIMHASH_CTE}
SELECT doc_id, CASE WHEN len(toks) = 0 THEN NULL ELSE {_duck_simhash_terms()} END AS simhash
FROM th
"""


SIMHASH_MAX_HAMMING = 3
SIMHASH_BUCKET_CAP = 200


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming <= d via pigeonhole banding (d+1
    bands; a pair within distance d matches exactly on >= 1 band), capped
    buckets (sorted-slice, mirrored in the oracle), exact bit_count(xor)
    verification."""
    from commoncrawlnewsdataset_spark.operators.dedup import simhash_hamming_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_hamming_pairs(
        docs, "doc_id", "text", bits=SIMHASH_BITS,
        max_hamming=SIMHASH_MAX_HAMMING, bucket_cap=SIMHASH_BUCKET_CAP,
    )


def _oracle_simhash_pairs() -> str:
    n_bands = SIMHASH_MAX_HAMMING + 1
    w = SIMHASH_BITS // n_bands
    mask = (1 << w) - 1
    return f"""
{_DUCK_SIMHASH_CTE}, h AS (
  SELECT doc_id, {_duck_simhash_terms()} AS simhash FROM th WHERE len(toks) > 0
), bands AS (
  SELECT doc_id, simhash, band, (simhash >> (band * {w})) & {mask} AS bval
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, {n_bands - 1})) AS band) bb
), capped AS (
  SELECT band, bval, list_slice(list_sort(list(doc_id)), 1, {SIMHASH_BUCKET_CAP}) AS ids
  FROM bands GROUP BY band, bval HAVING count(*) > 1
), e AS (
  SELECT band, bval, unnest(ids) AS id FROM capped
), cand AS (
  SELECT DISTINCT x.id AS a, y.id AS b
  FROM e x JOIN e y USING (band, bval) WHERE x.id < y.id
)
SELECT a, b, CAST(bit_count(xor(ha.simhash, hb.simhash)) AS BIGINT) AS hamming
FROM cand JOIN h ha ON cand.a = ha.doc_id JOIN h hb ON cand.b = hb.doc_id
WHERE bit_count(xor(ha.simhash, hb.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


JACCARD_THRESHOLD = 0.62
JACCARD_K = 3  # trigram shingles — the classic near-dup config
JACCARD_SHINGLE_CAP = 500  # hot-shingle candidate guard (generation side only)


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-shingle Jaccard near-dup pairs: candidates via the
    capped inverted index (production skew guard), intersection counted
    exactly (non-hot pass + hot pass).  The DuckDB oracle mirrors the capped
    candidate generation, so the green row certifies the scale-safe plan."""
    from commoncrawlnewsdataset_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", k=JACCARD_K,
        threshold=JACCARD_THRESHOLD, shingle_cap=JACCARD_SHINGLE_CAP,
    )


# trigram shingles in DuckDB: toks[i..i+2] joined over 1-based indices
_DUCK_SHINGLES_K3 = (
    "list_distinct(CASE WHEN len(toks) >= 3 THEN "
    "list_transform(generate_series(1, len(toks) - 2), "
    "i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) "
    "ELSE [] END)"
)

ORACLE_JACCARD = f"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
), s AS (
  SELECT doc_id, {_DUCK_SHINGLES_K3} AS sh FROM t
), s2 AS (
  SELECT doc_id, sh FROM s WHERE len(sh) > 0
), inv AS (
  SELECT doc_id, unnest(sh) AS tok FROM s2
), ok_tok AS (
  SELECT tok FROM inv GROUP BY tok
  HAVING count(*) > 1 AND count(*) <= {JACCARD_SHINGLE_CAP}
), cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM inv x JOIN inv y ON x.tok = y.tok AND x.doc_id < y.doc_id
  WHERE x.tok IN (SELECT tok FROM ok_tok)
), p AS (
  SELECT a, b,
         round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4) AS jaccard
  FROM cand JOIN s2 sa ON cand.a = sa.doc_id JOIN s2 sb ON cand.b = sb.doc_id
)
SELECT a, b, jaccard FROM p WHERE jaccard >= {JACCARD_THRESHOLD}
"""


SAMPLE_RATES = {"en": 0.5, "de": 0.25}
SAMPLE_DEFAULT = 0.1
_SPACE32 = 1 << 32


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sampling (the corpus-mix knob):
    per-language keep rates decided by md5(key) — partition-independent,
    incremental-safe, and byte-identically reproducible in DuckDB."""
    from commoncrawlnewsdataset_spark.operators.sampling import stratified_hash_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_hash_sample(
        docs, SAMPLE_RATES, "lang", "doc_id", default_rate=SAMPLE_DEFAULT
    ).select("doc_id", "lang")


def _oracle_stratified_sample() -> str:
    cases = " ".join(
        f"WHEN '{v}' THEN {int(r * _SPACE32)}" for v, r in sorted(SAMPLE_RATES.items())
    )
    return f"""
SELECT doc_id, lang FROM documents
WHERE ('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT <
      CASE lang {cases} ELSE {int(SAMPLE_DEFAULT * _SPACE32)} END
"""


SPLIT_FRACTIONS = {"train": 0.96, "val": 0.02, "test": 0.02}


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (operators.sampling.
    hash_split): the split is a pure function of the row key, so the
    partition survives repartitioning, incremental re-runs, and engine
    changes — DuckDB replays every row's label bit-for-bit (randomSplit
    re-deals under any of those)."""
    from commoncrawlnewsdataset_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    return hash_split(docs, "doc_id", SPLIT_FRACTIONS).select("doc_id", "split")


def _oracle_hash_split() -> str:
    acc, conds = 0.0, []
    names = sorted(SPLIT_FRACTIONS)
    for i, name in enumerate(names):
        acc += SPLIT_FRACTIONS[name]
        if i == len(names) - 1:
            conds.append(f"ELSE '{name}'")
        else:
            conds.append(f"WHEN b < {int(acc * _SPACE32)} THEN '{name}'")
    case = " ".join(conds)
    return f"""
WITH b AS (
  SELECT doc_id,
         ('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS b
  FROM documents
)
SELECT doc_id, CASE {case} END AS split FROM b
"""


MIXTURE_WEIGHTS = {"en": 0.45, "de": 0.35, "fr": 0.1, "es": 0.07, "zh": 0.03}
MIXTURE_BUDGET_CHARS = 60_000


def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing knob (operators.sampling.mixture_sample): per-language
    keep rates derived from target weights and a character budget
    (rate = min(1, w*B/available); at sf0.01 the 'de' weight exceeds
    availability, exercising the clamp), then the deterministic stratified
    hash sample.  DuckDB recomputes the rates from the same aggregate with
    the same double arithmetic and replays the md5 threshold per row, so
    the full sampled row SET is the oracle — the end-to-end proof that the
    mixture a 100-TB build would ship is reproducible anywhere."""
    from commoncrawlnewsdataset_spark.operators.sampling import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    return mixture_sample(
        docs, "lang", "doc_id", MIXTURE_WEIGHTS, MIXTURE_BUDGET_CHARS,
        size_col="n_chars",
    ).select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))


def _oracle_corpus_mixture() -> str:
    vals = ", ".join(f"('{s}', {w})" for s, w in MIXTURE_WEIGHTS.items())
    return f"""
WITH avail AS (
  SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS a FROM documents GROUP BY lang
), w(lang, w) AS (
  VALUES {vals}
), r AS (
  SELECT w.lang,
         CAST(floor(CASE WHEN a.a = 0 THEN 0.0  -- Spark: empty stratum -> rate 0.0 (DuckDB x/0.0 would be inf -> least()=1.0)
                         ELSE least(1.0, (w.w * {MIXTURE_BUDGET_CHARS}) / a.a) END
                    * 4294967296.0) AS BIGINT) AS thr
  FROM w JOIN avail a ON a.lang = w.lang
)
SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d JOIN r ON r.lang = d.lang
WHERE ('0x' || substr(md5('0:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT < r.thr
"""


# DuckDB replay of textmetrics.token_estimate (parity-probed over the whole
# documents table): letter runs ceil(len/4) + digit runs ceil(len/3) + one
# per other non-space symbol.  \p{L}/\p{N} are identical in Java regex &
# RE2; whitespace is the EXPLICIT Java-default class [ \t\n\x0B\f\r]
# because RE2's \s omits vertical tab (r6 review finding).
SQL_TOKEN_ESTIMATE = r"""(
  list_reduce(list_prepend(0, list_transform(regexp_extract_all(coalesce({col}, ''), '\p{{L}}+'),
      p -> CAST(ceil(len(p)/4.0) AS BIGINT))), (a,b) -> a+b)
+ list_reduce(list_prepend(0, list_transform(regexp_extract_all(coalesce({col}, ''), '\p{{N}}+'),
      p -> CAST(ceil(len(p)/3.0) AS BIGINT))), (a,b) -> a+b)
+ len(regexp_replace(coalesce({col}, ''), '[\p{{L}}\p{{N}} \t\n\x0B\f\r]', '', 'g')))"""

TOKEN_MIXTURE_BUDGET = 20_000  # subword tokens; 'de' clamps at sf0.01


def q_corpus_mixture_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-mixing knob budgeted in SUBWORD TOKENS (VERDICT r5 #3):
    identical flow to corpus_mixture, but availability and budget are
    measured by functions.textmetrics.token_estimate — the unit a real LLM
    corpus build mixes by — instead of characters.  The oracle recomputes
    the per-language token sums, the clamped rates, and the md5-threshold
    row set end-to-end in DuckDB."""
    from commoncrawlnewsdataset_spark.functions.textmetrics import token_estimate
    from commoncrawlnewsdataset_spark.operators.sampling import mixture_sample

    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens_est", token_estimate(F.col("text"))
    )
    return mixture_sample(
        docs, "lang", "doc_id", MIXTURE_WEIGHTS, TOKEN_MIXTURE_BUDGET,
        size_col="n_tokens_est",
    ).select("doc_id", "lang", "n_tokens_est")


def _oracle_corpus_mixture_tokens() -> str:
    vals = ", ".join(f"('{s}', {w})" for s, w in MIXTURE_WEIGHTS.items())
    est = SQL_TOKEN_ESTIMATE.format(col="text")
    return f"""
WITH est AS (
  SELECT doc_id, lang, {est} AS n_tokens_est FROM documents
), avail AS (
  SELECT lang, CAST(sum(n_tokens_est) AS DOUBLE) AS a FROM est GROUP BY lang
), w(lang, w) AS (
  VALUES {vals}
), r AS (
  SELECT w.lang,
         CAST(floor(CASE WHEN a.a = 0 THEN 0.0  -- zero-token stratum: match mixture_rates' rate=0.0
                         ELSE least(1.0, (w.w * {TOKEN_MIXTURE_BUDGET}) / a.a) END
                    * 4294967296.0) AS BIGINT) AS thr
  FROM w JOIN avail a ON a.lang = w.lang
)
SELECT e.doc_id, e.lang, e.n_tokens_est
FROM est e JOIN r ON r.lang = e.lang
WHERE ('0x' || substr(md5('0:' || CAST(e.doc_id AS VARCHAR)), 1, 8))::BIGINT < r.thr
"""


CHUNK_TOKENS = 512


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (pretraining layout): global token
    prefix sum computed scale-safely (range partition -> local cumsum ->
    broadcast per-partition offsets; never a single-partition window over
    the data), chunk spans per document.  The DuckDB oracle is the plain
    window cumsum — identical values prove the two-phase form exact."""
    from commoncrawlnewsdataset_spark.operators.packing import pack_chunks

    docs = _t(spark, sf_dir, "documents")
    return pack_chunks(docs, CHUNK_TOKENS)


ORACLE_PACK_CHUNKS = f"""
WITH n AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS tok_end
  FROM n
)
SELECT doc_id, n_tokens, tok_end - n_tokens AS tok_start, tok_end,
       CASE WHEN n_tokens > 0 THEN CAST(floor((tok_end - n_tokens) / {CHUNK_TOKENS}.0) AS BIGINT) ELSE -1 END AS first_chunk,
       CASE WHEN n_tokens > 0 THEN CAST(floor((tok_end - 1) / {CHUNK_TOKENS}.0) AS BIGINT) ELSE -1 END AS last_chunk
FROM c
"""


def q_pack_chunks_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing budgeted in SUBWORD TOKENS (VERDICT r5 #3): the
    same scale-safe two-phase prefix sum, with per-document counts from
    textmetrics.token_estimate instead of whitespace words — the layout a
    real pretraining run shards by."""
    from commoncrawlnewsdataset_spark.functions.textmetrics import token_estimate
    from commoncrawlnewsdataset_spark.operators.packing import pack_chunks

    docs = _t(spark, sf_dir, "documents")
    return pack_chunks(docs, CHUNK_TOKENS, counter=token_estimate)


ORACLE_PACK_CHUNKS_TOKENS = f"""
WITH n AS (
  SELECT doc_id, CAST({SQL_TOKEN_ESTIMATE.format(col="text")} AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS tok_end
  FROM n
)
SELECT doc_id, n_tokens, tok_end - n_tokens AS tok_start, tok_end,
       CASE WHEN n_tokens > 0 THEN CAST(floor((tok_end - n_tokens) / {CHUNK_TOKENS}.0) AS BIGINT) ELSE -1 END AS first_chunk,
       CASE WHEN n_tokens > 0 THEN CAST(floor((tok_end - 1) / {CHUNK_TOKENS}.0) AS BIGINT) ELSE -1 END AS last_chunk
FROM c
"""


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length percentiles (corpus profiling: p50/p90/p99
    of n_chars) — Spark's exact `percentile` and DuckDB's quantile_cont both
    linearly interpolate, so the values mirror bit-for-bit at 4 dp."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.percentile(F.col("n_chars"), F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile(F.col("n_chars"), F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile(F.col("n_chars"), F.lit(0.99)), 4).alias("p99"),
    )


ORACLE_LENGTH_QUANTILES = """
SELECT lang, count(*) AS n_docs,
       round(quantile_cont(n_chars, 0.5), 4) AS p50,
       round(quantile_cont(n_chars, 0.9), 4) AS p90,
       round(quantile_cont(n_chars, 0.99), 4) AS p99
FROM documents GROUP BY lang
"""


PER_MONTH_N = 2


def q_sample_per_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """download_two_per_month.sh semantics, made deterministic: a fixed-count
    'random' sample per month stratum — rank rows within each month by
    md5(key) (a seeded uniform draw that is reproducible across engines and
    runs, unlike the script's $RANDOM) and keep the first N."""
    from commoncrawlnewsdataset_spark.operators.sampling import hash_bucket

    orders = _t(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("month")
    w = Window.partitionBy("month").orderBy(
        hash_bucket(F.col("o_orderkey")), F.col("o_orderkey")
    )
    return (
        orders.select(month, "o_orderkey")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= PER_MONTH_N)
        .select("month", "o_orderkey", "rk")
    )


ORACLE_SAMPLE_PER_MONTH = f"""
SELECT month, o_orderkey, rk FROM (
  SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderkey,
         row_number() OVER (
           PARTITION BY strftime(o_orderdate, '%Y-%m')
           ORDER BY ('0x' || substr(md5('0:' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT,
                    o_orderkey
         ) AS rk
  FROM orders
) WHERE rk <= {PER_MONTH_N}
"""


CORPUS_SAMPLE_RATE = 0.5
CORPUS_CHUNK = 256


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus build as ONE lazy plan: SQL quality gate (F4
    band semantics) -> exact dedup (min-id survivor per content fingerprint)
    -> deterministic hash sample -> concat-and-chunk packing.  Every stage is
    individually oracle-checked elsewhere; this row certifies their
    COMPOSITION end-to-end (filters prune before dedup shuffles, dedup prunes
    before the prefix sum, all in one Catalyst plan)."""
    from commoncrawlnewsdataset_spark.operators.dedup import drop_exact_dups
    from commoncrawlnewsdataset_spark.operators.packing import pack_chunks
    from commoncrawlnewsdataset_spark.operators.sampling import hash_sample

    stats = q_text_stats(spark, sf_dir)
    good = stats.filter(
        (F.col("javascript_count") == 0)
        & (F.col("words_per_line") > 5)
        & F.col("mean_word_length").between(3, 12)
        & F.col("word_count").between(50, 10000)
    ).select("doc_id")
    docs = _t(spark, sf_dir, "documents").join(good, "doc_id", "left_semi")
    deduped = drop_exact_dups(docs, "doc_id", "text")
    sampled = hash_sample(deduped, CORPUS_SAMPLE_RATE, "doc_id")
    return pack_chunks(sampled, CORPUS_CHUNK)


def _oracle_corpus_pipeline() -> str:
    return f"""
WITH stats AS ({ORACLE_TEXT_STATS}),
good AS (
  SELECT d.doc_id, d.text
  FROM documents d JOIN stats s USING (doc_id)
  WHERE s.javascript_count = 0 AND s.words_per_line > 5
    AND s.mean_word_length BETWEEN 3 AND 12
    AND s.word_count BETWEEN 50 AND 10000
), fp AS (
  SELECT doc_id, text,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
  FROM good
), surv AS (
  SELECT f, min(doc_id) AS doc_id FROM fp GROUP BY f
), ded AS (
  SELECT fp.doc_id, fp.text FROM fp JOIN surv
    ON fp.doc_id = surv.doc_id AND fp.f = surv.f
), samp AS (
  SELECT doc_id, text FROM ded
  WHERE ('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        < {int(CORPUS_SAMPLE_RATE * _SPACE32)}
), n AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
  FROM samp
), c AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS tok_end
  FROM n
)
SELECT doc_id, n_tokens, tok_end - n_tokens AS tok_start, tok_end,
       CASE WHEN n_tokens > 0 THEN CAST(floor((tok_end - n_tokens) / {CORPUS_CHUNK}.0) AS BIGINT) ELSE -1 END AS first_chunk,
       CASE WHEN n_tokens > 0 THEN CAST(floor((tok_end - 1) / {CORPUS_CHUNK}.0) AS BIGINT) ELSE -1 END AS last_chunk
FROM c
"""


TFIDF_K = 3


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k TF-IDF terms per document (smooth idf, deterministic term
    tiebreak) — corpus analytics over the documents table."""
    from commoncrawlnewsdataset_spark.operators.tfidf import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", k=TFIDF_K)


ORACLE_TFIDF = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT count(DISTINCT doc_id) AS n FROM documents
), scored AS (
  SELECT doc_id, term, tf,
         round(tf * (ln((n + 1) / CAST(df + 1 AS DOUBLE)) + 1), 4) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, tfidf, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
  FROM scored
) WHERE rn <= {TFIDF_K}
"""


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components (min-id label propagation)
    over the capped MinHash-LSH pair list — the step that turns pair
    generators into dedup groups.  Oracle: DuckDB recursive CTE computing
    min reachable id over the identical (mirrored) pair list."""
    from commoncrawlnewsdataset_spark.operators.dedup import (
        dup_clusters,
        minhash_lsh_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n_hashes=N_MINHASH, bands=MINHASH_BANDS, k=1,
        bucket_cap=LSH_BUCKET_CAP,
    )
    out = dup_clusters(docs.select(F.col("doc_id").alias("id")), pairs)
    return out.select(F.col("id").alias("doc_id"), "cluster_id")


def _oracle_dup_clusters() -> str:
    inner = _oracle_minhash_pairs().strip()
    return f"""
WITH RECURSIVE pairs AS ({inner}),
nodes AS (SELECT doc_id AS id FROM documents),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION SELECT b AS src, a AS dst FROM pairs
),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst AS id, reach.r FROM edges e JOIN reach ON e.src = reach.id
)
SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
FROM reach GROUP BY id
"""


def q_doc_source_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 anti-join shape: docs whose source is NOT in the exclusion dim
    (broadcast left_anti; ref 03_extract_text.py:45-46)."""
    docs = _t(spark, sf_dir, "documents")
    excl = docs.sparkSession.createDataFrame(
        [("src1",), ("src2",), ("src3",)], ["country_code"]
    )
    from commoncrawlnewsdataset_spark.operators.filters import anti_join_tld_exclusions

    return (
        anti_join_tld_exclusions(docs.withColumnRenamed("source", "tld"), excl)
        .groupBy("tld")
        .agg(F.count("*").alias("n_docs"))
    )


ORACLE_DOC_ANTIJOIN = """
SELECT source AS tld, count(*) AS n_docs FROM documents
WHERE source NOT IN ('src1', 'src2', 'src3')
GROUP BY source
"""


def q_hashed_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 star-schema key: sha256 -> mod 2**63-1, pure-SQL fold both engines
    (bit-exact with the reference's Python bigint, tests/test_functions.py)."""
    from commoncrawlnewsdataset_spark.functions.hashes import hashed_id_sql

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", hashed_id_sql(F.col("doc_id").cast("string")).alias("hashed_id")
    )


ORACLE_HASHED_IDS = """
WITH h AS (SELECT doc_id, sha256(CAST(doc_id AS VARCHAR)) AS hx FROM documents)
SELECT doc_id,
  CAST((((((((('0x' || substr(hx,  1, 16))::UBIGINT::UHUGEINT % 9223372036854775807) * 2
    + ('0x' || substr(hx, 17, 16))::UBIGINT::UHUGEINT) % 9223372036854775807) * 2
    + ('0x' || substr(hx, 33, 16))::UBIGINT::UHUGEINT) % 9223372036854775807) * 2
    + ('0x' || substr(hx, 49, 16))::UBIGINT::UHUGEINT) % 9223372036854775807) AS BIGINT) AS hashed_id
FROM h
"""


# =========================================================================
# Vector queries over `embeddings` (SURVEY §2.11)
# =========================================================================

def _query_vec_from_footers(path: str) -> list[float] | None:
    """The embedding of the min vec_id row, read with pyarrow, or None when
    the footers cannot prove it equals the Spark probe: every row group's
    vec_id statistics must report null_count == 0 (a NULL vec_id sorts
    first in Spark and is skipped by a min) and a min.  Only the footer is
    read to locate the min, then the single owning row group."""
    import pyarrow.parquet as pq

    f = pq.ParquetFile(path)
    md = f.metadata
    col = next(j for j in range(md.num_columns) if md.schema.column(j).path == "vec_id")
    stats = [md.row_group(rg).column(col).statistics for rg in range(md.num_row_groups)]
    if not stats or any(
        st is None or not st.has_null_count or st.null_count != 0 or not st.has_min_max
        for st in stats
    ):
        return None
    rg = min(range(len(stats)), key=lambda r: stats[r].min)
    tbl = f.read_row_group(rg, columns=["vec_id", "embedding"])
    idx = tbl.column("vec_id").to_pylist().index(stats[rg].min)
    return [float(x) for x in tbl.column("embedding")[idx].as_py()]


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    """Deterministic query vector: the embedding of the min vec_id row.

    r8: resolved driver-side from the parquet footer/row groups (pyarrow)
    instead of a Spark TakeOrdered job — every ANN query used to pay one
    full cluster job just to fetch this one scalar parameter (guide §5:
    the driver fetching a 1-row parameter is not data work).  The fast path
    is taken only for a single-file table whose footers prove it exact;
    any other layout runs the Spark probe."""
    path = f"{sf_dir}/embeddings.parquet"
    if os.path.isfile(path):
        vec = _query_vec_from_footers(path)
        if vec is not None:
            return vec
    row = (
        _t(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .select("embedding")
        .first()
    )
    return [float(x) for x in row["embedding"]]


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 exact ANN baseline: brute-force cosine top-k (TakeOrderedAndProject)."""
    from commoncrawlnewsdataset_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, _query_vec(spark, sf_dir), k=20)


ORACLE_COSINE_TOPK = """
WITH q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings ORDER BY vec_id LIMIT 1
)
SELECT vec_id,
       round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(generate_series(1, len(e.embedding)),
                              i -> CAST(e.embedding[i] AS DOUBLE) * q.qv[i])), (a,x) -> a + x)
             / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,x) -> a + x))
              * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(q.qv, x -> x * x)), (a,x) -> a + x))), 4) AS score
FROM embeddings e CROSS JOIN q
ORDER BY score DESC, vec_id LIMIT 20
"""


# synthetic embeddings are near-orthogonal (max in-label cosine ≈ 0.47 at
# sf0.01); 0.35 keeps the near-dup check non-trivial at test scale
COSINE_DUP_THRESHOLD = 0.35


def q_cosine_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label (exact within block)."""
    from commoncrawlnewsdataset_spark.operators.dedup import cosine_dup_pairs_blocked

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_dup_pairs_blocked(
        emb, block_col="label", threshold=COSINE_DUP_THRESHOLD, bucket_cap=None
    )


LSH_DUP_PLANES = 6
LSH_DUP_THRESHOLD = 0.15
LSH_DUP_CAP = 12  # binds on real buckets at sf0.01 (avg ~8 ids, tail larger)
EMB_DIM = 64


def q_cosine_dup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs blocked by the vector's OWN sign-LSH bucket —
    the scale-safe default (no data-column skew; bucket count = 2^n_planes)
    — WITH the deterministic sorted-slice bucket_cap that bounds the
    within-bucket pair expansion (same skew guard as minhash/simhash; the
    cap is sized to BIND at test scale so the slice semantics themselves are
    value-checked).  The DuckDB oracle reproduces buckets bit-for-bit from
    the same hyperplane constants and mirrors the cap via
    list_sort+list_slice, so the green row certifies the production plan."""
    from commoncrawlnewsdataset_spark.operators.dedup import cosine_dup_pairs_blocked

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_dup_pairs_blocked(
        emb,
        threshold=LSH_DUP_THRESHOLD,
        n_planes=LSH_DUP_PLANES,
        dim=EMB_DIM,
        bucket_cap=LSH_DUP_CAP,
    )


def _oracle_cosine_dups_lsh() -> str:
    """Inline the deterministic hyperplanes as SQL constants; the bucket bit
    is sign(Σ v[i]*c[i]) with the SAME left-to-right summation order as
    Spark's F.aggregate fold, so the doubles agree bitwise."""
    from commoncrawlnewsdataset_spark.operators.similarity import hyperplanes

    planes = hyperplanes(EMB_DIM, LSH_DUP_PLANES, seed=13)
    bits = []
    for j, p in enumerate(planes):
        dot = " + ".join(f"v[{i + 1}]*({c!r})" for i, c in enumerate(p))
        bits.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << j} ELSE 0 END)")
    bucket = " + ".join(bits)
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), b AS (
  SELECT vec_id, v, {bucket} AS blk FROM e
), capped AS (
  SELECT blk, list_slice(list_sort(list(vec_id)), 1, {LSH_DUP_CAP}) AS ids
  FROM b GROUP BY blk HAVING count(*) > 1
), p AS (
  SELECT x.vec_id AS a, y.vec_id AS b,
         round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(generate_series(1, len(x.v)), i -> x.v[i] * y.v[i])), (s,t) -> s + t)
               / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(x.v, t -> t*t)), (s,t) -> s + t))
                * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(y.v, t -> t*t)), (s,t) -> s + t))), 4) AS cos
  FROM b x JOIN b y ON x.blk = y.blk AND x.vec_id < y.vec_id
  JOIN capped c ON c.blk = x.blk
  WHERE list_contains(c.ids, x.vec_id) AND list_contains(c.ids, y.vec_id)
)
SELECT a, b, cos FROM p WHERE cos >= {LSH_DUP_THRESHOLD}
"""


ORACLE_COSINE_DUPS = f"""
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), p AS (
  SELECT x.vec_id AS a, y.vec_id AS b,
         round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(generate_series(1, len(x.v)), i -> x.v[i] * y.v[i])), (s,t) -> s + t)
               / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(x.v, t -> t*t)), (s,t) -> s + t))
                * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(y.v, t -> t*t)), (s,t) -> s + t))), 4) AS cos
  FROM e x JOIN e y ON x.label = y.label AND x.vec_id < y.vec_id
)
SELECT a, b, cos FROM p WHERE cos >= {COSINE_DUP_THRESHOLD}
"""


def q_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2+A6: global per-dim min/max calibration + affine int8 quantization
    (09_embedding_transformation.py:15-19), summarized per vector."""
    from commoncrawlnewsdataset_spark.operators.quantize import (
        calibration_ranges,
        quantize_int8,
    )

    emb = _t(spark, sf_dir, "embeddings")
    lo, hi = calibration_ranges(emb)
    q = emb.select("vec_id", quantize_int8(F.col("embedding"), lo, hi).alias("q"))
    return q.select(
        "vec_id",
        F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
    )


ORACLE_INT8 = """
WITH flat AS (
  SELECT vec_id, i.i AS dim, CAST(embedding[i.i] AS DOUBLE) AS v
  FROM embeddings, unnest(generate_series(1, len(embedding))) i(i)
), ranges AS (
  SELECT dim, min(v) AS lo, max(v) AS hi FROM flat GROUP BY dim
), q AS (
  SELECT f.vec_id,
         CAST(trunc(CASE WHEN r.hi - r.lo <> 0
                         THEN (f.v - r.lo) / (r.hi - r.lo) * 255.0 - 128.0
                         ELSE -128.0 END) AS BIGINT) AS qv
  FROM flat f JOIN ranges r USING (dim)
)
SELECT vec_id, CAST(sum(qv) AS BIGINT) AS q_sum, CAST(min(qv) AS INTEGER) AS q_min, CAST(max(qv) AS INTEGER) AS q_max
FROM q GROUP BY vec_id
"""


def q_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V4 int8 variant (Semantic_search_int8.py:22-34): the query vector and
    the corpus are quantized with the SAME calibration ranges, then ranked
    by integer inner product — the exact metric of the reference's
    ``Index(ndim=1024, metric='ip', dtype='i8')`` USearch index.  The dot
    product stays in whole-stage codegen (zip_with + aggregate over int8
    values widened to long); top-k is TakeOrderedAndProject."""
    from commoncrawlnewsdataset_spark.operators.quantize import (
        calibration_ranges,
        quantize_int8,
    )

    emb = _t(spark, sf_dir, "embeddings")
    lo, hi = calibration_ranges(emb)

    def _q8(x: float, l: float, h: float) -> int:
        # same affine map + trunc-toward-zero as quantize_int8 (and as
        # sentence_transformers quantize_embeddings(ranges=...))
        return int((x - l) / (h - l) * 255.0 - 128.0) if h != l else -128

    q8 = [_q8(x, l, h) for x, l, h in zip(_query_vec(spark, sf_dir), lo, hi)]
    q8a = F.array(*[F.lit(int(v)) for v in q8])
    corpus = emb.select(
        "vec_id", quantize_int8(F.col("embedding"), lo, hi).alias("e8")
    )
    ip = F.aggregate(
        F.zip_with(F.col("e8"), q8a, lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        corpus.select("vec_id", ip.alias("ip"))
        .orderBy(F.desc("ip"), "vec_id")
        .limit(20)
    )


ORACLE_INT8_TOPK = """
WITH flat AS (
  SELECT vec_id, i.i AS dim, CAST(embedding[i.i] AS DOUBLE) AS v
  FROM embeddings, unnest(generate_series(1, len(embedding))) i(i)
), ranges AS (
  SELECT dim, min(v) AS lo, max(v) AS hi FROM flat GROUP BY dim
), q AS (
  SELECT f.vec_id, f.dim,
         CAST(trunc(CASE WHEN r.hi - r.lo <> 0
                         THEN (f.v - r.lo) / (r.hi - r.lo) * 255.0 - 128.0
                         ELSE -128.0 END) AS BIGINT) AS qv
  FROM flat f JOIN ranges r USING (dim)
), qq AS (
  SELECT dim, qv AS quv FROM q
  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
)
SELECT q.vec_id, CAST(sum(q.qv * qq.quv) AS BIGINT) AS ip
FROM q JOIN qq USING (dim)
GROUP BY q.vec_id
ORDER BY ip DESC, q.vec_id
LIMIT 20
"""


def q_ann_rescore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r3 #3 end-to-end: two-stage int8-coarse-scan + exact-cosine
    rescore (operators/similarity.py int8_rescore_topk) — the >=0.9-recall
    operating point, oracle-checked: the int8 shortlist AND the f32 rescore
    are both exactly SQL-expressible, so a green row certifies the whole
    two-stage plan, not just its pieces."""
    from commoncrawlnewsdataset_spark.operators.quantize import calibration_ranges
    from commoncrawlnewsdataset_spark.operators.similarity import int8_rescore_topk

    emb = _t(spark, sf_dir, "embeddings")
    lo, hi = calibration_ranges(emb)
    return int8_rescore_topk(
        emb, _query_vec(spark, sf_dir), lo, hi, k=10, shortlist=50
    )


ORACLE_ANN_RESCORE = """
WITH flat AS (
  SELECT vec_id, i.i AS dim, CAST(embedding[i.i] AS DOUBLE) AS v
  FROM embeddings, unnest(generate_series(1, len(embedding))) i(i)
), ranges AS (
  SELECT dim, min(v) AS lo, max(v) AS hi FROM flat GROUP BY dim
), qz AS (
  SELECT f.vec_id, f.dim,
         CAST(trunc(CASE WHEN r.hi - r.lo <> 0
                         THEN (f.v - r.lo) / (r.hi - r.lo) * 255.0 - 128.0
                         ELSE -128.0 END) AS BIGINT) AS qv
  FROM flat f JOIN ranges r USING (dim)
), qq AS (
  SELECT dim, qv AS quv FROM qz
  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
), ip AS (
  SELECT qz.vec_id, sum(qz.qv * qq.quv) AS ip
  FROM qz JOIN qq USING (dim) GROUP BY qz.vec_id
), short AS (
  SELECT vec_id FROM ip ORDER BY ip DESC, vec_id LIMIT 50
), qf AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings ORDER BY vec_id LIMIT 1
)
SELECT e.vec_id,
       round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(generate_series(1, len(e.embedding)),
                              i -> CAST(e.embedding[i] AS DOUBLE) * q.qv[i])), (a,x) -> a + x)
             / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,x) -> a + x))
              * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(q.qv, x -> x * x)), (a,x) -> a + x))), 4) AS score
FROM embeddings e JOIN short USING (vec_id) CROSS JOIN qf q
ORDER BY score DESC, e.vec_id LIMIT 10
"""


def q_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3: sign-bit binary quantization + MSB-first byte packing summary."""
    from commoncrawlnewsdataset_spark.operators.quantize import (
        pack_binary_bytes,
        quantize_binary_bits,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.aggregate(
            quantize_binary_bits(F.col("embedding")), F.lit(0), lambda a, x: a + x
        ).cast("long").alias("n_positive"),
        pack_binary_bytes(F.col("embedding"))[0].alias("first_byte"),
    )


ORACLE_BINARY = """
SELECT vec_id,
       len(list_filter(embedding, x -> x > 0)) AS n_positive,
       list_reduce(list_prepend(0, list_transform(list_slice(embedding, 1, 8),
                   x -> CASE WHEN x > 0 THEN 1 ELSE 0 END)), (a, b) -> a * 2 + b) AS first_byte
FROM embeddings
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17 analog: JSON field extraction from the events props column +
    per-type aggregation (the reference parses trafilatura JSON the same
    way, 03_extract_text.py:63)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.count("k").alias("k_count"),
        )
    )


ORACLE_JSON = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
       count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_count
FROM events GROUP BY event_type
"""


def q_user_event_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic array aggregation: sorted event-type list per user —
    collect_list is order-nondeterministic, so the contract is sort_array
    (the same total-order discipline as the frontier)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("event_type"))).alias("events_sorted"),
            F.count("*").alias("n"),
        )
    )


ORACLE_USER_ARRAYS = """
SELECT user_id,
       array_to_string(list(event_type ORDER BY event_type), ',') AS events_sorted,
       count(*) AS n
FROM events GROUP BY user_id
"""


def q_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-filter shape decorrelated as a window: orders priced above
    their own customer's average (exact DECIMAL avg so the comparison is
    boundary-stable across engines)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    avg_price = F.avg(F.col("o_totalprice").cast("decimal(18,6)")).over(w)
    return (
        orders.withColumn("_avg", avg_price)
        .filter(F.col("o_totalprice").cast("decimal(18,6)") > F.col("_avg"))
        .select("o_orderkey", "o_custkey")
    )


ORACLE_ABOVE_AVG = """
SELECT o_orderkey, o_custkey FROM (
  SELECT o_orderkey, o_custkey,
         CAST(o_totalprice AS DECIMAL(18,6)) AS p,
         avg(CAST(o_totalprice AS DECIMAL(18,6))) OVER (PARTITION BY o_custkey) AS a
  FROM orders
) WHERE p > a
"""


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/D4 upsert semantics as a relational result: 'existing' = orders
    with even keys, 'updates' = orders with key %3==0 re-priced; INSERT OR
    REPLACE resolved by merge_upsert (latest-wins window)."""
    from commoncrawlnewsdataset_spark.plans.star import merge_upsert

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.round("o_totalprice", 4).alias("price")
    )
    existing = orders.filter(F.col("o_orderkey") % 2 == 0)
    updates = orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
        "price", F.round(F.col("price") * 2, 4)
    )
    merged = merge_upsert(existing, updates, ["o_orderkey"], replace=True)
    return merged.agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum(F.col("price").cast("decimal(18,6)")).cast("double"), 4).alias("total"),
    )


ORACLE_MERGE_UPSERT = """
WITH existing AS (
  SELECT o_orderkey, round(o_totalprice, 4) AS price, 0 AS src
  FROM orders WHERE o_orderkey % 2 = 0
), updates AS (
  SELECT o_orderkey, round(round(o_totalprice, 4) * 2, 4) AS price, 1 AS src
  FROM orders WHERE o_orderkey % 3 = 0
), merged AS (
  SELECT o_orderkey, price,
         row_number() OVER (PARTITION BY o_orderkey ORDER BY src DESC) AS rn
  FROM (SELECT * FROM existing UNION ALL SELECT * FROM updates)
)
SELECT count(*) AS n_rows,
       round(CAST(sum(CAST(price AS DECIMAL(18,6))) AS DOUBLE), 4) AS total
FROM merged WHERE rn = 1
"""


def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets (beyond-reference analytics; free from Catalyst):
    ROLLUP over (orderstatus, orderpriority)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double"), 4).alias("revenue"),
        )
    )


ORACLE_ROLLUP = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 4) AS revenue
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window with an explicit frame: running order count per
    customer over time (rows unbounded preceding)."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = orders.select(
        "o_custkey",
        "o_orderkey",
        F.count("*").over(w).alias("order_seq"),
    )
    return out.filter(F.col("order_seq") <= 3)  # keep output bounded


ORACLE_RUNNING = """
SELECT o_custkey, o_orderkey, order_seq FROM (
  SELECT o_custkey, o_orderkey,
         count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS UNBOUNDED PRECEDING) AS order_seq
  FROM orders
) WHERE order_seq <= 3
"""


def q_tld_logic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/X3 TLD extraction over hostnames synthesized from documents: the
    two-level-aware variant (.uk/.au/.nz keep two labels, ner_content.py:19-25)."""
    from commoncrawlnewsdataset_spark.functions.urls import (
        extract_tld,
        extract_tld_two_level,
    )

    docs = _t(spark, sf_dir, "documents")
    host = F.concat(
        F.col("source"), F.lit(".example."),
        F.when(F.col("doc_id") % 4 == 0, "co.uk")
        .when(F.col("doc_id") % 4 == 1, "com.au")
        .when(F.col("doc_id") % 4 == 2, "de")
        .otherwise("com"),
    )
    return docs.select(
        "doc_id",
        host.alias("hostname"),
        extract_tld(host).alias("tld"),
        extract_tld_two_level(host).alias("tld2"),
    )


ORACLE_TLD = """
WITH h AS (
  SELECT doc_id,
         source || '.example.' ||
         CASE doc_id % 4 WHEN 0 THEN 'co.uk' WHEN 1 THEN 'com.au'
                         WHEN 2 THEN 'de' ELSE 'com' END AS hostname
  FROM documents
)
SELECT doc_id, hostname,
       split_part(hostname, '.', -1) AS tld,
       CASE WHEN split_part(hostname, '.', -1) IN ('uk', 'au', 'nz')
            THEN split_part(hostname, '.', -2) || '.' || split_part(hostname, '.', -1)
            ELSE split_part(hostname, '.', -1) END AS tld2
FROM h
"""


def q_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-index search (V4): Hamming distance over packed sign bytes to
    the min-vec_id query, top-20 (10_vector_database.py:19-23 metric)."""
    from commoncrawlnewsdataset_spark.operators.quantize import pack_binary_bytes
    from commoncrawlnewsdataset_spark.operators.similarity import sign_words_of

    emb = _t(spark, sf_dir, "embeddings")
    # the query's bytes, packed once here: Spark does not constant-fold
    # pack_binary_bytes over a literal array, so each row would re-pack it
    qb = F.array(*[F.lit(w) for w in sign_words_of(_query_vec(spark, sf_dir), 8)])
    packed = pack_binary_bytes(F.col("embedding"))
    hamming = F.aggregate(
        F.zip_with(packed, qb, lambda a, b: F.bit_count(a.bitwiseXOR(b))),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        emb.select("vec_id", hamming.cast("int").alias("hamming"))
        .orderBy("hamming", "vec_id")
        .limit(20)
    )


ORACLE_HAMMING = """
WITH packed AS (
  SELECT vec_id,
         list_transform(generate_series(0, CAST(len(embedding)/8 AS INTEGER) - 1),
           i -> list_reduce(list_prepend(0, list_transform(
                  list_slice(embedding, i*8 + 1, i*8 + 8),
                  x -> CASE WHEN x > 0 THEN 1 ELSE 0 END)), (a, b) -> a*2 + b)) AS pb
  FROM embeddings
), q AS (SELECT pb AS qb FROM packed ORDER BY vec_id LIMIT 1)
SELECT vec_id,
       CAST(list_reduce(list_prepend(0, list_transform(generate_series(1, len(p.pb)),
              i -> bit_count(CAST(xor(CAST(p.pb[i] AS BIGINT), CAST(q.qb[i] AS BIGINT)) AS BIGINT)))),
            (a, b) -> a + b) AS INTEGER) AS hamming
FROM packed p CROSS JOIN q
ORDER BY hamming, vec_id LIMIT 20
"""


def q_ann_metadata_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: ANN top-k ⋈ metadata with the score carried as a column — the
    structural fix for the reference's positional distance attach bug
    (Semantic_search_f32.py:50, J7)."""
    from commoncrawlnewsdataset_spark.operators.similarity import topk_with_metadata

    topk = q_cosine_topk(spark, sf_dir).withColumnRenamed("vec_id", "doc_id")
    docs = _t(spark, sf_dir, "documents")
    return topk_with_metadata(topk, docs, "doc_id", ["source", "lang", "n_chars"])


ORACLE_ANN_METADATA = f"""
WITH topk AS ({ORACLE_COSINE_TOPK})
SELECT d.doc_id, d.source, d.lang, d.n_chars, t.score
FROM documents d JOIN topk t ON d.doc_id = t.vec_id
"""


def q_composed_ann_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 served by the composed AnnIndex end-to-end (VERDICT r5 #2): the
    reference's user-facing flow — index.search -> metadata join
    (Example_Usage/Semantic_search_f32.py:21-47) — through ONE index object
    (IVF pruning x OPQ/ADC shortlist x exact cosine rescore).

    VALUE-ORACLED, unlike composed_ann_topk's rows-only check: codes and
    centroids are bit-reproducible (6dp-rounded means), so given the
    index's own parquet the output is fully deterministic — DuckDB replays
    the ADC shortlist selection, the exact rescore, and the join from
    the shared index cache (ann_index.index_cache_root()), with the probed
    lists and the per-query ADC lookup table riding along in the
    query-scoped aux-<qhash>.parquet."""
    from commoncrawlnewsdataset_spark.plans.semantic_search import (
        search_composed_with_metadata,
    )

    docs = _t(spark, sf_dir, "documents")
    return search_composed_with_metadata(
        spark, sf_dir, _query_vec(spark, sf_dir), docs, id_col="doc_id",
        cols=("source", "lang", "n_chars"), k=10, n_probe=COMPOSED_N_PROBE,
        shortlist=100,
    )


COMPOSED_N_PROBE = 6


def _oracle_composed_ann_metadata() -> str:
    """Replays the composed search from the index's own artifacts: (1) pick
    the index whose rows content-match the embeddings view exactly (sf0.001
    and sf0.01 both have 500 vectors, so row COUNT cannot disambiguate —
    the join on (vec_id, embedding) can); (2) pick the aux row whose
    STORED query vector is the min-vec_id embedding and whose n_probe
    matches (ADVICE r6: a concurrent search with a different query writes
    a different aux file and can never be selected); (3) ADC-score the
    probed lists' codes with the aux lookup table in the same fold order;
    (4) shortlist top-100 by (adc desc, vec_id); (5) exact cosine rescore
    (ORACLE_COSINE_TOPK's proven fold shape, round 4 = brute_force_topk);
    (6) metadata join.  Built per-call so the interpolated cache root
    tracks ann_index.index_cache_root() exactly."""
    from commoncrawlnewsdataset_spark.operators.ann_index import index_cache_root

    root = index_cache_root()
    return f"""
WITH sel AS (
  SELECT min(sfkey) AS sk FROM (
    SELECT r.sfkey
    FROM read_parquet('{root}/*/rows/*/*.parquet', hive_partitioning=true) r
    LEFT JOIN embeddings e ON e.vec_id = r.vec_id AND e.embedding = r.embedding
    GROUP BY r.sfkey
    HAVING count(*) = (SELECT count(*) FROM embeddings)
       AND count(e.vec_id) = count(*)
  )
),
aux AS (
  SELECT a.lists, a.lut
  FROM read_parquet('{root}/*/aux-*.parquet', hive_partitioning=true) a
  WHERE a.sfkey = (SELECT sk FROM sel)
    AND a.n_probe = {COMPOSED_N_PROBE}
    AND a.qv = (SELECT embedding FROM embeddings ORDER BY vec_id LIMIT 1)
),
probed AS (
  SELECT r.vec_id, r.codes, r.embedding
  FROM read_parquet('{root}/*/rows/*/*.parquet', hive_partitioning=true) r, aux a
  WHERE r.sfkey = (SELECT sk FROM sel)
    AND list_contains(a.lists, CAST(r."list" AS BIGINT))
),
adc AS (
  SELECT p.vec_id, p.embedding,
         round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(generate_series(1, len(p.codes)),
                              j -> a.lut[j][p.codes[j] + 1])),
               (x, y) -> x + y), 4) AS _adc
  FROM probed p, aux a
),
short AS (
  SELECT vec_id, embedding FROM adc ORDER BY _adc DESC, vec_id LIMIT 100
),
q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings ORDER BY vec_id LIMIT 1
),
topk AS (
  SELECT s.vec_id,
         round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(generate_series(1, len(s.embedding)),
                                i -> CAST(s.embedding[i] AS DOUBLE) * q.qv[i])), (a,x) -> a + x)
               / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(s.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,x) -> a + x))
                * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(q.qv, x -> x * x)), (a,x) -> a + x))), 4) AS score
  FROM short s CROSS JOIN q
  ORDER BY score DESC, vec_id LIMIT 10
)
SELECT d.doc_id, d.source, d.lang, d.n_chars, t.score
FROM documents d JOIN topk t ON d.doc_id = t.vec_id
"""


def q_token_explode_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1+A2: explode tokens, global top-20 token counts (the geomap
    explode/count shape, 07_geocode_news.py:135-143)."""
    from commoncrawlnewsdataset_spark.operators.dedup import tokens

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


ORACLE_TOKEN_EXPLODE = r"""
SELECT token, count(*) AS n
FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS token
      FROM documents)
GROUP BY token ORDER BY n DESC, token LIMIT 20
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (beyond-reference training-pipeline stage): emails /
    phones / IPv4s -> typed placeholder tokens, with per-doc audit counts.
    Deterministic PII is injected into every third document IN THE QUERY
    (the synthetic corpus contains none) so the redaction actually fires;
    the oracle mirrors injection, counts, and the 3-step replacement order
    exactly (DuckDB regexp_replace needs the 'g' flag)."""
    from commoncrawlnewsdataset_spark.functions.pii import with_pii_redacted

    docs = _t(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com or 555-123-4567 at 10.0.0."),
                (F.col("doc_id") % 256).cast("string"),
            ),
        ).otherwise(F.coalesce(F.col("text"), F.lit(""))).alias("text"),
    )
    return with_pii_redacted(injected).select(
        "doc_id", "n_emails", "n_phones", "n_ips", "redacted"
    )


ORACLE_PII = r"""
WITH inj AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@mail.example.com or 555-123-4567 at 10.0.0.'
                   || CAST(doc_id % 256 AS VARCHAR)
              ELSE coalesce(text, '') END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '\d{3}[-.]\d{3}[-.]\d{4}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(text, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS BIGINT) AS n_ips,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\d{3}[-.]\d{3}[-.]\d{4}', '<PHONE>', 'g'),
         '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g') AS redacted
FROM inj
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (GPT-3 appendix C / The Pile): docs sharing
    a trigram shingle with the eval slice (doc_id < 5) are flagged with
    their distinct-overlap count.  The eval shingle set broadcasts; the
    corpus shuffles only exploded shingle hits, never text."""
    from commoncrawlnewsdataset_spark.operators.dedup import contamination_hits

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") < 5)
    train = docs.filter(F.col("doc_id") >= 5)
    hits = contamination_hits(train, ev, "doc_id", "text", k=3)
    return hits.select(
        F.col("id").alias("doc_id"), F.col("n_overlap").cast("long").alias("n_overlap")
    ).orderBy("doc_id")


ORACLE_DECONTAMINATE = f"""
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
), s AS (
  SELECT doc_id, {_DUCK_SHINGLES_K3} AS sh FROM t
), ev AS (
  SELECT DISTINCT unnest(sh) AS esh FROM s WHERE doc_id < 5
), doc_sh AS (
  SELECT doc_id, unnest(sh) AS dsh FROM s WHERE doc_id >= 5
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
FROM doc_sh JOIN ev ON dsh = esh
GROUP BY doc_id
ORDER BY doc_id
"""


def q_binary_rescore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary two-stage search, value-oracled end-to-end: packed sign-word
    Hamming shortlist (operators/similarity.py pack_sign_words /
    hamming_words — 32 bits per long, MSB-first) then exact cosine rescore.
    DuckDB replays the bit packing (list fold), bit_count(xor) Hamming, the
    shortlist tie-break, and the rescore, so a green row certifies the
    whole binary index path cross-engine (the ORACLE's fold assumes dim is a
    multiple of 32 — the testdata's 64 and the reference's 1024 both are;
    pack_sign_words itself zero-pads partial final words, tested for
    dim % 32 != 0 in tests/test_semantic_search.py)."""
    from commoncrawlnewsdataset_spark.operators.similarity import binary_rescore_topk

    emb = _t(spark, sf_dir, "embeddings")
    return binary_rescore_topk(emb, _query_vec(spark, sf_dir), k=10, shortlist=100)


ORACLE_BINARY_RESCORE = """
WITH sig AS (
  SELECT vec_id, embedding,
         list_transform(generate_series(0, CAST(len(embedding) / 32 AS INT) - 1),
           w -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(generate_series(w * 32 + 1, w * 32 + 32),
                    i -> CASE WHEN embedding[i] > 0 THEN 1 ELSE 0 END)),
                  (a, b) -> a * 2 + b)) AS words
  FROM embeddings
), q AS (
  SELECT words AS qwords, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM sig WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
), hd AS (
  SELECT s.vec_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(generate_series(1, len(s.words)),
             i -> CAST(bit_count(xor(s.words[i], q.qwords[i])) AS BIGINT))),
           (a, b) -> a + b) AS hamming
  FROM sig s CROSS JOIN q
), short AS (
  SELECT vec_id FROM hd ORDER BY hamming, vec_id LIMIT 100
)
SELECT e.vec_id,
       round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(generate_series(1, len(e.embedding)),
                              i -> CAST(e.embedding[i] AS DOUBLE) * q.qv[i])), (a,x) -> a + x)
             / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,x) -> a + x))
              * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(q.qv, x -> x * x)), (a,x) -> a + x))), 4) AS score
FROM embeddings e JOIN short USING (vec_id) CROSS JOIN q
ORDER BY score DESC, e.vec_id LIMIT 10
"""


def q_count_min_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch VALUE oracle (md5 hash family — the cross-engine
    contract, like minhash's): build the (depth x width) grid over the full
    corpus token stream, then estimate a DETERMINISTIC probe set (the exact
    top-30 tokens).  DuckDB replays the grid and the min-over-cells estimate
    bit-for-bit, so a green row certifies the sketch MATH (cell addressing,
    grid counts, zero-cell coalesce, min-aggregate) — heavy_hitters stays
    rows-only only because its map-side candidate superset is
    partition-dependent for false positives, by design."""
    from commoncrawlnewsdataset_spark.operators.dedup import tokens
    from commoncrawlnewsdataset_spark.operators.sketch import (
        count_min_build,
        count_min_estimate,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    sketch = count_min_build(toks, "tok", width=2048, depth=4, hasher="md5")
    probe = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(30)
        .select("tok")
    )
    est = count_min_estimate(probe, sketch, "tok", width=2048, depth=4, hasher="md5")
    return est.orderBy(F.desc("est"), "key").select("key", "est")


ORACLE_COUNT_MIN = r"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS tok
  FROM documents
), cells AS (
  SELECT tok, j.j AS j,
         CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' || tok), 1, 8))::UBIGINT % 2048 AS BIGINT) AS col
  FROM toks, unnest([0, 1, 2, 3]) AS j(j)
), grid AS (
  SELECT j, col, count(*) AS c FROM cells GROUP BY 1, 2
), probe AS (
  SELECT tok FROM toks GROUP BY tok ORDER BY count(*) DESC, tok LIMIT 30
), pcells AS (
  SELECT p.tok, j.j AS j,
         CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' || p.tok), 1, 8))::UBIGINT % 2048 AS BIGINT) AS col
  FROM probe p, unnest([0, 1, 2, 3]) AS j(j)
)
SELECT p.tok AS key, CAST(min(coalesce(g.c, 0)) AS BIGINT) AS est
FROM pcells p LEFT JOIN grid g ON g.j = p.j AND g.col = p.col
GROUP BY p.tok
ORDER BY est DESC, key
"""


def q_calibration_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: per-dimension min/max calibration over the whole corpus
    (09_embedding_transformation.py:15-17) as a relational result."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select(F.posexplode("embedding").alias("dim", "v"))
        .groupBy(F.col("dim").cast("long").alias("dim"))
        .agg(
            F.round(F.min("v").cast("double"), 6).alias("lo"),
            F.round(F.max("v").cast("double"), 6).alias("hi"),
        )
    )


ORACLE_CALIBRATION = """
SELECT i.i - 1 AS dim,
       round(CAST(min(embedding[i.i]) AS DOUBLE), 6) AS lo,
       round(CAST(max(embedding[i.i]) AS DOUBLE), 6) AS hi
FROM embeddings, unnest(generate_series(1, len(embedding))) i(i)
GROUP BY 1
"""


# =========================================================================
# Frontier-semantics queries (north_rule), phrased over the oracle views by
# synthesizing a deterministic seed list from `orders`.
# =========================================================================

_URL_SQL = "concat('https://h', CAST(o_custkey % 50 AS STRING), '.example.org/o/', CAST(o_orderkey AS STRING))"
_URL_DUCK = "concat('https://h', CAST(o_custkey % 50 AS VARCHAR), '.example.org/o/', CAST(o_orderkey AS VARCHAR))"
PER_HOST_BUDGET = 10


def _seed_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        F.expr(_URL_SQL).alias("url"),
        F.concat(F.lit("h"), (F.col("o_custkey") % 50).cast("string"), F.lit(".example.org")).alias("host"),
        F.round(F.col("o_totalprice"), 4).alias("priority"),
        F.col("o_orderkey").alias("seed_key"),
    )


def q_politeness_wave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 politeness-budgeted priority queue: per-host window rank, keep
    rn <= budget, deterministic tie-breaks (priority desc, url) — the
    generalization of the reference's global 10-worker budget
    (01_download_newscrawl.py:95-96)."""
    seeds = _seed_frontier(spark, sf_dir)
    w = Window.partitionBy("host").orderBy(F.desc("priority"), "url")
    return (
        seeds.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= PER_HOST_BUDGET)
        .select("host", "url", "priority", "rn")
    )


ORACLE_POLITENESS = f"""
WITH seeds AS (
  SELECT {_URL_DUCK} AS url,
         concat('h', CAST(o_custkey % 50 AS VARCHAR), '.example.org') AS host,
         round(o_totalprice, 4) AS priority
  FROM orders
)
SELECT host, url, priority, rn FROM (
  SELECT host, url, priority,
         row_number() OVER (PARTITION BY host ORDER BY priority DESC, url) AS rn
  FROM seeds
) WHERE rn <= {PER_HOST_BUDGET}
"""


def q_url_seen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 URL-seen semantics: seeds anti-join fetched set (exact backstop of
    the bloom pre-filter), counted per host."""
    seeds = _seed_frontier(spark, sf_dir)
    fetched = seeds.filter(F.col("seed_key") % 2 == 0).select("url")
    return (
        seeds.join(fetched, "url", "left_anti")
        .groupBy("host")
        .agg(F.count("*").alias("n_new"))
    )


ORACLE_URL_SEEN = f"""
WITH seeds AS (
  SELECT {_URL_DUCK} AS url,
         concat('h', CAST(o_custkey % 50 AS VARCHAR), '.example.org') AS host,
         o_orderkey AS seed_key
  FROM orders
)
SELECT host, count(*) AS n_new FROM seeds
WHERE url NOT IN (SELECT url FROM seeds WHERE seed_key % 2 = 0)
GROUP BY host
"""


def q_robots_gating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots gating (north_rule; absent in reference): broadcast anti-join of
    seeds against per-host disallow prefixes."""
    seeds = _seed_frontier(spark, sf_dir)
    rules = spark.createDataFrame(
        [("h1.example.org", "/o/1"), ("h7.example.org", "/o/"), ("h13.example.org", "/o/2")],
        ["host", "path_prefix"],
    )
    path = F.regexp_replace(F.col("url"), r"^https://[^/]+", "")
    gated = seeds.withColumn("path", path).join(
        F.broadcast(rules),
        (seeds.host == rules.host) & F.col("path").startswith(rules.path_prefix),
        "left_anti",
    )
    return gated.groupBy(seeds.host.alias("host")).agg(F.count("*").alias("n_allowed"))


ORACLE_ROBOTS = f"""
WITH seeds AS (
  SELECT {_URL_DUCK} AS url,
         concat('h', CAST(o_custkey % 50 AS VARCHAR), '.example.org') AS host
  FROM orders
), rules AS (
  SELECT * FROM (VALUES ('h1.example.org', '/o/1'), ('h7.example.org', '/o/'),
                        ('h13.example.org', '/o/2')) r(host, path_prefix)
)
SELECT host, count(*) AS n_allowed FROM seeds s
WHERE NOT EXISTS (
  SELECT 1 FROM rules r
  WHERE r.host = s.host
    AND starts_with(regexp_replace(s.url, '^https://[^/]+', ''), r.path_prefix)
)
GROUP BY host
"""


WAVE_BUDGET = 8


def md5_fetch(url: str, max_retries: int = 5) -> tuple[bool, int, int]:
    """Deterministic fetch outcome derived from md5 (NOT crc32) so DuckDB can
    reproduce it: fail iff H%13==0 (after max_retries), retry-once iff H%7==0."""
    import hashlib

    h = int(hashlib.md5(url.encode()).hexdigest()[:8], 16)
    if h % 13 == 0:
        return False, max_retries, 0
    if h % 7 == 0:
        return True, 2, 1000 + h % 50_000
    return True, 1, 1000 + h % 50_000


def _ephemeral_run_dir(*subdirs: str) -> tuple[str, ...]:
    """Per-user run-scoped scratch dirs for queries that write state
    (ADVICE r6 hygiene: the WaveRunner of frontier_waves / crawl_order /
    the capstone, the fingerprint store of dedup_incremental): created under the uid-scoped cache root, removed at
    interpreter exit (the returned plans only read parquet that is
    materialized before exit), with a 6h age sweep for leftovers from
    crashed sessions."""
    import atexit
    import shutil
    import time as _time
    import uuid

    from commoncrawlnewsdataset_spark.cache import cache_root

    base = os.path.join(cache_root(), "runs")
    os.makedirs(base, exist_ok=True)
    for d in os.listdir(base):
        p = os.path.join(base, d)
        try:
            if _time.time() - os.path.getmtime(p) > 6 * 3600:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    run_dir = os.path.join(base, f"run-{uuid.uuid4().hex[:12]}")
    out = []
    for s in subdirs:
        p = os.path.join(run_dir, s)
        os.makedirs(p)
        out.append(p)
    atexit.register(shutil.rmtree, run_dir, ignore_errors=True)
    return tuple(out)


def q_frontier_waves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two REAL crawl waves — the full WaveRunner machinery: politeness
    window, URL-seen gate, link discovery, per-wave snapshot commit + resume
    read — on a frontier seeded from the orders table with md5-derived fetch
    outcomes.  Every step is therefore reproducible in pure SQL: the oracle
    re-plays wave-1 selection, fetch outcomes, /next discovery, wave-2
    selection and outcomes, and checks the FINAL resolved state's
    per-(host,status) url counts and attempt sums.  A green row certifies
    the wave loop end-to-end (north_rule crawl-order contract: priority
    DESC, discovered_ts, url)."""
    from commoncrawlnewsdataset_spark.frontier.waves import WaveRunner

    seeds = _seed_frontier(spark, sf_dir).select(
        "url",
        "priority",
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("discovered_ts"),
    )

    def expander(fetched):
        return fetched.select(
            F.concat(F.col("url"), F.lit("/next")).alias("url"),
            F.lit(0.25).alias("priority"),
            F.col("discovered_ts"),
        )

    (state_dir,) = _ephemeral_run_dir("frontier-oracle")
    runner = WaveRunner(
        spark, state_dir, per_host_budget=WAVE_BUDGET, nsalt=4,
        use_robots=False, fetcher=md5_fetch, link_expander=expander,
        detailed_metrics=False,
    )
    runner.load_seeds(seeds)
    runner.run_wave()
    runner.run_wave()
    return (
        runner.state()
        .groupBy("host", "status")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.sum("attempts").cast("long").alias("sum_attempts"),
        )
    )


def q_crawl_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """north_rule's core contract — 'reproducing the reference's crawl
    ordering ... exactly': run two REAL waves (same md5-deterministic config
    as frontier_waves) and emit every ATTEMPTED url with its (wave, host,
    rank) under the deterministic order contract (priority DESC,
    discovered_ts, url).  The oracle replays both politeness selections in
    SQL, so a green row certifies the total crawl order itself, not just the
    final fetched set."""
    from commoncrawlnewsdataset_spark.frontier.waves import WaveRunner

    seeds = _seed_frontier(spark, sf_dir).select(
        "url",
        "priority",
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("discovered_ts"),
    )
    (state_dir,) = _ephemeral_run_dir("crawl-order")
    runner = WaveRunner(
        spark, state_dir, per_host_budget=WAVE_BUDGET, nsalt=4,
        use_robots=False, fetcher=md5_fetch, detailed_metrics=False,
    )
    runner.load_seeds(seeds)
    runner.run_wave()
    runner.run_wave()
    attempted = runner.state().filter(F.col("status").isin("fetched", "failed"))
    w = Window.partitionBy("wave", "host").orderBy(
        F.desc("priority"), F.asc("discovered_ts"), F.asc("url")
    )
    return attempted.select(
        F.col("wave").cast("long").alias("wave"),
        "host",
        "url",
        "status",
        F.row_number().over(w).cast("long").alias("rank"),
    )


def _oracle_crawl_order() -> str:
    return f"""
WITH seeds AS (
  SELECT {_URL_DUCK} AS url,
         concat('h', CAST(o_custkey % 50 AS VARCHAR), '.example.org') AS host,
         round(o_totalprice, 4) AS priority
  FROM orders
), r1 AS (
  SELECT url, host, priority,
         row_number() OVER (PARTITION BY host ORDER BY priority DESC, url) AS rn
  FROM seeds
), w1 AS (
  SELECT url, host, rn,
         CASE WHEN ('0x' || substr(md5(url), 1, 8))::BIGINT % 13 = 0
              THEN 'failed' ELSE 'fetched' END AS status
  FROM r1 WHERE rn <= {WAVE_BUDGET}
), r2 AS (
  SELECT url, host, priority,
         row_number() OVER (PARTITION BY host ORDER BY priority DESC, url) AS rn
  FROM r1 WHERE rn > {WAVE_BUDGET}
), w2 AS (
  SELECT url, host, rn,
         CASE WHEN ('0x' || substr(md5(url), 1, 8))::BIGINT % 13 = 0
              THEN 'failed' ELSE 'fetched' END AS status
  FROM r2 WHERE rn <= {WAVE_BUDGET}
)
SELECT CAST(1 AS BIGINT) AS wave, host, url, status, CAST(rn AS BIGINT) AS rank FROM w1
UNION ALL
SELECT CAST(2 AS BIGINT) AS wave, host, url, status, CAST(rn AS BIGINT) AS rank FROM w2
"""


_DUCK_FETCH = (
    "CASE WHEN h % 13 = 0 THEN 'failed' ELSE 'fetched' END AS status, "
    "CASE WHEN h % 13 = 0 THEN 5 WHEN h % 7 = 0 THEN 2 ELSE 1 END AS attempts"
)

ORACLE_FRONTIER_WAVES = f"""
WITH seeds AS (
  SELECT {_URL_DUCK} AS url,
         concat('h', CAST(o_custkey % 50 AS VARCHAR), '.example.org') AS host,
         round(o_totalprice, 4) AS priority
  FROM orders
), r1 AS (
  SELECT url, host, priority,
         row_number() OVER (PARTITION BY host ORDER BY priority DESC, url) AS rn
  FROM seeds
), f1 AS (
  SELECT url, host, {_DUCK_FETCH}
  FROM (SELECT url, host, ('0x' || substr(md5(url), 1, 8))::BIGINT AS h
        FROM r1 WHERE rn <= {WAVE_BUDGET})
), pend1 AS (
  SELECT url, host, priority FROM r1 WHERE rn > {WAVE_BUDGET}
  UNION ALL
  SELECT url || '/next' AS url, host, 0.25 AS priority FROM f1 WHERE status = 'fetched'
), r2 AS (
  SELECT url, host, priority,
         row_number() OVER (PARTITION BY host ORDER BY priority DESC, url) AS rn
  FROM pend1
), f2 AS (
  SELECT url, host, {_DUCK_FETCH}
  FROM (SELECT url, host, ('0x' || substr(md5(url), 1, 8))::BIGINT AS h
        FROM r2 WHERE rn <= {WAVE_BUDGET})
), final AS (
  SELECT host, status, attempts FROM f1
  UNION ALL SELECT host, status, attempts FROM f2
  UNION ALL SELECT host, 'pending' AS status, 0 AS attempts FROM r2 WHERE rn > {WAVE_BUDGET}
  UNION ALL SELECT host, 'pending' AS status, 0 AS attempts FROM f2 WHERE status = 'fetched'
)
SELECT host, status, CAST(count(*) AS BIGINT) AS n_urls,
       CAST(sum(attempts) AS BIGINT) AS sum_attempts
FROM final GROUP BY host, status
"""


def q_warc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/P1/F1 end-to-end with a hard value oracle: synthesize multi-record
    WARC shards (warcinfo + request + response per doc) from the documents
    table inside an Arrow batch, parse them back with the from-scratch
    WARC/1.0 reader (sources/warc.py), and project the reference's columns
    (02_extract_newscrawl.py:26-33).  The oracle is a pure projection of
    `documents`, so a green row proves: response-only filtering (request /
    warcinfo records dropped), header projection, and byte-intact payloads
    (md5 over the HTTP body)."""
    from commoncrawlnewsdataset_spark.schemas import WARC_RECORDS_SCHEMA

    # `_t` spreads `documents` over defaultParallelism partitions, so the
    # synthesis + parse pass below runs one Python worker per core
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)

    def warc_roundtrip(batches):
        """Synthesize one WARC blob per batch and parse it back in the same
        Python pass: the bytes never cross Arrow between the two."""
        from datetime import datetime, timedelta

        from commoncrawlnewsdataset_spark.sources.pages import _records_from_bytes
        from commoncrawlnewsdataset_spark.sources.warc import (
            build_request_record,
            build_response_record,
            build_warcinfo,
        )

        t0 = datetime(2024, 1, 1)
        for pdf in batches:
            chunks = [build_warcinfo("2024-01-01T00:00:00Z", gzip_member=True)]
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                url = f"https://warc.example/doc/{did}"
                date = (t0 + timedelta(seconds=int(did))).strftime("%Y-%m-%dT%H:%M:%SZ")
                chunks.append(
                    build_request_record(url, date, f"<urn:uuid:req-{did}>", gzip_member=True)
                )
                chunks.append(
                    build_response_record(
                        url, date, f"<urn:uuid:{did}>", (text or "").encode("utf-8"),
                        gzip_member=True,
                    )
                )
            yield pd.DataFrame(
                _records_from_bytes(b"".join(chunks)),
                columns=WARC_RECORDS_SCHEMA.fieldNames(),
            )

    recs = docs.select("doc_id", "text").mapInPandas(warc_roundtrip, WARC_RECORDS_SCHEMA)
    return recs.select(
        "id",
        "url",
        "warc_ts",
        "mime_type",
        F.length("content").cast("long").alias("body_len"),
        F.md5("content").alias("body_md5"),
    )


ORACLE_WARC_SCAN = """
SELECT '<urn:uuid:' || CAST(doc_id AS VARCHAR) || '>' AS id,
       'https://warc.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
       TIMESTAMP '2024-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND AS warc_ts,
       'text/html' AS mime_type,
       CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS body_len,
       md5(coalesce(text, '')) AS body_md5
FROM documents WHERE doc_id < 200
"""


# =========================================================================
# Training-mix hygiene: chunk dedup, repetition gates, per-domain caps
# =========================================================================

CHUNK_DEDUP_TOKENS = 8


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph-level dedup over fixed 8-token chunks: a chunk
    survives only in the min-id document containing its exact text; per-doc
    (n_chunks, n_kept) quantifies the boilerplate mass removal.  Only md5
    hashes shuffle — never chunk text."""
    from commoncrawlnewsdataset_spark.operators.dedup import chunk_dedup_stats

    docs = _t(spark, sf_dir, "documents")
    return chunk_dedup_stats(docs, "doc_id", "text", CHUNK_DEDUP_TOKENS)


ORACLE_CHUNK_DEDUP = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
), ch AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, CAST(ceil(len(toks) / {CHUNK_DEDUP_TOKENS}.0) AS INT)),
           i -> array_to_string(
                  list_slice(toks, (i-1)*{CHUNK_DEDUP_TOKENS} + 1, i*{CHUNK_DEDUP_TOKENS}),
                  ' '))) AS chunk
  FROM t WHERE len(toks) > 0
), h AS (
  SELECT doc_id, md5(chunk) AS h FROM ch
), owners AS (
  SELECT h, min(doc_id) AS owner FROM h GROUP BY h
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN doc_id = owner THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM h JOIN owners USING (h) GROUP BY doc_id
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-doc repetition gates (duplicate-token fraction,
    most-frequent-bigram mass) — the quality signals a pretraining filter
    thresholds on; bigram mode via one exploded hash-keyed groupBy."""
    from commoncrawlnewsdataset_spark.functions.quality import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs, "doc_id", "text")


ORACLE_REPETITION = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
  FROM documents
), bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1])) AS b
  FROM t WHERE len(toks) >= 2
), top AS (
  SELECT doc_id, max(c) AS top_bg FROM (
    SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b
  ) GROUP BY doc_id
)
SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       CASE WHEN len(toks) > 0
            THEN round(1.0 - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 4)
            ELSE 0.0 END AS dup_token_frac,
       CASE WHEN len(toks) >= 2
            THEN round(top_bg / CAST(len(toks) - 1 AS DOUBLE), 4)
            ELSE 0.0 END AS top_bigram_frac
FROM t LEFT JOIN top USING (doc_id)
"""


DOMAIN_CAP = 30


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style per-domain cap: at most N docs per source, picked by
    deterministic hash rank (reproducible seeded sample, not arbitrary
    LIMIT), salted two-phase rank so the hottest domain can't bottleneck a
    single partition (same proof as the politeness queue)."""
    from commoncrawlnewsdataset_spark.operators.sampling import cap_per_group

    docs = _t(spark, sf_dir, "documents")
    return cap_per_group(docs, "source", "doc_id", DOMAIN_CAP).select(
        "source", "doc_id", "rk"
    )


ORACLE_DOMAIN_CAP = f"""
SELECT source, doc_id, rk FROM (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
                    doc_id
         ) AS rk
  FROM documents
) WHERE rk <= {DOMAIN_CAP}
"""


DEDUP_STORE_SPLIT = 250


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-batch dedup: ingest the corpus as TWO batches
    through a fresh fingerprint store — batch 2 drops everything batch 1
    already ingested (by content fingerprint, old text never rescanned) and
    dedups within itself.  The oracle replays both batches in SQL, so the
    green row certifies the store's cross-batch semantics, not just
    single-batch dedup."""
    from commoncrawlnewsdataset_spark.operators.dedup import dedup_against_store

    (store,) = _ephemeral_run_dir("dedup-store")
    docs = _t(spark, sf_dir, "documents")
    b1 = dedup_against_store(
        docs.filter(F.col("doc_id") < DEDUP_STORE_SPLIT), store, "doc_id", "text"
    )
    b2 = dedup_against_store(
        docs.filter(F.col("doc_id") >= DEDUP_STORE_SPLIT), store, "doc_id", "text"
    )
    return b1.select(F.lit(1).cast("long").alias("batch"), "doc_id").unionByName(
        b2.select(F.lit(2).cast("long").alias("batch"), "doc_id")
    )


ORACLE_DEDUP_INCREMENTAL = f"""
WITH f AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
), b1 AS (
  SELECT fp, min(doc_id) AS doc_id FROM f
  WHERE doc_id < {DEDUP_STORE_SPLIT} GROUP BY fp
), b2 AS (
  SELECT fp, min(doc_id) AS doc_id FROM f
  WHERE doc_id >= {DEDUP_STORE_SPLIT} AND fp NOT IN (SELECT fp FROM b1)
  GROUP BY fp
)
SELECT CAST(1 AS BIGINT) AS batch, doc_id FROM b1
UNION ALL
SELECT CAST(2 AS BIGINT) AS batch, doc_id FROM b2
"""


def q_sitemap_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 via sitemap discovery: synthesize one sitemap XML per host from
    orders (urls + lastmod dates, deterministic order), parse it back with
    the column-expression sitemap reader, and emit the seed rows.  The
    oracle computes the expected seeds RELATIONALLY (straight from orders),
    so a green row certifies the synthesize→parse round trip — i.e. the
    parser extracts exactly the urls and lastmods the XML encodes."""
    from commoncrawlnewsdataset_spark.frontier.sitemaps import sitemap_seed_urls

    orders = _t(spark, sf_dir, "orders")
    entry = F.concat(
        F.lit("<url><loc>"), F.expr(_URL_SQL), F.lit("</loc><lastmod>"),
        F.date_format("o_orderdate", "yyyy-MM-dd"), F.lit("</lastmod></url>"),
    )
    xml = (
        orders.select(
            F.concat(F.lit("h"), (F.col("o_custkey") % 50).cast("string"),
                     F.lit(".example.org")).alias("host"),
            F.struct(F.col("o_orderkey").alias("k"), entry.alias("e")).alias("s"),
        )
        .groupBy("host")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.array_join(
                    F.transform(F.array_sort(F.collect_list("s")), lambda x: x["e"]),
                    "",
                ),
                F.lit("</urlset>"),
            ).alias("body")
        )
    )
    return sitemap_seed_urls(xml).select(
        "host", "url", "priority",
        F.col("discovered_ts").cast("timestamp").alias("discovered_ts"),
    )


ORACLE_SITEMAP_SEEDS = f"""
SELECT concat('h', CAST(o_custkey % 50 AS VARCHAR), '.example.org') AS host,
       {_URL_DUCK} AS url,
       CAST(0.5 AS DOUBLE) AS priority,
       CAST(o_orderdate AS TIMESTAMP) AS discovered_ts
FROM orders
"""


def q_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-style quality score with no model artifact: per-doc mean negative
    log-prob under the corpus's own smoothed unigram distribution (the
    relational core of CCNet's perplexity bucketing)."""
    from commoncrawlnewsdataset_spark.operators.tfidf import unigram_nll_scores

    docs = _t(spark, sf_dir, "documents")
    return unigram_nll_scores(docs, "doc_id", "text")


ORACLE_UNIGRAM_NLL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS tok
  FROM documents
), vocab AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok
), totals AS (
  SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM vocab
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(-ln((c + 1.0) / (n + v))), 4) AS nll
FROM toks JOIN vocab USING (tok) CROSS JOIN totals
GROUP BY doc_id
"""


def q_link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-stage <a href> link extraction value-checked: synthesize one page
    per order carrying a root-relative link, an UPPERCASE absolute
    cross-host link, and a mailto: (dropped), parse with
    frontier.links.extract_links, and let the oracle recompute the expected
    edge set relationally — certifying resolution policy (origin join,
    scheme filter) cross-engine."""
    from commoncrawlnewsdataset_spark.frontier.links import extract_links

    orders = _t(spark, sf_dir, "orders")
    html = F.concat(
        F.lit('<html><body><a href="/next/'),
        F.col("o_orderkey").cast("string"),
        F.lit('">n</a><A HREF=\'https://x'),
        (F.col("o_orderkey") % 7).cast("string"),
        F.lit(".example.net/p'>m</a>"),
        F.lit('<a href="mailto:a@b.example">z</a><p>body</p></body></html>'),
    )
    pages = orders.select(
        F.expr(_URL_SQL).alias("url"), F.encode(html, "UTF-8").alias("html")
    )
    return extract_links(pages)


ORACLE_LINK_EDGES = f"""
SELECT {_URL_DUCK} AS src,
       concat('https://h', CAST(o_custkey % 50 AS VARCHAR),
              '.example.org/next/', CAST(o_orderkey AS VARCHAR)) AS dst
FROM orders
UNION ALL
SELECT {_URL_DUCK} AS src,
       concat('https://x', CAST(o_orderkey % 7 AS VARCHAR), '.example.net/p') AS dst
FROM orders
"""


GATE_PCTL = 0.10


def q_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quality gating: drop documents below their LANGUAGE's 10th
    length percentile — thresholds learned from the corpus itself instead of
    a fixed constant (fixed cutoffs over- or under-prune across languages
    with different length distributions).  Exact percentile per group
    (tiny: one row per language) broadcast back against the corpus; both
    engines interpolate percentiles identically (proven by the
    length_quantiles row), so the kept SET value-checks cross-engine."""
    docs = _t(spark, sf_dir, "documents")
    thr = docs.groupBy("lang").agg(
        F.percentile(F.col("n_chars"), F.lit(GATE_PCTL)).alias("thr")
    )
    return (
        docs.join(F.broadcast(thr), "lang")
        .filter(F.col("n_chars") >= F.col("thr"))
        .select("lang", "doc_id", "n_chars", F.round("thr", 4).alias("thr"))
    )


ORACLE_QUANTILE_GATE = f"""
WITH thr AS (
  SELECT lang, quantile_cont(n_chars, {GATE_PCTL}) AS t FROM documents GROUP BY lang
)
SELECT d.lang, d.doc_id, d.n_chars, round(t, 4) AS thr
FROM documents d JOIN thr USING (lang)
WHERE d.n_chars >= t
"""


DEBT_BATCH_S = 30.0
DEBT_DELAYS = {"h0.example.org": 10.0, "h1.example.org": 5.0}
DEBT_DEFAULT = 1.0
DEBT_NBATCH = 4


def q_politeness_debt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl-delay debt over a batch sequence, folded
    JVM-side per host (one F.aggregate, two shuffles for ANY number of
    batches).  The request log derives from orders (host = customer host,
    batch = orderkey % 4); slow hosts (h0: 10s delay, h1: 5s vs 30s
    batches) accumulate real deferrals.  The oracle mirrors the fold with
    DuckDB list_reduce, so the green row value-checks the debt arithmetic
    cross-engine."""
    from commoncrawlnewsdataset_spark.frontier.politeness import politeness_debt_batch

    orders = _t(spark, sf_dir, "orders")
    req = orders.select(
        F.concat(F.lit("h"), (F.col("o_custkey") % 50).cast("string"),
                 F.lit(".example.org")).alias("host"),
        (F.col("o_orderkey") % DEBT_NBATCH).cast("long").alias("batch"),
    )
    return politeness_debt_batch(
        req, "host", "batch", DEBT_DELAYS,
        batch_seconds=DEBT_BATCH_S, default_delay=DEBT_DEFAULT,
    )


def _oracle_politeness_debt() -> str:
    cases = " ".join(
        f"WHEN '{h}' THEN {d}" for h, d in sorted(DEBT_DELAYS.items())
    )
    B = DEBT_BATCH_S
    return f"""
WITH req AS (
  SELECT concat('h', CAST(o_custkey % 50 AS VARCHAR), '.example.org') AS host,
         o_orderkey % {DEBT_NBATCH} AS batch
  FROM orders
), c AS (
  SELECT host, batch, CAST(count(*) AS BIGINT) AS n FROM req GROUP BY host, batch
), s AS (
  SELECT host, list(n ORDER BY batch) AS seq,
         CASE host {cases} ELSE {DEBT_DEFAULT} END AS d
  FROM c GROUP BY host
), folded AS (
  SELECT host, d,
         list_reduce(
           list_prepend(
             struct_pack(req := CAST(0 AS BIGINT), gr := CAST(0 AS BIGINT),
                         carry := CAST(0.0 AS DOUBLE), seen := CAST(0 AS BIGINT)),
             list_transform(seq, n ->
               struct_pack(req := n, gr := CAST(0 AS BIGINT),
                           carry := CAST(0.0 AS DOUBLE), seen := CAST(0 AS BIGINT)))
           ),
           (acc, x) -> struct_pack(
             req := acc.req + x.req,
             gr := acc.gr + least(x.req, CAST(floor(({B} + acc.carry) / d) AS BIGINT)),
             carry := least({B}, {B} + acc.carry
                       - least(x.req, CAST(floor(({B} + acc.carry) / d) AS BIGINT)) * d),
             seen := acc.seen + 1
           )
         ) AS f
  FROM s
)
SELECT host, f.req AS n_requested, f.gr AS n_granted,
       f.req - f.gr AS n_deferred, round(f.carry, 6) AS carry_s,
       f.seen AS batches_seen
FROM folded
"""


PAGERANK_ITER = 3
PAGERANK_DAMPING = 0.85


def q_pagerank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-first crawl prioritization: PageRank over a host link
    graph (customer-host -> supplier-host edges derived from orders ⋈
    lineitem), the score a frontier reprioritize() wave would feed into the
    politeness queue's priority column.  Fixed 3 iterations with
    per-iteration 10dp rounding make the float pipeline bit-reproducible,
    so the DuckDB oracle can UNROLL the same three iterations as CTEs and
    value-check every rank (supplier hosts have no out-edges — the
    dangling-mass redistribution path is exercised, not just the join)."""
    from commoncrawlnewsdataset_spark.operators.graph import pagerank

    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    edges = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            F.concat(F.lit("h"), (F.col("o_custkey") % 50).cast("string")).alias("src"),
            F.concat(F.lit("s"), (F.col("l_suppkey") % 25).cast("string")).alias("dst"),
        )
    )
    return pagerank(edges, n_iter=PAGERANK_ITER, damping=PAGERANK_DAMPING)


def _oracle_pagerank() -> str:
    d = PAGERANK_DAMPING
    iters = []
    prev = "r0"
    for i in range(1, PAGERANK_ITER + 1):
        iters.append(f"""
c{i} AS (
  SELECT e.dst AS node, sum(r.rank / dg.deg) AS s
  FROM e JOIN {prev} r ON r.node = e.src JOIN deg dg ON dg.src = e.src
  GROUP BY e.dst
), dm{i} AS (
  SELECT coalesce(sum(rank), 0) AS dm FROM {prev}
  WHERE node NOT IN (SELECT src FROM deg)
), r{i} AS (
  SELECT nodes.node,
         round((1 - {d}) / n + {d} * (coalesce(s, 0) + dm / n), 10) AS rank
  FROM nodes LEFT JOIN c{i} USING (node) CROSS JOIN dm{i} CROSS JOIN nn
)""")
        prev = f"r{i}"
    return f"""
WITH e AS (
  SELECT DISTINCT concat('h', CAST(o_custkey % 50 AS VARCHAR)) AS src,
                  concat('s', CAST(l_suppkey % 25 AS VARCHAR)) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), nn AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
), deg AS (
  SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY src
), r0 AS (
  SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn
),{",".join(iters)}
SELECT node, round(rank, 6) AS rank FROM {prev}
"""


# =========================================================================
# Capstone: crawl -> pages -> extract -> quality -> dedup -> pack, ONE row
# =========================================================================

CRAWL_CORPUS_CHUNK = 64
_N_TOPICS = 17


def md5_fetch_with_payload(
    url: str, max_retries: int = 5
) -> tuple[bool, int, int, bytes | None]:
    """md5_fetch + a deterministic, SQL-replayable HTML body: the extracted
    text is a pure function of (host, md5-bucket), so the DuckDB oracle can
    reproduce the fallback extractor's output, the quality verdict, and the
    dedup survivor byte-for-byte.  Word count = 35 + 5*bucket (buckets 0-2
    fail the >=50-word gate); urls in the same (host, bucket) cell share a
    body, so the D1 dedup stage has real duplicate groups to collapse."""
    import hashlib
    from urllib.parse import urlparse

    ok, attempts, _n = md5_fetch(url, max_retries)
    if not ok:
        return False, attempts, 0, None
    h = int(hashlib.md5(url.encode()).hexdigest()[:8], 16)
    bucket = h % _N_TOPICS
    host = urlparse(url).netloc
    para1 = f"Shared report {bucket} from {host}."
    para2 = ("word " * (30 + 5 * bucket)).strip()
    body = (
        f"<html><head><title>Report {bucket}</title></head>"
        f"<body><p>{para1}</p><p>{para2}</p></body></html>"
    ).encode("utf-8")
    return True, attempts, len(body), body


def q_crawl_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE north-star dataflow in one oracle-checked row (reference spine
    process_all_months.sh:124-196: download -> extract -> filter -> dedup):
    the REAL WaveRunner — politeness window, URL-seen gate, page sink,
    snapshot commits — fetches two waves with md5-deterministic payloads;
    the sink then feeds the REAL extraction spine (pages -> Arrow extract
    UDF -> null-text drop -> D1 dedup on (text, hostname)) and the
    training-corpus stages (word-count quality gate -> concat-and-chunk
    packing).  Every value in the output — which urls got fetched, the
    extracted text, the dedup survivor, the token intervals — is replayed
    in pure SQL by the oracle, so a green row certifies the crawl->corpus
    JUNCTION end-to-end, not just each stage in isolation.

    Hygiene (ADVICE r6): run dirs live under the per-user cache root and
    are removed at interpreter exit (the lazy plan reads only the page
    parquet, which is materialized by then); leftovers from crashed
    sessions are age-swept on the next invocation; and the checkpoint's
    catalog tables are dropped as soon as the eager crawl finishes — the
    returned plan never touches them, so long selfcheck sessions
    accumulate zero external tables."""
    from commoncrawlnewsdataset_spark.frontier.waves import WaveRunner
    from commoncrawlnewsdataset_spark.functions.extract import extract_articles
    from commoncrawlnewsdataset_spark.functions.quality import token_count_ws
    from commoncrawlnewsdataset_spark.operators.packing import pack_chunks

    state_dir, pages_dir = _ephemeral_run_dir("state", "pages")

    seeds = _seed_frontier(spark, sf_dir).select(
        "url",
        "priority",
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("discovered_ts"),
    )
    runner = WaveRunner(
        spark, state_dir, per_host_budget=WAVE_BUDGET, nsalt=4,
        use_robots=False, fetcher=md5_fetch_with_payload,
        detailed_metrics=False, page_sink_dir=pages_dir,
        bucket_state=16,
    )
    runner.load_seeds(seeds)
    runner.run_wave()
    # compact between the waves (VERDICT r5 #4: bucketed frontier as the
    # capstone DEFAULT): wave 2's URL-seen gate runs the production split
    # path — Exchange-free bucketed checkpoint join + incremental bloom —
    # inside this oracle-checked row; gate semantics are provably identical
    # so the replayed values don't change
    runner.compact()
    runner.run_wave()
    # the crawl is done and the plan below reads only the page sink —
    # drop every catalog table this run's checkpoints registered
    runner._drop_stale_ckpt_tables(1 << 30)
    arts = extract_articles(runner.pages())
    gated = arts.filter(token_count_ws(F.col("text")).between(50, 10000))
    packed = pack_chunks(gated, CRAWL_CORPUS_CHUNK, id_col="url", text_col="text")
    return packed.withColumnRenamed("doc_id", "url")


def _oracle_crawl_corpus() -> str:
    return f"""
WITH seeds AS (
  SELECT {_URL_DUCK} AS url,
         concat('h', CAST(o_custkey % 50 AS VARCHAR), '.example.org') AS host,
         round(o_totalprice, 4) AS priority
  FROM orders
), ranked AS (
  SELECT url, host,
         row_number() OVER (PARTITION BY host ORDER BY priority DESC, url) AS rn
  FROM seeds
), fetched AS (
  -- two waves, no discovery: wave 2 selects the next budget ranks of the
  -- pending remainder, so the attempted set is rn <= 2*budget; failures
  -- are md5-deterministic (H % 13 = 0)
  SELECT url, host,
         ('0x' || substr(md5(url), 1, 8))::BIGINT % {_N_TOPICS} AS bucket
  FROM ranked
  WHERE rn <= {2 * WAVE_BUDGET}
    AND ('0x' || substr(md5(url), 1, 8))::BIGINT % 13 <> 0
), ex AS (
  -- the fallback extractor's exact output: <p> bodies joined by newline
  SELECT url, host,
         'Shared report ' || CAST(bucket AS VARCHAR) || ' from ' || host || '.'
           || chr(10) || rtrim(repeat('word ', 30 + 5 * bucket)) AS text
  FROM fetched
), ded AS (
  -- D1 dedup, deterministic survivor: min(url) per (hostname, text)
  SELECT min(url) AS url, text
  FROM ex GROUP BY host, text
), gated AS (
  SELECT url,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
  FROM ded
  WHERE len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')) BETWEEN 50 AND 10000
), c AS (
  SELECT url, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY url) AS BIGINT) AS tok_end
  FROM gated
)
SELECT url, n_tokens, tok_end - n_tokens AS tok_start, tok_end,
       CAST(floor((tok_end - n_tokens) / {CRAWL_CORPUS_CHUNK}.0) AS BIGINT) AS first_chunk,
       CAST(floor((tok_end - 1) / {CRAWL_CORPUS_CHUNK}.0) AS BIGINT) AS last_chunk
FROM c
"""


# =========================================================================
# Registry
# =========================================================================

def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # relational conformance
        "pricing_summary": q_pricing_summary,
        "star_join_topn": q_star_join_topn,
        "monthly_orders": q_monthly_orders,
        "value_counts_topk": q_value_counts_topk,
        "group_topk": q_group_topk,
        "having_active_users": q_having_active_users,
        "countdistinct_per_group": q_countdistinct_per_group,
        "month_filter_count": q_month_filter_count,
        "sessionize": q_sessionize,
        # corpus / text analysis
        "text_stats": q_text_stats,
        "quality_filter": q_quality_filter,
        "quantile_gate": q_quantile_gate,
        "lang_id": q_lang_id,
        "token_counts": q_token_counts,
        "quality_score": q_quality_score,
        "fingerprints": q_fingerprints,
        "dedup_exact": q_dedup_exact,
        "dedup_incremental": q_dedup_incremental,
        "chunk_dedup": q_chunk_dedup,
        "repetition_stats": q_repetition_stats,
        "domain_cap": q_domain_cap,
        "minhash_signatures": q_minhash_signatures,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash": q_simhash,
        "simhash_pairs": q_simhash_pairs,
        "jaccard_pairs": q_jaccard_pairs,
        "dup_clusters": q_dup_clusters,
        "stratified_sample": q_stratified_sample,
        "hash_split": q_hash_split,
        "corpus_mixture": q_corpus_mixture,
        "corpus_mixture_tokens": q_corpus_mixture_tokens,
        "sample_per_month": q_sample_per_month,
        "length_quantiles": q_length_quantiles,
        "tfidf_topk": q_tfidf_topk,
        "unigram_nll": q_unigram_nll,
        "pack_chunks": q_pack_chunks,
        "pack_chunks_tokens": q_pack_chunks_tokens,
        "corpus_pipeline": q_corpus_pipeline,
        "doc_source_antijoin": q_doc_source_antijoin,
        "hashed_ids": q_hashed_ids,
        "token_explode_topk": q_token_explode_topk,
        "count_min_estimates": q_count_min_estimates,
        "pii_redact": q_pii_redact,
        "decontaminate": q_decontaminate,
        "json_extract": q_json_extract,
        "user_event_arrays": q_user_event_arrays,
        "above_customer_avg": q_above_customer_avg,
        "merge_upsert": q_merge_upsert,
        "rollup_orders": q_rollup_orders,
        "running_revenue": q_running_revenue,
        "tld_logic": q_tld_logic,
        # vectors
        "hamming_topk": q_hamming_topk,
        "ann_metadata_join": q_ann_metadata_join,
        "composed_ann_metadata": q_composed_ann_metadata,
        "calibration_ranges": q_calibration_ranges,
        "cosine_topk": q_cosine_topk,
        "cosine_dup_pairs": q_cosine_dup_pairs,
        "cosine_dup_pairs_lsh": q_cosine_dup_pairs_lsh,
        "int8_quantize": q_int8_quantize,
        "int8_topk": q_int8_topk,
        "ann_rescore_topk": q_ann_rescore_topk,
        "binary_rescore_topk": q_binary_rescore_topk,
        "binary_quantize": q_binary_quantize,
        # frontier semantics
        "politeness_wave": q_politeness_wave,
        "url_seen_antijoin": q_url_seen_antijoin,
        "robots_gating": q_robots_gating,
        "frontier_waves": q_frontier_waves,
        "crawl_order": q_crawl_order,
        "pagerank_hosts": q_pagerank_hosts,
        "politeness_debt": q_politeness_debt,
        "sitemap_seeds": q_sitemap_seeds,
        "link_edges": q_link_edges,
        "crawl_corpus_pipeline": q_crawl_corpus_pipeline,
        # ingestion
        "warc_scan": q_warc_scan,
    }


def oracle_sqls() -> dict[str, str]:
    return {
        "pricing_summary": ORACLE_PRICING,
        "star_join_topn": ORACLE_STAR_JOIN,
        "monthly_orders": ORACLE_MONTHLY,
        "value_counts_topk": ORACLE_VALUE_COUNTS,
        "group_topk": ORACLE_GROUP_TOPK,
        "having_active_users": ORACLE_HAVING,
        "countdistinct_per_group": ORACLE_COUNTDISTINCT,
        "month_filter_count": ORACLE_MONTH_FILTER,
        "sessionize": ORACLE_SESSIONIZE,
        "text_stats": ORACLE_TEXT_STATS,
        "quality_filter": ORACLE_QUALITY_FILTER,
        "quantile_gate": ORACLE_QUANTILE_GATE,
        "lang_id": _oracle_langid(),
        "token_counts": ORACLE_TOKEN_COUNTS,
        "quality_score": ORACLE_QUALITY_SCORE,
        "fingerprints": ORACLE_FINGERPRINTS,
        "dedup_exact": ORACLE_DEDUP_EXACT,
        "dedup_incremental": ORACLE_DEDUP_INCREMENTAL,
        "chunk_dedup": ORACLE_CHUNK_DEDUP,
        "repetition_stats": ORACLE_REPETITION,
        "domain_cap": ORACLE_DOMAIN_CAP,
        "minhash_signatures": _oracle_minhash_sigs(),
        "minhash_lsh_pairs": _oracle_minhash_pairs(),
        "simhash": _oracle_simhash(),
        "simhash_pairs": _oracle_simhash_pairs(),
        "jaccard_pairs": ORACLE_JACCARD,
        "dup_clusters": _oracle_dup_clusters(),
        "stratified_sample": _oracle_stratified_sample(),
        "hash_split": _oracle_hash_split(),
        "corpus_mixture": _oracle_corpus_mixture(),
        "corpus_mixture_tokens": _oracle_corpus_mixture_tokens(),
        "sample_per_month": ORACLE_SAMPLE_PER_MONTH,
        "length_quantiles": ORACLE_LENGTH_QUANTILES,
        "tfidf_topk": ORACLE_TFIDF,
        "unigram_nll": ORACLE_UNIGRAM_NLL,
        "pack_chunks": ORACLE_PACK_CHUNKS,
        "pack_chunks_tokens": ORACLE_PACK_CHUNKS_TOKENS,
        "corpus_pipeline": _oracle_corpus_pipeline(),
        "doc_source_antijoin": ORACLE_DOC_ANTIJOIN,
        "hashed_ids": ORACLE_HASHED_IDS,
        "token_explode_topk": ORACLE_TOKEN_EXPLODE,
        "count_min_estimates": ORACLE_COUNT_MIN,
        "pii_redact": ORACLE_PII,
        "decontaminate": ORACLE_DECONTAMINATE,
        "json_extract": ORACLE_JSON,
        "user_event_arrays": ORACLE_USER_ARRAYS,
        "above_customer_avg": ORACLE_ABOVE_AVG,
        "merge_upsert": ORACLE_MERGE_UPSERT,
        "rollup_orders": ORACLE_ROLLUP,
        "running_revenue": ORACLE_RUNNING,
        "tld_logic": ORACLE_TLD,
        "hamming_topk": ORACLE_HAMMING,
        "ann_metadata_join": ORACLE_ANN_METADATA,
        "composed_ann_metadata": _oracle_composed_ann_metadata(),
        "calibration_ranges": ORACLE_CALIBRATION,
        "cosine_topk": ORACLE_COSINE_TOPK,
        "cosine_dup_pairs": ORACLE_COSINE_DUPS,
        "cosine_dup_pairs_lsh": _oracle_cosine_dups_lsh(),
        "int8_quantize": ORACLE_INT8,
        "int8_topk": ORACLE_INT8_TOPK,
        "ann_rescore_topk": ORACLE_ANN_RESCORE,
        "binary_rescore_topk": ORACLE_BINARY_RESCORE,
        "binary_quantize": ORACLE_BINARY,
        "politeness_wave": ORACLE_POLITENESS,
        "url_seen_antijoin": ORACLE_URL_SEEN,
        "robots_gating": ORACLE_ROBOTS,
        "frontier_waves": ORACLE_FRONTIER_WAVES,
        "crawl_order": _oracle_crawl_order(),
        "pagerank_hosts": _oracle_pagerank(),
        "politeness_debt": _oracle_politeness_debt(),
        "sitemap_seeds": ORACLE_SITEMAP_SEEDS,
        "link_edges": ORACLE_LINK_EDGES,
        "crawl_corpus_pipeline": _oracle_crawl_corpus(),
        "warc_scan": ORACLE_WARC_SCAN,
    }
