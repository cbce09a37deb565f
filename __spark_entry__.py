"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship query (reference pipeline spine on synthetic pages).
queries()     -> every implemented operator from SURVEY §2 as (spark, sf_dir)
                 callables; backed by commoncrawlnewsdataset_spark.plans.queries.
oracle_sql()  -> DuckDB-equivalent SQL for each oracle-checkable query.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))


def _synth_pages(spark: SparkSession, n: int = 600) -> DataFrame:
    from commoncrawlnewsdataset_spark.schemas import PAGES_SCHEMA
    from commoncrawlnewsdataset_spark.synth import make_pages_pdf

    return spark.createDataFrame(make_pages_pdf(n), PAGES_SCHEMA)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's E2E spine (03→04→05→06) as one lazy plan —
    extract UDF → quality-metrics UDF → F4 filter → NER enrichment."""
    from commoncrawlnewsdataset_spark.functions.extract import extract_articles
    from commoncrawlnewsdataset_spark.functions.textmetrics import with_quality_metrics
    from commoncrawlnewsdataset_spark.ner import with_ner
    from commoncrawlnewsdataset_spark.operators.filters import filter_quality

    pages = _synth_pages(spark)
    articles = extract_articles(pages)
    scored = with_quality_metrics(articles)
    filtered = filter_quality(scored)
    return with_ner(filtered).select(
        "url", "hostname", "title", "word_count", "sentences_count", "loc", "loc_normal"
    )


# --- rows-only queries (non-SQL-expressible: Arrow UDF pipelines, ANN probe) ---

N_FIXTURE_PAGES = 600


def _guard_gazetteer_names(names: list[str]) -> None:
    """Loud guard shared by every oracle that interpolates gazetteer names
    into a regex alternation / SQL literal (the __spark_entry__ alphabet-
    guard pattern): letters (incl. latin-1), digits, single internal
    spaces, hyphens only — all regex-literal in both engines, and lower()
    ≡ the X9 normalization on this alphabet.  ADVICE r7: leading/trailing
    or doubled spaces are rejected too — on such names lower() is NOT
    equivalent to normalize_loc_ner (which trims and collapses
    whitespace), so the loc_normal replay would silently diverge."""
    import re as _re

    word = r"[A-Za-zÀ-ÿ0-9\-]+"
    for n in names:
        if not _re.fullmatch(rf"{word}( {word})*", n):
            raise ValueError(
                f"gazetteer name {n!r} outside the regex-literal alphabet — "
                "extend the oracle with RE2-safe escaping first"
            )


def _assert_extract_oracle_domain(pdf) -> None:
    """Fail-loud domain guards that make the DuckDB replay of the
    deterministic fallback extractor + Python quality metrics EXACT on this
    fixture (VERDICT r6 #1: 'guard the oracle domain loudly'):

    - the real trafilatura must be absent (the oracle replays the fallback);
    - every html payload is strict UTF-8 (DuckDB decode() must not throw);
    - Python str.strip() on paras/titles only ever removes ASCII spaces
      (DuckDB trim strips spaces only);
    - extracted text's whitespace alphabet is {space, newline} (Python
      str.split() ≡ RE2 split on the explicit class — never bare \\s, which
      diverges on U+000B);
    - the sentence regex \\b[^.!?]+[.!?]* counts identically under Python's
      unicode \\b and ASCII \\b (≡ RE2's \\b) on every text;
    - urls parse with the simple scheme://host/ shape the SQL regex assumes.

    fraction_non_alpha_words needs NO guard: Python str.isalpha is exactly
    Unicode category L*, which RE2 matches as \\p{L}."""
    import re as _re

    from commoncrawlnewsdataset_spark.functions import extract as _EX
    from commoncrawlnewsdataset_spark.functions.textmetrics import SENTENCE_PATTERN

    if _EX.HAVE_TRAFILATURA:
        raise ValueError(
            "trafilatura is importable: extract_pipeline's oracle replays the "
            "deterministic fallback extractor and must not certify the real "
            "library — drop the oracle entry or pin the fallback explicitly"
        )
    ascii_sentences = _re.compile(r"\b[^.!?]+[.!?]*", _re.ASCII)
    for url, html in zip(pdf["url"], pdf["html"]):
        html.decode("utf-8")  # strict — mirrors DuckDB decode()
        if not _re.match(r"^https?://[^/]+/", url):
            raise ValueError(f"url {url!r} outside the scheme://host/ shape")
        paras = []
        for p_raw in _EX._P_RE.findall(html):
            s = _EX._TAG_RE.sub(b"", p_raw).decode("utf-8", "replace")
            if s.strip() != s.strip(" "):
                raise ValueError("para strip() removes non-space whitespace")
            if s.strip():
                paras.append(s.strip())
        m = _EX._TITLE_RE.search(html)
        if m is None:
            # Python yields title=None where the SQL replay yields '' —
            # outside the proven domain, fail loud instead of hash-red
            raise ValueError(f"page {url!r} has no <title> — oracle domain requires one")
        ts = m.group(1).decode("utf-8", "replace")
        if ts.strip() != ts.strip(" "):
            raise ValueError("title strip() removes non-space whitespace")
        text = "\n".join(paras)
        ws = {c for c in text if c.isspace()}
        if not ws <= {" ", "\n"}:
            raise ValueError(f"text whitespace alphabet {ws!r} not replayable")
        if len(SENTENCE_PATTERN.findall(text)) != len(ascii_sentences.findall(text)):
            raise ValueError(
                "sentence count differs between unicode and ASCII \\b on this "
                "text — outside the proven oracle domain"
            )


def _ensure_pages_fixture() -> str:
    """Deterministic synthetic-pages fixture parquet under the signature-
    addressed shared cache — the SAME bytes feed the Spark query and the
    DuckDB replay (the composed_ann_metadata technique applied to the E2E
    spine's INPUT).  The entry name embeds a content hash of all rows, so
    a synth.py change builds a new immutable entry and can never let the
    oracle read stale pages.  Domain guards run on every call."""
    import hashlib
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq

    from commoncrawlnewsdataset_spark.cache import cache_root, ensure_cached_dir
    from commoncrawlnewsdataset_spark.synth import make_pages_pdf

    pdf = make_pages_pdf(N_FIXTURE_PAGES)
    _assert_extract_oracle_domain(pdf)
    h = hashlib.sha256()
    for url, html in zip(pdf["url"], pdf["html"]):
        h.update(url.encode())
        h.update(b"\0")
        h.update(html)
        h.update(b"\0")
    entry_name = f"pages-n{N_FIXTURE_PAGES}-{h.hexdigest()[:16]}"

    def _build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        tbl = pa.table(
            {
                "url": pa.array(list(pdf["url"]), type=pa.string()),
                "html": pa.array(list(pdf["html"]), type=pa.binary()),
            }
        )
        papq.write_table(tbl, os.path.join(tmp, "pages.parquet"))

    path = ensure_cached_dir(os.path.join(cache_root(), "fixtures"), entry_name, _build)
    return os.path.join(path, "pages.parquet")


def q_extract_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship E2E spine (reference 03→04→05→06: extract UDF →
    quality-metrics UDF → F4 filter → NER enrichment) — VALUE-ORACLED as of
    r7 (VERDICT r6 #1): pages come from the deterministic fixture parquet
    (same bytes both engines), the deterministic fallback extractor + the
    Python metrics are replayed in pure SQL on that guarded domain, and
    array columns flatten to '|'-joined strings for the driver's
    canonicalizer.  The byte-identical-text pytest invariant stays as the
    general-domain contract."""
    from commoncrawlnewsdataset_spark.functions.extract import extract_articles
    from commoncrawlnewsdataset_spark.functions.textmetrics import with_quality_metrics
    from commoncrawlnewsdataset_spark.ner import with_ner
    from commoncrawlnewsdataset_spark.operators.filters import filter_quality

    pages = spark.read.parquet(_ensure_pages_fixture())
    articles = extract_articles(pages)
    scored = with_quality_metrics(articles)
    filtered = filter_quality(scored)
    out = with_ner(filtered)
    return out.select(
        "url", "hostname", "title", "word_count", "sentences_count",
        F.concat_ws("|", "loc").alias("loc"),
        F.concat_ws("|", "loc_normal").alias("loc_normal"),
    )


# the explicit Java-default whitespace class — NEVER bare \s in an
# oracle-replayed pattern (RE2's \s omits U+000B; r6 finding)
_WS_CLASS = r"[ \t\n\x0B\f\r]"


def _oracle_extract_pipeline() -> str:
    """DuckDB replay of the whole spine from the fixture parquet: fallback
    extraction (<p> bodies, tag strip, title, hostname), F3 null-text drop,
    D1 min-url dedup per (text, hostname), the 6 F4 metrics with Python
    semantics (word split on the explicit whitespace class, \\p{L} ≡
    str.isalpha, exact IEEE divisions), the F4 conjunctive gate, and the
    gazetteer NER with longest-first alternation + lower() ≡ X9."""
    from commoncrawlnewsdataset_spark.synth import CITY_GAZETTEER

    names = [n for n, _, _ in CITY_GAZETTEER]
    _guard_gazetteer_names(names)
    pattern = "|".join(sorted(names, key=len, reverse=True))
    path = _ensure_pages_fixture()
    ws = _WS_CLASS
    return rf"""
WITH pages AS (
  SELECT url, decode(html) AS h FROM read_parquet('{path}')
), ex AS (
  SELECT url,
         regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS hostname,
         trim(regexp_extract(h, '(?is)<title[^>]*>(.*?)</title>', 1)) AS title,
         list_filter(
           list_transform(regexp_extract_all(h, '(?is)<p[^>]*>(.*?)</p>', 1),
                          p -> trim(regexp_replace(p, '<[^>]+>', '', 'g'))),
           p -> p <> '') AS paras
  FROM pages
), txt AS (
  SELECT url, hostname, title, array_to_string(paras, chr(10)) AS t
  FROM ex WHERE len(paras) > 0
), ded AS (
  SELECT url, hostname, title, t FROM (
    SELECT *, row_number() OVER (PARTITION BY t, hostname ORDER BY url) AS rn
    FROM txt
  ) WHERE rn = 1
), met AS (
  SELECT url, hostname, title, t,
         list_filter(regexp_split_to_array(t, '{ws}+'), w -> w <> '') AS words,
         CAST(len(regexp_split_to_array(t, '\n')) AS BIGINT) AS n_lines,
         CAST(len(regexp_extract_all(t, '\b[^.!?]+[.!?]*')) AS BIGINT) AS sentences_count,
         CAST((length(lower(t)) - length(replace(lower(t), 'javascript', ''))) / 10 AS BIGINT) AS javascript_count,
         CAST(length(regexp_replace(t, '{ws}+', '', 'g')) AS BIGINT) AS n_word_chars
  FROM ded
), m2 AS (
  SELECT *, CAST(len(words) AS BIGINT) AS word_count,
         CAST(len(list_filter(words, w -> NOT regexp_matches(w, '\p{{L}}'))) AS BIGINT) AS non_alpha
  FROM met
), m3 AS (
  SELECT *,
         CASE WHEN word_count > 0
              THEN non_alpha / CAST(word_count AS DOUBLE) ELSE 0 END AS fraction_non_alpha_words,
         CASE WHEN word_count > 0
              THEN n_word_chars / CAST(word_count AS DOUBLE) ELSE 0 END AS mean_word_length,
         word_count / CAST(n_lines AS DOUBLE) AS words_per_line
  FROM m2
), gated AS (
  SELECT url, hostname, title, word_count, sentences_count, t FROM m3
  WHERE javascript_count = 0 AND sentences_count >= 3
    AND fraction_non_alpha_words < 0.1 AND words_per_line > 5
    AND mean_word_length BETWEEN 3 AND 12
    AND word_count BETWEEN 50 AND 10000
)
SELECT url, hostname, title, word_count, sentences_count,
       coalesce(array_to_string(regexp_extract_all(t, '{pattern}'), '|'), '') AS loc,
       CASE WHEN len(regexp_extract_all(t, '{pattern}')) > 0
            THEN lower(regexp_extract_all(t, '{pattern}')[1]) ELSE '' END AS loc_normal
FROM gated
"""


def q_quality_metrics_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 bit-exact metrics UDF over the documents table — VALUE-ORACLED as
    of r7 (VERDICT r6 #2) on an ASCII-ASSERTED domain: one distributed
    aggregate proves every text stays inside the printable-ASCII + replay-
    safe-whitespace alphabet (fail loud otherwise), where Python semantics
    equal their RE2 replays exactly (str.isalpha ≡ \\p{L}; unicode \\b ≡
    ASCII \\b; str.split ≡ the explicit whitespace class; '…'/bullet chars
    cannot occur).  The UDF itself is unchanged — the pytest bit-exactness
    suite against the reference function remains the UNICODE contract."""
    from commoncrawlnewsdataset_spark.functions.textmetrics import with_quality_metrics

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # Fail-loud ASCII-domain guard, folded INTO the lazy plan (r8): the
    # former eager `.count()` pre-scan cost one full extra job per
    # invocation; raise_error on any offending row keeps the exact same
    # guarantee — the query can never RETURN rows from outside the proven
    # replay domain — while the guard predicate rides the same scan as the
    # UDF.  (Executed output on the valid domain is byte-identical.)
    guarded = F.when(
        F.col("text").rlike("[^\\x20-\\x7E\\t\\n\\x0B\\f\\r]"),
        F.raise_error(
            F.concat(
                F.lit(
                    "document outside the ASCII oracle domain (doc_id="
                ),
                # concat is NULL if any part is: keep the message for a
                # NULL doc_id
                F.coalesce(F.col("doc_id").cast("string"), F.lit("NULL")),
                F.lit(
                    ") — quality_metrics_udf's replay is only proven there"
                ),
            )
        ),
    ).otherwise(F.col("text"))
    docs = docs.select("doc_id", guarded.alias("text"))
    return with_quality_metrics(docs).drop("text")


def _oracle_quality_metrics_udf() -> str:
    """DuckDB replay of all 8 X5 metrics with Python semantics on the
    ASCII-asserted domain (reference anchor
    04_compute_quality_metrics.py:25-61): per-line ellipsis/bullet tests,
    whole-text word split on the explicit whitespace class, \\p{L} for
    str.isalpha, exact IEEE divisions with the reference's x/0 -> 0
    guards."""
    from commoncrawlnewsdataset_spark.functions.textmetrics import BULLET_POINTS

    ws = _WS_CLASS
    bullets = "".join(sorted(BULLET_POINTS))
    return rf"""
WITH d AS (
  SELECT doc_id, coalesce(text, '') AS t FROM documents
), met AS (
  SELECT doc_id, t,
         regexp_split_to_array(t, '\n') AS lines,
         list_filter(regexp_split_to_array(t, '{ws}+'), w -> w <> '') AS words
  FROM d
), m2 AS (
  SELECT doc_id,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(words) AS BIGINT) AS word_count,
         CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)$'))) AS BIGINT) AS ellipsis_lines,
         CAST(len(list_filter(lines, l -> regexp_matches(l, '^[{bullets}]'))) AS BIGINT) AS bullet_point_starts,
         CAST(len(list_filter(words, w -> NOT regexp_matches(w, '\p{{L}}'))) AS BIGINT) AS non_alpha,
         CAST(length(regexp_replace(t, '{ws}+', '', 'g')) AS BIGINT) AS n_word_chars,
         CAST(len(regexp_extract_all(t, '\b[^.!?]+[.!?]*')) AS BIGINT) AS sentences_count,
         CAST((length(lower(t)) - length(replace(lower(t), 'javascript', ''))) / 10 AS BIGINT) AS javascript_count
  FROM met
)
SELECT doc_id,
       CASE WHEN n_lines > 0
            THEN ellipsis_lines / CAST(n_lines AS DOUBLE) ELSE 0 END AS fraction_ellipsis,
       CASE WHEN word_count > 0
            THEN non_alpha / CAST(word_count AS DOUBLE) ELSE 0 END AS fraction_non_alpha_words,
       CASE WHEN word_count > 0
            THEN n_word_chars / CAST(word_count AS DOUBLE) ELSE 0 END AS mean_word_length,
       javascript_count,
       CASE WHEN n_lines > 0
            THEN word_count / CAST(n_lines AS DOUBLE) ELSE 0 END AS words_per_line,
       bullet_point_starts,
       sentences_count,
       word_count
FROM m2
"""


LSH_ANN_PLANES = 8
LSH_ANN_HAMMING = 2
LSH_ANN_DIM = 64


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN (scale path of cosine_topk) — VALUE-ORACLED as
    of r7 (VERDICT r6 #4): the hyperplanes are deterministic constants of
    the seed, so DuckDB reproduces every bucket bit-for-bit from the SAME
    inlined plane constants (the proven cosine_dup_pairs_lsh technique),
    probes the identical Hamming-2 ball around the query's bucket, and
    exact-rescores the identical candidate set.  Recall<1 vs brute force
    is BY DESIGN and irrelevant to the oracle: both engines compute the
    same approximate result, which is what the hash check certifies."""
    from commoncrawlnewsdataset_spark.operators.similarity import lsh_topk
    from commoncrawlnewsdataset_spark.plans.queries import _query_vec

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = _query_vec(spark, sf_dir)
    return lsh_topk(emb, qv, k=20, n_planes=LSH_ANN_PLANES,
                    probe_hamming=LSH_ANN_HAMMING)


def _oracle_lsh_ann_topk() -> str:
    """DuckDB replay of q_lsh_ann_topk: inline the seed-13 hyperplanes as
    SQL constants; bucket bit j = sign(Σ v[i]*plane_j[i]) with the same
    left-to-right fold order as Spark's F.aggregate (and as the Python
    driver-side query-bucket sum), so the doubles agree bitwise — the
    technique proven by the cosine_dup_pairs_lsh green row."""
    from commoncrawlnewsdataset_spark.operators.similarity import hyperplanes

    planes = hyperplanes(LSH_ANN_DIM, LSH_ANN_PLANES, seed=13)

    def bucket_expr(var: str) -> str:
        bits = []
        for j, p in enumerate(planes):
            dotsum = " + ".join(f"{var}[{i + 1}]*({c!r})" for i, c in enumerate(p))
            bits.append(f"(CASE WHEN ({dotsum}) > 0 THEN {1 << j} ELSE 0 END)")
        return " + ".join(bits)

    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), q AS (
  SELECT v AS qv, {bucket_expr('v')} AS qb FROM e ORDER BY vec_id LIMIT 1
), b AS (
  SELECT vec_id, v, {bucket_expr('v')} AS blk FROM e
), probed AS (
  SELECT b.vec_id, b.v FROM b, q
  WHERE bit_count(xor(CAST(b.blk AS BIGINT), CAST(q.qb AS BIGINT))) <= {LSH_ANN_HAMMING}
)
SELECT p.vec_id,
       round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(generate_series(1, len(p.v)), i -> p.v[i] * q.qv[i])), (a,x) -> a + x)
             / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(p.v, x -> x * x)), (a,x) -> a + x))
              * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(q.qv, x -> x * x)), (a,x) -> a + x))), 4) AS score
FROM probed p CROSS JOIN q
ORDER BY score DESC, vec_id LIMIT 20
"""


MULTI_LSH_TABLES = 8


def q_multi_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH ANN (recall amplification: T independent tables,
    union of Hamming balls, exact rerank — the usable LSH operating point,
    recall >= 0.9 pinned by test_multi_table_lsh_recall_floor).
    VALUE-ORACLED as of r7: all T plane tables are deterministic constants
    (seed + 101*t), so DuckDB reproduces every per-table bucket
    bit-for-bit, ORs the same T Hamming-ball predicates, and rescores the
    identical candidate union."""
    from commoncrawlnewsdataset_spark.operators.similarity import lsh_multi_table_topk
    from commoncrawlnewsdataset_spark.plans.queries import _query_vec

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = _query_vec(spark, sf_dir)
    return lsh_multi_table_topk(
        emb, qv, k=20, n_tables=MULTI_LSH_TABLES, probe_hamming=LSH_ANN_HAMMING
    )


def _oracle_multi_lsh_ann_topk() -> str:
    """DuckDB replay of q_multi_lsh_ann_topk — the _oracle_lsh_ann_topk
    technique per table (inlined plane constants, same left-to-right fold
    order), with the candidate predicate the same OR over T Hamming-ball
    tests the Spark plan applies in one scan."""
    from commoncrawlnewsdataset_spark.operators.similarity import hyperplanes

    def bucket_expr(var: str, planes) -> str:
        bits = []
        for j, p in enumerate(planes):
            dotsum = " + ".join(f"{var}[{i + 1}]*({c!r})" for i, c in enumerate(p))
            bits.append(f"(CASE WHEN ({dotsum}) > 0 THEN {1 << j} ELSE 0 END)")
        return " + ".join(bits)

    tables = [
        hyperplanes(LSH_ANN_DIM, LSH_ANN_PLANES, seed=13 + 101 * t)
        for t in range(MULTI_LSH_TABLES)
    ]
    q_buckets = ", ".join(
        f"{bucket_expr('v', p)} AS qb{t}" for t, p in enumerate(tables)
    )
    d_buckets = ", ".join(
        f"{bucket_expr('v', p)} AS blk{t}" for t, p in enumerate(tables)
    )
    ball = " OR ".join(
        f"bit_count(xor(CAST(b.blk{t} AS BIGINT), CAST(q.qb{t} AS BIGINT))) "
        f"<= {LSH_ANN_HAMMING}"
        for t in range(MULTI_LSH_TABLES)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), q AS (
  SELECT v AS qv, {q_buckets} FROM e ORDER BY vec_id LIMIT 1
), b AS (
  SELECT vec_id, v, {d_buckets} FROM e
), probed AS (
  SELECT b.vec_id, b.v FROM b, q WHERE {ball}
)
SELECT p.vec_id,
       round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(generate_series(1, len(p.v)), i -> p.v[i] * q.qv[i])), (a,x) -> a + x)
             / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(p.v, x -> x * x)), (a,x) -> a + x))
              * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(q.qv, x -> x * x)), (a,x) -> a + x))), 4) AS score
FROM probed p CROSS JOIN q
ORDER BY score DESC, vec_id LIMIT 20
"""


IVF_ANN_N_PROBE = 2


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list ANN (scale path #2) — VALUE-ORACLED as of r7
    (VERDICT r6 #4) via the aux.parquet replay technique proven by
    composed_ann_metadata: k-means-refined centroids (bit-reproducible
    6dp-rounded Lloyd means), index written ONCE into the shared
    signature-addressed cache (no more mkdtemp leak per run), probe 2 of 8
    lists by reading only those partition directories (pruning IS the
    index), exact re-rank inside them.  The probed list ids + query vector
    ride along in a query-scoped aux file; DuckDB re-derives the probe +
    exact rescore from the index's own parquet."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq

    from commoncrawlnewsdataset_spark.cache import publish_file, sig_hash
    from commoncrawlnewsdataset_spark.operators.similarity import (
        ensure_shared_ivf,
        ivf_probe_read,
        nearest_lists,
    )
    from commoncrawlnewsdataset_spark.plans.queries import _query_vec

    rows_path, cents = ensure_shared_ivf(spark, sf_dir, n_lists=8)
    qv = _query_vec(spark, sf_dir)
    probe = nearest_lists(qv, cents, IVF_ANN_N_PROBE)
    aux = pa.table(
        {
            "qv": pa.array([qv], type=pa.list_(pa.float32())),
            "n_probe": pa.array([IVF_ANN_N_PROBE], type=pa.int64()),
            "lists": pa.array([[int(x) for x in probe]], type=pa.list_(pa.int64())),
        }
    )
    qh = sig_hash([qv, IVF_ANN_N_PROBE])
    publish_file(
        os.path.join(os.path.dirname(rows_path), f"aux-{qh}.parquet"),
        lambda tmp: papq.write_table(aux, tmp),
    )
    return ivf_probe_read(spark, rows_path, qv, cents, k=20, n_probe=IVF_ANN_N_PROBE)


def _oracle_ivf_ann_topk() -> str:
    """DuckDB replay of q_ivf_ann_topk from the shared IVF index's own
    artifacts (the composed_ann_metadata technique): (1) pick the cache
    entry whose rows content-match the embeddings view exactly; (2) pick
    the aux row matching this query's vector + n_probe; (3) exact cosine
    rescore over the probed lists only (ORACLE_COSINE_TOPK's proven fold
    shape, round 4 = brute_force_topk).  Built per call so the
    interpolated root tracks similarity.ivf_cache_root()."""
    from commoncrawlnewsdataset_spark.operators.similarity import ivf_cache_root

    root = ivf_cache_root()
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
  SELECT a.lists
  FROM read_parquet('{root}/*/aux-*.parquet', hive_partitioning=true) a
  WHERE a.sfkey = (SELECT sk FROM sel)
    AND a.n_probe = {IVF_ANN_N_PROBE}
    AND a.qv = (SELECT embedding FROM embeddings ORDER BY vec_id LIMIT 1)
),
probed AS (
  SELECT r.vec_id, list_transform(r.embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM read_parquet('{root}/*/rows/*/*.parquet', hive_partitioning=true) r, aux a
  WHERE r.sfkey = (SELECT sk FROM sel)
    AND list_contains(a.lists, CAST(r."list" AS BIGINT))
),
q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings ORDER BY vec_id LIMIT 1
)
SELECT p.vec_id,
       round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(generate_series(1, len(p.v)), i -> p.v[i] * q.qv[i])), (a,x) -> a + x)
             / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(p.v, x -> x * x)), (a,x) -> a + x))
              * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(q.qv, x -> x * x)), (a,x) -> a + x))), 4) AS score
FROM probed p CROSS JOIN q
ORDER BY score DESC, vec_id LIMIT 20
"""


def q_composed_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed ANN (VERDICT r4 #6): operators.ann_index.AnnIndex — IVF
    partition pruning x OPQ/ADC coarse scan x exact top-C rescore behind
    ONE build/load/search object, searched here through a save/load round
    trip.  VALUE-ORACLED as of r7: the search is fully deterministic given
    the index's own parquet, so the composed_ann_metadata replay (minus
    the metadata join) re-derives the same top-k — the query-scoped aux
    (probed lists + ADC LUT) is written here exactly as
    search_composed_with_metadata writes it, selected by (qv, n_probe)
    identity.  Recall floor >= 0.9 vs brute force stays pinned by
    tests/test_semantic_search.py; BENCH/ANN.md has the recall/cost
    curve."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as papq

    from commoncrawlnewsdataset_spark.cache import publish_file, sig_hash
    from commoncrawlnewsdataset_spark.operators.ann_index import (
        AnnIndex,
        ensure_shared_index,
    )
    from commoncrawlnewsdataset_spark.operators.pq import adc_lut
    from commoncrawlnewsdataset_spark.operators.similarity import nearest_lists
    from commoncrawlnewsdataset_spark.plans.queries import _query_vec

    # shared per-dataset cache with a source signature — no tempdir leaked
    # per run (ADVICE r5), and the save/load round trip is still exercised
    ix = ensure_shared_index(spark, sf_dir)
    ix = AnnIndex.load(spark, ix.path)
    qv = _query_vec(spark, sf_dir)
    n_probe = 6
    probe = nearest_lists(qv, ix.meta["centroids"], n_probe)
    qr = list(np.asarray(ix.meta["rotation"]) @ np.asarray(qv, dtype=float))
    lut = adc_lut(qr, ix.meta["codebooks"])
    aux = pa.table(
        {
            "qv": pa.array([qv], type=pa.list_(pa.float32())),
            "n_probe": pa.array([n_probe], type=pa.int64()),
            "lists": pa.array([[int(x) for x in probe]], type=pa.list_(pa.int64())),
            "lut": pa.array([lut], type=pa.list_(pa.list_(pa.float64()))),
        }
    )
    qh = sig_hash([qv, n_probe])
    publish_file(
        os.path.join(ix.path, f"aux-{qh}.parquet"),
        lambda tmp: papq.write_table(aux, tmp),
    )
    return ix.search(qv, k=20, n_probe=n_probe, shortlist=100)


def _oracle_composed_ann_topk() -> str:
    """The composed_ann_metadata replay minus the metadata join, with k=20:
    entry content-matched to the embeddings view, aux selected by
    (qv, n_probe) identity, ADC shortlist + exact rescore from the index's
    own parquet."""
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
    AND a.n_probe = 6
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
)
SELECT s.vec_id,
       round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(generate_series(1, len(s.embedding)),
                              i -> CAST(s.embedding[i] AS DOUBLE) * q.qv[i])), (a,x) -> a + x)
             / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(s.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,x) -> a + x))
              * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(q.qv, x -> x * x)), (a,x) -> a + x))), 4) AS score
FROM short s CROSS JOIN q
ORDER BY score DESC, vec_id LIMIT 20
"""


PQ_M = 8
PQ_K = 16
PQ_DIM = 64


def q_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (scale path #3; ADC over m-byte codes) —
    VALUE-ORACLED as of r7: codebooks are bit-reproducible (6dp-rounded
    Lloyd means), so given the trained books (published to a
    signature-addressed aux parquet, the composed_ann_metadata technique)
    DuckDB independently replays the ENCODE argmax per subspace (the same
    rounded-cosine fold, ties to the lowest code), derives the query's ADC
    lookup table from the books + query vector, scores, and takes the same
    top-k.  Unlike the composed oracle, the per-vector codes are NOT an
    input — the encode stage itself is cross-engine-checked."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq

    from commoncrawlnewsdataset_spark.cache import (
        cache_root,
        publish_file,
        sig_hash,
    )
    from commoncrawlnewsdataset_spark.operators.pq import pq_encode, pq_topk, pq_train
    from commoncrawlnewsdataset_spark.plans.queries import _query_vec

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sig_row = emb.agg(
        F.count("*").alias("n"),
        F.bit_xor(
            F.xxhash64(F.col("vec_id"), F.col("embedding").cast("string"))
        ).alias("xh"),
    ).first()
    books = pq_train(emb, m=PQ_M, k=PQ_K, n_iter=2, dim=PQ_DIM)
    codes = pq_encode(emb, books)
    qv = _query_vec(spark, sf_dir)

    base = os.path.join(cache_root(), "pqbooks")
    os.makedirs(base, exist_ok=True)
    name = sig_hash([int(sig_row["n"]), int(sig_row["xh"]), PQ_M, PQ_K, PQ_DIM])
    flat = [
        (j, c, [float(x) for x in books[j][c]])
        for j in range(PQ_M)
        for c in range(PQ_K)
    ]
    aux = pa.table(
        {
            "j": pa.array([r[0] for r in flat], type=pa.int64()),
            "c": pa.array([r[1] for r in flat], type=pa.int64()),
            "center": pa.array([r[2] for r in flat], type=pa.list_(pa.float64())),
            "qv": pa.array([qv] * len(flat), type=pa.list_(pa.float32())),
            "n_vectors": pa.array([int(sig_row["n"])] * len(flat), type=pa.int64()),
        }
    )
    publish_file(
        os.path.join(base, f"aux-{name}.parquet"),
        lambda tmp: papq.write_table(aux, tmp),
    )
    return pq_topk(codes, qv, books, k=20)


def _oracle_pq_ann_topk() -> str:
    """DuckDB replay of q_pq_ann_topk from the published codebooks: encode
    = per (vector, subspace) argmax over the 16 centers of
    round(cos(sv, center), 9) with the EXACT _cos_lit fold (left-to-right
    dot, norm guards, multiply-then-divide), ties to the lowest code via
    (score DESC, c ASC) row_number; lut[j][c] = dot(q_sub, center)/|q|
    re-derived in SQL; score = Σ_j lut[j][code_j], round 4, top-20.  The
    aux row set is selected by query-vector + corpus-cardinality match, so
    a stale or foreign books file can never be silently replayed."""
    from commoncrawlnewsdataset_spark.cache import cache_root
    import os

    base = os.path.join(cache_root(), "pqbooks")
    dsub = PQ_DIM // PQ_M
    return f"""
WITH q AS (
  SELECT embedding AS qe, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings ORDER BY vec_id LIMIT 1
),
books AS (
  SELECT a.j, a.c, a.center,
         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(a.center, x -> x * x)), (s, x) -> s + x)) AS nb
  FROM read_parquet('{base}/aux-*.parquet') a, q
  WHERE a.qv = q.qe AND a.n_vectors = (SELECT count(*) FROM embeddings)
),
qn AS (
  SELECT CASE WHEN s = 0 THEN 1.0 ELSE sqrt(s) END AS qnorm FROM (
    SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(qv, x -> x * x)), (a, x) -> a + x) AS s FROM q
  )
),
lut AS (
  SELECT b.j, b.c,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(generate_series(1, {dsub}),
             i -> q.qv[b.j * {dsub} + i] * b.center[i])), (a, x) -> a + x)
         / qn.qnorm AS lv
  FROM books b CROSS JOIN q CROSS JOIN qn
),
subnorm AS (
  SELECT e.vec_id, jj.j,
         sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(generate_series(1, {dsub}),
             i -> CAST(e.embedding[jj.j * {dsub} + i] AS DOUBLE)
                  * CAST(e.embedding[jj.j * {dsub} + i] AS DOUBLE))),
           (a, x) -> a + x)) AS na
  FROM embeddings e CROSS JOIN (SELECT DISTINCT j FROM books) jj
),
sub AS (
  SELECT e.vec_id, b.j, b.c,
         round(
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(generate_series(1, {dsub}),
               i -> CAST(e.embedding[b.j * {dsub} + i] AS DOUBLE) * b.center[i])),
             (a, x) -> a + x)
           / (
             (CASE WHEN sn.na > 0 THEN sn.na ELSE 1.0 END)
             * (CASE WHEN b.nb = 0 THEN 1.0 ELSE b.nb END)
           ), 9) AS s
  FROM embeddings e
  CROSS JOIN books b
  JOIN subnorm sn ON sn.vec_id = e.vec_id AND sn.j = b.j
),
enc AS (
  SELECT vec_id, j, c FROM (
    SELECT vec_id, j, c,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY s DESC, c) AS rn
    FROM sub
  ) WHERE rn = 1
),
scored AS (
  -- ordered fold over j: Spark's adc_score_expr adds the m lookup terms
  -- left-to-right; an unordered SQL sum() could differ in the last bits
  SELECT vec_id,
         round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list(lv ORDER BY j)), (a, x) -> a + x), 4) AS score
  FROM (
    SELECT e.vec_id, e.j, l.lv
    FROM enc e JOIN lut l ON l.j = e.j AND l.c = e.c
  )
  GROUP BY vec_id
)
SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id LIMIT 20
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy hitters over the corpus token stream (frequency
    sketch: a few-MB grid regardless of vocabulary size) — VALUE-ORACLED
    as of r5 (VERDICT r4 #1a): the md5 dual-hasher config (proven DuckDB-
    bit-reproducible by `count_min_estimates`) plus confirm='exact', whose
    exact-count gate makes the output key set deterministic (precisely the
    true heavy hitters) regardless of which false positives the map-side
    Misra-Gries candidate pass emits.  DuckDB replays the exact counts, the
    threshold, AND the sketch estimates cell-for-cell.  The xxhash64 sketch
    family stays property-tested (tests/test_operators.py) — it is the
    production fast path, not the cross-engine contract."""
    from commoncrawlnewsdataset_spark.operators.dedup import tokens
    from commoncrawlnewsdataset_spark.operators.sketch import heavy_hitters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    return heavy_hitters(
        toks, "tok", k=30, width=4096, depth=4, hasher="md5", confirm="exact"
    ).orderBy(F.desc("est"), "key")


ORACLE_HEAVY_HITTERS = r"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS tok
  FROM documents
), thr AS (
  SELECT greatest(1, count(*) // 30) AS t FROM toks
), hh AS (
  SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
  HAVING count(*) >= (SELECT t FROM thr)
), cells AS (
  SELECT tok, j.j AS j,
         CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' || tok), 1, 8))::UBIGINT % 4096 AS BIGINT) AS col
  FROM toks, unnest([0, 1, 2, 3]) AS j(j)
), grid AS (
  SELECT j, col, count(*) AS c FROM cells GROUP BY 1, 2
), pcells AS (
  SELECT h.tok, h.cnt, j.j AS j,
         CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' || h.tok), 1, 8))::UBIGINT % 4096 AS BIGINT) AS col
  FROM hh h, unnest([0, 1, 2, 3]) AS j(j)
)
SELECT p.tok AS key,
       CAST(min(coalesce(g.c, 0)) AS BIGINT) AS est,
       CAST(any_value(p.cnt) AS BIGINT) AS cnt,
       CAST((SELECT t FROM thr) AS BIGINT) AS threshold
FROM pcells p LEFT JOIN grid g ON g.j = p.j AND g.col = p.col
GROUP BY p.tok
ORDER BY est DESC, key
"""


def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib-compressibility quality signal over the documents table
    (template/boilerplate detector).  Rows-only by design: DuckDB has no
    zlib scalar; the signal's behavior is pytest-bounded."""
    from commoncrawlnewsdataset_spark.functions.quality import with_compression_ratio

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_compression_ratio(docs.select("doc_id", "text")).drop("text")


def q_opq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ ANN (scale path #4; recall < 1 by design, no SQL oracle): learn an
    orthogonal rotation via alternating Procrustes/PQ on a bounded
    deterministic sample (driver-side numpy — d x d matrices only), apply it
    distributed as one Arrow-batched matmul per batch, then plain PQ ADC in
    the rotated space (Ge et al., OPQ, CVPR 2013)."""
    import numpy as np

    from commoncrawlnewsdataset_spark.operators.opq import opq_train, rotate
    from commoncrawlnewsdataset_spark.operators.pq import pq_encode, pq_topk
    from commoncrawlnewsdataset_spark.plans.queries import _query_vec

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    R, books = opq_train(emb, m=8, k=16, n_iter=3, sample_size=1000)
    codes = pq_encode(rotate(emb, R), books)
    qv = np.asarray(_query_vec(spark, sf_dir), dtype=np.float64)
    return pq_topk(codes, [float(x) for x in (R @ qv)], books, k=20)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload -> mapInPandas feature extraction
    (decode stubbed deterministically; Spark-side schema/batching real)."""
    from commoncrawlnewsdataset_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_media_features,
    )

    # deterministic subset (doc_id < 200), NOT limit(200): limit over a
    # multi-partition scan picks arbitrary rows, which would break the oracle
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 200
    )
    media = docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit(64).alias("width"),
        F.lit(64).alias("height"),
        F.lit(1000).cast("long").alias("duration_ms"),
    )
    feats = extract_media_features(media)
    # flatten the feature vector to exact byte values (feature[i] = digest
    # byte / 256, so *256 is exact) — canonicalizable AND DuckDB-reproducible
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "checksum",
        F.concat_ws(
            "|", F.transform("feature", lambda v: F.round(v * 256).cast("int").cast("string"))
        ).alias("feature_bytes"),
    )


N_FRAMES = 4


def q_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling: video payloads fan out to one row per
    sampled frame INSIDE the scan stage (mapInPandas yields N rows per
    input; the binary never shuffles).  Decode stubbed as sha256(payload
    ':' idx) — deterministic, so the DuckDB oracle value-checks the
    fan-out, the uniform timestamps, and the per-frame signatures."""
    from commoncrawlnewsdataset_spark.operators.multimodal import sample_frames

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 200
    )
    media = docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit(64).alias("width"),
        F.lit(64).alias("height"),
        (F.lit(900) + F.col("doc_id")).cast("long").alias("duration_ms"),
    )
    out = sample_frames(media, n_frames=N_FRAMES)
    return out.select(
        "media_id", F.col("frame_idx").cast("long").alias("frame_idx"),
        "ts_ms", "frame_sha",
    )


ORACLE_FRAME_SAMPLES = f"""
SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
       CAST(i AS BIGINT) AS frame_idx,
       CAST(floor((900 + doc_id) * i / {N_FRAMES}.0) AS BIGINT) AS ts_ms,
       sha256(coalesce(text, '') || ':' || CAST(i AS VARCHAR)) AS frame_sha
FROM documents CROSS JOIN unnest(generate_series(0, {N_FRAMES - 1})) AS t(i)
WHERE doc_id < 200 AND CAST(doc_id % 3 AS INT) = 2
"""


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize: fit-within target dims computed JVM-side
    (resize_dims — aspect preserved, never upscale), stub resample in an
    Arrow mapInPandas (sha256(payload '|' WxH)); the oracle replays the
    dimension math and signatures value-for-value, so the green row
    certifies the whole resize stage minus only the codec (production
    swaps make_pil_resize_udf, contract-tested against a mock PIL)."""
    from commoncrawlnewsdataset_spark.operators.multimodal import resize_media

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 200
    )
    media = docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image").otherwise("other").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        (F.lit(16) + (F.col("doc_id") % 200) * 7).cast("int").alias("width"),
        (F.lit(12) + (F.col("doc_id") % 160) * 9).cast("int").alias("height"),
    )
    out = resize_media(media, max_w=64, max_h=64)
    return out.select(
        "media_id",
        F.col("out_w").cast("long").alias("out_w"),
        F.col("out_h").cast("long").alias("out_h"),
        "resized_sha",
    )


ORACLE_MEDIA_RESIZE = """
WITH m AS (
  SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
         coalesce(text, '') AS payload,
         CAST(16 + (doc_id % 200) * 7 AS DOUBLE) AS w,
         CAST(12 + (doc_id % 160) * 9 AS DOUBLE) AS h
  FROM documents WHERE doc_id < 200 AND doc_id % 3 = 0
), z AS (
  SELECT media_id, payload,
         CAST(greatest(floor(w * least(64.0 / w, 64.0 / h, 1.0)), 1) AS BIGINT) AS out_w,
         CAST(greatest(floor(h * least(64.0 / w, 64.0 / h, 1.0)), 1) AS BIGINT) AS out_h
  FROM m
)
SELECT media_id, out_w, out_h,
       sha256(payload || '|' || CAST(out_w AS VARCHAR) || 'x' || CAST(out_h AS VARCHAR)) AS resized_sha
FROM z
"""


def q_ner_gazetteer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V5 NER stage (iterator pandas UDF, model loaded once per worker) —
    now VALUE-ORACLED (VERDICT r4 #1b): city mentions are injected
    deterministically in-query over the documents table (the pii_redact
    pattern), the REAL ner_locations_udf extracts them, and DuckDB replays
    the same longest-first alternation via regexp_extract_all plus the X9
    normalization of the first hit.  One in five docs gets no injection
    (zero-match path); base testdata text contains no gazetteer names
    (verified), so matches are exactly the injected mentions on both
    engines."""
    from commoncrawlnewsdataset_spark.ner import with_ner
    from commoncrawlnewsdataset_spark.synth import CITY_GAZETTEER

    names = [n for n, _, _ in CITY_GAZETTEER]
    arr = F.array(*[F.lit(n) for n in names])
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 500
    )
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 4, F.coalesce(F.col("text"), F.lit(""))
        )
        .otherwise(
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(" Bericht aus "),
                F.element_at(arr, (F.col("doc_id") % 10 + 1).cast("int")),
                F.lit(" und "),
                F.element_at(arr, (F.col("doc_id") % 7 + 1).cast("int")),
                F.lit("."),
            )
        )
        .alias("text"),
    )
    out = with_ner(injected)
    return out.select(
        "doc_id",
        F.concat_ws("|", "loc").alias("loc"),
        F.col("loc_normal").alias("loc_normal"),
    )


def _oracle_ner_gazetteer() -> str:
    """DuckDB replay of q_ner_gazetteer: same injection arithmetic, same
    longest-first alternation (RE2 and Python re are both leftmost-first for
    literal alternations), lower() for the X9 normalization (the gazetteer
    alphabet contains nothing X9 strips — RE2 lacks unicode \\w so the
    literal regex can't be replayed, but on this domain lower() IS X9)."""
    from commoncrawlnewsdataset_spark.synth import CITY_GAZETTEER

    names = [n for n, _, _ in CITY_GAZETTEER]
    # Guard the alternation AND the SQL literal (ADVICE r5): the Spark
    # matcher re.escape()s names, but this replay interpolates them raw —
    # cross-engine escape rules differ (RE2 rejects '\\ ' that Python/Java
    # accept), so instead of escaping, fail loud outside the known-literal
    # alphabet (shared _guard_gazetteer_names).
    _guard_gazetteer_names(names)
    vals = ", ".join(f"({i}, '{n}')" for i, n in enumerate(names))
    pattern = "|".join(sorted(names, key=len, reverse=True))
    return f"""
WITH names(i, name) AS (VALUES {vals}),
d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 4 THEN coalesce(text, '')
              ELSE coalesce(text, '') || ' Bericht aus ' || n1.name
                   || ' und ' || n2.name || '.'
         END AS text
  FROM documents
  JOIN names n1 ON n1.i = doc_id % 10
  JOIN names n2 ON n2.i = doc_id % 7
  WHERE doc_id < 500
), m AS (
  SELECT doc_id, regexp_extract_all(text, '{pattern}') AS locs FROM d
)
SELECT doc_id,
       coalesce(array_to_string(locs, '|'), '') AS loc,
       CASE WHEN len(locs) > 0 THEN lower(locs[1]) ELSE '' END AS loc_normal
FROM m
"""


def _driver_coverage() -> tuple[set[str], set[str], set[str]]:
    """(ever_checked, checked_in_latest_round, ever_value_green) query names
    from the driver's own CORRECTNESS_r*.json artifacts next to this file —
    ever_value_green = queries that have passed the FULL value oracle
    (hash_match) in some round, used to fast-track rows-only -> oracle
    upgrades into the checked window."""
    import glob
    import json
    import os

    root = os.path.dirname(os.path.abspath(__file__))
    files = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    ever: set[str] = set()
    latest: set[str] = set()
    ever_green: set[str] = set()  # ever passed the FULL value oracle
    for i, f in enumerate(files):
        try:
            with open(f) as fh:
                d = json.load(fh)
        except (OSError, ValueError):
            continue
        names = set(d) if isinstance(d, dict) else set()
        ever |= names
        if isinstance(d, dict):
            for name, row in d.items():
                if isinstance(row, dict) and row.get("hash_match"):
                    ever_green.add(name)
        if i == len(files) - 1:
            latest = names
    return ever, latest, ever_green


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """VERDICT r3 #2: the driver checks a ~50-entry window of this dict, so
    iteration order IS the coverage rotation.  Entries are ordered so that
    (0) queries with no driver CORRECTNESS row in ANY round lead, then
    (1) queries missing from the LATEST round, then (2) the rest — with
    oracle-bearing queries ahead of rows-only within each tier.  Reading the
    driver's own artifacts makes the rotation self-maintaining: every oracle
    query is guaranteed a driver row within two rounds."""
    from commoncrawlnewsdataset_spark.plans.queries import oracle_sqls, spark_queries

    qs = dict(spark_queries())
    qs.update(
        {
            "extract_pipeline": q_extract_pipeline,
            "quality_metrics_udf": q_quality_metrics_udf,
            "lsh_ann_topk": q_lsh_ann_topk,
            "multi_lsh_ann_topk": q_multi_lsh_ann_topk,
            "ivf_ann_topk": q_ivf_ann_topk,
            "composed_ann_topk": q_composed_ann_topk,
            "pq_ann_topk": q_pq_ann_topk,
            "opq_ann_topk": q_opq_ann_topk,
            "compression_ratio": q_compression_ratio,
            "heavy_hitters": q_heavy_hitters,
            "media_features": q_media_features,
            "frame_samples": q_frame_samples,
            "media_resize": q_media_resize,
            "ner_gazetteer": q_ner_gazetteer,
        }
    )
    ever, latest, ever_green = _driver_coverage()
    # the authoritative oracle set is oracle_sql() (the module-level
    # wrapper), which includes oracles registered HERE and not in
    # plans.queries — e.g. r5's heavy_hitters / ner_gazetteer upgrades
    with_oracle = set(oracle_sql())

    def rank(name: str):
        # tier 0: never driver-checked at all, OR oracle-bearing but never
        # value-green (covers rows-only -> oracle upgrades: the hard check
        # must reach the driver's window the round it lands); tier 1:
        # missing from the latest round; tier 2: the rest.
        never_checked = name not in ever
        oracle_unproven = name in with_oracle and name not in ever_green
        # implementation changed this round: the oracle must re-certify the
        # NEW plan in the driver window, not coast on last round's green
        changed = name in CHANGED_THIS_ROUND
        tier = 0 if (never_checked or oracle_unproven or changed) else (
            1 if name not in latest else 2
        )
        return (tier, name not in with_oracle, name)

    return {k: qs[k] for k in sorted(qs, key=rank)}


# Queries whose IMPLEMENTATION was reworked in the current round — update
# per round.  r8 (optimization round — plans changed, outputs proven
# identical against the unchanged oracles): the shingle/simhash staging
# rework, the single-pass SQL text stats, the lazy ASCII guard, the
# wave-runner fast paths (single-delta snapshot, seed-only gate skip,
# write-first delta, hash-partitioned fetch), and the driver-side query
# vector probe.
CHANGED_THIS_ROUND = {
    # shingle/token staging (per-element re-evaluation fix)
    "minhash_lsh_pairs",
    "minhash_signatures",
    "jaccard_pairs",
    "simhash",
    "simhash_pairs",
    "chunk_dedup",
    "repetition_stats",
    # single-pass SQL text stats
    "text_stats",
    "quality_filter",
    # ASCII guard folded into the lazy plan
    "quality_metrics_udf",
    # wave-runner fast paths (write-first delta, seed-only gate skip,
    # single-delta snapshot, hash-partitioned fetch fan-out)
    "politeness_wave",
    "frontier_waves",
    "crawl_order",
    "crawl_corpus_pipeline",
    # driver-side parquet-footer query-vector probe
    "cosine_topk",
    "int8_topk",
    "ann_rescore_topk",
    "binary_rescore_topk",
    "hamming_topk",
}


# media_features is fully DuckDB-reproducible: the stub feature is bytes of
# sha256(payload)/256, and payload is the UTF-8 bytes of documents.text.
_FEATURE_BYTES = " || '|' || ".join(
    f"CAST(('0x' || substr(cs, {2 * i + 1}, 2))::INT AS VARCHAR)" for i in range(8)
)
ORACLE_MEDIA_FEATURES = f"""
WITH m AS (
  SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS kind,
         coalesce(text, '') AS payload
  FROM documents WHERE doc_id < 200
), h AS (
  SELECT media_id, kind,
         CAST(octet_length(encode(payload)) AS BIGINT) AS n_bytes,
         sha256(payload) AS cs
  FROM m
)
SELECT media_id, kind, n_bytes, cs AS checksum, {_FEATURE_BYTES} AS feature_bytes
FROM h
"""


def oracle_sql() -> dict[str, str]:
    from commoncrawlnewsdataset_spark.plans.queries import oracle_sqls

    out = dict(oracle_sqls())
    out["media_features"] = ORACLE_MEDIA_FEATURES
    out["frame_samples"] = ORACLE_FRAME_SAMPLES
    out["media_resize"] = ORACLE_MEDIA_RESIZE
    out["ner_gazetteer"] = _oracle_ner_gazetteer()
    out["heavy_hitters"] = ORACLE_HEAVY_HITTERS
    out["ivf_ann_topk"] = _oracle_ivf_ann_topk()
    out["lsh_ann_topk"] = _oracle_lsh_ann_topk()
    out["multi_lsh_ann_topk"] = _oracle_multi_lsh_ann_topk()
    out["pq_ann_topk"] = _oracle_pq_ann_topk()
    out["composed_ann_topk"] = _oracle_composed_ann_topk()
    out["extract_pipeline"] = _oracle_extract_pipeline()
    out["quality_metrics_udf"] = _oracle_quality_metrics_udf()
    return out
