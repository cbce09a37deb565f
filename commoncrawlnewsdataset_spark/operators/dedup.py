"""Deduplication family for web-scale corpora.

The reference dedups only exactly, per shard (drop_duplicates on
(text, hostname), 03_extract_text.py:80).  At 100 TB the near-dup family is
the workhorse, so each variant here is a first-class DataFrame plan:

- exact            hash-groupBy on a normalized-content fingerprint
- minhash + LSH    shingle -> md5 minhash signature -> banded bucket join
- simhash          per-token md5 bit votes -> 32-bit signature -> collision groups
- n-gram Jaccard   inverted shingle index self-join, exact Jaccard on candidates
- embedding cosine near-dup pairs (blocked; see similarity.py for ANN)

Design for scale, concretely:
- Every hash is computed from md5/murmur3 column expressions — JVM-side,
  codegen, no Python.
- Pair generation always goes through an inverted index (shingle or LSH
  bucket) — never a cross join.  Hot buckets are capped (`bucket_cap`) the
  same way a production MinHash-LSH pipeline drops degenerate bands (a
  stopword shingle shared by every doc would otherwise make one reducer
  quadratic) — the cap is a semantic parameter, not a silent truncation.
- Candidate pairs are distinct'd *before* the expensive exact-Jaccard
  verification, so verification work is proportional to candidates, not to
  bucket multiplicity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokens(text: Column) -> Column:
    """Whitespace tokens of lowercased text, empties removed (matches
    DuckDB regexp_split_to_array for oracle parity)."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def min_tokens_pred(text: Column, k: int) -> Column:
    """Cheap scan-stage predicate ⟺ ``size(tokens(text)) >= k``: the text
    contains at least k maximal non-whitespace runs (Java \\s ≡ the split
    class; lower() never changes whitespace).  Used INSTEAD of filtering on
    ``size(shingles) > 0`` / ``simhash IS NOT NULL``: a filter over a
    derived expensive column gets its expression substituted by predicate
    pushdown and dragged below the CPU fan-out repartition — the whole
    shingle pipeline then re-runs single-threaded inside the one-file scan
    stage (measured 3.3 s of a 3.7 s minhash run at sf0.1, r8)."""
    return text.rlike(r"(\S+\s+){%d}\S" % (k - 1))


def shingle_array(toks: Column, k: int) -> Column:
    """k-token shingles (space-joined) from a token-array expression,
    built from k TOP-LEVEL slices zipped together.

    The old form — ``transform(sequence(1, n-k+1), i -> concat_ws(' ',
    slice(toks, i, k)))`` — references ``toks`` INSIDE the lambda, and a
    subtree referenced inside a lambda re-evaluates once per ELEMENT:
    O(n_shingles × tokens_cost) per row (the dominant term of every
    shingle-based query at r7).  Here ``toks`` appears only at top level
    (size + k slices = O(k) evaluations per row), and when it is an
    already-materialized column reference the cost is O(1).  Output is
    bit-identical: slice j holds toks[1+j .. n-k+1+j], so zipping the k
    slices with ' ' concat reproduces concat_ws(' ', toks[i..i+k-1]) for
    i = 1..n-k+1; greatest(n-k+1, 0) yields [] below k tokens, and the
    outer coalesce maps a NULL text to [] exactly like the old
    when/otherwise guard."""
    n = F.size(toks)
    m = F.greatest(n - F.lit(k - 1), F.lit(0))
    out = F.slice(toks, 1, m)
    for j in range(1, k):
        out = F.zip_with(
            out, F.slice(toks, j + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.coalesce(out, F.array().cast("array<string>"))


def shingles(text: Column, k: int = 3) -> Column:
    """k-token shingles joined by a single space; empty array when < k
    tokens (NULL text included).  Column-expression form: tokens(text) is
    evaluated O(k) times per row — callers that control a DataFrame should
    stage ``tokens`` as a column and use ``shingle_array`` directly."""
    return shingle_array(tokens(text), k)


def _capped_bucket_ids(df: DataFrame, keys: list[str], id_col: str, cap: int) -> DataFrame:
    """The ``cap`` smallest ids per key group as a sorted array — exactly
    ``slice(array_sort(collect_list(id)), 1, cap)``, but rank-filtered
    BEFORE collection so no aggregation buffer ever holds more than ``cap``
    elements.  The direct slice-after-collect formulation materializes the
    FULL bucket id list in one in-memory array first: at 10^10 docs a
    degenerate bucket (stopword shingle, boilerplate LSH band, the
    all-positive-signs hyperplane bucket) collects 10^8+ ids into a single
    aggregation buffer — executor OOM on the hottest key, which AQE skew
    handling cannot split because it is one group.

    ids are unique within a group at every call site (each doc contributes
    one row per (band, bucket)), so ``row_number`` ordered by id is a total
    order and the output array is bit-identical to the old slice.  The
    Window and the groupBy hash-partition on the same keys, so this adds a
    per-partition sort but no extra Exchange."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )


def _bucket_pairs(capped: DataFrame, dedup: bool = True) -> DataFrame:
    """(a < b) pairs from a bounded ``ids`` array column.  ``dedup=False``
    skips the distinct shuffle when each id can occur in only one bucket
    (single-bucket blocking), so pairs cannot repeat by construction."""
    pairs = capped.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda a, ai: F.transform(
                        F.slice(F.col("ids"), ai + 2, F.size("ids")),
                        lambda b: F.struct(a.alias("a"), b.alias("b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.a", "p.b")
    return pairs.distinct() if dedup else pairs


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup via content fingerprint: one row per distinct content with
    the deterministic survivor (min id) and the duplicate count.

    'Keep first' in the reference depends on file order; the scalable,
    deterministic contract is 'keep min(id)'."""
    from commoncrawlnewsdataset_spark.functions.quality import fingerprint_md5

    return (
        df.select(F.col(id_col).alias("id"), fingerprint_md5(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min("id").alias("keep_id"), F.count("*").alias("n_dups"))
    )


def drop_exact_dups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep exactly the min-id row per distinct content — window-free
    formulation (semi join against survivors) so AQE can broadcast the small
    survivor side when dup groups are rare."""
    from commoncrawlnewsdataset_spark.functions.quality import fingerprint_md5

    with_fp = df.withColumn("_fp", fingerprint_md5(F.col(text_col)))
    survivors = with_fp.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return with_fp.join(survivors, ["_fp", id_col], "left_semi").drop("_fp")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature_from_shingles(sh: Column, n_hashes: int = 8) -> Column:
    """MinHash signature from an already-computed shingle array column —
    the array is referenced once per hash at top level, so stage it as a
    column to avoid n_hashes re-evaluations of the shingle pipeline."""

    def _seeded(prefix: str):
        # single-parameter closure: a 2-arg lambda would make Spark pass the
        # element *index* as the second argument
        return lambda s: F.md5(F.concat(F.lit(prefix), s))

    return F.array(
        *[F.array_min(F.transform(sh, _seeded(f"{i}:"))) for i in range(n_hashes)]
    )


def minhash_signature(text: Column, n_hashes: int = 8, k: int = 3) -> Column:
    """MinHash via md5(seed || ':' || shingle): the signature is the
    lexicographic min hex digest per seed.  md5 is identical in Spark and
    DuckDB, which makes signatures oracle-checkable; string-min of a uniform
    hash is order-isomorphic to integer-min, so LSH banding behaves normally."""
    return minhash_signature_from_shingles(shingles(text, k), n_hashes)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
    bucket_cap: int = 200,
    hasher: str = "md5",
) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing at least one LSH band bucket.

    Plan shape: one shuffle to group by (band, bucket), per-bucket pair
    expansion bounded by `bucket_cap` (skew guard), distinct pairs out.

    ``hasher``: "md5" is the cross-engine (DuckDB-oracle) contract;
    "xxhash64" is the production fast path — native 64-bit hashing instead
    of hex md5 strings (~2x less CPU, 8-byte mins instead of 32-char hex).
    Candidate semantics are identical (min of a uniform hash per seed);
    only the hash family differs.
    """
    rows_per_band = n_hashes // bands
    # Explode band ids FIRST, then compute only that band's minhashes with a
    # dynamic seed (concat(band*rpb+r, ':', shingle)).  Computing the full
    # signature and indexing it per band looks natural but Catalyst's
    # projection collapse re-inlines the whole signature expression into
    # every element reference — n_hashes x bands recomputations of the
    # shingle pipeline (measured 50s+ at 5k docs).  Seed strings are
    # identical to minhash_signature's, so results match the DuckDB oracle.
    #
    # r8 staging: (1) rows below k tokens are dropped by the CHEAP
    # min_tokens_pred at the scan (≡ the old size(sh) > 0 filter, whose
    # pushdown used to drag the whole shingle tree below the repartition
    # and run it single-threaded); (2) tokens materialize once as _t and
    # shingles derive from the column (shingle_array) — 3.74 s -> 0.84 s
    # at sf0.1, output proven identical.
    fan_out = df.sparkSession.sparkContext.defaultParallelism
    sh = (
        df.filter(min_tokens_pred(F.col(text_col), k))
        .repartition(fan_out)  # shingle+md5 work is CPU-bound, not byte-bound
        .select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_t"))
        .select("id", shingle_array(F.col("_t"), k).alias("sh"))
    )
    with_band = sh.select(
        "id", "sh", F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    )

    if hasher == "md5":
        def _min_for(r: int):
            seed = (F.col("band") * rows_per_band + F.lit(r)).cast("string")
            return F.array_min(
                F.transform(F.col("sh"), lambda s: F.md5(F.concat(seed, F.lit(":"), s)))
            )

        bucket = F.md5(
            F.concat_ws("|", *[_min_for(r) for r in range(rows_per_band)])
        )
    else:  # xxhash64 fast path
        def _min_for(r: int):
            seed = F.col("band") * rows_per_band + F.lit(r)
            return F.array_min(
                F.transform(F.col("sh"), lambda s: F.xxhash64(seed, s))
            )

        bucket = F.xxhash64(*[_min_for(r) for r in range(rows_per_band)]).cast(
            "string"
        )
    banded = with_band.select("id", "band", bucket.alias("bucket"))

    capped = _capped_bucket_ids(banded, ["band", "bucket"], "id", bucket_cap)
    return _bucket_pairs(capped)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def token_hashes(text: Column) -> Column:
    """Per-token 60-bit hash array (first 15 md5 hex digits as int — conv
    is exact there); the simhash vote input.  Mirrors 1:1 into DuckDB
    ('0x'||substr cast)."""
    return F.transform(
        tokens(text), lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )


def simhash_from_hashes(th: Column, bits: int = 32) -> Column:
    """SimHash signature from a token-hash array: ONE left-fold accumulates
    all ``bits`` vote counters in an array, then one zip packs the sign
    bits.  ``th`` is referenced exactly twice at top level (null guard +
    fold) — the old per-bit formulation referenced it once per bit, and a
    subtree referenced N times re-evaluates N times per row: 32 full
    tokenize+md5 passes per document (r8; stage ``th`` as a column to make
    both references O(1)).  Bit tests use bitwiseAND against constant
    powers of two — same bit semantics as the old shiftright form, valid
    for the 60-bit hash domain."""
    powers = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    votes = F.aggregate(
        th,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc, powers,
            lambda v, p: v + F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1),
        ),
    )
    total = F.aggregate(
        F.zip_with(
            votes, powers,
            lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return F.when(F.size(th) > 0, total).otherwise(F.lit(None).cast("long"))


def simhash(text: Column, bits: int = 32) -> Column:
    """SimHash over whitespace tokens: token hash = first 15 hex of md5 as a
    60-bit int (conv is exact there); each bit votes +1/-1; signature bit b is
    set when the vote sum is positive.  conv/md5/bit-ops all mirror 1:1 into
    the DuckDB oracle ('0x'||substr cast).  Column-expression form (2
    token-hash evaluations per row); DataFrame callers stage token_hashes
    as a column and use simhash_from_hashes."""
    return simhash_from_hashes(token_hashes(text), bits)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    max_hamming: int = 3,
    bucket_cap: int = 200,
) -> DataFrame:
    """Near-dup pairs at Hamming distance <= max_hamming between simhash
    signatures, via pigeonhole banding: split the signature into
    (max_hamming+1) bit bands — any pair within distance d differs in at
    most d bands, so it matches EXACTLY on at least one band (no missed
    pairs from banding itself).  Candidates come from a band-equality
    groupBy (deterministic sorted-slice `bucket_cap` skew guard — identical
    documents collapse to one bucket, which would otherwise go quadratic);
    verification is the exact bit_count(xor).  Same scale shape as
    minhash_lsh_pairs: one groupBy shuffle + distinct + a thin verify join
    on 8-byte signatures."""
    n_bands = max_hamming + 1
    w = bits // n_bands
    sigs = (
        df.filter(min_tokens_pred(F.col(text_col), 1))  # ≡ sig IS NOT NULL
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select(F.col(id_col).alias("id"), token_hashes(F.col(text_col)).alias("_th"))
        .select("id", simhash_from_hashes(F.col("_th"), bits).alias("sig"))
    )
    band_structs = []
    for i in range(n_bands):
        width = w if i < n_bands - 1 else bits - w * (n_bands - 1)
        bval = F.shiftright(F.col("sig"), i * w).bitwiseAND(F.lit((1 << width) - 1))
        band_structs.append(F.struct(F.lit(i).alias("band"), bval.alias("bval")))
    bands = sigs.select("id", F.explode(F.array(*band_structs)).alias("bb")).select(
        "id", "bb.band", "bb.bval"
    )
    capped = _capped_bucket_ids(bands, ["band", "bval"], "id", bucket_cap)
    cand = _bucket_pairs(capped)
    return (
        cand.join(sigs.withColumnsRenamed({"id": "a", "sig": "sig_a"}), "a")
        .join(sigs.withColumnsRenamed({"id": "b", "sig": "sig_b"}), "b")
        .withColumn("hamming", hamming64(F.col("sig_a"), F.col("sig_b")).cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 2,
    threshold: float = 0.5,
    shingle_cap: int = 500,
) -> DataFrame:
    """Exact Jaccard over distinct k-token shingles, candidates via inverted
    index; the intersection is counted EXACTLY over all shingles in two
    passes, and no shingle string (or array) ever enters a shuffle:

    1. non-hot shingles (<= shingle_cap docs): the capped inverted index
       expands to (a, b) rows — groupBy(a, b).count() IS the non-hot
       intersection, and its distinct keys are the candidate pairs;
    2. hot shingles (> shingle_cap docs, the stopword-grams): candidates
       join the hot memberships on both endpoints keyed by an 8-byte
       xxhash64 of the shingle — output rows ∝ candidates x (hot shingles
       per doc), never hot² — and the match count is the hot intersection.

    inter = pass1 + pass2 is exact, so the cap affects candidate RECALL only
    (a pair is missed iff every shared shingle is hot), never the reported
    similarity.  Shuffled bytes per pass are 8-16 B keys — the array-join
    formulation (candidates x full shingle arrays) measured 5x slower at
    sf0.1."""
    # r8 staging (same rework as minhash_lsh_pairs): cheap scan predicate
    # instead of the post-hoc size(sh) > 0 filter (whose pushdown re-ran
    # the shingle tree single-threaded below the fan-out), tokens
    # materialized once, shingles from the column.
    sets = (
        df.filter(min_tokens_pred(F.col(text_col), k))
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_t"))
        .select("id", F.array_distinct(shingle_array(F.col("_t"), k)).alias("sh"))
    )
    sizes = sets.select("id", F.size("sh").cast("long").alias("sz"))

    # 8-byte shingle keys: collision odds over ~|corpus| distinct shingles
    # are ~n²/2^65 — vanishing; counts, not values, flow downstream
    inv = sets.select(
        "id", F.explode(F.transform("sh", lambda s: F.xxhash64(s))).alias("s")
    )
    # Counts-first hot/non-hot split: per-key posting counts come from a
    # window count (WindowExec buffers group rows in a SPILLABLE buffer),
    # so hot keys are known BEFORE any posting list is collected.  The old
    # groupBy(s).collect_list materialized the FULL posting list of a
    # stopword shingle in ONE in-memory aggregation buffer — 10^8+ ids for
    # a single key at 10^10 docs, an executor OOM AQE can't split.  Here a
    # key either has n <= shingle_cap rows (its collected array is bounded
    # by construction) or flows to the hot branch as plain rows; no
    # O(hot-postings) array ever exists.
    from pyspark.sql import Window

    counted = inv.select(
        "id", "s", F.count("*").over(Window.partitionBy("s")).alias("_n")
    )
    nonhot = (
        counted.filter((F.col("_n") > 1) & (F.col("_n") <= shingle_cap))
        .groupBy("s")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
    )
    inter_nonhot = (
        nonhot.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda a, ai: F.transform(
                            F.slice(F.col("ids"), ai + 2, F.size("ids")),
                            lambda b: F.struct(a.alias("a"), b.alias("b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .groupBy("p.a", "p.b")
        .agg(F.count("*").alias("inter_nonhot"))
    )

    hot_inv = counted.filter(F.col("_n") > shingle_cap).select("id", "s")
    inter_hot = (
        inter_nonhot.select("a", "b")
        .join(hot_inv.withColumnsRenamed({"id": "a"}), "a")
        .join(hot_inv.withColumnsRenamed({"id": "b"}), ["b", "s"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter_hot"))
    )

    out = (
        inter_nonhot.join(inter_hot, ["a", "b"], "left")
        .withColumn(
            "inter",
            F.col("inter_nonhot") + F.coalesce(F.col("inter_hot"), F.lit(0)),
        )
        .join(sizes.withColumnsRenamed({"id": "a", "sz": "sz_a"}), "a")
        .join(sizes.withColumnsRenamed({"id": "b", "sz": "sz_b"}), "b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return out


# ---------------------------------------------------------------------------
# incremental cross-batch dedup against a fingerprint store
# ---------------------------------------------------------------------------

def dedup_against_store(
    new_docs: DataFrame,
    store_dir: str,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Incremental corpus building: exact-dedup a NEW batch against every
    previously ingested batch WITHOUT rescanning old text — the URL-seen
    pattern (frontier/core.py) applied to content.  An append-only parquet
    log under ``store_dir`` holds one md5 content fingerprint per surviving
    document; the new batch (1) drops rows whose fingerprint is already
    logged (anti-join on 16-byte keys — old TEXT is never read again),
    (2) keeps the deterministic min-id survivor per fingerprint within the
    batch (D1 semantics), and (3) appends the survivors' fingerprints.

    Returns the surviving rows of the new batch.  At 100 TB the store is
    fingerprints only (16 bytes/doc); when it outgrows a direct anti-join,
    the bloom front (frontier.core.url_seen_gate) slots in unchanged —
    same key shape, same no-false-negative contract."""
    import os

    from commoncrawlnewsdataset_spark.functions.quality import fingerprint_md5

    log = os.path.join(store_dir, "fingerprints.parquet")
    fresh = new_docs.withColumn("_fp", fingerprint_md5(F.col(text_col)))
    if os.path.isdir(log):
        # only ``fp`` is read: logs written by older versions also carry an
        # ``epoch`` column, which no reader needs
        seen = new_docs.sparkSession.read.parquet(log).select(F.col("fp").alias("_fp"))
        fresh = fresh.join(seen, "_fp", "left_anti")
    surv = fresh.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    # localCheckpoint cuts the plan: the append below and the caller both
    # read the survivors without re-running the dedup
    kept = fresh.join(surv, ["_fp", id_col], "left_semi").localCheckpoint()
    kept.select(F.col("_fp").alias("fp")).write.mode("append").parquet(log)
    return kept.drop("_fp")


# ---------------------------------------------------------------------------
# corpus-wide chunk ("paragraph") dedup — CCNet-style
# ---------------------------------------------------------------------------

def chunk_dedup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 8,
) -> DataFrame:
    """CCNet-style paragraph-level dedup, over fixed ``chunk_tokens``-token
    chunks (the corpus here is single-line; with real newline paragraphs the
    split expression is the only change): a chunk SURVIVES only in the
    minimum-id document containing its exact text; every later occurrence is
    dropped.  Returns per-doc (doc_id, n_chunks, n_kept) — the boilerplate
    mass a paragraph dedup would remove is n_chunks - n_kept.

    Scale shape (r8 rework): tokens materialize ONCE as a column, chunks
    slice the STAGED array per chunk index (a column reference inside the
    lambda is O(1) per element — slicing an INLINE token expression per
    index would re-run the whole split per chunk, the blowup the old
    posexplode formulation dodged), and only 16-byte chunk hashes ever
    shuffle.  The old path exploded every token row into a (doc, chunk_id)
    re-assembly groupBy — a full shuffle of the corpus' token stream that
    this formulation never pays; the owner groupBy and per-doc count are
    unchanged.  Docs below one token are dropped by the cheap scan
    predicate exactly as posexplode dropped their zero rows."""
    tc = F.col("_t")
    n = F.size(tc)
    chunks = F.transform(
        F.sequence(F.lit(1), F.ceil(n / chunk_tokens).cast("int")),
        lambda i: F.concat_ws(
            " ", F.slice(tc, (i - 1) * chunk_tokens + 1, chunk_tokens)
        ),
    )
    chunk_rows = (
        df.filter(min_tokens_pred(F.col(text_col), 1))
        .select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_t"))
        .select("doc_id", F.explode(chunks).alias("chunk"))
        .select("doc_id", F.md5("chunk").alias("h"))
    )
    owners = chunk_rows.groupBy("h").agg(F.min("doc_id").alias("owner"))
    kept = (
        chunk_rows.join(owners, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum((F.col("doc_id") == F.col("owner")).cast("long")).alias("n_kept"),
        )
    )
    return kept


# ---------------------------------------------------------------------------
# embedding cosine near-dup (blocked exact path; ANN lives in similarity.py)
# ---------------------------------------------------------------------------

def cosine_sim(a: Column, b: Column) -> Column:
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    return dot / (na * nb)


def cosine_dup_pairs_blocked(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.95,
    n_planes: int = 6,
    seed: int = 13,
    dim: int | None = None,
    bucket_cap: int | None = 200,
) -> DataFrame:
    """Near-dup vector pairs within blocking keys (exact within block).

    The block join keeps the pair space at Σ block² instead of n².  The
    DEFAULT block key (block_col=None) is the sign-LSH bucket of the vector
    itself (similarity.lsh_bucket_expr) — the 100 TB-safe choice: bucket
    population is controlled by n_planes, independent of any data column's
    skew.  Pass block_col to block on a metadata column instead (exact
    within-group dedup).

    ``bucket_cap`` bounds the within-block pair expansion the same way the
    minhash/simhash siblings do — deterministic sorted-slice of the block's
    ids — so one degenerate bucket (e.g. the all-positive-signs bucket of a
    centered corpus at 10^9 vectors) can't go quadratic; it's a recall
    parameter, not a silent truncation.  ``None`` disables the cap (exact
    within-block, only safe when the block column is known-bounded)."""
    if block_col is not None:
        blk = F.col(block_col)
    else:
        from commoncrawlnewsdataset_spark.operators.similarity import (
            hyperplanes,
            lsh_bucket_expr,
        )

        if dim is None:
            dim = len(emb.select(vec_col).head()[0])  # one-row probe
        blk = lsh_bucket_expr(F.col(vec_col), hyperplanes(dim, n_planes, seed))
    keyed = emb.select(
        blk.alias("blk"), F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    if bucket_cap is None:
        lhs = keyed.select("blk", F.col("id").alias("a"), F.col("vec").alias("va"))
        rhs = keyed.select("blk", F.col("id").alias("b"), F.col("vec").alias("vb"))
        joined = lhs.join(rhs, "blk").filter(F.col("a") < F.col("b"))
    else:
        capped = _capped_bucket_ids(keyed.select("blk", "id"), ["blk"], "id", bucket_cap)
        cand = _bucket_pairs(capped, dedup=False)  # one block per vector: no repeats
        joined = cand.join(
            keyed.select(F.col("id").alias("a"), F.col("vec").alias("va")), "a"
        ).join(keyed.select(F.col("id").alias("b"), F.col("vec").alias("vb")), "b")
    return (
        joined.withColumn(
            "cos",
            F.round(
                cosine_sim(
                    F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")
                ),
                4,
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


# ---------------------------------------------------------------------------
# near-dup clustering: pairs -> connected components (min-id label)
# ---------------------------------------------------------------------------

def dup_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    on_exhaustion: str = "raise",
) -> DataFrame:
    """Connected components over a near-dup pair list: every node gets
    ``cluster_id`` = the minimum id reachable through pairs (singletons keep
    their own id).  This is the step that turns any pair generator above
    (LSH / Jaccard / cosine) into actual dedup groups with a deterministic
    survivor per group.

    Convergence is O(log n) rounds via pointer doubling: each round first
    takes the min over direct neighbors (one hop), then compresses through
    the label graph (lbl := label(label(id))), so label distances halve per
    round on top of the hop — a bare neighbor-min would be O(diameter) and a
    templated-page chain longer than max_iter hops would silently exit
    unconverged.  If max_iter is still exhausted the function raises
    (``on_exhaustion='raise'``, default) or warns and returns the partial
    labels (``'warn'``) — never a silent wrong answer.

    Durability: with ``checkpoint_dir`` set, edges are materialized to
    parquet once and labels spill to parquet every ``checkpoint_every``
    rounds — executor loss can't kill a 10^10-edge clustering the way
    truncated ``localCheckpoint`` lineage would, and a re-run over the same
    dir RESUMES from the newest committed round (same wave-log protocol as
    WaveRunner: _SUCCESS-marked round dirs, partials ignored).  Without it,
    lineage is cut per round with localCheckpoint (fast, test-scale).

    Plan shape per round: 2 joins + 2 min-aggregates (~4 shuffles), plus one
    small changed-count job for convergence detection."""
    import os

    spark = nodes.sparkSession

    def _committed_rounds() -> list[int]:
        if checkpoint_dir is None or not os.path.isdir(checkpoint_dir):
            return []
        out = []
        for d in os.listdir(checkpoint_dir):
            if d.startswith("round=") and os.path.exists(
                os.path.join(checkpoint_dir, d, "_SUCCESS")
            ):
                out.append(int(d.split("=")[1]))
        return sorted(out)

    def _persist(df: DataFrame, name: str) -> DataFrame:
        if checkpoint_dir is None:
            return df.localCheckpoint()
        path = os.path.join(checkpoint_dir, name)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    edges = _persist(
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct(),
        "edges",
    )
    def _step(labels: DataFrame) -> DataFrame:
        msgs = edges.join(
            labels.select(F.col("id").alias("src"), "lbl"), "src"
        ).select(F.col("dst").alias("id"), "lbl")
        hop = labels.unionByName(msgs).groupBy("id").agg(F.min("lbl").alias("lbl"))
        # pointer doubling: follow the label chain one more step so label
        # distances halve each round (lbl is itself a node id; its current
        # label is a valid — and no larger — representative)
        parents = hop.select(F.col("id").alias("lbl"), F.col("lbl").alias("plbl"))
        return hop.join(parents, "lbl", "left").select(
            "id", F.least(F.col("lbl"), F.col("plbl")).alias("lbl")
        )

    def _changed(old: DataFrame, new: DataFrame) -> int:
        return (
            new.select("id", F.col("lbl").alias("new_lbl"))
            .join(old, "id")
            .filter(F.col("new_lbl") != F.col("lbl"))
            .count()
        )

    converged_marker = (
        os.path.join(checkpoint_dir, "_CONVERGED") if checkpoint_dir else None
    )
    done = _committed_rounds()
    converged = False
    if done:  # resume from the newest committed label spill
        start = done[-1] + 1
        labels = spark.read.parquet(
            os.path.join(checkpoint_dir, f"round={done[-1]:05d}")
        )
        # Convergence state is NOT implied by round number: the prior run may
        # have spilled converged labels and died before detecting it — or the
        # newest spill may BE the final round (start >= max_iter), in which
        # case the loop body never runs and we'd wrongly raise 'did not
        # converge' over fully-converged labels.  A durable marker records
        # detected convergence; without it, one changed-count job re-checks.
        if converged_marker and os.path.exists(converged_marker):
            converged = True
        elif _changed(labels, _step(labels)) == 0:
            converged = True
    else:
        start = 0
        labels = nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("lbl"))

    last_round = done[-1] if done else -1  # newest committed spill round
    for i in range(start, max_iter):
        if converged:
            break
        new = _step(labels)
        if checkpoint_dir is not None and (i + 1) % checkpoint_every == 0:
            new = _persist(new, f"round={i:05d}")
            last_round = i
        else:
            new = new.localCheckpoint()
        changed = _changed(labels, new)
        labels = new
        if changed == 0:
            converged = True
            if checkpoint_dir is not None and last_round != i:
                # The marker promises "newest committed spill == final
                # labels".  Convergence at a non-spill round would otherwise
                # leave the final labels only in a localCheckpoint: a resume
                # would read the stale round=<last_round> spill, see the
                # marker, skip the loop, and return pre-convergence labels.
                # Commit the final labels FIRST, then (below) the marker.
                labels = _persist(labels, f"round={i:05d}")
                last_round = i
            break
    if converged and converged_marker is not None:
        with open(converged_marker, "w") as fh:
            fh.write("converged\n")
    if not converged:
        msg = (
            f"dup_clusters did not converge within max_iter={max_iter} rounds; "
            "labels are PARTIAL (some clusters split). Raise max_iter — "
            "pointer doubling needs only O(log n) rounds."
        )
        if on_exhaustion == "warn":
            import warnings

            warnings.warn(msg)
        else:
            raise RuntimeError(msg)
    return labels.select("id", F.col("lbl").alias("cluster_id"))


# ---------------------------------------------------------------------------
# eval-set decontamination (GPT-3 / Pile-style n-gram overlap filter)
# ---------------------------------------------------------------------------

def contamination_hits(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Training docs sharing at least one k-token shingle with an eval set:
    (id, n_overlap) with n_overlap = count of DISTINCT shared shingles —
    the audit view behind ``decontaminate``.

    Scale shape: the eval side collapses to a distinct shingle set (eval
    suites are tiny next to the corpus) and BROADCASTS; the corpus side
    explodes shingles once in the scan stage, so the whole check is one
    broadcast semi-ish join + groupBy(id) — no shuffle of corpus text."""
    ev = (
        eval_docs.select(F.explode(F.array_distinct(shingles(F.col(text_col), k))).alias("sh"))
        .distinct()
    )
    doc_sh = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(F.col(text_col), k))).alias("sh"),
    )
    return (
        doc_sh.join(F.broadcast(ev), "sh")
        .groupBy("id")
        .agg(F.count("*").alias("n_overlap"))
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Drop every training doc that shares a k-token shingle with the eval
    set (the decontamination step of GPT-3 appendix C / The Pile): returns
    the surviving rows of ``docs``.  Anti-join on the hits view, so the
    corpus is scanned once."""
    hits = contamination_hits(docs, eval_docs, id_col, text_col, k)
    return docs.join(
        hits.withColumnRenamed("id", id_col), id_col, "left_anti"
    )
