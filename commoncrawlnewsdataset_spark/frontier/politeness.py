"""Per-host politeness-budgeted priority queue (SURVEY §2.10; north_star).

Generalizes the reference's global 10-worker budget
(01_download_newscrawl.py:95-96) to a per-host budget, skew-safe:

Phase 1 (salted local rank): repartition by (host, salt) where
salt = pmod(murmur3(url), nsalt), rank within (host, salt), keep
rn <= budget.  A host with 10^8 pending URLs is spread over `nsalt`
partitions; each keeps at most `budget` rows, so phase 2's input per host is
<= budget * nsalt — bounded regardless of skew.

Phase 2 (exact rank): re-rank the survivors per host, keep rn <= budget.
The global top-`budget` rows of a host are each top-`budget` within their
salt, so the two-phase result is exactly the single-window result — proven
by tests/test_frontier.py::test_salting_invariance.

Deterministic total order everywhere: (priority DESC, discovered_ts, url) —
required to reproduce crawl ordering exactly (north_rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def order_cols():
    """Deterministic total order (requires an active session to build Columns)."""
    return [F.desc("priority"), F.asc("discovered_ts"), F.asc("url")]


def politeness_rank(
    pending: DataFrame,
    per_host_budget: int,
    nsalt: int = 8,
    host_budgets: DataFrame | None = None,
) -> DataFrame:
    """Select the wave: per-host top-`budget` by (priority desc, ts, url),
    with salted pre-ranking to defeat host skew.  Adds `rank` (1-based,
    per host) to the selected rows.

    `host_budgets` (host, budget) overrides the default budget per host —
    derived from robots crawl delays (budget = wave_seconds / crawl_delay,
    the per-host generalization of the reference's 1 rps RateLimiter,
    07_geocode_news.py:149-155).  Phase 1 caps at the DEFAULT budget only
    when no override can exceed it; with overrides it caps at the max
    override so phase 2 stays exact."""
    if host_budgets is not None:
        pending = pending.join(
            F.broadcast(host_budgets.select("host", F.col("budget").alias("_budget"))),
            "host",
            "left",
        ).withColumn("_budget", F.coalesce(F.col("_budget"), F.lit(per_host_budget)))
        phase1_cap = F.col("_budget")
    else:
        pending = pending.withColumn("_budget", F.lit(per_host_budget))
        phase1_cap = F.lit(per_host_budget)

    salted = pending.withColumn("_salt", F.pmod(F.hash("url"), F.lit(nsalt)))
    w_local = Window.partitionBy("host", "_salt").orderBy(*order_cols())
    survivors = (
        salted.repartition(F.col("host"), F.col("_salt"))
        .withColumn("_rn", F.row_number().over(w_local))
        .filter(F.col("_rn") <= phase1_cap)
        .drop("_rn", "_salt")
    )
    w_host = Window.partitionBy("host").orderBy(*order_cols())
    return (
        survivors.withColumn("rank", F.row_number().over(w_host))
        .filter(F.col("rank") <= F.col("_budget"))
        .drop("_budget")
    )


def adaptive_host_budgets(
    state: DataFrame,
    wave: int,
    base_budget: int,
    min_budget: int = 1,
) -> DataFrame:
    """Failure-adaptive per-host budgets (the multiplicative-decrease half
    of AIMD congestion control, applied to crawl politeness): a host whose
    last wave failed heavily — overloaded, throttling, or down — gets a
    proportionally smaller budget next wave,

        budget = max(min_budget, floor(base * (1 - fail_rate_last_wave)))

    while healthy hosts keep the base (recovery is automatic: one good wave
    resets the rate).  Returns the broadcast-size (host, budget) dimension
    ``politeness_rank`` already consumes — one tiny aggregate over the last
    wave's outcomes, no new plumbing."""
    last = state.filter(
        (F.col("wave") == wave) & F.col("status").isin("fetched", "failed")
    )
    rates = last.groupBy("host").agg(
        (F.sum((F.col("status") == "failed").cast("int")) / F.count("*")).alias(
            "fail_rate"
        )
    )
    return rates.select(
        "host",
        F.greatest(
            F.lit(min_budget),
            F.floor(base_budget * (1 - F.col("fail_rate"))).cast("int"),
        ).cast("int").alias("budget"),
    )


def politeness_debt_batch(
    requests: DataFrame,
    host_col: str = "host",
    batch_col: str = "batch",
    crawl_delays: dict[str, float] | None = None,
    batch_seconds: float = 60.0,
    default_delay: float = 1.0,
) -> DataFrame:
    """Per-host crawl-delay debt carried across a batch sequence — the
    recurrence

        allowed_i = floor((batch_seconds + carry_{i-1}) / delay)
        granted_i = min(n_i, allowed_i)
        carry_i   = min(batch_seconds, batch_seconds + carry_{i-1}
                                       - granted_i * delay)

    folded entirely JVM-side: per-batch counts groupBy, then ONE
    ``F.aggregate`` left-fold over the batch-ordered counts per host (the
    recurrence is sequential in i, but hosts are independent — exactly the
    per-key parallelism Spark gives for free).  No Python, no iteration:
    two shuffles total for any number of batches.  The DuckDB oracle
    mirrors the fold with list_reduce, value-checking the debt arithmetic
    cross-engine."""
    B = float(batch_seconds)
    if crawl_delays:
        m = F.create_map(
            *[x for h, d in sorted(crawl_delays.items()) for x in (F.lit(h), F.lit(float(d)))]
        )
        delay = F.coalesce(m[F.col(host_col)], F.lit(float(default_delay)))
    else:
        delay = F.lit(float(default_delay))

    counts = requests.groupBy(
        F.col(host_col).alias("host"), F.col(batch_col).alias("b")
    ).agg(F.count("*").alias("n"))
    seqs = counts.groupBy("host").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("b", "n"))), lambda s: s["n"]
        ).alias("seq")
    ).withColumn("_delay", delay)

    acc0 = F.struct(
        F.lit(0).cast("long").alias("req"),
        F.lit(0).cast("long").alias("gr"),
        F.lit(0.0).alias("carry"),
        F.lit(0).cast("long").alias("seen"),
    )

    def step(acc, n):
        d = F.col("_delay")
        allowed = F.floor((F.lit(B) + acc["carry"]) / d)
        g = F.least(n, allowed)
        return F.struct(
            (acc["req"] + n).alias("req"),
            (acc["gr"] + g).alias("gr"),
            F.least(F.lit(B), F.lit(B) + acc["carry"] - g * d).alias("carry"),
            (acc["seen"] + 1).alias("seen"),
        )

    folded = seqs.select(
        "host", F.aggregate(F.col("seq"), acc0, step).alias("f")
    )
    return folded.select(
        "host",
        F.col("f.req").alias("n_requested"),
        F.col("f.gr").alias("n_granted"),
        (F.col("f.req") - F.col("f.gr")).alias("n_deferred"),
        F.round("f.carry", 6).alias("carry_s"),
        F.col("f.seen").alias("batches_seen"),
    )


def ranged_row_number(df: DataFrame, keys: list, out_col: str) -> DataFrame:
    """Exact global 1-based row_number over ``keys`` with NO unpartitioned
    window over full data (same shape as packing.global_cumsum): range
    partition by the sort keys, row_number within each partition, broadcast
    per-partition count offsets.  RangePartitioner guarantees partition i
    holds strictly-earlier keys than i+1, so local rank + offset IS the
    exact global row_number.  The only no-partition window runs over the
    one-row-per-partition totals — bounded by the partition count, never by
    the data."""
    part = df.repartitionByRange(*keys).withColumn("_pid", F.spark_partition_id())
    w_local = Window.partitionBy("_pid").orderBy(*keys)
    local = part.withColumn("_local", F.row_number().over(w_local))
    totals = local.groupBy("_pid").agg(F.count("*").alias("_n"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).select("_pid", "_off")
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_local") + F.col("_off")).cast("long"))
        .drop("_pid", "_local")
    )


def wave_order(selected: DataFrame) -> DataFrame:
    """Deterministic global fetch order within a wave: interleave hosts by
    per-host rank first (fair scheduling), then the total order columns.
    Adds `wave_seq` (1-based global sequence) via the scale-safe two-phase
    ranged_row_number — never a no-partition global window (which would
    run the whole wave through a single task)."""
    return ranged_row_number(selected, [F.asc("rank"), *order_cols()], "wave_seq")
