"""Statistical / analytic-function operators over the TPC-H-ish tables.

Extends the relational core (SURVEY.md §2.4-2.5) with the statistical
aggregation surface an analytics engine is expected to carry: bivariate
statistics (Pearson correlation, sample covariance), higher central
moments (skewness, kurtosis), and the value-distribution window
functions (ntile / percent_rank / cume_dist). The reference's own query
layer stops at sum/count pivots (generate_benchmark_plot.js:58-73);
these are the standard extensions a user migrating real benchmark
analysis onto the engine reaches for next (e.g. "is ns/op correlated
with allocs/op", "which runs sit in the slowest decile").

Scale design:

- Every aggregate here is a single map-side-combinable pass: Spark's
  corr/covar/skewness/kurtosis are one-pass incremental central-moment
  sketches (fixed-size per group), so the shuffle carries a handful of
  doubles per (group, partition) — never rows. One scan computes all
  five statistics.
- The window query partitions by a low-cardinality key and sorts within
  partitions only (no global sort); ties are broken by the primary key
  so results are deterministic under any partitioning.

Oracle notes: Spark's ``skewness``/``kurtosis`` are the *population*
moment forms (g1 = m3/m2^1.5, excess g2 = m4/m2^2 - 3) while DuckDB's
built-ins are the bias-corrected sample forms, so the oracle spells the
population formulas out with a two-pass mean join rather than calling
DuckDB's ``skewness``/``kurtosis`` — a deliberate cross-engine
definition check, not an approximation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from benchviz_spark.caching import memo_put, register_cache
from benchviz_spark.registry import query
from benchviz_spark.sources.tables import load_table


@query(
    "stats_moments_by_returnflag",
    oracle="""
    WITH mu AS (
      SELECT l_returnflag AS f, avg(l_extendedprice) AS mp
      FROM lineitem GROUP BY 1
    ),
    cm AS (
      SELECT l_returnflag,
             count(*)                                   AS n_items,
             corr(l_quantity, l_extendedprice)          AS c,
             covar_samp(l_quantity, l_extendedprice)    AS cv,
             stddev_samp(l_extendedprice)               AS sd,
             avg(pow(l_extendedprice - mp, 2))          AS m2,
             avg(pow(l_extendedprice - mp, 3))          AS m3,
             avg(pow(l_extendedprice - mp, 4))          AS m4
      FROM lineitem JOIN mu ON l_returnflag = f
      GROUP BY 1
    )
    SELECT l_returnflag,
           CAST(n_items AS BIGINT)        AS n_items,
           round(c, 6)                    AS corr_qty_price,
           round(cv, 2)                   AS covar_qty_price,
           round(sd, 2)                   AS stddev_price,
           round(m3 / pow(m2, 1.5), 6)    AS skew_price,
           round(m4 / pow(m2, 2) - 3, 6)  AS kurt_price
    FROM cm
    """,
)
def stats_moments_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per return-flag bivariate + higher-moment statistics of lineitem
    prices, all five in ONE scan. Each of Spark's moment aggregates
    keeps a fixed-size partial (count + central-moment sums) that
    combines map-side, so at 100 TB the shuffle for this query is a few
    doubles per (flag, partition) — the scan is the whole cost."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "covar_qty_price"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("stddev_price"),
        F.round(F.skewness("l_extendedprice"), 6).alias("skew_price"),
        F.round(F.kurtosis("l_extendedprice"), 6).alias("kurt_price"),
    )


@query(
    "window_price_quartiles",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           ntile(4) OVER w                    AS price_quartile,
           round(percent_rank() OVER w, 6)    AS pct_rank,
           round(cume_dist() OVER w, 6)       AS cume
    FROM orders
    WINDOW w AS (
      PARTITION BY o_orderpriority
      ORDER BY o_totalprice, o_orderkey
    )
    """,
)
def window_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every order's price quartile, percentile rank, and cumulative
    distribution within its priority class — the ntile / percent_rank /
    cume_dist trio. The window partitions on a 5-value key and sorts
    only within partitions (no global sort); the o_orderkey tiebreaker
    makes the ordering total, so ntile boundaries are deterministic
    under any physical partitioning.

    Skew note for 100 TB: a 5-value partition key concentrates each
    priority class on one reducer. That is inherent to the semantics
    (a quartile is defined over the whole class) — when the class
    outgrows one executor the standard move is the two-pass variant of
    quantiles_exact_by_flag (distributed sort + partial CDF merge), not
    a bigger machine."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


# ---------------------------------------------------------------------------
# Linear-regression aggregates: Zipf's-law fit over the term frequency
# distribution.
# ---------------------------------------------------------------------------
_NORM_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

# Contiguous range buckets for the distributed Zipf rank: each bucket is
# ~vocab/N rows through one task instead of the whole vocabulary through
# one unpartitioned window. Raise with cluster size; the driver-side
# state is always exactly N bucket counts.
ZIPF_RANK_BUCKETS = 32


@query(
    "stats_zipf_fit",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split({_NORM_SQL}, ' ')) AS term FROM documents
    ),
    tf AS (SELECT term, count(*) AS tf FROM tok GROUP BY 1),
    ranked AS (
      SELECT tf, row_number() OVER (ORDER BY tf DESC, term) AS rank FROM tf
    )
    SELECT CAST(count(*) AS BIGINT)                   AS n_terms,
           round(regr_slope(ln(tf), ln(rank)), 4)     AS zipf_slope,
           round(regr_intercept(ln(tf), ln(rank)), 4) AS zipf_intercept,
           round(regr_r2(ln(tf), ln(rank)), 4)        AS fit_r2
    FROM ranked
    """,
)
def stats_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares fit of ln(term frequency) against ln(frequency
    rank) — the standard Zipf's-law diagnostic a corpus health check
    runs (natural text fits slope ~ -1; templated/spammy corpora
    deviate). Exercises the regression aggregate family (regr_slope /
    regr_intercept / regr_r2), each a one-pass map-side-combinable
    moment sketch like corr/covar above.

    Scale: everything after the token aggregation is VOCABULARY-sized
    (Heaps' law: ~n^0.5-0.8, not n) — but at 100 TB web text that is
    still ~1e8 rows of (term, count), so a global rank must NOT be a
    single unpartitioned window (one task sorts the whole vocabulary).
    Instead: two-stage distributed rank. Range-partition the vocabulary
    on the rank ordering (tf DESC, term) into ZIPF_RANK_BUCKETS
    contiguous buckets, collect only the 32 per-bucket COUNTS to the
    driver (same bounded-collect pattern as k-means centroids), turn
    them into cumulative bucket offsets, and rank within each bucket
    with a window PARTITIONED by bucket: global_rank = bucket_offset +
    within-bucket row_number. The vocabulary is localCheckpoint'd first
    because multiple jobs read it (range-boundary sampling plus the
    shuffle write) — without it the corpus-sized tokenize+agg lineage
    would run repeatedly — and the RANGE-PARTITIONED result is
    checkpointed AGAIN so that its sampled boundaries are pinned: the
    bucket-count collect and the ranked scan must see the exact same
    buckets, and repartitionByRange re-samples per action otherwise.
    The regression then reduces to six doubles."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(
            F.split(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " ")
        ).alias("term")
    )
    tf = tok.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.localCheckpoint(eager=True)
    # Materialize the range partitioning ONCE: repartitionByRange samples
    # its boundaries per action (RDD-id-seeded), so without this pin the
    # bucket-count collect below and the final ranked scan could see
    # DIFFERENT buckets whenever a partition exceeds the reservoir sample
    # — silently corrupting the global ranks at scale.
    parted = (
        tf.repartitionByRange(ZIPF_RANK_BUCKETS, F.col("tf").desc(), F.col("term"))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    sizes = {
        r["pid"]: r["n"]
        for r in parted.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(sizes):
        offsets.append((pid, acc))
        acc += sizes[pid]
    off_df = spark.createDataFrame(offsets, "pid int, rank_offset long")
    w_bucket = W.partitionBy("pid").orderBy(F.col("tf").desc(), F.col("term"))
    ranked = parted.join(F.broadcast(off_df), "pid").select(
        "tf",
        (F.row_number().over(w_bucket) + F.col("rank_offset")).alias("rank"),
    )
    ln_tf, ln_rank = F.log(F.col("tf")), F.log(F.col("rank"))
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.round(F.regr_slope(ln_tf, ln_rank), 4).alias("zipf_slope"),
        F.round(F.regr_intercept(ln_tf, ln_rank), 4).alias("zipf_intercept"),
        F.round(F.regr_r2(ln_tf, ln_rank), 4).alias("fit_r2"),
    )


# ---------------------------------------------------------------------------
# Distribution divergence: per-source term entropy + KL vs the corpus.
# ---------------------------------------------------------------------------
@query(
    "stats_source_term_divergence",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split({_NORM_SQL}, ' ')) AS term
      FROM documents
    ),
    src AS (SELECT source, term, count(*) AS c FROM tok GROUP BY 1, 2),
    src_tot AS (SELECT source, sum(c) AS n FROM src GROUP BY 1),
    corp AS (SELECT term, sum(c) AS cc FROM src GROUP BY 1),
    corp_tot AS (SELECT sum(cc) AS nn FROM corp)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_terms,
           round(-sum((c::DOUBLE / n) * ln(c::DOUBLE / n)), 4) AS entropy,
           round(sum((c::DOUBLE / n) * ln((c::DOUBLE / n) / (cc::DOUBLE / nn))), 4)
             AS kl_vs_corpus
    FROM src
    JOIN src_tot USING (source)
    JOIN corp USING (term)
    CROSS JOIN corp_tot
    GROUP BY 1
    """,
)
def stats_source_term_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Shannon entropy of the term distribution and KL
    divergence against the whole-corpus distribution — the data-mixing
    diagnostic for "how different is this source, and how much of the
    mixture's diversity does it carry". KL(source‖corpus) is finite by
    construction: every source term occurs in the corpus.

    Scale: one corpus scan feeds a (source, term) aggregation;
    everything downstream is vocabulary-sized. The per-source and
    corpus marginals both derive from that one aggregate (ReusedExchange
    dedups the scan), the term-key join carries NO broadcast hint (the
    TF-IDF lesson: vocabulary grows with the corpus — AQE may broadcast
    while it is actually small), and the two scalar totals reduce to
    one row each."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode(
            F.split(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " ")
        ).alias("term"),
    )
    src = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    # Marginals as WINDOW sums over the one (source, term) aggregate —
    # no self-joins, so the corpus is tokenized once and everything
    # after is two vocabulary-sized window shuffles. The grand total is
    # the only extra branch (1 row; its partial-agg exchange is
    # runtime-deduped via ReusedExchange).
    corp_tot = src.agg(F.sum("c").alias("nn"))
    m = src.select(
        "source",
        "term",
        "c",
        F.sum("c").over(W.partitionBy("source")).alias("n"),
        F.sum("c").over(W.partitionBy("term")).alias("cc"),
    )
    p = F.col("c").cast("double") / F.col("n")
    q = F.col("cc").cast("double") / F.col("nn")
    return (
        m.join(F.broadcast(corp_tot))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.round(-F.sum(p * F.log(p)), 4).alias("entropy"),
            F.round(F.sum(p * F.log(p / q)), 4).alias("kl_vs_corpus"),
        )
    )


# ---------------------------------------------------------------------------
# Robust statistics: winsorized mean / stddev.
# ---------------------------------------------------------------------------
@query(
    "stats_winsorized_prices",
    oracle="""
    WITH cuts AS (
      SELECT quantile_cont(o_totalprice, 0.01) AS lo,
             quantile_cont(o_totalprice, 0.99) AS hi
      FROM orders
    )
    SELECT CAST(count(*) AS BIGINT)                          AS n_orders,
           round(avg(o_totalprice), 2)                       AS raw_mean,
           round(stddev_samp(o_totalprice), 2)               AS raw_stddev,
           round(avg(least(greatest(o_totalprice, lo), hi)), 2)  AS wins_mean,
           round(stddev_samp(least(greatest(o_totalprice, lo), hi)), 2)
             AS wins_stddev,
           CAST(sum(CASE WHEN o_totalprice < lo OR o_totalprice > hi
                         THEN 1 ELSE 0 END) AS BIGINT)       AS n_clipped
    FROM orders CROSS JOIN cuts
    """,
)
def stats_winsorized_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust order-price statistics: winsorize at the exact
    1st/99th percentiles, then mean/stddev of the clipped values next
    to the raw ones — the robust-moments pattern quality monitoring
    uses so a single corrupt value can't swing the dashboard.

    Two passes by necessity (a cut point is a global order statistic):
    pass 1 reduces the table to ONE 2-value row (exact percentile =
    one sort-based buffer per partition, merged), which joins back
    broadcast — so pass 2 is a scan with a scalar clamp folded into the
    aggregate, no shuffle of the fact table at any point."""
    orders = load_table(spark, sf_dir, "orders")
    cuts = orders.agg(
        F.percentile("o_totalprice", F.lit(0.01)).alias("lo"),
        F.percentile("o_totalprice", F.lit(0.99)).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi"))
    return (
        orders.join(F.broadcast(cuts))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.avg("o_totalprice"), 2).alias("raw_mean"),
            F.round(F.stddev_samp("o_totalprice"), 2).alias("raw_stddev"),
            F.round(F.avg(clipped), 2).alias("wins_mean"),
            F.round(F.stddev_samp(clipped), 2).alias("wins_stddev"),
            F.sum(
                (
                    (F.col("o_totalprice") < F.col("lo"))
                    | (F.col("o_totalprice") > F.col("hi"))
                ).cast("long")
            ).alias("n_clipped"),
        )
    )


# ---------------------------------------------------------------------------
# Cogrouped two-sample comparison: exact Kolmogorov-Smirnov statistic.
# ---------------------------------------------------------------------------
_KS_SCHEMA = "dow int, n_purchase long, n_click long, ks_stat double"


def _ks_fn(left, right):
    import numpy as np

    if len(left) == 0 or len(right) == 0:
        return pd.DataFrame(
            {
                "dow": pd.Series(dtype="int32"),
                "n_purchase": pd.Series(dtype="int64"),
                "n_click": pd.Series(dtype="int64"),
                "ks_stat": pd.Series(dtype="float64"),
            }
        )
    a = np.sort(left["value"].to_numpy(dtype=np.float64))
    b = np.sort(right["value"].to_numpy(dtype=np.float64))
    grid = np.concatenate([a, b])
    # Integer-count formulation: D = max|ca*nb - cb*na| / (na*nb) keeps
    # the maximization exact (no float CDF subtraction), matching the
    # oracle's integer window counts bit-for-bit.
    ca = np.searchsorted(a, grid, side="right").astype(np.int64)
    cb = np.searchsorted(b, grid, side="right").astype(np.int64)
    d = int(np.max(np.abs(ca * len(b) - cb * len(a))))
    return pd.DataFrame(
        [
            {
                "dow": int(left["dow"].iloc[0]),
                "n_purchase": len(a),
                "n_click": len(b),
                "ks_stat": round(d / (len(a) * len(b)), 6),
            }
        ]
    )


@query(
    "stats_ks_purchase_vs_click",
    oracle="""
    WITH pts AS (
      SELECT dayofweek(ts) + 1 AS dow, value, event_type AS t
      FROM events WHERE event_type IN ('purchase', 'click')
    ),
    tot AS (
      SELECT dow,
             sum(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END) AS np,
             sum(CASE WHEN t = 'click' THEN 1 ELSE 0 END)    AS nc
      FROM pts GROUP BY 1
    ),
    cdf AS (
      SELECT dow,
             sum(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END) OVER w AS cp,
             sum(CASE WHEN t = 'click' THEN 1 ELSE 0 END) OVER w    AS cc
      FROM pts
      WINDOW w AS (PARTITION BY dow ORDER BY value
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(dow AS INT) AS dow,
           CAST(np AS BIGINT) AS n_purchase,
           CAST(nc AS BIGINT) AS n_click,
           round(max(abs(cp * nc - cc * np))::DOUBLE / (np * nc), 6) AS ks_stat
    FROM cdf JOIN tot USING (dow)
    WHERE np > 0 AND nc > 0
    GROUP BY dow, np, nc
    """,
)
def stats_ks_purchase_vs_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between purchase
    and click value distributions, per day-of-week — "did the spend
    distribution shift" as a first-class operator. This is the
    ``cogroup().applyInPandas`` surface: two keyed relations aligned
    group-by-group into one Python function (the contract a
    statistical-test or model-eval stage drops into), with the
    RANGE-frame window SQL as the exact relational spec. The pandas
    side maximizes over INTEGER rank counts (D = max|ca*nb - cb*na|),
    so no float CDF subtraction enters the comparison.

    Scale: cogroup shuffles each side once on the group key; each
    group must fit one executor (the applyInPandas contract —
    fine here: groups are bounded day-of-week slices). For unbounded
    groups the fallback IS the oracle's formulation: the RANGE-frame
    running-count window, distributed like any other window."""
    events = load_table(spark, sf_dir, "events")
    dow = F.dayofweek("ts").alias("dow")
    purchases = events.filter(F.col("event_type") == "purchase").select(dow, "value")
    clicks = events.filter(F.col("event_type") == "click").select(dow, "value")
    return (
        purchases.groupBy("dow")
        .cogroup(clicks.groupBy("dow"))
        .applyInPandas(_ks_fn, schema=_KS_SCHEMA)
    )


# ---------------------------------------------------------------------------
# Custom aggregate via GROUPED_AGG pandas_udf: Gini concentration of
# per-type event values (the §2.10 grouped-aggregate UDF surface).
# ---------------------------------------------------------------------------
@query(
    "stats_value_gini_by_type",
    oracle="""
    WITH s AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value, event_id)
               AS i,
             count(*)    OVER (PARTITION BY event_type) AS n,
             sum(value)  OVER (PARTITION BY event_type) AS tot
      FROM events
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_events,
           round(2.0 * sum(i * value) / (max(n) * max(tot))
                 - (max(n) + 1.0) / max(n), 6) AS gini
    FROM s GROUP BY 1
    """,
)
def stats_value_gini_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the value distribution within each event
    type — the inequality/concentration diagnostic ("do a few whale
    purchases carry all revenue"). Implemented as a GROUPED_AGG
    pandas_udf: the custom-aggregate surface (SURVEY §2.10) that
    built-in aggregates don't cover, Arrow-batched per group rather
    than per row, declared by ``pd.Series -> float`` type hints.

    The UDF sorts its group and applies the exact sorted-index
    identity G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n — the same spec the
    oracle states with rank windows, so the two formulations check
    each other. Values are rounded AFTER the deterministic ordered
    summation (ties broken on event_id on both sides... the pandas
    side sorts by value only, which suffices: equal values contribute
    identically to sum(i*x_i) under any permutation of their index
    range, so the tiebreak cannot change the statistic).

    Scale: one shuffle on event_type; each group must fit one executor
    (the GROUPED_AGG contract). For groups beyond that, the oracle's
    rank-window formulation IS the distributed fallback — rank and the
    two sums are ordinary windows/aggregates. Skewed type cardinality
    would use the same salting rewrite as skew.py."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    # Series -> scalar hints make this a grouped-agg UDF. This module
    # uses `from __future__ import annotations`, so pandas_udf resolves
    # the string hints through typing.get_type_hints against the module
    # globals: `pd` must be imported at module level.
    @pandas_udf("double")
    def gini(v: pd.Series) -> float:
        x = np.sort(v.to_numpy(dtype="float64"))
        n = x.size
        if n == 0 or x.sum() == 0:
            return 0.0
        i = np.arange(1, n + 1, dtype="float64")
        return float(2.0 * np.dot(i, x) / (n * x.sum()) - (n + 1.0) / n)

    events = load_table(spark, sf_dir, "events")
    # Spark disallows mixing a GROUPED_AGG pandas UDF with built-in
    # aggregates in one agg(); the count rides a separate tiny
    # aggregation joined back on the |types|-sized result
    g = events.groupBy("event_type").agg(F.round(gini(F.col("value")), 6).alias("gini"))
    n = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    return n.join(g, "event_type").select("event_type", "n_events", "gini")


# ---------------------------------------------------------------------------
# Approximate sketches: HLL++ distinct counting and quantile sketches —
# the fixed-memory path when exact distinct/quantiles stop fitting.
# ---------------------------------------------------------------------------
HLL_RSD = 0.02  # target relative standard deviation for approx distinct


@query(
    "sketch_events_daily",
    # The two estimate columns are estimators, not reproducible scalars
    # a cross-engine oracle can hash (their envelope vs the exact twin
    # is pinned in tests/test_sketches.py) — but the ROW STRUCTURE is
    # deterministic: the partial oracle (VERDICT r9 #6) hash-checks the
    # full day grid and the exact event counts, leaving only
    # approx_users / approx_p50_value under the declared mask.
    partial_oracle="""
    SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_s,
           CAST(count(*) AS BIGINT)                            AS n_events
    FROM events GROUP BY 1
    """,
)
def sketch_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day approximate profile of the event stream: HLL++ distinct
    users (rsd=2%) and t-digest-style approximate value percentiles —
    the PRODUCTION shape, sketches only (rounds 2-5 carried the exact
    twins inline for the envelope, doubling the query's cost with an
    exact count_distinct shuffle + an exact percentile sort; the twins
    live in ``sketch_events_daily_exact`` and the envelope test joins
    the two queries on day_s).

    Scale: these sketches are why 100-TB daily reporting is feasible —
    both carry FIXED-size per-group state (an HLL register array / a
    percentile sketch) that merges associatively map-side, so the
    shuffle moves KB-sized sketches per (day, partition) instead of
    the user-id / value sets the exact forms need, and the plan
    touches each row exactly once."""
    events = load_table(spark, sf_dir, "events")
    day = F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_s")
    return (
        events.groupBy(day)
        .agg(
            F.approx_count_distinct("user_id", rsd=HLL_RSD).alias("approx_users"),
            F.round(F.percentile_approx("value", 0.5, 10_000), 4).alias(
                "approx_p50_value"
            ),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .orderBy("day_s")
    )


@query(
    "sketch_events_daily_exact",
    oracle="""
    SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_s,
           CAST(count(DISTINCT user_id) AS BIGINT)             AS exact_users,
           round(quantile_cont(value, 0.5), 4)                 AS exact_p50_value,
           CAST(count(*) AS BIGINT)                            AS n_events
    FROM events GROUP BY 1
    """,
)
def sketch_events_daily_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact twin of ``sketch_events_daily``, split out so the
    cross-engine correctness gate can hash it: the sketch estimates
    themselves are engine-specific (HLL registers / percentile sketch
    internals), but the exact columns they are benchmarked against are
    plain deterministic SQL. The estimator's error envelope against
    THESE values stays pinned in tests/test_sketches.py; this query
    gives the driver a hashable fixture for the same scan."""
    events = load_table(spark, sf_dir, "events")
    day = F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_s")
    return events.groupBy(day).agg(
        F.count_distinct("user_id").cast("long").alias("exact_users"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("exact_p50_value"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Count-Min Sketch heavy hitters: frequency estimation when the key
# space itself is too large to shuffle.
# ---------------------------------------------------------------------------
CMS_DEPTH = 5  # independent hash rows; overshoot prob ~ e^-depth
CMS_WIDTH = 4096  # counters per row; overshoot <= (e/width) * N w.h.p.
CMS_CANDIDATE_PCT = 4  # doc sample that nominates candidate terms


@query(
    "sketch_heavy_hitter_terms",
    # Partial oracle (VERDICT r10 #4): the candidate nomination (md5
    # doc bucket), the probe term set, and the exact-twin counts all
    # replay in DuckDB; only est_count — the CMS counters, whose
    # values depend on the sketch's xxhash64 family no cross-engine
    # oracle shares — is masked (its never-undercount/bounded-
    # overcount envelope is pinned in tests/test_sketches.py). Row
    # membership is deterministic at the parity SF: the top-200
    # TakeOrdered only binds above ~6x sf0.01's 31 candidates, so the
    # replica compares the full candidate set; at SFs where the limit
    # binds the est-ordered membership is honestly sketch-dependent.
    partial_oracle=f"""
    WITH terms AS (
      SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term
      FROM documents
    ),
    cand AS (
      SELECT DISTINCT term FROM terms
      WHERE (('0x' || substr(md5('cms:' || doc_id::VARCHAR), 1, 8))::BIGINT
             % 100) < {CMS_CANDIDATE_PCT}
    ),
    exact AS (SELECT term, CAST(count(*) AS BIGINT) AS exact_count
              FROM terms GROUP BY term)
    SELECT c.term, e.exact_count
    FROM cand c JOIN exact e ON c.term = e.term
    """,
)
def sketch_heavy_hitter_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated corpus frequencies for candidate heavy-hitter terms
    from a Count-Min sketch built as PLAIN DataFrame ops: the sketch
    is a (depth x width) counter table — ``groupBy(seed,
    pmod(xxhash64(term, seed), width)).count()`` — and a probe is a
    join against it taking ``min(count)`` over the depth rows. Exact
    counts ride alongside so the estimation error is part of the
    output (and pinned by tests: CMS never undercounts, and overshoots
    by at most ~(e/width)*N).

    Scale: this is the frequency query that still works when the term
    space itself is too large to shuffle — the sketch aggregation's
    key space is capped at depth*width (20 Ki counters here) no matter
    the corpus, every counter increment map-side-combines, and the
    probe joins a candidate list against a 20 Ki-row table (broadcast
    by size). Candidates come from a deterministic md5-bucket document
    sample, so reruns nominate identical terms. The exact twin
    (full-vocabulary groupBy) exists only for the envelope; a
    production run drops it and nothing in the plan scales with
    vocabulary size."""
    from benchviz_spark.operators.sampling import hash_bucket
    from benchviz_spark.operators.text_analysis import _tokens

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("term")
    )
    seeds = F.explode(F.array(*[F.lit(i) for i in range(CMS_DEPTH)])).alias(
        "seed"
    )
    keyed = terms.select(
        "term",
        seeds,
    ).select(
        "term",
        "seed",
        F.pmod(F.xxhash64("term", "seed"), F.lit(CMS_WIDTH)).alias("bucket"),
    )
    sketch = keyed.groupBy("seed", "bucket").agg(
        F.count(F.lit(1)).alias("counter")
    )

    candidates = (
        terms.filter(hash_bucket(F.col("doc_id"), "cms:") < CMS_CANDIDATE_PCT)
        .select("term")
        .distinct()
    )
    probe = candidates.select(
        "term", seeds
    ).select(
        "term",
        "seed",
        F.pmod(F.xxhash64("term", "seed"), F.lit(CMS_WIDTH)).alias("bucket"),
    )
    est = (
        probe.join(F.broadcast(sketch), ["seed", "bucket"])
        .groupBy("term")
        .agg(F.min("counter").cast("long").alias("est_count"))
    )
    exact = terms.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    return (
        est.join(exact, "term")
        .orderBy(F.col("est_count").desc(), "term")
        .limit(200)
    )


@query(
    "sketch_heavy_hitter_exact",
    oracle=f"""
    WITH terms AS (
      SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term
      FROM documents
    ),
    cand AS (
      SELECT DISTINCT term FROM terms
      WHERE (('0x' || substr(md5('cms:' || doc_id::VARCHAR), 1, 8))::BIGINT
             % 100) < {CMS_CANDIDATE_PCT}
    ),
    exact AS (
      SELECT term, CAST(count(*) AS BIGINT) AS exact_count
      FROM terms GROUP BY 1
    )
    SELECT c.term, e.exact_count
    FROM cand c JOIN exact e ON c.term = e.term
    ORDER BY e.exact_count DESC, c.term LIMIT 200
    """,
)
def sketch_heavy_hitter_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact twin of ``sketch_heavy_hitter_terms``: the same
    deterministic md5-bucket candidate nomination and the same exact
    full-vocabulary counts, WITHOUT the engine-specific CMS estimate —
    so the cross-engine gate can hash it. The ordering tie-break is on
    (exact_count, term), a deterministic total order, which makes the
    LIMIT a stable top-k (TakeOrdered in the plan, no global sort).
    The CMS overshoot envelope against these counts stays in
    tests/test_sketches.py."""
    from benchviz_spark.operators.sampling import hash_bucket
    from benchviz_spark.operators.text_analysis import _tokens

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    candidates = (
        terms.filter(hash_bucket(F.col("doc_id"), "cms:") < CMS_CANDIDATE_PCT)
        .select("term")
        .distinct()
    )
    exact = terms.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    return (
        candidates.join(exact, "term")
        .orderBy(F.col("exact_count").desc(), "term")
        .limit(200)
    )


# ---------------------------------------------------------------------------
# Chi-square test of independence: market segment x event type.
# ---------------------------------------------------------------------------
@query(
    "stats_chi2_segment_type",
    oracle="""
    WITH ct AS (
      SELECT c.c_mktsegment AS segment, e.event_type,
             CAST(count(*) AS DOUBLE) AS o
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1, 2
    ),
    rm AS (SELECT segment, sum(o) AS rs FROM ct GROUP BY 1),
    cm AS (SELECT event_type, sum(o) AS cs FROM ct GROUP BY 1),
    tot AS (SELECT sum(o) AS n FROM ct),
    grid AS (
      SELECT rm.segment, rm.rs, cm.event_type, cm.cs,
             coalesce(ct.o, 0.0) AS o
      FROM rm CROSS JOIN cm
      LEFT JOIN ct ON ct.segment = rm.segment
                  AND ct.event_type = cm.event_type
    )
    SELECT round(sum((o - rs * cs / n) * (o - rs * cs / n)
                     / (rs * cs / n)), 6)                      AS chi2,
           CAST(((SELECT count(*) FROM rm) - 1)
                * ((SELECT count(*) FROM cm) - 1) AS BIGINT)   AS dof,
           CAST(n AS BIGINT)                                   AS n_events
    FROM grid CROSS JOIN tot
    GROUP BY n
    """,
)
def stats_chi2_segment_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square statistic for independence of customer market
    segment and event type. The observed grid is completed with zero
    cells (a missing (segment, type) pair still contributes its
    expected count), so the statistic is correct even when a cell has
    no events.

    Scale: one fact-side join + aggregation produces the contingency
    table, whose size is |segments| x |types| regardless of event
    count; every downstream step (margins, expected grid, the final
    sum) operates on that tiny table, broadcast-joined. The dimension
    join is unhinted — AQE broadcasts customer while small and
    key-partitions at scale."""
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    ct = (
        events.join(customer, events.user_id == customer.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"), "event_type"
        )
        .agg(F.count(F.lit(1)).cast("double").alias("o"))
    )
    rm = ct.groupBy("segment").agg(F.sum("o").alias("rs"))
    cm = ct.groupBy("event_type").agg(F.sum("o").alias("cs"))
    tot = ct.agg(F.sum("o").alias("n"))
    grid = (
        rm.crossJoin(F.broadcast(cm))
        .join(F.broadcast(ct), ["segment", "event_type"], "left")
        .select("segment", "event_type", "rs", "cs", F.coalesce("o", F.lit(0.0)).alias("o"))
    )
    e = F.col("rs") * F.col("cs") / F.col("n")
    return (
        grid.crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.sum((F.col("o") - e) * (F.col("o") - e) / e), 6).alias("chi2"),
            (
                (F.count_distinct("segment") - 1)
                * (F.count_distinct("event_type") - 1)
            )
            .cast("long")
            .alias("dof"),
            F.sum("o").cast("long").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Mergeable-sketch set algebra: audience overlap from stored HLL state.
# ---------------------------------------------------------------------------
OVERLAP_TYPES = ("purchase", "click")

# One daily-sketch state table per (Spark application, sf_dir) — the
# persisted-sketch-store stand-in. Memoized (same pattern as
# curation.curated_documents) so repeated invocations share ONE
# checkpointed relation instead of each leaving a fresh checkpointed
# RDD persisted for the session lifetime, and lazily checkpointed
# (eager=False) so merely BUILDING the plan — the plan-sweep test, a
# harness listing queries — triggers no job; the scan+sketch
# aggregation runs on the first real action (ADVICE r8).
_DAILY_SKETCH_CACHE: dict[tuple[str, str], DataFrame] = register_cache({})


def _daily_user_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _DAILY_SKETCH_CACHE.get(key)
    if cached is not None:
        return cached
    events = load_table(spark, sf_dir, "events")
    day = F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_s")
    daily = (
        events.filter(F.col("event_type").isin(*OVERLAP_TYPES))
        .groupBy(day, "event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .localCheckpoint(eager=False)
    )
    return memo_put(_DAILY_SKETCH_CACHE, key, daily)


@query(
    "sketch_user_overlap",
    # The four estimate columns are HLL estimators (register contents
    # are engine-specific; the error envelope vs
    # sketch_user_overlap_exact is pinned in tests/test_sketches.py)
    # and stay under the declared mask — but the SKETCH-STORE SHAPE the
    # overlap re-aggregates is deterministic: n_daily_sketches counts
    # the (day, type) state rows, so a day-truncation or type-filter
    # drift fails the hash even though the estimates can't be replayed
    # (VERDICT r11 #5).
    partial_oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_daily_sketches
    FROM (SELECT DISTINCT date_trunc('day', ts), event_type
          FROM events
          WHERE event_type IN ('{OVERLAP_TYPES[0]}', '{OVERLAP_TYPES[1]}'))
    """,
)
def sketch_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate audience overlap between {OVERLAP_TYPES} users via
    MERGEABLE HLL sketches: per-(day, type) sketches are built once at
    the scan (the state a 100-TB pipeline persists at ingest), then
    every question is answered by re-aggregating the KB-sized sketches
    — per-type distinct users via hll_union_agg over days, the union
    audience via hll_union_agg over everything, and the intersection
    by inclusion-exclusion (|A ∩ B| = |A| + |B| - |A ∪ B|). This is
    the capability approx_count_distinct alone does NOT give: set
    algebra across segments without re-touching raw rows.

    Scale: one event scan builds the daily sketch table (fixed-size
    state per group, merged map-side); the overlap computation then
    reads days x 2 sketch rows — corpus-independent. The raw user-id
    column never shuffles. Both consumers below re-aggregate the
    memoized checkpointed sketch state (``_daily_user_sketches``),
    not the raw scan."""
    daily = _daily_user_sketches(spark, sf_dir)
    per_type = (
        daily.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n"))
    )
    a = per_type.filter(F.col("event_type") == OVERLAP_TYPES[0]).select(
        F.col("n").alias("approx_a_users")
    )
    b = per_type.filter(F.col("event_type") == OVERLAP_TYPES[1]).select(
        F.col("n").alias("approx_b_users")
    )
    union = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_union_users")
    )
    nrows = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_daily_sketches")
    )
    return (
        a.crossJoin(F.broadcast(b))  # 1-row x 1-row scalar spread
        .crossJoin(F.broadcast(union))
        .crossJoin(F.broadcast(nrows))
        .select(
            "n_daily_sketches",
            "approx_a_users",
            "approx_b_users",
            "approx_union_users",
            (
                F.col("approx_a_users")
                + F.col("approx_b_users")
                - F.col("approx_union_users")
            ).alias("approx_overlap_users"),
        )
    )


@query(
    "sketch_user_overlap_exact",
    oracle=f"""
    SELECT CAST(count(DISTINCT CASE WHEN event_type = '{OVERLAP_TYPES[0]}'
                 THEN user_id END) AS BIGINT) AS exact_a_users,
           CAST(count(DISTINCT CASE WHEN event_type = '{OVERLAP_TYPES[1]}'
                 THEN user_id END) AS BIGINT) AS exact_b_users,
           CAST(count(DISTINCT CASE WHEN event_type IN
                 ('{OVERLAP_TYPES[0]}', '{OVERLAP_TYPES[1]}')
                 THEN user_id END) AS BIGINT) AS exact_union_users,
           CAST(count(DISTINCT CASE WHEN event_type = '{OVERLAP_TYPES[0]}'
                 THEN user_id END)
              + count(DISTINCT CASE WHEN event_type = '{OVERLAP_TYPES[1]}'
                 THEN user_id END)
              - count(DISTINCT CASE WHEN event_type IN
                 ('{OVERLAP_TYPES[0]}', '{OVERLAP_TYPES[1]}')
                 THEN user_id END) AS BIGINT) AS exact_overlap_users
    FROM events
    """,
)
def sketch_user_overlap_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact twin of ``sketch_user_overlap`` (same inclusion-exclusion
    identity over exact distinct counts), split out so the cross-engine
    gate can hash it — one pass, three conditional count-distincts."""
    events = load_table(spark, sf_dir, "events")
    in_a = F.when(F.col("event_type") == OVERLAP_TYPES[0], F.col("user_id"))
    in_b = F.when(F.col("event_type") == OVERLAP_TYPES[1], F.col("user_id"))
    in_ab = F.when(
        F.col("event_type").isin(*OVERLAP_TYPES), F.col("user_id")
    )
    return events.agg(
        F.count_distinct(in_a).cast("long").alias("exact_a_users"),
        F.count_distinct(in_b).cast("long").alias("exact_b_users"),
        F.count_distinct(in_ab).cast("long").alias("exact_union_users"),
        (
            F.count_distinct(in_a)
            + F.count_distinct(in_b)
            - F.count_distinct(in_ab)
        )
        .cast("long")
        .alias("exact_overlap_users"),
    )


# ---------------------------------------------------------------------------
# Closed-form HLL: the same audience-overlap set algebra, but with the
# sketch itself spelled out (md5-derived registers, p=12) so BOTH
# engines can compute identical register state — the fully
# oracle-paired sibling of ``sketch_user_overlap``, whose
# hll_sketch_agg registers are Spark-internal and hence rows-only.
# ---------------------------------------------------------------------------
HLL_P = 12
HLL_M = 1 << HLL_P  # 4096 registers
HLL_W = 60 - HLL_P  # remaining hash bits after the register index
HLL_RMAX = HLL_W + 1  # rho when the 48-bit remainder is all zeros
_HLL_POW = float(1 << HLL_RMAX)  # 2^49, exact in double


def _hll_oracle_estimate(regs_table: str, alias: str) -> str:
    """DuckDB SQL fragment: one-row HLL estimate from a (idx, mj)
    register relation. Integer-exact register sum (each register
    contributes 2^(RMAX-mj), a bigint), then the standard alpha_m
    estimator with the small-range linear-counting correction — the
    only float ops are a division by the exact power 2^49, one
    deterministic alpha expression, and (in the small-range branch)
    one ln(), all identical IEEE arithmetic in both engines before
    the final round(..., 3)."""
    return f"""
    SELECT round(CASE WHEN e_raw <= 2.5 * {HLL_M} AND v > 0
                      THEN {HLL_M} * ln({HLL_M} / CAST(v AS DOUBLE))
                      ELSE e_raw END, 3) AS {alias}
    FROM (
      SELECT (0.7213 / (1 + 1.079 / {HLL_M})) * {HLL_M} * {HLL_M}
               / (s / {_HLL_POW!r} + v) AS e_raw,
             v
      FROM (
        SELECT sum(CAST(1 AS BIGINT) << ({HLL_RMAX} - mj)) AS s,
               {HLL_M} - count(*) AS v
        FROM {regs_table}
      )
    )
    """


def _hll_spark_estimate(regs: DataFrame, alias: str) -> DataFrame:
    """Spark twin of ``_hll_oracle_estimate`` — same integer register
    sum, same estimator arithmetic, same rounding."""
    agg = regs.agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_RMAX} - mj)")
        ).alias("s"),
        (F.lit(HLL_M) - F.count("*")).alias("v"),
    )
    alpha = 0.7213 / (1 + 1.079 / HLL_M)
    e_raw = F.lit(alpha) * HLL_M * HLL_M / (F.col("s") / F.lit(_HLL_POW) + F.col("v"))
    est = F.when(
        (e_raw <= 2.5 * HLL_M) & (F.col("v") > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("v").cast("double")),
    ).otherwise(e_raw)
    return agg.select(F.round(est, 3).alias(alias))


@query(
    "sketch_user_overlap_closed",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
      FROM events
      WHERE event_type IN ('{OVERLAP_TYPES[0]}', '{OVERLAP_TYPES[1]}')
    ),
    rho AS (
      SELECT event_type, h % {HLL_M} AS idx,
             CASE WHEN h // {HLL_M} = 0 THEN {HLL_RMAX}
                  ELSE {HLL_RMAX} - length(bin(h // {HLL_M})) END AS rho
      FROM h
    ),
    regs AS (
      SELECT event_type, idx, max(rho) AS mj FROM rho GROUP BY 1, 2
    ),
    regs_a AS (SELECT idx, mj FROM regs
               WHERE event_type = '{OVERLAP_TYPES[0]}'),
    regs_b AS (SELECT idx, mj FROM regs
               WHERE event_type = '{OVERLAP_TYPES[1]}'),
    regs_u AS (SELECT idx, max(mj) AS mj FROM regs GROUP BY 1),
    ea AS ({_hll_oracle_estimate('regs_a', 'approx_a_users')}),
    eb AS ({_hll_oracle_estimate('regs_b', 'approx_b_users')}),
    eu AS ({_hll_oracle_estimate('regs_u', 'approx_union_users')})
    SELECT approx_a_users, approx_b_users, approx_union_users,
           round(approx_a_users + approx_b_users - approx_union_users, 3)
             AS approx_overlap_users
    FROM ea, eb, eu
    """,
)
def sketch_user_overlap_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap via a CLOSED-FORM HyperLogLog (p=12): register
    index = md5-hash % 4096, rho = leading zeros of the remaining 48
    bits + 1, per-type registers merged register-wise (max) into the
    union sketch, estimates by the standard alpha_m formula with the
    linear-counting small-range branch, overlap by inclusion-exclusion.
    Functionally the same question as ``sketch_user_overlap``; split
    out because hll_sketch_agg's register encoding is Spark-internal,
    while this register state is engine-neutral arithmetic that DuckDB
    replays bit-exactly — closing the sketch family's last rows-only
    gap (VERDICT r10: partial/no-oracle list).

    Scale design: identical to the hll_sketch_agg twin — the raw
    user_id column never shuffles (rho is computed scan-side; the
    exchange carries at most 2 x 4096 (type, idx, rho) rows per task
    thanks to map-side partial max), the union sketch is derived from
    the 8192-row register relation by a register-wise max (the
    mergeability property, demonstrated rather than asserted), and
    each estimate is a one-row aggregate over fixed-size state. The
    register relation is lazily checkpointed so the three estimator
    branches share one scan.

    Estimator notes: the register sum is accumulated as an INTEGER
    (sum of 2^(49-mj) <= 2^60, exact and order-independent in int64)
    and divided by 2^49 once at the end, so cross-engine float
    determinism rests only on IEEE division/multiplication and one
    ln() — rounded to 3 decimals on both sides. The 48-bit-space
    large-range correction is omitted (it engages near 2^48/30
    distinct users; the register width, not the formula, is what
    you'd revisit first at that cardinality)."""
    events = load_table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    hashed = (
        events.filter(F.col("event_type").isin(*OVERLAP_TYPES))
        .select("event_type", h.alias("h"))
    )
    r = F.expr(f"h div {HLL_M}")
    rho = F.when(r == 0, F.lit(HLL_RMAX)).otherwise(
        F.lit(HLL_RMAX) - F.length(F.bin(r))
    )
    regs = (
        hashed.select(
            "event_type",
            F.pmod(F.col("h"), F.lit(HLL_M)).alias("idx"),
            rho.alias("rho"),
        )
        .groupBy("event_type", "idx")
        .agg(F.max("rho").alias("mj"))
        .localCheckpoint(eager=False)
    )
    ea = _hll_spark_estimate(
        regs.filter(F.col("event_type") == OVERLAP_TYPES[0]), "approx_a_users"
    )
    eb = _hll_spark_estimate(
        regs.filter(F.col("event_type") == OVERLAP_TYPES[1]), "approx_b_users"
    )
    eu = _hll_spark_estimate(
        regs.groupBy("idx").agg(F.max("mj").alias("mj")), "approx_union_users"
    )
    return (
        ea.crossJoin(F.broadcast(eb))  # 1-row x 1-row scalar spread
        .crossJoin(F.broadcast(eu))
        .select(
            "approx_a_users",
            "approx_b_users",
            "approx_union_users",
            F.round(
                F.col("approx_a_users")
                + F.col("approx_b_users")
                - F.col("approx_union_users"),
                3,
            ).alias("approx_overlap_users"),
        )
    )


# ---------------------------------------------------------------------------
# Distribution drift: PSI between the first and second half of the stream.
# ---------------------------------------------------------------------------
PSI_BUCKETS = 10
PSI_WIDTH = 50.0  # fixed value-bucket width; bucket 9 is open-ended


@query(
    "stats_value_psi",
    oracle=f"""
    WITH ev AS (
      SELECT event_type, value,
             CAST(floor(epoch(ts)) AS BIGINT) AS s
      FROM events
    ),
    mid AS (
      SELECT (min(s) + max(s)) // 2 AS mid_s FROM ev
    ),
    bucketed AS (
      SELECT event_type,
             least({PSI_BUCKETS - 1},
                   CAST(floor(value / {PSI_WIDTH}) AS BIGINT)) AS bucket,
             CASE WHEN s <= (SELECT mid_s FROM mid) THEN 1 ELSE 0 END AS is_ref
      FROM ev
    ),
    spine AS (
      SELECT t.event_type, b.bucket
      FROM (SELECT DISTINCT event_type FROM ev) t
      CROSS JOIN (SELECT unnest(range({PSI_BUCKETS})) AS bucket) b
    ),
    counts AS (
      SELECT s.event_type, s.bucket,
             coalesce(sum(c.is_ref), 0) AS ref_n,
             coalesce(sum(1 - c.is_ref), 0) AS cur_n
      FROM spine s
      LEFT JOIN bucketed c
        ON c.event_type = s.event_type AND c.bucket = s.bucket
      GROUP BY s.event_type, s.bucket
    ),
    tot AS (
      SELECT event_type, sum(ref_n) AS ref_t, sum(cur_n) AS cur_t
      FROM counts GROUP BY event_type
    )
    SELECT c.event_type,
           round(sum(
             ((c.ref_n + 1)::DOUBLE / (t.ref_t + {PSI_BUCKETS})
              - (c.cur_n + 1)::DOUBLE / (t.cur_t + {PSI_BUCKETS}))
             * ln(((c.ref_n + 1)::DOUBLE / (t.ref_t + {PSI_BUCKETS}))
                  / ((c.cur_n + 1)::DOUBLE / (t.cur_t + {PSI_BUCKETS})))
           ), 6) AS psi,
           CAST(max(t.ref_t) AS BIGINT) AS ref_events,
           CAST(max(t.cur_t) AS BIGINT) AS cur_events
    FROM counts c JOIN tot t USING (event_type)
    GROUP BY c.event_type
    """,
)
def stats_value_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event-value distribution,
    first half of the stream (by the midpoint of the observed time
    range) vs the second, per event type — THE standard drift monitor
    a data pipeline runs on every feature before a training snapshot
    ships (rule of thumb: psi < 0.1 stable, > 0.25 drifted).
    Laplace-smoothed (+1 per bucket) so empty buckets contribute a
    finite, engine-exact term.

    Scale: one scan buckets every event (fixed width-{PSI_WIDTH}
    buckets, integer-exact floor on an IEEE division both engines
    round identically); the midpoint enters as a 1-row broadcast
    scalar (the layout_zorder bounds pattern); everything after the
    (type, bucket) count — a {PSI_BUCKETS} x types cell space — is
    constant-sized. The dense bucket spine is types x {PSI_BUCKETS}
    rows built from a distinct-types aggregate, never broadcast-hinted
    corpus data."""
    events = load_table(spark, sf_dir, "events")
    ev = events.select(
        "event_type",
        "value",
        F.unix_timestamp("ts").alias("s"),
    )
    mid = ev.agg(
        ((F.min("s") + F.max("s")) / 2).cast("long").alias("mid_s")
    )
    bucket = F.least(
        F.lit(PSI_BUCKETS - 1),
        F.floor(F.col("value") / PSI_WIDTH).cast("long"),
    )
    bucketed = (
        ev.crossJoin(F.broadcast(mid))
        .select(
            "event_type",
            bucket.alias("bucket"),
            (F.col("s") <= F.col("mid_s")).cast("long").alias("is_ref"),
        )
    )
    spine = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(PSI_BUCKETS - 1))).alias(
                "bucket"
            ),
        )
        .select("event_type", F.col("bucket").cast("long").alias("bucket"))
    )
    counts = (
        spine.join(bucketed, ["event_type", "bucket"], "left")
        .groupBy("event_type", "bucket")
        .agg(
            F.coalesce(F.sum("is_ref"), F.lit(0)).alias("ref_n"),
            F.coalesce(F.sum(1 - F.col("is_ref")), F.lit(0)).alias("cur_n"),
        )
    )
    tw = W.partitionBy("event_type")
    p = (F.col("ref_n") + 1) / (F.sum("ref_n").over(tw) + PSI_BUCKETS)
    q = (F.col("cur_n") + 1) / (F.sum("cur_n").over(tw) + PSI_BUCKETS)
    return (
        counts.select(
            "event_type",
            ((p - q) * F.log(p / q)).alias("term"),
            F.sum("ref_n").over(tw).alias("ref_t"),
            F.sum("cur_n").over(tw).alias("cur_t"),
        )
        .groupBy("event_type")
        .agg(
            F.round(F.sum("term"), 6).alias("psi"),
            F.max("ref_t").cast("long").alias("ref_events"),
            F.max("cur_t").cast("long").alias("cur_events"),
        )
    )
