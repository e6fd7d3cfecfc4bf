"""The reference's compare feature (SURVEY §2.3 J1) as engine operators.

``plot.html``'s compare-two-tests flow aligns two sparse time series on
date with exactly full-outer-join null semantics
(generate_benchmark_plot.js:129-180: probe by date, fill the new
column, append a null-padded row when the date is new). Generalized
here to (a) a reusable two-sided aligner and (b) the k-way pivot form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from benchviz_spark.registry import query
from benchviz_spark.sources.tables import load_table


def align_series(
    left: DataFrame, right: DataFrame, on: str, lsuffix: str = "_a", rsuffix: str = "_b"
) -> DataFrame:
    """Full-outer alignment of two (key, metric...) series: one row per
    key, nulls where a side has no observation — the invariant the
    reference states as "a chart only has one row per date"
    (generate_benchmark_plot.js:143).

    Output columns: ``on``, then the left's other columns suffixed
    ``lsuffix``, then the right's suffixed ``rsuffix``, each side in its
    input order. A USING join already emits exactly that order (the
    coalesced key, the left's columns, the right's), so one positional
    ``toDF`` names them. Over two one-partition inputs sorted on ``on``
    (``point_lookup``'s output) the sort-merge join plans no Exchange."""
    lcols = [c + lsuffix for c in left.columns if c != on]
    rcols = [c + rsuffix for c in right.columns if c != on]
    return left.join(right, on=on, how="full_outer").toDF(on, *lcols, *rcols)


def pivot_series(
    df: DataFrame, key: str, series: str, value: F.Column, series_values: list[str]
) -> DataFrame:
    """k-way compare: one row per key, one column per series member —
    the chart-table shape (generate_benchmark_plot.js:166-180). Passing
    ``series_values`` explicitly keeps the pivot single-pass (no
    distinct-values pre-scan) and the output schema stable."""
    return df.groupBy(key).pivot(series, series_values).agg(value)


@query(
    "compare_event_type_series",
    oracle="""
    SELECT
      CAST(date_trunc('day', ts) AS DATE) AS day,
      round(sum(CASE WHEN event_type = 'click' THEN value END), 2)    AS click,
      round(sum(CASE WHEN event_type = 'view' THEN value END), 2)     AS view,
      round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
      round(sum(CASE WHEN event_type = 'signup' THEN value END), 2)   AS signup,
      round(sum(CASE WHEN event_type = 'error' THEN value END), 2)    AS error
    FROM events
    GROUP BY 1
    """,
)
def compare_event_type_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference J1 at k=5: five daily series pivoted wide, sparse cells
    null — exactly the compare-chart table."""
    events = load_table(spark, sf_dir, "events")
    daily = events.select(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
        "event_type",
        "value",
    )
    return pivot_series(
        daily,
        key="day",
        series="event_type",
        value=F.round(F.sum("value"), 2),
        series_values=["click", "view", "purchase", "signup", "error"],
    )


@query(
    "explode_user_type_matrix",
    oracle="""
    SELECT user_id, event_type, count(*) AS n
    FROM events
    GROUP BY user_id, event_type
    """,
)
def explode_user_type_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference F7 (map un-nesting): build the nested map shape the
    reference stores (key -> stats), then explode it back to rows. The
    round-trip result equals the flat aggregation, which is what the
    oracle checks. NOTE: the map build costs a second shuffle the flat
    aggregation doesn't need — this query is deliberately the
    round-trip demo; use the plain groupBy when you only need counts."""
    events = load_table(spark, sf_dir, "events")
    nested = (
        events.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("user_id")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("event_type", "n")))
            ).alias("by_type")
        )
    )
    exploded = nested.select(
        "user_id", F.explode(F.col("by_type")).alias("event_type", "n")
    )
    return exploded


@query(
    "json_props_extraction",
    oracle="""
    SELECT
      event_id,
      CAST(json_extract(props, '$.k') AS INT) AS prop_k
    FROM events
    WHERE event_id < 1000
    """,
)
def json_props_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference §2.8 JSON functions: parse the semi-structured props
    column (from_json / get_json_object — JVM-side, no UDF)."""
    events = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )
