"""Custom operators Spark lacks natively: as-of join and range join
(SURVEY task spec: "when the reference has an operator Spark lacks —
compose existing ops if semantics allow, else applyInPandas").

- :func:`asof_join_events` — per-group ``pd.merge_asof`` inside
  ``applyInPandas`` (the grouped-map strategy); the DuckDB oracle uses
  its native ``ASOF JOIN``, so two entirely different implementations
  must agree row-for-row.
- :func:`range_join_tiers` — range join against a *static* tier
  table, compiled to a map-side CASE projection (no join node at
  all). At scale with a *large* range side you'd bucketize the range
  key and equi-join on bucket + residual filter.
- :func:`median_value_by_type` — exact percentile parity
  (Spark ``percentile`` ≡ DuckDB ``quantile_cont``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdftotext_spark.sources.shipping import trim_import_caches

ASOF_LEFT_TYPE = "click"
ASOF_RIGHT_TYPE = "purchase"


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _asof_group(pdf: pd.DataFrame) -> pd.DataFrame:
    trim_import_caches()
    left = (
        pdf[pdf["event_type"] == ASOF_LEFT_TYPE]
        .sort_values(["ts", "event_id"])
        .reset_index(drop=True)
    )
    right = (
        pdf[pdf["event_type"] == ASOF_RIGHT_TYPE]
        .sort_values(["ts", "event_id"])
        .reset_index(drop=True)
    )
    if left.empty:
        return pd.DataFrame(
            columns=["user_id", "event_id", "ts", "prior_purchase_id", "prior_purchase_value"]
        )
    merged = pd.merge_asof(
        left[["user_id", "event_id", "ts"]],
        right[["ts", "event_id", "value"]].rename(
            columns={"event_id": "prior_purchase_id", "value": "prior_purchase_value"}
        ),
        on="ts",
        direction="backward",
        allow_exact_matches=True,
    )
    return merged[
        ["user_id", "event_id", "ts", "prior_purchase_id", "prior_purchase_value"]
    ]


def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every click: the most recent purchase (same user) at or
    before it — the as-of join Spark lacks natively, expressed
    entirely JVM-side: union both event streams, one window per user
    ordered ``(ts, purchase-before-click, event_id)``, and
    ``last(..., ignorenulls)`` carries the latest purchase forward.
    One shuffle + sort, whole-stage codegen, no Python worker.

    Ordering ties match ``pd.merge_asof(direction='backward',
    allow_exact_matches=True)``: a purchase at the same timestamp as a
    click is visible to it, and among equal-ts purchases the highest
    event_id wins (the asof 'last position ≤' rule).

    :func:`asof_join_events_pandas` keeps the grouped
    ``applyInPandas(merge_asof)`` formulation (the custom-operator
    escape hatch); a pytest asserts both produce identical rows."""
    from pyspark.sql import Window

    events = _read(spark, sf_dir, "events").filter(
        F.col("event_type").isin(ASOF_LEFT_TYPE, ASOF_RIGHT_TYPE)
    )
    is_click = (F.col("event_type") == ASOF_LEFT_TYPE).cast("int")
    tagged = events.select(
        "user_id",
        "event_id",
        "ts",
        is_click.alias("is_click"),
        F.when(F.col("event_type") == ASOF_RIGHT_TYPE, F.col("event_id"))
        .alias("p_id"),
        F.when(F.col("event_type") == ASOF_RIGHT_TYPE, F.col("value"))
        .alias("p_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_click", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.select(
            "user_id",
            "event_id",
            "is_click",
            F.last("p_id", ignorenulls=True).over(w).alias("prior_purchase_id"),
            F.round(
                F.last("p_value", ignorenulls=True).over(w), 4
            ).alias("prior_purchase_value"),
        )
        .filter(F.col("is_click") == 1)
        .drop("is_click")
    )


def asof_join_events_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped ``applyInPandas(merge_asof)`` formulation of
    :func:`asof_join_events` — per-group state never leaves one
    partition, so the plan is one shuffle on the group key regardless
    of total size. Retained as the custom-stateful-operator pattern
    demo and as an independent implementation the JVM window version
    is tested against."""
    from pdftotext_spark.sources.shipping import ship_package

    ship_package(spark)
    events = _read(spark, sf_dir, "events").filter(
        F.col("event_type").isin(ASOF_LEFT_TYPE, ASOF_RIGHT_TYPE)
    )
    out = events.groupBy("user_id").applyInPandas(
        _asof_group,
        "user_id long, event_id long, ts timestamp, "
        "prior_purchase_id long, prior_purchase_value double",
    )
    return out.select(
        "user_id",
        "event_id",
        "prior_purchase_id",
        F.round("prior_purchase_value", 4).alias("prior_purchase_value"),
    )


ASOF_JOIN_EVENTS_SQL = f"""
SELECT c.user_id,
       c.event_id,
       p.event_id AS prior_purchase_id,
       ROUND(p.value, 4) AS prior_purchase_value
FROM (SELECT * FROM events WHERE event_type = '{ASOF_LEFT_TYPE}') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = '{ASOF_RIGHT_TYPE}') p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


TIERS = ((0.0, 100.0, "low"), (100.0, 500.0, "mid"), (500.0, 10_000.0, "high"))


def range_join_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: events × value tiers on ``lo <= value < hi``.

    The tier table is *static and non-overlapping*, so the range join
    compiles to a map-side CASE projection — zero join nodes, the scan
    feeds whole-stage codegen directly, and the only shuffle is the
    3-group rollup. (A general range join against a dynamic dim would
    broadcast + BETWEEN, or bucketize the range key for a big range
    side; the oracle SQL keeps the definitional join form.)"""
    events = _read(spark, sf_dir, "events")
    tier_col = None
    for lo, hi, name in TIERS:
        cond = (F.col("value") >= lo) & (F.col("value") < hi)
        tier_col = F.when(cond, name) if tier_col is None else tier_col.when(cond, name)
    return (
        events.withColumn("tier", tier_col)
        .filter(F.col("tier").isNotNull())  # inner-join semantics
        .groupBy("tier")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


_TIERS_SQL = " UNION ALL ".join(
    f"SELECT {lo} AS lo, {hi} AS hi, '{t}' AS tier" for lo, hi, t in TIERS
)

RANGE_JOIN_TIERS_SQL = f"""
WITH tiers AS ({_TIERS_SQL})
SELECT tier,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events JOIN tiers ON value >= lo AND value < hi
GROUP BY tier
"""


def median_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median per event type (Spark `percentile` ≡ DuckDB
    `quantile_cont`: same linear-interpolation definition)."""
    events = _read(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("median_value"),
        F.count("*").cast("long").alias("n_events"),
    )


MEDIAN_VALUE_BY_TYPE_SQL = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 4) AS median_value,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""
