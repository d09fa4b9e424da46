"""Event-time windowed aggregation (§2.10 / build brief: "windowed aggs").

One batch plan: one-hour tumbling windows on the ``ts`` column per
event_type. ``__spark_entry__``'s q31 query runs it over the ``events``
table and oracles it against DuckDB ``date_trunc('hour', ts)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

WINDOW = "1 hour"


def windowed_event_stats(events: DataFrame) -> DataFrame:
    """Tumbling event-time windows per event_type: row count + value cents.

    A plain groupBy on the window expression (shuffles once, map-side
    partial agg).
    """
    return (
        events.groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )
