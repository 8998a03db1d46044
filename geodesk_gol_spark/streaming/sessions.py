"""Gap-based sessionization in batch SQL.

A session is a maximal run of a user's events with inter-event gaps
≤ ``gap``; the built-in tumbling/sliding windows cannot express it.
The batch form is lag + a running sum of session breaks, two windows and
one aggregate, all partitioned by user_id (one shuffle).  The same SQL
text runs in Spark and in DuckDB, so DuckDB is its oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

GAP_US_DEFAULT = 1_800_000_000  # 30 min in microseconds


def sql_sessionize(events: str, d: str, gap_us: int = GAP_US_DEFAULT) -> str:
    """Dialect-shared batch sessionization (the oracle form)."""
    # parquet timestamps load as TIMESTAMP_NTZ in Spark; session TZ is
    # pinned UTC, so the cast is the identity instant in both engines
    us = ("unix_micros(CAST(ts AS TIMESTAMP))" if d == "spark"
          else "epoch_us(ts)")
    return f"""
    WITH e AS (
      SELECT user_id, event_id, {us} AS t,
             lag({us}) OVER (PARTITION BY user_id
                             ORDER BY {us}, event_id) AS prev
      FROM {events}
    ),
    m AS (
      SELECT user_id, event_id, t,
             CASE WHEN prev IS NULL OR t - prev > {gap_us}
                  THEN 1 ELSE 0 END AS brk
      FROM e
    ),
    s AS (
      SELECT user_id, t,
             sum(brk) OVER (PARTITION BY user_id
                            ORDER BY t, event_id) AS sess
      FROM m
    )
    SELECT user_id, CAST(sess AS INT) AS session_seq,
           CAST(count(*) AS BIGINT) AS n_events,
           min(t) AS start_us, max(t) AS end_us
    FROM s GROUP BY user_id, sess
    """


def sessionize_batch(events: DataFrame,
                     gap_us: int = GAP_US_DEFAULT) -> DataFrame:
    spark = events.sparkSession
    events.createOrReplaceTempView("_sess_events")
    return spark.sql(sql_sessionize("_sess_events", "spark", gap_us))

