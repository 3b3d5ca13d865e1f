"""Sessionization: gap-based sessions over an event stream.

The classic lag+cumsum window composition (pure JVM, two window passes
over one shuffle by user).  The reference has no session semantics — this
is part of the large-scale pipeline operator set layered on top
(SURVEY.md §2.5).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F


def sessionize(events, user_col: str = "user_id", ts_col: str = "ts",
               gap_minutes: int = 30):
    """Assign session ids: a new session starts when the gap from the
    previous event of the same user exceeds `gap_minutes`.  One shuffle on
    user_col; both windows reuse the same partitioning."""
    w = W.partitionBy(user_col).orderBy(ts_col)
    gap = F.unix_timestamp(ts_col) - F.unix_timestamp(F.lag(ts_col).over(w))
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    return events.withColumn("_new", is_new).withColumn(
        "session_seq", F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, 0))
    ).drop("_new")


def session_stats(events, user_col: str = "user_id", ts_col: str = "ts",
                  gap_minutes: int = 30):
    """Per-session aggregates: events per session + span seconds."""
    s = sessionize(events, user_col, ts_col, gap_minutes)
    return (
        s.groupBy(user_col, "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            (F.unix_timestamp(F.max(ts_col)) - F.unix_timestamp(F.min(ts_col))).alias("span_sec"),
        )
    )
