"""Gap-based sessionization — W1-W3 from SURVEY.md §2.5 (batch form).

Reference semantics (streams/stream.py:340-349): per video, if
``frame_number - last_seen > GAP`` the previous session is finalized and
a new one starts.  The gap is in the *sequence-number domain*, not time —
a jump of exactly GAP does NOT close the session; GAP+1 does (boundary
pinned by FIXTURES.md §1 pattern 3).

Batch translation is the classic lag → gap-flag → running-sum pattern:
one shuffle on the key, everything else sorted within partitions.  The
streaming twin (exact same semantics, arbitrary state) is
streaming/stateful_pipeline.py's `fold_sessions`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_GAP = 300  # reference stream.py:343 — "generous" frame-number gap


def with_session_id(
    df: DataFrame,
    key: str,
    seq: str,
    gap: int = DEFAULT_GAP,
    session_col: str = "session_id",
) -> DataFrame:
    """Assign a per-key 1-based session id using the strict-`>` gap rule."""
    w = Window.partitionBy(key).orderBy(seq)
    prev = F.lag(F.col(seq)).over(w)
    new_session = (prev.isNull() | ((F.col(seq) - prev) > F.lit(gap))).cast("int")
    running = F.sum(new_session).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(session_col, running.cast("long"))


def session_stats(
    sessions: DataFrame,
    key: str,
    seq: str,
    has_fire: str = "has_fire",
    fire_probability: str = "fire_probability",
    session_col: str = "session_id",
) -> DataFrame:
    """W3 — the completion-event summary per closed session
    (streams/stream.py:234-249): total frames, fire count, max fire
    probability (0.0 when no fires), plus the session's seq bounds.

    Partial aggregation (map-side combine) is automatic; the groupBy
    reuses the sessionization shuffle key prefix, so AQE can often
    satisfy it without a second full shuffle.
    """
    return sessions.groupBy(key, session_col).agg(
        F.count(F.lit(1)).alias("total_frames"),
        F.sum(F.col(has_fire).cast("long")).alias("fire_count"),
        F.max(F.col(fire_probability)).alias("max_fire_probability"),
        F.min(seq).alias("first_seq"),
        F.max(seq).alias("last_seq"),
    )
