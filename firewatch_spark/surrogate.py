"""Deterministic surrogate model — the oracle-testable stand-in for torch.

The reference's extensibility point is the model-backend contract
`predict(frame) -> dict` (streams/models/dispatcher.py:34-87).  For
correctness testing we replace the DenseNet/YOLO backends with a pure
arithmetic function of the row key, so every downstream semantic —
threshold (fire_detect_nn.py:132, `>=`), probability zeroing (:169),
full-frame bbox synthesis (:155-165) — is exactly replayable in ANSI SQL
by the DuckDB oracle (FIXTURES.md §2).

The hash is a Knuth multiplicative hash on the integer sequence key:

    raw = ((seq * 2654435761) % 10000) / 10000.0

64-bit signed math, identical in Spark and DuckDB; the division of exact
integers yields the identically-rounded IEEE double in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

KNUTH = 2654435761  # 2^32 * golden ratio, classic multiplicative hash
MOD = 10000
DEFAULT_THRESHOLD = 0.5  # reference config.py:30 CONFIDENCE_THRESHOLD


def raw_probability(seq: Column) -> Column:
    """Deterministic pseudo-probability in [0, 1) from an integer key."""
    return (seq.cast("long") * F.lit(KNUTH) % F.lit(MOD)) / F.lit(float(MOD))


def has_fire(raw: Column, threshold: float = DEFAULT_THRESHOLD) -> Column:
    """Threshold predicate — `>=`, matching fire_detect_nn.py:132 (P3)."""
    return raw >= F.lit(threshold)


def fire_probability(raw: Column, threshold: float = DEFAULT_THRESHOLD) -> Column:
    """Probability zeroing projection (P6): reported prob is 0.0 below
    threshold (fire_detect_nn.py:129-130,169)."""
    return F.when(has_fire(raw, threshold), raw).otherwise(F.lit(0.0))


def no_fire_probability(raw: Column) -> Column:
    """`1 - raw` (fire_detect_nn.py:173)."""
    return F.lit(1.0) - raw


def synth_detection(
    fire: Column, confidence: Column, width: Column, height: Column
) -> Column:
    """Full-frame bbox synthesis (P7, fire_detect_nn.py:155-165): the
    classifier backend has no boxes, so a positive frame gets one
    detection covering the whole frame; negatives get an empty list."""
    det = F.struct(
        F.array(F.lit(0), F.lit(0), width.cast("int"), height.cast("int")).alias("bbox"),
        confidence.alias("confidence"),
        F.lit("fire").alias("class"),
        F.lit(1).alias("class_id"),
    )
    return F.when(fire, F.array(det)).otherwise(
        F.array().cast("array<struct<bbox:array<int>,confidence:double,class:string,class_id:int>>")
    )


def oracle_raw_sql(seq_expr: str) -> str:
    """The identical surrogate in ANSI SQL (for DuckDB oracle strings)."""
    return f"(({seq_expr} * {KNUTH}) % {MOD}) / {MOD}.0"


# ---------------------------------------------------------------------------
# Class-name filtering — the YOLO backend's include/exclude keyword filter
# (streams/models/yolov8.py:17-23, P4) and the strict-`>` per-box
# confidence filter (:145, P5; note the asymmetry with P3's `>=`).

FIRE_KEYWORDS = ("fire", "smoke", "flame", "burn", "wildfire")
EXCLUDED_KEYWORDS = ("hydrant", "truck", "extinguisher", "alarm", "station", "engine")


def is_fire_class(name: Column) -> Column:
    """lowercase-contains any fire keyword AND none of the exclusions."""
    lowered = F.lower(name)
    include = None
    for kw in FIRE_KEYWORDS:
        cond = lowered.contains(kw)
        include = cond if include is None else (include | cond)
    exclude = None
    for kw in EXCLUDED_KEYWORDS:
        cond = lowered.contains(kw)
        exclude = cond if exclude is None else (exclude | cond)
    return include & ~exclude


def is_fire_class_sql(name_expr: str) -> str:
    """The same predicate as ANSI SQL (DuckDB oracle)."""
    inc = " OR ".join(f"contains(lower({name_expr}), '{k}')" for k in FIRE_KEYWORDS)
    exc = " OR ".join(f"contains(lower({name_expr}), '{k}')" for k in EXCLUDED_KEYWORDS)
    return f"(({inc}) AND NOT ({exc}))"
