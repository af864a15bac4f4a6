"""The (queries, oracle_sql) registry behind ``__spark_entry__``.

Every implemented operator from SURVEY.md §2 (plus the parity-plus LLM
pack) is registered here as a named query: a Spark callable
``fn(spark, sf_dir) -> DataFrame`` and, where SQL-expressible, an ANSI
SQL twin that DuckDB runs on the same parquet tables.  The driver
hash-compares the two at sf=0.01 — that comparison is the correctness
gate, so **everything in these queries is written to be bit-portable**:

* hashes are md5 hex strings (identical in both engines) — never
  engine hash()/xxhash64;
* money/measure sums run on floor-scaled int64 (`floor(x*100)`), so
  no float summation-order skew can exist (integer adds are exact);
* ratios are single divisions of exact integers (one correctly-rounded
  IEEE op → identical doubles);
* integer division uses Spark ``div`` / DuckDB ``//`` (never float
  floor);
* booleans are cast to int, counters to bigint, in BOTH engines.

Keys in this registry map 1:1 to SURVEY.md §2 operator ids (noted per
query).
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import models, surrogate
from .operators import (
    aggregates,
    cadence,
    dedup,
    joins,
    sampling,
    sessions,
    similarity,
    skew,
    text,
    web,
)
from .operators.util import ensure_parallelism, materialize
from .streaming.replay import replay, write_replay_chunks

# Deterministic surrogate probability of an event row (FIXTURES.md §2),
# in both dialects.  event_id is the sequence key of the events table.
def _raw_spark():
    return surrogate.raw_probability(F.col("event_id"))
RAW_SQL = surrogate.oracle_raw_sql("event_id")

SESSION_GAP = 50  # scaled-down analog of the reference's 300-frame gap
CADENCE_N = 3
GRADCAM_N = 2
INTERVAL = 5


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # pyspark 4.1+ reads events.ts (parquet TIMESTAMP(NANOS)) as
    # TIMESTAMP_NTZ truncated to micros; the ms-precision columns
    # (l_shipdate, o_orderdate) read as TIMESTAMP_NTZ too, matching
    # DuckDB wall-clock.
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _atexit_tmpdir(prefix: str) -> str:
    """A fresh temp dir removed at interpreter exit, for fixtures a
    lazily returned DataFrame still reads."""
    import atexit
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    return tmp


def _with_surrogate(ev: DataFrame) -> DataFrame:
    return ev.withColumn("_raw", _raw_spark()).withColumn(
        "has_fire_b", surrogate.has_fire(F.col("_raw"))
    ).withColumn("fire_probability", surrogate.fire_probability(F.col("_raw")))


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver records rows-only check


_REGISTRY: dict[str, QuerySpec] = {}


def q(name: str, oracle: str | None):
    def deco(fn):
        _REGISTRY[name] = QuerySpec(fn, oracle)
        return fn

    return deco


def registry() -> dict[str, QuerySpec]:
    return _ordered()


# ===========================================================================
# Group A — FireWatch semantics on the `events` stream analog
# (key=user_id ~ video_id, seq=event_id ~ frame_number; FIXTURES.md §6)
# ===========================================================================


@q(
    "surrogate_predictions",
    f"""
    SELECT event_id, user_id,
           CAST({RAW_SQL} >= 0.5 AS INT) AS has_fire,
           CASE WHEN {RAW_SQL} >= 0.5 THEN {RAW_SQL} ELSE 0.0 END AS fire_probability,
           1.0 - {RAW_SQL} AS no_fire_probability
    FROM events
    """,
)
def surrogate_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 threshold (`>=`, fire_detect_nn.py:132) + P6 probability
    zeroing (:169) + complement (:173) via the deterministic surrogate."""
    ev = _tbl(spark, sf_dir, "events")
    raw = _raw_spark()
    return ev.select(
        "event_id",
        "user_id",
        surrogate.has_fire(raw).cast("int").alias("has_fire"),
        surrogate.fire_probability(raw).alias("fire_probability"),
        surrogate.no_fire_probability(raw).alias("no_fire_probability"),
    )


@q(
    "detection_synthesis",
    f"""
    WITH base AS (
      SELECT event_id, user_id,
             {RAW_SQL} AS raw,
             320 + CAST((user_id % 3) AS INT) * 320 AS w,
             240 + CAST((user_id % 3) AS INT) * 240 AS h
      FROM events
    )
    SELECT event_id, user_id,
           CAST(CASE WHEN raw >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS det_count,
           CASE WHEN raw >= 0.5 THEN w END AS bbox_w,
           CASE WHEN raw >= 0.5 THEN h END AS bbox_h,
           CASE WHEN raw >= 0.5 THEN 'fire' END AS det_class,
           CASE WHEN raw >= 0.5 THEN raw END AS det_conf
    FROM base
    """,
)
def detection_synthesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 full-frame bbox synthesis (fire_detect_nn.py:155-165), checked
    by flattening the constructed array<struct> (nested values are not
    portable to hash, the construction still is)."""
    ev = _tbl(spark, sf_dir, "events")
    w = (F.lit(320) + (F.col("user_id") % 3).cast("int") * 320).cast("int")
    h = (F.lit(240) + (F.col("user_id") % 3).cast("int") * 240).cast("int")
    raw = _raw_spark()
    dets = surrogate.synth_detection(surrogate.has_fire(raw), raw, w, h)
    df = ev.select("event_id", "user_id", dets.alias("_d"))
    first = F.try_element_at("_d", F.lit(1))
    return df.select(
        "event_id",
        "user_id",
        F.size("_d").cast("long").alias("det_count"),
        F.try_element_at(first["bbox"], F.lit(3)).alias("bbox_w"),
        F.try_element_at(first["bbox"], F.lit(4)).alias("bbox_h"),
        first["class"].alias("det_class"),
        first["confidence"].alias("det_conf"),
    )


_CLASS_SUFFIX_SQL = """
      CASE WHEN p_partkey % 7 = 0 THEN concat(p_name, ' fire')
           WHEN p_partkey % 7 = 1 THEN concat(p_name, ' fire truck')
           WHEN p_partkey % 7 = 2 THEN concat(p_name, ' smoke')
           WHEN p_partkey % 7 = 3 THEN concat(p_name, ' fire hydrant')
           WHEN p_partkey % 7 = 4 THEN concat(p_name, ' wildfire zone')
           ELSE p_name END
"""


@q(
    "class_filter",
    f"""
    WITH named AS (SELECT p_partkey, {_CLASS_SUFFIX_SQL} AS det_name FROM part)
    SELECT p_partkey, det_name,
           CAST({surrogate.is_fire_class_sql('det_name')} AS INT) AS is_fire
    FROM named
    """,
)
def class_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 class-name include/exclude filter (yolov8.py:17-23), exercised
    over part names with synthesized fire/exclusion suffixes."""
    part = _tbl(spark, sf_dir, "part")
    named = part.withColumn("det_name", F.expr(_CLASS_SUFFIX_SQL)).select(
        "p_partkey", "det_name"
    )
    return named.withColumn(
        "is_fire", surrogate.is_fire_class(F.col("det_name")).cast("int")
    )


_SESSION_SQL_BASE = f"""
    WITH flagged AS (
      SELECT event_id, user_id,
             CASE WHEN lag(event_id) OVER w IS NULL
                       OR event_id - lag(event_id) OVER w > {SESSION_GAP}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    ),
    sess AS (
      SELECT event_id, user_id,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
"""


@q("session_ids", _SESSION_SQL_BASE + "SELECT event_id, user_id, session_id FROM sess")
def session_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2 gap-based session assignment (stream.py:340-349): strict
    `> gap` in the sequence domain — a jump of exactly `gap` keeps the
    session open."""
    ev = _tbl(spark, sf_dir, "events")
    return sessions.with_session_id(ev, "user_id", "event_id", gap=SESSION_GAP).select(
        "event_id", "user_id", "session_id"
    )


@q(
    "session_stats",
    _SESSION_SQL_BASE
    + f"""
    SELECT s.user_id, s.session_id,
           CAST(COUNT(*) AS BIGINT) AS total_frames,
           CAST(SUM(CAST({RAW_SQL.replace('event_id', 's.event_id')} >= 0.5 AS INT)) AS BIGINT) AS fire_count,
           MAX(CASE WHEN {RAW_SQL.replace('event_id', 's.event_id')} >= 0.5
                    THEN {RAW_SQL.replace('event_id', 's.event_id')} ELSE 0.0 END) AS max_fire_probability,
           MIN(s.event_id) AS first_seq, MAX(s.event_id) AS last_seq
    FROM sess s GROUP BY s.user_id, s.session_id
    """,
)
def session_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 session finalize summary (stream.py:234-249) over gap sessions."""
    ev = _with_surrogate(_tbl(spark, sf_dir, "events"))
    sess = sessions.with_session_id(ev, "user_id", "event_id", gap=SESSION_GAP)
    return sessions.session_stats(
        sess, "user_id", "event_id", has_fire="has_fire_b"
    )


@q(
    "completion_stats",
    f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS total_frames,
           CAST(SUM(CAST({RAW_SQL} >= 0.5 AS INT)) AS BIGINT) AS fire_count,
           MAX(CASE WHEN {RAW_SQL} >= 0.5 THEN {RAW_SQL} ELSE 0.0 END) AS max_fire_probability,
           MAX(event_id) AS max_seq
    FROM events GROUP BY user_id
    """,
)
def completion_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 running stats + A2 running max seq (stream.py:380-386,332-335)."""
    ev = _with_surrogate(_tbl(spark, sf_dir, "events"))
    return aggregates.completion_stats(ev, "user_id", "event_id", has_fire="has_fire_b")


@q(
    "global_counters",
    f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS message_count,
           CAST(SUM(CAST({RAW_SQL} >= 0.5 AS INT)) AS BIGINT) AS fire_count,
           CAST(SUM(CAST({RAW_SQL} < 0.5 AS INT)) AS BIGINT) AS no_fire_count
    FROM events
    """,
)
def global_counters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 whole-stream counters (stream.py:459-461,518-526)."""
    ev = _with_surrogate(_tbl(spark, sf_dir, "events"))
    return aggregates.global_counters(ev, has_fire="has_fire_b")


@q(
    "expected_frames",
    f"""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS source_frames,
           CAST(COUNT(*) // {INTERVAL} + CAST(COUNT(*) % {INTERVAL} > 0 AS INT) AS BIGINT) AS expected_frames
    FROM events GROUP BY user_id
    """,
)
def expected_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 ceil(total/interval) in pure integer arithmetic
    (scripts/test_with_videos.py:44-54)."""
    ev = _tbl(spark, sf_dir, "events")
    return aggregates.expected_frame_count(ev, "user_id", "event_id", INTERVAL)


@q(
    "progress_pct",
    """
    WITH base AS (
      SELECT event_id, user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS total
      FROM events
    )
    SELECT event_id, user_id,
           CAST(MAX(LEAST((rn * 100) // total, 100)) OVER
                (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS progress_pct
    FROM base
    """,
)
def progress_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 monotone capped progress (progress.py:74-95) with per-key
    expected totals."""
    ev = _tbl(spark, sf_dir, "events")
    ev = ev.withColumn("total", F.count(F.lit(1)).over(Window.partitionBy("user_id")))
    out = aggregates.with_progress_pct(ev, "user_id", "event_id", "total")
    return out.select("event_id", "user_id", "progress_pct")


@q(
    "inference_cadence",
    f"""
    WITH base AS (
      SELECT event_id, user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      FROM events
    )
    SELECT event_id, user_id,
           CAST((rn - 1) % {CADENCE_N} = 0 AS INT) AS is_inference,
           last_value(CASE WHEN (rn - 1) % {CADENCE_N} = 0 THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
    FROM base
    """,
)
def inference_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 1-in-N inference with LOCF reuse (stream.py:366-378)."""
    ev = _tbl(spark, sf_dir, "events")
    out = cadence.with_inference_cadence(
        ev, "user_id", "event_id", ["value"], every_n=CADENCE_N
    )
    return out.select(
        "event_id", "user_id", F.col("is_inference").cast("int").alias("is_inference"), "value"
    )


@q(
    "gradcam_cadence",
    f"""
    WITH base AS (
      SELECT event_id, user_id, {RAW_SQL} >= 0.5 AS hf FROM events
    ),
    runs AS (
      SELECT event_id, user_id, hf,
             CASE WHEN lag(hf) OVER w IS NULL OR lag(hf) OVER w <> hf THEN 1 ELSE 0 END AS chg
      FROM base WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    ),
    rid AS (
      SELECT event_id, user_id, hf,
             CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
      FROM runs
    ),
    pos AS (
      SELECT event_id, user_id, hf, run_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id, run_id ORDER BY event_id) AS BIGINT) AS run_pos
      FROM rid
    )
    SELECT event_id, user_id, CAST(hf AS INT) AS has_fire, run_id, run_pos,
           CAST(hf AND (run_pos - 1) % {GRADCAM_N} = 0 AS INT) AS recompute_heatmap
    FROM pos
    """,
)
def gradcam_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 consecutive-positive run-length sampling with reset
    (fire_detect_nn.py:134-153): recompute on run positions 1, N+1, ..."""
    ev = _with_surrogate(_tbl(spark, sf_dir, "events"))
    out = cadence.with_gradcam_cadence(
        ev, "user_id", "event_id", "has_fire_b", every_n_fire=GRADCAM_N
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("has_fire_b").cast("int").alias("has_fire"),
        "run_id",
        F.col("run_pos").cast("long").alias("run_pos"),
        F.col("recompute_heatmap").cast("int").alias("recompute_heatmap"),
    )


@q(
    "predict_batch",
    f"""
    SELECT event_id, user_id,
           CAST({RAW_SQL} >= 0.5 AS INT) AS has_fire,
           CASE WHEN {RAW_SQL} >= 0.5 THEN {RAW_SQL} ELSE 0.0 END AS fire_probability,
           'surrogate' AS model_type,
           CAST(CASE WHEN {RAW_SQL} >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS det_count
    FROM events
    """,
)
def predict_batch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1/M2' — batched inference on the REGISTERED path (VERDICT r12
    #4): the backend registry's surrogate (dispatcher.py:34-87
    contract) run through the iterator-form pandas UDF
    (Iterator[Tuple[Series, ...]] -> Iterator[DataFrame]) that real
    model serving uses — per-worker setup runs once per partition,
    every full Arrow batch clears the autocast-at-batch>=16 gate
    (models.py make_densenet_backend), and the partition round-trips
    through ONE ArrowEvalPython node.  The oracle hash-proves UDF
    output == DuckDB — reference docs/PERFORMANCE.md:148-150's
    deferred win, attested."""
    ev = _tbl(spark, sf_dir, "events").withColumn("w", F.lit(640)).withColumn(
        "h", F.lit(480)
    )
    out = models.with_prediction_iter(
        ev, models.get_backend("surrogate"), "event_id", "w", "h"
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("prediction.has_fire").cast("int").alias("has_fire"),
        F.col("prediction.fire_probability").alias("fire_probability"),
        F.col("prediction.model_type").alias("model_type"),
        F.size("prediction.detections").cast("long").alias("det_count"),
    )


@q(
    "frames_written",
    f"""
    SELECT user_id,
           CAST(SUM(CAST({RAW_SQL} >= 0.5 AS INT)) AS BIGINT) AS frames_written
    FROM events GROUP BY user_id
    """,
)
def frames_written_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 frames-written counter (stream.py:393-395) — the flag path:
    only sink-accepted rows count (here: fire frames as the stand-in
    acceptance predicate)."""
    ev = _with_surrogate(_tbl(spark, sf_dir, "events"))
    return aggregates.frames_written(ev, "user_id", written_flag="has_fire_b")


@q(
    "last_frame",
    """
    SELECT user_id,
           arg_max(md5(concat(CAST(user_id AS VARCHAR), '|', CAST(event_id AS VARCHAR))), event_id) AS last_frame,
           MAX(event_id) AS last_seq
    FROM events GROUP BY user_id
    """,
)
def last_frame_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 last-frame tracking (stream.py:110,396) via max_by — one
    payload per key survives the partial agg, the stream never
    shuffles.  The payload is an md5 fingerprint standing in for the
    frame bytes (hashable in both engines)."""
    ev = _tbl(spark, sf_dir, "events").withColumn(
        "frame_md5",
        F.md5(
            F.concat_ws(
                "|", F.col("user_id").cast("string"), F.col("event_id").cast("string")
            )
        ),
    )
    return aggregates.last_frame(ev, "user_id", "event_id", "frame_md5")


_HM_CELLS = 16
_HM_INT_SQL = (
    f"list_transform(range(0, {_HM_CELLS}), "
    f"j -> (event_id * {_HM_CELLS} + j) * {surrogate.KNUTH} % {surrogate.MOD})"
)


@q(
    "gradcam_heatmap",
    f"""
    WITH base AS (
      SELECT event_id, user_id, {RAW_SQL} >= 0.5 AS hf FROM events
    ),
    runs AS (
      SELECT event_id, user_id, hf,
             CASE WHEN lag(hf) OVER w IS NULL OR lag(hf) OVER w <> hf THEN 1 ELSE 0 END AS chg
      FROM base WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    ),
    rid AS (
      SELECT event_id, user_id, hf,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      FROM runs
    ),
    pos AS (
      SELECT event_id, user_id, hf,
             ROW_NUMBER() OVER (PARTITION BY user_id, run_id ORDER BY event_id) AS run_pos
      FROM rid
    ),
    computed AS (
      SELECT event_id, user_id,
             CAST(hf AND (run_pos - 1) % {GRADCAM_N} = 0 AS INT) AS recompute_heatmap,
             CASE WHEN hf AND (run_pos - 1) % {GRADCAM_N} = 0
                  THEN CAST(list_max({_HM_INT_SQL}) AS BIGINT) END AS c_max,
             CASE WHEN hf AND (run_pos - 1) % {GRADCAM_N} = 0
                  THEN CAST(list_position({_HM_INT_SQL}, list_max({_HM_INT_SQL})) AS BIGINT) END AS c_arg
      FROM pos
    )
    SELECT event_id, user_id, recompute_heatmap,
           last_value(c_max IGNORE NULLS) OVER w AS hm_max,
           last_value(c_arg IGNORE NULLS) OVER w AS hm_argmax
    FROM computed
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def gradcam_heatmap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3+M5+cache composition (gradcam.py:19-90 + fire_detect_nn.py:
    134-153): heatmaps computed only on cadence-selected positive rows,
    carried forward (LOCF) between — checked through the integer-domain
    surrogate kernel so max/argmax hash identically.  The normalized
    kernel + P10 overlay arithmetic are pinned by unit tests."""
    from .functions import heatmap as hm

    def int_kernel(seq_col):
        return F.transform(
            F.sequence(F.lit(0), F.lit(_HM_CELLS - 1)),
            lambda j: (seq_col * _HM_CELLS + j) * F.lit(surrogate.KNUTH) % F.lit(surrogate.MOD),
        )

    ev = _with_surrogate(_tbl(spark, sf_dir, "events"))
    out = cadence.with_gradcam_cadence(
        ev, "user_id", "event_id", "has_fire_b", every_n_fire=GRADCAM_N
    )
    out = hm.with_gradcam_heatmap(
        out, "user_id", "event_id", heatmap_fn=int_kernel
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("recompute_heatmap").cast("int").alias("recompute_heatmap"),
        F.array_max("heatmap").cast("long").alias("hm_max"),
        F.array_position(F.col("heatmap"), F.array_max("heatmap"))
        .cast("long")
        .alias("hm_argmax"),
    )


@q(
    "late_dedup",
    """
    WITH dup AS (
      SELECT user_id, event_id FROM events
      UNION ALL
      SELECT user_id, event_id FROM events WHERE event_id % 10 = 0
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_deduped
    FROM dup GROUP BY user_id
    """,
)
def late_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 duplicate handling: at-least-once redelivery (every 10th
    event re-sent) collapsed by the dedup policy — the documented
    upgrade over the reference's reprocessing (stream.py:465-489)."""
    from .streaming.pipeline import with_late_policy

    ev = _tbl(spark, sf_dir, "events").select("user_id", "event_id")
    dup = ev.unionAll(ev.filter(F.col("event_id") % 10 == 0))
    deduped = with_late_policy(dup, dedup_keys=["user_id", "event_id"])
    raw_counts = dup.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_raw"))
    dd_counts = deduped.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_deduped"))
    return raw_counts.join(dd_counts, "user_id")


@q(
    "transport_roundtrip",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS decoded_md5
    FROM documents
    """,
)
def transport_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 encode → P1 decode round-trip in base64-json mode
    (video_producer.py:69-77 / stream.py:125-137): the oracle md5s the
    original bytes directly, so a match proves decode(encode(x)) == x
    byte-for-byte."""
    from .functions import projections

    docs = _tbl(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    enc = projections.encode_transport(payload, "base64-json")
    dec = projections.decode_transport(enc, "base64-json")
    return docs.select(
        "doc_id",
        F.octet_length(dec).cast("long").alias("n_bytes"),
        F.md5(dec).alias("decoded_md5"),
    )


@q(
    "jpeg_encode_plan",
    """
    SELECT doc_id AS media_id,
           CAST(GREATEST(64, ((320 + (doc_id % 4) * 160) * (240 + (doc_id % 4) * 120)) // 85) AS BIGINT) AS n_jpeg_bytes
    FROM documents
    """,
)
def jpeg_encode_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 JPEG-encode stage (video_producer.py:112-113) through the
    mapInPandas plumbing: the fake kernel's size arithmetic
    (w*h/quality) is replayed exactly by the oracle, proving batch
    shape + metadata flow; the pixel codec itself stays a documented
    stub."""
    from .sources.multimodal import jpeg_encode

    docs = _tbl(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        (F.lit(320) + (F.col("doc_id") % 4) * 160).cast("int").alias("meta_width"),
        (F.lit(240) + (F.col("doc_id") % 4) * 120).cast("int").alias("meta_height"),
    )
    out = jpeg_encode(media, quality=85)
    return out.select(
        "media_id", F.octet_length("jpeg").cast("long").alias("n_jpeg_bytes")
    )


def _video_scan_sql() -> str:
    """CLOSED-FORM literal oracle for the video scan (upgrades the
    r2-r7 rows-only row to a full value gate): the fixture is four
    FIXED files (bytes([i]) · (1000+37i)), so every output row is a
    pure function of the spec — computed here INDEPENDENTLY with
    hashlib + the same timestamp formatter, never by replaying Spark.
    Any drift in the binaryFile scan, the probe arithmetic, the
    sampling stride, or the timestamp format now fails the hash."""
    import hashlib

    from .sources.frames import _iso

    rows = []
    for i in range(4):
        content = bytes([i]) * (1000 + i * 37)
        h = hashlib.sha256(content).digest()
        n_frames = 30 + h[0] % 211
        fps = float(15 + h[1] % 46)
        for fn in range(0, n_frames, 2):  # frame_interval=2 below
            rows.append(f"('video_{i}', {fn}, '{_iso(fn, fps)}', {fps!r})")
    return (
        "SELECT video_id, CAST(frame_number AS BIGINT) AS frame_number, "
        '"timestamp", CAST(fps AS DOUBLE) AS fps, '
        "CAST(640 AS INT) AS width, CAST(480 AS INT) AS height "
        f"FROM (VALUES {', '.join(rows)}) "
        't(video_id, frame_number, "timestamp", fps)'
    )


@q("video_scan", _video_scan_sql())
def video_scan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 video-file scan: binaryFile source → mapInPandas frame
    explosion (one task per file, no shuffle).  Inputs are deterministic
    fake container files; frame counts/fps derive from their sha256 —
    which is why the oracle can be the closed-form expectation
    (`_video_scan_sql`), making this a FULL value-hash row since r8."""
    from .sources.frames import video_file_scan

    # lazily read by the returned DataFrame → can't rmtree eagerly
    tmp = _atexit_tmpdir("fw_videos_")
    for i in range(4):
        with open(os.path.join(tmp, f"video_{i}.mp4"), "wb") as f:
            f.write(bytes([i]) * (1000 + i * 37))
    out = video_file_scan(spark, tmp, frame_interval=2)
    return out.select("video_id", "frame_number", "timestamp", "fps", "width", "height")


@q(
    "jsonl_ingest",
    """
    SELECT doc_id, md5(text) AS text_md5, FALSE AS is_corrupt FROM documents
    UNION ALL
    SELECT CAST(-1 AS BIGINT), '', TRUE
    """,
)
def jsonl_ingest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL crawl-dump ingest round-trip — the text-pipeline source
    format (web crawls ship as JSON lines, not parquet): write the
    corpus as JSONL with Spark's own json sink, read it back through
    `spark.read.json` with an EXPLICIT schema (never inferSchema at
    100 TB — inference is a full extra pass) in PERMISSIVE mode with a
    corrupt-record column — the dead-letter seam every production
    ingest needs (one deliberately malformed line is planted; it must
    surface as is_corrupt=TRUE with sentinel values, never kill the
    job or silently drop).  The oracle replays from the parquet truth
    plus the planted dead-letter row, so the gate proves the
    round-trip is content-lossless."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    # lazily read by the returned DataFrame → can't rmtree eagerly
    data_dir = os.path.join(_atexit_tmpdir("fw_jsonl_"), "data")
    docs.coalesce(4).write.mode("overwrite").json(data_dir)
    with open(os.path.join(data_dir, "corrupt.json"), "w") as f:
        f.write("this is not json at all {{{\n")
    # schema INCLUDES the corrupt column (Spark drops it otherwise);
    # fully-unparseable line → data fields null, raw line in _corrupt
    back = (
        spark.read.schema("doc_id BIGINT, text STRING, _corrupt STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(data_dir)
    )
    return back.select(
        F.coalesce(F.col("doc_id"), F.lit(-1).cast("long")).alias("doc_id"),
        F.coalesce(
            F.md5(F.col("text").cast("binary")), F.lit("")
        ).alias("text_md5"),
        F.col("_corrupt").isNotNull().alias("is_corrupt"),
    )


@q(
    "csv_ingest",
    """
    SELECT doc_id, md5(text) AS text_md5, FALSE AS is_corrupt FROM documents
    UNION ALL
    SELECT CAST(-1 AS BIGINT), '', TRUE
    """,
)
def csv_ingest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV crawl-dump ingest round-trip — the other text-delivery
    staple next to `jsonl_ingest`, same dead-letter contract: write
    with Spark's csv sink (which quotes embedded delimiters/quotes
    itself), read back with an EXPLICIT schema (no inferSchema pass at
    100 TB) in PERMISSIVE mode with a corrupt-record column.  One
    planted line whose first field can't cast to BIGINT must surface
    as is_corrupt=TRUE with sentinel values — never kill the job,
    never be silently dropped (the reference swallows malformed
    frames, stream.py:421-423; dead-lettering is the §1.3 upgrade).
    Caveat recorded here because it's a real 100 TB decision: text
    containing NEWLINES needs multiLine=true, which makes CSV files
    non-splittable — ship such corpora as JSONL/parquet instead; the
    oracle replays from the parquet truth, so the gate proves the
    round-trip content-lossless for delimiter/quote-bearing text."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    data_dir = os.path.join(_atexit_tmpdir("fw_csv_"), "data")
    docs.coalesce(4).write.mode("overwrite").csv(data_dir)
    with open(os.path.join(data_dir, "corrupt.csv"), "w") as f:
        f.write("notanumber,this row cannot satisfy the schema\n")
    back = (
        spark.read.schema("doc_id BIGINT, text STRING, _corrupt STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(data_dir)
    )
    # CSV PERMISSIVE differs from JSON: fields that DO parse on a
    # corrupt row are kept (text survives even when doc_id fails to
    # cast), so the sentinel must be explicit, not a coalesce fallback
    corrupt = F.col("_corrupt").isNotNull()
    return back.select(
        F.when(corrupt, F.lit(-1).cast("long"))
        .otherwise(F.col("doc_id"))
        .alias("doc_id"),
        F.when(corrupt, F.lit(""))
        .otherwise(F.md5(F.col("text").cast("binary")))
        .alias("text_md5"),
        corrupt.alias("is_corrupt"),
    )


# Deterministic raw-URL synthesis for the crawl-frontier queries — one
# SQL snippet that parses IDENTICALLY in Spark and DuckDB (CASE / concat
# / CAST AS STRING / % are common syntax), so both engines derive the
# same raw URLs and the gate pins the CANONICALIZER, not the fixture.
# Variation axes (all canonicalized away): scheme case (%3), WWW. (%2),
# host case (%5), default :443 (%4), trailing slash (%2), param order +
# tracking noise (%2/%9/%11), fragment (%6), and — ADVICE r7 #1 — a
# PATH-LESS query form (%13: `scheme://host?query#frag`, no '/'), whose
# authority must end at the '?', not absorb the query into the host.
# Surviving identity: source host, page path doc_id%40 (or '/' for the
# path-less rows), and the PRESERVED non-default :8080 port (%7) — so
# every canonical group at sf0.01 collapses ~6-13 raw spellings,
# exercising collapse, preservation and the path-less-query rule.
_URL_SYNTH = """
    concat(
      CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' WHEN doc_id % 3 = 1 THEN 'Https' ELSE 'https' END,
      '://',
      CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END,
      CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END,
      '.Example.COM',
      CASE WHEN doc_id % 7 = 0 THEN ':8080' WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END,
      CASE WHEN doc_id % 13 = 0 THEN ''
           ELSE concat('/Articles/', CAST(doc_id % 40 AS STRING),
                       CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) END,
      CASE WHEN doc_id % 2 = 0
           THEN concat('?b=2&utm_source=feed&a=1&fbclid=fb', CAST(doc_id % 9 AS STRING))
           ELSE concat('?a=1&utm_campaign=c', CAST(doc_id % 11 AS STRING), '&b=2') END,
      '#sec-', CAST(doc_id % 6 AS STRING)
    )"""

# DuckDB twin of web.with_canonical_url (same split_part/list-lambda
# pipeline, CTE-staged like the Spark let-bound columns)
_URL_CANON_CTES = f"""
    urls AS (
      SELECT doc_id, {_URL_SYNTH} AS url FROM documents
    ),
    parts AS (
      SELECT doc_id, url,
             lower(split_part(url, '://', 1)) AS scheme,
             split_part(substr(url, length(split_part(url, '://', 1)) + 4), '#', 1) AS rest
      FROM urls
    ),
    fields AS (
      SELECT *,
             split_part(lower(split_part(split_part(rest, '?', 1), '/', 1)), ':', 1) AS hname,
             split_part(lower(split_part(split_part(rest, '?', 1), '/', 1)), ':', 2) AS hport,
             substr(rest, length(split_part(split_part(rest, '?', 1), '/', 1)) + 1) AS pathq
      FROM parts
    ),
    pq AS (
      SELECT *, split_part(pathq, '?', 1) AS p,
             array_to_string(list_sort(list_filter(string_split(
               CASE WHEN instr(pathq, '?') > 0
                    THEN substr(pathq, instr(pathq, '?') + 1) ELSE '' END, '&'),
               x -> x <> '' AND substr(x, 1, 4) <> 'utm_'
                    AND NOT list_contains(['fbclid','gclid','ref','mc_eid','igshid'],
                                          split_part(x, '=', 1)))), '&') AS cq
      FROM fields
    ),
    canon AS (
      SELECT doc_id, url,
        concat(scheme, '://',
          CASE WHEN substr(hname, 1, 4) = 'www.' THEN substr(hname, 5) ELSE hname END,
          CASE WHEN hport = '' OR (scheme = 'https' AND hport = '443')
                    OR (scheme = 'http' AND hport = '80') THEN ''
               ELSE concat(':', hport) END,
          CASE WHEN p IN ('', '/') THEN '/'
               WHEN substr(p, length(p), 1) = '/' THEN substr(p, 1, length(p) - 1)
               ELSE p END,
          CASE WHEN cq = '' THEN '' ELSE concat('?', cq) END
        ) AS canonical_url
      FROM pq
    )"""


def _docs_with_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .withColumn("url", F.expr(_URL_SYNTH))
    )


@q(
    "url_canonicalize",
    "WITH " + _URL_CANON_CTES + "\n    SELECT doc_id, url, canonical_url FROM canon",
)
def url_canonicalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL canonicalization (operators/web.py
    with_canonical_url) — scheme/host lowercasing, www- and
    default-port-stripping (non-default ports PRESERVED), fragment
    drop, tracking-param removal, bytewise param sort, trailing-slash
    normalization.  Row-wise hash gate: every (raw, canonical) pair is
    value-pinned, so any rule drift in either engine fails loudly.
    Pure projection — a free rider on the ingest scan at 100 TB."""
    return web.with_canonical_url(_docs_with_urls(spark, sf_dir)).select(
        "doc_id", "url", "canonical_url"
    )


@q(
    "url_dedup",
    "WITH "
    + _URL_CANON_CTES
    + """
    SELECT canonical_url,
           CAST(min(doc_id) AS BIGINT) AS keeper_id,
           CAST(count(*) AS BIGINT) AS n_variants
    FROM canon GROUP BY canonical_url
    """,
)
def url_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup (operators/web.py url_dedup): the fetch-side
    twin of content dedup_exact — collapse every raw spelling of a page
    to one keeper (lowest id) BEFORE fetching/cleaning it again.  The
    synthetic frontier guarantees multi-variant groups (~6-13 raw
    spellings per canonical at sf0.01), so the aggregation is exercised,
    not vacuous.  Shuffle carries (canonical_url, doc_id) only."""
    return web.url_dedup(_docs_with_urls(spark, sf_dir))


# Deterministic HTML page synthesis (same engine-portable-snippet idea
# as _URL_SYNTH): the doc's text becomes the entity-escaped <p> body,
# wrapped in title/nav/script/style/footer boilerplate.  The operator
# under test is the EXTRACTOR — script/style removal with contents,
# block-break insertion, tag strip, entity decode (incl. the &amp;-last
# double-decode rule), whitespace collapse.
_HTML_SYNTH = """
    concat('<html><head><title>', source, '</title>',
      '<style>body { color: #333; }</style>',
      '<script type="text/javascript">var t = 1 < 2 && x > 0;</script>',
      '</head><body>',
      '<nav><a href="/">Home</a> | <a href="/about">About</a></nav>',
      '<h1>', source, ' &amp; Friends</h1>',
      '<p>', replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '</p>',
      '<div class="footer">Copyright&nbsp;2026 &quot;Example&quot; Inc.</div>',
      '</body></html>')"""


@q(
    "html_extract",
    f"""
    WITH pages AS (
      SELECT doc_id, {_HTML_SYNTH} AS html FROM documents
    ),
    ex AS (
      SELECT doc_id, html,
        trim(regexp_replace(
          replace(replace(replace(replace(replace(replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                  '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                '(?i)</(p|div|h[1-6]|li|tr|section|article|nav|header|footer|title|ul|ol|blockquote|pre)>|<[bh]r */?>', ' ', 'g'),
              '<[^>]*>', '', 'g'),
            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
          '[ \t\n\r\f]+', ' ', 'g')) AS extracted
      FROM pages
    )
    SELECT doc_id, md5(extracted) AS extracted_md5,
           CAST(length(html) AS BIGINT) AS html_len,
           CAST(length(extracted) AS BIGINT) AS text_len,
           CAST(length(extracted) AS DOUBLE) / CAST(length(html) AS DOUBLE) AS extraction_ratio
    FROM ex
    """,
)
def html_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text main-content extraction (operators/web.py
    html_to_text_expr) — the stage-zero transform of every web-crawl
    training corpus: script/style elements removed WITH contents,
    block closers become breaks, tags stripped, entities decoded
    (&amp; last — the double-decode trap is pinned by the escaped
    body), whitespace collapsed.  The md5 + length gate pins the whole
    chain byte-for-byte; extraction_ratio is the boilerplate-density
    quality signal downstream filters read.  Per-row regexp chain —
    embarrassingly parallel, and it PRUNES: later stages see ~30 % of
    the raw bytes."""
    pages = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .withColumn("html", F.expr(_HTML_SYNTH))
    )
    return web.html_extract(pages).select(
        "doc_id", "extracted_md5", "html_len", "text_len", "extraction_ratio"
    )


# Planted malformed WARC records — one per dead-letter reason the
# parser distinguishes (sources/warc.py), each with deterministic
# sentinel output pinned in the oracle.
_WARC_BAD_RECORDS = (
    # WARC-Target-URI header absent
    "WARC/1.0\nWARC-Type: response\nContent-Length: 3\n\nabc\n\n",
    # declared length exceeds the payload actually present
    "WARC/1.0\nWARC-Type: response\n"
    "WARC-Target-URI: http://bad.example/trunc\nContent-Length: 100\n\nshort\n\n",
    # header block never terminated by a blank line
    "WARC/1.0\nWARC-Type: response\n"
    "WARC-Target-URI: http://bad.example/nosep\nContent-Length: 5\n",
    # Content-Length header absent
    "WARC/1.0\nWARC-Type: response\n"
    "WARC-Target-URI: http://bad.example/nolen\n\nx\n\n",
)


_WARC_INGEST_SQL = f"""
    WITH {_URL_CANON_CTES},
    pages AS (SELECT doc_id, {_HTML_SYNTH} AS html FROM documents)
    SELECT c.url, c.canonical_url, 'response' AS warc_type,
           CAST(length(p.html) AS BIGINT) AS declared_len,
           CAST(length(p.html) AS BIGINT) AS payload_len,
           md5(p.html) AS payload_md5,
           FALSE AS is_malformed, '' AS reason
    FROM canon c JOIN pages p USING (doc_id)
    UNION ALL SELECT '', '', 'response', -1, -1, '', TRUE, 'missing_uri'
    UNION ALL SELECT 'http://bad.example/trunc', '', 'response', -1, -1, '', TRUE, 'length_mismatch'
    UNION ALL SELECT 'http://bad.example/nosep', '', 'response', -1, -1, '', TRUE, 'missing_separator'
    UNION ALL SELECT 'http://bad.example/nolen', '', 'response', -1, -1, '', TRUE, 'missing_length'
    """


@q("warc_ingest", _WARC_INGEST_SQL)
def warc_ingest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC-shaped crawl-dump ingest (sources/warc.py; VERDICT r7 ask
    #5) — completes the crawl family: the stage-zero pack started at
    (url, html) COLUMNS, but real dumps arrive as concatenated
    record-framed text.  The corpus is written as a WARC-shaped dump
    (WARC/1.0 sentinel, header block, Content-Length-framed payload),
    split record-per-row by the lineSep reader (split-boundary-safe —
    Hadoop stitches records across input splits, so a 100 TB dump
    parallelizes by byte range), header-parsed with anchored regex,
    and the four planted malformed records surface as dead-letter rows
    with their diagnosing reason — counts, sentinels and reasons all
    value-hash-gated.  Good records chain straight into
    with_canonical_url, proving url_canonicalize -> html_extract ->
    link_extract is runnable FROM A RAW DUMP."""
    from .sources import warc as warc_src

    data_dir = _write_warc_dump(spark, sf_dir, _atexit_tmpdir("fw_warc_"))
    parsed = warc_src.read_warc(spark, data_dir)
    return _warc_projection(parsed)


def _write_warc_dump(spark: SparkSession, sf_dir: str, root: str) -> str:
    """Write the synthetic WARC-shaped dump (4 part files + the
    planted-malformed bad.warc) under `root` and return its path —
    shared by warc_ingest / crawl_pipeline / streaming_warc_ingest."""
    # r13: repartition(4), not coalesce(4) — the single-file test scan
    # yields ONE partition and coalesce never raises a partition count,
    # so the URL/HTML synthesis and the write all ran on one task
    # (measured 3.5 s single-threaded at sf0.1).  The shuffle moves only
    # the narrow (doc_id, source, text) input; the synthesis then runs
    # 4-way, one task per output part file.  This is a fixture writer
    # (test-scale by construction), so a fixed fan-out is fine.
    pages = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .repartition(4)
        .withColumn("url", F.expr(_URL_SYNTH))
        .withColumn("html", F.expr(_HTML_SYNTH))
    )
    record = F.expr(
        "concat('WARC/1.0\n', 'WARC-Type: response\n', "
        "'WARC-Target-URI: ', url, '\n', "
        "'Content-Length: ', CAST(length(html) AS STRING), '\n\n', html, '\n\n')"
    )
    data_dir = os.path.join(root, "data")
    pages.select(record.alias("value")).write.mode("overwrite").text(data_dir)
    with open(os.path.join(data_dir, "bad.warc"), "w") as f:
        for rec in _WARC_BAD_RECORDS:
            f.write(rec)
    return data_dir


# the streamed twin attests the SAME oracle: record parsing is
# row-pure and record framing never straddles files, so
# union-of-batches == whole-dump bit-for-bit
@q("streaming_warc_ingest", _WARC_INGEST_SQL)
def streaming_warc_ingest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingest as a REAL Structured Streaming pipeline — how
    production crawl dumps actually land: segment files arriving
    continuously, parsed as they appear.  The dump's 5 files (4 data
    parts + the planted-malformed bad.warc) arrive through a lineSep
    file stream one file per micro-batch; each batch runs the SAME
    parse + dead-letter + canonicalize chain as batch `warc_ingest`
    inside ``foreachBatch`` and appends its rows idempotently
    (batch-id-owned overwrite — the house convention).  Record
    parsing is row-pure and the sentinel framing is per-file, so
    union-of-batches ≡ whole-dump bit-for-bit: the gate attests the
    STREAMED table against the SAME oracle as `warc_ingest` —
    the ingest family's streaming proof beside dedup/ANN/sketches/
    sampling.  Per-batch state is zero (stateless parse); dead-letter
    rows flow continuously instead of failing the stream."""
    from .sources import warc as warc_src

    def feed(reader, tmp):
        data_dir = _write_warc_dump(spark, sf_dir, tmp)
        stream = reader.option("lineSep", warc_src.WARC_SENTINEL).text(data_dir)
        return stream, lambda b: _warc_projection(warc_src.parse_warc_records(b))

    return replay(spark, feed)


def _warc_projection(parsed: DataFrame) -> DataFrame:
    """The warc_ingest output projection (canonicalize good records,
    blank the dead-letter rows) — shared with the streamed twin."""
    out = web.with_canonical_url(parsed, "url")
    return out.select(
        "url",
        F.when(F.col("is_malformed"), F.lit(""))
        .otherwise(F.col("canonical_url"))
        .alias("canonical_url"),
        "warc_type",
        "declared_len",
        "payload_len",
        "payload_md5",
        "is_malformed",
        "reason",
    )


# the dump->keeper->extracted CTE chain (consumes `canon` from
# _URL_CANON_CTES + the documents html synth), ending in
# ex(canonical_url, n_variants, keeper_md5, extracted) — shared by
# crawl_pipeline and web_corpus_pipeline
_CRAWL_EX_CTES = f"""pages AS (SELECT doc_id, {_HTML_SYNTH} AS html FROM documents),
    rec AS (
      SELECT c.canonical_url, p.html, md5(p.html) AS payload_md5
      FROM canon c JOIN pages p USING (doc_id)
    ),
    grp AS (
      SELECT canonical_url,
             CAST(count(*) AS BIGINT) AS n_variants,
             min(payload_md5) AS keeper_md5
      FROM rec GROUP BY canonical_url
    ),
    keeper AS (
      SELECT g.canonical_url, g.n_variants, g.keeper_md5, r.html
      FROM grp g JOIN (
        SELECT DISTINCT canonical_url, payload_md5, html FROM rec
      ) r
        ON r.canonical_url = g.canonical_url AND r.payload_md5 = g.keeper_md5
    ),
    ex AS (
      SELECT canonical_url, n_variants, keeper_md5,
        trim(regexp_replace(
          replace(replace(replace(replace(replace(replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                  '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                '(?i)</(p|div|h[1-6]|li|tr|section|article|nav|header|footer|title|ul|ol|blockquote|pre)>|<[bh]r */?>', ' ', 'g'),
              '<[^>]*>', '', 'g'),
            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
          '[ \t\n\r\f]+', ' ', 'g')) AS extracted
      FROM keeper
    )"""


@q(
    "crawl_pipeline",
    f"""
    WITH {_URL_CANON_CTES},
    {_CRAWL_EX_CTES}
    SELECT canonical_url, n_variants, keeper_md5,
           md5(extracted) AS extracted_md5,
           CAST(length(extracted) AS BIGINT) AS text_len
    FROM ex
    """,
)
def crawl_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl stage-zero family composed END-TO-END from a RAW DUMP
    (round 8): WARC-shaped ingest (sources/warc.py — record split,
    header parse, Content-Length framing) → dead-letter drop (the four
    planted malformed records exit here) → canonical-URL dedup (one
    keeper per canonical spelling, deterministic min-payload-md5
    keeper) → HTML→text extraction on keeper payloads only — the
    "crawl dump in, clean text out" pipeline that feeds llm_pipeline's
    "text in, training shards out".  Every stage is individually
    driver-gated (warc_ingest / url_dedup / html_extract); this row
    attests their COMPOSITION, keeper choice included, value-hash
    end to end.  Extraction runs AFTER dedup on keepers only — at
    100 TB that ordering is the big lever: the regex chain runs once
    per unique page, not once per crawl variant."""
    extracted = _crawl_extracted(spark, sf_dir, "fw_crawlpipe_")
    return extracted.select(
        "canonical_url",
        "n_variants",
        "keeper_md5",
        F.md5(F.col("extracted")).alias("extracted_md5"),
        F.length("extracted").cast("long").alias("text_len"),
    )


def _crawl_extracted(spark: SparkSession, sf_dir: str, prefix: str) -> DataFrame:
    """dump → parse → dead-letter drop → canonical keeper → HTML→text:
    the Spark twin of _CRAWL_EX_CTES' ``ex``, shared by crawl_pipeline
    and web_corpus_pipeline."""
    from .sources import warc as warc_src

    data_dir = _write_warc_dump(spark, sf_dir, _atexit_tmpdir(prefix))
    parsed = warc_src.read_warc(spark, data_dir)
    good = parsed.filter(~F.col("is_malformed"))
    canon = web.with_canonical_url(good, "url").select(
        "canonical_url", "payload", "payload_md5"
    )
    # keeper_per_canonical runs a DISTINCT on (canonical_url, md5,
    # payload) BEFORE the keeper join (VERDICT r8 "What's wrong" #2):
    # byte-identical crawl variants of one canonical URL extract ONCE,
    # keeping the "HTML→text once per unique page" lever honest.
    keeper = web.keeper_per_canonical(canon)
    return keeper.withColumn("extracted", web.html_to_text_expr("html"))


@q(
    "html_metadata",
    f"""
    WITH pages AS (
      SELECT doc_id, {_HTML_SYNTH} AS html FROM documents
    )
    SELECT doc_id,
      trim(regexp_replace(
        replace(replace(replace(replace(replace(replace(
          regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1),
        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        '[ \t\n\r\f]+', ' ', 'g')) AS title,
      trim(regexp_replace(
        replace(replace(replace(replace(replace(replace(
          regexp_extract(html, '(?is)<h1[^>]*>(.*?)</h1>', 1),
        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        '[ \t\n\r\f]+', ' ', 'g')) AS h1,
      CAST(len(regexp_extract_all(html, '(?i)href="([^"]+)"', 1)) AS BIGINT) AS n_links
    FROM pages
    """,
)
def html_metadata_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured page metadata (operators/web.py with_html_metadata):
    first <title> and <h1> inner text (entity-decoded, whitespace-
    collapsed — the h1 fixture carries '&amp;' so the decode is
    pinned) and the href fan-out count — the fields a crawl
    prioritizer and a shallow quality filter read WITHOUT paying full
    text extraction.  Scan-side Column regex, zero shuffle."""
    pages = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .withColumn("html", F.expr(_HTML_SYNTH))
    )
    return web.with_html_metadata(pages).select("doc_id", "title", "h1", "n_links")


# Deterministic OUT-LINKED page synthesis for the link-graph queries
# (same engine-portable-snippet idea as _URL_SYNTH / _HTML_SYNTH): each
# page lives on host h{doc_id % 97}.example.com and carries 3 absolute
# article anchors to hosts h{(31·doc_id + k) % 97} — a dense 97-node
# expander-ish digraph once distinct'd — plus the variation the
# EXTRACTOR and EDGE rules must handle: an uppercase HREF (case rule),
# a :8443 port on one target (port-strip rule), mixed host case
# (lowercase rule), two relative nav links (absolute-only rule), and
# self-loops whenever 30·doc_id + k ≡ 0 (mod 97) (self-loop drop), and
# a WWW.-prefixed target on the third anchor (ADVICE r7 #3: dst hosts
# must get the same www-strip as the canonicalized src hosts, merging
# www.b.com into b.com and making www-prefixed self-links drop).
_LINK_HTML_SYNTH = """
    concat('<html><body>',
      '<nav><a href="/">Home</a> | <a href="/about">About</a></nav>',
      '<h1>Article ', CAST(doc_id AS STRING), '</h1>',
      '<p><a href="https://h', CAST((doc_id * 31 + 1) % 97 AS STRING),
         '.Example.COM/articles/', CAST(doc_id % 40 AS STRING),
         '">topic <b>', CAST(doc_id % 23 AS STRING), '</b></a></p>',
      '<p><A HREF="https://h', CAST((doc_id * 31 + 7) % 97 AS STRING),
         '.example.com:8443/articles/', CAST((doc_id + 1) % 40 AS STRING),
         '">read  more</A></p>',
      '<p><a href="http://WWW.h', CAST((doc_id * 31 + 13) % 97 AS STRING),
         '.example.com/">topic ', CAST((doc_id + 7) % 23 AS STRING), '</a></p>',
      '</body></html>')"""

_LINK_SRC_HOST = "concat('h', CAST(doc_id % 97 AS STRING), '.example.com')"

# DuckDB twin of web.extract_links + web.host_edges on the synth pages
_LINK_GRAPH_CTES = f"""
    pages AS (
      SELECT doc_id, {_LINK_SRC_HOST} AS src_host, {_LINK_HTML_SYNTH} AS html
      FROM documents
    ),
    links AS (
      SELECT doc_id, src_host,
             unnest(regexp_extract_all(html, '(?i)href="([^"]+)"', 1)) AS href
      FROM pages
    ),
    lcand AS (
      SELECT src_host,
             lower(split_part(href, '://', 1)) AS scheme,
             split_part(lower(split_part(split_part(split_part(href, '://', 2), '?', 1), '/', 1)), ':', 1) AS dh
      FROM links
    ),
    lhost AS (
      SELECT src_host, scheme,
             CASE WHEN substr(dh, 1, 4) = 'www.' THEN substr(dh, 5) ELSE dh END AS dst_host
      FROM lcand
    ),
    edges AS (
      SELECT DISTINCT src_host, dst_host FROM lhost
      WHERE scheme IN ('http', 'https') AND src_host <> dst_host
    )"""


@q(
    "link_extract",
    f"""
    WITH pages AS (
      SELECT doc_id, {_LINK_HTML_SYNTH} AS html FROM documents
    )
    SELECT doc_id,
           unnest(regexp_extract_all(html, '(?i)href="([^"]+)"', 1)) AS href
    FROM pages
    """,
)
def link_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-href extraction (operators/web.py extract_links) — the
    crawl-frontier DISCOVERY operator: every href in every fetched
    page, relative links included (5/page here: 2 relative nav + 3
    absolute articles).  Case-insensitive attribute match pinned by
    the synthesized uppercase HREF.  Row-wise value hash gates the
    exact multiset of (doc_id, href) pairs.  Scan-side extract +
    explode, no shuffle."""
    pages = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("html", F.expr(_LINK_HTML_SYNTH))
    )
    return web.extract_links(pages)


def _pagerank_ctes(iterations: int = 5, damping_pct: int = 85) -> tuple[str, str]:
    """The iterative PageRank CTE chain over the ``edges`` CTE (from
    _LINK_GRAPH_CTES) — returns (body, final_cte_name) so both the
    host_pagerank oracle and frontier_schedule's priority join can
    reuse the identical chain."""
    scale = web.PAGERANK_SCALE
    tele = 100 - damping_pct
    its = []
    prev = "r0"
    for i in range(1, iterations + 1):
        its.append(f"""
    it{i} AS (
      SELECT h.host,
             CAST(({tele} * ({scale} // n.c) + {damping_pct} * COALESCE(s.m, 0)) // 100 AS BIGINT) AS pr
      FROM hosts h CROSS JOIN n
      LEFT JOIN (
        SELECT e.dst_host AS host, CAST(SUM(r.pr // o.outdeg) AS BIGINT) AS m
        FROM edges e
        JOIN {prev} r ON r.host = e.src_host
        JOIN outd o ON o.src_host = e.src_host
        GROUP BY e.dst_host
      ) s ON s.host = h.host
    )""")
        prev = f"it{i}"
    body = f"""hosts AS (
      SELECT src_host AS host FROM edges UNION SELECT dst_host FROM edges
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM hosts),
    outd AS (
      SELECT src_host, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src_host
    ),
    r0 AS (
      SELECT host, CAST({scale} // c AS BIGINT) AS pr FROM hosts CROSS JOIN n
    ),{",".join(its)}"""
    return body, prev


def _pagerank_sql(iterations: int = 5, damping_pct: int = 85) -> str:
    body, final = _pagerank_ctes(iterations, damping_pct)
    return f"""
    WITH {_LINK_GRAPH_CTES},
    {body}
    SELECT host, pr FROM {final}
    """


@q("host_pagerank", _pagerank_sql())
def host_pagerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph PageRank (operators/web.py extract_links →
    host_edges → pagerank) — the crawl-prioritization signal: 5
    damped rounds over the distinct host-host link graph, EXACT
    int64 scaled arithmetic (micro-units of mass 10^12, floor
    division everywhere) so the DuckDB chained-CTE oracle reproduces
    every bit — the scaled-int pattern (embedding_gram, ivf_train)
    applied to an iterative graph algorithm.  Pins the whole chain:
    case-insensitive href extract, absolute-only + port-strip +
    lowercase edge rules, self-loop drop, dangling-mass evaporation,
    per-round teleport floor.  Each round is one edges⋈ranks hash
    join + one map-side-combinable integer sum — K linear jobs,
    lineage cut per round via util.materialize (reliable when
    spark.checkpoint.dir is set, at cluster scale)."""
    pages = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("src_host", F.expr(_LINK_SRC_HOST))
        .withColumn("html", F.expr(_LINK_HTML_SYNTH))
    )
    edges = web.host_edges(web.extract_links(pages).drop("doc_id"))
    return web.pagerank(edges)


_FRONTIER_RATE = 2


def _link_frontier(spark: SparkSession, sf_dir: str):
    """(links, frontier) off the synthetic link pages: all extracted
    hrefs with their src_host, and the DISTINCT canonicalized
    (host, canonical_url) frontier of the absolute http(s) targets —
    shared by frontier_schedule and robots_frontier_filter."""
    pages = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("src_host", F.expr(_LINK_SRC_HOST))
        .withColumn("html", F.expr(_LINK_HTML_SYNTH))
    )
    links = web.extract_links(pages).drop("doc_id")
    abs_links = links.filter(
        F.expr("lower(split_part(href, '://', 1)) IN ('http', 'https')")
    ).select("href")
    canon = web.with_canonical_url(abs_links, "href")
    frontier = canon.select(
        F.expr(
            "split_part(split_part(split_part(canonical_url, '://', 2), '/', 1), ':', 1)"
        ).alias("host"),
        "canonical_url",
    ).distinct()
    return links, frontier


def _canon_ctes(src: str, col: str, pfx: str) -> tuple[str, str]:
    """The DuckDB twin of web.with_canonical_url as a reusable CTE
    chain: canonicalizes column ``col`` of CTE ``src``, carrying every
    other column of ``src`` through.  CTE/intermediate names are
    ``pfx``-prefixed so several chains can coexist in one oracle (href
    frontier, sitemap locs).  Returns (body, final_cte_name); the
    final CTE adds ``canonical_url``.

    COALESCE on the query rebuild: DuckDB's array_to_string over an
    EMPTY list is NULL — a URL with no query at all — which would slip
    past the cq = '' branch and emit a bare '?'."""
    return f"""{pfx}parts AS (
      SELECT *,
             lower(split_part({col}, '://', 1)) AS {pfx}scheme,
             split_part(substr({col}, length(split_part({col}, '://', 1)) + 4), '#', 1) AS {pfx}rest
      FROM {src}
    ),
    {pfx}fields AS (
      SELECT *,
             split_part(lower(split_part(split_part({pfx}rest, '?', 1), '/', 1)), ':', 1) AS {pfx}hname,
             split_part(lower(split_part(split_part({pfx}rest, '?', 1), '/', 1)), ':', 2) AS {pfx}hport,
             substr({pfx}rest, length(split_part(split_part({pfx}rest, '?', 1), '/', 1)) + 1) AS {pfx}pathq
      FROM {pfx}parts
    ),
    {pfx}pq AS (
      SELECT *, split_part({pfx}pathq, '?', 1) AS {pfx}p,
             COALESCE(array_to_string(list_sort(list_filter(string_split(
               CASE WHEN instr({pfx}pathq, '?') > 0
                    THEN substr({pfx}pathq, instr({pfx}pathq, '?') + 1) ELSE '' END, '&'),
               x -> x <> '' AND substr(x, 1, 4) <> 'utm_'
                    AND NOT list_contains(['fbclid','gclid','ref','mc_eid','igshid'],
                                          split_part(x, '=', 1)))), '&'), '') AS {pfx}cq
      FROM {pfx}fields
    ),
    {pfx}canon AS (
      SELECT *, concat({pfx}scheme, '://',
        CASE WHEN substr({pfx}hname, 1, 4) = 'www.' THEN substr({pfx}hname, 5) ELSE {pfx}hname END,
        CASE WHEN {pfx}hport = '' OR ({pfx}scheme = 'https' AND {pfx}hport = '443')
                  OR ({pfx}scheme = 'http' AND {pfx}hport = '80') THEN ''
             ELSE concat(':', {pfx}hport) END,
        CASE WHEN {pfx}p IN ('', '/') THEN '/'
             WHEN substr({pfx}p, length({pfx}p), 1) = '/' THEN substr({pfx}p, 1, length({pfx}p) - 1)
             ELSE {pfx}p END,
        CASE WHEN {pfx}cq = '' THEN '' ELSE concat('?', {pfx}cq) END) AS canonical_url
      FROM {pfx}pq
    )""", f"{pfx}canon"


_ANCHOR_PAT = '(?i)<a [^>]*href="([^"]+)"[^>]*>([^<]*)</a>'
_ANCHOR_CANON_BODY, _ANCHOR_CANON_FINAL = _canon_ctes("anch", "href", "at")

_ANCHOR_AGG_SQL = f"""
    WITH pages AS (SELECT doc_id, {_LINK_HTML_SYNTH} AS html FROM documents),
    m AS (
      SELECT doc_id,
             unnest(regexp_extract_all(html, '{_ANCHOR_PAT}', 0)) AS a
      FROM pages
    ),
    anch0 AS (
      SELECT doc_id,
             regexp_extract(a, '{_ANCHOR_PAT}', 1) AS href,
             regexp_extract(a, '{_ANCHOR_PAT}', 2) AS anchor_text
      FROM m
    ),
    anch AS (SELECT * FROM anch0 WHERE regexp_matches(href, '^(?i)https?://')),
    {_ANCHOR_CANON_BODY},
    tgt AS (
      SELECT doc_id, anchor_text, canonical_url AS target
      FROM {_ANCHOR_CANON_FINAL}
    ),
    per AS (
      SELECT target, CAST(count(*) AS BIGINT) AS n_inlinks,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_src_docs,
             CAST(count(DISTINCT anchor_text) AS BIGINT) AS n_distinct_texts
      FROM tgt GROUP BY 1
    ),
    terms AS (
      SELECT target,
             unnest(list_filter(string_split(lower(anchor_text), ' '),
                                x -> x <> '')) AS term
      FROM tgt
    ),
    tc AS (
      SELECT target, term, CAST(count(*) AS BIGINT) AS cnt
      FROM terms GROUP BY 1, 2
    ),
    top AS (
      SELECT target, term AS top_term, cnt AS top_term_count FROM (
        SELECT *, row_number() OVER (PARTITION BY target
                   ORDER BY cnt DESC, term DESC) AS rn
        FROM tc)
      WHERE rn = 1
    )
    SELECT p.target, p.n_inlinks, p.n_src_docs, p.n_distinct_texts,
           t.top_term, t.top_term_count
    FROM per p LEFT JOIN top t USING (target)
    """


@q("anchor_text_agg", _ANCHOR_AGG_SQL)
def anchor_text_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target anchor-text aggregation (operators/web.py
    extract_anchors + anchor_text_agg): every <a href>text</a> pair
    extracted from the link-graph pages, absolute http(s) hrefs
    canonicalized to targets (relative-link resolution is upstream by
    contract), then per target: inlink count, distinct source docs,
    distinct anchor strings, and the modal anchor TERM — the inbound
    label profile web search keeps per URL and crawl curation reuses
    to score frontiers.  Every aggregate is map-side combinable and
    windowless (the modal term is the blocklist-style struct-max, tie
    → lexicographically largest term), so a mega-target (every page
    links the homepage) reduces via partials, never one task; no
    collect_set anywhere.  The oracle replays extraction,
    canonicalization, and both aggregation stages."""
    pages = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn("html", F.expr(_LINK_HTML_SYNTH))
        .drop("text")
    )
    anchors = web.extract_anchors(pages).filter(
        F.col("href").rlike("^(?i)https?://")
    )
    return web.anchor_text_agg(anchors)


# the href-canonicalization + distinct-frontier CTE chain shared by the
# frontier_schedule / robots_frontier_filter / frontier_pipeline
# oracles (consumes the `links` CTE from _LINK_GRAPH_CTES)
_FRONTIER_CTES = f"""alink AS (
      SELECT href FROM links
      WHERE lower(split_part(href, '://', 1)) IN ('http', 'https')
    ),
    {_canon_ctes("alink", "href", "f")[0]},
    frontier AS (
      SELECT DISTINCT
        split_part(split_part(split_part(canonical_url, '://', 2), '/', 1), ':', 1) AS host,
        canonical_url
      FROM fcanon
    )"""


def _frontier_sql() -> str:
    """DuckDB twin of the frontier_schedule composition: link graph →
    PageRank chain (shared _pagerank_ctes) + href canonicalization
    (the _URL_CANON_CTES chain applied to hrefs) + the politeness
    rank, as a plain one-task-per-host window (oracles don't need the
    two-phase trick)."""
    pr_body, pr_final = _pagerank_ctes()
    return f"""
    WITH {_LINK_GRAPH_CTES},
    {pr_body},
    {_FRONTIER_CTES},
    pri AS (
      SELECT f.host, f.canonical_url, CAST(COALESCE(r.pr, 0) AS BIGINT) AS host_pr
      FROM frontier f LEFT JOIN {pr_final} r ON r.host = f.host
    ),
    sl AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY host
           ORDER BY md5(canonical_url), canonical_url) AS BIGINT) AS slot_in_host
      FROM pri
    )
    SELECT host, canonical_url, host_pr, slot_in_host,
           CAST((slot_in_host - 1) // {_FRONTIER_RATE} AS BIGINT) AS fetch_wave
    FROM sl
    """


@q("frontier_schedule", _frontier_sql())
def frontier_schedule_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier politeness scheduling (operators/web.py
    frontier_schedule; VERDICT r8 ask #6) — closes the crawl loop:
    the link graph DISCOVERS URLs (extract_links), PageRank
    PRIORITIZES hosts (web.pagerank), and this stage decides WHEN each
    URL may be fetched — at most ``per_host_rate`` = 2 URLs per host
    per wave, slots assigned in the deterministic md5(url) permutation
    within each host, PageRank carried through as the within-wave
    priority.  The oracle replays the WHOLE composition — href
    extraction, absolute-link filter, full URL canonicalization,
    distinct frontier, the 5-round exact-int PageRank chain, the
    politeness rank — with a plain one-task-per-host window; the
    Spark plan computes the SAME slot via per-(host, md5-prefix
    bucket) local ranks + a ≤ 256-row-per-host offset window, so a
    mega-host never funnels through one task."""
    links, frontier = _link_frontier(spark, sf_dir)
    edges = web.host_edges(links)
    ranks = web.pagerank(edges)
    # r13: the prioritized frontier feeds the politeness rank's two
    # passes (per-bucket counts + the local rank join) — materialize it
    # once (guide §2.4)
    pri = (
        frontier.join(ranks, "host", "left")
        .withColumn("host_pr", F.coalesce(F.col("pr"), F.lit(0)).cast("long"))
        .drop("pr")
    ).transform(materialize)
    return web.frontier_schedule(pri, per_host_rate=_FRONTIER_RATE).select(
        "host", "canonical_url", "host_pr", "slot_in_host", "fetch_wave"
    )


# per-host robots synthesis: hosts h(N) with N % 5 == 0 publish no
# robots file (everything allowed by default), the rest disallow the
# /articles/1 prefix (which blocks /articles/1 AND /articles/10..19 —
# the bytewise-prefix rule) but Allow the longer /articles/12; every
# third host additionally disallows / (block-all with carve-outs) —
# spelled 'disallow:' in lowercase to pin the RFC 9309
# case-insensitive directive-name rule (ADVICE r9: the old
# case-sensitive parser silently dropped such lines, turning a
# block-all host into allow-all)
_ROBOTS_TXT_SYNTH = """
    concat('User-agent: *', chr(10),
           'Disallow: /articles/1', chr(10),
           'Allow: /articles/12',
           CASE WHEN n % 3 = 0 THEN concat(chr(10), 'disallow: /') ELSE '' END)"""


def _robots_rule_ctes(frontier_cte: str) -> str:
    """The per-host robots rule-table CTEs over ``frontier_cte``
    (host, …): synthesized robots text → Allow/Disallow rule rows.
    TRY_CAST in hostn: filter pushdown may evaluate the host-number
    extract below the absolute-link filter, where a relative href's
    empty host yields '' — try_cast nulls it instead of aborting."""
    return f"""hostn AS (
      SELECT DISTINCT host,
             TRY_CAST(regexp_extract(host, '^h([0-9]+)\\.', 1) AS INT) AS n
      FROM {frontier_cte}
    ),
    rb AS (
      SELECT host, {_ROBOTS_TXT_SYNTH} AS robots_txt
      FROM hostn WHERE n % 5 <> 0
    ),
    rlines AS (
      SELECT host, unnest(string_split(robots_txt, chr(10))) AS line FROM rb
    ),
    rrules AS (
      SELECT host,
             CASE WHEN lower(line) LIKE 'allow:%' THEN 'allow' ELSE 'disallow' END AS rule,
             trim(CASE WHEN lower(line) LIKE 'allow:%' THEN substr(line, 7)
                       ELSE substr(line, 10) END) AS path_prefix
      FROM rlines
      WHERE lower(line) LIKE 'allow:%' OR lower(line) LIKE 'disallow:%'
    ),
    rr AS (
      SELECT *, length(path_prefix) AS prefix_len FROM rrules
      WHERE path_prefix <> ''
    )"""


def _robots_match_ctes(frontier_cte: str) -> str:
    """fpaths/rmatch: per-URL winning robots rule (the sortable-encoding
    MAX) over ``frontier_cte`` joined to the ``rr`` rule table —
    consumed as ``fpaths LEFT JOIN rmatch USING (canonical_url)``."""
    return f"""fpaths AS (
      SELECT *, substr(substr(canonical_url, length(split_part(canonical_url, '://', 1)) + 4),
                    length(split_part(substr(canonical_url, length(split_part(canonical_url, '://', 1)) + 4), '/', 1)) + 1) AS rpath
      FROM {frontier_cte}
    ),
    rmatch AS (
      SELECT f.canonical_url,
             max(lpad(CAST(r.prefix_len AS VARCHAR), 6, '0')
                 || CASE WHEN r.rule = 'allow' THEN '1' ELSE '0' END
                 || r.path_prefix) AS best
      FROM fpaths f JOIN rr r
        ON r.host = f.host
       AND substr(f.rpath, 1, r.prefix_len) = r.path_prefix
      GROUP BY f.canonical_url
    )"""


@q(
    "robots_frontier_filter",
    f"""
    WITH {_LINK_GRAPH_CTES},
    {_FRONTIER_CTES},
    {_robots_rule_ctes("frontier")},
    {_robots_match_ctes("frontier")}
    SELECT f.host, f.canonical_url,
           (m.best IS NULL OR substr(m.best, 7, 1) = '1') AS allowed,
           CASE WHEN m.best IS NULL THEN '' ELSE substr(m.best, 8) END AS matched_rule
    FROM fpaths f LEFT JOIN rmatch m USING (canonical_url)
    """,
)
def robots_frontier_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt rule filtering over the crawl frontier
    (operators/web.py parse_robots + robots_filter) — the OTHER half
    of politeness beside frontier_schedule's rate limiting: WHAT may
    be fetched at all, with the real RFC 9309 precedence (longest
    matching prefix wins, Allow beats Disallow on a length tie, no
    match → allowed).  The fixture pins every precedence edge: the
    bytewise-prefix rule (Disallow /articles/1 blocks /articles/10..19
    too), the longer-Allow carve-out (/articles/12 survives), the
    block-all-with-carve-outs host (Disallow / beaten by both longer
    rules), and the no-robots default-allow host.  The winning rule is
    a map-side-combinable MAX over sortable rule encodings — no window
    anywhere; the rule table is hosts × a handful of lines and the
    frontier join carries (host, short strings)."""
    _, frontier = _link_frontier(spark, sf_dir)
    rules = web.parse_robots(_synth_robots(frontier))
    return web.robots_filter(frontier, rules).select(
        "host", "canonical_url", "allowed", "matched_rule"
    )


def _synth_robots(frontier: DataFrame) -> DataFrame:
    """Spark twin of _robots_rule_ctes' synthesized robots table over
    the frontier's hosts.  try_cast mirrors the oracle's TRY_CAST:
    under ANSI mode a pushed-down '' → INT cast would otherwise abort
    the scan if the planner reorders it below the absolute-link
    filter."""
    hostn = frontier.select("host").distinct().withColumn(
        "n",
        F.expr(r"try_cast(regexp_extract(host, '^h([0-9]+)\\.', 1) AS INT)"),
    )
    return (
        hostn.filter(F.col("n") % 5 != 0)
        .withColumn(
            "robots_txt",
            F.concat(
                F.lit("User-agent: *\nDisallow: /articles/1\nAllow: /articles/12"),
                F.when(F.col("n") % 3 == 0, F.lit("\ndisallow: /")).otherwise(
                    F.lit("")
                ),
            ),
        )
        .select("host", "robots_txt")
    )


# sitemap XML synthesis per host h(N): the canonical article page, a
# DELIBERATELY messy second loc (padded whitespace, WWW., mixed case,
# trailing slash — proving sitemap URLs flow through the same
# canonicalizer as hrefs) and a /promo page the LINK GRAPH never
# reaches — sitemap-only discoveries are what make the union frontier
# meaningful.  Engine-portable concat (Spark SQL + DuckDB).
_SITEMAP_SYNTH = """
    concat('<?xml version="1.0"?><urlset>',
      '<url><loc>https://h', CAST(n AS STRING), '.example.com/articles/',
        CAST(n % 40 AS STRING), '</loc><lastmod>2026-0',
        CAST(n % 9 + 1 AS STRING), '-15</lastmod></url>',
      '<url><loc> https://WWW.h', CAST(n AS STRING), '.Example.COM/articles/',
        CAST((n * 7 + 3) % 40 AS STRING), '/ </loc></url>',
      '<url><loc>https://h', CAST(n AS STRING), '.example.com/promo/',
        CAST(n AS STRING), '</loc></url>',
      '</urlset>')"""

# the sitemap parse + canonicalize CTE chain (consumes `documents`),
# ending in smfrontier(host, canonical_url) — shared by sitemap_ingest
# and frontier_pipeline
_SITEMAP_CTES = f"""smhost AS (
      SELECT DISTINCT CAST(doc_id % 97 AS INT) AS n FROM documents
    ),
    sm AS (SELECT n, {_SITEMAP_SYNTH} AS sitemap_xml FROM smhost),
    smblocks AS (
      SELECT n, unnest(regexp_extract_all(sitemap_xml, '(?s)<url>(.*?)</url>', 1)) AS block
      FROM sm
    ),
    sment AS (
      SELECT trim(regexp_extract(block, '(?s)<loc>(.*?)</loc>', 1)) AS loc,
             trim(regexp_extract(block, '(?s)<lastmod>(.*?)</lastmod>', 1)) AS lastmod
      FROM smblocks
    ),
    smv AS (SELECT * FROM sment WHERE loc <> ''),
    {_canon_ctes("smv", "loc", "s")[0]},
    smfrontier AS (
      SELECT DISTINCT
        split_part(split_part(split_part(canonical_url, '://', 2), '/', 1), ':', 1) AS host,
        canonical_url
      FROM scanon
    )"""


def _sitemap_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _SITEMAP_CTES through scanon: parsed + canonicalized
    sitemap entries (loc, lastmod, canonical_url)."""
    hosts = (
        _tbl(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 97).cast("int").alias("n"))
        .distinct()
    )
    sm = hosts.withColumn("sitemap_xml", F.expr(_SITEMAP_SYNTH))
    entries = web.parse_sitemap(sm, keep=()).select("loc", "lastmod")
    return web.with_canonical_url(entries, "loc")


_FRONTIER_HOST = (
    "split_part(split_part(split_part(canonical_url, '://', 2), '/', 1), ':', 1)"
)


@q(
    "sitemap_ingest",
    f"""
    WITH {_SITEMAP_CTES}
    SELECT {_FRONTIER_HOST} AS host, canonical_url, lastmod
    FROM scanon
    """,
)
def sitemap_ingest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap ingestion (operators/web.py parse_sitemap) — the second
    frontier DISCOVERY channel beside link extraction: the sitemaps.org
    <urlset> format parsed with block-scoped two-level regex (a lastmod
    can never pair with a neighboring entry's loc), locs flowing
    through the SAME canonicalizer as hrefs — pinned by the planted
    messy loc (padded whitespace, WWW., mixed case, trailing slash).
    Scan-side extract+explode, zero shuffle; every (host, canonical,
    lastmod) row value-hash-gated."""
    canon = _sitemap_entries(spark, sf_dir)
    return canon.select(
        F.expr(_FRONTIER_HOST).alias("host"), "canonical_url", "lastmod"
    )


# robots.txt synthesis for Sitemap: discovery — per host h(N): every
# 7th host has NO directive (falls back to the /sitemap.xml default
# probe), n%7==1 uses a lowercase 'sitemap:' key, n%7==2 an uppercase
# key with a MESSY url (WWW., mixed case — canonicalizer reuse), the
# rest carry TWO directives.
_RSD_SYNTH = """
    concat('User-agent: *', chr(10), 'Disallow: /private', chr(10),
      CASE n % 7
        WHEN 0 THEN ''
        WHEN 1 THEN concat('sitemap: https://h', CAST(n AS STRING),
                           '.example.com/sitemap-index.xml')
        WHEN 2 THEN concat('SITEMAP:   https://WWW.h', CAST(n AS STRING),
                           '.Example.COM/sitemap-index.xml')
        ELSE concat('Sitemap: https://h', CAST(n AS STRING),
                    '.example.com/sitemap-index.xml', chr(10),
                    'Sitemap: https://h', CAST(n AS STRING),
                    '.example.com/sitemap-news.xml')
      END)"""

_RSD_CANON = _canon_ctes("rsdent", "sm_url", "rsd")

_ROBOTS_SITEMAP_SQL = f"""
    WITH smhost AS (
      SELECT DISTINCT CAST(doc_id % 97 AS INT) AS n FROM documents
    ),
    rb AS (
      SELECT concat('h', CAST(n AS STRING), '.example.com') AS host,
             {_RSD_SYNTH} AS robots_txt
      FROM smhost
    ),
    lines AS (
      SELECT host, unnest(string_split(robots_txt, chr(10))) AS l FROM rb
    ),
    rsdent AS (
      SELECT host,
             trim(regexp_extract(l, '(?i)^\\s*sitemap:\\s*(.*)$', 1)) AS sm_url
      FROM lines
      WHERE trim(regexp_extract(l, '(?i)^\\s*sitemap:\\s*(.*)$', 1)) <> ''
    ),
    {_RSD_CANON[0]},
    directives AS (
      SELECT host, canonical_url AS sitemap_url, 'directive' AS src
      FROM {_RSD_CANON[1]}
    )
    SELECT host, sitemap_url, src FROM directives
    UNION ALL
    SELECT r.host, concat('https://', r.host, '/sitemap.xml'), 'default'
    FROM rb r
    WHERE NOT EXISTS (SELECT 1 FROM directives d WHERE d.host = r.host)
    """


@q("robots_sitemap_discovery", _ROBOTS_SITEMAP_SQL)
def robots_sitemap_discovery_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery from robots.txt (operators/web.py
    parse_sitemap_directives) — the missing link of the discovery
    chain: every crawler reads the de-facto ``Sitemap:`` directive
    (case-insensitive key, full-URL value extracted by anchored regex
    because split-on-colon truncates at the scheme), canonicalizes it
    with the SAME canonicalizer as hrefs (pinned by the planted messy
    uppercase-key row), honors MULTIPLE directives per file, and falls
    back to probing /sitemap.xml for hosts whose robots carries none
    (every 7th host plants that branch).  Scan-side split+filter; the
    fallback is one host-keyed anti-join."""
    hosts = (
        _tbl(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 97).cast("int").alias("n"))
        .distinct()
    )
    rb = hosts.select(
        F.expr("concat('h', CAST(n AS STRING), '.example.com')").alias("host"),
        F.expr(_RSD_SYNTH).alias("robots_txt"),
    )
    dirs = web.parse_sitemap_directives(rb, keep=("host",))
    dirs_c = web.with_canonical_url(dirs, "sm_url").select(
        "host",
        F.col("canonical_url").alias("sitemap_url"),
        F.lit("directive").alias("src"),
    )
    defaults = rb.join(dirs_c, "host", "left_anti").select(
        "host",
        F.expr("concat('https://', host, '/sitemap.xml')").alias("sitemap_url"),
        F.lit("default").alias("src"),
    )
    return dirs_c.unionByName(defaults)


# sitemapindex synthesis per host h(N): two live sub-sitemaps — the
# articles one clean, the promo one DELIBERATELY messy (padded
# whitespace, WWW., mixed case: index locs flow through the SAME
# canonicalizer before the body join) — plus, on every 5th host, a
# stale entry whose sub-sitemap no longer exists (the dead-letter row).
_SMIDX_SYNTH = """
    concat('<?xml version="1.0"?><sitemapindex>',
      '<sitemap><loc>https://h', CAST(n AS STRING),
        '.example.com/sitemap-articles.xml</loc><lastmod>2026-03-0',
        CAST(n % 9 + 1 AS STRING), '</lastmod></sitemap>',
      '<sitemap><loc> https://WWW.h', CAST(n AS STRING),
        '.Example.COM/sitemap-promo.xml </loc></sitemap>',
      CASE WHEN n % 5 = 0 THEN concat('<sitemap><loc>https://h',
        CAST(n AS STRING), '.example.com/sitemap-old.xml</loc></sitemap>')
        ELSE '' END,
      '</sitemapindex>')"""

# sub-sitemap BODIES keyed by their canonical URL: articles carries two
# pages (one with lastmod), promo one page; sitemap-old has no body row
_SMIDX_BODY_ART = """
    concat('<?xml version="1.0"?><urlset>',
      '<url><loc>https://h', CAST(n AS STRING), '.example.com/articles/',
        CAST(n % 40 AS STRING), '</loc><lastmod>2026-0',
        CAST(n % 9 + 1 AS STRING), '-20</lastmod></url>',
      '<url><loc>https://h', CAST(n AS STRING), '.example.com/articles/',
        CAST((n * 3 + 1) % 40 AS STRING), '</loc></url>',
      '</urlset>')"""
_SMIDX_BODY_PROMO = """
    concat('<?xml version="1.0"?><urlset>',
      '<url><loc>https://h', CAST(n AS STRING), '.example.com/promo/',
        CAST(n AS STRING), '</loc></url>',
      '</urlset>')"""

_SMIDX_CANON = _canon_ctes("sient", "sm_loc", "si")
_SMIDX_PAGE_CANON = _canon_ctes("pgent", "loc", "pg")

_SITEMAP_INDEX_SQL = f"""
    WITH smhost AS (
      SELECT DISTINCT CAST(doc_id % 97 AS INT) AS n FROM documents
    ),
    sidx AS (SELECT n, {_SMIDX_SYNTH} AS idx_xml FROM smhost),
    siblk AS (
      SELECT n, unnest(regexp_extract_all(idx_xml,
               '(?s)<sitemap>(.*?)</sitemap>', 1)) AS block
      FROM sidx
    ),
    sient AS (
      SELECT n,
             trim(regexp_extract(block, '(?s)<loc>(.*?)</loc>', 1)) AS sm_loc
      FROM siblk
      WHERE trim(regexp_extract(block, '(?s)<loc>(.*?)</loc>', 1)) <> ''
    ),
    {_SMIDX_CANON[0]},
    bodies AS (
      SELECT n, concat('https://h', CAST(n AS STRING),
               '.example.com/sitemap-articles.xml') AS body_url,
             {_SMIDX_BODY_ART} AS xml
      FROM smhost
      UNION ALL
      SELECT n, concat('https://h', CAST(n AS STRING),
               '.example.com/sitemap-promo.xml') AS body_url,
             {_SMIDX_BODY_PROMO} AS xml
      FROM smhost
    ),
    fetched AS (
      SELECT s.n, s.canonical_url AS sub_url, b.xml
      FROM {_SMIDX_CANON[1]} s
      LEFT JOIN bodies b ON b.n = s.n AND b.body_url = s.canonical_url
    ),
    pgent AS (
      SELECT n, sub_url,
             trim(regexp_extract(ub, '(?s)<loc>(.*?)</loc>', 1)) AS loc,
             trim(regexp_extract(ub, '(?s)<lastmod>(.*?)</lastmod>', 1)) AS lastmod
      FROM (
        SELECT n, sub_url, unnest(regexp_extract_all(xml,
                 '(?s)<url>(.*?)</url>', 1)) AS ub
        FROM fetched WHERE xml IS NOT NULL
      )
      WHERE trim(regexp_extract(ub, '(?s)<loc>(.*?)</loc>', 1)) <> ''
    ),
    {_SMIDX_PAGE_CANON[0]}
    SELECT split_part(split_part(split_part(sub_url, '://', 2), '/', 1), ':', 1)
             AS host,
           split_part(sub_url, '.example.com', 2) AS sub_path,
           'ok' AS status, canonical_url, lastmod
    FROM {_SMIDX_PAGE_CANON[1]}
    UNION ALL
    SELECT split_part(split_part(split_part(sub_url, '://', 2), '/', 1), ':', 1),
           split_part(sub_url, '.example.com', 2),
           'missing', NULL, NULL
    FROM fetched WHERE xml IS NULL
    """


@q("sitemap_index_ingest", _SITEMAP_INDEX_SQL)
def sitemap_index_ingest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-INDEX ingestion (operators/web.py parse_sitemap_index →
    parse_sitemap) — the nested discovery walk real large sites
    require: parse the <sitemapindex>, canonicalize its sub-sitemap
    locs with the SAME canonicalizer as hrefs (pinned by the planted
    messy promo loc), join each loc to its fetched body, parse every
    live body's <urlset> through the existing page path, and surface
    index entries whose sub-sitemap no longer exists as 'missing'
    dead-letter rows instead of dropping them silently (every 5th
    host plants one).  Scan-side extract+explode at both levels; the
    body join is a per-host equi-join — at scale the fetch layer, not
    a shuffle problem."""
    hosts = (
        _tbl(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 97).cast("int").alias("n"))
        .distinct()
    )
    idx = hosts.withColumn("idx_xml", F.expr(_SMIDX_SYNTH))
    subs = web.parse_sitemap_index(idx, xml_col="idx_xml", keep=("n",)).drop(
        "sm_lastmod"
    )
    subs_c = web.with_canonical_url(subs, "sm_loc").select(
        "n", F.col("canonical_url").alias("sub_url")
    )
    bodies = hosts.select(
        "n",
        F.expr(
            "concat('https://h', CAST(n AS STRING), "
            "'.example.com/sitemap-articles.xml')"
        ).alias("body_url"),
        F.expr(_SMIDX_BODY_ART).alias("xml"),
    ).unionByName(
        hosts.select(
            "n",
            F.expr(
                "concat('https://h', CAST(n AS STRING), "
                "'.example.com/sitemap-promo.xml')"
            ).alias("body_url"),
            F.expr(_SMIDX_BODY_PROMO).alias("xml"),
        )
    )
    fetched = subs_c.join(
        bodies,
        (subs_c["n"] == bodies["n"]) & (bodies["body_url"] == subs_c["sub_url"]),
        "left",
    ).select(subs_c["n"], "sub_url", "xml")
    live = fetched.filter(F.col("xml").isNotNull())
    pages = web.parse_sitemap(live, xml_col="xml", keep=("n", "sub_url"))
    pages_c = web.with_canonical_url(pages, "loc")
    host_of = "split_part(split_part(split_part(sub_url, '://', 2), '/', 1), ':', 1)"
    ok = pages_c.select(
        F.expr(host_of).alias("host"),
        F.expr("split_part(sub_url, '.example.com', 2)").alias("sub_path"),
        F.lit("ok").alias("status"),
        "canonical_url",
        "lastmod",
    )
    missing = fetched.filter(F.col("xml").isNull()).select(
        F.expr(host_of).alias("host"),
        F.expr("split_part(sub_url, '.example.com', 2)").alias("sub_path"),
        F.lit("missing").alias("status"),
        F.lit(None).cast("string").alias("canonical_url"),
        F.lit(None).cast("string").alias("lastmod"),
    )
    return ok.unionByName(missing)


@q(
    "frontier_pipeline",
    f"""
    WITH {_LINK_GRAPH_CTES},
    {_FRONTIER_CTES},
    {_SITEMAP_CTES},
    uni AS (
      SELECT host, canonical_url, 'link' AS src FROM frontier
      UNION ALL
      SELECT host, canonical_url, 'sitemap' FROM smfrontier
    ),
    ufrontier AS (
      SELECT host, canonical_url,
             array_to_string(list_sort(list_distinct(list(src))), ',') AS discovered_by
      FROM uni GROUP BY host, canonical_url
    ),
    {_robots_rule_ctes("ufrontier")},
    {_robots_match_ctes("ufrontier")},
    dec AS (
      SELECT f.host, f.canonical_url, f.discovered_by
      FROM fpaths f LEFT JOIN rmatch m USING (canonical_url)
      WHERE m.best IS NULL OR substr(m.best, 7, 1) = '1'
    ),
    sl AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY host
           ORDER BY md5(canonical_url), canonical_url) AS BIGINT) AS slot_in_host
      FROM dec
    )
    SELECT host, canonical_url, discovered_by, slot_in_host,
           CAST((slot_in_host - 1) // {_FRONTIER_RATE} AS BIGINT) AS fetch_wave
    FROM sl
    """,
)
def frontier_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl FRONTIER LOOP composed end-to-end: link extraction ∪
    sitemap ingestion (two discovery channels, each individually
    gated) → per-URL discovery provenance (``discovered_by`` —
    'link', 'sitemap', or both) → robots.txt rule filtering (RFC 9309
    longest-match precedence, disallowed URLs exit HERE) → per-host
    politeness scheduling over the SURVIVORS.  This row attests the
    COMPOSITION the way crawl_pipeline attests the content side: what
    a crawler actually fetches next round, from raw discovery to
    rate-limited wave assignment, value-hashed end to end.  Scale
    shape: the union groupBy carries (host, url, 4-byte src); robots
    and scheduling reuse the audited per-stage plans (rule-table
    equi-join + MAX, per-(host, bucket) two-phase rank)."""
    _, lfront = _link_frontier(spark, sf_dir)
    sfront = (
        _sitemap_entries(spark, sf_dir)
        .select(F.expr(_FRONTIER_HOST).alias("host"), "canonical_url")
        .distinct()
    )
    uni = lfront.withColumn("src", F.lit("link")).unionByName(
        sfront.withColumn("src", F.lit("sitemap"))
    )
    # r13 (guide §2.4): ufront feeds the robots synthesis AND both sides
    # of robots_filter's rule join; allowed feeds both branches of
    # frontier_schedule's two-phase rank — uncut, the link-extraction +
    # canonicalize + union chain replayed ~5×.  Lazy: the narrow
    # (host, url, discovered_by) tables materialize at first use inside
    # the timed action.
    ufront = (
        uni.groupBy("host", "canonical_url")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("src"))).alias(
                "discovered_by"
            )
        )
        .transform(materialize, eager=False)
    )
    rules = web.parse_robots(_synth_robots(ufront))
    allowed = (
        web.robots_filter(ufront, rules)
        .filter(F.col("allowed"))
        .select("host", "canonical_url", "discovered_by")
        .transform(materialize, eager=False)
    )
    return web.frontier_schedule(allowed, per_host_rate=_FRONTIER_RATE).select(
        "host", "canonical_url", "discovered_by", "slot_in_host", "fetch_wave"
    )


# --- user-agent group selection + wildcard robots (VERDICT r9 #3/#4) ------

_UA_AGENT = "fwbot/1.0"  # the crawler's product token (already lowercase)

# multi-group robots synthesis per host h(N), N % 5 != 0 (the rest
# publish no robots file).  Pins every UA-group edge: a non-matching
# specific group (googlebot), a comment line, CONSECUTIVE UA lines
# heading one group (FWBot+extrabot — FWBot also pins case-insensitive
# token match), wildcard rules (*, trailing $, lowercase directive),
# a shorter-match group (fw), a SECOND group with the same winning
# token (fwbot, N % 9 == 0 — rules must COMBINE), and the * fallback
# group (wins only when every specific group is absent: N % 7 == 0
# and N % 11 == 0).
_UA_ROBOTS_SYNTH = """
    concat(
      'User-agent: googlebot', chr(10), 'Disallow: /', chr(10),
      '# synthetic UA-group fixture', chr(10),
      CASE WHEN n % 7 <> 0 THEN concat(
        'User-agent: FWBot', chr(10),
        'User-agent: extrabot', chr(10),
        'Disallow: /articles/*3', chr(10),
        'Allow: /articles/*3$', chr(10),
        'Crawl-delay: ', CAST(n % 4 + 1 AS STRING),
        CASE WHEN n % 3 = 0 THEN concat(chr(10), 'disallow: /articles/1*') ELSE '' END,
        CASE WHEN n % 4 = 0 THEN concat(chr(10), 'Disallow: /$') ELSE '' END,
        chr(10)) ELSE '' END,
      CASE WHEN n % 11 <> 0 THEN concat('User-agent: fw', chr(10), 'Disallow: /articles/*', chr(10)) ELSE '' END,
      CASE WHEN n % 9 = 0 AND n % 7 <> 0 THEN concat('User-agent: fwbot', chr(10), 'Disallow: /articles/39$', chr(10)) ELSE '' END,
      'User-agent: *', chr(10), 'Allow: /articles/2*')"""


def _ua_section_ctes(frontier_cte: str) -> str:
    """DuckDB twin of web.select_agent_section over the synthesized
    multi-group robots of ``frontier_cte``'s hosts: zipped unnest
    gives (pos, line); a UA line after a non-UA line starts a group
    (lag + running sum); groups are scored by their best
    case-insensitive prefix-match token ('*' = 0) and the host-best
    groups' rule lines survive as ``uarules(host, pos, line)``."""
    return f"""uahostn AS (
      SELECT DISTINCT host,
             TRY_CAST(regexp_extract(host, '^h([0-9]+)\\.', 1) AS INT) AS n
      FROM {frontier_cte}
    ),
    uarb AS (
      SELECT host, {_UA_ROBOTS_SYNTH} AS robots_txt
      FROM uahostn WHERE n % 5 <> 0
    ),
    ualines AS (
      SELECT host,
             unnest(string_split(robots_txt, chr(10))) AS line,
             unnest(generate_series(1, len(string_split(robots_txt, chr(10))))) AS pos
      FROM uarb
    ),
    uaflag AS (
      SELECT *, (lower(line) LIKE 'user-agent:%') AS is_ua FROM ualines
    ),
    uanew AS (
      SELECT *, CASE WHEN is_ua AND NOT COALESCE(
               lag(is_ua) OVER (PARTITION BY host ORDER BY pos), false)
             THEN 1 ELSE 0 END AS newg
      FROM uaflag
    ),
    uagrp AS (
      SELECT *, sum(newg) OVER (PARTITION BY host ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS gid
      FROM uanew
    ),
    uaspec AS (
      SELECT host, gid,
             CASE WHEN lower(trim(substr(line, 12))) = '*' THEN 0
                  WHEN substr('{_UA_AGENT}', 1, length(trim(substr(line, 12))))
                       = lower(trim(substr(line, 12)))
                  THEN length(trim(substr(line, 12))) END AS spec
      FROM uagrp WHERE is_ua AND gid > 0
    ),
    uags AS (
      SELECT host, gid, max(spec) AS gspec FROM uaspec
      WHERE spec IS NOT NULL GROUP BY host, gid
    ),
    uahs AS (SELECT host, max(gspec) AS hspec FROM uags GROUP BY host),
    uawin AS (
      SELECT g.host, g.gid FROM uags g
      JOIN uahs h ON g.host = h.host AND g.gspec = h.hspec
    ),
    uarules AS (
      SELECT u.host, u.pos, u.line FROM uagrp u
      JOIN uawin w ON u.host = w.host AND u.gid = w.gid
      WHERE lower(u.line) LIKE 'allow:%' OR lower(u.line) LIKE 'disallow:%'
         OR lower(u.line) LIKE 'crawl-delay:%'
    )"""


def _synth_ua_robots(frontier: DataFrame) -> DataFrame:
    """Spark twin of _ua_section_ctes' uarb: the multi-group robots
    table over the frontier's hosts (try_cast: same pushdown defense
    as _synth_robots)."""
    hostn = frontier.select("host").distinct().withColumn(
        "n",
        F.expr(r"try_cast(regexp_extract(host, '^h([0-9]+)\\.', 1) AS INT)"),
    )
    return (
        hostn.filter(F.col("n") % 5 != 0)
        .withColumn("robots_txt", F.expr(_UA_ROBOTS_SYNTH))
        .select("host", "robots_txt")
    )


@q(
    "robots_agent_section",
    f"""
    WITH {_LINK_GRAPH_CTES},
    {_FRONTIER_CTES},
    {_ua_section_ctes("frontier")}
    SELECT host, string_agg(line, chr(10) ORDER BY pos) AS robots_txt
    FROM uarules GROUP BY host
    """,
)
def robots_agent_section_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-agent GROUP selection (operators/web.py
    select_agent_section; VERDICT r9 ask #4) — the fetcher step the
    literal rule filter documents as its input contract: RFC 9309
    §2.2.1 says a crawler obeys the group whose agent token is the
    LONGEST case-insensitive match for its product token, '*' as the
    fallback, equally-specific groups COMBINING.  The fixture plants
    every edge (see _UA_ROBOTS_SYNTH) and the value hash pins the
    exact selected rule text per host — consecutive-UA grouping, the
    case-insensitive FWBot token, the combining second fwbot group,
    the fw shorter match winning only where fwbot's groups are
    absent, and the * fallback host."""
    _, frontier = _link_frontier(spark, sf_dir)
    return web.select_agent_section(_synth_ua_robots(frontier), _UA_AGENT)


# the wildcard-pattern → anchored-regex translation + match CTEs over
# the uarules selection (consumed as wfp LEFT JOIN wmatch)
_WILDCARD_MATCH_CTES = f"""rrw AS (
      SELECT host,
             CASE WHEN lower(line) LIKE 'allow:%' THEN 'allow' ELSE 'disallow' END AS rule,
             trim(CASE WHEN lower(line) LIKE 'allow:%' THEN substr(line, 7)
                       ELSE substr(line, 10) END) AS path_prefix
      FROM uarules
      WHERE lower(line) LIKE 'allow:%' OR lower(line) LIKE 'disallow:%'
    ),
    rrwp AS (
      SELECT *, length(path_prefix) AS prefix_len FROM rrw WHERE path_prefix <> ''
    ),
    rrwx AS (
      SELECT *,
             '^' || replace(regexp_replace(
                 CASE WHEN substr(path_prefix, length(path_prefix), 1) = '$'
                      THEN substr(path_prefix, 1, length(path_prefix) - 1)
                      ELSE path_prefix END,
                 '([^a-zA-Z0-9*])', '\\\\\\1', 'g'), '*', '.*')
             || CASE WHEN substr(path_prefix, length(path_prefix), 1) = '$'
                     THEN '$' ELSE '' END AS rx
      FROM rrwp
    ),
    wfp AS (
      SELECT *, substr(substr(canonical_url, length(split_part(canonical_url, '://', 1)) + 4),
                    length(split_part(substr(canonical_url, length(split_part(canonical_url, '://', 1)) + 4), '/', 1)) + 1) AS rpath
      FROM frontier
    ),
    wmatch AS (
      SELECT f.canonical_url,
             max(lpad(CAST(r.prefix_len AS VARCHAR), 6, '0')
                 || CASE WHEN r.rule = 'allow' THEN '1' ELSE '0' END
                 || r.path_prefix) AS best
      FROM wfp f JOIN rrwx r
        ON r.host = f.host AND regexp_matches(f.rpath, r.rx)
      GROUP BY f.canonical_url
    )"""


@q(
    "robots_wildcard_filter",
    f"""
    WITH {_LINK_GRAPH_CTES},
    {_FRONTIER_CTES},
    {_ua_section_ctes("frontier")},
    {_WILDCARD_MATCH_CTES}
    SELECT f.host, f.canonical_url,
           (m.best IS NULL OR substr(m.best, 7, 1) = '1') AS allowed,
           CASE WHEN m.best IS NULL THEN '' ELSE substr(m.best, 8) END AS matched_rule
    FROM wfp f LEFT JOIN wmatch m USING (canonical_url)
    """,
)
def robots_wildcard_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 §2.2.2 WILDCARD robots filtering over the crawl
    frontier (operators/web.py select_agent_section → parse_robots →
    robots_filter_wildcard; VERDICT r9 ask #3) — the full fetch-side
    policy chain: select the crawler's User-agent group, parse its
    rules, translate ``*``/trailing-``$`` patterns to anchored
    regexes (identically in both engines — escape every non-alnum
    except ``*``, ``*`` → ``.*``), and apply longest-RAW-pattern
    precedence (Allow beats Disallow on ties, no match → allowed).
    The fixture pins ``*`` mid-pattern matches (``/articles/*3``
    blocks 30–39), trailing-``$`` carve-outs (``/articles/*3$``
    re-allows 3/13/23/33), a ``$``-anchored root block, the combined
    second fwbot group's literal ``/articles/39$`` rule beating the
    wildcard encodings, and hosts where the shorter ``fw`` or ``*``
    group decides.  Winning rule is the windowless sortable-encoding
    MAX; the regex evaluates only on host-equi-join candidates."""
    _, frontier = _link_frontier(spark, sf_dir)
    section = web.select_agent_section(_synth_ua_robots(frontier), _UA_AGENT)
    rules = web.parse_robots(section)
    return web.robots_filter_wildcard(frontier, rules).select(
        "host", "canonical_url", "allowed", "matched_rule"
    )


@q(
    "crawl_delay_schedule",
    f"""
    WITH {_LINK_GRAPH_CTES},
    {_FRONTIER_CTES},
    {_ua_section_ctes("frontier")},
    cdl AS (
      SELECT host, max(TRY_CAST(trim(substr(line, 13)) AS BIGINT)) AS crawl_delay
      FROM uarules
      WHERE lower(line) LIKE 'crawl-delay:%'
        AND TRY_CAST(trim(substr(line, 13)) AS BIGINT) > 0
      GROUP BY host
    ),
    cdf AS (
      SELECT f.host, f.canonical_url, d.crawl_delay,
             CAST(CASE WHEN d.crawl_delay IS NULL THEN 2
                  ELSE greatest(1, 4 // d.crawl_delay) END AS BIGINT) AS rate
      FROM frontier f LEFT JOIN cdl d USING (host)
    ),
    cds AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY host
           ORDER BY md5(canonical_url), canonical_url) AS BIGINT) AS slot_in_host
      FROM cdf
    )
    SELECT host, canonical_url, COALESCE(crawl_delay, 0) AS crawl_delay,
           rate, slot_in_host,
           CAST((slot_in_host - 1) // rate AS BIGINT) AS fetch_wave
    FROM cds
    """,
)
def crawl_delay_schedule_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-delay-aware PER-HOST-RATE politeness scheduling
    (operators/web.py select_agent_section → parse_crawl_delay →
    frontier_schedule(rate_col=…)) — real politeness is per host, not
    global: the de-facto ``Crawl-delay:`` extension lives inside the
    crawler's User-agent group, so the selected section's delay maps
    to that host's fetches-per-wave (rate = max(1, 4 DIV delay);
    hosts declaring no delay — or no robots at all — run the default
    rate 2).  The fixture's suffix-derived delays (1..4 on the fwbot
    group) land rates 4/2/1 beside the defaults, every host's wave
    assignment value-hash-pinned.  The slot algebra is the audited
    two-phase per-(host, bucket) rank; the per-host rate only enters
    the final scan-side division, and the delay table joins back as a
    plain hosts-scale equi-join."""
    _, frontier = _link_frontier(spark, sf_dir)
    section = web.select_agent_section(_synth_ua_robots(frontier), _UA_AGENT)
    delays = web.parse_crawl_delay(section)
    fr = frontier.join(delays, "host", "left").withColumn(
        "rate",
        F.expr(
            "CAST(CASE WHEN crawl_delay IS NULL THEN 2 "
            "ELSE greatest(1, 4 DIV crawl_delay) END AS BIGINT)"
        ),
    )
    # r14 (§2.4): frontier_schedule's two-phase rank consumes fr from
    # several branches, and fr's own tree contains the link-extract
    # frontier chain TWICE (join left side + the robots synthesis
    # feeding delays) — uncut, the extraction kernel replayed per
    # branch (plan: 24 Exchanges / 10 parquet scans for one documents
    # table).  fr is narrow (host, url, provenance, delay, rate); the
    # registered frontier_schedule row took the same cut in r13.
    fr = materialize(fr, eager=False)
    return web.frontier_schedule(fr, rate_col="rate").select(
        "host",
        "canonical_url",
        F.coalesce(F.col("crawl_delay"), F.lit(0)).cast("long").alias("crawl_delay"),
        "rate",
        "slot_in_host",
        "fetch_wave",
    )


@q(
    "frontier_seen_filter",
    f"""
    WITH {_LINK_GRAPH_CTES},
    {_FRONTIER_CTES},
    seenh AS (SELECT DISTINCT CAST(doc_id % 97 AS INT) AS n FROM documents),
    seen AS (
      SELECT concat('https://h', CAST(n AS STRING), '.example.com/articles/',
                    CAST(k AS STRING)) AS canonical_url
      FROM seenh, (SELECT unnest(range(0, 40, 3)) AS k)
    )
    SELECT f.host, f.canonical_url
    FROM frontier f
    WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.canonical_url = f.canonical_url)
    """,
)
def frontier_seen_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-history SEEN-SET filtering (operators/web.py
    url_bloom_bits + frontier_seen_filter) — the dedup step between
    discovery and scheduling, done the way a 10¹¹-URL history demands:
    a bounded partitioned Bloom over the history splits the frontier
    scan-side into definitely-new (some bit unset — Bloom has no false
    negatives, these skip the join entirely) and a possibly-seen
    sliver that alone enters the exact LEFT ANTI equi-join.  The
    output is bloom-independent by construction — ≡ frontier ANTI
    seen bit-for-bit at any m_bits — so the oracle replays it as a
    plain NOT EXISTS while the Spark plan keeps the production shape
    (k broadcast bit-joins, one sliver-sized anti-join).  The fixture
    history (every 3rd article slot per host) catches ~16 % of the
    frontier (roots and :8443 variants are never seen), both paths
    exercised."""
    _, frontier = _link_frontier(spark, sf_dir)
    hosts = (
        _tbl(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 97).cast("int").alias("n"))
        .distinct()
    )
    seen = hosts.select(
        F.explode(F.expr("sequence(0, 39, 3)")).alias("k"), "n"
    ).select(
        F.expr(
            "concat('https://h', CAST(n AS STRING), '.example.com/articles/', "
            "CAST(k AS STRING))"
        ).alias("canonical_url")
    )
    return web.frontier_seen_filter(frontier, seen).select(
        "host", "canonical_url"
    )


# --- lastmod-aware re-crawl scheduling (VERDICT r9 #5) ---------------------

_RECRAWL_FETCHED_AT = "2026-04-15"


def _recrawl_fetched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored last-fetch table (canonical article page per host,
    plus the lastmod-less messy loc on even hosts so the 'unknown'
    outcome is exercised) — shared by recrawl_schedule and its
    streamed twin."""
    hosts = (
        _tbl(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 97).cast("int").alias("n"))
        .distinct()
    )
    return hosts.select(
        F.expr(
            "concat('https://h', CAST(n AS STRING), '.example.com/articles/', "
            "CAST(n % 40 AS STRING))"
        ).alias("canonical_url"),
        F.lit(_RECRAWL_FETCHED_AT).alias("last_fetch"),
    ).unionByName(
        hosts.filter(F.col("n") % 2 == 0).select(
            F.expr(
                "concat('https://h', CAST(n AS STRING), '.example.com/articles/', "
                "CAST((n * 7 + 3) % 40 AS STRING))"
            ).alias("canonical_url"),
            F.lit(_RECRAWL_FETCHED_AT).alias("last_fetch"),
        )
    )


def _recrawl_flow(sm: DataFrame, fetched: DataFrame) -> DataFrame:
    """triage → schedule-the-due → output projection, shared by the
    batch and streamed recrawl rows.  The triage table is materialized
    because it feeds BOTH the schedule and the final projection —
    inside a micro-batch the duplicated subtree is otherwise re-planned
    and re-run per batch (r13)."""
    out = materialize(web.recrawl_outcomes(sm, fetched))
    due = out.filter(F.col("due")).select("host", "canonical_url")
    sched = web.frontier_schedule(due, per_host_rate=_FRONTIER_RATE).select(
        "canonical_url", "slot_in_host", "fetch_wave"
    )
    return (
        out.join(sched, "canonical_url", "left")
        .select(
            "host",
            "canonical_url",
            "lastmod",
            "last_fetch",
            "outcome",
            F.coalesce(F.col("slot_in_host"), F.lit(-1)).cast("long").alias("slot_in_host"),
            F.coalesce(F.col("fetch_wave"), F.lit(-1)).cast("long").alias("fetch_wave"),
        )
    )


_RECRAWL_SQL = f"""
    WITH {{ctes}},
    rcf AS (
      SELECT concat('https://h', CAST(n AS STRING), '.example.com/articles/',
                    CAST(n % 40 AS STRING)) AS canonical_url,
             '{_RECRAWL_FETCHED_AT}' AS last_fetch
      FROM smhost
      UNION ALL
      SELECT concat('https://h', CAST(n AS STRING), '.example.com/articles/',
                    CAST((n * 7 + 3) % 40 AS STRING)),
             '{_RECRAWL_FETCHED_AT}'
      FROM smhost WHERE n % 2 = 0
    ),
    rcj AS (
      SELECT s.canonical_url, s.lastmod, f.last_fetch AS lf,
             {_FRONTIER_HOST} AS host
      FROM scanon s LEFT JOIN rcf f USING (canonical_url)
    ),
    rco AS (
      SELECT host, canonical_url, lastmod, COALESCE(lf, '') AS last_fetch,
             CASE WHEN lf IS NULL THEN 'new'
                  WHEN lastmod = '' THEN 'unknown'
                  WHEN lastmod > lf THEN 'changed'
                  ELSE 'unchanged' END AS outcome
      FROM rcj
    ),
    rcs AS (
      SELECT canonical_url,
             CAST(row_number() OVER (PARTITION BY host
                  ORDER BY md5(canonical_url), canonical_url) AS BIGINT) AS slot_in_host
      FROM rco WHERE outcome <> 'unchanged'
    )
    SELECT o.host, o.canonical_url, o.lastmod, o.last_fetch, o.outcome,
           COALESCE(s.slot_in_host, -1) AS slot_in_host,
           COALESCE(CAST((s.slot_in_host - 1) // {_FRONTIER_RATE} AS BIGINT), -1) AS fetch_wave
    FROM rco o LEFT JOIN rcs s USING (canonical_url)
    """


@q("recrawl_schedule", _RECRAWL_SQL.format(ctes=_SITEMAP_CTES))
def recrawl_schedule_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lastmod-aware RE-CRAWL scheduling (operators/web.py
    recrawl_outcomes → frontier_schedule; VERDICT r9 ask #5) — the
    incremental loop sitemap ingestion exists to feed: compose the
    stored last-fetch table with fresh sitemap lastmod stamps, triage
    each URL ('new' = never fetched, 'changed' = lastmod advanced,
    'unchanged' = provably fresh, 'unknown' = no lastmod claim), and
    politeness-schedule ONLY the due URLs (everything but
    'unchanged') — unchanged rows keep slot/wave −1.  The fixture
    pins all four outcomes: the canonical article page was fetched at
    {_RECRAWL_FETCHED_AT}, so its month-stamped lastmod lands changed
    or unchanged by host; the lastmod-less messy loc was fetched on
    even hosts (unknown) and never on odd ones (new); /promo was never
    fetched (new).  Stream-static shape:
    one left equi-join on canonical_url against the stored index,
    then the audited two-phase per-host rank over the due subset."""
    entries = _sitemap_entries(spark, sf_dir)
    sm = entries.select(
        F.expr(_FRONTIER_HOST).alias("host"), "canonical_url", "lastmod"
    )
    # r14: the triage cut applies to the BATCH row too — the streamed twin
    # had the cut since r13 but the batch path was never A/B'd; on the
    # honest build+sink bench clock the same-session
    # interleaved A/B reads 2.50 -> 1.24 s (2.0x): the triage table
    # feeds the schedule AND the final projection, and the replayed
    # subtree is the whole sitemap-parse -> canonicalize -> stream-
    # static-join chain.
    return _recrawl_flow(sm, _recrawl_fetched(spark, sf_dir))


# the streamed twin attests the SAME oracle: outcomes are row-pure
# (one URL, one stored-fetch row) and the per-host slot permutation
# depends only on a host's OWN urls, so host-complete micro-batches
# make union-of-batches == whole-corpus bit-for-bit
@q("streaming_recrawl_schedule", _RECRAWL_SQL.format(ctes=_SITEMAP_CTES))
def streaming_recrawl_schedule_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lastmod re-crawl triage as a REAL Structured Streaming pipeline
    — how sitemap refreshes actually arrive: per-site sitemap
    deliveries landing continuously, each micro-batch triaged against
    the STORED last-fetch table and its due URLs scheduled
    immediately.  The synthetic sitemap universe arrives as 3
    host-group files (hosts n % 3 = c per file) through a JSON file
    stream, one file per micro-batch; each batch runs the SAME
    parse → canonicalize → triage → schedule chain as batch
    `recrawl_schedule` inside ``foreachBatch`` (stream-static join
    against the stored fetch table — the incremental_dedup shape) and
    appends its rows idempotently (batch-id-owned overwrite).
    Union-of-batches ≡ whole-corpus because outcomes are row-pure and
    every host's entries are COMPLETE within one batch, so the
    per-host slot permutation is identical — the gate attests the
    streamed table against the SAME oracle as `recrawl_schedule`: the
    crawl-frontier family's streaming proof beside dedup / ANN /
    sketches / sampling / WARC ingest.  Per-batch state is zero."""

    def feed(reader, tmp):
        arrive_dir = f"{tmp}/arrivals"
        hosts = (
            _tbl(spark, sf_dir, "documents")
            .select((F.col("doc_id") % 97).cast("int").alias("n"))
            .distinct()
        )
        # r13: materialize the (≤ 97-row) sitemap table BEFORE the
        # delivery loop — each filtered write otherwise re-runs the
        # documents scan + distinct + sitemap synthesis (one full
        # corpus pass per tiny file; guide §2.4)
        sm_src = hosts.withColumn(
            "sitemap_xml", F.expr(_SITEMAP_SYNTH)
        ).transform(materialize)
        # 3 host-group delivery files (r13: was 5 — micro-batch count
        # is the dominant cost of the streamed twin at ~1.5 s of
        # planning + stream-static join + write per batch, and three
        # batches prove union-of-batches ≡ whole-corpus exactly as
        # five did; the r10 session-replay 3→2 precedent): chunking by
        # n % 3 keeps every host's sitemap COMPLETE within one file
        # (the slot-mergeability precondition)
        for c in range(3):
            sm_src.filter(F.col("n") % 3 == c).coalesce(1).write.mode(
                "append"
            ).json(arrive_dir)
        fetched = materialize(_recrawl_fetched(spark, sf_dir))

        def body(batch_df: DataFrame) -> DataFrame:
            entries = web.parse_sitemap(batch_df, keep=()).select("loc", "lastmod")
            canon = web.with_canonical_url(entries, "loc")
            sm_b = canon.select(
                F.expr(_FRONTIER_HOST).alias("host"), "canonical_url", "lastmod"
            )
            # (r13: a forced broadcast hint on the static side measured
            # faster at sf0.1 but was REJECTED by the audit — the stored
            # fetch table is host-derived, unbounded at a 10^8-host
            # frontier; the shuffled stream-static join is the plan that
            # scales.  The triage cut is the honest win: the triage
            # table feeds two consumers per batch.)
            return _recrawl_flow(sm_b, fetched)

        return reader.schema("n int, sitemap_xml string").json(arrive_dir), body

    return replay(spark, feed)


def _waterfill_chain(budget: int, stats_cte: str = "st", epochs: bool = False) -> str:
    """The waterfill CTE chain from ``stats_cte(source, weight,
    avail_tokens[, max_epochs])`` through ``wf`` — the engine-portable
    DuckDB twin of sampling.mixture_waterfill's algebra, reusable over
    ANY driver-scale stats table (token mixtures keyed by source,
    crawl budgets keyed by host aliased to source…).  Same
    double-ratio sort, same exact int64 cross-multiplication
    saturation test, same largest-remainder distribution; with
    ``epochs`` the cap ``avail · max_epochs`` replaces availability
    everywhere in the algebra (``mcap`` — identical to avail when
    epochs is off)."""
    cap = "avail_tokens * max_epochs" if epochs else "avail_tokens"
    ep_out = ", max_epochs, mcap AS cap_tokens" if epochs else ""
    return f"""stc AS (SELECT *, CAST({cap} AS BIGINT) AS mcap FROM {stats_cte}),
    mtot AS (
      SELECT CAST(sum(weight) AS BIGINT) AS tw,
             CAST(sum(mcap) AS BIGINT) AS ta
      FROM stc
    ),
    mrk AS (
      SELECT *,
             CAST(mcap AS DOUBLE) / CAST(weight AS DOUBLE) AS mratio,
             sum(mcap) OVER mw AS mca,
             sum(weight) OVER mw AS mcw
      FROM stc CROSS JOIN mtot
      WINDOW mw AS (ORDER BY CAST(mcap AS DOUBLE) / CAST(weight AS DOUBLE), source
                    ROWS UNBOUNDED PRECEDING)
    ),
    mcond AS (
      SELECT *, CASE WHEN ta <= {budget} THEN 1
                     WHEN mcap * (tw - mcw) <= weight * ({budget} - mca) THEN 1
                     ELSE 0 END AS cnd
      FROM mrk
    ),
    msat AS (
      SELECT *, (min(cnd) OVER (ORDER BY mratio, source ROWS UNBOUNDED PRECEDING)) = 1 AS saturated
      FROM mcond
    ),
    mstot AS (
      SELECT COALESCE(sum(CASE WHEN saturated THEN mcap END), 0) AS sa,
             COALESCE(sum(CASE WHEN saturated THEN weight END), 0) AS sw
      FROM msat
    ),
    mal AS (
      SELECT m.*, greatest(0, {budget} - t.sa) AS brem, m.tw - t.sw AS wrem,
             CASE WHEN m.saturated OR (m.tw - t.sw) <= 0 THEN 0
                  ELSE (m.weight * greatest(0, {budget} - t.sa)) // (m.tw - t.sw) END AS shr,
             CASE WHEN m.saturated OR (m.tw - t.sw) <= 0 THEN -1
                  ELSE (m.weight * greatest(0, {budget} - t.sa)) % (m.tw - t.sw) END AS remn
      FROM msat m CROSS JOIN mstot t
    ),
    mss AS (SELECT COALESCE(sum(shr), 0) AS shtot FROM mal),
    mfin AS (
      SELECT a.*, s.shtot,
             row_number() OVER (ORDER BY a.remn DESC, a.source) AS xr
      FROM mal a CROSS JOIN mss s
    ),
    wf AS (
      SELECT source, weight, avail_tokens{ep_out},
             CAST(CASE WHEN saturated THEN mcap
                       WHEN wrem <= 0 THEN 0
                       ELSE shr + (CASE WHEN xr <= brem - shtot THEN 1 ELSE 0 END)
                  END AS BIGINT) AS alloc_tokens,
             saturated
      FROM mfin
    )"""


# --- PageRank-weighted per-host crawl budgets (round 10) -------------------

_CRAWL_FETCH_BUDGET = 1050


def _crawl_budget_ctes() -> str:
    """The crawl-budget stats + waterfill chain over the link frontier:
    per-host due-URL counts weighted by host PageRank (+1 so a host
    the rank chain never saw still gets a positive weight), fed through
    the SAME exact-int waterfill chain as the token mixtures."""
    pr_body, pr_final = _pagerank_ctes()
    return f"""{pr_body},
    {_FRONTIER_CTES},
    fcnt AS (
      SELECT host, CAST(count(*) AS BIGINT) AS avail_tokens
      FROM frontier GROUP BY host
    ),
    st AS (
      SELECT c.host AS source,
             CAST(COALESCE(r.pr, 0) + 1 AS BIGINT) AS weight,
             c.avail_tokens
      FROM fcnt c LEFT JOIN {pr_final} r ON r.host = c.host
    ),
    {_waterfill_chain(_CRAWL_FETCH_BUDGET, "st")}"""


def _crawl_budget_spark(spark: SparkSession, sf_dir: str):
    """(frontier, alloc) — the Spark twin of _crawl_budget_ctes through
    wf: per-host PageRank-weighted fetch allocations."""
    links, frontier = _link_frontier(spark, sf_dir)
    # r13: the distinct frontier feeds the due-URL counts AND (in
    # crawl_budget_apply) the politeness schedule's two passes —
    # materialize it once instead of replaying extract→canonicalize→
    # distinct per consumer (guide §2.4)
    frontier = materialize(frontier)
    ranks = web.pagerank(web.host_edges(links))
    counts = frontier.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("due_urls")
    )
    stats = (
        counts.join(ranks, "host", "left")
        .withColumn(
            "pr_weight", (F.coalesce(F.col("pr"), F.lit(0)) + 1).cast("long")
        )
        .drop("pr")
    )
    alloc = sampling.mixture_waterfill(
        stats,
        _CRAWL_FETCH_BUDGET,
        source_col="host",
        weight_col="pr_weight",
        avail_col="due_urls",
    ).withColumnRenamed("alloc_tokens", "alloc_fetches")
    return frontier, alloc


@q(
    "crawl_budget_allocate",
    f"""
    WITH {_LINK_GRAPH_CTES},
    {_crawl_budget_ctes()}
    SELECT source AS host, weight AS pr_weight, avail_tokens AS due_urls,
           alloc_tokens AS alloc_fetches, saturated
    FROM wf
    """,
)
def crawl_budget_allocate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host CRAWL-BUDGET allocation (sampling.mixture_waterfill
    applied to the crawl side) — how a fetch cycle's global capacity
    becomes per-host quotas: hosts weighted by PageRank (important
    hosts crawl deeper), capped by what they actually have queued, and
    the waterfill level distributes the rest EXACTLY — the fetch-cycle
    twin of the training-mixture solver, attesting the waterfiller is
    one reusable kernel across both of the repo's allocation problems.
    The +1 weight floor keeps never-ranked hosts schedulable (and the
    solver's weight>0 invariant satisfied).  Σ alloc = min(capacity,
    Σ due) exactly; the 1050-fetch budget lands 4 hosts saturated
    (their whole queue granted) and 93 proportional at sf0.01, both
    branches value-hash-pinned.  All solver windows run
    over the hosts-count table (driver-scale for the solver's
    CONTRACT; the corpus-scale work — frontier counts, PageRank — is
    the audited map-side agg + checkpointed rank chain)."""
    _, alloc = _crawl_budget_spark(spark, sf_dir)
    return alloc.select(
        "host", "pr_weight", "due_urls", "alloc_fetches", "saturated"
    )


@q(
    "crawl_budget_apply",
    f"""
    WITH {_LINK_GRAPH_CTES},
    {_crawl_budget_ctes()},
    sl AS (
      SELECT host, canonical_url,
             CAST(row_number() OVER (PARTITION BY host
                  ORDER BY md5(canonical_url), canonical_url) AS BIGINT) AS slot_in_host
      FROM frontier
    )
    SELECT s.host, s.canonical_url, s.slot_in_host,
           CAST((s.slot_in_host - 1) // {_FRONTIER_RATE} AS BIGINT) AS fetch_wave
    FROM sl s JOIN wf w ON w.source = s.host
    WHERE s.slot_in_host <= w.alloc_tokens
    """,
)
def crawl_budget_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl budget APPLIED: politeness-order each host's frontier
    (the audited two-phase md5-permutation rank), then fetch ONLY the
    first ``alloc_fetches`` slots — discovery → rank-weighted budget →
    rate-limited order → the URL list actually fetched this cycle,
    value-hashed end to end (the crawl twin of mixture_budget_apply's
    boundary-doc pinning: each host's cut slot is exact).  The
    allocation table joins back as a plain equi-join on host —
    hosts-scale, never force-broadcast (the frontier_schedule
    lesson); AQE broadcasts it when genuinely small."""
    frontier, alloc = _crawl_budget_spark(spark, sf_dir)
    sched = web.frontier_schedule(frontier, per_host_rate=_FRONTIER_RATE)
    return (
        sched.join(alloc.select("host", "alloc_fetches"), "host")
        .filter(F.col("slot_in_host") <= F.col("alloc_fetches"))
        .select("host", "canonical_url", "slot_in_host", "fetch_wave")
    )


# ===========================================================================
# Group B — LLM-data-pipeline pack (documents / embeddings)
# ===========================================================================


@q(
    "dedup_exact",
    """
    SELECT md5(text) AS content_md5,
           MIN(doc_id) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash; shuffle carries 32-char keys, not
    documents."""
    docs = _tbl(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs)


def _minhash_sig_sql(
    num_hashes: int = 12, shingle_n: int = 3, doc_src: str = "documents"
) -> str:
    idx = " || ' ' || ".join(
        f"list_extract(toks, i + {k})" for k in range(shingle_n)
    )
    mins = ",\n             ".join(
        f"list_min(list_transform(sh, s -> md5(concat('{j}|', s)))) AS m{j}"
        for j in range(num_hashes)
    )
    return f"""
    toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM {doc_src}),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= {shingle_n}
                  THEN list_transform(generate_series(1, len(toks) - {shingle_n - 1}), i -> {idx})
                  ELSE [concat_ws(' ', toks)] END AS sh
      FROM toks
    ),
    sigs AS (
      SELECT doc_id,
             {mins}
      FROM sh
    )"""


def _minhash_bands_sql(num_hashes: int = 12, bands: int = 4, src: str = "sigs") -> str:
    rows = num_hashes // bands
    selects = []
    for b in range(bands):
        parts = ", ".join(f"m{b * rows + r}" for r in range(rows))
        selects.append(
            f"SELECT doc_id, {b} AS band_idx, md5(concat_ws('|', {parts})) AS band_hash FROM {src}"
        )
    return "bands AS (" + " UNION ALL ".join(selects) + ")"


_MATCH_SUM = " + ".join(f"CASE WHEN sa.m{j} = sb.m{j} THEN 1 ELSE 0 END" for j in range(12))

# mirrors operators/dedup.py mega-bucket defense: identical signatures
# collapse to min-id star edges, reps band, buckets cap at MAX_BUCKET.
# The candidate-generation CTE chain is shared by dedup_minhash_lsh,
# the near_dup_clusters oracle (which runs connected components on it)
# and the llm_pipeline oracle (same chain over the cleaned subset).
def _minhash_cand_ctes(doc_src: str = "documents") -> str:
    return f"""{_minhash_sig_sql(12, 3, doc_src)},
    rep AS (
      SELECT *, MIN(doc_id) OVER (
        PARTITION BY md5(concat_ws('|', {", ".join(f"m{j}" for j in range(12))}))
      ) AS rep_id
      FROM sigs
    ),
    dup_pairs AS (
      SELECT rep_id AS doc_a, doc_id AS doc_b FROM rep WHERE doc_id <> rep_id
    ),
    reps AS (SELECT * FROM rep WHERE doc_id = rep_id),
    {_minhash_bands_sql(12, 4, src="reps")},
    capped AS (
      SELECT doc_id, band_idx, band_hash,
             ROW_NUMBER() OVER (PARTITION BY band_idx, band_hash ORDER BY doc_id) AS rn
      FROM bands
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
       AND a.rn <= {dedup.MAX_BUCKET} AND b.rn <= {dedup.MAX_BUCKET}
      UNION
      SELECT doc_a, doc_b FROM dup_pairs
    )"""


_MINHASH_CAND_CTES = _minhash_cand_ctes()

_MINHASH_SQL = f"""
    WITH {_MINHASH_CAND_CTES}
    SELECT c.doc_a, c.doc_b,
           CAST({_MATCH_SUM} AS BIGINT) AS n_common_minhash,
           ({_MATCH_SUM}) / 12.0 AS est_jaccard
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.doc_a
    JOIN sigs sb ON sb.doc_id = c.doc_b
    """


@q("dedup_minhash_lsh", _MINHASH_SQL)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates: shingle → 12 salted-md5
    minhashes → identical-sig collapse (star edges to the min-id rep)
    → 4 banded bucket hashes over reps → MAX_BUCKET-capped equi-join.
    No cross join anywhere; at 100 TB per-task cost is hard-bounded at
    MAX_BUCKET² whatever the bucket skew (operators/dedup.py)."""
    docs = _tbl(spark, sf_dir, "documents")
    return dedup.lsh_candidate_pairs(docs, num_hashes=12, bands=4, shingle_n=3)


_LSH_VERIFY_SQL = f"""
    WITH {_MINHASH_CAND_CTES},
    vsh AS (SELECT doc_id, list_distinct(sh) AS vs FROM sh)
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(a.vs, b.vs)) AS BIGINT) AS n_inter,
           CAST(len(a.vs) + len(b.vs) - len(list_intersect(a.vs, b.vs)) AS BIGINT) AS n_union,
           len(list_intersect(a.vs, b.vs)) /
             CAST(len(a.vs) + len(b.vs) - len(list_intersect(a.vs, b.vs)) AS DOUBLE) AS jaccard
    FROM cand c
    JOIN vsh a ON a.doc_id = c.doc_a
    JOIN vsh b ON b.doc_id = c.doc_b
    """


@q("lsh_verify", _LSH_VERIFY_SQL)
def lsh_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE production dedup verify composition, driver-gated: exact
    3-gram Jaccard over the MinHash-LSH candidate pairs
    (operators/dedup.py verify_candidates — semi-join to candidate
    docs, shingle once per doc, O(candidate docs + candidates)).  The
    oracle reuses the shared candidate CTE chain and distincts the
    same shingle construction."""
    docs = _tbl(spark, sf_dir, "documents")
    return dedup.verify_candidates(
        dedup.lsh_candidate_pairs(docs, num_hashes=12, bands=4, shingle_n=3),
        docs,
    )


_JACCARD_SAMPLE = 25

_NGRAM_JACCARD_SQL = f"""
    WITH sample_docs AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id % {_JACCARD_SAMPLE} = 0
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(toks) - 2),
                       i -> list_extract(toks, i) || ' ' || list_extract(toks, i + 1) || ' ' || list_extract(toks, i + 2)))
                  ELSE [concat_ws(' ', toks)] END AS sh
      FROM sample_docs
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
           CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_union,
           len(list_intersect(a.sh, b.sh)) /
             CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    """


@q("ngram_jaccard", _NGRAM_JACCARD_SQL)
def ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard verification on a deterministic document
    sample (at scale the input is LSH candidates, never a product)."""
    docs = _tbl(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _JACCARD_SAMPLE == 0
    )
    return dedup.ngram_jaccard(
        docs, docs, F.col("a.doc_id") < F.col("b.doc_id")
    )


_LSH_PLAN_HASHES = 128
_LSH_PLAN_GRID = ", ".join(
    f"({_LSH_PLAN_HASHES // r}, {r})"
    for r in [2**i for i in range(8)]
)

_LSH_BAND_PLAN_SQL = f"""
    WITH sample_docs AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE doc_id % {_JACCARD_SAMPLE} = 0
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(toks) - 2),
                       i -> list_extract(toks, i) || ' ' || list_extract(toks, i + 1) || ' ' || list_extract(toks, i + 2)))
                  ELSE [concat_ws(' ', toks)] END AS sh
      FROM sample_docs
    ),
    vtoks AS (
      SELECT doc_id,
             list_slice(toks, 1, greatest(len(toks) - 6, 3)) AS toks
      FROM sample_docs
    ),
    vsh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(generate_series(1, len(toks) - 2),
                       i -> list_extract(toks, i) || ' ' || list_extract(toks, i + 1) || ' ' || list_extract(toks, i + 2)))
                  ELSE [concat_ws(' ', toks)] END AS sh
      FROM vtoks
    ),
    prs AS (
      SELECT len(list_intersect(a.sh, b.sh)) /
             CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      UNION ALL
      SELECT len(list_intersect(a.sh, b.sh)) /
             CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             AS jaccard
      FROM sh a JOIN vsh b ON a.doc_id = b.doc_id
    ),
    bins AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS w,
             CAST(2 * bin + 1 AS DOUBLE) / CAST(40 AS DOUBLE) AS s_mid
      FROM (SELECT least(CAST(floor(jaccard * 20) AS BIGINT), 19) AS bin FROM prs)
      GROUP BY bin
    ),
    grid AS (SELECT * FROM (VALUES {_LSH_PLAN_GRID}) AS v(n_bands, rows_per_band)),
    sc AS (
      SELECT *,
             list_reduce(list_transform(range(1, rows_per_band + 1), x -> s_mid),
                         (acc, x) -> acc * x) AS sr
      FROM bins CROSS JOIN grid
    ),
    sc2 AS (
      SELECT *,
             CAST(floor((CAST(1.0 AS DOUBLE) -
               list_reduce(list_transform(range(1, n_bands + 1),
                           x -> CAST(1.0 AS DOUBLE) - sr),
                           (acc, x) -> acc * x)) * 1000000000) AS BIGINT) AS p_scaled
      FROM sc
    ),
    agg AS (
      SELECT CAST(n_bands AS INT) AS n_bands,
             CAST(rows_per_band AS INT) AS rows_per_band,
             CAST(sum(w) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN s_mid < CAST(0.8 AS DOUBLE)
                           THEN w * p_scaled ELSE 0 END) AS BIGINT) AS fp_mass_scaled,
             CAST(sum(CASE WHEN s_mid >= CAST(0.8 AS DOUBLE)
                           THEN w * (1000000000 - p_scaled) ELSE 0 END) AS BIGINT)
               AS fn_mass_scaled
      FROM sc2 GROUP BY 1, 2
    )
    SELECT n_bands, rows_per_band, n_pairs, fp_mass_scaled, fn_mass_scaled,
           fp_mass_scaled + fn_mass_scaled AS cost_scaled,
           CAST(row_number() OVER (ORDER BY fp_mass_scaled + fn_mass_scaled ASC,
                                   n_bands ASC) AS BIGINT) AS rank,
           row_number() OVER (ORDER BY fp_mass_scaled + fn_mass_scaled ASC,
                              n_bands ASC) = 1 AS chosen
    FROM agg
    """


@q("lsh_band_plan", _LSH_BAND_PLAN_SQL)
def lsh_band_plan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band/row planner (operators/dedup.py lsh_band_plan): bin
    the observed pair-similarity distribution (the deterministic
    ngram_jaccard sample — unbiased mass on BOTH sides of the merge
    threshold, which LSH candidates cannot give), evaluate the
    1−(1−s^r)^b S-curve for every (b, r) divisor pair of 128 by
    left-fold multiplication (bit-exact where libm pow is not),
    floor-scale to the 1e9 grid, and charge each config its expected
    false-merge + missed-merge mass vs the 0.8 target — INT64 sums,
    argmin chosen (ties → fewer bands).  The sims mix the sampled
    all-pairs (sub-threshold mass) with deterministic near-dup pairs
    (each sampled doc vs its 6-token-truncated variant, jaccard ≈
    0.85–0.95) so BOTH branches of the trade-off carry weight and the
    argmin is interior, not a tie.  The tuning step that decides
    whether a 100 TB MinHash dedup over- or under-merges; costs one
    aggregation over the sims sample plus ≤ bins×8 grid rows."""
    docs = _tbl(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _JACCARD_SAMPLE == 0
    )
    variants = docs.withColumn(
        "text",
        F.expr(
            "transform(array(split(text, ' ')), TK -> "
            "array_join(slice(TK, 1, greatest(size(TK) - 6, 3)), ' '))[0]"
        ),
    )
    sims = dedup.ngram_jaccard(
        docs, docs, F.col("a.doc_id") < F.col("b.doc_id")
    ).select("jaccard").unionByName(
        dedup.ngram_jaccard(
            docs, variants, F.col("a.doc_id") == F.col("b.doc_id")
        ).select("jaccard")
    )
    return dedup.lsh_band_plan(sims, n_hashes=_LSH_PLAN_HASHES)


def _simhash_sql() -> str:
    bits = []
    for p in range(64):
        nib, pw = p // 4, 2 ** (p % 4)
        vote = (
            f"list_sum(list_transform(tm, h -> "
            f"((((instr('0123456789abcdef', substring(h, {nib + 1}, 1)) - 1) // {pw}) % 2) * 2 - 1)))"
        )
        bits.append(f"CASE WHEN ({vote}) > 0 THEN '1' ELSE '0' END")
    return (
        "WITH tm AS (SELECT doc_id, list_transform(string_split(text, ' '), t -> md5(t)) AS tm FROM documents)\n"
        "SELECT doc_id, concat(" + ", ".join(bits) + ") AS simhash FROM tm"
    )


@q("simhash", _simhash_sql())
def simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints (Charikar sketch) from md5 nibbles —
    pure Column algebra, no shuffle."""
    docs = _tbl(spark, sf_dir, "documents")
    return dedup.with_simhash(docs).select("doc_id", "simhash")


# mirrors operators/dedup.py mega-bucket defense: identical
# fingerprints collapse to min-id star edges (hamming 0), reps band,
# segment buckets cap at MAX_BUCKET.  Factored as a tail over any CTE
# producing (doc_id, simhash) — shared by the SimHash (text) and dHash
# (image) oracles, exactly as `hamming_band_pairs` is shared in Spark.
def _hamming_pairs_tail(src: str) -> str:
    return f"""
    rep AS (
      SELECT doc_id, simhash,
             MIN(doc_id) OVER (PARTITION BY simhash) AS rep_id
      FROM {src}
    ),
    dup_pairs AS (
      SELECT rep_id AS doc_a, doc_id AS doc_b, CAST(0 AS BIGINT) AS hamming
      FROM rep WHERE doc_id <> rep_id
    ),
    reps AS (SELECT doc_id, simhash FROM rep WHERE doc_id = rep_id),
    segs AS (
      SELECT doc_id, simhash, i.i AS seg_idx,
             substring(simhash, i.i * 16 + 1, 16) AS seg
      FROM reps, (SELECT unnest(range(0, 4)) AS i) i
    ),
    capped AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY seg_idx, seg ORDER BY doc_id) AS rn
      FROM segs
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM capped a JOIN capped b
        ON a.seg_idx = b.seg_idx AND a.seg = b.seg AND a.doc_id < b.doc_id
       AND a.rn <= {dedup.MAX_BUCKET} AND b.rn <= {dedup.MAX_BUCKET}
    )
    SELECT doc_a, doc_b,
           CAST(len(list_filter(range(1, 65),
                p -> substring(sh_a, CAST(p AS INT), 1) <> substring(sh_b, CAST(p AS INT), 1))) AS BIGINT) AS hamming
    FROM cand
    WHERE len(list_filter(range(1, 65),
          p -> substring(sh_a, CAST(p AS INT), 1) <> substring(sh_b, CAST(p AS INT), 1))) <= 3
    UNION ALL
    SELECT doc_a, doc_b, hamming FROM dup_pairs
    """


_SIMHASH_PAIRS_SQL = f"""
    WITH sh AS (SELECT * FROM ({_simhash_sql()})),
    {_hamming_pairs_tail("sh")}
    """


@q("simhash_pairs", _SIMHASH_PAIRS_SQL)
def simhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 4×16-bit segment banding (hamming ≤ 3
    guarantees ≥ 1 equal segment by pigeonhole) → equi-join → exact
    hamming verify.  Same Σ bucket² shape as MinHash-LSH."""
    docs = _tbl(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(docs, max_hamming=3)


# every 7th document is re-ingested under a shifted media_id — the
# "same image crawled twice" case that makes the identical-hash
# collapse OBSERVABLE in the gate: the fake-decode grid (md5-seeded)
# has no pixel locality, so without planted byte-identical copies the
# pair set is empty at sf0.01 and the hash row would attest nothing
_PHASH_COPY_MOD = 7
_PHASH_COPY_OFFSET = 1_000_000


def _dhash_cell_bits() -> tuple[str, str]:
    """The fake-decode dHash pieces shared by every image/video oracle:
    ``cell`` (value of grid cell i from the md5 column ``pm``) and the
    64-bit string concat over the cell list column ``cs``."""
    hexd = "0123456789abcdef"
    cell = (
        f"((instr('{hexd}', substring(md5(pm || '|' || CAST((i // 9) AS VARCHAR)"
        " || '|' || CAST((i % 9) AS VARCHAR)), 1, 1)) - 1) * 16"
        f" + instr('{hexd}', substring(md5(pm || '|' || CAST((i // 9) AS VARCHAR)"
        " || '|' || CAST((i % 9) AS VARCHAR)), 2, 1)) - 1)"
    )
    bits = []
    for r in range(8):
        for c in range(8):
            left = r * 9 + c + 1
            bits.append(
                f"CASE WHEN list_extract(cs, {left}) < list_extract(cs, {left + 1}) "
                "THEN '1' ELSE '0' END"
            )
    return cell, ", ".join(bits)


def _phash_sql() -> str:
    """dHash fingerprint CTE (fake-decode cell grid, see
    operators/dedup.py with_image_phash) + the shared hamming tail."""
    cell, bits_cat = _dhash_cell_bits()
    return f"""
    WITH media AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_PHASH_COPY_OFFSET}, text FROM documents
      WHERE doc_id % {_PHASH_COPY_MOD} = 0
    ),
    ph0 AS (
      SELECT doc_id, list_transform(range(0, 72), i -> {cell}) AS cs
      FROM (SELECT doc_id, md5(text) AS pm FROM media)
    ),
    sh AS (SELECT doc_id, concat({bits_cat}) AS simhash FROM ph0),
    {_hamming_pairs_tail("sh")}
    """


_VID_FRAMES = 6
_VID_COPY_MOD = 11
_VID_COPY_OFFSET = 10_000_000


def _video_dedup_sql(threshold: str = "0.5") -> str:
    """Frame-set video dedup oracle (operators/dedup.py
    video_frame_dedup): per-frame dHash over the same fake-decode grid
    as _phash_sql, distinct frame sets, shared-frame counts, exact
    Jaccard.  The copy fleet alters exactly ONE of 6 frames, so true
    pairs sit at jaccard 5/7 — past the 0.5 bar only via set overlap
    (a whole-signature hash would miss them)."""
    hexd = "0123456789abcdef"
    cell = (
        f"((instr('{hexd}', substring(md5(pm || '|' || CAST((i // 9) AS VARCHAR)"
        " || '|' || CAST((i % 9) AS VARCHAR)), 1, 1)) - 1) * 16"
        f" + instr('{hexd}', substring(md5(pm || '|' || CAST((i // 9) AS VARCHAR)"
        " || '|' || CAST((i % 9) AS VARCHAR)), 2, 1)) - 1)"
    )
    bits = []
    for r in range(8):
        for c in range(8):
            left = r * 9 + c + 1
            bits.append(
                f"CASE WHEN list_extract(cs, {left}) < list_extract(cs, {left + 1}) "
                "THEN '1' ELSE '0' END"
            )
    return f"""
    WITH fr AS (SELECT unnest(range(0, {_VID_FRAMES})) AS i),
    vids AS (
      SELECT doc_id AS video_id,
             text || '|f' || CAST(i AS VARCHAR) AS payload
      FROM documents, fr
      UNION ALL
      SELECT doc_id + {_VID_COPY_OFFSET},
             text || '|f' || CAST(i AS VARCHAR)
               || (CASE WHEN i = 3 THEN '|X' ELSE '' END)
      FROM documents, fr WHERE doc_id % {_VID_COPY_MOD} = 0
    ),
    cells AS (
      SELECT video_id, list_transform(range(0, 72), i -> {cell}) AS cs
      FROM (SELECT video_id, md5(payload) AS pm FROM vids)
    ),
    ph AS (SELECT DISTINCT video_id, concat({", ".join(bits)}) AS phash FROM cells),
    sizes AS (SELECT video_id, CAST(count(*) AS BIGINT) AS n FROM ph GROUP BY video_id),
    shared AS (
      SELECT a.video_id AS video_a, b.video_id AS video_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM ph a JOIN ph b ON a.phash = b.phash AND a.video_id < b.video_id
      GROUP BY a.video_id, b.video_id
    )
    SELECT s.video_a, s.video_b, s.n_shared, sa.n AS n_a, sb.n AS n_b,
           s.n_shared / (sa.n + sb.n - s.n_shared) AS jaccard
    FROM shared s
    JOIN sizes sa ON sa.video_id = s.video_a
    JOIN sizes sb ON sb.video_id = s.video_b
    WHERE s.n_shared / (sa.n + sb.n - s.n_shared) >= {threshold}
    """


@q("video_frame_dedup", _video_dedup_sql())
def video_frame_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO near-dup pairs by frame-fingerprint set overlap
    (operators/dedup.py video_frame_dedup) — the video member of the
    multimodal dedup family, completing text/image/audio/video: 6
    fake-decoded frames per document stand in for a video; every 11th
    video is re-ingested with ONE altered frame (the re-encode case),
    landing at jaccard 5/7 — found through SHARED frames, where any
    whole-signature hash would drift.  Frame payloads never shuffle;
    only 64-bit fingerprints do."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    fr = F.explode(F.sequence(F.lit(0), F.lit(_VID_FRAMES - 1))).alias("frame_idx")
    base = docs.select(F.col("doc_id").alias("video_id"), "text", fr).select(
        "video_id",
        F.concat(
            F.col("text"), F.lit("|f"), F.col("frame_idx").cast("string")
        ).cast("binary").alias("payload"),
    )
    copies = (
        docs.filter(F.col("doc_id") % _VID_COPY_MOD == 0)
        .select((F.col("doc_id") + _VID_COPY_OFFSET).alias("video_id"), "text", fr)
        .select(
            "video_id",
            F.concat(
                F.col("text"),
                F.lit("|f"),
                F.col("frame_idx").cast("string"),
                F.when(F.col("frame_idx") == 3, F.lit("|X")).otherwise(F.lit("")),
            ).cast("binary").alias("payload"),
        )
    )
    return dedup.video_frame_dedup(base.unionByName(copies))


_VID_STITCH_MOD = 13
_VID_STITCH_OFFSET = 20_000_000
_VID_INTRO_FRAMES = 3


def _video_segment_sql(min_run: int = 2) -> str:
    """Sequence-aligned segment oracle (operators/dedup.py
    video_segment_dedup): the video_frame_dedup fixture plus a
    STITCHED fleet — every 13th doc re-appears with the 3-frame intro
    of the original and 3 DIFFERENT content frames.  Re-encode pairs
    surface as TWO aligned runs ([0..2] and [4..5] around the altered
    frame); stitched pairs as exactly ONE 3-frame intro run — the
    set-overlap query cannot tell these apart, the segment table can."""
    hexd = "0123456789abcdef"
    cell = (
        f"((instr('{hexd}', substring(md5(pm || '|' || CAST((i // 9) AS VARCHAR)"
        " || '|' || CAST((i % 9) AS VARCHAR)), 1, 1)) - 1) * 16"
        f" + instr('{hexd}', substring(md5(pm || '|' || CAST((i // 9) AS VARCHAR)"
        " || '|' || CAST((i % 9) AS VARCHAR)), 2, 1)) - 1)"
    )
    bits = []
    for r in range(8):
        for c in range(8):
            left = r * 9 + c + 1
            bits.append(
                f"CASE WHEN list_extract(cs, {left}) < list_extract(cs, {left + 1}) "
                "THEN '1' ELSE '0' END"
            )
    return f"""
    WITH fr AS (SELECT unnest(range(0, {_VID_FRAMES})) AS fi),
    vids AS (
      SELECT doc_id AS video_id, fi,
             text || '|f' || CAST(fi AS VARCHAR) AS payload
      FROM documents, fr
      UNION ALL
      SELECT doc_id + {_VID_COPY_OFFSET}, fi,
             text || '|f' || CAST(fi AS VARCHAR)
               || (CASE WHEN fi = 3 THEN '|X' ELSE '' END)
      FROM documents, fr WHERE doc_id % {_VID_COPY_MOD} = 0
      UNION ALL
      SELECT doc_id + {_VID_STITCH_OFFSET}, fi,
             CASE WHEN fi < {_VID_INTRO_FRAMES}
                  THEN text || '|f' || CAST(fi AS VARCHAR)
                  ELSE text || '|alt|f' || CAST(fi AS VARCHAR) END
      FROM documents, fr WHERE doc_id % {_VID_STITCH_MOD} = 0
    ),
    cells AS (
      SELECT video_id, fi, list_transform(range(0, 72), i -> {cell}) AS cs
      FROM (SELECT video_id, fi, md5(payload) AS pm FROM vids)
    ),
    ph AS (SELECT DISTINCT video_id, fi, concat({", ".join(bits)}) AS phash FROM cells),
    m AS (
      SELECT DISTINCT a.video_id AS video_a, b.video_id AS video_b,
             a.fi AS ia, b.fi AS ib
      FROM ph a JOIN ph b ON a.phash = b.phash AND a.video_id < b.video_id
    ),
    mo AS (SELECT *, ia - ib AS ao FROM m),
    isl AS (
      SELECT *, ia - row_number() OVER (
        PARTITION BY video_a, video_b, ao ORDER BY ia) AS g
      FROM mo
    ),
    runs AS (
      SELECT video_a, video_b, CAST(ao AS BIGINT) AS align_offset,
             CAST(min(ia) AS BIGINT) AS start_a,
             CAST(min(ib) AS BIGINT) AS start_b,
             CAST(count(*) AS BIGINT) AS run_len
      FROM isl GROUP BY video_a, video_b, ao, g
    )
    SELECT * FROM runs WHERE run_len >= {min_run}
    """


@q("video_segment_dedup", _video_segment_sql())
def video_segment_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-ALIGNED shared-frame segments (operators/dedup.py
    video_segment_dedup; VERDICT r7 ask #8) — the session-window twin
    of video_frame_dedup.  Set overlap is order-blind; the segment
    table distinguishes the production cases: the re-encode fleet
    (every 11th doc, one altered frame) yields TWO aligned runs per
    pair ([0..2], [4..5]), the stitched fleet (every 13th doc, shared
    3-frame intro + different content) yields exactly ONE intro run —
    drop the first, trim the second.  Gaps-and-islands over matched
    fingerprints within each alignment offset; windows partition
    per-pair, fingerprints shuffle, frames never do.

    Gate assumption (ADVICE r8, same pre-existing convention as
    video_frame_dedup): the operator's max_bucket cap bounds hot
    fingerprints (all-black frames) at production scale, but the
    DuckDB oracle models NO cap — the hash gate holds because every
    fixture bucket stays under max_bucket (64).  A fixture change that
    pushes a fingerprint past the cap would fail the gate loudly, not
    silently."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    fr = F.explode(F.sequence(F.lit(0), F.lit(_VID_FRAMES - 1))).alias("frame_idx")
    base = docs.select(F.col("doc_id").alias("video_id"), "text", fr).select(
        "video_id",
        "frame_idx",
        F.concat(
            F.col("text"), F.lit("|f"), F.col("frame_idx").cast("string")
        ).cast("binary").alias("payload"),
    )
    copies = (
        docs.filter(F.col("doc_id") % _VID_COPY_MOD == 0)
        .select((F.col("doc_id") + _VID_COPY_OFFSET).alias("video_id"), "text", fr)
        .select(
            "video_id",
            "frame_idx",
            F.concat(
                F.col("text"),
                F.lit("|f"),
                F.col("frame_idx").cast("string"),
                F.when(F.col("frame_idx") == 3, F.lit("|X")).otherwise(F.lit("")),
            ).cast("binary").alias("payload"),
        )
    )
    stitched = (
        docs.filter(F.col("doc_id") % _VID_STITCH_MOD == 0)
        .select((F.col("doc_id") + _VID_STITCH_OFFSET).alias("video_id"), "text", fr)
        .select(
            "video_id",
            "frame_idx",
            F.concat(
                F.col("text"),
                F.when(
                    F.col("frame_idx") < _VID_INTRO_FRAMES, F.lit("|f")
                ).otherwise(F.lit("|alt|f")),
                F.col("frame_idx").cast("string"),
            ).cast("binary").alias("payload"),
        )
    )
    return dedup.video_segment_dedup(
        base.unionByName(copies).unionByName(stitched)
    )


@q("image_phash_dedup", _phash_sql())
def image_phash_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image perceptual-hash near-dup pairs (operators/dedup.py
    with_image_phash + hamming_band_pairs — VERDICT r6 #4, the image
    member of the multimodal dedup family): 64-bit dHash over the
    deterministic fake-decode 9×8 cell grid (documents' bytes standing
    in for image payloads, as in multimodal_meta/audio_chunks), then
    the SAME 4×16-bit hamming banding SimHash uses.  Identical payloads
    surface as hamming-0 star edges; with the real cv2 kernel the same
    plan yields near-identical-pixel pairs at hamming ≤ 3.  Every 7th
    doc is re-ingested under a shifted id (the duplicate-crawl case),
    so the collapse logic produces attestable rows — see
    _PHASH_COPY_MOD."""
    docs = _tbl(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
    ).unionByName(
        docs.filter(F.col("doc_id") % _PHASH_COPY_MOD == 0).select(
            (F.col("doc_id") + _PHASH_COPY_OFFSET).alias("media_id"),
            F.col("text").cast("binary").alias("payload"),
        )
    )
    return dedup.image_phash_pairs(media)


# (image, caption) pair fixture: every 7th doc's image re-crawled with
# a caption variant (same pixels, new caption) and every 5th doc's
# caption pasted onto altered pixels (same caption, new image) —
# doc % 35 hits BOTH fleets, exercising the sequential-round policy
_PAIR_IMG_DUP_MOD, _PAIR_IMG_DUP_OFF = 7, 2_000_000
_PAIR_CAP_DUP_MOD, _PAIR_CAP_DUP_OFF = 5, 4_000_000


def _pair_dedup_sql() -> str:
    cell, bits_cat = _dhash_cell_bits()
    return f"""
    WITH pairs AS (
      SELECT doc_id AS pair_id, text AS payload, text AS caption FROM documents
      UNION ALL
      SELECT doc_id + {_PAIR_IMG_DUP_OFF}, text, text || ' (alt)'
      FROM documents WHERE doc_id % {_PAIR_IMG_DUP_MOD} = 0
      UNION ALL
      SELECT doc_id + {_PAIR_CAP_DUP_OFF}, text || '|v2', text
      FROM documents WHERE doc_id % {_PAIR_CAP_DUP_MOD} = 0
    ),
    ph0 AS (
      SELECT pair_id, caption, list_transform(range(0, 72), i -> {cell}) AS cs
      FROM (SELECT pair_id, caption, md5(payload) AS pm FROM pairs)
    ),
    keyed AS (
      SELECT pair_id, concat({bits_cat}) AS image_key,
             md5(caption) AS caption_key
      FROM ph0
    ),
    ik AS (SELECT image_key, min(pair_id) AS ikeep FROM keyed GROUP BY image_key),
    s1 AS (SELECT k.*, ik.ikeep FROM keyed k JOIN ik USING (image_key)),
    surv AS (SELECT pair_id, image_key, caption_key FROM s1 WHERE pair_id = ikeep),
    ck AS (SELECT caption_key, min(pair_id) AS ckeep FROM surv GROUP BY caption_key)
    SELECT s.pair_id, s.image_key, s.caption_key,
           CASE WHEN s.pair_id = c.ckeep THEN 'kept' ELSE 'dup_caption' END AS status
    FROM surv s JOIN ck c USING (caption_key)
    UNION ALL
    SELECT pair_id, image_key, caption_key, 'dup_image' AS status
    FROM s1 WHERE pair_id <> ikeep
    """


@q("image_text_pair_dedup", _pair_dedup_sql())
def image_text_pair_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal (image, caption) PAIR curation (operators/dedup.py
    image_text_pair_dedup; VERDICT r8 ask #7) — the pair-level keeper
    policy per-modality dedup can't express: one caption per image
    cluster (round 1, image clusters by the with_image_phash dHash —
    the multimodal kernel, identical payloads → identical hash), then
    one image per caption cluster among the survivors (round 2,
    caption clusters by content md5).  The fixture plants BOTH
    directions (re-crawled image under a caption variant; one caption
    pasted on altered pixels) plus their overlap (doc % 35), and the
    full audit table — every pair with its kept/dup_image/dup_caption
    status — is value-hash-gated.  Two groupBy(min)+equi-join rounds;
    shuffles carry (64-bit hash, id), payloads never."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = (
        docs.select(
            F.col("doc_id").alias("pair_id"),
            F.col("text").cast("binary").alias("payload"),
            F.col("text").alias("caption"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % _PAIR_IMG_DUP_MOD == 0).select(
                (F.col("doc_id") + _PAIR_IMG_DUP_OFF).alias("pair_id"),
                F.col("text").cast("binary").alias("payload"),
                F.concat(F.col("text"), F.lit(" (alt)")).alias("caption"),
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % _PAIR_CAP_DUP_MOD == 0).select(
                (F.col("doc_id") + _PAIR_CAP_DUP_OFF).alias("pair_id"),
                F.concat(F.col("text"), F.lit("|v2")).cast("binary").alias("payload"),
                F.col("text").alias("caption"),
            )
        )
    )
    keyed = dedup.with_image_phash(
        pairs, payload_col="payload", id_col="pair_id", out_col="image_key"
    ).select(
        "pair_id",
        "image_key",
        F.md5(F.col("caption").cast("binary")).alias("caption_key"),
    )
    # r13 (guide §2.4): the two keeper rounds consume this table from
    # five branches (image-keeper agg, its join-back, then the
    # survivors' caption-keeper agg, its join-back, and the dup_image
    # leg) — uncut, the 72-md5 dHash kernel over the 3-way union
    # replayed per branch (plan: 36 parquet scans of ONE documents
    # table).  The keyed table is (id, two 64-bit keys); the build is
    # on the bench clock, so the eager cut is too.
    keyed = materialize(keyed)
    return dedup.image_text_pair_dedup(keyed)


_DECON_BENCH_MOD = 97  # deterministic stand-in for the eval/benchmark set
_DECON_N = 8  # the standard decontamination n-gram length


def _decon_gram_cte(src_filter: str, name: str) -> str:
    idx = " || ' ' || ".join(
        f"list_extract(toks, i + {k})" for k in range(_DECON_N)
    )
    return f"""{name} AS (
      SELECT doc_id, list_distinct(list_transform(
               generate_series(1, len(toks) - {_DECON_N - 1}), i -> md5({idx}))) AS gs
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
            WHERE {src_filter} AND len(string_split(text, ' ')) >= {_DECON_N})
    )"""


_DECONTAMINATION_SQL = f"""
    WITH {_decon_gram_cte(f"doc_id % {_DECON_BENCH_MOD} = 0", "bench")},
    {_decon_gram_cte(f"doc_id % {_DECON_BENCH_MOD} <> 0", "corpus")},
    bg AS (SELECT DISTINCT unnest(gs) AS g FROM bench),
    cg AS (SELECT doc_id, unnest(gs) AS g FROM corpus),
    hits AS (
      SELECT cg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched_grams
      FROM cg JOIN bg ON cg.g = bg.g GROUP BY cg.doc_id
    )
    SELECT c.doc_id,
           CAST(COALESCE(h.n_matched_grams, 0) AS BIGINT) AS n_matched_grams,
           CAST(COALESCE(h.n_matched_grams, 0) > 0 AS INT) AS contaminated
    FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
    """


@q("decontamination", _DECONTAMINATION_SQL)
def decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the standard training-data hygiene
    step: flag corpus documents sharing any {_DECON_N}-word shingle
    with the benchmark/eval set (here a deterministic doc_id-modulus
    sample standing in for it).

    Scale shape: the benchmark gram set is SMALL by construction (eval
    suites are thousands of docs, not billions) — built once, distinct
    md5 keys, broadcast to an equi-join against the corpus's exploded
    grams.  The corpus side streams through one scan + explode; no
    shuffle of document text, the join key is a 32-char hash.  Docs
    shorter than the shingle length are out of scope on both sides
    (standard practice — sub-n-gram docs can't 8-gram-collide)."""
    docs = ensure_parallelism(
        _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    )
    is_bench = F.col("doc_id") % _DECON_BENCH_MOD == 0
    return text.flag_contaminated(
        docs.filter(~is_bench), docs.filter(is_bench), n=_DECON_N
    )


@q(
    "text_stats",
    f"""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(list_filter(toks, t -> t IN {text._in_list(text.STOPWORDS)})) AS BIGINT) AS n_stopwords
      FROM t
    )
    SELECT doc_id, n_tokens, n_chars, n_stopwords,
           (n_chars - (n_tokens - 1)) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
           n_stopwords / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
           LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) *
             (1.0 - n_stopwords / CAST(n_tokens AS DOUBLE)) AS quality_score
    FROM s
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring over the documents table."""
    docs = _tbl(spark, sf_dir, "documents")
    out = text.with_token_stats(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_chars",
        "n_stopwords",
        "avg_token_len",
        "stopword_ratio",
        "quality_score",
    )


@q(
    "bpe_token_count",
    f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{text.BPE_PATTERN}')) AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
)
def bpe_token_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budgeting: whitespace tokens vs the BPE-ish regex count
    (subword-aware, GPT-2-pre-tokenizer-shaped) — both pure scan-side
    projections."""
    docs = _tbl(spark, sf_dir, "documents")
    out = text.with_bpe_token_count(docs)
    return out.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_ws_tokens"),
        "n_bpe_tokens",
    )


def _lang_id_sql() -> str:
    langs = list(text.LANG_PROFILES)
    scores = ",\n             ".join(
        f"CAST(len(list_filter(toks, t -> t IN {text._in_list(text.LANG_PROFILES[l])})) AS BIGINT) AS score_{l}"
        for l in langs
    )
    # same greedy argmax chain as the Spark operator
    pred = f"'{langs[-1]}'"
    for lang in reversed(langs[:-1]):
        later = [f"score_{l2}" for l2 in langs[langs.index(lang) + 1 :]]
        maxl = later[0] if len(later) == 1 else f"GREATEST({', '.join(later)})"
        pred = f"CASE WHEN score_{lang} >= {maxl} THEN '{lang}' ELSE {pred} END"
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id,
             {scores}
          FROM t)
    SELECT doc_id, {', '.join('score_' + l for l in langs)}, {pred} AS predicted_lang
    FROM s
    """


@q("lang_id", _lang_id_sql())
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: profile hit-count scoring + fixed-order
    argmax."""
    docs = _tbl(spark, sf_dir, "documents")
    out = text.with_lang_id(docs)
    return out.select(
        "doc_id", *[f"score_{l}" for l in text.LANG_PROFILES], "predicted_lang"
    )


_LANG_CONF_MARGIN = 2


def _lang_conf_sql() -> str:
    langs = list(text.LANG_PROFILES)
    scores = ",\n             ".join(
        f"CAST(len(list_filter(toks, t -> t IN {text._in_list(text.LANG_PROFILES[l])})) AS BIGINT) AS score_{l}"
        for l in langs
    )
    pred = f"'{langs[-1]}'"
    for lang in reversed(langs[:-1]):
        later = [f"score_{l2}" for l2 in langs[langs.index(lang) + 1 :]]
        maxl = later[0] if len(later) == 1 else f"GREATEST({', '.join(later)})"
        pred = f"CASE WHEN score_{lang} >= {maxl} THEN '{lang}' ELSE {pred} END"
    arr = "list_sort([" + ", ".join(f"score_{l}" for l in langs) + "])"
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id,
             {scores}
          FROM t),
    m AS (
      SELECT doc_id, {', '.join('score_' + l for l in langs)},
             {pred} AS predicted_lang,
             CAST({arr}[-1] - {arr}[-2] AS BIGINT) AS margin,
             ({arr}[-1] - {arr}[-2] >= {_LANG_CONF_MARGIN}
              AND {arr}[-1] > 0) AS is_confident
      FROM s
    )
    SELECT doc_id, predicted_lang, margin, is_confident,
           CASE WHEN is_confident THEN predicted_lang ELSE 'und' END
             AS effective_lang
    FROM m
    """


@q("lang_id_confident", _lang_conf_sql())
def lang_id_confident_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confidence-gated language ID (operators/text.py
    with_lang_confidence) — the CCNet drop rule: the argmax language
    sticks only when the best-vs-second-best INT margin clears the
    threshold AND the winner has any evidence at all; everything else
    is tagged 'und' for dropping or heavier-model routing.
    All-integer comparisons, pure scan-side Column algebra on top of
    the audited lang_id scores — zero shuffle, a free rider on the
    ingest pass like the rest of the filter family."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    out = text.with_lang_confidence(docs, margin_threshold=_LANG_CONF_MARGIN)
    return out.select(
        "doc_id", "predicted_lang", "margin", "is_confident", "effective_lang"
    )


@q(
    "doc_fingerprint",
    """
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT doc_id, text,
             CASE WHEN len(toks) >= 4
                  THEN list_transform(generate_series(1, len(toks) - 3),
                       i -> list_extract(toks, i) || ' ' || list_extract(toks, i + 1) || ' ' ||
                            list_extract(toks, i + 2) || ' ' || list_extract(toks, i + 3))
                  ELSE [concat_ws(' ', toks)] END AS sh
      FROM t
    )
    SELECT doc_id, md5(text) AS content_md5,
           list_min(list_transform(sh, s -> md5(s))) AS shingle_fp
    FROM sh
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: content md5 + min-shingle-hash
    (1-function MinHash, winnowing-style)."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.with_fingerprint(docs).select("doc_id", "content_md5", "shingle_fp")


# ---------------------------------------------------------------------------
# LLM-pack round-4 attestation: the previously test-only components
# (repetition stats, chunking, packing, split, quantize, clusters) get
# driver-gated oracle rows (VERDICT r3 "Next round" #1).


_REPETITION_SQL = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) >= 2
                  THEN list_transform(generate_series(1, len(toks) - 1),
                       i -> list_extract(toks, i) || ' ' || list_extract(toks, i + 1))
                  ELSE [concat_ws(' ', toks)] END AS grams
      FROM t
    ),
    tok_rows AS (
      SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS idx FROM t
    ),
    runs AS (
      SELECT doc_id, tok,
             idx - ROW_NUMBER() OVER (PARTITION BY doc_id, tok ORDER BY idx) AS grp
      FROM tok_rows
    ),
    runlen AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS rl FROM runs GROUP BY doc_id, tok, grp
    ),
    maxrun AS (SELECT doc_id, max(rl) AS max_run_len FROM runlen GROUP BY doc_id)
    SELECT g.doc_id,
           1.0 - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) AS dup_token_frac,
           list_max(list_transform(list_distinct(grams),
                    x -> len(list_filter(grams, y -> y = x))))
             / CAST(len(grams) AS DOUBLE) AS top_ngram_frac,
           m.max_run_len
    FROM g JOIN maxrun m ON g.doc_id = m.doc_id
    """


@q("repetition_stats", _REPETITION_SQL)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style within-document repetition signals: duplicate
    token fraction, top-bigram share, longest same-token run.  Pure
    Column folds in Spark; the oracle replays the run length via
    gaps-and-islands SQL."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    out = text.with_repetition_stats(docs, ngram_n=2)
    return out.select("doc_id", "dup_token_frac", "top_ngram_frac", "max_run_len")


CHUNK_TOKENS, CHUNK_OVERLAP = 32, 4

_DOC_CHUNKS_SQL = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    starts AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, greatest(len(toks), 1), {CHUNK_TOKENS - CHUNK_OVERLAP})) AS st,
             CAST(generate_subscripts(generate_series(1, greatest(len(toks), 1), {CHUNK_TOKENS - CHUNK_OVERLAP}), 1) - 1 AS INTEGER) AS chunk_idx
      FROM t
    ),
    pieces AS (
      SELECT doc_id, chunk_idx, list_slice(toks, st, st + {CHUNK_TOKENS - 1}) AS piece
      FROM starts
    )
    SELECT doc_id, chunk_idx, CAST(len(piece) AS BIGINT) AS n_tokens,
           array_to_string(piece, ' ') AS chunk
    FROM pieces WHERE chunk_idx = 0 OR len(piece) > {CHUNK_OVERLAP}
    """


@q("doc_chunks", _DOC_CHUNKS_SQL)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget chunking with overlap: sequence-of-starts →
    posexplode → slice, one narrow stage (operators/text.py)."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return text.chunk_documents(
        docs, max_tokens=CHUNK_TOKENS, overlap=CHUNK_OVERLAP
    )


PACK_CHUNK, PACK_BUDGET = 16, 48

_CHUNK_PACKING_SQL = f"""
    WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    starts AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, greatest(len(toks), 1), {PACK_CHUNK})) AS st,
             CAST(generate_subscripts(generate_series(1, greatest(len(toks), 1), {PACK_CHUNK}), 1) - 1 AS INTEGER) AS chunk_idx
      FROM t
    ),
    chunks AS (
      SELECT doc_id, chunk_idx,
             CAST(len(list_slice(toks, st, st + {PACK_CHUNK - 1})) AS BIGINT) AS n_tokens
      FROM starts
    ),
    packs AS (
      SELECT doc_id, chunk_idx, n_tokens, CAST(0 AS BIGINT) AS pack_id, n_tokens AS acc
      FROM chunks WHERE chunk_idx = 0
      UNION ALL
      SELECT c.doc_id, c.chunk_idx, c.n_tokens,
             CASE WHEN p.acc + c.n_tokens > {PACK_BUDGET} THEN p.pack_id + 1 ELSE p.pack_id END,
             CASE WHEN p.acc + c.n_tokens > {PACK_BUDGET} THEN c.n_tokens ELSE p.acc + c.n_tokens END
      FROM chunks c JOIN packs p ON c.doc_id = p.doc_id AND c.chunk_idx = p.chunk_idx + 1
    )
    SELECT doc_id, chunk_idx, n_tokens, pack_id FROM packs
    """


@q("chunk_packing", _CHUNK_PACKING_SQL)
def chunk_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-document packing of fixed-size chunks into ≤ budget
    training samples — the Spark array fold vs a recursive-CTE oracle
    walking chunks in order (operators/text.py pack_chunks_per_doc)."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = text.chunk_documents(docs, max_tokens=PACK_CHUNK, overlap=0)
    return text.pack_chunks_per_doc(chunks, budget=PACK_BUDGET)


_XPACK_BUCKETS = 8

_CROSS_PACK_SQL = f"""
    WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    starts AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, greatest(len(toks), 1), {PACK_CHUNK})) AS st,
             CAST(generate_subscripts(generate_series(1, greatest(len(toks), 1), {PACK_CHUNK}), 1) - 1 AS INTEGER) AS chunk_idx
      FROM t
    ),
    chunks AS (
      SELECT doc_id, chunk_idx,
             CAST(len(list_slice(toks, st, st + {PACK_CHUNK - 1})) AS BIGINT) AS n_tokens
      FROM starts
    ),
    bh AS (
      SELECT *, md5('pack|' || CAST(doc_id AS VARCHAR)) AS h FROM chunks
    ),
    bkts AS (
      SELECT doc_id, chunk_idx, n_tokens,
             ({" + ".join(f"(instr('0123456789abcdef', substring(h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}" for i in range(8))}) % {_XPACK_BUCKETS} AS bkt
      FROM bh
    ),
    ord AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY bkt ORDER BY doc_id, chunk_idx) AS BIGINT) AS rn
      FROM bkts
    ),
    walk AS (
      SELECT bkt, rn, doc_id, chunk_idx, n_tokens,
             CAST(0 AS BIGINT) AS cnt, n_tokens AS acc
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.bkt, o.rn, o.doc_id, o.chunk_idx, o.n_tokens,
             CASE WHEN w.acc + o.n_tokens > {PACK_BUDGET} AND w.acc > 0 THEN w.cnt + 1 ELSE w.cnt END,
             CASE WHEN w.acc + o.n_tokens > {PACK_BUDGET} AND w.acc > 0 THEN o.n_tokens ELSE w.acc + o.n_tokens END
      FROM ord o JOIN walk w ON o.bkt = w.bkt AND o.rn = w.rn + 1
    )
    SELECT doc_id, chunk_idx, n_tokens,
           CAST(bkt * {1 << 40} + cnt AS BIGINT) AS pack_id
    FROM walk
    """


@q("cross_doc_packing", _CROSS_PACK_SQL)
def cross_doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy packing ACROSS documents (operators/text.py
    pack_chunks_cross_doc): md5-bucketed docs, each bucket's chunks
    walked in (doc, idx) order with the running-sum-with-reset rule,
    pack_id = bucket·2⁴⁰ + counter.  The oracle replays the walk with
    a per-bucket recursive CTE over the identical bucket assignment —
    deterministic whatever the physical partitioning."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = text.chunk_documents(docs, max_tokens=PACK_CHUNK, overlap=0)
    return text.pack_chunks_cross_doc(
        chunks, budget=PACK_BUDGET, num_buckets=_XPACK_BUCKETS
    )


_SPLIT_FRACTIONS = {"train": 0.8, "validation": 0.1, "test": 0.1}


def _split_val_and_case(fractions: dict[str, float]) -> tuple[str, str]:
    """The two SQL pieces of the split assignment: the 8-nibble md5
    decode expression (over a column named `h`) and the boundary CASE
    (over a column named `u`).  Boundary literals are accumulated with
    the SAME Python float additions Spark uses (repr round-trips
    exactly, so `u < 0.9000000000000001` matches bit-for-bit)."""
    val = " + ".join(
        f"(instr('0123456789abcdef', substring(h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    names = list(fractions)
    cases, acc = [], 0.0
    for name in names[:-1]:
        acc += fractions[name]
        cases.append(f"WHEN u < {acc!r} THEN '{name}'")
    case_expr = f"CASE {' '.join(cases)} ELSE '{names[-1]}' END"
    return val, case_expr


def _split_sql(
    fractions: dict[str, float], salt: str = "split", doc_src: str = "documents"
) -> str:
    """DuckDB twin of sampling.split_by_hash (see _split_val_and_case)."""
    val, case_expr = _split_val_and_case(fractions)
    return f"""
    WITH h AS (
      SELECT doc_id, md5('{salt}|' || CAST(doc_id AS VARCHAR)) AS h FROM {doc_src}
    ),
    u AS (SELECT doc_id, ({val}) / 4294967296.0 AS u FROM h)
    SELECT doc_id, {case_expr} AS split FROM u
    """


@q("dataset_split", _split_sql(_SPLIT_FRACTIONS))
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-uniform train/validation/test assignment
    (operators/sampling.py split_by_hash) — content-stable, salt-able,
    no RNG-seed fragility."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id")
    return sampling.split_by_hash(docs, _SPLIT_FRACTIONS)


_EMB_QUANT_SQL = """
    WITH n AS (
      SELECT vec_id, embedding,
             list_reduce(list_transform(embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                         (a, b) -> a + b) AS n2
      FROM embeddings
    ),
    r AS (
      SELECT vec_id, n2, unnest(embedding) AS x,
             CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim
      FROM n
    ),
    uv AS (
      SELECT vec_id, dim,
             CASE WHEN n2 = 0.0 THEN 0.0 ELSE CAST(x AS DOUBLE) / sqrt(n2) END AS unit_val
      FROM r
    )
    SELECT vec_id, dim, unit_val,
           CAST(greatest(-127.0, least(127.0, floor(unit_val * 127 + 0.5))) AS TINYINT) AS q8
    FROM uv
    """


@q("embedding_quantize", _EMB_QUANT_SQL)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-norm + symmetric int8 quantization, exploded to one row per
    dimension so the driver hash pins every value (operators/sampling.py
    with_unit_norm / with_int8_quantized).  Both engines fold the norm
    left-to-right over the array — bit-identical doubles — and the
    ⌊x·127+0.5⌋ rounding avoids engine round() tie skew."""
    emb = _tbl(spark, sf_dir, "embeddings")
    out = sampling.with_int8_quantized(sampling.with_unit_norm(emb))
    return out.select(
        "vec_id", F.posexplode(F.arrays_zip("unit", "q8")).alias("dim", "z")
    ).select(
        "vec_id", "dim", F.col("z.unit").alias("unit_val"), F.col("z.q8").alias("q8")
    )


_CLUSTERS_SQL = f"""
    WITH RECURSIVE {_MINHASH_CAND_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    reach AS (
      SELECT doc_id AS id, doc_id AS r FROM documents
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
    )
    SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
    """


@q("near_dup_clusters", _CLUSTERS_SQL)
def near_dup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over MinHash-LSH candidate pairs: every doc
    labelled with the smallest reachable doc id (the dedup keep-list is
    `doc_id == cluster_id`).  Spark runs min-label propagation
    (operators/dedup.py near_dup_clusters); the oracle computes the
    same fixpoint via a recursive-CTE transitive closure + min."""
    docs = _tbl(spark, sf_dir, "documents")
    pairs = dedup.lsh_candidate_pairs(docs, num_hashes=12, bands=4, shingle_n=3)
    return dedup.near_dup_clusters(pairs, docs)


@q("near_dup_clusters_star", _CLUSTERS_SQL)
def near_dup_clusters_star_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same connected-components deliverable computed by
    alternating large-star/small-star contraction (Kiveris et al.,
    SoCC 2014, operators/dedup.py near_dup_clusters_star) instead of
    min-label propagation: O(log n) rounds independent of graph
    diameter — the 100 TB path for deep near-dup chains.  Identical
    oracle to near_dup_clusters: the label set is a function of the
    pair graph, not the algorithm."""
    docs = _tbl(spark, sf_dir, "documents")
    pairs = dedup.lsh_candidate_pairs(docs, num_hashes=12, bands=4, shingle_n=3)
    return dedup.near_dup_clusters_star(pairs, docs)


_LEAK_THRESHOLD = 0.5


def _split_leakage_sql() -> str:
    val, case_expr = _split_val_and_case(_SPLIT_FRACTIONS)
    return f"""
    WITH {_MINHASH_CAND_CTES},
    vsh AS (SELECT doc_id, list_distinct(sh) AS vs FROM sh),
    ver AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(a.vs, b.vs)) /
               CAST(len(a.vs) + len(b.vs) - len(list_intersect(a.vs, b.vs)) AS DOUBLE) AS jaccard
      FROM cand c
      JOIN vsh a ON a.doc_id = c.doc_a
      JOIN vsh b ON b.doc_id = c.doc_b
    ),
    hsp AS (
      SELECT doc_id, md5('split|' || CAST(doc_id AS VARCHAR)) AS h FROM documents
    ),
    usp AS (SELECT doc_id, ({val}) / 4294967296.0 AS u FROM hsp),
    sp AS (SELECT doc_id, {case_expr} AS split FROM usp),
    leaked AS (
      SELECT v.doc_a, v.doc_b, sa.split AS split_a, sb.split AS split_b, v.jaccard
      FROM ver v
      JOIN sp sa ON sa.doc_id = v.doc_a
      JOIN sp sb ON sb.doc_id = v.doc_b
      WHERE v.jaccard >= {_LEAK_THRESHOLD!r} AND sa.split <> sb.split
    )
    SELECT doc_a, doc_b, split_a, split_b, jaccard FROM leaked
    """


@q("split_leakage_audit", _split_leakage_sql())
def split_leakage_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination audit — the QA gate every benchmark-
    grade split needs: verified near-duplicate pairs (MinHash-LSH
    candidates → exact shingle Jaccard ≥ {thr}) that STRADDLE split
    boundaries.  A hash-random split deliberately ignores content, so
    near-dup pairs land across train/test at ~2·p·(1−p) rate — this
    query emits exactly those pairs (the remediation worklist: move
    both sides to train, or drop the eval side).  Pure composition of
    two driver-gated stages (lsh_verify × dataset_split); the split
    join adds two hash-equi-joins on doc_id, nothing corpus-keyed.  At
    100 TB this is the same O(candidates) cost as lsh_verify itself.
    """
    docs = _tbl(spark, sf_dir, "documents")
    verified = dedup.verify_candidates(
        dedup.lsh_candidate_pairs(docs, num_hashes=12, bands=4, shingle_n=3),
        docs,
    ).filter(F.col("jaccard") >= _LEAK_THRESHOLD)
    splits = sampling.split_by_hash(docs.select("doc_id"), _SPLIT_FRACTIONS)
    sa = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        verified.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "split_a", "split_b", "jaccard")
    )


split_leakage_audit_q.__doc__ = split_leakage_audit_q.__doc__.format(
    thr=_LEAK_THRESHOLD
)


def _split_repair_sql() -> str:
    # the audit SQL ends in `SELECT ... FROM leaked`; swap that tail for
    # the remediation projection so both queries share one CTE chain
    base = _split_leakage_sql()
    head, _, _ = base.rpartition("SELECT doc_a, doc_b")
    return (
        head
        + """, moved AS (
      SELECT doc_a AS doc_id FROM leaked UNION SELECT doc_b FROM leaked
    )
    SELECT m.doc_id, sp.split AS old_split, 'train' AS new_split
    FROM moved m JOIN sp ON sp.doc_id = m.doc_id
    WHERE sp.split <> 'train'
    """
    )


@q("split_leakage_repair", _split_repair_sql())
def split_leakage_repair_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remediation of the split_leakage_audit worklist under the
    leak-safe policy: EVERY member of a cross-split near-dup pair is
    reassigned to train (contaminated content may train, never
    evaluate — moving both sides is idempotent and needs no
    transitive propagation, unlike drop-the-eval-side which can
    re-leak through chains).  Emits exactly the docs whose assignment
    changes: (doc_id, old_split, new_split='train').  Cost on top of
    the audit: one distinct over 2·|leaked pairs| ids and one
    broadcast-sized join back to the split table."""
    docs = _tbl(spark, sf_dir, "documents")
    audit = split_leakage_audit_q(spark, sf_dir)
    # r14 (§2.4): ONE reference to the audit tree — the old
    # union-of-two-selects referenced it twice (the exact-jaccard
    # verify tail above the candidates checkpoint planned per leg;
    # AQE absorbed most of the replay at runtime but the plan carried
    # it).  explode(array(doc_a, doc_b)) is the same multiset of ids.
    moved = (
        audit.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
    )
    splits = sampling.split_by_hash(docs.select("doc_id"), _SPLIT_FRACTIONS)
    return (
        moved.join(splits, "doc_id")
        .filter(F.col("split") != "train")
        .select(
            "doc_id",
            F.col("split").alias("old_split"),
            F.lit("train").alias("new_split"),
        )
    )


# ---------------------------------------------------------------------------
# The full LLM-data-pipeline walkthrough (VERDICT r4 "Next round" #5):
# quality filter → repetition filter → exact dedup → near-dup cluster
# keep-list → deterministic split → chunk → pack → embedding quantize,
# composed as ONE Spark lineage and checked against ONE DuckDB oracle
# that replays every stage (each stage's SQL is the already-green
# per-operator oracle re-sourced to the previous stage's CTE).

_PIPE_QUALITY_MIN = 0.5
_PIPE_DUP_MAX = 0.65
_PIPE_TOPGRAM_MAX = 0.06
_PIPE_RUN_MAX = 4


def _llm_pipeline_sql() -> str:
    stop = text._in_list(text.STOPWORDS)
    val, case_expr = _split_val_and_case(_SPLIT_FRACTIONS)
    return f"""
    WITH RECURSIVE
    p_t0 AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
    p_quality AS (
      SELECT doc_id, text,
             LEAST(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) *
               (1.0 - len(list_filter(toks, t -> t IN {stop})) / CAST(len(toks) AS DOUBLE)) AS q
      FROM p_t0
    ),
    p_qkeep AS (SELECT doc_id, text FROM p_quality WHERE q >= {_PIPE_QUALITY_MIN}),
    p_t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM p_qkeep),
    p_g AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) >= 2
                  THEN list_transform(generate_series(1, len(toks) - 1),
                       i -> list_extract(toks, i) || ' ' || list_extract(toks, i + 1))
                  ELSE [concat_ws(' ', toks)] END AS grams
      FROM p_t
    ),
    p_tok_rows AS (
      SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS idx FROM p_t
    ),
    p_runs AS (
      SELECT doc_id, tok,
             idx - ROW_NUMBER() OVER (PARTITION BY doc_id, tok ORDER BY idx) AS grp
      FROM p_tok_rows
    ),
    p_runlen AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS rl FROM p_runs GROUP BY doc_id, tok, grp
    ),
    p_maxrun AS (SELECT doc_id, max(rl) AS max_run_len FROM p_runlen GROUP BY doc_id),
    p_rep AS (
      SELECT g.doc_id,
             1.0 - len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) AS dup_token_frac,
             list_max(list_transform(list_distinct(grams),
                      x -> len(list_filter(grams, y -> y = x))))
               / CAST(len(grams) AS DOUBLE) AS top_ngram_frac,
             m.max_run_len
      FROM p_g g JOIN p_maxrun m ON g.doc_id = m.doc_id
    ),
    p_clean AS (
      SELECT t.doc_id, t.text
      FROM p_t t JOIN p_rep r ON t.doc_id = r.doc_id
      WHERE r.dup_token_frac <= {_PIPE_DUP_MAX}
        AND r.top_ngram_frac <= {_PIPE_TOPGRAM_MAX}
        AND r.max_run_len <= {_PIPE_RUN_MAX}
    ),
    p_exact AS (SELECT MIN(doc_id) AS doc_id FROM p_clean GROUP BY md5(text)),
    p_clean2 AS (SELECT c.doc_id, c.text FROM p_clean c JOIN p_exact e USING (doc_id)),
    {_minhash_cand_ctes("p_clean2")},
    p_edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    p_reach AS (
      SELECT doc_id AS id, doc_id AS r FROM p_clean2
      UNION
      SELECT p_reach.id, e.dst FROM p_reach JOIN p_edges e ON p_reach.r = e.src
    ),
    p_clusters AS (SELECT id AS doc_id, min(r) AS cluster_id FROM p_reach GROUP BY id),
    p_surv AS (
      SELECT c.doc_id, c.text
      FROM p_clean2 c JOIN p_clusters k
        ON c.doc_id = k.doc_id AND c.doc_id = k.cluster_id
    ),
    p_h AS (
      SELECT doc_id, md5('split|' || CAST(doc_id AS VARCHAR)) AS h FROM p_surv
    ),
    p_u AS (SELECT doc_id, ({val}) / 4294967296.0 AS u FROM p_h),
    p_split AS (SELECT doc_id, {case_expr} AS split FROM p_u),
    p_ct AS (SELECT doc_id, string_split(text, ' ') AS toks FROM p_surv),
    p_starts AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, greatest(len(toks), 1), {PACK_CHUNK})) AS st,
             CAST(generate_subscripts(generate_series(1, greatest(len(toks), 1), {PACK_CHUNK}), 1) - 1 AS INTEGER) AS chunk_idx
      FROM p_ct
    ),
    p_chunks AS (
      SELECT doc_id, chunk_idx,
             CAST(len(list_slice(toks, st, st + {PACK_CHUNK - 1})) AS BIGINT) AS n_tokens
      FROM p_starts
    ),
    p_packs AS (
      SELECT doc_id, chunk_idx, n_tokens, CAST(0 AS BIGINT) AS pack_id, n_tokens AS acc
      FROM p_chunks WHERE chunk_idx = 0
      UNION ALL
      SELECT c.doc_id, c.chunk_idx, c.n_tokens,
             CASE WHEN p.acc + c.n_tokens > {PACK_BUDGET} THEN p.pack_id + 1 ELSE p.pack_id END,
             CASE WHEN p.acc + c.n_tokens > {PACK_BUDGET} THEN c.n_tokens ELSE p.acc + c.n_tokens END
      FROM p_chunks c JOIN p_packs p ON c.doc_id = p.doc_id AND c.chunk_idx = p.chunk_idx + 1
    ),
    p_cs AS (
      SELECT s.split, CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(SUM(c.n_tokens) AS BIGINT) AS sum_chunk_tokens
      FROM p_chunks c JOIN p_split s USING (doc_id) GROUP BY s.split
    ),
    p_ps AS (
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n_packs
      FROM (SELECT DISTINCT s.split, p.doc_id, p.pack_id
            FROM p_packs p JOIN p_split s USING (doc_id))
      GROUP BY split
    ),
    p_en AS (
      SELECT vec_id,
             list_reduce(list_transform(embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                         (a, b) -> a + b) AS n2,
             embedding
      FROM embeddings
    ),
    p_er AS (SELECT vec_id, n2, unnest(embedding) AS x FROM p_en),
    p_eq AS (
      SELECT vec_id,
             CAST(SUM(abs(CAST(greatest(-127.0, least(127.0,
               floor((CASE WHEN n2 = 0.0 THEN 0.0 ELSE CAST(x AS DOUBLE) / sqrt(n2) END) * 127 + 0.5)))
               AS BIGINT))) AS BIGINT) AS l1
      FROM p_er GROUP BY vec_id
    ),
    p_vs AS (
      SELECT s.split, CAST(COUNT(*) AS BIGINT) AS n_vecs, CAST(SUM(e.l1) AS BIGINT) AS q8_l1
      FROM p_eq e JOIN p_split s ON e.vec_id = s.doc_id GROUP BY s.split
    ),
    p_nd AS (SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs FROM p_split GROUP BY split)
    SELECT d.split, d.n_docs,
           CAST(COALESCE(c.n_chunks, 0) AS BIGINT) AS n_chunks,
           CAST(COALESCE(c.sum_chunk_tokens, 0) AS BIGINT) AS sum_chunk_tokens,
           CAST(COALESCE(pp.n_packs, 0) AS BIGINT) AS n_packs,
           CAST(COALESCE(v.n_vecs, 0) AS BIGINT) AS n_vecs,
           CAST(COALESCE(v.q8_l1, 0) AS BIGINT) AS q8_l1
    FROM p_nd d
    LEFT JOIN p_cs c USING (split)
    LEFT JOIN p_ps pp USING (split)
    LEFT JOIN p_vs v USING (split)
    """


@q("llm_pipeline", _llm_pipeline_sql())
def llm_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end LLM-data-pipeline walkthrough as ONE lineage:
    documents → token/quality stats (filter quality ≥ 0.5) →
    repetition stats (filter dup-token/top-bigram/run-length) → exact
    dedup keep-list → MinHash-LSH near-dup clusters keep-list →
    deterministic split → token chunking → greedy packing, plus the
    surviving docs' embeddings unit-normed and int8-quantized.  Output:
    per-split doc/chunk/pack/vector counts and the quantized-l1 sum —
    every number DuckDB-replayed by the composed oracle.

    One composition with two explicit stage-materialization points
    (the per-doc repetition metrics and the split assignment — both
    O(docs) narrow tables, not the corpus), exactly where a production
    pipeline would write intermediate datasets; see the inline comments
    for the measured pushdown/codegen trap they avoid.  Every stage
    materialization (and the label propagation's per-round truncation)
    goes through `util.materialize`, so a deployment that sets
    `spark.checkpoint.dir` gets executor-loss-safe reliable checkpoints
    — the cluster-run posture."""
    # fan the (test-scale single-file) scan out before the expression-
    # heavy token/repetition/minhash folds — a no-op at real scale
    docs = ensure_parallelism(
        _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    )
    stats = text.with_token_stats(docs)
    qkeep = stats.filter(
        F.col("quality_score") >= _PIPE_QUALITY_MIN
    ).select("doc_id", "text")
    # Filtering directly on the repetition columns is a trap:
    # PushDownPredicates substitutes each O(doc_len²) fold into the
    # Filter and the scan DataFilters, and the resulting expressions
    # are too large for whole-stage codegen — the stage runs
    # interpreted, measured 77 s vs 4 s at sf0.1.  So the per-doc
    # metric columns (tiny: id + three numbers) are materialized ONCE
    # and the filter tests plain attributes; the surviving ids join
    # back to the text.  At production scale this checkpoint is the
    # natural stage boundary a real pipeline writes to storage anyway.
    rep_metrics = materialize(
        text.with_repetition_stats(qkeep, ngram_n=2).select(
            "doc_id", "dup_token_frac", "top_ngram_frac", "max_run_len"
        )
    )
    keep_rep = rep_metrics.filter(
        (F.col("dup_token_frac") <= _PIPE_DUP_MAX)
        & (F.col("top_ngram_frac") <= _PIPE_TOPGRAM_MAX)
        & (F.col("max_run_len") <= _PIPE_RUN_MAX)
    ).select("doc_id")
    # the cleaned corpus is referenced by the exact-dedup grouping, the
    # minhash signatures, the cluster-label seed and the survivor join —
    # materialize it once (the "cleaned dataset" stage write)
    clean = materialize(qkeep.join(keep_rep, "doc_id"))
    keep_exact = dedup.exact_dedup(clean).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    clean2 = clean.join(keep_exact, "doc_id")
    pairs = dedup.lsh_candidate_pairs(clean2, num_hashes=12, bands=4, shingle_n=3)
    clusters = dedup.near_dup_clusters(pairs, clean2.select("doc_id"))
    keep_near = clusters.filter(
        F.col("doc_id") == F.col("cluster_id")
    ).select("doc_id")
    survivors = clean2.join(keep_near, "doc_id")
    # second stage boundary: the split assignment feeds FOUR downstream
    # aggregates (docs/chunks/packs/vectors) — materialize it once
    # instead of re-running the clean→dedup lineage per reference
    split_docs = materialize(sampling.split_by_hash(survivors, _SPLIT_FRACTIONS))

    # r13 NEGATIVE result: lazy-checkpointing `chunks` WITH its text
    # column (it feeds the packer AND the chunk agg) measured
    # 6.7 -> 8.4 s — chunk rows carry corpus-scale text, so persisting
    # them costs more than replaying the token-explode.  r14 (VERDICT
    # r13 #4, guide §5 "persist keys, not payloads"): NEITHER consumer
    # reads the chunk text — pack_chunks_per_doc folds (chunk_idx,
    # n_tokens) and the agg sums n_tokens — so checkpoint only the
    # NARROW (doc_id, chunk_idx, n_tokens) projection; the token-
    # explode over the checkpointed split_docs runs once instead of
    # twice and the persisted bytes are three ints per chunk.
    chunk_meta = text.chunk_documents(
        split_docs.select("doc_id", "text"), max_tokens=PACK_CHUNK, overlap=0
    ).select("doc_id", "chunk_idx", "n_tokens").transform(materialize, eager=False)
    packs = text.pack_chunks_per_doc(chunk_meta, budget=PACK_BUDGET)
    splits = split_docs.select("doc_id", "split")
    chunk_agg = chunk_meta.join(splits, "doc_id").groupBy("split").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("sum_chunk_tokens"),
    )
    pack_agg = (
        packs.join(splits, "doc_id")
        .select("split", "doc_id", "pack_id")
        .distinct()
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_packs"))
    )
    emb = _tbl(spark, sf_dir, "embeddings")
    q8 = sampling.with_int8_quantized(sampling.with_unit_norm(emb))
    vec_agg = (
        q8.join(splits.select(F.col("doc_id").alias("vec_id"), "split"), "vec_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(
                F.expr(
                    "aggregate(q8, CAST(0 AS BIGINT), (a, x) -> a + abs(CAST(x AS BIGINT)))"
                )
            ).alias("q8_l1"),
        )
    )
    out = (
        splits.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(chunk_agg, "split", "left")
        .join(pack_agg, "split", "left")
        .join(vec_agg, "split", "left")
    )
    zero = F.lit(0).cast("long")
    return out.select(
        "split",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.coalesce(F.col("n_chunks").cast("long"), zero).alias("n_chunks"),
        F.coalesce(F.col("sum_chunk_tokens").cast("long"), zero).alias(
            "sum_chunk_tokens"
        ),
        F.coalesce(F.col("n_packs").cast("long"), zero).alias("n_packs"),
        F.coalesce(F.col("n_vecs").cast("long"), zero).alias("n_vecs"),
        F.coalesce(F.col("q8_l1").cast("long"), zero).alias("q8_l1"),
    )


# ---------------------------------------------------------------------------
# Training-data cleaning extensions (round 5): PII scrubbing, vocabulary/
# tf-idf diagnostics, C4-style sub-document span dedup, mixture sampling,
# and quality-argmax cluster representatives.

_PII_EMAIL, _PII_IP, _PII_PHONE = (p[1] for p in text.PII_PATTERNS)

# deterministic synthesized PII (the corpus itself is clean word salad):
# every doc gains an email/IP/phone derived from its id, even ids a second
# email — so the counts vary and the redaction path does real work in
# BOTH engines
_PII_SYNTH_SQL = """
      text || ' contact user' || CAST(doc_id AS VARCHAR)
           || '@example.com call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
           || CASE WHEN doc_id % 2 = 0 THEN ' cc bot@ex.org' ELSE '' END
"""

_PII_SQL = f"""
    WITH s AS (SELECT doc_id, {_PII_SYNTH_SQL} AS text FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(regexp_replace(text,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IP}', '<IP>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g') AS redacted
    FROM s
    """


@q("pii_redaction", _PII_SQL)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators/text.py with_pii_redacted): emails, IPv4
    and phone-shaped numbers replaced with typed placeholders + per-doc
    audit counts.  The testdata is clean, so deterministic PII derived
    from doc_id is spliced in identically in both engines first; the
    patterns are the RE2/Java-portable subset (explicit char classes,
    no \\d, no \\b) and the replacement chain order is pinned by
    PII_PATTERNS."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    synth = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0.1"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(" cc bot@ex.org")).otherwise(
                F.lit("")
            ),
        ),
    )
    out = text.with_pii_redacted(synth)
    return out.select("doc_id", "n_emails", "n_ips", "n_phones", "redacted")


_VOCAB_K = 50

_VOCAB_SQL = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    agg AS (
      SELECT token, CAST(count(*) AS BIGINT) AS tf_corpus,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS df_docs
      FROM toks GROUP BY token
    ),
    r AS (
      SELECT token, tf_corpus, df_docs,
             CAST(row_number() OVER (ORDER BY tf_corpus DESC, token) AS BIGINT) AS rank
      FROM agg
    )
    SELECT token, tf_corpus, df_docs, rank FROM r WHERE rank <= {_VOCAB_K}
    """


@q("vocab_topk", _VOCAB_SQL)
def vocab_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head (operators/text.py vocab_topk): the 50
    most frequent tokens with corpus tf and doc frequency.  The Spark
    plan's final top-k is TakeOrderedAndProject (per-partition partial
    top-k), never a global sort of the vocabulary."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.vocab_topk(docs, k=_VOCAB_K)


_TFIDF_K = 3

_TFIDF_SQL = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, token
    ),
    nt AS (SELECT doc_id, SUM(tf) AS n_tokens_doc FROM tf GROUP BY doc_id),
    dfq AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df_docs
      FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY token
    ),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, dfq.df_docs,
             (CAST(tf.tf AS DOUBLE) / CAST(nt.n_tokens_doc AS DOUBLE))
               * ((CAST(nd.n_docs AS DOUBLE) + 1.0) / (CAST(dfq.df_docs AS DOUBLE) + 1.0)) AS tfidf
      FROM tf JOIN nt USING (doc_id) JOIN dfq USING (token) CROSS JOIN nd
    ),
    ranked AS (
      SELECT doc_id, token, tf, df_docs, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf DESC, token) AS BIGINT) AS rank
      FROM scored
    )
    SELECT doc_id, token, tf, df_docs, tfidf, rank FROM ranked WHERE rank <= {_TFIDF_K}
    """


@q("tfidf_topk", _TFIDF_SQL)
def tfidf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by tf·idf with the RATIONAL
    idf (N+1)/(df+1) — monotone with log-idf for ranking, but built
    from pure IEEE divisions so the oracle is bit-exact (libm `ln` is
    not guaranteed identical across engines)."""
    docs = _tbl(spark, sf_dir, "documents")
    return text.tfidf_topk(docs, k=_TFIDF_K)


_SPAN_TOKENS = 16

_SPAN_DEDUP_SQL = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    st AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, greatest(len(toks), 1), {_SPAN_TOKENS})) AS s,
             CAST(generate_subscripts(generate_series(1, greatest(len(toks), 1), {_SPAN_TOKENS}), 1) - 1 AS INTEGER) AS span_idx
      FROM t
    ),
    spans AS (
      SELECT doc_id, span_idx,
             array_to_string(list_slice(toks, s, s + {_SPAN_TOKENS - 1}), ' ') AS span
      FROM st
    ),
    flagged AS (
      SELECT doc_id, span_idx, span,
             row_number() OVER (PARTITION BY md5(span) ORDER BY doc_id, span_idx) AS rn
      FROM spans
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY span_idx), '') AS clean_text
    FROM flagged GROUP BY doc_id
    """


@q("span_dedup", _SPAN_DEDUP_SQL)
def span_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style sub-document dedup (operators/dedup.py span_dedup):
    16-token spans, keep the globally first occurrence of each distinct
    span, reassemble survivors — the only wide exchange carries
    md5(span) keys + coordinates."""
    docs = _tbl(spark, sf_dir, "documents")
    return dedup.span_dedup(docs, span_tokens=_SPAN_TOKENS)


_STRAT_RATES = {"en": 0.5, "zh": 0.3, "de": 0.2}
_STRAT_DEFAULT = 0.1


def _hash_u_cte(salt: str, extra_cols: str = "lang") -> str:
    """DuckDB twin of sampling._hash_uniform over doc_id, as a CTE
    named `u` with a [0,1) column `uv`."""
    val, _ = _split_val_and_case({"x": 1.0})
    return f"""
    h AS (
      SELECT doc_id, {extra_cols},
             md5('{salt}|' || CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    u AS (SELECT doc_id, {extra_cols}, ({val}) / 4294967296.0 AS uv FROM h)
    """


_STRAT_CASE = " ".join(
    f"WHEN '{k}' THEN {v!r}" for k, v in _STRAT_RATES.items()
)

_STRAT_SQL = f"""
    WITH {_hash_u_cte("strat")}
    SELECT doc_id, lang
    FROM u
    WHERE uv < CASE lang {_STRAT_CASE} ELSE {_STRAT_DEFAULT!r} END
    """


@q("stratified_sample", _STRAT_SQL)
def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsampling to a target mixture
    (operators/sampling.py stratified_sample) — the md5-uniform draw
    makes the kept set content-stable across runs and engines."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "lang")
    return sampling.stratified_sample(
        docs, _STRAT_RATES, strata_col="lang", default_rate=_STRAT_DEFAULT
    )


_REBAL_SQL = f"""
    WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
    t AS (SELECT min(cnt) AS target FROM c),
    r AS (
      SELECT lang, CAST(target AS DOUBLE) / CAST(cnt AS DOUBLE) AS rate
      FROM c CROSS JOIN t
    ),
    {_hash_u_cte("rebal")}
    SELECT u.doc_id, u.lang
    FROM u JOIN r USING (lang)
    WHERE uv < r.rate
    """


@q("lang_rebalance", _REBAL_SQL)
def lang_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture equalization (operators/sampling.py rebalance_groups):
    every language downsampled to the smallest language's size via the
    two-pass count → broadcast rate → hash-filter shape."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "lang")
    out = sampling.rebalance_groups(docs, strata_col="lang")
    return out.select("doc_id", "lang")


_CDC_GRAM = 3

_CDC_SQL = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    fl AS (
      SELECT doc_id, u.j AS j, list_extract(toks, u.j) AS tok,
             CASE WHEN u.j > 1 AND u.j <= len(toks) - {_CDC_GRAM - 1}
                       AND strpos('0123456789abcdef', substring(
                             md5({" || ' ' || ".join(f"list_extract(toks, u.j + {i})" for i in range(_CDC_GRAM))}),
                             1, 1)) = 1
                  THEN 1 ELSE 0 END AS flag
      FROM t, unnest(generate_series(1, len(toks))) AS u(j)
    ),
    cid AS (
      SELECT doc_id, j, tok,
             sum(flag) OVER (PARTITION BY doc_id ORDER BY j
                             ROWS UNBOUNDED PRECEDING) AS cid
      FROM fl
    ),
    ch AS (
      SELECT doc_id, CAST(cid AS BIGINT) AS chunk_idx,
             CAST(count(*) AS BIGINT) AS n_tokens,
             md5(string_agg(tok, ' ' ORDER BY j)) AS chunk_md5
      FROM cid GROUP BY doc_id, cid
    ),
    cnt AS (SELECT chunk_md5, CAST(count(*) AS BIGINT) AS n_dups FROM ch GROUP BY chunk_md5)
    SELECT ch.doc_id, ch.chunk_idx, ch.n_tokens, ch.chunk_md5, cnt.n_dups
    FROM ch JOIN cnt USING (chunk_md5)
    """


@q("cdc_chunk_dedup", _CDC_SQL)
def cdc_chunk_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + chunk-level corpus dedup
    (operators/dedup.py cdc_chunk_dedup): rolling-gram-hash boundaries
    (md5 nibble 0 → ~16-token chunks) make chunk identity robust to
    insertions — only the touched chunk changes, everything downstream
    keeps its md5 (property-tested) — the reason storage/dedup systems
    chunk by content, not offset."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.cdc_chunk_dedup(docs, gram_n=_CDC_GRAM)


_WINNOW_K = 4
_WINNOW_W = 5

_WINNOW_SQL = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= {_WINNOW_K}
                  THEN list_transform(generate_series(1, len(toks) - {_WINNOW_K - 1}),
                       i -> {" || ' ' || ".join(f"list_extract(toks, i + {j})" for j in range(_WINNOW_K))})
                  ELSE [concat_ws(' ', toks)] END AS sh
      FROM t
    ),
    ks AS (
      SELECT doc_id,
             list_transform(generate_series(1, CASE WHEN len(sh) <= 999999 THEN len(sh)
                 ELSE CAST(error('winnowing: >999999 shingle positions') AS BIGINT) END), i ->
               md5(list_extract(sh, i)) || '|' || lpad(CAST(999999 - i AS VARCHAR), 6, '0')) AS ks
      FROM sh
    ),
    sel AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(1, len(ks) - {_WINNOW_W - 1})),
               i -> list_min(ks[i:i + {_WINNOW_W - 1}]))) AS sel
      FROM ks
    )
    SELECT doc_id,
           CAST(999999 - CAST(substr(u.k, 34, 6) AS INTEGER) AS BIGINT) AS pos,
           substr(u.k, 1, 32) AS fp
    FROM sel, unnest(sel) AS u(k)
    """


@q("winnowing_fingerprints", _WINNOW_SQL)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (operators/text.py
    with_winnowing_fingerprints) — the MOSS guarantee: any shared run
    of ≥ w+k−1 tokens between two docs shares a selected fingerprint.
    Rightmost-minimal selection realized as a plain string min over
    ``hash || '|' || lpad(999999 − pos)`` keys, identical in both
    engines."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return text.with_winnowing_fingerprints(docs, k=_WINNOW_K, w=_WINNOW_W)


_NORM_DEDUP_SQL = r"""
    WITH n AS (
      SELECT doc_id,
             md5(trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
                  '[\t\n\r\f]', ' ', 'g'),
                  '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_md5
      FROM documents
    ),
    k AS (SELECT norm_md5, min(doc_id) AS keeper FROM n GROUP BY norm_md5)
    SELECT n.doc_id, n.norm_md5, (n.doc_id = k.keeper) AS kept
    FROM n JOIN k USING (norm_md5)
    """


@q("normalized_dedup", _NORM_DEDUP_SQL)
def normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup: canonicalize text first
    (lowercase, strip non-alphanumerics, collapse whitespace —
    operators/text.py with_normalized_text, RE2/Java-portable
    patterns), then keep the min-id doc per normalized-md5 group — the
    boilerplate-insensitive twin of `dedup_exact` that catches
    case/punctuation variants plain content hashing misses.  First-
    occurrence rule is a map-side-combinable groupBy + join back (the
    span_dedup shape), never a window over the hot hash."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    n = text.with_normalized_text(docs).select(
        "doc_id", F.md5(F.col("norm_text").cast("binary")).alias("norm_md5")
    )
    k = n.groupBy("norm_md5").agg(F.min("doc_id").alias("keeper"))
    return n.join(k, "norm_md5").select(
        "doc_id", "norm_md5", (F.col("doc_id") == F.col("keeper")).alias("kept")
    )


_TOKEN_BUDGET = 800

_TOKEN_BUDGET_SQL = f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             md5('tb|' || CAST(doc_id AS VARCHAR)) AS k
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY k, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT doc_id, source, n_tokens
    FROM c WHERE cum - n_tokens < {_TOKEN_BUDGET}
    """


_MIX_BUDGET = 18_000
_MIX_WEIGHT = "CAST(CAST(substr(source, 4) AS INT) % 5 + 1 AS BIGINT)"
_MIX_EPOCHS = "CAST(CAST(substr(source, 4) AS INT) % 3 + 1 AS BIGINT)"
_MIX_EPOCH_BUDGET = 36_000


def _mix_waterfill_ctes(budget: int = _MIX_BUDGET, epochs: bool = False) -> str:
    """The documents-table mixture stats (weight from the source
    suffix, availability = token sum) feeding `_waterfill_chain` —
    shared by mixture_allocate, mixture_budget_apply and (with
    ``epochs=True``) mixture_epoch_allocate."""
    ep_sel = f",\n             {_MIX_EPOCHS} AS max_epochs" if epochs else ""
    return f"""st AS (
      SELECT source, {_MIX_WEIGHT} AS weight,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens{ep_sel}
      FROM documents GROUP BY source
    ),
    {_waterfill_chain(budget, "st", epochs)}"""


def _mix_stats(spark: SparkSession, sf_dir: str):
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "source", "text")
    stats = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " ")).cast("long")).alias(
            "avail_tokens"
        )
    ).withColumn("weight", F.expr(_MIX_WEIGHT))
    return docs, stats


@q(
    "mixture_epoch_allocate",
    f"""
    WITH {_mix_waterfill_ctes(_MIX_EPOCH_BUDGET, epochs=True)}
    SELECT source, weight, avail_tokens, max_epochs, cap_tokens,
           alloc_tokens,
           CAST(CASE WHEN avail_tokens = 0 THEN 0
                ELSE (alloc_tokens * 1000) // avail_tokens END AS BIGINT)
             AS epochs_milli,
           saturated
    FROM wf
    """,
)
def mixture_epoch_allocate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPOCH-CAPPED mixture waterfilling (operators/sampling.py
    mixture_waterfill(epochs_col=...); VERDICT r9 ask #6) — real
    mixture specs let a small high-quality source REPEAT up to an
    epoch cap (The Pile / Llama-style repeat factors), so each
    source's saturation bound is ``avail_i · max_epochs_i`` instead of
    its raw availability; the exact-int solver (double-ratio sort,
    int64 cross-multiplication saturation, Hamilton remainders,
    Σ alloc = min(B, Σ cap) EXACTLY) is the identical algebra over the
    cap.  The fixture's suffix-derived epochs (1..3) and weights
    (1..5) over a 60 k budget land sources in both branches, with
    saturated high-epoch sources allocated ABOVE their availability —
    epochs_milli > 1000 is the repeat factor the value hash pins.
    All windows stay over the driver-scale sources table."""
    _, stats = _mix_stats(spark, sf_dir)
    st = stats.withColumn("max_epochs", F.expr(_MIX_EPOCHS))
    return sampling.mixture_waterfill(
        st, _MIX_EPOCH_BUDGET, epochs_col="max_epochs"
    ).select(
        "source",
        "weight",
        "avail_tokens",
        "max_epochs",
        "cap_tokens",
        "alloc_tokens",
        "epochs_milli",
        "saturated",
    )


@q(
    "mixture_allocate",
    f"""
    WITH {_mix_waterfill_ctes()}
    SELECT source, weight, avail_tokens, alloc_tokens, saturated FROM wf
    """,
)
def mixture_allocate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mixture waterfilling (operators/sampling.py
    mixture_waterfill) — the MIXTURE SOLVER between a training spec
    and per-source budgets: "B tokens total, sources weighted w_i,
    capped by availability" becomes alloc_i = min(avail_i, θ·w_i)
    with Σ alloc = min(B, Σ avail) EXACTLY.  Saturation decided by
    pure int64 cross-multiplication over the double-ratio sort (one
    correctly-rounded IEEE division — both engines sort identically),
    leftover distributed by the deterministic largest-remainder
    method.  The fixture's suffix-derived weights (1..5 over 20
    sources) land some sources saturated and some proportional — both
    branches value-hash-gated.  Every window is over the SOURCES table
    (driver-scale, the corpus_shuffle offset convention)."""
    _, stats = _mix_stats(spark, sf_dir)
    return sampling.mixture_waterfill(stats, _MIX_BUDGET).select(
        "source", "weight", "avail_tokens", "alloc_tokens", "saturated"
    )


@q(
    "mixture_budget_apply",
    f"""
    WITH {_mix_waterfill_ctes()},
    mt AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             md5('tb|' || CAST(doc_id AS VARCHAR)) AS mk
      FROM documents
    ),
    mc AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY mk, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS mcum
      FROM mt
    )
    SELECT c.doc_id, c.source, c.n_tokens
    FROM mc c JOIN wf ON wf.source = c.source
    WHERE c.mcum - c.n_tokens < wf.alloc_tokens
    """,
)
def mixture_budget_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture spec APPLIED (mixture_waterfill →
    token_budget_cap(budgets=...)): each source keeps its docs in
    deterministic md5 order until ITS waterfilled allocation is spent,
    boundary doc kept — the full "global budget in, per-source curated
    corpus out" flow.  The allocation table is one row per source and
    joins back BROADCAST null-safely; the cumulative sums are the
    audited two-phase no-global-window machinery.  Saturated sources
    keep everything they have; proportional sources stop at their
    exact share — the per-source boundary docs are value-hash-pinned
    end to end."""
    docs, stats = _mix_stats(spark, sf_dir)
    alloc = sampling.mixture_waterfill(stats, _MIX_BUDGET)
    return sampling.token_budget_cap(docs, 0, budgets=alloc).select(
        "doc_id", "source", "n_tokens"
    )


@q("token_budget_cap", _TOKEN_BUDGET_SQL)
def token_budget_cap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TOKEN budgeting (operators/sampling.py
    token_budget_cap): keep each source's docs in deterministic md5
    order until the cumulative token budget is spent — the
    "≤ N tokens from domain X" mixture spec, token-weighted where
    source_cap is doc-count-weighted.  The oracle is the naive
    per-source running-sum window; the Spark plan computes the SAME
    cumulative sum scale-safely (256 hash-prefix buckets per source →
    tiny offset window → per-bucket local running sums — a hot source
    spreads over 256 tasks, never one)."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return sampling.token_budget_cap(docs, budget=_TOKEN_BUDGET).select(
        "doc_id", "source", "n_tokens"
    )


_TEMP_REBAL_SQL = f"""
    WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
    t AS (SELECT min(cnt) AS target FROM c),
    r AS (
      SELECT lang, sqrt(CAST(target AS DOUBLE) / CAST(cnt AS DOUBLE)) AS rate
      FROM c CROSS JOIN t
    ),
    {_hash_u_cte("temp")}
    SELECT u.doc_id, u.lang
    FROM u JOIN r ON u.lang IS NOT DISTINCT FROM r.lang
    WHERE uv < r.rate
    """


@q("temperature_rebalance", _TEMP_REBAL_SQL)
def temperature_rebalance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α-smoothed mixture sampling (operators/sampling.py
    temperature_rebalance, α = 0.5): keep rate sqrt(n_min/n_g) —
    between full equalization (lang_rebalance) and the raw crawl
    distribution, the exponent-smoothing multilingual pretraining
    mixes actually use.  sqrt + division are correctly-rounded IEEE in
    both engines, so the keep decision is bit-portable."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "lang")
    out = sampling.temperature_rebalance(docs, strata_col="lang", alpha=0.5)
    return out.select("doc_id", "lang")


_QUALITY_CTE = """
    qual AS (
      SELECT doc_id,
             LEAST(CAST(len(toks) AS DOUBLE) / 50.0, 1.0) *
               (1.0 - len(list_filter(toks, t -> t IN {stop})) / CAST(len(toks) AS DOUBLE)) AS quality_score
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    )
    """


_CLUSTER_REPS_SQL = f"""
    WITH RECURSIVE {_MINHASH_CAND_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    reach AS (
      SELECT doc_id AS id, doc_id AS r FROM documents
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ),
    clus AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
    {_QUALITY_CTE.format(stop=text._in_list(text.STOPWORDS))},
    j AS (
      SELECT c.cluster_id, c.doc_id, q.quality_score,
             row_number() OVER (PARTITION BY c.cluster_id
                  ORDER BY q.quality_score DESC, c.doc_id) AS rn
      FROM clus c JOIN qual q USING (doc_id)
    )
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs,
           MAX(CASE WHEN rn = 1 THEN doc_id END) AS rep_doc_id,
           MAX(CASE WHEN rn = 1 THEN quality_score END) AS rep_quality
    FROM j GROUP BY cluster_id
    """


@q("cluster_representatives", _CLUSTER_REPS_SQL)
def cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-argmax canonical doc per near-dup cluster — the keep-list
    policy real pipelines prefer over min-id (keep the BEST copy, not
    the first): near_dup_clusters labels + token-quality scores, argmax
    by (quality desc, doc_id asc) per cluster.  Adds one doc-keyed
    broadcast-able join and a cluster-partitioned window on top of the
    connected-components machinery; its label propagation cuts each
    round with `util.materialize` (reliable when the deployment sets
    `spark.checkpoint.dir`)."""
    docs = _tbl(spark, sf_dir, "documents")
    pairs = dedup.lsh_candidate_pairs(docs, num_hashes=12, bands=4, shingle_n=3)
    clusters = dedup.near_dup_clusters(pairs, docs)
    quality = text.with_token_stats(docs).select("doc_id", "quality_score")
    joined = clusters.join(quality, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("rep_doc_id"),
            F.max(F.when(F.col("rn") == 1, F.col("quality_score"))).alias(
                "rep_quality"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Round-5 extensions, session 4: unigram-LM quality scoring, per-source
# caps, mixture pivot, distribution windows, cluster-balanced sampling,
# and incremental (new-vs-index) dedup.

_UNIGRAM_SQL = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT token, CAST(count(*) AS BIGINT) AS tf_corpus FROM toks GROUP BY token
    ),
    tot AS (SELECT CAST(SUM(tf_corpus) AS BIGINT) AS total_tokens FROM tf),
    pd AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(SUM(tf.tf_corpus) AS BIGINT) AS sum_tf,
             CAST(MIN(tf.tf_corpus) AS BIGINT) AS min_tf
      FROM toks JOIN tf USING (token) GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, sum_tf, min_tf, total_tokens,
           CAST(sum_tf AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_token_tf,
           CAST(sum_tf AS DOUBLE)
             / (CAST(n_tokens AS DOUBLE) * CAST(total_tokens AS DOUBLE)) AS mean_token_prob
    FROM pd CROSS JOIN tot
    """


@q(
    "bigram_lm_score",
    """
    WITH pr AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
               i -> t[i] || ' ' || t[i + 1])) AS bg
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ),
    bgtf AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_bg FROM pr GROUP BY bg),
    ptf AS (
      SELECT split_part(bg, ' ', 1) AS prev, CAST(sum(c_bg) AS BIGINT) AS c_prev
      FROM bgtf GROUP BY 1
    ),
    sc AS (
      SELECT p.doc_id, b.c_bg,
             (b.c_bg * 1000000) // pt.c_prev AS cond_scaled
      FROM pr p
      JOIN bgtf b USING (bg)
      JOIN ptf pt ON pt.prev = split_part(p.bg, ' ', 1)
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(cond_scaled) AS BIGINT) AS sum_cond_scaled,
           CAST(min(c_bg) AS BIGINT) AS min_bigram_tf,
           CAST(sum(CASE WHEN c_bg = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel_bigrams
    FROM sc GROUP BY doc_id
    """,
)
def bigram_lm_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring (operators/text.py bigram_lm_score) —
    one Markov step past unigram_score toward the CCNet-style
    perplexity filter: per-doc Σ of scaled conditional probabilities
    under the corpus bigram MLE, plus rarest-transition and
    novel-transition counts.  All PURE int64 arithmetic
    ((c_bg·1e6) div c_prev — no IEEE op anywhere), so the oracle
    replays bit-for-bit.  One bigram-vocabulary groupBy + two
    vocabulary joins; hot bigrams are grouped counts and join keys,
    never window partitions."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return text.bigram_lm_score(docs)


_JM_LAM_NUM, _JM_LAM_DEN = 7, 10


def _jm_score_ctes(src: str) -> str:
    """The Jelinek–Mercer scoring CTE chain over a (doc_id, text) CTE
    ``src``, through the per-position ``sc(doc_id, s_bg, s_uni)`` CTE —
    shared by the interpolated_lm_score oracle (src = documents) and
    curation_pipeline (src = the boilerplate-cleaned corpus)."""
    return f"""pr AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
               i -> t[i] || ' ' || t[i + 1])) AS bg
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM {src})
    ),
    bgtf AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_bg FROM pr GROUP BY bg),
    ptf AS (
      SELECT split_part(bg, ' ', 1) AS prev, CAST(sum(c_bg) AS BIGINT) AS c_prev
      FROM bgtf GROUP BY 1
    ),
    tk AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM {src}
    ),
    utf AS (SELECT tok, CAST(count(*) AS BIGINT) AS c_uni FROM tk GROUP BY tok),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM tk),
    sc AS (
      SELECT p.doc_id,
             (b.c_bg * 1000000) // pt.c_prev AS s_bg,
             (u.c_uni * 1000000) // tot.t AS s_uni
      FROM pr p
      JOIN bgtf b USING (bg)
      JOIN ptf pt ON pt.prev = split_part(p.bg, ' ', 1)
      JOIN utf u ON u.tok = split_part(p.bg, ' ', 2)
      CROSS JOIN tot
    )"""


@q(
    "interpolated_lm_score",
    f"""
    WITH {_jm_score_ctes("documents")}
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(({_JM_LAM_NUM} * s_bg + {_JM_LAM_DEN - _JM_LAM_NUM} * s_uni)
                    // {_JM_LAM_DEN}) AS BIGINT) AS sum_interp_scaled,
           CAST(sum(s_bg) AS BIGINT) AS sum_bigram_scaled,
           CAST(sum(s_uni) AS BIGINT) AS sum_unigram_scaled
    FROM sc GROUP BY doc_id
    """,
)
def interpolated_lm_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek–Mercer interpolated bigram→unigram scoring
    (operators/text.py interpolated_lm_score; VERDICT r8 ask #2) — one
    more rung from bigram_lm_score toward the CCNet perplexity filter:
    λ = 7/10 of the bigram conditional plus 3/10 of the current-token
    unigram probability per transition, so corpus-novel transitions
    are separated by the plausibility of their target token instead of
    all scoring ≈ 0.  All integer floor-division on the 1e6 grid —
    bit-exact oracle; the unmixed Σ s_bg / Σ s_uni columns make the
    λ-mix itself attestable.  One extra token-vocabulary groupBy and a
    1-row total broadcast over bigram_lm_score's plan; hot tokens stay
    grouped counts and join keys, never window partitions."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return text.interpolated_lm_score(
        docs, lam_num=_JM_LAM_NUM, lam_den=_JM_LAM_DEN
    )


# BM25 query set: one rare discriminator ('dup' appears in ~5 % of
# docs vs ~95 % for the rest of the vocabulary), one 3-term query (the
# INT64 score sum is order-free, so term count is unconstrained), one
# stopword-heavy query — together they exercise idf spread, multi-term
# accumulation, and length normalization.
_BM25_QUERIES = {
    "q1": ("dup", "join"),
    "q2": ("stream", "vector", "window"),
    "q3": ("slow", "the"),
}
_BM25_K = 5
_BM25_QT_SQL = ", ".join(
    f"('{qid}', '{t}')" for qid, terms in sorted(_BM25_QUERIES.items()) for t in terms
)

_BM25_SQL = f"""
    WITH qt AS (SELECT * FROM (VALUES {_BM25_QT_SQL}) AS v(query_id, token)),
    tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
    dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df_docs FROM tf GROUP BY 1),
    corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(dl) AS BIGINT) AS total_tokens FROM dl),
    post AS (
      SELECT q.query_id, f.doc_id,
             (10000 * (2 * c.n_docs + 2)) // (2 * d.df_docs + 1) AS idf_scaled,
             (1000000 * 36 * c.total_tokens * f.tf)
               // (16 * c.total_tokens * f.tf + 5 * c.total_tokens
                   + 15 * l.dl * c.n_docs) AS tfnorm_scaled
      FROM tf f
      JOIN qt q USING (token)
      JOIN dfq d USING (token)
      JOIN dl l USING (doc_id)
      CROSS JOIN corpus c
    ),
    sc AS (
      SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
             CAST(sum((idf_scaled * tfnorm_scaled) // 10000) AS BIGINT) AS score_scaled
      FROM post GROUP BY 1, 2
    ),
    rk AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score_scaled DESC, doc_id) AS rank
      FROM sc
    )
    SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, n_terms_hit,
           score_scaled, CAST(score_scaled AS DOUBLE) / 1000000.0 AS score
    FROM rk WHERE rank <= {_BM25_K}
    """


@q("bm25_topk", _BM25_SQL)
def bm25_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval (operators/text.py bm25_topk) — the
    lexical-retrieval rung above tfidf_topk: Okapi BM25 with k1 = 5/4,
    b = 3/4, Lucene's +1-shifted idf kept RATIONAL
    ((2N+2)/(2df+1), the tfidf_topk bit-parity trade) and the whole
    score on the scaled-int grid (idf at 1e4, tf-normalization at 1e6,
    integer floor-divisions, INT64 per-(query, doc) sums — the
    interpolated_lm_score discipline), so multi-term accumulation has
    no float addition order and the oracle is bit-exact.  Serves the
    retrieval stages of data curation: hard-negative mining, targeted
    slicing, decontamination lookups.  Scale shape: tf/dl/df from the
    token-keyed aggs, the constant query-term literal joins on the
    token key so only matching postings survive, corpus stats are a
    1-row broadcast, and top-k is a per-query row_number window."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return text.bm25_topk(docs, _BM25_QUERIES, k=_BM25_K)


_TIER_BUDGET = 26_000
_TIER_WEIGHT_SQL = (
    "CASE tier WHEN 'head' THEN 5 WHEN 'middle' THEN 3 ELSE 1 END"
)


@q(
    "quality_tier_mixture",
    f"""
    WITH {_jm_score_ctes("documents")},
    interp AS (
      SELECT doc_id,
             CAST(sum(({_JM_LAM_NUM} * s_bg + {_JM_LAM_DEN - _JM_LAM_NUM} * s_uni)
                      // {_JM_LAM_DEN}) AS BIGINT) AS score
      FROM sc GROUP BY doc_id
    ),
    qd AS (
      SELECT i.doc_id, i.score,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
      FROM interp i JOIN documents d USING (doc_id)
    ),
    qn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qd),
    qr AS (
      SELECT *, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk
      FROM qd
    ),
    qt AS (
      SELECT doc_id, score, n_tokens,
             CASE WHEN (rk - 1) * 3 < n THEN 'head'
                  WHEN (rk - 1) * 3 < 2 * n THEN 'middle'
                  ELSE 'tail' END AS tier
      FROM qr CROSS JOIN qn
    ),
    st AS (
      SELECT tier AS source,
             CAST({_TIER_WEIGHT_SQL} AS BIGINT) AS weight,
             CAST(sum(n_tokens) AS BIGINT) AS avail_tokens
      FROM qt GROUP BY tier
    ),
    {_waterfill_chain(_TIER_BUDGET, "st")},
    mtq AS (
      SELECT doc_id, tier, n_tokens,
             md5('tb|' || CAST(doc_id AS VARCHAR)) AS mk
      FROM qt
    ),
    mcq AS (
      SELECT doc_id, tier, n_tokens,
             sum(n_tokens) OVER (PARTITION BY tier ORDER BY mk, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS mcum
      FROM mtq
    )
    SELECT c.doc_id, c.tier, c.n_tokens
    FROM mcq c JOIN wf ON wf.source = c.tier
    WHERE c.mcum - c.n_tokens < wf.alloc_tokens
    """,
)
def quality_tier_mixture_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality-TIER mixture — the composition CCNet
    actually ships (Wenzek et al. 2020: LM-score the corpus, cut it
    into head/middle/tail TERCILES, then sample the tiers at different
    rates): JM interpolated LM scoring → EXACT global tercile tiers
    (rank by (score DESC, id) via `with_global_rank`'s two-phase
    range-bucket machinery — no one-task window; tier boundaries are
    pure int comparisons (rank−1)·3 vs n) → the exact integer
    waterfiller across the three tiers (weights 5/3/1 — head-heavy,
    the CCNet shape; the 26 k budget SATURATES the head tier, which
    keeps every token it has, while the tail splits the remainder
    proportionally — both branches value-hash-pinned) →
    per-tier token budgets applied in deterministic md5 order with the
    boundary doc kept.  Third consumer of the waterfill kernel (token
    mixtures, crawl budgets, now quality tiers) and the second
    composition over the JM scorer.  Every stage keeps its audited
    plan; the tier table is 3 rows, the solver driver-scale."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    scored = text.interpolated_lm_score(
        docs, lam_num=_JM_LAM_NUM, lam_den=_JM_LAM_DEN
    ).select("doc_id", F.col("sum_interp_scaled").alias("score"))
    # r13 (guide §2.4): the scored corpus feeds with_global_rank's
    # three internal passes + the total count + (through qt) the tier
    # stats and the budget cap's two passes — the before-plan replayed
    # the JM-score join ~7x (2518-operator plan, ~300 document scans;
    # plans/r13/quality_tier_mixture_before.txt).  Materialize qd once,
    # and qt once below, exactly where a production pipeline writes its
    # "scored corpus" / "tiered corpus" stage datasets.
    qd = scored.join(docs, "doc_id").withColumn(
        "n_tokens", F.size(F.split(F.col("text"), " ")).cast("long")
    ).transform(materialize)
    ranked = sampling.with_global_rank(qd, "score", out_col="_rk")
    total = qd.agg(F.count(F.lit(1)).alias("_n"))
    qt = ranked.crossJoin(F.broadcast(total)).withColumn(
        "tier",
        F.expr(
            "CASE WHEN (_rk - 1) * 3 < _n THEN 'head' "
            "WHEN (_rk - 1) * 3 < 2 * _n THEN 'middle' "
            "ELSE 'tail' END"
        ),
    ).select("doc_id", "tier", "n_tokens", "text").transform(materialize)
    stats = (
        qt.groupBy("tier")
        .agg(F.sum("n_tokens").cast("long").alias("avail_tokens"))
        .withColumn("weight", F.expr(f"CAST({_TIER_WEIGHT_SQL} AS BIGINT)"))
    )
    alloc = sampling.mixture_waterfill(stats, _TIER_BUDGET, source_col="tier")
    out = sampling.token_budget_cap(
        qt.select("doc_id", "tier", "text"),
        0,
        strata_col="tier",
        budgets=alloc,
    )
    return out.select("doc_id", "tier", "n_tokens")


@q("unigram_score", _UNIGRAM_SQL)
def unigram_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring (operators/text.py unigram_score) —
    the deterministic perplexity-filter stand-in: per-doc mean corpus
    probability of each token position, from all-integer tf sums and
    single IEEE divisions (no libm log; monotone with mean log prob
    for filtering)."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return text.unigram_score(docs)


_SOURCE_CAP_K = 10

_SOURCE_CAP_SQL = f"""
    WITH r AS (
      SELECT doc_id, source, n_chars,
             CAST(row_number() OVER (PARTITION BY source
                  ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank
      FROM documents
    )
    SELECT doc_id, source, n_chars, rank FROM r WHERE rank <= {_SOURCE_CAP_K}
    """


@q("source_cap", _SOURCE_CAP_SQL)
def source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (operators/sampling.py top_k_per_group):
    keep each source's 10 longest docs — the RefinedWeb-style bound on
    any one domain's contribution.  Two-phase: local top-k per (source,
    scan partition) prunes BEFORE the per-source window, so a hot
    source never funnels all its rows through one task; the output is
    layout-independent because (n_chars desc, doc_id) totally orders
    each group."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return sampling.top_k_per_group(
        docs, "source", _SOURCE_CAP_K, [F.desc("n_chars"), F.asc("doc_id")]
    )


_PIVOT_LANGS = ("de", "en", "es", "fr", "zh")

_PIVOT_SQL = f"""
    SELECT source,
           {", ".join(f"CAST(count(*) FILTER (lang = '{l}') AS BIGINT) AS n_{l}" for l in _PIVOT_LANGS)},
           CAST({" + ".join(f"count(*) FILTER (lang = '{l}')" for l in _PIVOT_LANGS)} AS BIGINT) AS n_total,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY source
    """


def _lang_wide(docs: DataFrame) -> DataFrame:
    """source × language counts as ONE wide row per source — the shared
    pivot behind mixture_pivot and its unpivot inverse (explicit value
    list: no values-discovery job, stable schema; nulls filled to 0)."""
    piv = docs.groupBy("source").pivot("lang", list(_PIVOT_LANGS)).agg(
        F.count(F.lit(1))
    )
    return piv.select(
        "source",
        *[
            F.coalesce(F.col(l), F.lit(0)).cast("long").alias(f"n_{l}")
            for l in _PIVOT_LANGS
        ],
    )


@q("mixture_pivot", _PIVOT_SQL)
def mixture_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture audit as a source × language pivot
    (RelationalGroupedDataset.pivot with an EXPLICIT value list — no
    values-discovery job, stable output schema at any scale).  One
    shuffle on source; each lang count is a map-side conditional
    partial aggregate, same cost as a flat groupBy."""
    docs = _tbl(spark, sf_dir, "documents").select("source", "lang", "n_chars")
    wide = _lang_wide(docs)
    tot = docs.groupBy("source").agg(F.sum("n_chars").alias("sum_chars"))
    n_total = None
    for l in _PIVOT_LANGS:
        c = F.col(f"n_{l}")
        n_total = c if n_total is None else n_total + c
    return wide.join(tot, "source").select(
        "source",
        *[f"n_{l}" for l in _PIVOT_LANGS],
        n_total.alias("n_total"),
        F.col("sum_chars").cast("long").alias("sum_chars"),
    )


_NTILE_SQL = """
    SELECT event_id, user_id, value,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cum_dist
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
    """


@q("event_ntile", _NTILE_SQL)
def event_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows (§2.6 parity-plus): per-user quartile
    bucket (ntile), percent_rank and cume_dist over event value.  All
    three share the ONE (user_id)-keyed exchange; pct_rank/cum_dist
    are single divisions of exact row counts, so bit-portable.  Ties
    broken by event_id → total order → deterministic."""
    ev = _tbl(spark, sf_dir, "events").select("event_id", "user_id", "value")
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
    )


_HINTED_SQL = """
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """


@q("hinted_join", _HINTED_SQL)
def hinted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 join-strategy hints: the same fact⋈dim join forced onto
    SHUFFLE_HASH (no sort phase — right when both sides are large but
    one side's per-key partitions fit memory).  The hint's effect is
    machine-checked in test_plans (ShuffledHashJoin in the physical
    plan); broadcast (revenue_by_nation) and bucketed sort-merge
    (sources/bucketed.py) cover the other two strategies."""
    o = _tbl(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _tbl(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = o.join(
        c.hint("shuffle_hash"), o["o_custkey"] == c["c_custkey"]
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
    )


# the SAME oracle as hinted_join on purpose: salting is a physical
# strategy, not a semantic one — the salted plan must land on the
# plain join's answer bit-for-bit (the equality salted_join's unit
# test pins, here re-proven through the driver's value hash)
@q("salted_join_agg", _HINTED_SQL)
def salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 join strategies, fourth member: the EXPLICIT-SALT form for
    hot keys (operators/skew.py salted_join) — deterministic row-hash
    salt on the fact side, salt-replicated dim side, (key, salt)
    equi-join so a monster key spreads over salt_buckets tasks.  The
    lever of last resort after broadcast (revenue_by_nation),
    shuffle-hash (hinted_join), and bucketed sort-merge
    (sources/bucketed.py): right side too big to broadcast, AQE unable
    to split a single giant key.  Results bit-equal to the plain
    join — same oracle as hinted_join."""
    o = _tbl(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    c = _tbl(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    joined = skew.salted_join(o, c, "custkey", salt_buckets=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
    )


_SHUF_SQL = """
    WITH k AS (
      SELECT doc_id, md5('shuf|' || CAST(doc_id AS VARCHAR)) AS k FROM documents
    )
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT) AS shuffle_pos
    FROM k
    """


_PPS_N = 100

_PPS_SQL = f"""
    WITH k AS (
      SELECT doc_id, n_chars AS w,
             md5('pps|' || CAST(doc_id AS VARCHAR)) AS k
      FROM documents
    ),
    c AS (
      SELECT doc_id, w,
             CAST(SUM(w) OVER (ORDER BY k, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
      FROM k
    ),
    t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM k)
    SELECT doc_id, CAST(w AS BIGINT) AS weight,
           CAST(cum_end - w AS BIGINT) AS cum_before,
           CAST((cum_end * {_PPS_N}) // tw - ((cum_end - w) * {_PPS_N}) // tw AS BIGINT)
             AS selected_times
    FROM c CROSS JOIN t
    WHERE (cum_end * {_PPS_N}) // tw > ((cum_end - w) * {_PPS_N}) // tw
    """


@q("pps_sample", _PPS_SQL)
def pps_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sampling (operators/sampling.py
    pps_systematic_sample) — inclusion probability ∝ document weight
    (n_chars here): "sample 1 % of TOKENS" without meaning "1 % of
    documents".  Pure int64 span test ((cum·n) div W boundaries — no
    rational epsilon), md5-permutation order, and the same two-phase
    no-global-window running sum as token_budget_cap; the oracle ranks
    with a plain one-task window and must agree bit-for-bit."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return sampling.pps_systematic_sample(
        docs, n_keep=_PPS_N, weight_col="n_chars"
    ).select("doc_id", "weight", "cum_before", "selected_times")


@q("corpus_shuffle", _SHUF_SQL)
def corpus_shuffle_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle (operators/sampling.py
    corpus_shuffle): reproducible global example order under
    md5(salt|id).  The oracle ranks with a plain global window; the
    Spark plan computes the SAME rank scale-safely — hash-prefix
    buckets → tiny offset table broadcast → per-bucket local
    row_number — no one-task global window anywhere."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id")
    return sampling.corpus_shuffle(docs).select("doc_id", "shuffle_pos")


_DSIR_TARGET_SOURCES = "('src0', 'src1', 'src2', 'src3')"
_DSIR_KEEP_FRAC = 0.25


def _dsir_imp_ctes(n_buckets: int = 10_000) -> str:
    """The WITH-body of the DSIR importance computation, through the
    per-doc ``imp(doc_id, n_grams, importance)`` CTE — shared by
    `dsir_importance_sample`'s rank tail and `quality_budget_select`'s
    token-budget tail.  Same md5-nibble gram bucket hash (the _cms_sql
    md5u8 decode), same floor-scaled ln() log-ratio grid (measured
    bit-identical across engines for every count in range — see
    sampling._ilog and tests/test_sampling.py's parity test)."""
    md5u8 = " + ".join(
        f"(instr('0123456789abcdef', substring(md5('dsir|' || g), {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )

    def ilog(expr: str) -> str:
        return f"CAST(floor(ln(CAST({expr} AS DOUBLE)) * 1000000.0) AS BIGINT)"

    grams = (
        "unnest(list_concat(t, list_transform(range(1, len(t)), "
        "i -> t[i] || ' ' || t[i + 1]))) AS g"
    )
    return f"""tg AS (
      SELECT {grams}
      FROM (SELECT string_split(text, ' ') AS t FROM documents
            WHERE source IN {_DSIR_TARGET_SOURCES})
    ),
    pg AS (
      SELECT doc_id, {grams}
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ),
    tb AS (
      SELECT ({md5u8}) % {n_buckets} AS bucket, CAST(count(*) AS BIGINT) AS tc
      FROM tg GROUP BY 1
    ),
    pbg AS (SELECT doc_id, ({md5u8}) % {n_buckets} AS bucket FROM pg),
    sb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS sc FROM pbg GROUP BY 1),
    tot AS (
      SELECT (SELECT sum(sc) FROM sb) AS s, (SELECT sum(tc) FROM tb) AS t
    ),
    lr AS (
      SELECT sb.bucket,
             ({ilog("coalesce(tb.tc, 0) + 1")} - {ilog(f"tot.t + {n_buckets}")})
             - ({ilog("sb.sc + 1")} - {ilog(f"tot.s + {n_buckets}")}) AS lr
      FROM sb LEFT JOIN tb USING (bucket) CROSS JOIN tot
    ),
    imp AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(lr) AS BIGINT) AS importance
      FROM pbg JOIN lr USING (bucket) GROUP BY doc_id
    )"""


def _dsir_sql(n_buckets: int = 10_000, keep_frac: float = _DSIR_KEEP_FRAC) -> str:
    """DuckDB twin of sampling.dsir_importance_sample: the shared imp
    CTE body + a plain one-task global rank window (oracles don't need
    the two-phase trick)."""
    return f"""
    WITH {_dsir_imp_ctes(n_buckets)},
    rk AS (
      SELECT doc_id, n_grams, importance,
             CAST(row_number() OVER (ORDER BY importance DESC, doc_id) AS BIGINT) AS rank
      FROM imp
    )
    SELECT doc_id, n_grams, importance, rank FROM rk
    WHERE rank <= CAST(ceil((SELECT count(*) FROM imp) * {keep_frac}) AS BIGINT)
    """


@q("dsir_importance_sample", _dsir_sql())
def dsir_importance_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling (operators/sampling.py
    dsir_importance_sample; Xie et al. 2023) — the data-SELECTION
    operator the LLM pack lacked (VERDICT r7 ask #4):
    quality_classifier scores documents intrinsically, this selects
    them toward a TARGET distribution.  Target = the src0-src3 slice
    of the corpus (the "curated" 20 %), pool = everything; hashed
    unigram+bigram features (md5 → 10⁴ buckets), add-1-smoothed
    target-vs-source log-likelihood-ratio per bucket on the exact
    floor(1e6·ln) int64 grid, per-doc importance = Σ lr over gram
    occurrences, top 25 % kept by two-phase (no one-task window)
    global rank.  Every stage — bucket collisions, the log grid, the
    rank — replays bit-for-bit in the oracle."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "source", "text")
    target = docs.filter(
        F.expr(f"source IN {_DSIR_TARGET_SOURCES}")
    ).select("text")
    # r13 (guide §2.4): materialize the per-doc importance table once —
    # the rank tail references it three times (stats row, bucket
    # counts, final rank join) and uncut each reference replayed the
    # whole two-gram-explode DSIR chain (plan: 104 Exchanges / 40
    # documents scans → one chain pass).  The build is on the bench
    # clock, so the eager cut is too.
    return sampling.dsir_importance_sample(
        docs, target, keep_frac=_DSIR_KEEP_FRAC
    )


_QB_TOKEN_BUDGET = 8_000


@q(
    "quality_budget_select",
    f"""
    WITH {_dsir_imp_ctes()},
    sel AS (
      SELECT i.doc_id, i.importance,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
      FROM imp i JOIN documents d USING (doc_id)
    ),
    c AS (
      SELECT doc_id, importance, n_tokens,
             sum(n_tokens) OVER (ORDER BY importance DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM sel
    )
    SELECT doc_id, importance, n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS cum_tokens_before
    FROM c WHERE cum - n_tokens < {_QB_TOKEN_BUDGET}
    """,
)
def quality_budget_select_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked TOKEN-budget selection (operators/sampling.py
    quality_budget_select; VERDICT r8 ask #1) — "keep the best N
    tokens": docs ordered by DSIR importance DESCENDING, kept until
    the cumulative token count crosses the budget, boundary doc KEPT.
    Composes the two selection primitives — dsir_importance_sample's
    value-keyed two-phase global order with token_budget_cap's
    cumulative-token accounting — into the curation step real
    pipelines run between scoring and training.  The oracle is the
    naive one-task ``SUM(tokens) OVER (ORDER BY importance DESC, id)``
    window; the Spark plan computes the SAME cumulative sum via ≤ 257
    score-range buckets + per-bucket running sums (no one-task window
    anywhere), and the boundary doc's identity is value-hash-pinned."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "source", "text")
    target = docs.filter(
        F.expr(f"source IN {_DSIR_TARGET_SOURCES}")
    ).select("text")
    imp = sampling.dsir_importance(docs, target)
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    # r13 (guide §2.4): the curation_pipeline lesson applied here too —
    # quality_budget_select references its input four times (stats row,
    # range-bucket keying, bucket counts, final join), and uncut each
    # reference replayed the DSIR chain + the token-count pass (plan:
    # 112 Exchanges / 48 documents scans → one chain pass).  The scored
    # table is 4 ints per doc; the build is on the bench clock, so the
    # eager cut is too.
    scored = materialize(imp.join(toks, "doc_id"))
    return sampling.quality_budget_select(
        scored, _QB_TOKEN_BUDGET, "importance"
    ).select("doc_id", "importance", "n_tokens", "cum_tokens_before")


_WSAMPLE_N = 50


def _wsample_sql(n_keep: int = _WSAMPLE_N) -> str:
    """DuckDB twin of sampling.weighted_priority_sample over documents
    weighted by n_chars: same 20-bit md5 draw (h + 1 stays inside the
    EXHAUSTIVELY parity-measured ilog range [1, 4e6]), same
    Efraimidis–Spirakis priority on the scaled-int grid, plain
    one-task rank window for the top-k."""
    h = " + ".join(
        f"(instr('0123456789abcdef', substring(md5('wps|' || CAST(doc_id AS VARCHAR)), {i + 1}, 1)) - 1)"
        f" * {16 ** (4 - i)}"
        for i in range(5)
    )

    def ilog(expr: str) -> str:
        return f"CAST(floor(ln(CAST({expr} AS DOUBLE)) * 1000000.0) AS BIGINT)"

    return f"""
    WITH k AS (
      SELECT doc_id, n_chars, ({h}) AS h
      FROM documents WHERE n_chars > 0
    ),
    p AS (
      SELECT doc_id, n_chars,
             CAST((({ilog(str(2 ** 20))} - {ilog("h + 1")}) * 1000000) // n_chars AS BIGINT) AS priority
      FROM k
    ),
    r AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS weight, priority,
             CAST(row_number() OVER (ORDER BY priority,
                  md5('wps|' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS sample_rank
      FROM p
    )
    SELECT doc_id, weight, priority, sample_rank FROM r
    WHERE sample_rank <= {n_keep}
    """


@q("weighted_sample", _wsample_sql())
def weighted_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (operators/sampling.py weighted_priority_sample) —
    Efraimidis–Spirakis priorities on the exact scaled-int grid: the
    md5 20-bit draw replaces the RNG (h + 1 ≤ 2^20 sits inside the
    EXHAUSTIVE ilog parity range, no guard needed), priority =
    −ln(u)·10⁶ DIV w, keep the n smallest.  Inclusion probability
    grows with n_chars; the whole sample replays bit-for-bit in the
    oracle.  Global top-k via partition-local pruning — no one-task
    window over the corpus."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return sampling.weighted_priority_sample(
        docs, _WSAMPLE_N, "n_chars"
    ).select(
        "doc_id",
        F.col("n_chars").cast("long").alias("weight"),
        "priority",
        "sample_rank",
    )


# the streamed twin attests the SAME oracle: union-of-batch-candidates
# top-k == whole-corpus top-k (priorities depend only on (salt, id, w))
@q("streaming_weighted_sample", _wsample_sql())
def streaming_weighted_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling as a REAL Structured Streaming pipeline
    (VERDICT r8 ask #3) — the sampling family's streaming proof,
    closing the last major family without one (dedup:
    streaming_incremental_dedup; ANN: streaming_ann_serve; sketches:
    streaming_sketch_merge).  The corpus arrives through a file source
    in 2 micro-batches; each batch keeps its LOCAL top-n
    Efraimidis–Spirakis candidates inside ``foreachBatch`` and appends
    them idempotently (batch-id-owned overwrite — the
    streaming_incremental_dedup convention); after the drain, the
    candidate union re-ranks to the global top-n.  Because the
    priority is a pure function of (salt, id, weight) and top-k is
    distributive over any split of the rows, union-of-batches ≡
    whole-corpus bit-for-bit — the gate attests the STREAMED sample
    against the SAME oracle as the batch `weighted_sample`.  Per-batch
    state is O(n_keep), not O(corpus): exactly the bounded-state
    property a 100 TB streaming sampler needs."""

    def feed(reader, tmp):
        docs = _tbl(spark, sf_dir, "documents").select("doc_id", "n_chars")
        write_replay_chunks(docs, f"{tmp}/pool", order_col="doc_id", n_chunks=2)
        stream = reader.schema("doc_id long, n_chars long").parquet(f"{tmp}/pool")
        return stream, lambda b: sampling.weighted_priority_sample(
            b, _WSAMPLE_N, "n_chars"
        ).drop("sample_rank")

    cand = replay(spark, feed)
    return sampling.weighted_priority_sample(cand, _WSAMPLE_N, "n_chars").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("weight"),
        "priority",
        "sample_rank",
    )


_SHARD_SIZE = 64

_SHARDS_SQL = f"""
    WITH k AS (
      SELECT doc_id, md5('shuf|' || CAST(doc_id AS VARCHAR)) AS k FROM documents
    ),
    p AS (
      SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS pos FROM k
    )
    SELECT CAST((pos - 1) // {_SHARD_SIZE} AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(pos) AS BIGINT) AS min_pos,
           CAST(max(pos) AS BIGINT) AS max_pos
    FROM p GROUP BY 1
    """


@q("training_shards", _SHARDS_SQL)
def training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OUTPUT side of the pipeline, hash-gated like everything else
    (VERDICT r5 #7): shuffle the corpus, WRITE fixed-size training
    shards (operators/sampling.py write_training_shards — one
    repartition, no global sort, shard-leading within-partition sort),
    then read the written parquet back and report per-shard
    (shard, n_rows, min_pos, max_pos) — so the gate attests the
    on-disk artifact, not just the lineage that produced it.  The
    oracle derives the same ranges from the global rank directly.
    The shard dir is a fresh private mkdtemp (no collision between
    concurrent gate/bench runs, no predictable world-visible /tmp
    name) registered for atexit removal — unique AND non-accumulating:
    the result DataFrame reads it lazily within this process's
    lifetime, and nothing survives the exit (round-6 reviews, both
    directions)."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id")
    shuffled = sampling.corpus_shuffle(docs)
    out_dir = _atexit_tmpdir("fw_training_shards_")
    sampling.write_training_shards(shuffled, out_dir, _SHARD_SIZE)
    written = spark.read.parquet(out_dir)
    return written.groupBy(F.col("shard").cast("long").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("shuffle_pos").cast("long").alias("min_pos"),
        F.max("shuffle_pos").cast("long").alias("max_pos"),
    )


_HIST_BUCKET = 16

_HIST_SQL = f"""
    WITH t AS (
      SELECT len(string_split(text, ' ')) AS n_tokens FROM documents
    )
    SELECT CAST((n_tokens // {_HIST_BUCKET}) * {_HIST_BUCKET} AS BIGINT) AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(min(n_tokens) AS BIGINT) AS min_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens
    FROM t GROUP BY 1
    """


@q("length_histogram", _HIST_SQL)
def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram — the first shape diagnostic run on any
    corpus (and the input to length-bucketed batch sizing).  Fixed-
    width integer buckets via integer division; one map-side-combined
    groupBy over scan-side arithmetic.  The text is tokenized ONCE per
    row (two chained selects) — bucket_lo derives from the projected
    count, not a second split()."""
    docs = _tbl(spark, sf_dir, "documents")
    counted = docs.select(F.size(F.split(F.col("text"), " ")).cast("long").alias("_n"))
    return (
        counted.select(
            (F.expr(f"_n div {_HIST_BUCKET}") * _HIST_BUCKET)
            .cast("long").alias("bucket_lo"),
            "_n",
        )
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").alias("sum_tokens"),
            F.min("_n").alias("min_tokens"),
            F.max("_n").alias("max_tokens"),
        )
    )


_UNPIVOT_SQL = f"""
    WITH p AS (
      SELECT source,
             {", ".join(f"CAST(count(*) FILTER (lang = '{l}') AS BIGINT) AS n_{l}" for l in _PIVOT_LANGS)}
      FROM documents GROUP BY source
    )
    SELECT source, lang, n_docs FROM p
    UNPIVOT (n_docs FOR lang IN ({", ".join(f"n_{l} AS '{l}'" for l in _PIVOT_LANGS)}))
    """


@q("mixture_unpivot", _UNPIVOT_SQL)
def mixture_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wide→long inverse of mixture_pivot via DataFrame.unpivot
    (melt) — §2.6 parity-plus: pivot and unpivot round-trip the
    mixture table, and the unpivot is a zero-shuffle projection
    (each wide row expands to 5 long rows in place)."""
    docs = _tbl(spark, sf_dir, "documents").select("source", "lang")
    wide = _lang_wide(docs)
    long = wide.unpivot(
        "source",
        [f"n_{l}" for l in _PIVOT_LANGS],
        "lang",
        "n_docs",
    )
    return long.withColumn("lang", F.expr("substring(lang, 3)"))


@q("udtf_chunks", _DOC_CHUNKS_SQL)
def udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 UDTF surface — the REAL Python table-function API (Spark
    4 `@udtf` + LATERAL join), demonstrated as a twin of the
    column-algebra chunker: one input doc row expands to its chunk
    rows, same contract `doc_chunks` gates (the posexplode version
    stays the production path — a Python UDTF pays per-row Python cost;
    this exists because the reference's extensibility point, §2.7, maps
    to all THREE Spark UDF kinds and the other two are already
    driver-gated).  The oracle is doc_chunks' chunking SQL verbatim."""
    from pyspark.sql.functions import udtf

    step = CHUNK_TOKENS - CHUNK_OVERLAP

    @udtf(returnType="doc_id bigint, chunk_idx int, n_tokens bigint, chunk string")
    class ChunkUDTF:
        def eval(self, doc_id, text):
            toks = text.split(" ")
            idx = 0
            for st in range(0, max(len(toks), 1), step):
                piece = toks[st:st + CHUNK_TOKENS]
                if idx == 0 or len(piece) > CHUNK_OVERLAP:
                    yield doc_id, idx, len(piece), " ".join(piece)
                idx += 1

    spark.udtf.register("fw_chunk_udtf", ChunkUDTF)
    _tbl(spark, sf_dir, "documents").select("doc_id", "text").createOrReplaceTempView(
        "_udtf_docs"
    )
    return spark.sql(
        "SELECT f.* FROM _udtf_docs d, LATERAL fw_chunk_udtf(d.doc_id, d.text) f"
    )


_DUP_COV_N = 16

# the duplicated-window + gaps-and-islands CTE chain, shared by the
# coverage MEASUREMENT oracle, the span REMOVAL oracle (round 7) and
# the cross-doc first-occurrence-keep REMOVAL oracle (round 11) — the
# three differ only in the `dd` mark stage
def _dup_gram_ctes(n: int) -> str:
    return f"""
    t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id, unnest(generate_series(1, len(toks) - {n - 1})) AS s, toks
      FROM t WHERE len(toks) >= {n}
    ),
    h AS (
      SELECT doc_id, s,
             md5(array_to_string(list_slice(toks, s, s + {n - 1}), ' ')) AS h
      FROM g
    )"""


# mark only occurrences OUTSIDE the gram's keeper doc (min doc_id) —
# the Lee-et-al. first-occurrence-keep / cross_doc_span_dedup semantics
def _dup_mark_xdoc(n: int) -> str:
    return f"""
    d AS (
      SELECT doc_id, s,
             MIN(doc_id) OVER (PARTITION BY h) AS keep_doc,
             MAX(doc_id) OVER (PARTITION BY h) AS max_doc
      FROM h
    ),
    dd AS (SELECT doc_id, s, s + {n - 1} AS e FROM d WHERE doc_id > keep_doc)"""


_DUP_GRAM_CTES = _dup_gram_ctes(_DUP_COV_N)

# mark EVERY occurrence of a >1x-seen gram (dup_span_removal /
# dup_ngram_coverage semantics)
_DUP_MARK_ALL = f"""
    d AS (SELECT doc_id, s, count(*) OVER (PARTITION BY h) AS cnt FROM h),
    dd AS (SELECT doc_id, s, s + {_DUP_COV_N - 1} AS e FROM d WHERE cnt > 1)"""

_DUP_MARK_XDOC = _dup_mark_xdoc(_DUP_COV_N)

_DUP_ISLAND_TAIL = """
    isl AS (
      SELECT doc_id, s, e,
             MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      FROM dd
    ),
    marked AS (
      SELECT doc_id, s, e,
             CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS nw
      FROM isl
    ),
    numbered AS (
      SELECT doc_id, s, e,
             SUM(nw) OVER (PARTITION BY doc_id ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM marked
    )"""

_DUP_COV_CTES = f"{_DUP_GRAM_CTES},{_DUP_MARK_ALL},{_DUP_ISLAND_TAIL}"

_DUP_COV_SQL = f"""
    WITH {_DUP_COV_CTES},
    lens AS (
      SELECT doc_id, island, MAX(e) - MIN(s) + 1 AS len
      FROM numbered GROUP BY doc_id, island
    ),
    pd AS (
      SELECT doc_id, CAST(SUM(len) AS BIGINT) AS n_dup_positions
      FROM lens GROUP BY doc_id
    ),
    base AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT base.doc_id, base.n_tokens,
           CAST(COALESCE(pd.n_dup_positions, 0) AS BIGINT) AS n_dup_positions,
           CAST(COALESCE(pd.n_dup_positions, 0) AS DOUBLE)
             / CAST(base.n_tokens AS DOUBLE) AS dup_frac
    FROM base LEFT JOIN pd USING (doc_id)
    """


@q("dup_ngram_coverage", _DUP_COV_SQL)
def dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding duplicated-substring coverage (operators/dedup.py
    with_dup_ngram_coverage): the fraction of each doc's token
    positions inside some corpus-duplicated 16-token window — the
    measurement the exact-substring-dedup family thresholds on, at
    every offset (span_dedup's fixed spans are its removal
    counterpart).  Window counts over gram md5 + per-doc
    gaps-and-islands union; O(corpus positions), no pairs."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.with_dup_ngram_coverage(docs, gram_n=_DUP_COV_N)


_DUP_REMOVAL_TAIL = """
    ivl AS (
      SELECT doc_id, island, MIN(s) AS lo, MAX(e) AS hi
      FROM numbered GROUP BY doc_id, island
    ),
    rem AS (
      SELECT doc_id, CAST(SUM(hi - lo + 1) AS BIGINT) AS n_removed
      FROM ivl GROUP BY doc_id
    ),
    posn AS (
      SELECT t.doc_id, u.i, list_extract(t.toks, u.i) AS tok
      FROM t, unnest(generate_series(1, len(toks))) AS u(i)
    ),
    surv AS (
      SELECT p.doc_id, p.i, p.tok
      FROM posn p LEFT JOIN ivl
        ON ivl.doc_id = p.doc_id AND p.i BETWEEN ivl.lo AND ivl.hi
      WHERE ivl.doc_id IS NULL
    ),
    cl AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS cleaned
      FROM surv GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(COALESCE(rem.n_removed, 0) AS BIGINT) AS n_removed_tokens,
           md5(COALESCE(cl.cleaned, '')) AS cleaned_md5
    FROM t LEFT JOIN rem USING (doc_id) LEFT JOIN cl USING (doc_id)
    """

_DUP_REMOVAL_SQL = f"""
    WITH {_DUP_COV_CTES},
    {_DUP_REMOVAL_TAIL}
    """

_XDOC_REMOVAL_SQL = f"""
    WITH {_DUP_GRAM_CTES},{_DUP_MARK_XDOC},{_DUP_ISLAND_TAIL},
    {_DUP_REMOVAL_TAIL}
    """


@q("dup_span_removal", _DUP_REMOVAL_SQL)
def dup_span_removal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring REMOVAL (operators/dedup.py
    dup_span_removal — VERDICT r6 #2): cut every token position inside
    a corpus-duplicated 16-token window (the islands
    dup_ngram_coverage measures), reassemble the survivors, report the
    cleaned text's md5 + removed-token count — the Lee-et-al. exact
    substring dedup transform in its production form.  The oracle
    replays the same islands CTE chain and string_aggs the surviving
    positions."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.dup_span_removal(docs, gram_n=_DUP_COV_N)


@q("cross_doc_span_dedup", _XDOC_REMOVAL_SQL)
def cross_doc_span_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-DOCUMENT repeated-substring removal with first-occurrence
    keep (operators/dedup.py cross_doc_span_dedup — VERDICT r10 #3):
    any 16-token span that also occurs in another document is cut
    everywhere EXCEPT its keeper doc (min doc_id), so the corpus keeps
    exactly one copy of each repeated span — the Lee-et-al. ExactSubstr
    cleanup in the form whose output is still a complete training
    corpus (dup_span_removal's all-copies cut is the repeat-free
    residue form; within-doc-only repeats are untouched here).  Gram
    postings reduce to one (hash, keeper) row via map-side min/max
    partials, filtered to hashes spanning >= 2 docs, one equi-join
    back, shared island merge + scan-side rebuild — O(corpus tokens),
    no pairs.  The oracle swaps only the mark CTE: keep_doc =
    MIN(doc_id) OVER (PARTITION BY gram hash)."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.cross_doc_span_dedup(docs, gram_n=_DUP_COV_N)


_LONG_SPAN_N = 50  # Lee et al. remove repeats of >= 50 BPE tokens

_LONG_SPAN_SQL = f"""
    WITH {_dup_gram_ctes(_LONG_SPAN_N)},{_dup_mark_xdoc(_LONG_SPAN_N)},{_DUP_ISLAND_TAIL},
    {_DUP_REMOVAL_TAIL}
    """


@q("long_span_dedup", _LONG_SPAN_SQL)
def long_span_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal at the Lee-et-al. PRODUCTION span length
    (operators/dedup.py cross_doc_span_dedup with ``gram_n = 50``): any
    50-token span occurring in >= 2 documents is cut everywhere except
    its min-doc-id keeper — cross_doc_span_dedup's semantics at the
    length the paper actually deploys ("Deduplicating Training Data
    Makes Language Models Better" §4 removes repeats of 50+ BPE
    tokens).  The family's direct window-string gram builder serves
    this length too: a 54-token median web doc has only n-50+1 windows
    (SCALE.md records the hash-doubling builder measured 10-25x slower
    here, and why it was deleted)."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.cross_doc_span_dedup(docs, gram_n=_LONG_SPAN_N)


_UDAF_SQL = f"""
    SELECT user_id,
           MAX(CASE WHEN {RAW_SQL} >= 0.5 THEN {RAW_SQL} ELSE 0.0 END) AS max_prob,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """


@q("udaf_user_peak", _UDAF_SQL)
def udaf_user_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 UDAF surface — a GROUPED_AGG pandas UDF (the Python
    aggregate-function API: Arrow batches the group's values into one
    pandas Series per group) computing each user's peak fire
    probability and event count (Spark disallows mixing grouped-agg
    pandas UDFs with built-in aggregates in one agg, so both are
    Python).  max and count are order-independent, so the Python
    aggregates are bit-exact against the SQL oracle.  The production
    paths use built-in aggregates (aggregates.py) — this gates the
    extension point itself."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def peak(s: pd.Series) -> float:
        return float(s.max())

    @pandas_udf("long")
    def n(s: pd.Series) -> int:
        return len(s)

    ev = _with_surrogate(_tbl(spark, sf_dir, "events"))
    return ev.groupBy("user_id").agg(
        peak(F.col("fire_probability")).alias("max_prob"),
        n(F.col("event_id")).alias("n_events"),
    )


_ANN_SAMPLE = 50

_ANN_SQL = f"""
    WITH iv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS iv
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, iv,
             CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS n2
      FROM iv
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, len(q.iv)),
                  i -> list_extract(q.iv, i) * list_extract(c.iv, i))) AS BIGINT) AS dot,
             q.n2 AS qn2, c.n2 AS cn2
      FROM n q JOIN n c ON q.vec_id % {_ANN_SAMPLE} = 0 AND c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             CAST(dot AS DOUBLE) / sqrt(CAST(qn2 AS DOUBLE) * CAST(cn2 AS DOUBLE)) AS cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qn2 AS DOUBLE) * CAST(cn2 AS DOUBLE)) DESC,
                           neighbor_id ASC) AS BIGINT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM ranked WHERE rank <= 5
    """


@q("ann_topk", _ANN_SQL)
def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for a deterministic query sample —
    floor-scaled int64 dot products make the cosines bit-identical
    across engines.  The corpus is scanned once; queries broadcast."""
    emb = _tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % _ANN_SAMPLE == 0)
    return similarity.cosine_topk(emb, queries, k=5)


# each lexical query doubles as a dense query through a deterministic
# query VECTOR (an existing embedding row) — the hybrid-search setup
_RRF_QVEC = {"q1": 0, "q2": _ANN_SAMPLE, "q3": 2 * _ANN_SAMPLE}
_RRF_QMAP_SQL = ", ".join(f"('{q}', {v})" for q, v in sorted(_RRF_QVEC.items()))

_RRF_SQL = f"""
    WITH lex AS ({_BM25_SQL}),
    den0 AS ({_ANN_SQL}),
    qmap AS (SELECT * FROM (VALUES {_RRF_QMAP_SQL}) AS v(query_id, qvec)),
    den AS (
      SELECT m.query_id, d.neighbor_id AS doc_id, d.rank
      FROM den0 d JOIN qmap m ON d.query_id = m.qvec
    ),
    uni AS (
      SELECT query_id, doc_id, rank FROM lex
      UNION ALL
      SELECT query_id, doc_id, rank FROM den
    ),
    sc AS (
      SELECT query_id, doc_id,
             CAST(sum({similarity.RRF_SCALE} // ({similarity.RRF_K} + rank)) AS BIGINT) AS rrf_scaled,
             CAST(count(*) AS BIGINT) AS n_lists
      FROM uni GROUP BY 1, 2
    ),
    rk AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY rrf_scaled DESC, doc_id) AS rank
      FROM sc
    )
    SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, rrf_scaled, n_lists
    FROM rk WHERE rank <= {_BM25_K}
    """


@q("hybrid_retrieval_rrf", _RRF_SQL)
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval via reciprocal-rank fusion (similarity.py
    rrf_fuse — Cormack et al. 2009): the BM25 lexical top-5 and the
    exact-cosine dense top-5 for the SAME three queries (each lexical
    query carries a deterministic query vector), fused as
    Σ 1e9 div (60 + rank) on the int64 grid and re-ranked — the
    calibration-free combiner hybrid search stacks standardize on,
    serving curation's retrieval stages (targeted slicing,
    decontamination lookups, hard-negative sourcing).  n_lists keeps
    the agreement signal auditable.  Scale: fusion unions two
    queries×5-row lists — the cost lives in the audited upstream
    operators; the oracle replays BOTH retrieval chains and the
    fusion arithmetic."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    lex = text.bm25_topk(docs, _BM25_QUERIES, k=_BM25_K).select(
        "query_id", "doc_id", "rank"
    )
    emb = _tbl(spark, sf_dir, "embeddings")
    qvecs = emb.filter(F.col("vec_id").isin(*_RRF_QVEC.values()))
    qmap = spark.createDataFrame(
        [(q, v) for q, v in sorted(_RRF_QVEC.items())], "qid string, qvec long"
    )
    den = (
        similarity.cosine_topk(emb, qvecs, k=_BM25_K)
        .join(F.broadcast(qmap), F.col("query_id") == F.col("qvec"))
        .select(
            F.col("qid").alias("query_id"),
            F.col("neighbor_id").alias("doc_id"),
            "rank",
        )
    )
    return similarity.rrf_fuse([lex, den], k=_BM25_K)


# unit-norm → symmetric int8 quantize (mirrors sampling.with_unit_norm
# + with_int8_quantized: IEEE left-fold norm, floor(x·127+0.5) clamp) —
# shared by the SQ serving query and its recall audit
_SQ8_QZ_CTES = """
    n AS (
      SELECT vec_id, embedding,
             list_reduce(list_transform(embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                         (a, b) -> a + b) AS n2
      FROM embeddings
    ),
    qz AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(greatest(-127.0, least(127.0,
               floor((CASE WHEN n2 = 0.0 THEN 0.0
                      ELSE CAST(x AS DOUBLE) / sqrt(n2) END) * 127 + 0.5))) AS BIGINT)) AS qv
      FROM n
    ),
    sq8_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, len(q.qv)),
                  i -> list_extract(q.qv, i) * list_extract(c.qv, i))) AS BIGINT) AS dot_q8
      FROM qz q JOIN qz c ON q.vec_id % {sample} = 0 AND c.vec_id <> q.vec_id
    ),
    sq8_top AS (
      SELECT query_id, neighbor_id, rank, dot_q8 FROM (
        SELECT query_id, neighbor_id, dot_q8,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY dot_q8 DESC, neighbor_id ASC) AS BIGINT) AS rank
        FROM sq8_scored
      ) WHERE rank <= 5
    )"""


@q(
    "ann_sq8_topk",
    "WITH "
    + _SQ8_QZ_CTES.format(sample=_ANN_SAMPLE)
    + """
    SELECT query_id, neighbor_id, rank, dot_q8 FROM sq8_top
    """,
)
def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8) brute-force top-5 — the SQ serving tier
    between float (`ann_topk`, 256 B/vec at d=64) and PQ codes
    (`ann_ivf_pq_topk`, 4 B/vec): unit-norm → symmetric int8 (64 B/vec,
    4× smaller than float32) → EXACT int64 dot-product ranking, no
    norm division per pair and no float ties.  The whole pipeline —
    IEEE left-fold norm, floor(x·127+0.5) quantize, integer dot — is
    bit-portable, so the oracle hash-pins every rank (the recall-vs-
    float question is `ann_recall`'s pattern; here the gate proves the
    quantized serving path itself)."""
    emb = _tbl(spark, sf_dir, "embeddings")
    qz = sampling.with_int8_quantized(sampling.with_unit_norm(emb)).select(
        "vec_id", "q8"
    )
    queries = qz.filter(F.col("vec_id") % _ANN_SAMPLE == 0)
    return similarity.int_dot_topk(qz, queries, k=5)


@q(
    "ann_sq8_recall",
    "WITH "
    + _SQ8_QZ_CTES.format(sample=_ANN_SAMPLE)
    + f""",
    fiv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS iv
      FROM embeddings
    ),
    fn AS (
      SELECT vec_id, iv,
             CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS fn2
      FROM fiv
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 CAST(list_sum(list_transform(generate_series(1, len(q.iv)),
                      i -> list_extract(q.iv, i) * list_extract(c.iv, i))) AS DOUBLE)
                   / sqrt(CAST(q.fn2 AS DOUBLE) * CAST(c.fn2 AS DOUBLE)) DESC,
                 c.vec_id ASC) AS rk
        FROM fn q JOIN fn c ON q.vec_id % {_ANN_SAMPLE} = 0 AND c.vec_id <> q.vec_id
      ) WHERE rk <= 5
    )
    SELECT e.query_id,
           CAST(count(s.neighbor_id) AS BIGINT) AS n_overlap,
           CAST(count(s.neighbor_id) AS DOUBLE) / 5.0 AS recall
    FROM exact e LEFT JOIN sq8_top s
      ON e.query_id = s.query_id AND e.neighbor_id = s.neighbor_id
    GROUP BY e.query_id
    """,
)
def ann_sq8_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ recall@5 vs exact float cosine — completes the
    quantization-ladder audit family (`ann_recall` audits IVF,
    `ann_pq_recall` audits PQ codes, this audits the int8 SQ serving
    tier): per-query overlap between float top-5 and int8-dot top-5.
    Both sides are the registry's own machinery and bit-portable, so
    the recall NUMBERS themselves are hash-pinned — the audit a vector
    platform runs before demoting float storage (measure, don't
    guess).  At 100 TB the exact side runs on the query SAMPLE only —
    one-off audit cost, never the serving path."""
    emb = _tbl(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % _ANN_SAMPLE == 0)
    exact = similarity.cosine_topk(emb, qs, k=5).select("query_id", "neighbor_id")
    qz = sampling.with_int8_quantized(sampling.with_unit_norm(emb)).select(
        "vec_id", "q8"
    )
    sq = (
        similarity.int_dot_topk(qz, qz.filter(F.col("vec_id") % _ANN_SAMPLE == 0), k=5)
        .select("query_id", "neighbor_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        exact.join(sq, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_overlap")
        )
        .withColumn("recall", F.col("n_overlap").cast("double") / F.lit(5.0))
    )


@q(
    "hard_negative_mining",
    f"""
    WITH iv AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS iv
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, label, iv,
             CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS n2
      FROM iv
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, len(q.iv)),
                  i -> list_extract(q.iv, i) * list_extract(c.iv, i))) AS BIGINT) AS dot,
             q.n2 AS qn2, c.n2 AS cn2
      FROM n q JOIN n c
        ON q.vec_id % {_ANN_SAMPLE} = 0 AND c.vec_id <> q.vec_id
       AND q.label <> c.label
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM (
      SELECT query_id, neighbor_id,
             CAST(dot AS DOUBLE) / sqrt(CAST(qn2 AS DOUBLE) * CAST(cn2 AS DOUBLE)) AS cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qn2 AS DOUBLE) * CAST(cn2 AS DOUBLE)) DESC,
                           neighbor_id ASC) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def hard_negative_mining_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training — for
    each sampled anchor, the top-5 most-similar vectors of a DIFFERENT
    label (the near-miss negatives that make InfoNCE/triplet batches
    informative; random negatives are trivially easy).  Same broadcast
    corpus-scan + salted two-phase window as `ann_topk` with the label
    inequality fused into the broadcast join condition — the class
    restriction costs nothing extra at scale.  NULL labels never
    satisfy `<>` and drop out of both sides (mirrored by the oracle)."""
    emb = _tbl(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % _ANN_SAMPLE == 0)
    return similarity.cosine_topk(emb, qs, k=5, neq_col="label")


def _ann_lsh_sql(num_planes: int = 8) -> str:
    bits = []
    for p in range(num_planes):
        w = similarity.hyperplane_weight_expr(p, "i")
        proj = (
            f"list_sum(list_transform(generate_series(1, len(iv)), i -> list_extract(iv, i) * {w}))"
        )
        bits.append(f"CASE WHEN ({proj}) > 0 THEN '1' ELSE '0' END")
    return f"""
    WITH iv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS iv
      FROM embeddings
    )
    SELECT vec_id, concat({', '.join(bits)}) AS bucket FROM iv
    """


@q("ann_lsh_buckets", _ann_lsh_sql())
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucket assignment (the scale path for ANN): 8
    deterministic integer hyperplanes → sign-bit bucket string."""
    emb = _tbl(spark, sf_dir, "embeddings")
    return similarity.with_lsh_bucket(emb).select("vec_id", "bucket")


# fixed centroid count — independent of corpus size so the broadcast
# is O(k) at any scale (see similarity.ivf_centroids)
_IVF_K = similarity.DEFAULT_IVF_K

# the cell-assignment CTE chain, shared by ann_ivf_cells and
# cluster_balanced_sample
_IVF_CELLS_CTES = f"""
    iv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS iv
      FROM embeddings
    ),
    cents AS (
      SELECT vec_id AS centroid_id, iv AS civ FROM iv
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_IVF_K}
    ),
    scored AS (
      SELECT a.vec_id, c.centroid_id,
             CAST(list_sum(list_transform(generate_series(1, len(a.iv)),
                  i -> (list_extract(a.iv, i) - list_extract(c.civ, i))
                     * (list_extract(a.iv, i) - list_extract(c.civ, i)))) AS BIGINT) AS d2
      FROM iv a, cents c
    ),
    ranked AS (
      SELECT vec_id, centroid_id, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, centroid_id ASC) AS rk
      FROM scored
    )"""

_IVF_SQL = f"""
    WITH {_IVF_CELLS_CTES}
    SELECT vec_id, centroid_id, d2 FROM ranked WHERE rk = 1
    """


@q("ann_ivf_cells", _IVF_SQL)
def ann_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell assignment — the inverted-file ANN scale path: a FIXED
    k=16 centroid table (smallest-md5 sample, O(k) broadcast at any
    corpus size) × one corpus scan, exact integer L2² argmin via
    min-of-struct (map-side combine, no sort).  Deterministic
    "training" keeps the index oracle-replayable; swapping in k-means
    changes no plan shape."""
    emb = _tbl(spark, sf_dir, "embeddings")
    cents = similarity.ivf_centroids(emb, k=_IVF_K)
    return similarity.ivf_assign(emb, cents)


@q(
    "ann_ivf_upsert",
    f"""
    WITH iv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS iv
      FROM embeddings
    ),
    base AS (SELECT * FROM iv WHERE vec_id % 10 <> 7),
    cents AS (
      SELECT vec_id AS centroid_id, iv AS civ FROM base
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_IVF_K}
    ),
    scored AS (
      SELECT a.vec_id, c.centroid_id,
             CAST(list_sum(list_transform(generate_series(1, len(a.iv)),
                  i -> (list_extract(a.iv, i) - list_extract(c.civ, i))
                     * (list_extract(a.iv, i) - list_extract(c.civ, i)))) AS BIGINT) AS d2
      FROM iv a, cents c
    ),
    ranked AS (
      SELECT vec_id, centroid_id, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, centroid_id ASC) AS rk
      FROM scored
    )
    SELECT vec_id, centroid_id, d2, vec_id % 10 = 7 AS is_new
    FROM ranked WHERE rk = 1
    """,
)
def ann_ivf_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index UPSERT — the ANN index lifecycle (the family's twin of
    `dedup_index_roll`): centroids are FROZEN at index-build time and
    the base cell table is a STORED parquet artifact; a new vector
    batch enters by assign-only against the frozen centroids — O(new
    batch × k) work, zero retrain, zero recompute of the base index
    (the gate replays the stored parquet, so the written artifact is
    what's attested).  Assignment is a pure per-vector function of the
    centroid table, so delta-assign ≡ full-assign restricted to the
    batch (batch-invariance pinned in tests) and searches probe the
    unioned cell table unchanged.  Centroid drift accumulating across
    many upserts is when a production index schedules a RETRAIN + full
    roll — that path is `ann_ivf_trained_topk`'s train machinery over
    the unioned corpus."""
    emb = _tbl(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 7)
    newb = emb.filter(F.col("vec_id") % 10 == 7)
    cents = similarity.ivf_centroids(base, k=_IVF_K)
    index_path = os.path.join(_atexit_tmpdir("fw_ivf_index_"), "cells.parquet")
    similarity.ivf_assign(base, cents).write.mode("overwrite").parquet(index_path)
    stored = spark.read.parquet(index_path).withColumn("is_new", F.lit(False))
    delta = similarity.ivf_assign(newb, cents).withColumn("is_new", F.lit(True))
    return stored.unionByName(delta)


def _ivf_train_ctes(k: int | str = _IVF_K, iters: int = 2) -> tuple[str, str]:
    """Textually-iterated Lloyd refinement as a CTE body — upgrades
    ivf_train from Python-reference-pinned to fully hash-gated (the
    BPE-k pattern): per iteration, argmin assignment against the
    previous centroid CTE, truncating-div per-(cell, dim) means, empty
    cells keep their previous centroid.  DuckDB `//` truncates toward
    zero on integers exactly like Spark `div` (-7//2 = -3, verified),
    which the negative-coordinate-sum cells depend on.  Returns
    (cte_body, final_centroid_cte_name); the body also defines `iv`."""
    pieces = [
        """iv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS iv
      FROM embeddings
    )""",
        f"""c0 AS (
      SELECT vec_id AS centroid_id, iv AS civ FROM iv
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k}
    )""",
    ]
    for i in range(1, iters + 1):
        prev = f"c{i - 1}"
        pieces.append(
            f"""d{i} AS (
      SELECT v.vec_id, v.iv, c.centroid_id,
             list_sum(list_transform(generate_series(1, len(v.iv)),
               j -> (list_extract(v.iv, j) - list_extract(c.civ, j))
                  * (list_extract(v.iv, j) - list_extract(c.civ, j)))) AS d2
      FROM iv v, {prev} c
    )""")
        pieces.append(
            f"""a{i} AS (
      SELECT vec_id, iv, centroid_id FROM (
        SELECT vec_id, iv, centroid_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, centroid_id) AS rk
        FROM d{i}) WHERE rk = 1
    )""")
        pieces.append(
            f"""m{i} AS (
      SELECT centroid_id, u.j AS dim,
             CAST(CAST(sum(list_extract(iv, u.j)) AS BIGINT)
                  // CAST(count(*) AS BIGINT) AS BIGINT) AS m
      FROM a{i}, unnest(generate_series(1, len(iv))) AS u(j)
      GROUP BY centroid_id, u.j
    )""")
        pieces.append(
            f"""mm{i} AS (
      SELECT centroid_id, list(m ORDER BY dim) AS new_civ FROM m{i} GROUP BY centroid_id
    )""")
        pieces.append(
            f"""c{i} AS (
      SELECT c.centroid_id, COALESCE(mm{i}.new_civ, c.civ) AS civ
      FROM {prev} c LEFT JOIN mm{i} USING (centroid_id)
    )""")
    return ",\n    ".join(pieces), f"c{iters}"


def _ivf_train_sql(k: int = _IVF_K, iters: int = 2) -> str:
    body, final = _ivf_train_ctes(k, iters)
    return f"""
    WITH {body}
    SELECT centroid_id, CAST(u.j AS BIGINT) AS dim,
           CAST(list_extract(civ, u.j) AS BIGINT) AS civ_val
    FROM {final}, unnest(generate_series(1, len(civ))) AS u(j)
    """


@q("ivf_train_centroids", _ivf_train_sql())
def ivf_train_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means refinement of the IVF index
    (operators/similarity.py ivf_train), hash-gated end to end: the
    oracle replays both iterations — seed sample, broadcast-argmin
    assignment, truncating-div (cell, dim) means, empty-cell
    carry-over — so the trained centroids themselves are value-checked,
    not just pinned against a Python reference.  Output exploded to
    (centroid_id, dim, civ_val) rows."""
    emb = _tbl(spark, sf_dir, "embeddings")
    cents = similarity.ivf_train(emb, k=_IVF_K, iters=2)
    return cents.select(
        "centroid_id", F.posexplode("civ").alias("dim0", "civ_val")
    ).select(
        "centroid_id",
        (F.col("dim0") + 1).cast("long").alias("dim"),
        F.col("civ_val").cast("long").alias("civ_val"),
    )


_IVF_QSAMPLE = 37
_IVF_NPROBE = 2

_IVF_TOPK_SQL = f"""
    WITH iv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS iv
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, iv, CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS n2 FROM iv
    ),
    cents AS (
      SELECT vec_id AS centroid_id, iv AS civ FROM iv
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_IVF_K}
    ),
    c_assign AS (
      SELECT vec_id AS neighbor_id, centroid_id, iv AS civ2, n2 AS cn2 FROM (
        SELECT a.vec_id, c.centroid_id, a.iv, a.n2,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, len(a.iv)),
                   i -> (list_extract(a.iv, i) - list_extract(c.civ, i))
                      * (list_extract(a.iv, i) - list_extract(c.civ, i)))) ASC,
                 c.centroid_id ASC) AS rk
        FROM n a, cents c
      ) WHERE rk = 1
    ),
    q_probe AS (
      SELECT vec_id AS query_id, centroid_id, iv AS qiv, n2 AS qn2 FROM (
        SELECT a.vec_id, c.centroid_id, a.iv, a.n2,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, len(a.iv)),
                   i -> (list_extract(a.iv, i) - list_extract(c.civ, i))
                      * (list_extract(a.iv, i) - list_extract(c.civ, i)))) ASC,
                 c.centroid_id ASC) AS rk
        FROM n a, cents c WHERE a.vec_id % {_IVF_QSAMPLE} = 0
      ) WHERE rk <= {_IVF_NPROBE}
    ),
    scored AS (
      SELECT q.query_id, c.neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, len(q.qiv)),
                  i -> list_extract(q.qiv, i) * list_extract(c.civ2, i))) AS DOUBLE)
               / sqrt(CAST(q.qn2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE)) AS cos_sim
      FROM q_probe q JOIN c_assign c ON q.centroid_id = c.centroid_id
      WHERE q.query_id <> c.neighbor_id
    )
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank,
           cos_sim
    FROM scored
    QUALIFY rank <= 5
    """


@q("ann_ivf_topk", _IVF_TOPK_SQL)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe search: each query ranks the centroids, searches only
    its nprobe nearest cells with exact cosine, takes top-5.  Per-query
    work is O(nprobe × cell), not O(corpus) — the second ANN scale path
    beside LSH bucketing."""
    emb = _tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % _IVF_QSAMPLE == 0)
    return similarity.ivf_topk(
        emb, queries, k=5, nprobe=_IVF_NPROBE, k_centroids=_IVF_K
    )


@q("streaming_ann_serve", _IVF_TOPK_SQL)
def streaming_ann_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN serving as a REAL Structured Streaming pipeline (VERDICT r7
    ask #6) — the serving-lifecycle closer: `ann_ivf_upsert` proved the
    index is a stored artifact; this proves queries can be SERVED from
    it micro-batch by micro-batch.  The IVF index (cell table with
    scaled vectors + norms, `ivf_index_cells`) and its frozen centroid
    table are materialized ONCE; the query set then arrives through a
    file source in 2 micro-batches, each served inside ``foreachBatch``
    by `ivf_serve` against the STORED parquet index — per-batch work is
    O(batch × nprobe × cell), the corpus is never rescanned — and each
    batch APPENDS its results idempotently (batch-id-owned overwrite,
    the streaming_incremental_dedup convention).  Per-query answers
    are functions of (query, index) only, so union-of-batches ≡
    whole-batch bit-for-bit: the gate attests the STREAMED results
    table against the SAME oracle as the batch `ann_ivf_topk`."""

    def feed(reader, tmp):
        emb = _tbl(spark, sf_dir, "embeddings")
        cents = materialize(similarity.ivf_centroids(emb, k=_IVF_K))
        similarity.ivf_index_cells(emb, cents).write.mode("overwrite").parquet(
            f"{tmp}/index"
        )
        cells = spark.read.parquet(f"{tmp}/index")
        queries = emb.filter(F.col("vec_id") % _IVF_QSAMPLE == 0)
        write_replay_chunks(queries, f"{tmp}/queries", order_col="vec_id", n_chunks=2)
        stream = reader.schema("vec_id long, embedding array<float>").parquet(
            f"{tmp}/queries"
        )
        return stream, lambda b: similarity.ivf_serve(
            cells, cents, b, k=5, nprobe=_IVF_NPROBE
        )

    return replay(spark, feed)


def _ivf_trained_topk_sql(k: int = _IVF_K, iters: int = 2) -> str:
    """The full train-then-search composition: the Lloyd CTE chain
    feeds the SAME probe-search SQL ann_ivf_topk uses, with the trained
    table in place of the seed sample."""
    body, final = _ivf_train_ctes(k, iters)
    return f"""
    WITH {body},
    nn AS (
      SELECT vec_id, iv, CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS n2 FROM iv
    ),
    c_assign AS (
      SELECT vec_id AS neighbor_id, centroid_id, iv AS civ2, n2 AS cn2 FROM (
        SELECT a.vec_id, c.centroid_id, a.iv, a.n2,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, len(a.iv)),
                   i -> (list_extract(a.iv, i) - list_extract(c.civ, i))
                      * (list_extract(a.iv, i) - list_extract(c.civ, i)))) ASC,
                 c.centroid_id ASC) AS rk
        FROM nn a, {final} c
      ) WHERE rk = 1
    ),
    q_probe AS (
      SELECT vec_id AS query_id, centroid_id, iv AS qiv, n2 AS qn2 FROM (
        SELECT a.vec_id, c.centroid_id, a.iv, a.n2,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, len(a.iv)),
                   i -> (list_extract(a.iv, i) - list_extract(c.civ, i))
                      * (list_extract(a.iv, i) - list_extract(c.civ, i)))) ASC,
                 c.centroid_id ASC) AS rk
        FROM nn a, {final} c WHERE a.vec_id % {_IVF_QSAMPLE} = 0
      ) WHERE rk <= {_IVF_NPROBE}
    ),
    scored AS (
      SELECT q.query_id, c.neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, len(q.qiv)),
                  i -> list_extract(q.qiv, i) * list_extract(c.civ2, i))) AS DOUBLE)
               / sqrt(CAST(q.qn2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE)) AS cos_sim
      FROM q_probe q JOIN c_assign c ON q.centroid_id = c.centroid_id
      WHERE q.query_id <> c.neighbor_id
    )
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank,
           cos_sim
    FROM scored
    QUALIFY rank <= 5
    """


@q("ann_ivf_trained_topk", _ivf_trained_topk_sql())
def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe search against the LLOYD-TRAINED IVF index — the composed
    production ANN flow (train once, search many), hash-gated end to
    end: the oracle replays both refinement iterations AND the nprobe
    cell search over the refined cells.  Same plan shapes as
    ann_ivf_topk; only the centroid table differs."""
    emb = _tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % _IVF_QSAMPLE == 0)
    cents = similarity.ivf_train(emb, k=_IVF_K, iters=2)
    return similarity.ivf_topk(
        emb, queries, k=5, nprobe=_IVF_NPROBE, centroids=cents
    )


_ANN_RECALL_SQL = f"""
    WITH iv AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS iv
      FROM embeddings
    ),
    n AS MATERIALIZED (
      SELECT vec_id, iv, CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS n2 FROM iv
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 CAST(list_sum(list_transform(generate_series(1, len(q.iv)),
                      i -> list_extract(q.iv, i) * list_extract(c.iv, i))) AS DOUBLE)
                   / sqrt(CAST(q.n2 AS DOUBLE) * CAST(c.n2 AS DOUBLE)) DESC,
                 c.vec_id ASC) AS rk
        FROM n q JOIN n c ON q.vec_id % {_IVF_QSAMPLE} = 0 AND c.vec_id <> q.vec_id
      ) WHERE rk <= 5
    ),
    cents AS (
      SELECT vec_id AS centroid_id, iv AS civ FROM iv
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_IVF_K}
    ),
    c_assign AS (
      SELECT vec_id AS neighbor_id, centroid_id, iv AS civ2, n2 AS cn2 FROM (
        SELECT a.vec_id, c.centroid_id, a.iv, a.n2,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, len(a.iv)),
                   i -> (list_extract(a.iv, i) - list_extract(c.civ, i))
                      * (list_extract(a.iv, i) - list_extract(c.civ, i)))) ASC,
                 c.centroid_id ASC) AS rk
        FROM n a, cents c
      ) WHERE rk = 1
    ),
    q_probe AS (
      SELECT vec_id AS query_id, centroid_id, iv AS qiv, n2 AS qn2 FROM (
        SELECT a.vec_id, c.centroid_id, a.iv, a.n2,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, len(a.iv)),
                   i -> (list_extract(a.iv, i) - list_extract(c.civ, i))
                      * (list_extract(a.iv, i) - list_extract(c.civ, i)))) ASC,
                 c.centroid_id ASC) AS rk
        FROM n a, cents c WHERE a.vec_id % {_IVF_QSAMPLE} = 0
      ) WHERE rk <= {_IVF_NPROBE}
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 CAST(list_sum(list_transform(generate_series(1, len(q.qiv)),
                      i -> list_extract(q.qiv, i) * list_extract(c.civ2, i))) AS DOUBLE)
                   / sqrt(CAST(q.qn2 AS DOUBLE) * CAST(c.cn2 AS DOUBLE)) DESC,
                 c.neighbor_id ASC) AS rank
        FROM q_probe q JOIN c_assign c ON q.centroid_id = c.centroid_id
        WHERE q.query_id <> c.neighbor_id
      ) WHERE rank <= 5
    )
    SELECT e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_overlap,
           CAST(count(a.neighbor_id) AS DOUBLE) / 5.0 AS recall
    FROM exact e LEFT JOIN approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    """


@q("ann_recall", _ANN_RECALL_SQL)
def ann_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall@5 measurement — the diagnostic a production vector
    pipeline runs before trusting an approximate index (measure, don't
    guess): exact brute-force cosine top-5 vs the IVF nprobe search
    for the same query sample, per-query overlap and recall.  Both
    sides are the registry's own machinery (cosine_topk, ivf_topk);
    recall tuning = the nprobe/k_centroids knobs this number feeds.
    At 100 TB the exact side runs on a SAMPLE of queries only — its
    corpus scan is the one-off audit cost, never the serving path."""
    emb = _tbl(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % _IVF_QSAMPLE == 0)
    exact = similarity.cosine_topk(emb, q, k=5).select("query_id", "neighbor_id")
    approx = (
        similarity.ivf_topk(emb, q, k=5, nprobe=_IVF_NPROBE, k_centroids=_IVF_K)
        .select("query_id", "neighbor_id")
        .withColumn("_hit", F.lit(1))
    )
    joined = exact.join(approx, ["query_id", "neighbor_id"], "left")
    return joined.groupBy("query_id").agg(
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_overlap")
    ).withColumn("recall", F.col("n_overlap").cast("double") / F.lit(5.0))


def _ivf_pq_sql(
    k_cents: int = _IVF_K,
    m: int = 8,
    ks: int = 16,
    sub_dim: int = 8,
    qsample: int = _IVF_QSAMPLE,
    nprobe: int = _IVF_NPROBE,
    topk: int = 5,
    refine_k: int | None = None,
    base_only: bool = False,
) -> str:
    """IVF-PQ ADC oracle (operators/similarity.py ivf_pq_topk): coarse
    argmin → residuals → md5-sample codebook seed → ONE Lloyd round per
    subspace (truncating-div means, empty-cell carryover — the
    ivf_train idioms) → encode → per-(query, cell) LUT → ADC sum →
    top-k.  MATERIALIZED CTEs break DuckDB's inline-substitution
    blowup at the multi-reference stages (the bpe_vocab lesson).

    ``refine_k`` switches to the two-stage re-rank form
    (ivf_pq_refine_topk): ADC top-``refine_k`` shortlist, then exact
    scaled-int L2² against the full vectors, final rank by exact
    distance with ``topk`` kept."""
    d2 = (
        "list_sum(list_transform(generate_series(1, len(a.iv)), "
        "d -> (list_extract(a.iv, d) - list_extract(c.civ, d))"
        " * (list_extract(a.iv, d) - list_extract(c.civ, d))))"
    )

    def sub_d2(rsub: str, csub: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {sub_dim}), "
            f"d -> (list_extract({rsub}, d) - list_extract({csub}, d))"
            f" * (list_extract({rsub}, d) - list_extract({csub}, d))))"
        )

    pq_ck = "md5('pq|' || CAST(vec_id AS VARCHAR))"
    base = f"""
    WITH iv AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS iv
      FROM embeddings
    ),
    cents AS MATERIALIZED (
      SELECT vec_id AS centroid_id, iv AS civ FROM iv
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k_cents}
    ),
    res AS MATERIALIZED (
      SELECT vec_id, centroid_id,
             list_transform(generate_series(1, len(iv)),
               d -> list_extract(iv, d) - list_extract(civ, d)) AS rs
      FROM (
        SELECT a.vec_id, c.centroid_id, a.iv, c.civ,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                    ORDER BY {d2} ASC, c.centroid_id ASC) AS rk
        FROM iv a, cents c
      ) WHERE rk = 1
    ),
    seeds AS (
      SELECT rs, ROW_NUMBER() OVER (ORDER BY {pq_ck}, vec_id) AS j
      FROM res ORDER BY {pq_ck}, vec_id LIMIT {ks}
    ),
    cb0 AS MATERIALIZED (
      SELECT sp.s AS s, j, list_slice(rs, sp.s * {sub_dim} + 1, (sp.s + 1) * {sub_dim}) AS csub
      FROM seeds, (SELECT unnest(range(0, {m})) AS s) sp
    ),
    sub AS MATERIALIZED (
      SELECT vec_id, centroid_id, sp.s AS s,
             list_slice(rs, sp.s * {sub_dim} + 1, (sp.s + 1) * {sub_dim}) AS rsub
      FROM res, (SELECT unnest(range(0, {m})) AS s) sp
    ),
    enc0 AS MATERIALIZED (
      SELECT vec_id, s, j, rsub FROM (
        SELECT v.vec_id, v.s, c.j, v.rsub,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s
                    ORDER BY {sub_d2("v.rsub", "c.csub")} ASC, c.j ASC) AS rk
        FROM sub v JOIN cb0 c ON v.s = c.s
      ) WHERE rk = 1
    ),
    m1 AS (
      SELECT s, j, u.d AS d,
             CAST(CAST(sum(list_extract(rsub, u.d)) AS BIGINT)
                  // CAST(count(*) AS BIGINT) AS BIGINT) AS mv
      FROM enc0, unnest(generate_series(1, {sub_dim})) AS u(d)
      GROUP BY s, j, u.d
    ),
    mm1 AS (SELECT s, j, list(mv ORDER BY d) AS new_csub FROM m1 GROUP BY s, j),
    cb1 AS MATERIALIZED (
      SELECT c.s, c.j, COALESCE(mm1.new_csub, c.csub) AS csub
      FROM cb0 c LEFT JOIN mm1 ON c.s = mm1.s AND c.j = mm1.j
    ),
    enc AS MATERIALIZED (
      SELECT vec_id, centroid_id, s, j AS code FROM (
        SELECT v.vec_id, v.centroid_id, v.s, c.j,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s
                    ORDER BY {sub_d2("v.rsub", "c.csub")} ASC, c.j ASC) AS rk
        FROM sub v JOIN cb1 c ON v.s = c.s
      ) WHERE rk = 1
    ),
    qp AS MATERIALIZED (
      SELECT vec_id AS query_id, centroid_id,
             list_transform(generate_series(1, len(iv)),
               d -> list_extract(iv, d) - list_extract(civ, d)) AS qrs
      FROM (
        SELECT a.vec_id, c.centroid_id, a.iv, c.civ,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                    ORDER BY {d2} ASC, c.centroid_id ASC) AS rk
        FROM iv a, cents c WHERE a.vec_id % {qsample} = 0
      ) WHERE rk <= {nprobe}
    ),
    lut AS MATERIALIZED (
      SELECT qp.query_id, qp.centroid_id, c.s, c.j,
             {sub_d2(f"list_slice(qp.qrs, c.s * {sub_dim} + 1, (c.s + 1) * {sub_dim})", "c.csub")} AS ld2
      FROM qp, cb1 c
    ),
    scored AS (
      SELECT l.query_id, e.vec_id AS neighbor_id, CAST(sum(l.ld2) AS BIGINT) AS adc_d2
      FROM enc e
      JOIN qp ON e.centroid_id = qp.centroid_id AND qp.query_id <> e.vec_id
      JOIN lut l ON l.query_id = qp.query_id AND l.centroid_id = e.centroid_id
                AND l.s = e.s AND l.j = e.code
      GROUP BY l.query_id, e.vec_id
    )"""
    if base_only:
        return base
    if refine_k is None:
        return base + f"""
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY adc_d2 ASC, neighbor_id ASC) AS BIGINT) AS rank,
           adc_d2
    FROM scored
    QUALIFY rank <= {topk}
    """
    # refine form: ADC shortlist → exact re-rank (the scored CTE close
    # above becomes a comma-chain into the shortlist CTE)
    return base.replace(
        "      GROUP BY l.query_id, e.vec_id\n    )",
        "      GROUP BY l.query_id, e.vec_id\n    ),",
    ) + f"""
    shortlist AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY adc_d2 ASC, neighbor_id ASC) AS rk
        FROM scored
      ) WHERE rk <= {refine_k}
    )
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY exact_d2 ASC, neighbor_id ASC) AS BIGINT) AS rank,
           exact_d2
    FROM (
      SELECT s.query_id, s.neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, len(qi.iv)),
               d -> (list_extract(qi.iv, d) - list_extract(ni.iv, d))
                  * (list_extract(qi.iv, d) - list_extract(ni.iv, d)))) AS BIGINT) AS exact_d2
      FROM shortlist s
      JOIN iv qi ON qi.vec_id = s.query_id
      JOIN iv ni ON ni.vec_id = s.neighbor_id
    )
    QUALIFY rank <= {topk}
    """


@q("ann_ivf_pq_topk", _ivf_pq_sql())
def ann_ivf_pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ADC search (operators/similarity.py ivf_pq_topk —
    VERDICT r6 #1, the missing piece of a production 100 TB ANN stack):
    coarse IVF cells + product-quantized residual codes (8 subspaces ×
    16 centroids = 8 half-byte codes per vector) + per-(query, cell)
    ADC lookup tables broadcast to executors.  Search never touches the
    vectors — only the codes table.  Hash-gated end to end on the
    scaled-int grid: coarse argmin, residuals, codebook seed + one
    Lloyd round per subspace, encode, LUT and the ADC sum are all
    exact integer arithmetic."""
    emb = _tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % _IVF_QSAMPLE == 0)
    return similarity.ivf_pq_topk(
        emb,
        queries,
        k=5,
        nprobe=_IVF_NPROBE,
        k_centroids=_IVF_K,
        train_iters=1,
    )


_PQ_REFINE_SHORTLIST = 15


def _pq_recall_sql(
    qsample: int = _IVF_QSAMPLE,
    topk: int = 5,
    refine_k: int = 15,
) -> str:
    """Recall@5 of ADC and of ADC+refine vs EXACT scaled-int L2 — the
    metric PQ actually approximates (the cosine-side audit is
    ann_recall).  Reuses the full IVF-PQ CTE chain."""
    d2pair = (
        "list_sum(list_transform(generate_series(1, len(a.iv)), "
        "d -> (list_extract(a.iv, d) - list_extract(b.iv, d))"
        " * (list_extract(a.iv, d) - list_extract(b.iv, d))))"
    )
    return _ivf_pq_sql(base_only=True) + f""",
    adc AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY adc_d2 ASC, neighbor_id ASC) AS rk
        FROM scored
      ) WHERE rk <= {topk}
    ),
    shortlist AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY adc_d2 ASC, neighbor_id ASC) AS rk
        FROM scored
      ) WHERE rk <= {refine_k}
    ),
    refined AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY s.query_id ORDER BY
                 list_sum(list_transform(generate_series(1, len(qi.iv)),
                   d -> (list_extract(qi.iv, d) - list_extract(ni.iv, d))
                      * (list_extract(qi.iv, d) - list_extract(ni.iv, d)))) ASC,
                 s.neighbor_id ASC) AS rk
        FROM shortlist s
        JOIN iv qi ON qi.vec_id = s.query_id
        JOIN iv ni ON ni.vec_id = s.neighbor_id
      ) WHERE rk <= {topk}
    ),
    exact AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                    ORDER BY {d2pair} ASC, b.vec_id ASC) AS rk
        FROM iv a JOIN iv b ON a.vec_id <> b.vec_id
        WHERE a.vec_id % {qsample} = 0
      ) WHERE rk <= {topk}
    )
    SELECT e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_overlap_adc,
           CAST(count(r.neighbor_id) AS BIGINT) AS n_overlap_refine,
           CAST(count(a.neighbor_id) AS DOUBLE) / {topk}.0 AS recall_adc,
           CAST(count(r.neighbor_id) AS DOUBLE) / {topk}.0 AS recall_refine
    FROM exact e
    LEFT JOIN adc a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    LEFT JOIN refined r ON e.query_id = r.query_id AND e.neighbor_id = r.neighbor_id
    GROUP BY e.query_id
    """


@q("ann_pq_recall", _pq_recall_sql())
def ann_pq_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 audit of the PQ stack under ITS OWN metric (exact
    scaled-int L2): ADC top-5 vs exact, and ADC-shortlist + exact
    re-rank top-5 vs exact — the number that proves the refine stage
    earns its keep (refine recall ≥ ADC recall by construction within
    the probed cells; the gap IS the quantization error refine
    removes).  At 100 TB the exact side runs over a query sample as a
    one-off audit — never in serving (same posture as ann_recall)."""
    from pyspark.sql import Window

    emb = _tbl(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % _IVF_QSAMPLE == 0)
    qiv = similarity.with_scaled_vec(qs).select(
        F.col("vec_id").alias("query_id"), F.col("iv").alias("qiv")
    )
    niv = similarity.with_scaled_vec(
        similarity.ensure_parallelism(emb)
    ).select(F.col("vec_id").alias("neighbor_id"), F.col("iv").alias("niv"))
    d2 = F.aggregate(
        F.zip_with("qiv", "niv", lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("_d2"), F.asc("neighbor_id"))
    exact = (
        niv.crossJoin(F.broadcast(qiv))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_d2", d2)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id")
    )
    # ONE PQ build/search: the ADC top-5 is by definition the first 5
    # rows of the ADC top-15 shortlist, and the refine side re-ranks
    # that same shortlist — so the index is trained and probed once,
    # the (queries × 15)-row shortlist is materialized (it feeds two
    # consumers), and no lineage replays the Lloyd rounds
    shortlist = similarity.ivf_pq_topk(
        emb,
        qs,
        k=_PQ_REFINE_SHORTLIST,
        nprobe=_IVF_NPROBE,
        k_centroids=_IVF_K,
        train_iters=1,
    ).transform(materialize)
    adc = (
        shortlist.filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
        .withColumn("_a", F.lit(1))
    )
    ref = (
        similarity.exact_rerank(
            shortlist.select("query_id", "neighbor_id"), emb, qs, k=5
        )
        .select("query_id", "neighbor_id")
        .withColumn("_r", F.lit(1))
    )
    j = exact.join(adc, ["query_id", "neighbor_id"], "left").join(
        ref, ["query_id", "neighbor_id"], "left"
    )
    return (
        j.groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("_a"), F.lit(0))).cast("long").alias("n_overlap_adc"),
            F.sum(F.coalesce(F.col("_r"), F.lit(0))).cast("long").alias("n_overlap_refine"),
        )
        .withColumn("recall_adc", F.col("n_overlap_adc").cast("double") / F.lit(5.0))
        .withColumn(
            "recall_refine", F.col("n_overlap_refine").cast("double") / F.lit(5.0)
        )
    )


@q("ann_ivf_pq_refine", _ivf_pq_sql(refine_k=_PQ_REFINE_SHORTLIST))
def ann_ivf_pq_refine_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ serving: ADC top-15 shortlist, then EXACT re-rank
    of only those 15 candidates against their full-precision vectors
    (operators/similarity.py ivf_pq_refine_topk — FAISS's IVFPQR
    pattern).  ADC distances carry quantization error; re-scoring the
    shortlist recovers most of the recall PQ gave up while the refine
    stage's only corpus-scale op is a broadcast join fetching exactly
    queries × 15 vectors — a point-lookup batch at 100 TB, never a
    corpus scan.  Exact scaled-int L2² end to end → hash-gated."""
    emb = _tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % _IVF_QSAMPLE == 0)
    return similarity.ivf_pq_refine_topk(
        emb,
        queries,
        k=5,
        shortlist_k=_PQ_REFINE_SHORTLIST,
        nprobe=_IVF_NPROBE,
        k_centroids=_IVF_K,
        train_iters=1,
    )


_GRAM_DIM = 64

_GRAM_SQL = f"""
    WITH iv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS iv
      FROM embeddings
    ),
    p AS (
      SELECT t1.i AS i, t2.j AS j,
             list_extract(iv, t1.i) AS vi, list_extract(iv, t2.j) AS vj
      FROM iv, range(1, {_GRAM_DIM + 1}) AS t1(i), range(1, {_GRAM_DIM + 1}) AS t2(j)
      WHERE t2.j >= t1.i
    ),
    s AS (
      SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(vi) AS BIGINT) AS sum_i,
             CAST(sum(vj) AS BIGINT) AS sum_j,
             CAST(sum(vi * vj) AS BIGINT) AS sum_ij
      FROM p GROUP BY i, j
    )
    SELECT i, j, n, sum_i, sum_j, sum_ij,
           CAST(sum_ij AS DOUBLE) / CAST(n AS DOUBLE)
             - (CAST(sum_i AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(sum_j AS DOUBLE) / CAST(n AS DOUBLE)) AS cov
    FROM s
    """


@q("embedding_gram", _GRAM_SQL)
def embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed gram/covariance matrix over the embedding corpus —
    the "aggregate huge, solve tiny" shape behind PCA/whitening/ZCA in
    embedding curation: the d×d second-moment sums reduce map-side (the
    shuffle carries ≤ partitions × d(d+1)/2 partial rows, never
    vectors), the driver eigen-solves the tiny result and broadcasts
    the projection back (tested against numpy in test_ingest_ops).

    Exactness: all sums run on floor-scaled int64 (the IVF family's
    1e-6 grid) so the moments are bit-exact; `cov` is three mirrored
    IEEE ops on those exact integers.  For d ≫ a few hundred, swap the
    per-row pair explode (d²/2 rows per vector) for a chunked
    mapInPandas outer-product fold — the agg shape is unchanged."""
    emb = _tbl(spark, sf_dir, "embeddings")
    # Fail loudly on schema drift: a vector whose dim != _GRAM_DIM
    # would otherwise NULL-poison the sums via out-of-range element_at
    # (and the oracle mirrors the bug, so the gate could not catch it —
    # ADVICE r5).  The guard feeds sequence(), so Catalyst cannot prune
    # it, and raise_error only fires on the drifted row.
    dim_guard = (
        f"CASE WHEN size(iv) = {_GRAM_DIM} THEN {_GRAM_DIM} "
        f"ELSE CAST(raise_error(concat('embedding_gram: embedding dim ', "
        f"CAST(size(iv) AS STRING), ' != {_GRAM_DIM}')) AS INT) END"
    )
    iv = similarity.with_scaled_vec(emb).select("iv")
    pairs = F.expr(
        f"flatten(transform(sequence(1, {dim_guard}), i -> "
        f"transform(sequence(i, {_GRAM_DIM}), j -> "
        "struct(i AS i, j AS j, element_at(iv, i) AS vi, element_at(iv, j) AS vj))))"
    )
    exploded = iv.select(F.explode(pairs).alias("p")).select(
        F.col("p.i").cast("long").alias("i"),
        F.col("p.j").cast("long").alias("j"),
        F.col("p.vi").alias("vi"),
        F.col("p.vj").alias("vj"),
    )
    s = exploded.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vi").alias("sum_i"),
        F.sum("vj").alias("sum_j"),
        F.sum(F.col("vi") * F.col("vj")).alias("sum_ij"),
    )
    return s.select(
        "i", "j", "n", "sum_i", "sum_j", "sum_ij",
        (
            F.col("sum_ij").cast("double") / F.col("n").cast("double")
            - (F.col("sum_i").cast("double") / F.col("n").cast("double"))
            * (F.col("sum_j").cast("double") / F.col("n").cast("double"))
        ).alias("cov"),
    )


def _bpe_round_ctes(p: str, src: str) -> str:
    """One BPE merge round as a prefixed CTE chain over relation `src`
    (doc_id, text), ending in `{p}out` (doc_id, n_merges, new_text) —
    textually iterable, so the K-round tokenizer-induction oracle is
    the same verified SQL applied K times."""
    return f"""
    {p}t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM {src}),
    {p}bg AS (
      SELECT list_extract(toks, u.i) AS l, list_extract(toks, u.i + 1) AS r
      FROM {p}t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
    ),
    {p}cnt AS (SELECT l, r, count(*) AS c FROM {p}bg GROUP BY l, r),
    {p}top AS (SELECT l, r FROM {p}cnt ORDER BY c DESC, l, r LIMIT 1),
    {p}pos AS (
      SELECT {p}t.doc_id, u.i
      FROM {p}t, unnest(generate_series(1, len(toks) - 1)) AS u(i), {p}top
      WHERE list_extract(toks, u.i) = {p}top.l
        AND list_extract(toks, u.i + 1) = {p}top.r
    ),
    {p}runs AS (
      SELECT doc_id, i,
             i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS island
      FROM {p}pos
    ),
    {p}mk AS (
      SELECT doc_id, i,
             row_number() OVER (PARTITION BY doc_id, island ORDER BY i) AS k
      FROM {p}runs
    ),
    {p}mpos AS (
      SELECT doc_id, list_sort(list(i)) AS mp FROM {p}mk WHERE k % 2 = 1 GROUP BY doc_id
    ),
    {p}o AS (
      SELECT {p}t.doc_id, COALESCE({p}mpos.mp, []) AS mp, {p}t.toks
      FROM {p}t LEFT JOIN {p}mpos USING (doc_id)
    ),
    {p}out AS (
      SELECT doc_id,
             CAST(len(mp) AS BIGINT) AS n_merges,
             array_to_string(list_filter(list_transform(generate_series(1, len(toks)),
               i -> CASE WHEN list_contains(mp, i)
                         THEN list_extract(toks, i) || '_' || list_extract(toks, i + 1)
                         WHEN list_contains(mp, i - 1) THEN NULL
                         ELSE list_extract(toks, i) END),
               x -> x IS NOT NULL), ' ') AS new_text
      FROM {p}o
    )"""


def _bpe_k_sql(k: int) -> str:
    ctes = ["r0 AS (SELECT doc_id, text FROM documents)"]
    for i in range(1, k + 1):
        ctes.append(_bpe_round_ctes(f"b{i}_", f"r{i - 1}"))
        ctes.append(
            f"r{i} AS (SELECT doc_id, new_text AS text FROM b{i}_out)"
        )
    total = " + ".join(f"b{i}_out.n_merges" for i in range(1, k + 1))
    joins = "".join(
        f" JOIN b{i}_out USING (doc_id)" for i in range(1, k)
    )
    return f"""
    WITH {", ".join(ctes)}
    SELECT doc_id, CAST({total} AS BIGINT) AS n_merges,
           b{k}_out.new_text AS new_text
    FROM b{k}_out{joins}
    """


def _bpe_cond_round_ctes(p: str, src: str, grow_by: int, min_freq: int) -> str:
    """One CONDITIONAL BPE round (the vocab-target induction rule,
    VERDICT r6 #8): identical to `_bpe_round_ctes` except the argmax
    CTE is gated — it yields its row only while
    ``vocab_size < base + grow_by`` (v0 is the round-0 vocabulary CTE)
    AND the top pair occurs >= min_freq times.  An empty `{p}top`
    makes every downstream CTE empty and `{p}out` a pass-through with
    0 merges — the no-op round; once one round no-ops, all later
    rounds see unchanged text and no-op too, which is exactly the
    early-exit loop `text.bpe_vocab_induction` runs."""
    return f"""
    {p}t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM {src}),
    {p}v AS (SELECT count(DISTINCT u.tok) AS vsz FROM {p}t, unnest(toks) AS u(tok)),
    {p}bg AS (
      SELECT list_extract(toks, u.i) AS l, list_extract(toks, u.i + 1) AS r
      FROM {p}t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
    ),
    {p}cnt AS (SELECT l, r, count(*) AS c FROM {p}bg GROUP BY l, r),
    {p}top AS (
      SELECT l, r FROM {p}cnt, {p}v, v0
      WHERE c >= {min_freq} AND vsz < v0.base + {grow_by}
      ORDER BY c DESC, l, r LIMIT 1
    ),
    {p}pos AS (
      SELECT {p}t.doc_id, u.i
      FROM {p}t, unnest(generate_series(1, len(toks) - 1)) AS u(i), {p}top
      WHERE list_extract(toks, u.i) = {p}top.l
        AND list_extract(toks, u.i + 1) = {p}top.r
    ),
    {p}runs AS (
      SELECT doc_id, i,
             i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS island
      FROM {p}pos
    ),
    {p}mk AS (
      SELECT doc_id, i,
             row_number() OVER (PARTITION BY doc_id, island ORDER BY i) AS k
      FROM {p}runs
    ),
    {p}mpos AS (
      SELECT doc_id, list_sort(list(i)) AS mp FROM {p}mk WHERE k % 2 = 1 GROUP BY doc_id
    ),
    {p}o AS (
      SELECT {p}t.doc_id, COALESCE({p}mpos.mp, []) AS mp, {p}t.toks
      FROM {p}t LEFT JOIN {p}mpos USING (doc_id)
    ),
    {p}out AS (
      SELECT doc_id,
             CAST(len(mp) AS BIGINT) AS n_merges,
             array_to_string(list_filter(list_transform(generate_series(1, len(toks)),
               i -> CASE WHEN list_contains(mp, i)
                         THEN list_extract(toks, i) || '_' || list_extract(toks, i + 1)
                         WHEN list_contains(mp, i - 1) THEN NULL
                         ELSE list_extract(toks, i) END),
               x -> x IS NOT NULL), ' ') AS new_text
      FROM {p}o
    )"""


def _bpe_vocab_sql(grow_by: int, min_freq: int, max_rounds: int) -> str:
    # r{i} is MATERIALIZED: DuckDB inlines plain CTEs, and each round
    # references its input ~4× (vocab probe, bigram count, positions,
    # rebuild) — 6 lazily-inlined rounds would re-substitute the whole
    # chain 4^6 times (measured: >400 s at sf0.001 vs seconds
    # materialized).  The DuckDB twin of the Spark side's per-round
    # checkpoint against the same substitution trap.
    ctes = [
        "r0 AS MATERIALIZED (SELECT doc_id, text FROM documents)",
        "v0 AS (SELECT count(DISTINCT u.tok) AS base"
        " FROM r0, unnest(string_split(text, ' ')) AS u(tok))",
    ]
    for i in range(1, max_rounds + 1):
        ctes.append(_bpe_cond_round_ctes(f"c{i}_", f"r{i - 1}", grow_by, min_freq))
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT doc_id, new_text AS text FROM c{i}_out)"
        )
    total = " + ".join(f"c{i}_out.n_merges" for i in range(1, max_rounds + 1))
    joins = "".join(
        f" JOIN c{i}_out USING (doc_id)" for i in range(1, max_rounds)
    )
    return f"""
    WITH {", ".join(ctes)}
    SELECT doc_id, CAST({total} AS BIGINT) AS n_merges,
           c{max_rounds}_out.new_text AS new_text
    FROM c{max_rounds}_out{joins}
    """


_BPE_GROW = 3
_BPE_VOCAB_MIN_FREQ = 2
_BPE_VOCAB_MAX_ROUNDS = 6


@q(
    "bpe_vocab_induction",
    _bpe_vocab_sql(_BPE_GROW, _BPE_VOCAB_MIN_FREQ, _BPE_VOCAB_MAX_ROUNDS),
)
def bpe_vocab_induction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer induction to a VOCABULARY TARGET (operators/
    text.py bpe_vocab_induction — VERDICT r6 #8, the production
    generalization of the fixed-K bpe_merge_k3): merge rounds run
    until the corpus vocabulary grows by {_BPE_GROW} token types, no
    pair repeats >= {_BPE_VOCAB_MIN_FREQ} times, or
    {_BPE_VOCAB_MAX_ROUNDS} rounds elapse.  The oracle replays
    max_rounds CONDITIONAL rounds (empty argmax → no-op pass-through),
    which the early-exit Spark loop equals bit-for-bit; the relative
    (base + grow) target keeps the same SQL binding at every sf."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    base = text.corpus_vocab_size(docs)
    return text.bpe_vocab_induction(
        docs,
        vocab_target=base + _BPE_GROW,
        min_freq=_BPE_VOCAB_MIN_FREQ,
        max_rounds=_BPE_VOCAB_MAX_ROUNDS,
    )


def _bpe_apply_round_ctes(p: str, src: str, rank: int) -> str:
    """One APPLY round: merge the rank-``rank`` pair of the TRAINED
    merge table `tr` (computed once over the ORIGINAL corpus) — no
    recounting, unlike `_bpe_round_ctes`.  Same greedy-parity rebuild."""
    return f"""
    {p}t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM {src}),
    {p}top AS (SELECT l, r FROM tr WHERE rk = {rank}),
    {p}pos AS (
      SELECT {p}t.doc_id, u.i
      FROM {p}t, unnest(generate_series(1, len(toks) - 1)) AS u(i), {p}top
      WHERE list_extract(toks, u.i) = {p}top.l
        AND list_extract(toks, u.i + 1) = {p}top.r
    ),
    {p}runs AS (
      SELECT doc_id, i,
             i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS island
      FROM {p}pos
    ),
    {p}mk AS (
      SELECT doc_id, i,
             row_number() OVER (PARTITION BY doc_id, island ORDER BY i) AS k
      FROM {p}runs
    ),
    {p}mpos AS (
      SELECT doc_id, list_sort(list(i)) AS mp FROM {p}mk WHERE k % 2 = 1 GROUP BY doc_id
    ),
    {p}o AS (
      SELECT {p}t.doc_id, COALESCE({p}mpos.mp, []) AS mp, {p}t.toks
      FROM {p}t LEFT JOIN {p}mpos USING (doc_id)
    ),
    {p}out AS (
      SELECT doc_id,
             CAST(len(mp) AS BIGINT) AS n_merges,
             array_to_string(list_filter(list_transform(generate_series(1, len(toks)),
               i -> CASE WHEN list_contains(mp, i)
                         THEN list_extract(toks, i) || '_' || list_extract(toks, i + 1)
                         WHEN list_contains(mp, i - 1) THEN NULL
                         ELSE list_extract(toks, i) END),
               x -> x IS NOT NULL), ' ') AS new_text
      FROM {p}o
    )"""


def _bpe_apply_sql(n_merges: int) -> str:
    ctes = [
        "r0 AS MATERIALIZED (SELECT doc_id, text FROM documents)",
        # the TRAINED merge table: top-n pairs of the ORIGINAL corpus in
        # priority order — computed once, never recounted per round
        f"""tr AS MATERIALIZED (
      SELECT l, r, row_number() OVER (ORDER BY c DESC, l, r) AS rk
      FROM (
        SELECT list_extract(toks, u.i) AS l, list_extract(toks, u.i + 1) AS r,
               count(*) AS c
        FROM (SELECT string_split(text, ' ') AS toks FROM r0) t,
             unnest(generate_series(1, len(toks) - 1)) AS u(i)
        GROUP BY 1, 2
      ) QUALIFY rk <= {n_merges}
    )""",
    ]
    for i in range(1, n_merges + 1):
        ctes.append(_bpe_apply_round_ctes(f"a{i}_", f"r{i - 1}", i))
        ctes.append(
            f"r{i} AS MATERIALIZED (SELECT doc_id, new_text AS text FROM a{i}_out)"
        )
    total = " + ".join(f"a{i}_out.n_merges" for i in range(1, n_merges + 1))
    joins = "".join(f" JOIN a{i}_out USING (doc_id)" for i in range(1, n_merges))
    return f"""
    WITH {", ".join(ctes)}
    SELECT doc_id, CAST({total} AS BIGINT) AS n_merges,
           a{n_merges}_out.new_text AS new_text
    FROM a{n_merges}_out{joins}
    """


_BPE_APPLY_N = 3


_TOKENIZER_COMPRESSION_SQL = f"""
    WITH ap AS (SELECT * FROM ({_bpe_apply_sql(_BPE_APPLY_N)}) t),
    per AS (
      SELECT d.lang,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
             ap.n_merges, d.n_chars
      FROM documents d JOIN ap USING (doc_id)
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(n_words) - sum(n_merges) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(sum(n_words) - sum(n_merges) AS DOUBLE)
             / CAST(sum(n_words) AS DOUBLE) AS tokens_per_word,
           CAST(sum(n_chars) AS DOUBLE)
             / CAST(sum(n_words) - sum(n_merges) AS DOUBLE) AS chars_per_token
    FROM per GROUP BY lang
    """


@q("tokenizer_compression", _TOKENIZER_COMPRESSION_SQL)
def tokenizer_compression_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer compression audit — the
    fertility/compression metric every tokenizer evaluation reports
    (tokens per word, bytes per token): train the top-3 merge table
    once on the corpus (top_adjacent_pairs), APPLY it in rank order
    (operators/text.py bpe_apply — the shipped-tokenizer path), then
    aggregate by language.  Each applied merge reduces the token count
    by exactly one, so tokens-after = words − merges with no second
    tokenization pass.  A language whose frequent pairs match the
    trained table compresses harder — the signal used to spot
    under-served languages before committing a tokenizer to a 100 TB
    run.  Integer sums + final IEEE divisions (bit-exact oracle);
    plan cost is the audited bpe_apply chain plus one lang-keyed
    map-side-combinable aggregation."""
    docs = _tbl(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    merges = text.top_adjacent_pairs(docs.select("doc_id", "text"), _BPE_APPLY_N)
    ap = text.bpe_apply(docs.select("doc_id", "text"), merges)
    per = (
        docs.withColumn("n_words", F.size(F.split("text", " ")).cast("long"))
        .join(ap, "doc_id")
        .select("lang", "n_words", "n_merges", "n_chars")
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        (F.sum("n_words") - F.sum("n_merges")).alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        (
            (F.sum("n_words") - F.sum("n_merges")).cast("double")
            / F.sum("n_words").cast("double")
        ).alias("tokens_per_word"),
        (
            F.sum("n_chars").cast("double")
            / (F.sum("n_words") - F.sum("n_merges")).cast("double")
        ).alias("chars_per_token"),
    )


@q("bpe_apply_trained", _bpe_apply_sql(_BPE_APPLY_N))
def bpe_apply_trained_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION (operators/text.py bpe_apply) — the other
    half of the BPE pair: the top-{_BPE_APPLY_N} merge table is
    "trained" once on the corpus (priority = count desc, then lexical)
    and then applied in RANK ORDER with no recounting — how a shipped
    tokenizer encodes new text, and observably different from
    bpe_merge_k3's per-round re-argmax whenever round 1's merge
    changes round 2's best pair.  The oracle computes the same trained
    table and replays the three literal-rank rounds."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    merges = text.top_adjacent_pairs(docs, _BPE_APPLY_N)
    return text.bpe_apply(docs, merges)


_BPE_SQL = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    bg AS (
      SELECT list_extract(toks, u.i) AS l, list_extract(toks, u.i + 1) AS r
      FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
    ),
    cnt AS (SELECT l, r, count(*) AS c FROM bg GROUP BY l, r),
    top AS (SELECT l, r FROM cnt ORDER BY c DESC, l, r LIMIT 1),
    pos AS (
      SELECT t.doc_id, u.i
      FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i), top
      WHERE list_extract(toks, u.i) = top.l
        AND list_extract(toks, u.i + 1) = top.r
    ),
    runs AS (
      SELECT doc_id, i,
             i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS island
      FROM pos
    ),
    mk AS (
      SELECT doc_id, i,
             row_number() OVER (PARTITION BY doc_id, island ORDER BY i) AS k
      FROM runs
    ),
    mpos AS (
      SELECT doc_id, list_sort(list(i)) AS mp FROM mk WHERE k % 2 = 1 GROUP BY doc_id
    ),
    o AS (
      SELECT t.doc_id, COALESCE(mpos.mp, []) AS mp, t.toks
      FROM t LEFT JOIN mpos USING (doc_id)
    )
    SELECT doc_id,
           CAST(len(mp) AS BIGINT) AS n_merges,
           array_to_string(list_filter(list_transform(generate_series(1, len(toks)),
             i -> CASE WHEN list_contains(mp, i)
                       THEN list_extract(toks, i) || '_' || list_extract(toks, i + 1)
                       WHEN list_contains(mp, i - 1) THEN NULL
                       ELSE list_extract(toks, i) END),
             x -> x IS NOT NULL), ' ') AS new_text
    FROM o
    """


@q("bpe_merge", _BPE_SQL)
def bpe_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-style merge round over the corpus (operators/text.py
    bpe_merge_round) — the tokenizer-induction primitive: corpus-argmax
    adjacent pair, then greedy left-to-right non-overlapping merges per
    doc via gaps-and-islands parity (no sequential scan, no UDF).
    Iterating K rounds re-applies this to new_text, the same
    multi-action loop shape as near_dup_clusters."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return text.bpe_merge_round(docs)


_QCLS_SQL = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id, len(toks) AS n_tokens,
             CAST(list_sum(list_transform(toks,
               tk -> strpos('0123456789abcdef', substring(md5('qw|' || tk), 1, 1)) - 8))
             AS BIGINT) AS feat_sum
      FROM t
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, feat_sum,
           CAST(feat_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS lin_score,
           (feat_sum > 0) AS keep
    FROM s
    """


@q(
    "corpus_report",
    """
    WITH t AS (
      SELECT source, lang, text, n_chars, string_split(text, ' ') AS toks
      FROM documents
    )
    SELECT source,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
      CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_exact_unique,
      CAST(sum(CASE WHEN list_sum(list_transform(toks,
        tk -> strpos('0123456789abcdef', substring(md5('qw|' || tk), 1, 1)) - 8)) > 0
        THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_keep,
      CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM t GROUP BY source
    """,
)
def corpus_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus HEALTH ROLLUP — the data-quality dashboard
    table every curation pipeline lands nightly: document/token/char
    volumes, exact-unique count (duplication pressure), quality-keep
    count (the classifier's sign-exact decision), and language spread,
    one row per source.  Composes with_quality_classifier's exact
    feature sum into ONE map-side-combinable groupBy(source) — the
    only shuffles are the rollup itself and countDistinct's two-level
    expansion; token counting and the classifier fold run scan-side.
    At 100 TB this is the cheapest query in the family: one pass,
    source-keyed partial aggregation."""
    docs = _tbl(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text", "n_chars"
    )
    q = text.with_quality_classifier(docs)
    return q.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.countDistinct(F.md5(F.col("text").cast("binary"))).alias("n_exact_unique"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_quality_keep"),
        F.countDistinct("lang").alias("n_langs"),
    )


# threshold grid k/4 for k in -8..8: the keep test 4·feat_sum > k·n_tokens
# is a PURE INT comparison — no float threshold ambiguity at any cutoff
_QSWEEP_KS = list(range(-8, 9))
_QSWEEP_GRID = ", ".join(f"({k})" for k in _QSWEEP_KS)

_QSWEEP_SQL = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(list_sum(list_transform(toks,
               tk -> strpos('0123456789abcdef', substring(md5('qw|' || tk), 1, 1)) - 8))
             AS BIGINT) AS feat_sum
      FROM t
    ),
    grid AS (SELECT * FROM (VALUES {_QSWEEP_GRID}) AS v(k))
    SELECT CAST(k AS BIGINT) AS k,
           CAST(k AS DOUBLE) / CAST(4 AS DOUBLE) AS threshold,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN 4 * feat_sum > k * n_tokens THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_kept,
           CAST(sum(CASE WHEN 4 * feat_sum > k * n_tokens THEN n_tokens ELSE 0 END)
                AS BIGINT) AS n_tokens_kept,
           CAST(sum(CASE WHEN 4 * feat_sum > k * n_tokens THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(count(*) AS DOUBLE) AS frac_docs_kept
    FROM s CROSS JOIN grid
    GROUP BY k
    """


@q("quality_threshold_sweep", _QSWEEP_SQL)
def quality_threshold_sweep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-cutoff selection curve (the FineWeb-Edu step: sweep
    the quality classifier's threshold and read off kept-token volume
    before committing a cutoff to a 100 TB filter run): per threshold
    k/4 over the linear score's full range, the kept doc count, kept
    TOKEN count, and kept fraction.  The keep test is the pure int
    comparison 4·feat_sum > k·n_tokens — no float threshold ambiguity
    at any cutoff (with_quality_classifier's sign-exact convention,
    generalized off zero).  ONE classifier pass (the audited
    with_quality_classifier fold), a 17-row constant grid broadcast,
    and a map-side-combinable grid-keyed aggregation."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    scored = text.with_quality_classifier(docs).select("n_tokens", "feat_sum")
    grid = spark.createDataFrame([(k,) for k in _QSWEEP_KS], "k long")
    kept = F.expr("4 * feat_sum > k * n_tokens")
    return (
        scored.crossJoin(F.broadcast(grid))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept.cast("long")).alias("n_docs_kept"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(F.lit(0))).alias(
                "n_tokens_kept"
            ),
            (
                F.sum(kept.cast("long")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("frac_docs_kept"),
        )
        .select(
            "k",
            (F.col("k").cast("double") / F.lit(4.0)).alias("threshold"),
            "n_docs",
            "n_docs_kept",
            "n_tokens_kept",
            "frac_docs_kept",
        )
    )


_DEDUP_SAVINGS_SQL = """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 4 = 0
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 20 = 0
    ),
    g AS (
      SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS c,
             CAST(max(len(string_split(text, ' '))) AS BIGINT) AS t
      FROM corpus GROUP BY 1
    )
    SELECT c AS n_copies, CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(sum(c - 1) AS BIGINT) AS n_dup_docs,
           CAST(sum(t) AS BIGINT) AS tokens_unique,
           CAST(sum((c - 1) * t) AS BIGINT) AS tokens_removed
    FROM g GROUP BY c
    """


@q("dedup_savings_report", _DEDUP_SAVINGS_SQL)
def dedup_savings_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact report — the copy-count histogram + token-savings
    accounting every dedup run publishes before anyone trusts it
    ("what fraction of the crawl was copies, and how many training
    tokens did collapsing them free"): per copy-count c, the number
    of content groups, total/duplicate doc counts, unique tokens
    kept, and tokens removed = Σ (c−1)·t.  The corpus plants a
    deterministic duplicate mix (every 4th doc republished once,
    every 20th twice — the web_corpus_pipeline mirror convention) so
    the histogram carries c ∈ {{1, 2, 3}} rows.  exact_dedup's plan
    shape: ONE groupBy on the 32-byte content hash with map-side
    partials (count/max travel, never text), then a tiny
    histogram-keyed agg — at 100 TB the report is a free rider on
    the dedup pass itself."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = (
        docs.unionByName(
            docs.filter(F.col("doc_id") % 4 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 20 == 0).select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
            )
        )
    )
    g = (
        corpus.select(
            F.md5(F.col("text").cast("binary")).alias("h"),
            F.size(F.split("text", " ")).cast("long").alias("t"),
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"), F.max("t").alias("t"))
    )
    return g.groupBy(F.col("c").alias("n_copies")).agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("c").alias("n_docs"),
        F.sum(F.col("c") - 1).alias("n_dup_docs"),
        F.sum("t").alias("tokens_unique"),
        F.sum((F.col("c") - 1) * F.col("t")).alias("tokens_removed"),
    )


@q("quality_classifier", _QCLS_SQL)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear quality classifier (operators/text.py
    with_quality_classifier) — the model-based filter stage after the
    heuristic ratios: per-token md5-nibble weights, exact int64 feature
    sum, sign-exact keep decision.  Swapping in trained weights keeps
    every plan shape."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return text.with_quality_classifier(docs).select(
        "doc_id", "n_tokens", "feat_sum", "lin_score", "keep"
    )


def _cms_sql(depth: int = 3, width: int = 16) -> str:
    """DuckDB twin of text.token_cms / cms_estimate: same md5-nibble
    bucket hash, same depth×width sketch, same min-estimator — bucket
    COLLISIONS replay bit-for-bit, so the overcount column is gated
    too (width 16 is deliberately small: collisions must occur for
    the min-estimator to be exercised)."""

    def md5u8(expr: str) -> str:
        h = f"md5({expr})"
        return " + ".join(
            f"(instr('0123456789abcdef', substring({h}, {i + 1}, 1)) - 1)"
            f" * {16 ** (7 - i)}"
            for i in range(8)
        )

    pos = md5u8("'cms' || CAST(sp.s AS VARCHAR) || '|' || tok")
    return f"""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok),
    rows_tok AS (
      SELECT sp.s AS salt, tok, ({pos}) % {width} AS pos, cnt
      FROM tc, (SELECT unnest(range(0, {depth})) AS s) sp
    ),
    cms AS (
      SELECT salt, pos, CAST(sum(cnt) AS BIGINT) AS bcnt
      FROM rows_tok GROUP BY salt, pos
    ),
    est AS (
      SELECT r.tok, CAST(min(c.bcnt) AS BIGINT) AS est_cnt
      FROM rows_tok r JOIN cms c ON r.salt = c.salt AND r.pos = c.pos
      GROUP BY r.tok
    )
    SELECT t.tok, t.cnt AS exact_cnt, e.est_cnt,
           CAST(e.est_cnt - t.cnt AS BIGINT) AS overcount
    FROM tc t JOIN est e ON t.tok = e.tok
    """


_LENQ_SQL = f"""
    WITH lens AS (
      SELECT source AS grp, CAST(len(string_split(text, ' ')) AS BIGINT) AS v
      FROM documents
    ),
    hist AS (
      SELECT grp, v // {text.HIST_BIN_WIDTH} AS bin, CAST(count(*) AS BIGINT) AS cnt
      FROM lens GROUP BY grp, v // {text.HIST_BIN_WIDTH}
    ),
    totals AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n FROM hist GROUP BY grp),
    cum AS (
      SELECT h.grp, h.bin, t.n,
             sum(h.cnt) OVER (PARTITION BY h.grp ORDER BY h.bin) AS cum
      FROM hist h JOIN totals t ON h.grp = t.grp
    ),
    est50 AS (
      SELECT grp, CAST((min(bin) + 1) * {text.HIST_BIN_WIDTH} AS BIGINT) AS est_p50
      FROM cum WHERE cum >= (n + 1) // 2 GROUP BY grp
    ),
    est90 AS (
      SELECT grp, CAST((min(bin) + 1) * {text.HIST_BIN_WIDTH} AS BIGINT) AS est_p90
      FROM cum WHERE cum >= (9 * n + 9) // 10 GROUP BY grp
    ),
    vcum AS (
      SELECT l.grp, l.v, t.n,
             sum(l.cnt) OVER (PARTITION BY l.grp ORDER BY l.v) AS cum
      FROM (SELECT grp, v, CAST(count(*) AS BIGINT) AS cnt
            FROM lens GROUP BY grp, v) l
      JOIN totals t ON l.grp = t.grp
    ),
    ex50 AS (
      SELECT grp, CAST(min(v) AS BIGINT) AS exact_p50
      FROM vcum WHERE cum >= (n + 1) // 2 GROUP BY grp
    ),
    ex90 AS (
      SELECT grp, CAST(min(v) AS BIGINT) AS exact_p90
      FROM vcum WHERE cum >= (9 * n + 9) // 10 GROUP BY grp
    )
    SELECT t.grp AS source, t.n AS n_docs,
           est50.est_p50, ex50.exact_p50, est90.est_p90, ex90.exact_p90
    FROM totals t
    JOIN est50 ON t.grp = est50.grp
    JOIN ex50 ON t.grp = ex50.grp
    JOIN est90 ON t.grp = est90.grp
    JOIN ex90 ON t.grp = ex90.grp
    """


@q("length_quantile_sketch", _LENQ_SQL)
def length_quantile_sketch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length quantiles from the HISTOGRAM sketch
    (operators/text.py length_histogram / histogram_quantile) next to
    the exact quantiles — the fourth relational sketch (distribution),
    the input shape of length-bucketed batch sizing: (grp, bin, cnt)
    rows, bounded and mergeable by bucket sum, with the quantile
    estimate read off the cumulative bins in pure integer arithmetic
    (engine-exact, hash-gated).  The exact side uses the identical
    smallest-value-reaching-ceil(q·n) rule so estimate vs truth
    differ only by the bin resolution — measured, not assumed."""
    from pyspark.sql import Window

    docs = _tbl(spark, sf_dir, "documents").select("source", "text")
    hist = materialize(text.length_histogram(docs, "source"))
    p50 = text.histogram_quantile(hist, 1, 2).withColumnRenamed("est", "est_p50")
    p90 = text.histogram_quantile(hist, 9, 10).withColumnRenamed("est", "est_p90")
    lens = docs.select(
        F.col("source").alias("grp"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("v"),
    )
    totals = lens.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
    vc = lens.groupBy("grp", "v").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("grp").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    vcum = vc.withColumn("cum", F.sum("cnt").over(w)).join(totals, "grp")
    ex50 = (
        vcum.filter(F.col("cum") >= F.expr("(n + 1) div 2"))
        .groupBy("grp")
        .agg(F.min("v").cast("long").alias("exact_p50"))
    )
    ex90 = (
        vcum.filter(F.col("cum") >= F.expr("(9 * n + 9) div 10"))
        .groupBy("grp")
        .agg(F.min("v").cast("long").alias("exact_p90"))
    )
    return (
        totals.select(F.col("grp"), F.col("n").cast("long").alias("n_docs"))
        .join(p50, "grp")
        .join(ex50, "grp")
        .join(p90, "grp")
        .join(ex90, "grp")
        .select(
            F.col("grp").alias("source"),
            "n_docs",
            "est_p50",
            "exact_p50",
            "est_p90",
            "exact_p90",
        )
    )


def _hll_sql(b: int = 4, alpha: str = "0.673") -> str:
    """DuckDB twin of text.token_hll_sketch / hll_estimate: same md5
    prefix hash, same bucket/rank split, same raw estimator.  The sum
    of ≤ 2^b dyadic terms spanning 33 bits is EXACT in IEEE double, so
    the estimate is bit-portable without ordering care."""
    m = 1 << b
    h = "md5('hll|' || tok)"
    val = " + ".join(
        f"(instr('0123456789abcdef', substring({h}, {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"""
    WITH toks AS (
      SELECT source AS grp, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    hv AS (SELECT grp, ({val}) AS h FROM toks),
    rb AS (SELECT grp, h % {m} AS bucket, h // {m} AS w FROM hv),
    sk AS (
      SELECT grp, bucket,
             CAST(max(CASE WHEN w = 0 THEN 29 ELSE 29 - length(bin(w)) END)
                  AS BIGINT) AS max_rho
      FROM rb GROUP BY grp, bucket
    ),
    est AS (
      SELECT grp,
             {alpha} * {float(m * m)!r} /
               (sum(power(2.0, -max_rho)) + CAST({m} - count(*) AS DOUBLE))
               AS hll_raw_est
      FROM sk GROUP BY grp
    ),
    ex AS (
      SELECT grp, CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct
      FROM toks GROUP BY grp
    )
    SELECT ex.grp AS source, ex.exact_distinct, est.hll_raw_est
    FROM ex JOIN est ON ex.grp = est.grp
    """


@q("hll_distinct_tokens", _hll_sql())
def hll_distinct_tokens_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-token cardinality via a relational
    HyperLogLog sketch (operators/text.py token_hll_sketch /
    hll_estimate) vs the exact count — the third sketch of the trio
    (Bloom membership, CMS frequency, HLL cardinality), all bounded
    mergeable TABLES: per-shard sketches combine by (group, bucket)
    max, the distinct-counter shape when per-group vocabularies don't
    fit.  The raw estimator itself is hash-gated (exact dyadic sums —
    see the oracle's docstring); Spark's approx_count_distinct is the
    same algorithm as an opaque binary sketch."""
    docs = _tbl(spark, sf_dir, "documents").select("source", "text")
    sk = text.token_hll_sketch(docs, "source")
    est = text.hll_estimate(sk)
    exact = (
        docs.select(
            F.col("source").alias("grp"),
            F.explode(F.split(F.col("text"), " ")).alias("tok"),
        )
        .groupBy("grp")
        .agg(F.countDistinct("tok").cast("long").alias("exact_distinct"))
    )
    return exact.join(est, "grp").select(
        F.col("grp").alias("source"), "exact_distinct", "hll_raw_est"
    )


@q("streaming_sketch_merge", _cms_sql())
def streaming_sketch_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CMS sketch built INCREMENTALLY by a real Structured
    Streaming pipeline — the shape a token counter actually runs at
    100 TB: documents arrive in 2 micro-batches through a file source,
    each batch sketches ONLY ITSELF inside ``foreachBatch`` and lands
    its bounded (salt, pos, cnt) table (overwriting its own batch-id
    subdir — idempotent under redelivery), and the final sketch is the
    one-operator merge (bucket sum) of the landed pieces.  Gated by
    the SAME oracle as the batch `token_cms_counts`: the stream-merged
    sketch must be bit-identical to sketching the whole corpus at
    once, which is the mergeability theorem the sketch family rests
    on — here proven end-to-end through a streaming engine, not just
    the unit test."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")

    def feed(reader, tmp):
        write_replay_chunks(docs, f"{tmp}/docs", order_col="doc_id", n_chunks=2)
        stream = reader.schema("doc_id long, text string").parquet(f"{tmp}/docs")
        return stream, text.token_cms

    merged = replay(spark, feed).groupBy("salt", "pos").agg(F.sum("cnt").alias("cnt"))
    toks = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    est = text.cms_estimate(merged, toks.select("tok"))
    return toks.join(est, "tok").select(
        "tok",
        F.col("exact_cnt").cast("long"),
        "est_cnt",
        (F.col("est_cnt") - F.col("exact_cnt")).cast("long").alias("overcount"),
    )


@q("token_cms_counts", _cms_sql())
def token_cms_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch token counting (operators/text.py token_cms /
    cms_estimate): a depth×width=3×16 sketch table — bounded and
    MERGEABLE by (salt, pos) sum, the streaming/multi-shard counter
    shape when the exact vocabulary doesn't fit — probed for every
    corpus token and compared against the exact count.  The width is
    deliberately smaller than the vocabulary so bucket collisions
    occur and the min-estimator does real work; the CMS guarantee
    (est ≥ exact, i.e. overcount ≥ 0) is hash-gated per token, and a
    unit test pins it as an invariant."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    cms = text.token_cms(docs)
    toks = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    est = text.cms_estimate(cms, toks.select("tok"))
    return toks.join(est, "tok").select(
        "tok",
        F.col("exact_cnt").cast("long"),
        "est_cnt",
        (F.col("est_cnt") - F.col("exact_cnt")).cast("long").alias("overcount"),
    )


def _gopher_ctes(src: str, id_col: str, text_col: str) -> str:
    """The Gopher hard-rule CTE chain over ``src(id_col, text_col)``,
    through ``gf(gid, n_tokens, n_distinct_stopwords, r_*, n_failed,
    keep)`` — parameterized so the same audited rule algebra gates both
    the documents-table `gopher_rules` row and compositions over
    DERIVED text (web_corpus_pipeline's crawl-extracted corpus)."""
    return f"""gt AS (SELECT {id_col} AS gid, {text_col} AS gtext,
                 string_split({text_col}, ' ') AS toks FROM {src}),
    gg AS (
      SELECT gid, gtext, toks,
             CASE WHEN len(toks) >= 2
                  THEN list_transform(generate_series(1, len(toks) - 1),
                       i -> list_extract(toks, i) || ' ' || list_extract(toks, i + 1))
                  ELSE [concat_ws(' ', toks)] END AS grams
      FROM gt
    ),
    gtok_rows AS (
      SELECT gid, unnest(toks) AS tok, generate_subscripts(toks, 1) AS idx FROM gt
    ),
    gruns AS (
      SELECT gid, tok,
             idx - ROW_NUMBER() OVER (PARTITION BY gid, tok ORDER BY idx) AS grp
      FROM gtok_rows
    ),
    grunlen AS (
      SELECT gid, CAST(count(*) AS BIGINT) AS rl FROM gruns GROUP BY gid, tok, grp
    ),
    gmaxrun AS (SELECT gid, max(rl) AS max_run_len FROM grunlen GROUP BY gid),
    gm AS (
      SELECT gg.gid,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             (length(gtext) - (len(toks) - 1)) / CAST(len(toks) AS DOUBLE) AS mwl,
             (length(gtext) - length(regexp_replace(gtext, '[#…]', '', 'g')))
               / CAST(len(toks) AS DOUBLE) AS symr,
             len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
               / CAST(len(toks) AS DOUBLE) AS alphaf,
             CAST(len(list_distinct(list_filter(toks,
                  x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))) AS BIGINT)
               AS n_distinct_stopwords,
             list_max(list_transform(list_distinct(grams),
                      x -> len(list_filter(grams, y -> y = x))))
               / CAST(len(grams) AS DOUBLE) AS topg,
             mr.max_run_len
      FROM gg JOIN gmaxrun mr ON gg.gid = mr.gid
    ),
    gf AS (
      SELECT gid, n_tokens, n_distinct_stopwords,
             (n_tokens >= 50 AND n_tokens <= 100000) AS r_word_count,
             (mwl >= 3.0 AND mwl <= 10.0) AS r_mean_word_len,
             (symr <= 0.1) AS r_symbol_ratio,
             (alphaf >= 0.8) AS r_alpha_words,
             (n_distinct_stopwords >= 2) AS r_stopwords,
             (topg <= 0.2) AS r_top_bigram,
             (max_run_len <= 4) AS r_max_run
      FROM gm
    )"""


_GOPHER_SQL = f"""
    WITH {_gopher_ctes("documents", "doc_id", "text")}
    SELECT gid AS doc_id, n_tokens, n_distinct_stopwords,
           r_word_count, r_mean_word_len, r_symbol_ratio, r_alpha_words,
           r_stopwords, r_top_bigram, r_max_run,
           CAST((CASE WHEN r_word_count THEN 0 ELSE 1 END)
              + (CASE WHEN r_mean_word_len THEN 0 ELSE 1 END)
              + (CASE WHEN r_symbol_ratio THEN 0 ELSE 1 END)
              + (CASE WHEN r_alpha_words THEN 0 ELSE 1 END)
              + (CASE WHEN r_stopwords THEN 0 ELSE 1 END)
              + (CASE WHEN r_top_bigram THEN 0 ELSE 1 END)
              + (CASE WHEN r_max_run THEN 0 ELSE 1 END) AS BIGINT) AS n_failed,
           (r_word_count AND r_mean_word_len AND r_symbol_ratio AND r_alpha_words
            AND r_stopwords AND r_top_bigram AND r_max_run) AS keep
    FROM gf
    """


# Multi-line document synthesis for the line-level boilerplate pass:
# site chrome planted at corpus scale (a cookie banner on EVERY page,
# a subscribe call on half) around each doc's unique content line and
# a unique footer — both engines derive the same lines, so the gate
# pins the REMOVAL RULE, not the fixture.
_ML_DOC_SYNTH = (
    "concat('Cookie notice: we use cookies', chr(10), "
    "text, chr(10), "
    "CASE WHEN doc_id % 2 = 0 THEN concat('Subscribe to our newsletter', chr(10)) ELSE '' END, "
    "'Article footer ', CAST(doc_id AS STRING))"
)

_BP_MIN_DF = 3


# the boilerplate-removal CTE chain over the multiline synth, through
# bpclean(doc_id, clean_text, n_lines, n_removed) — shared by the
# boilerplate_line_removal oracle and curation_pipeline
_BOILER_CLEAN_CTES = f"""ml AS (SELECT doc_id, {_ML_DOC_SYNTH} AS t FROM documents),
    blines AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ls)),
               i -> struct_pack(pos := i, line := ls[i]))) AS s
      FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM ml)
    ),
    l2 AS (
      SELECT doc_id, s.pos AS pos, s.line AS line,
             md5(trim(s.line)) AS lk
      FROM blines
    ),
    bflag AS (
      SELECT lk FROM (
        SELECT lk, count(DISTINCT doc_id) AS df FROM l2 GROUP BY lk
      ) WHERE df >= {_BP_MIN_DF}
    ),
    bpclean AS (
      SELECT l2.doc_id,
             COALESCE(array_to_string(
               list(l2.line ORDER BY l2.pos) FILTER (WHERE f.lk IS NULL),
               chr(10)), '') AS clean_text,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(count(f.lk) AS BIGINT) AS n_removed
      FROM l2 LEFT JOIN bflag f USING (lk)
      GROUP BY l2.doc_id
    )"""


@q(
    "boilerplate_line_removal",
    f"""
    WITH {_BOILER_CLEAN_CTES}
    SELECT doc_id, clean_text, n_lines, n_removed FROM bpclean
    """,
)
def boilerplate_line_removal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency LINE removal (operators/text.py
    boilerplate_line_removal) — the RefinedWeb/Falcon boilerplate
    pass: any trim-normalized line appearing in ≥ {_BP_MIN_DF}
    distinct documents is site chrome and is cut everywhere, lines
    reassembled in order.  The fixture plants a cookie banner on every
    page and a subscribe call on half; each doc's content line and
    footer are unique and must SURVIVE — removal counts, survivor
    text, and order are all value-gated.  Complements dup_span_removal
    (token spans) with the corpus-frequency rule production pipelines
    run first."""
    docs = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn("t", F.expr(_ML_DOC_SYNTH))
    )
    return text.boilerplate_line_removal(
        docs.select("doc_id", F.col("t").alias("text")), min_doc_freq=_BP_MIN_DF
    )


_CURATION_BUDGET = 9_000


@q(
    "curation_pipeline",
    f"""
    WITH {_BOILER_CLEAN_CTES},
    cln AS (
      SELECT doc_id, replace(clean_text, chr(10), ' ') AS text FROM bpclean
    ),
    {_jm_score_ctes("cln")},
    interp AS (
      SELECT doc_id,
             CAST(sum(({_JM_LAM_NUM} * s_bg + {_JM_LAM_DEN - _JM_LAM_NUM} * s_uni)
                      // {_JM_LAM_DEN}) AS BIGINT) AS score
      FROM sc GROUP BY doc_id
    ),
    seld AS (
      SELECT i.doc_id, i.score,
             CAST(len(string_split(c.text, ' ')) AS BIGINT) AS n_tokens
      FROM interp i JOIN cln c USING (doc_id)
    ),
    cum AS (
      SELECT doc_id, score, n_tokens,
             sum(n_tokens) OVER (ORDER BY score DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cume
      FROM seld
    )
    SELECT doc_id, score, n_tokens,
           CAST(cume - n_tokens AS BIGINT) AS cum_tokens_before
    FROM cum WHERE cume - n_tokens < {_CURATION_BUDGET}
    """,
)
def curation_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CURATION stack composed end-to-end (the round-9 theme:
    composition depth): corpus-frequency boilerplate removal → JM
    interpolated LM scoring OVER THE CLEANED TEXT → quality-ranked
    token-budget selection — clean, score, keep-the-best-N-tokens, the
    exact sequence a production curation pass runs between ingest and
    training.  Each stage is individually driver-gated
    (boilerplate_line_removal / interpolated_lm_score /
    quality_budget_select); this row attests their COMPOSITION —
    scoring sees the POST-cleaning token stream (banner lines removed
    before the LM ever counts them), the budget counts CLEANED tokens,
    and the boundary doc is value-hash-pinned end to end.  Docs left
    with < 2 tokens after cleaning are unscoreable and do not compete
    for budget (the bigram_lm_score convention — the oracle's inner
    join agrees).  Scale shape: every stage keeps its audited plan
    (two-level line-md5 aggs, vocabulary-keyed joins, ≤ 257-bucket
    two-phase budget rank); composition adds joins on doc_id only."""
    docs = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn("t", F.expr(_ML_DOC_SYNTH))
    )
    clean = text.boilerplate_line_removal(
        docs.select("doc_id", F.col("t").alias("text")), min_doc_freq=_BP_MIN_DF
    )
    # r13 (guide §2.4): the cleaned corpus feeds the JM scorer (which
    # consumes it once more internally for the corpus LM) AND the token
    # counter — uncut, the two-level line-md5 boilerplate aggregation
    # replayed per consumer.  This is the "cleaned dataset" stage write
    # of a production pass; the build is on the bench clock, so the
    # eager cut is too.  The scorer's vocabulary side stays
    # broadcastable — the cut is on the corpus (big) side, so no
    # join-strategy flip (the interpolated_lm_score trap).
    cln = clean.select(
        "doc_id",
        F.regexp_replace(F.col("clean_text"), "\n", " ").alias("text"),
    ).transform(materialize)
    imp = text.interpolated_lm_score(
        cln, lam_num=_JM_LAM_NUM, lam_den=_JM_LAM_DEN
    ).select("doc_id", F.col("sum_interp_scaled").alias("score"))
    toks = cln.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    # load-bearing materialization (the llm_pipeline lesson):
    # quality_budget_select references its input four times (stats row,
    # range-bucket keying, bucket counts, final join) — without the cut
    # the boilerplate+LM lineage re-executes per reference (measured
    # 86 s -> 21 s at 25x)
    scored = materialize(imp.join(toks, "doc_id"))
    return sampling.quality_budget_select(
        scored, _CURATION_BUDGET, "score"
    ).select("doc_id", "score", "n_tokens", "cum_tokens_before")


@q("gopher_rules", _GOPHER_SQL)
def gopher_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style hard rule filter (operators/text.py
    with_gopher_rules — Rae et al. 2021 §A1.1): word-count band, mean
    word length band, symbol ratio, alpha-word fraction, ≥2 distinct
    stopwords, top-bigram share, max same-token run — per-rule boolean
    flags (the auditable reject-reason convention), failed-rule count,
    and the conjunctive keep verdict.  Published thresholds; on this
    corpus the word-count and stopword rules discriminate (277/500 and
    317/500 pass at sf0.01), the rest attest the clean synthetic text.
    Pure Column folds over the shared token/repetition machinery — no
    UDF, no shuffle, linear in corpus tokens."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    out = text.with_gopher_rules(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_distinct_stopwords",
        "r_word_count",
        "r_mean_word_len",
        "r_symbol_ratio",
        "r_alpha_words",
        "r_stopwords",
        "r_top_bigram",
        "r_max_run",
        "n_failed",
        "keep",
    )


# Deterministic multi-line page synthesis for the C4 filter — one SQL
# snippet that parses IDENTICALLY in Spark and DuckDB (concat / substr
# / CASE / % / greatest / length / chr(10) are common syntax), so both
# engines derive the same pages and the gate pins the FILTER, not the
# fixture.  Six lines per page, each a char-offset slice of the doc's
# text with (doc_id, j)-keyed variation: terminal punctuation ./!/?/
# none (j%4 — the no-punct lines fail C4's terminal rule), slice
# length 10..60 chars (the 10-char lines fail the >=5-words rule), an
# injected ' javascript' token every 11th (doc,line) (line-drop rule),
# plus doc-level trailer lines: 'lorem ipsum' every 17th doc, a curly
# brace every 19th, a badword every 23rd (page-drop rules).
def _c4_line(j: int) -> str:
    return (
        "concat(substr(text, 1 + ((doc_id * 13 + {j} * 37) % "
        "greatest(length(text) - 30, 1)), 10 + ((doc_id + {j}) % 6) * 10), "
        "CASE WHEN (doc_id * 7 + {j}) % 11 = 0 THEN ' javascript' ELSE '' END, "
        "CASE (doc_id + {j}) % 4 WHEN 0 THEN '.' WHEN 1 THEN '!' "
        "WHEN 2 THEN '?' ELSE '' END)"
    ).format(j=j)


_C4_SYNTH = (
    "concat("
    + ", chr(10), ".join(_c4_line(j) for j in range(6))
    + ", CASE WHEN doc_id % 17 = 0 THEN concat(chr(10), "
    "'lorem ipsum dolor sit amet consectetur.') ELSE '' END"
    ", CASE WHEN doc_id % 19 = 3 THEN concat(chr(10), "
    "'config = { key: value } and some words here.') ELSE '' END"
    ", CASE WHEN doc_id % 23 = 5 THEN concat(chr(10), "
    "'this line has badword1 in it today friends.') ELSE '' END"
    # punctuation-adjacent multi-word phrase plant (ADVICE r11): the
    # phrase 'blue pill' is followed by a period and preceded by a
    # doubled space — exactly the shapes the literal-space matcher
    # missed before the [^a-z0-9]+ normalization
    ", CASE WHEN doc_id % 29 = 7 THEN concat(chr(10), "
    "'so he took  the blue pill. end of that story today.') ELSE '' END"
    ")"
)

_C4_SQL = f"""
    WITH syn AS (SELECT doc_id, {_C4_SYNTH} AS txt FROM documents),
    kept AS (
      SELECT doc_id, txt,
             CAST(len(string_split(txt, chr(10))) AS BIGINT) AS n_lines,
             list_filter(string_split(txt, chr(10)),
               l -> (right(l, 1) = '.' OR right(l, 1) = '!' OR right(l, 1) = '?'
                     OR right(l, 1) = '"' OR right(l, 1) = '”')
                    AND len(string_split(l, ' ')) >= 5
                    AND NOT contains(lower(l), 'javascript')) AS ks
      FROM syn
    ),
    asm AS (
      SELECT doc_id, txt, n_lines,
             CAST(len(ks) AS BIGINT) AS n_kept_lines,
             array_to_string(ks, chr(10)) AS clean
      FROM kept
    ),
    feat AS (
      SELECT doc_id, n_lines, n_kept_lines,
             CAST(len(regexp_split_to_array(clean, '[.!?]')) - 1 AS BIGINT)
               AS n_sentences,
             (contains(concat(' ', regexp_replace(lower(txt), '[^a-z0-9]+', ' ', 'g'), ' '), ' badword1 ')
              OR contains(concat(' ', regexp_replace(lower(txt), '[^a-z0-9]+', ' ', 'g'), ' '), ' badword2 ')
              OR contains(concat(' ', regexp_replace(lower(txt), '[^a-z0-9]+', ' ', 'g'), ' '), ' blue pill ')) AS has_badword,
             contains(lower(txt), 'lorem ipsum') AS has_lorem,
             contains(txt, '{{') AS has_brace,
             CAST(length(clean) AS BIGINT) AS clean_len,
             md5(clean) AS clean_md5
      FROM asm
    )
    SELECT doc_id, n_lines, n_kept_lines, n_sentences, has_badword, has_lorem,
           has_brace, clean_len, clean_md5,
           (NOT has_badword AND NOT has_lorem AND NOT has_brace
            AND n_sentences >= 3) AS keep
    FROM feat
    """


@q("c4_filters", _C4_SQL)
def c4_filters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning rules (operators/text.py with_c4_filters — Raffel
    et al. 2020 §2.2) over synthesized multi-line pages: terminal-
    punctuation line keep, >=5-words-per-line, javascript line drop,
    badword/lorem-ipsum/curly-brace page drops, and the >=3-sentences
    page rule applied to the line-filtered text — per-rule flags, the
    kept-line reassembly value-pinned by clean_md5, and the
    conjunctive keep verdict.  Completes the published-filter family
    (Gopher rules, CCNet tiers, C4).  Pure let-bound Column folds on
    the scan — no UDF, no shuffle; at 100 TB this is a free rider on
    the ingest pass, exactly where C4 runs it."""
    docs = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn("text", F.expr(_C4_SYNTH))
    )
    # the multi-word entry exercises the normalized phrase path
    # against the punctuation-adjacent plant (ADVICE r11)
    out = text.with_c4_filters(
        docs, badwords=(*text.C4_BADWORDS, "blue pill")
    )
    return out.select(
        "doc_id",
        "n_lines",
        "n_kept_lines",
        "n_sentences",
        "has_badword",
        "has_lorem",
        "has_brace",
        "clean_len",
        "clean_md5",
        "keep",
    )


# Deterministic host synthesis for the blocklist filter — portable SQL
# (concat / CASE / % / lower), giving ~120 distinct hosts with varied
# subdomain depth (2–5 labels) and TLD so suffix matching at every
# level is exercised.
# (the subdomain key mixes in length(text) because doc_id mod 4 is
# CONSTANT within a source in the testdata — an affine doc_id key
# would give every source exactly one subdomain shape)
_BLOCKLIST_HOST_SYNTH = """
    lower(concat(
      CASE (doc_id + length(text)) % 4 WHEN 0 THEN 'ads.' WHEN 1 THEN 'blog.'
           WHEN 2 THEN '' ELSE 'cdn.media.' END,
      source,
      CASE doc_id % 3 WHEN 0 THEN '.example.com' WHEN 1 THEN '.example.org'
           ELSE '.example.net' END))"""

# (entry, category) fixture: one exact deep host, one mid-level
# subdomain entry, one registrable-level entry (blocks every subdomain
# of src2.example.org), one suffix entry below the registrable level
# ('example.net' blocks every *.example.net host), one that matches
# nothing, and an OVERLAP — 'cdn.media.src2.example.org' hosts match
# both the deep 'media.src2.example.org' entry and the registrable
# 'src2.example.org' entry, pinning longest-match attribution.
_BLOCKLIST_ENTRIES = (
    ("ads.src1.example.com", "ads"),
    ("media.src3.example.com", "tracker"),
    ("media.src2.example.org", "tracker"),
    ("src2.example.org", "adult"),
    ("example.net", "malware"),
    ("src9.example.xyz", "spam"),
)
_BLOCKLIST_SQL_ROWS = ", ".join(
    f"('{e}', '{c}')" for e, c in _BLOCKLIST_ENTRIES
)

_DOMAIN_BLOCKLIST_SQL = f"""
    WITH bl AS (SELECT * FROM (VALUES {_BLOCKLIST_SQL_ROWS}) AS v(entry, category)),
    hosts AS (SELECT doc_id, {_BLOCKLIST_HOST_SYNTH} AS host FROM documents),
    cand AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(string_split(host, '.'))),
               i -> array_to_string(list_slice(string_split(host, '.'), i,
                    len(string_split(host, '.'))), '.'))) AS suffix
      FROM hosts
    ),
    hits AS (
      SELECT doc_id, entry AS matched_entry, category,
             CAST(ml AS BIGINT) AS match_labels
      FROM (
        SELECT c.doc_id, b.entry, b.category,
               len(string_split(c.suffix, '.')) AS ml,
               row_number() OVER (PARTITION BY c.doc_id
                    ORDER BY len(string_split(c.suffix, '.')) DESC,
                             b.entry DESC, b.category DESC) AS rn
        FROM cand c JOIN bl b ON c.suffix = b.entry
      ) WHERE rn = 1
    )
    SELECT h.doc_id, h.host, m.matched_entry, m.category, m.match_labels,
           m.matched_entry IS NOT NULL AS blocked
    FROM hosts h LEFT JOIN hits m USING (doc_id)
    """


@q("domain_blocklist_filter", _DOMAIN_BLOCKLIST_SQL)
def domain_blocklist_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hostname-blocklist filtering with parent-domain suffix matching
    (operators/web.py domain_blocklist_filter) — the UT1/RefinedWeb
    adult-and-ads gate: a URL is blocked when its host or ANY
    label-boundary parent domain is listed; overlapping entries
    attribute by LONGEST match via one struct-max (entry and category
    always come from the same winning row — ADVICE r10).  The fixture
    plants
    exact-host, mid-level, registrable-level, and below-registrable
    entries plus an overlap pair, so every precedence rung is
    value-pinned.  Scale shape: bounded (~label-count) suffix explode,
    ONE plain equi-join on the suffix key (UT1-scale lists are corpus-
    cardinality — never force-broadcast; AQE upgrades small lists),
    id-keyed argmax, left join back."""
    docs = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .withColumn("host", F.expr(_BLOCKLIST_HOST_SYNTH))
        .drop("source", "text")
    )
    bl = spark.createDataFrame(
        list(_BLOCKLIST_ENTRIES), "entry string, category string"
    )
    out = web.domain_blocklist_filter(docs, bl)
    return out.select(
        "doc_id", "host", "matched_entry", "category", "match_labels", "blocked"
    )


_KMV_K = 64

_KMV_OVERLAP_SQL = f"""
    WITH toks AS (SELECT source AS g, string_split(text, ' ') AS toks FROM documents),
    shl AS (
      SELECT g,
             CASE WHEN len(toks) >= 3
                  THEN list_transform(generate_series(1, len(toks) - 2),
                       i -> list_extract(toks, i) || ' ' ||
                            list_extract(toks, i + 1) || ' ' ||
                            list_extract(toks, i + 2))
                  ELSE [concat_ws(' ', toks)] END AS sh
      FROM toks
    ),
    sh AS (SELECT DISTINCT g, md5(s) AS h
           FROM (SELECT g, unnest(sh) AS s FROM shl)),
    sig AS (SELECT g, h FROM (
      SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM sh
    ) WHERE rn <= {_KMV_K}),
    grp AS (SELECT DISTINCT g FROM sh),
    pairs AS (SELECT a.g AS src_a, b.g AS src_b FROM grp a JOIN grp b ON a.g < b.g),
    u AS (
      SELECT src_a, src_b, h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
        SELECT p.src_a, p.src_b, s.h, 1 AS in_a, 0 AS in_b
        FROM pairs p JOIN sig s ON s.g = p.src_a
        UNION ALL
        SELECT p.src_a, p.src_b, s.h, 0 AS in_a, 1 AS in_b
        FROM pairs p JOIN sig s ON s.g = p.src_b
      ) GROUP BY 1, 2, 3
    ),
    bk AS (SELECT * FROM (
      SELECT *, row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn
      FROM u
    ) WHERE rn <= {_KMV_K}),
    est AS (
      SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS k_eff,
             CAST(sum(in_a * in_b) AS BIGINT) AS n_common_sig
      FROM bk GROUP BY 1, 2
    ),
    sizes AS (SELECT g, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
    inter AS (
      SELECT a.g AS src_a, b.g AS src_b, CAST(count(*) AS BIGINT) AS n_exact_inter
      FROM sh a JOIN sh b ON a.h = b.h AND a.g < b.g GROUP BY 1, 2
    )
    SELECT e.src_a, e.src_b, e.k_eff, e.n_common_sig,
           CAST(e.n_common_sig AS DOUBLE) / CAST(e.k_eff AS DOUBLE) AS est_jaccard,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           COALESCE(i.n_exact_inter, 0) AS n_exact_inter,
           CAST(COALESCE(i.n_exact_inter, 0) AS DOUBLE)
             / CAST(sa.n_sh + sb.n_sh - COALESCE(i.n_exact_inter, 0) AS DOUBLE)
             AS exact_jaccard,
           abs(CAST(e.n_common_sig AS DOUBLE) / CAST(e.k_eff AS DOUBLE)
               - CAST(COALESCE(i.n_exact_inter, 0) AS DOUBLE)
                 / CAST(sa.n_sh + sb.n_sh - COALESCE(i.n_exact_inter, 0) AS DOUBLE))
             AS est_abs_err
    FROM est e
    JOIN sizes sa ON sa.g = e.src_a
    JOIN sizes sb ON sb.g = e.src_b
    LEFT JOIN inter i ON i.src_a = e.src_a AND i.src_b = e.src_b
    """


@q("corpus_overlap_minhash", _KMV_OVERLAP_SQL)
def corpus_overlap_minhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap estimation with a bottom-k (KMV) sketch
    (operators/dedup.py corpus_overlap_kmv) — the cross-dump /
    cross-dataset contamination audit run before choosing mixture
    weights: per source, the 64 smallest md5 shingle hashes; per pair,
    the bottom-k rule over the union, with EXACT intersection/union
    counts riding along so the sketch's error is value-pinned (the
    ann_recall convention).  Scale shape: one map-side-combinable
    distinct over (source, hash); two-phase bottom-k (256 prefix-
    bucket windows, then ≤256·k survivors) so no corpus-scale
    single-task window; everything downstream is (sources² × k)-
    bounded.  The exact audit is one equi-join on the hash key."""
    docs = _tbl(spark, sf_dir, "documents").select("source", "text")
    return dedup.corpus_overlap_kmv(docs, k=_KMV_K, shingle_n=3)


# the streamed twin attests the SAME oracle: the block decision is
# row-pure given the static list, so union-of-batches == whole-frontier
@q("streaming_blocklist_filter", _DOMAIN_BLOCKLIST_SQL)
def streaming_blocklist_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist filtering as a REAL Structured Streaming
    pipeline — how a fetch frontier is actually policed: discovered
    URLs arrive continuously and each micro-batch is suffix-joined
    against the static blocklist before anything is fetched (the
    stream-static join shape of incremental_dedup, with the batch
    operator unchanged inside ``foreachBatch`` — one code path for
    both modes).  The ~120-host frontier arrives through a 3-file
    parquet stream one file per micro-batch; every batch explodes
    suffixes, joins the list, and appends its verdicts idempotently
    (batch-id-owned overwrite).  The decision is row-pure given the
    static list, so the STREAMED verdict table attests against the
    SAME oracle as batch `domain_blocklist_filter` — the crawl
    family's streaming proof.  Per-batch state is zero."""

    def feed(reader, tmp):
        hosts = (
            _tbl(spark, sf_dir, "documents")
            .select("doc_id", "source", "text")
            .withColumn("host", F.expr(_BLOCKLIST_HOST_SYNTH))
            .select("doc_id", "host")
        )
        # 3 files (was 4): micro-batch fixed cost (~1 s planning + join +
        # write each) dominates this twin, and 3 batches prove the
        # union-of-batches ≡ whole-corpus property exactly as 4 did —
        # the per-row verdict is row-pure given the static list, so the
        # output is batch-partitioning-independent (r13, guide §1/§2;
        # the streaming_recrawl_schedule 5→3 precedent).
        hosts.repartition(3).write.mode("overwrite").parquet(f"{tmp}/frontier")
        bl = spark.createDataFrame(
            list(_BLOCKLIST_ENTRIES), "entry string, category string"
        )
        stream = reader.schema("doc_id long, host string").parquet(f"{tmp}/frontier")
        return stream, lambda b: web.domain_blocklist_filter(b, bl).select(
            "doc_id", "host", "matched_entry", "category", "match_labels", "blocked"
        )

    return replay(spark, feed)


_LINE_DEDUP_SQL = f"""
    WITH syn AS (SELECT doc_id, {_C4_SYNTH} AS txt FROM documents),
    ln AS (
      SELECT doc_id,
             unnest(string_split(txt, chr(10))) AS line,
             CAST(generate_subscripts(string_split(txt, chr(10)), 1) - 1 AS BIGINT)
               AS line_idx
      FROM syn
    ),
    flag AS (
      SELECT doc_id, line_idx, line,
             row_number() OVER (PARTITION BY md5(line)
                                ORDER BY doc_id, line_idx) AS rn
      FROM ln
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN rn = 1 THEN line END, chr(10)
                               ORDER BY line_idx), '') AS clean_text
    FROM flag GROUP BY doc_id
    """


@q("line_dedup", _LINE_DEDUP_SQL)
def line_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma-style line/paragraph exact dedup (operators/dedup.py
    line_dedup) over the C4 multi-line pages: keep the globally first
    occurrence of each distinct line, reassemble the survivors —
    span_dedup's sibling with NATURAL newline boundaries, the pass
    that strips repeated boilerplate paragraphs (the fixture's
    lorem/brace/badword trailer lines recur across every 17th/19th/
    23rd page and collapse to one global keeper each).  Same
    mega-bucket-proof shape as span_dedup: groupBy(line-hash) min-
    coords, no window over the hash, text only on distributed keys."""
    docs = (
        _tbl(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn("text", F.expr(_C4_SYNTH))
    )
    return dedup.line_dedup(docs)


_QUALITY_ENSEMBLE_SQL = f"""
    WITH {_jm_score_ctes("documents")},
    interp AS (
      SELECT doc_id,
             CAST(sum(({_JM_LAM_NUM} * s_bg + {_JM_LAM_DEN - _JM_LAM_NUM} * s_uni)
                      // {_JM_LAM_DEN}) AS BIGINT) AS score
      FROM sc GROUP BY doc_id
    ),
    qn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM interp),
    qr AS (
      SELECT *, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk
      FROM interp
    ),
    qt AS (
      SELECT doc_id,
             CASE WHEN (rk - 1) * 3 < n THEN 'head'
                  WHEN (rk - 1) * 3 < 2 * n THEN 'middle'
                  ELSE 'tail' END AS tier
      FROM qr CROSS JOIN qn
    ),
    gop AS (SELECT doc_id, keep AS gopher_keep FROM ({_GOPHER_SQL}) g),
    c4f AS (SELECT doc_id, keep AS c4_keep FROM ({_C4_SQL}) c)
    SELECT q.doc_id, g.gopher_keep, c.c4_keep, q.tier,
           CAST(CAST(g.gopher_keep AS INT) + CAST(c.c4_keep AS INT)
                + CAST(q.tier <> 'tail' AS INT) AS BIGINT) AS n_pass,
           (g.gopher_keep AND c.c4_keep AND q.tier <> 'tail') AS keep
    FROM qt q JOIN gop g USING (doc_id) JOIN c4f c USING (doc_id)
    """


@q("quality_filter_ensemble", _QUALITY_ENSEMBLE_SQL)
def quality_filter_ensemble_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stacked published-filter gate as ONE attested row — what a
    production curation pipeline actually applies before mixing:
    Gopher hard rules (Rae et al.) AND C4 line/page rules (Raffel et
    al.) AND the CCNet tercile tier (Wenzek et al., tail dropped),
    with per-filter verdicts and the pass count kept so every
    rejection is attributable to its paper (the auditable
    reject-reason convention, now across filters instead of within
    one).  Each leg reuses its audited operator unchanged
    (with_gopher_rules / with_c4_filters / JM scoring +
    with_global_rank terciles); the ensemble is two doc-keyed
    equi-joins.  Conjunction is the published composition —
    RefinedWeb/FineWeb stack exactly these families."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    gop = text.with_gopher_rules(docs).select(
        "doc_id", F.col("keep").alias("gopher_keep")
    )
    c4 = text.with_c4_filters(
        docs.withColumn("text", F.expr(_C4_SYNTH)),
        badwords=(*text.C4_BADWORDS, "blue pill"),
    ).select("doc_id", F.col("keep").alias("c4_keep"))
    # the JM-scored corpus feeds with_global_rank's two phases AND the
    # count — cut the lineage once (curation_pipeline's load-bearing
    # cut; unmaterialized, the bigram scorer re-runs per consumer)
    scored = text.interpolated_lm_score(
        docs, lam_num=_JM_LAM_NUM, lam_den=_JM_LAM_DEN
    ).select("doc_id", F.col("sum_interp_scaled").alias("score")).transform(materialize)
    total = scored.agg(F.count(F.lit(1)).alias("_n"))
    tiers = (
        sampling.with_global_rank(scored, "score", out_col="_rk")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN (_rk - 1) * 3 < _n THEN 'head' "
                "WHEN (_rk - 1) * 3 < 2 * _n THEN 'middle' "
                "ELSE 'tail' END"
            ).alias("tier"),
        )
    )
    out = tiers.join(gop, "doc_id").join(c4, "doc_id")
    return out.select(
        "doc_id",
        "gopher_keep",
        "c4_keep",
        "tier",
        (
            F.col("gopher_keep").cast("int")
            + F.col("c4_keep").cast("int")
            + (F.col("tier") != "tail").cast("int")
        )
        .cast("long")
        .alias("n_pass"),
        (
            F.col("gopher_keep")
            & F.col("c4_keep")
            & (F.col("tier") != "tail")
        ).alias("keep"),
    )


# the component oracles read `FROM documents`; the funnel applies them
# to the duplicate-planted corpus, so each embedded copy is retargeted
# to the fun_corpus CTE (exactly one source reference per component —
# asserted at import so a component refactor can't silently split it)
def _retarget(sql: str) -> str:
    assert sql.count("FROM documents") == 1, "funnel retarget drifted"
    return sql.replace("FROM documents", "FROM fun_corpus")


_FUNNEL_SQL = f"""
    WITH fun_corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, text
      FROM documents WHERE doc_id % 4 = 0
    ),
    lng AS (SELECT doc_id, effective_lang FROM ({_retarget(_lang_conf_sql())}) l),
    gop AS (SELECT doc_id, keep AS gopher_keep FROM ({_retarget(_GOPHER_SQL)}) g),
    qc AS (SELECT doc_id, keep AS q_keep FROM ({_retarget(_QCLS_SQL)}) q),
    flags AS (
      SELECT d.doc_id,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
             md5(d.text) AS h,
             (l.effective_lang <> 'und') AS k1,
             (l.effective_lang <> 'und' AND g.gopher_keep) AS k2,
             (l.effective_lang <> 'und' AND g.gopher_keep AND q.q_keep) AS k3
      FROM fun_corpus d
      JOIN lng l USING (doc_id) JOIN gop g USING (doc_id)
      JOIN qc q USING (doc_id)
    ),
    keep3 AS (SELECT h, min(doc_id) AS keeper FROM flags WHERE k3 GROUP BY h),
    fin AS (
      SELECT f.*, (f.k3 AND f.doc_id = k.keeper) AS k4
      FROM flags f LEFT JOIN keep3 k ON f.h = k.h
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS d0, CAST(sum(n_tokens) AS BIGINT) AS t0,
             CAST(sum(CASE WHEN k1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             CAST(sum(CASE WHEN k1 THEN n_tokens ELSE 0 END) AS BIGINT) AS t1,
             CAST(sum(CASE WHEN k2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
             CAST(sum(CASE WHEN k2 THEN n_tokens ELSE 0 END) AS BIGINT) AS t2,
             CAST(sum(CASE WHEN k3 THEN 1 ELSE 0 END) AS BIGINT) AS d3,
             CAST(sum(CASE WHEN k3 THEN n_tokens ELSE 0 END) AS BIGINT) AS t3,
             CAST(sum(CASE WHEN COALESCE(k4, false) THEN 1 ELSE 0 END) AS BIGINT) AS d4,
             CAST(sum(CASE WHEN COALESCE(k4, false) THEN n_tokens ELSE 0 END) AS BIGINT) AS t4
      FROM fin
    )
    SELECT CAST(stage AS BIGINT) AS stage, name, docs_kept, tokens_kept FROM (
      SELECT 0 AS stage, 'ingest' AS name, d0 AS docs_kept, t0 AS tokens_kept FROM agg
      UNION ALL SELECT 1, 'lang_confident', d1, t1 FROM agg
      UNION ALL SELECT 2, 'gopher_rules', d2, t2 FROM agg
      UNION ALL SELECT 3, 'quality_classifier', d3, t3 FROM agg
      UNION ALL SELECT 4, 'exact_dedup', d4, t4 FROM agg
    )
    """


@q("curation_funnel", _FUNNEL_SQL)
def curation_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-stage ATTRITION FUNNEL a production curation run
    publishes (the FineWeb/Dolma reporting convention — every paper's
    table 1): docs and tokens surviving each SEQUENTIAL gate —
    ingest → confidence-gated language ID → Gopher hard rules →
    quality classifier → exact dedup — where each stage applies to the
    PREVIOUS stage's survivors (the ensemble row attests the parallel
    per-filter verdicts; this attests the serialized pipeline view,
    and the dedup keeper is elected among stage-3 survivors only).
    The corpus plants the every-4th-doc republication mix so the dedup
    stage visibly bites.  One pass per component operator (each
    individually audited), one doc-keyed join each, one keyless agg,
    5 constant rows out — at 100 TB the funnel is a free rider on the
    gates a curation run executes anyway."""
    docs0 = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    # republication ids live above max(doc_id) (ADVICE r11: a constant
    # +1e6 offset collides with real ids once a scaled corpus exceeds
    # 10^6 docs, silently fanning out every doc_id join below); the
    # offset is a 1-row broadcast, and min(doc_id) keeper election
    # still picks the ORIGINAL copy
    off = docs0.agg((F.max("doc_id") + F.lit(1)).alias("_off"))
    corpus = docs0.unionByName(
        docs0.filter(F.col("doc_id") % 4 == 0)
        .crossJoin(F.broadcast(off))
        .select((F.col("doc_id") + F.col("_off")).alias("doc_id"), "text")
    )
    lng = text.with_lang_confidence(corpus).select("doc_id", "effective_lang")
    gop = text.with_gopher_rules(corpus).select(
        "doc_id", F.col("keep").alias("gopher_keep")
    )
    qc = text.with_quality_classifier(corpus).select(
        "doc_id", F.col("keep").alias("q_keep")
    )
    flags = (
        corpus.join(lng, "doc_id")
        .join(gop, "doc_id")
        .join(qc, "doc_id")
        .select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
            F.md5(F.col("text").cast("binary")).alias("h"),
            (F.col("effective_lang") != "und").alias("k1"),
            (
                (F.col("effective_lang") != "und") & F.col("gopher_keep")
            ).alias("k2"),
            (
                (F.col("effective_lang") != "und")
                & F.col("gopher_keep")
                & F.col("q_keep")
            ).alias("k3"),
        )
    )
    # r14 (§2.4): flags feeds BOTH the keeper election and the final
    # join — uncut, the whole three-kernel (lang/gopher/quality) join
    # tree computes twice (the k3 filter pushes into the keeper branch,
    # so the subtrees diverge and AQE stage reuse cannot absorb the
    # replay).  The table is NARROW (id, n_tokens, h, three booleans —
    # no text), exactly the "persist keys, not payloads" shape; at
    # production scale it is the per-doc verdict table a curation run
    # publishes anyway.
    flags = materialize(flags, eager=False)
    keepers = (
        flags.filter("k3").groupBy("h").agg(F.min("doc_id").alias("_keeper"))
    )
    fin = flags.join(keepers, "h", "left").withColumn(
        "k4", F.col("k3") & (F.col("doc_id") == F.col("_keeper"))
    )
    agg = fin.agg(
        F.count(F.lit(1)).cast("long").alias("d0"),
        F.sum("n_tokens").cast("long").alias("t0"),
        *[
            c
            for i in (1, 2, 3)
            for c in (
                F.sum(F.col(f"k{i}").cast("long")).cast("long").alias(f"d{i}"),
                F.sum(F.when(F.col(f"k{i}"), F.col("n_tokens")).otherwise(0))
                .cast("long")
                .alias(f"t{i}"),
            )
        ],
        F.sum(F.coalesce(F.col("k4"), F.lit(False)).cast("long"))
        .cast("long")
        .alias("d4"),
        F.sum(
            F.when(F.coalesce(F.col("k4"), F.lit(False)), F.col("n_tokens"))
            .otherwise(0)
        )
        .cast("long")
        .alias("t4"),
    )
    names = ["ingest", "lang_confident", "gopher_rules",
             "quality_classifier", "exact_dedup"]
    stack_args = ", ".join(
        f"CAST({i} AS BIGINT), '{n}', d{i}, t{i}" for i, n in enumerate(names)
    )
    return agg.selectExpr(
        f"stack(5, {stack_args}) AS (stage, name, docs_kept, tokens_kept)"
    )


_WEB_CORPUS_BUDGET = 2_000


@q(
    "web_corpus_pipeline",
    f"""
    WITH {_URL_CANON_CTES},
    {_CRAWL_EX_CTES},
    exm AS (
      SELECT canonical_url, extracted FROM ex
      UNION ALL
      SELECT concat('https://mirror-', canonical_url), extracted FROM ex
      WHERE substr(md5(extracted), 1, 1) IN ('0', '1', '2', '3')
    ),
    exd AS (
      SELECT md5(extracted) AS text_md5,
             min(canonical_url) AS url,
             CAST(count(*) AS BIGINT) AS n_text_copies
      FROM exm GROUP BY md5(extracted)
    ),
    corpus AS (
      SELECT d.url, d.text_md5, d.n_text_copies, e.extracted
      FROM exd d JOIN (
        SELECT DISTINCT canonical_url, extracted FROM exm
      ) e ON e.canonical_url = d.url
    ),
    {_gopher_ctes("corpus", "url", "extracted")},
    kept AS (
      SELECT c.url, c.text_md5, c.n_text_copies,
             f.n_tokens, f.n_distinct_stopwords
      FROM corpus c JOIN gf f ON f.gid = c.url
      WHERE f.r_word_count AND f.r_mean_word_len AND f.r_symbol_ratio
        AND f.r_alpha_words AND f.r_stopwords AND f.r_top_bigram
        AND f.r_max_run
    ),
    bud AS (
      SELECT *, sum(n_tokens) OVER (ORDER BY n_distinct_stopwords DESC, url
                                    ROWS UNBOUNDED PRECEDING) AS cum
      FROM kept
    )
    SELECT url, text_md5, n_text_copies, n_tokens, n_distinct_stopwords,
           CAST(cum - n_tokens AS BIGINT) AS cum_tokens_before
    FROM bud WHERE cum - n_tokens < {_WEB_CORPUS_BUDGET}
    """,
)
def web_corpus_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE web-to-training-corpus flow in ONE attested row — the
    capstone joining the crawl family to the curation family: raw
    WARC-shaped dump → record parse + dead-letter drop → canonical-URL
    keeper dedup → HTML→text on keepers only → TEXT-level exact dedup
    (one keeper per distinct extracted text, min-URL — different URLs
    serving identical content collapse here, the step URL dedup cannot
    do — exercised by a planted MIRROR host republishing the ~quarter
    of pages whose text-md5 starts 0-3: each collapses to its original
    min-URL keeper with n_text_copies = 2, value-hash-pinned) → Gopher
    hard-rule quality gate (the full audited rule algebra,
    parameterized over the DERIVED text) → quality-ranked token-budget
    selection (score = distinct-stopword count on the exact int grid,
    budget {_WEB_CORPUS_BUDGET} tokens, boundary doc kept).
    crawl_pipeline attests dump→text and curation_pipeline attests
    clean→score→select over the documents table; THIS row attests the
    splice — the corpus entering curation is the crawl's OUTPUT.
    Scale shape: each stage keeps its audited plan (scan-side
    extraction once per unique page, 32-byte keys in the dedup
    shuffles, pure-Column rule folds, two-phase budget rank — no
    one-task window)."""
    # r13 §2.4/§5: the dump→parse→keeper→HTML→text chain below fed FOUR
    # downstream consumers (the mirror branch, the text-md5 groupBy, the
    # extracted join-back, and through them the budget rank) with no
    # materialization — the before-plan re-read the dump text 80 times
    # across 180 Exchanges (plans/r13/web_corpus_pipeline_before.txt).
    # One materialize runs the extraction regex ONCE; this is the
    # "extracted corpus" stage write a production pipeline does anyway.
    ex = (
        _crawl_extracted(spark, sf_dir, "fw_webcorpus_")
        .select("canonical_url", "extracted")
        .transform(materialize)
    )
    mirrored = ex.filter(
        F.expr("substr(md5(extracted), 1, 1) IN ('0', '1', '2', '3')")
    ).select(
        F.concat(F.lit("https://mirror-"), F.col("canonical_url")).alias(
            "canonical_url"
        ),
        "extracted",
    )
    exm = ex.unionByName(mirrored)
    # ONE aggregation replaces the old groupBy + DISTINCT + join-back:
    # within a text_md5 group every `extracted` is byte-identical (it IS
    # the group key's preimage), so min(extracted) is exactly the value
    # the old equi-join on the min-URL keeper recovered — the corpus
    # text now crosses one exchange instead of two (guide §2.3/§2.4).
    corpus = exm.groupBy(F.md5(F.col("extracted")).alias("text_md5")).agg(
        F.min("canonical_url").alias("url"),
        F.count(F.lit(1)).cast("long").alias("n_text_copies"),
        F.min("extracted").alias("extracted"),
    )
    gop = text.with_gopher_rules(corpus, text_col="extracted")
    # narrow (url, md5, 3 ints) table consumed by the budget rank's
    # three passes + the final join — checkpoint instead of re-running
    # the Gopher rule folds per consumer
    kept = gop.filter(F.col("keep")).select(
        "url", "text_md5", "n_text_copies", "n_tokens", "n_distinct_stopwords"
    ).transform(materialize)
    sel = sampling.quality_budget_select(
        kept,
        _WEB_CORPUS_BUDGET,
        score_col="n_distinct_stopwords",
        tokens_col="n_tokens",
        id_col="url",
    )
    return sel.join(
        kept.select("url", "text_md5", "n_text_copies"), "url"
    ).select(
        "url",
        "text_md5",
        "n_text_copies",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct_stopwords").cast("long").alias("n_distinct_stopwords"),
        "cum_tokens_before",
    )


@q("bpe_merge_k3", _bpe_k_sql(3))
def bpe_merge_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE rounds of BPE merging — tokenizer induction, not one
    primitive (VERDICT r5 #5): each round argmaxes the previous
    round's bigram counts and greedily applies the merge; total merge
    count + final text per doc.  The oracle is the single-round SQL
    textually iterated three times (same WITH chain, prefixed), so
    every intermediate round is replayed too."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return text.bpe_merge_k(docs, k=3)


def _cell_bal_sql() -> str:
    val, _ = _split_val_and_case({"x": 1.0})
    return f"""
    WITH {_IVF_CELLS_CTES},
    cells AS (SELECT vec_id, centroid_id FROM ranked WHERE rk = 1),
    c AS (SELECT centroid_id, count(*) AS cnt FROM cells GROUP BY centroid_id),
    t AS (SELECT min(cnt) AS target FROM c),
    r AS (
      SELECT centroid_id, CAST(target AS DOUBLE) / CAST(cnt AS DOUBLE) AS rate
      FROM c CROSS JOIN t
    ),
    hh AS (
      SELECT vec_id, centroid_id,
             md5('cellbal|' || CAST(vec_id AS VARCHAR)) AS h
      FROM cells
    ),
    u AS (SELECT vec_id, centroid_id, ({val}) / 4294967296.0 AS uv FROM hh)
    SELECT u.vec_id, u.centroid_id
    FROM u JOIN r USING (centroid_id) WHERE uv < r.rate
    """


@q("cluster_balanced_sample", _cell_bal_sql())
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space diversity sampling: assign every vector to its
    IVF cell, then downsample each cell to the SMALLEST cell's size
    (operators/sampling.py rebalance_groups over similarity.ivf_assign)
    — the cluster-balanced selection step data-curation pipelines use
    to keep semantic coverage while shrinking a corpus (dense regions
    are pruned hardest).  Plan: O(k) centroid broadcast × one corpus
    scan for assignment, a cells-sized count join (broadcast), and the
    stateless md5 filter — no extra corpus shuffle."""
    emb = _tbl(spark, sf_dir, "embeddings")
    cents = similarity.ivf_centroids(emb, k=_IVF_K)
    cells = similarity.ivf_assign(emb, cents).select("vec_id", "centroid_id")
    return sampling.rebalance_groups(
        cells, strata_col="centroid_id", id_col="vec_id", salt="cellbal"
    ).select("vec_id", "centroid_id")


def _incr_side_ctes(
    prefix: str,
    doc_src: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = dedup.MAX_BUCKET,
) -> str:
    """Signature → band → capped-bucket CTE chain for one side of the
    incremental dedup, with prefixed CTE names so two sides coexist in
    one WITH clause.  Mirrors operators/dedup.py incremental_dedup's
    banded() exactly (same shingles, salted-md5 minhash, band hashes,
    per-bucket caps ordered by doc_id)."""
    rows = num_hashes // bands
    idx = " || ' ' || ".join(
        f"list_extract(toks, i + {k})" for k in range(shingle_n)
    )
    mins = ",\n             ".join(
        f"list_min(list_transform(sh, s -> md5(concat('{j}|', s)))) AS m{j}"
        for j in range(num_hashes)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, md5(concat_ws('|', "
        + ", ".join(f"m{b * rows + r}" for r in range(rows))
        + f")) AS band_hash FROM {prefix}sigs"
        for b in range(bands)
    )
    capped = (
        f"""SELECT doc_id, band_idx, band_hash FROM (
        SELECT doc_id, band_idx, band_hash,
               ROW_NUMBER() OVER (PARTITION BY band_idx, band_hash ORDER BY doc_id) AS rn
        FROM {prefix}bands
      ) WHERE rn <= {max_bucket}"""
        if max_bucket is not None
        # cap-free pass-through (mirrors banded_capped(max_bucket=None))
        else f"SELECT doc_id, band_idx, band_hash FROM {prefix}bands"
    )
    return f"""
    {prefix}toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM {doc_src}),
    {prefix}sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= {shingle_n}
                  THEN list_transform(generate_series(1, len(toks) - {shingle_n - 1}), i -> {idx})
                  ELSE [concat_ws(' ', toks)] END AS sh
      FROM {prefix}toks
    ),
    {prefix}sigs AS (SELECT doc_id, {mins} FROM {prefix}sh),
    {prefix}bands AS ({band_selects}),
    {prefix}capped AS ({capped})"""


_INCR_FRAC = 0.8
_INCR_THRESHOLD = 0.5


def _incr_dedup_sql(cap_new: bool = True) -> str:
    """cap_new=False mirrors incremental_dedup_indexed(cap_new=False):
    the new side bands WITHOUT a per-bucket cap (the index side keeps
    its build-time cap) — required for the streamed form, whose
    per-micro-batch cap would keep different survivors than a
    whole-set cap once a new-side bucket exceeds max_bucket."""
    val, _ = _split_val_and_case({"x": 1.0})
    return f"""
    WITH hsp AS (
      SELECT doc_id, text, md5('incr|' || CAST(doc_id AS VARCHAR)) AS h FROM documents
    ),
    usp AS (SELECT doc_id, text, ({val}) / 4294967296.0 AS uv FROM hsp),
    idxd AS (SELECT doc_id, text FROM usp WHERE uv < {_INCR_FRAC!r}),
    newd AS (SELECT doc_id, text FROM usp WHERE uv >= {_INCR_FRAC!r}),
    {_incr_side_ctes("n_", "newd", max_bucket=dedup.MAX_BUCKET if cap_new else None)},
    {_incr_side_ctes("i_", "idxd")},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM n_capped a JOIN i_capped b USING (band_idx, band_hash)
    ),
    vsh AS (
      SELECT doc_id, list_distinct(sh) AS vs FROM n_sh
      UNION ALL
      SELECT doc_id, list_distinct(sh) AS vs FROM i_sh
    ),
    ver AS (
      SELECT c.doc_a,
             len(list_intersect(a.vs, b.vs)) /
               CAST(len(a.vs) + len(b.vs) - len(list_intersect(a.vs, b.vs)) AS DOUBLE) AS jaccard
      FROM cand c
      JOIN vsh a ON a.doc_id = c.doc_a
      JOIN vsh b ON b.doc_id = c.doc_b
    ),
    pn AS (
      SELECT doc_a AS doc_id, CAST(count(*) AS BIGINT) AS n_candidates,
             CAST(sum(CASE WHEN jaccard >= {_INCR_THRESHOLD!r} THEN 1 ELSE 0 END) AS BIGINT) AS n_dups
      FROM ver GROUP BY doc_a
    ),
    im AS (SELECT DISTINCT md5(text) AS content_md5 FROM idxd),
    ex AS (
      SELECT n.doc_id, (im.content_md5 IS NOT NULL) AS is_exact_dup
      FROM (SELECT doc_id, md5(text) AS content_md5 FROM newd) n
      LEFT JOIN im USING (content_md5)
    )
    SELECT ex.doc_id, ex.is_exact_dup,
           CAST(COALESCE(pn.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(pn.n_dups, 0) AS BIGINT) AS n_dups,
           ((NOT ex.is_exact_dup) AND COALESCE(pn.n_dups, 0) = 0) AS kept
    FROM ex LEFT JOIN pn USING (doc_id)
    """


@q("incremental_dedup", _incr_dedup_sql())
def incremental_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-corpus-vs-index dedup (operators/dedup.py incremental_dedup):
    the corpus splits 80/20 by md5-uniform draw into an "already
    ingested" index and a "new batch"; each new doc reports exact-dup
    and verified-near-dup status against the index only — the daily
    ingest shape where the index never re-joins itself."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    u = docs.withColumn("_u", sampling._hash_uniform("doc_id", "incr"))
    idx = u.filter(F.col("_u") < _INCR_FRAC).drop("_u")
    new = u.filter(F.col("_u") >= _INCR_FRAC).drop("_u")
    return dedup.incremental_dedup(new, idx, threshold=_INCR_THRESHOLD)


# cap_new=False in BOTH the Spark path and the oracle: with the new
# side uncapped (the static index keeps its build-time cap, so pair
# count stays ≤ bands × max_bucket per new doc), every new doc's
# verdict is a pure function of (its text, the static index) with no
# cross-new-doc coupling — THAT is what makes the union of per-batch
# outputs reproduce the whole-batch answer bit-for-bit, which this
# parity query asserts.  A capped new side would break it: the
# per-micro-batch cap keeps up to max_bucket survivors PER BATCH where
# the whole-set cap keeps max_bucket total (round-6 review finding).
@q("streaming_incremental_dedup", _incr_dedup_sql(cap_new=False))
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest dedup as a REAL Structured Streaming pipeline —
    the stream-static production shape: new documents arrive through a
    file source in 2 micro-batches; each batch runs
    `incremental_dedup_indexed` against the STATIC precomputed index
    inside ``foreachBatch`` and APPENDS its verdicts to parquet (the
    nightly-verdict table a crawler pipeline actually lands).  The
    returned DataFrame reads the written verdicts back, so the gate
    attests the streamed artifact against the same DuckDB oracle as the
    batch forms."""

    def feed(reader, tmp):
        docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
        u = docs.withColumn("_u", sampling._hash_uniform("doc_id", "incr"))
        # the static side: materialized once, reused by every micro-batch
        idx_docs = materialize(u.filter(F.col("_u") < _INCR_FRAC).drop("_u"))
        index = materialize(dedup.build_dedup_index(idx_docs))
        new = u.filter(F.col("_u") >= _INCR_FRAC).drop("_u")
        write_replay_chunks(new, f"{tmp}/new", order_col="doc_id", n_chunks=2)
        stream = reader.schema("doc_id long, text string").parquet(f"{tmp}/new")
        return stream, lambda b: dedup.incremental_dedup_indexed(
            b,
            index,
            idx_docs,
            threshold=_INCR_THRESHOLD,
            cap_new=False,  # see the oracle note above the decorator
        )

    return replay(spark, feed)


# Same oracle as incremental_dedup ON PURPOSE: the stored-index form is
# defined by returning bit-identical answers to the stateless form (the
# i_* CTE chain IS the index build, written once in the WITH clause; the
# n_*/cand/ver chain is the per-batch replay).  The Spark side exercises
# the different plan: index rows come from build_dedup_index's output,
# only the new batch is hashed, and the index corpus text is touched
# solely through the candidate semi-join.
@q("incremental_dedup_indexed", _incr_dedup_sql())
def incremental_dedup_indexed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest dedup against a PRECOMPUTED (doc_id, band_idx,
    band_hash, content_md5) index table (VERDICT r5 #4) — the per-batch
    cost is O(new + candidates); the index side is never re-hashed."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    u = docs.withColumn("_u", sampling._hash_uniform("doc_id", "incr"))
    idx_docs = u.filter(F.col("_u") < _INCR_FRAC).drop("_u")
    new = u.filter(F.col("_u") >= _INCR_FRAC).drop("_u")
    # the operator's contract says `index` is a precomputed TABLE; the
    # materialized index is the in-session stand-in for that stored
    # artifact — without it every downstream consumer (candidate join,
    # md5 set, Bloom bits) re-runs the full minhash build (the 25×
    # probe measured the redundancy directly)
    index = materialize(dedup.build_dedup_index(idx_docs))
    return dedup.incremental_dedup_indexed(
        new, index, idx_docs, threshold=_INCR_THRESHOLD
    )


def _index_roll_sql() -> str:
    """Full-rebuild oracle for the incremental index roll: the gate IS
    the statement that update(build(A), B) == build(A ∪ B) — the
    oracle simply builds the whole index from all documents (capped
    bands + md5-carrier rows), and the Spark side must land on it
    bit-for-bit through the incremental path."""
    return f"""
    WITH {_minhash_sig_sql(12, 3, "documents")},
    {_minhash_bands_sql(12, 4)},
    capped AS (
      SELECT doc_id, band_idx, band_hash FROM (
        SELECT doc_id, band_idx, band_hash,
               ROW_NUMBER() OVER (PARTITION BY band_idx, band_hash
                    ORDER BY doc_id) AS rn
        FROM bands
      ) WHERE rn <= {dedup.MAX_BUCKET}
    ),
    allrows AS (
      SELECT doc_id, band_idx, band_hash FROM capped
      UNION ALL
      SELECT doc_id, -1 AS band_idx, NULL AS band_hash FROM documents
    )
    SELECT a.doc_id, CAST(a.band_idx AS BIGINT) AS band_idx,
           COALESCE(a.band_hash, '') AS band_hash,
           md5(d.text) AS content_md5
    FROM allrows a JOIN documents d ON a.doc_id = d.doc_id
    """


@q("dedup_index_roll", _index_roll_sql())
def dedup_index_roll_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly dedup-index maintenance (operators/dedup.py
    update_dedup_index): merge the day's batch into the STORED band
    index and re-cap — only the batch is hashed, and the result must
    equal a full rebuild from the union corpus BIT-FOR-BIT, which is
    exactly what the oracle checks (it rebuilds from scratch; the
    Spark side rolls incrementally).  The cap algebra that makes the
    incremental form exact — cap(cap(A) ∪ B) == cap(A ∪ B) for a
    lowest-ids cap — is additionally pinned by a forced-eviction unit
    test."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    u = docs.withColumn("_u", sampling._hash_uniform("doc_id", "incr"))
    idx_docs = u.filter(F.col("_u") < _INCR_FRAC).drop("_u")
    new = u.filter(F.col("_u") >= _INCR_FRAC).drop("_u")
    index = materialize(dedup.build_dedup_index(idx_docs))
    rolled = dedup.update_dedup_index(index, new)
    return rolled.select(
        "doc_id",
        F.col("band_idx").cast("long").alias("band_idx"),
        F.coalesce(F.col("band_hash"), F.lit("")).alias("band_hash"),
        "content_md5",
    )


_BLOOM_M = 1 << 18
_BLOOM_K = 2


# Same oracle AGAIN on purpose: a Bloom prefilter has no false
# negatives, so the bloom path is DEFINED by returning bit-identical
# verdicts to the unfiltered indexed form — the hash gate proves
# exactly that (the whole point of the prefilter being a prefilter).
@q("incremental_dedup_bloom", _incr_dedup_sql())
def incremental_dedup_bloom_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored-index daily-ingest dedup with the partitioned-Bloom
    prefilter engaged (operators/dedup.py bloom_prefilter_bands —
    VERDICT r6 #3): new-side banded rows whose (band_idx, band_hash)
    provably isn't in the index skip the candidate join via two chained
    broadcast semi-joins on Bloom bit positions.  At 100 TB the typical
    crawl batch is mostly novel content, so most rows short-circuit
    here; the set-bit table is bounded by k×m rows whatever the index
    size.  Measured sf0.01 row reduction in SCALE.md."""
    docs = _tbl(spark, sf_dir, "documents").select("doc_id", "text")
    u = docs.withColumn("_u", sampling._hash_uniform("doc_id", "incr"))
    idx_docs = u.filter(F.col("_u") < _INCR_FRAC).drop("_u")
    new = u.filter(F.col("_u") >= _INCR_FRAC).drop("_u")
    # stored-table stand-in, same as incremental_dedup_indexed_q: the
    # bloom path reads the index THREE times (bits build + candidate
    # join + md5 set) — unmaterialized, that tripled the linear index
    # build and drove the 25× probe to slope 0.93
    index = materialize(dedup.build_dedup_index(idx_docs))
    return dedup.incremental_dedup_indexed(
        new,
        index,
        idx_docs,
        threshold=_INCR_THRESHOLD,
        bloom_m=_BLOOM_M,
        bloom_k=_BLOOM_K,
    )


@q(
    "multimodal_meta",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS payload_md5
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing: opaque payload bytes + typed
    metadata (byte length, checksum).  The payload here is utf-8 text
    standing in for image/audio bytes; decode/resize stay behind
    sources.multimodal stubs."""
    docs = _tbl(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("payload_md5"),
    )


_AUDIO_CHUNK = 64


def _audio_sql(chunk: int = _AUDIO_CHUNK, src: str = "documents") -> str:
    """BYTE-accurate PCM oracle: the payload is the UTF-8 BYTES of the
    text (what Spark's text.cast('binary') produces), read through
    hex(encode(text)) — two hex chars per byte — NOT through character
    positions (ascii/substr on text counts CODEPOINTS, which diverges
    from the byte stream on any non-ASCII document — round-6 review)."""
    hexd = "0123456789ABCDEF"  # DuckDB hex() emits uppercase

    def byte(k: str) -> str:  # 0-based byte index expr -> unsigned int expr
        return (
            f"((strpos('{hexd}', substr(hx, 2 * ({k}) + 1, 1)) - 1) * 16"
            f" + strpos('{hexd}', substr(hx, 2 * ({k}) + 2, 1)) - 1)"
        )

    lo = byte("2 * (start_sample + j)")
    hi = byte("2 * (start_sample + j) + 1")
    return f"""
    WITH a AS (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) // 2 AS n_total
      FROM {src}
    ),
    ch AS (
      SELECT media_id, hx, n_total, u.i AS chunk_idx,
             u.i * {chunk} AS start_sample,
             LEAST({chunk}, n_total - u.i * {chunk}) AS n_samples
      FROM a, unnest(generate_series(0,
             CAST((n_total + {chunk} - 1) // {chunk} AS BIGINT) - 1)) AS u(i)
      WHERE n_total > 0
    ),
    s AS (
      SELECT media_id, chunk_idx, start_sample, n_samples,
             list_sum(list_transform(generate_series(0, n_samples - 1), j ->
               POWER(CASE WHEN ({lo} + 256 * {hi}) >= 32768
                          THEN ({lo} + 256 * {hi}) - 65536
                          ELSE ({lo} + 256 * {hi}) END, 2)
             )) AS sum_sq
      FROM ch
    )"""


_AUDIO_SQL = _audio_sql() + """
    SELECT media_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(start_sample AS BIGINT) AS start_sample,
           CAST(n_samples AS BIGINT) AS n_samples,
           CAST(start_sample * 2 AS BIGINT) AS byte_off,
           CAST(n_samples * 2 AS BIGINT) AS byte_len,
           CAST(sum_sq AS BIGINT) AS sum_sq,
           sqrt(CAST(sum_sq AS DOUBLE) / CAST(n_samples AS DOUBLE)) AS rms
    FROM s
    """


@q("audio_chunks", _AUDIO_SQL)
def audio_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunk/feature extraction (sources/multimodal.py
    audio_chunks) over the documents' bytes as raw little-endian int16
    PCM: fixed 64-sample chunks with exact sample/byte offsets, exact
    int64 energy and a bit-portable rms.  The oracle replays the byte
    pairing and signed decode from the text characters — proving the
    Arrow audio path's VALUES end to end, like multimodal_decode does
    for images."""
    from .sources.multimodal import audio_chunks

    docs = _tbl(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
    )
    return audio_chunks(media, chunk_samples=_AUDIO_CHUNK)


def _audio_fp_sql() -> str:
    """Energy-contour audio fingerprint oracle: the byte-decoded chunk
    chain (`_audio_sql`, src=media with planted duplicate crawls) →
    per-clip energy profile → 64 resampled rise/fall bits (exact
    cross-multiplied int comparisons) → the shared hamming tail."""
    bits = []
    for i in range(1, dedup.AUDIO_FP_BITS + 1):
        a = f"(1 + (({i} - 1) * (len(ch) - 1)) // {dedup.AUDIO_FP_BITS})"
        bits.append(
            f"CASE WHEN list_extract(ch, {a}).ss * list_extract(ch, {a} + 1).n < "
            f"list_extract(ch, {a} + 1).ss * list_extract(ch, {a}).n "
            "THEN '1' ELSE '0' END"
        )
    chain = _audio_sql(src="media").strip()
    assert chain.startswith("WITH ")
    inner = chain[len("WITH ") :]
    return f"""
    WITH media AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_PHASH_COPY_OFFSET}, text FROM documents
      WHERE doc_id % {_PHASH_COPY_MOD} = 0
    ),
    {inner},
    prof AS (
      SELECT media_id AS doc_id,
             list(struct_pack(ss := CAST(sum_sq AS BIGINT),
                              n := CAST(n_samples AS BIGINT))
                  ORDER BY chunk_idx) AS ch
      FROM s GROUP BY media_id
    ),
    sh AS (SELECT doc_id, concat({", ".join(bits)}) AS simhash
           FROM prof WHERE len(ch) >= 2),
    {_hamming_pairs_tail("sh")}
    """


@q("audio_fingerprint_dedup", _audio_fp_sql())
def audio_fingerprint_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs (operators/dedup.py
    audio_fingerprint_pairs) — the audio member of the multimodal
    dedup family, completing the modality triangle (text SimHash,
    image dHash, audio energy contour): real int16-PCM chunk energies
    (the audio_chunks Arrow stage), resampled to a fixed 64-bit
    duration-invariant rise/fall fingerprint, paired through the SAME
    hamming banding as the other modalities.  Every 7th doc
    re-ingested as a duplicate crawl (see _PHASH_COPY_MOD) so the
    collapse rows are attestable."""
    docs = _tbl(spark, sf_dir, "documents")
    pay = F.col("text").cast("binary")
    media = docs.select(
        F.col("doc_id").alias("media_id"), pay.alias("payload")
    ).unionByName(
        docs.filter(F.col("doc_id") % _PHASH_COPY_MOD == 0).select(
            (F.col("doc_id") + _PHASH_COPY_OFFSET).alias("media_id"),
            pay.alias("payload"),
        )
    )
    return dedup.audio_fingerprint_pairs(media, chunk_samples=_AUDIO_CHUNK)


@q(
    "multimodal_decode",
    """
    WITH h AS (
      SELECT doc_id AS media_id, sha256(text) AS content_sha,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    )
    SELECT media_id, 'text' AS kind,
           320 + (((instr('0123456789abcdef', substring(content_sha, 1, 1)) - 1) * 16
                   + instr('0123456789abcdef', substring(content_sha, 2, 1)) - 1) % 4) * 160 AS width,
           240 + (((instr('0123456789abcdef', substring(content_sha, 3, 1)) - 1) * 16
                   + instr('0123456789abcdef', substring(content_sha, 4, 1)) - 1) % 4) * 120 AS height,
           n_bytes, content_sha
    FROM h
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInPandas media-decode stage (P2 plumbing) run over the
    documents table as opaque binary payloads.  The deterministic fake
    decoder derives pseudo-dims from the payload sha256; the oracle
    replays the exact byte arithmetic from the hex digest — proving the
    Arrow batch path end-to-end, not just the schema."""
    from .sources.multimodal import decode_media

    docs = _tbl(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        F.lit(None).cast("int").alias("meta_width"),
        F.lit(None).cast("int").alias("meta_height"),
    )
    out = decode_media(media)
    return out.select(
        "media_id", "kind",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "n_bytes", "content_sha",
    )


# ===========================================================================
# Group C — relational parity-plus (SURVEY.md §2.6): joins, top-k,
# grouping sets, set ops, as-of/range joins, windows
# ===========================================================================

# Spark 4 reads the testdata's TIMESTAMP(NANOS) parquet as
# TIMESTAMP_NTZ (micros, truncated) — same wall-clock semantics as
# DuckDB's TIMESTAMP, so literal/interval comparisons align exactly.
_SHIP_CUTOFF = "1998-09-02 00:00:00"


@q(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS count_order,
           SUM(l_quantity) AS sum_qty,
           CAST(SUM(CAST(floor(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT) AS sum_base_cents,
           CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 100.0) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
           SUM(l_quantity) / COUNT(*) AS avg_qty
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary.  Money sums on floor-scaled
    cents (exact int64); qty values are integral doubles (exact sums);
    the date filter is pushed to the parquet scan."""
    li = _tbl(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit(_SHIP_CUTOFF).cast("timestamp_ntz")
    )
    cents = F.floor(F.col("l_extendedprice") * 100.0).cast("long")
    charge = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * (F.lit(1.0) + F.col("l_tax")) * 100.0
    ).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("count_order"),
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(cents).alias("sum_base_cents"),
            F.sum(charge).alias("sum_charge_cents"),
            (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
        )
    )


@q(
    "revenue_by_nation",
    """
    SELECT n.n_name, r.r_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(floor(o.o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema rollup with explicitly broadcast dimensions — at
    100 TB the fact table never shuffles for these joins."""
    o = _tbl(spark, sf_dir, "orders")
    c = F.broadcast(_tbl(spark, sf_dir, "customer"))
    n = F.broadcast(_tbl(spark, sf_dir, "nation"))
    r = F.broadcast(_tbl(spark, sf_dir, "region"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100.0).cast("long")).alias(
                "revenue_cents"
            ),
        )
    )


@q(
    "top_orders_per_customer",
    """
    WITH ranked AS (
      SELECT o_custkey, o_orderkey,
             CAST(floor(o_totalprice * 100.0) AS BIGINT) AS totalprice_cents,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rank
      FROM orders
    )
    SELECT o_custkey, o_orderkey, totalprice_cents, rank FROM ranked WHERE rank <= 3
    """,
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-k per group with a unique tie-break."""
    o = _tbl(spark, sf_dir, "orders")
    out = joins.topk_per_group(
        o, "o_custkey", [F.desc("o_totalprice"), F.asc("o_orderkey")], k=3
    )
    return out.select(
        "o_custkey",
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100.0).cast("long").alias("totalprice_cents"),
        "rank",
    )


@q(
    "grouping_sets_counts",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
           COALESCE(l_linestatus, 'ALL') AS lstatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           SUM(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def grouping_sets_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS rollup (free from Spark SQL, absent in the
    reference — SURVEY.md §2.4 note)."""
    li = _tbl(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_li_gs")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
               COALESCE(l_linestatus, 'ALL') AS lstatus,
               COUNT(*) AS n_items,
               SUM(l_quantity) AS sum_qty
        FROM _li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@q(
    "cube_rollup_counts",
    """
    SELECT COALESCE(event_type, 'ALL') AS etype,
           COALESCE(CAST(user_id % 5 AS VARCHAR), 'ALL') AS ubucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(floor(value * 10000.0) AS BIGINT)) AS BIGINT) AS sum_scaled
    FROM events
    GROUP BY CUBE (event_type, CAST(user_id % 5 AS VARCHAR))
    """,
)
def cube_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (all 4 grouping combinations) — with
    grouping_sets_counts this completes the grouping-family surface the
    reference lacks (SURVEY.md §2.4 note)."""
    ev = _tbl(spark, sf_dir, "events")
    ev = ev.withColumn("ubucket", (F.col("user_id") % 5).cast("string"))
    return (
        ev.cube("event_type", "ubucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 10000.0).cast("long")).alias("sum_scaled"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("etype"),
            F.coalesce(F.col("ubucket"), F.lit("ALL")).alias("ubucket"),
            "n",
            "sum_scaled",
        )
    )


@q(
    "segment_set_ops",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT DISTINCT o_custkey FROM orders
    UNION
    (SELECT c_custkey FROM customer WHERE c_acctbal > 9000.0
     EXCEPT
     SELECT DISTINCT o_custkey FROM orders)
    """,
)
def segment_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION set operations (§2.6 parity-plus)."""
    c = _tbl(spark, sf_dir, "customer")
    o = _tbl(spark, sf_dir, "orders")
    buyers = o.select(F.col("o_custkey").alias("c_custkey")).distinct()
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = c.filter(F.col("c_acctbal") > 9000.0).select("c_custkey")
    return building.intersect(buyers).union(rich.exceptAll(buyers).distinct()).distinct()


@q(
    "asof_join",
    """
    WITH unioned AS (
      -- strict as-of: at equal seq the right side (clicks) must sort
      -- AFTER the left (purchases) so an equal-seq click is NOT yet
      -- visible — same _side encoding as operators/joins.py:43
      -- (strict=True ⇒ right _side=1, left _side=0).  Latent today
      -- (event_id is unique across types) but kept aligned (ADVICE r2).
      SELECT user_id, event_id, 1 AS _side, event_id AS click_id, value AS click_value,
             NULL AS l_event_id
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, event_id, 0 AS _side, NULL, NULL, event_id
      FROM events WHERE event_type = 'purchase'
    ),
    filled AS (
      SELECT user_id, l_event_id,
             last_value(click_id IGNORE NULLS) OVER w AS last_click_id,
             last_value(click_value IGNORE NULLS) OVER w AS last_click_value
      FROM unioned
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id, _side
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT l_event_id AS event_id, user_id, last_click_id, last_click_value
    FROM filled WHERE l_event_id IS NOT NULL
    """,
)
def asof_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gets the latest strictly-earlier click
    per user — union+LOCF plan, one shuffle, zero pair explosion."""
    ev = _tbl(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "event_id",
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    )
    out = joins.asof_join(
        purchases,
        clicks,
        key="user_id",
        seq="event_id",
        value_cols=["click_id", "click_value"],
        strict=True,
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_click_id").alias("last_click_id"),
        F.col("asof_click_value").alias("last_click_value"),
    )


@q(
    "range_join",
    """
    SELECT o.o_orderkey,
           CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_items_30d
    FROM orders o
    LEFT JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
    GROUP BY o.o_orderkey
    """,
)
def range_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: equi key (orderkey) + residual ship-window band —
    Catalyst keeps the equi part in the join key, the band is an inline
    filter."""
    o = _tbl(spark, sf_dir, "orders").alias("o")
    li = _tbl(spark, sf_dir, "lineitem").alias("l")
    out = joins.range_join(
        o,
        li,
        F.col("l.l_orderkey") == F.col("o.o_orderkey"),
        (F.col("l.l_shipdate") >= F.col("o.o_orderdate"))
        & (F.col("l.l_shipdate") < F.col("o.o_orderdate") + F.expr("INTERVAL 30 DAY")),
        how="left",
    )
    return out.groupBy("o.o_orderkey").agg(
        F.count("l.l_orderkey").alias("n_items_30d")
    )


@q(
    "window_running",
    """
    WITH base AS (
      SELECT event_id, user_id,
             CAST(floor(value * 10000.0) AS BIGINT) AS v
      FROM events
    )
    SELECT event_id, user_id,
           CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_sum,
           CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY event_id
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS moving_sum3
    FROM base
    """,
)
def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running/moving window aggregates on floor-scaled integers."""
    ev = _tbl(spark, sf_dir, "events")
    ev = ev.withColumn("v", F.floor(F.col("value") * 10000.0).cast("long"))
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.sum("v")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("running_sum"),
        F.sum("v").over(w.rowsBetween(-2, Window.currentRow)).alias("moving_sum3"),
    )


@q(
    "distinct_users",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
)
def distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (partial-agg friendly)."""
    ev = _tbl(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@q(
    "value_percentiles",
    """
    SELECT event_type,
           quantile_cont(CAST(floor(value * 10000.0) AS BIGINT), 0.5) AS p50,
           quantile_cont(CAST(floor(value * 10000.0) AS BIGINT), 0.95) AS p95,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (§2.6 parity-plus; the reference
    bench reports p50/p95 — scripts/bench.py:41-115): Spark `percentile`
    and DuckDB `quantile_cont` share the linear-interpolation
    definition, and over floor-scaled integers the doubles come out
    bit-identical (verified)."""
    ev = _tbl(spark, sf_dir, "events")
    scaled = "CAST(floor(value * 10000.0) AS BIGINT)"
    return ev.groupBy("event_type").agg(
        F.expr(f"percentile({scaled}, 0.5)").alias("p50"),
        F.expr(f"percentile({scaled}, 0.95)").alias("p95"),
        F.count(F.lit(1)).alias("n"),
    )


@q(
    "scalar_string_fns",
    """
    SELECT p_partkey,
           lower(p_name) AS lname,
           CAST(contains(lower(p_name), 'red') AS INT) AS has_red,
           substring(p_name, 1, 5) AS prefix5,
           CAST(length(p_name) AS BIGINT) AS name_len,
           concat(CAST(p_partkey AS VARCHAR), '_with_heatmaps.mp4') AS mp4_name,
           md5(concat(lower(p_name), '|', CAST(p_partkey AS VARCHAR))) AS fingerprint
    FROM part
    """,
)
def scalar_string_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 scalar string-function row: lower/contains (the P4 matcher
    core), substring/length, and the reference's filename templating
    (`f"{video_id}_with_heatmaps.mp4"`, stream.py:182) as
    format_string."""
    part = _tbl(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lower("p_name").alias("lname"),
        F.lower("p_name").contains("red").cast("int").alias("has_red"),
        F.substring("p_name", 1, 5).alias("prefix5"),
        F.length("p_name").cast("long").alias("name_len"),
        F.format_string("%s_with_heatmaps.mp4", F.col("p_partkey").cast("string")).alias(
            "mp4_name"
        ),
        F.md5(
            F.concat_ws("|", F.lower("p_name"), F.col("p_partkey").cast("string"))
        ).alias("fingerprint"),
    )


@q(
    "iso_timestamps",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso_ts,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-01') AS BIGINT) AS days_to_anchor,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year
    FROM orders
    """,
)
def iso_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 date-function row: the reference's ISO timestamp formatting
    (`datetime.utcnow().isoformat()`, producer/video_producer.py:119)
    as date_format, plus date arithmetic and extraction."""
    o = _tbl(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss").alias("iso_ts"),
        F.datediff(
            F.lit("1998-12-01").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("long")
        .alias("days_to_anchor"),
        F.year("o_orderdate").cast("long").alias("order_year"),
    )


@q("approx_distinct_users", None)  # rows-only BY DESIGN — see docstring
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) beside the EXACT distinct
    per group, plus their relative error.

    The driver row stays rows-only because Spark's HLL++ register
    layout is engine-specific — DuckDB's approx sketch produces a
    different estimate by construction, so a value-hash oracle would
    pin nothing real.  The VALUE gate lives in pytest instead
    (VERDICT r7 #2): tests/test_registry.py asserts
    |approx − exact| / exact ≤ the configured rsd (0.05) on every
    group at two scale factors — a real accuracy contract without
    pretending two engines share one sketch.  At 100 TB the approx
    column is the point: one pass, fixed-size registers, map-side
    combinable; the exact column here is the audit arm."""
    ev = _tbl(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.05).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .withColumn(
            "rel_err",
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users").cast("double"),
        )
    )


@q(
    "topk_events_per_user",
    """
    WITH ranked AS (
      SELECT user_id, event_id, value,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS BIGINT) AS rank
      FROM events
    )
    SELECT user_id, event_id, value, rank FROM ranked WHERE rank <= 2
    """,
)
def topk_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per key over the stream analog (§2.6 sorts/limits row)."""
    ev = _tbl(spark, sf_dir, "events")
    out = joins.topk_per_group(
        ev, "user_id", [F.desc("value"), F.asc("event_id")], k=2
    )
    return out.select("user_id", "event_id", "value", "rank")


@q(
    "tumbling_window",
    """
    SELECT epoch(time_bucket(INTERVAL '1 hour', ts))::BIGINT AS hour_epoch,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 10000.0) AS BIGINT)) AS BIGINT) AS sum_value_scaled
    FROM events GROUP BY 1
    """,
)
def tumbling_window_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling time window via F.window — declared parity-plus
    (SURVEY.md §2.5 note: the reference has no time windows at all).
    Windows are reported as epoch seconds (portable)."""
    ev = _tbl(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window(F.col("ts"), "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 10000.0).cast("long")).alias(
                "sum_value_scaled"
            ),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_epoch"),
            "n_events",
            "sum_value_scaled",
        )
    )


@q(
    "session_window_time",
    f"""
    WITH flagged AS (
      SELECT event_id, user_id,
             CASE WHEN lag(event_id) OVER w IS NULL
                       OR event_id - lag(event_id) OVER w > {SESSION_GAP}
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    ),
    sess AS (
      SELECT event_id, user_id,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id, MIN(event_id) AS session_start_epoch,
           CAST(COUNT(*) AS BIGINT) AS n_events, MAX(event_id) AS last_seq
    FROM sess GROUP BY user_id, sid
    """,
)
def session_window_time_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 option (a) from SURVEY.md §2.5: the IDIOMATIC Spark gap
    session — synthesize event-time (1 s per sequence unit) and use the
    built-in ``session_window`` aggregation.  The built-in merges two
    events when their gap is <= the window gap (boundary inclusive,
    verified empirically against the oracle), which IS the reference's
    strict-`>`-closes rule — so the same GAP value reproduces the
    frame-domain sessions exactly.  The exact-parity stateful twin is
    `streaming_session_parity` (streaming/stateful_pipeline.py's
    operator); this is the zero-custom-code path."""
    ev = _tbl(spark, sf_dir, "events")
    ev = ev.withColumn("ts_t", F.timestamp_seconds(F.col("event_id")))
    return (
        ev.groupBy("user_id", F.session_window("ts_t", f"{SESSION_GAP} seconds").alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("event_id").alias("last_seq"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("sw.start")).alias("session_start_epoch"),
            "n_events",
            "last_seq",
        )
    )


_NEARDUP_SQL = f"""
    WITH iv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS iv
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, iv,
             CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS n2
      FROM iv
    ),
    b AS (
      SELECT vec_id, iv, n2,
             concat({', '.join(
                 "CASE WHEN (list_sum(list_transform(generate_series(1, len(iv)), i -> list_extract(iv, i) * "
                 + similarity.hyperplane_weight_expr(p, 'i') + "))) > 0 THEN '1' ELSE '0' END"
                 for p in range(8)
             )}) AS bucket
      FROM n
    )
    SELECT a.vec_id AS doc_a, b2.vec_id AS doc_b,
           CAST(list_sum(list_transform(generate_series(1, len(a.iv)),
                i -> list_extract(a.iv, i) * list_extract(b2.iv, i))) AS DOUBLE)
             / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b2.n2 AS DOUBLE)) AS cos_sim
    FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    WHERE CAST(list_sum(list_transform(generate_series(1, len(a.iv)),
            i -> list_extract(a.iv, i) * list_extract(b2.iv, i))) AS DOUBLE)
          / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b2.n2 AS DOUBLE)) >= 0.1
    """


@q("embedding_near_dup", _NEARDUP_SQL)
def embedding_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: LSH bucket self-join → within-bucket
    exact cosine → threshold.  Candidate count is Σ bucket², never n² —
    the all-pairs form never exists in the plan."""
    emb = _tbl(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup(emb, threshold=0.1)


_EMB_KEEP_SQL = f"""
    WITH RECURSIVE pairs AS ({_NEARDUP_SQL}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach AS (
      SELECT vec_id AS id, vec_id AS r FROM embeddings
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
    )
    SELECT id AS vec_id, CAST(min(r) AS BIGINT) AS cluster_id,
           (id = min(r)) AS kept
    FROM reach GROUP BY id
    """


@q("embedding_dedup_keep", _EMB_KEEP_SQL)
def embedding_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space dedup DELIVERABLE: cosine near-dup pairs →
    connected components (the same min-label propagation the text
    keep-list uses — near_dup_clusters is pair-source-agnostic) →
    keep one vector per cluster.  The semantic-dedup step embedding
    curation pipelines (SemDeDup-style) run after text dedup; the
    oracle closes the pair graph with the same recursive CTE as the
    text clusters."""
    emb = _tbl(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_dup(emb, threshold=0.1)
    clusters = dedup.near_dup_clusters(
        pairs, emb.select("vec_id"), id_col="vec_id"
    )
    return clusters.select(
        "vec_id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        (F.col("vec_id") == F.col("cluster_id")).alias("kept"),
    )


# tuned on the synthetic embeddings' cosine distribution (p99 ≈ 0.30,
# no planted exact dups): 0.35 yields non-trivial per-cell clusters
# (~16% removal at sf0.01) — lower thresholds percolate every cell
# into one giant component and the attestation degenerates
_SEMDEDUP_THR = 0.35


def _semantic_dedup_sql(k: int = _IVF_K, iters: int = 2,
                        thr: float = _SEMDEDUP_THR) -> str:
    """SemDeDup oracle: Lloyd-trained cells (the ivf_train CTE chain)
    → argmin assignment → within-cell exact-cosine pairs → recursive
    connected components → per-cell savings report."""
    body, final = _ivf_train_ctes(k, iters)
    dot = (
        "CAST(list_sum(list_transform(generate_series(1, len(a.iv)), "
        "i -> list_extract(a.iv, i) * list_extract(b2.iv, i))) AS DOUBLE)"
    )
    cos = f"{dot} / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b2.n2 AS DOUBLE))"
    return f"""
    WITH RECURSIVE {body},
    assd AS (
      SELECT vec_id, centroid_id FROM (
        SELECT v.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, len(v.iv)),
                   j -> (list_extract(v.iv, j) - list_extract(c.civ, j))
                      * (list_extract(v.iv, j) - list_extract(c.civ, j)))),
                 centroid_id) AS rk
        FROM iv v, {final} c
      ) WHERE rk = 1
    ),
    nrm AS (
      SELECT n.vec_id, n.iv,
             CAST(list_sum(list_transform(n.iv, x -> x * x)) AS BIGINT) AS n2,
             s.centroid_id
      FROM iv n JOIN assd s USING (vec_id)
    ),
    prs AS (
      SELECT a.vec_id AS doc_a, b2.vec_id AS doc_b
      FROM nrm a JOIN nrm b2
        ON a.centroid_id = b2.centroid_id AND a.vec_id < b2.vec_id
      WHERE {cos} >= {thr}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM prs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM prs
    ),
    reach AS (
      SELECT vec_id AS id, vec_id AS r FROM embeddings
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
    ),
    clus AS (SELECT id AS vec_id, min(r) AS cluster_id FROM reach GROUP BY id)
    SELECT s.centroid_id AS cell,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(count(DISTINCT c.cluster_id) AS BIGINT) AS n_kept,
           CAST(count(*) - count(DISTINCT c.cluster_id) AS BIGINT) AS n_removed,
           CAST(count(*) - count(DISTINCT c.cluster_id) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS savings_frac
    FROM assd s JOIN clus c USING (vec_id)
    GROUP BY s.centroid_id
    """


@q("semantic_dedup_pipeline", _semantic_dedup_sql())
def semantic_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end SEMANTIC dedup (SemDeDup, Abbas et al. 2023 —
    VERDICT r10 #4), composed from the audited pieces: Lloyd-trained
    IVF cells (similarity.ivf_train) → cell assignment (ivf_assign) →
    within-cell exact-cosine near-dup pairs (cell_near_dup — the
    learned-cluster replacement for the LSH bucket) → min-label
    connected components (near_dup_clusters) → per-cell savings
    report: how many vectors each cell holds, how many semantic
    keepers remain, and the removal fraction the curation budget gets
    back.  Scale: centroids are a k-bounded broadcast; pair count is
    Σ cell² with k the caller's control (SemDeDup sizes k ∝ √n);
    components shuffle on ids, never in one task.  The oracle replays
    the whole composition — train, assign, pairs, RECURSIVE closure,
    report — value-hashed per cell."""
    emb = _tbl(spark, sf_dir, "embeddings")
    # r13 (guide §2.4): materialize the scaled corpus ONCE — train,
    # assign and the pair stage each opened with the same scan + scale
    # projection (with_scaled_vec now short-circuits on an existing
    # `iv`).  And checkpoint the assignment: `cells` feeds the pair
    # stage's self-join (both sides) AND the final per-cell report —
    # uncut, the corpus × k argmin ran three times.  Both are the
    # stage datasets (scaled vectors, cell assignment) a production
    # SemDeDup run writes anyway; the build is on the bench clock, so
    # the eager checkpoints are too.
    sc = (
        similarity.with_scaled_vec(similarity.ensure_parallelism(emb))
        .select("vec_id", "iv")
        .transform(materialize)
    )
    cents = similarity.ivf_train(sc, k=_IVF_K, iters=2)
    cells = (
        similarity.ivf_assign(sc, cents)
        .select("vec_id", "centroid_id")
        .transform(materialize)
    )
    pairs = similarity.cell_near_dup(sc, cells, threshold=_SEMDEDUP_THR)
    clusters = dedup.near_dup_clusters(
        pairs, sc.select("vec_id"), id_col="vec_id"
    )
    joined = cells.join(clusters.select("vec_id", "cluster_id"), "vec_id")
    agg = joined.groupBy(F.col("centroid_id").alias("cell")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.countDistinct("cluster_id").cast("long").alias("n_kept"),
    )
    return agg.select(
        "cell",
        "n_vectors",
        "n_kept",
        (F.col("n_vectors") - F.col("n_kept")).cast("long").alias("n_removed"),
        (
            (F.col("n_vectors") - F.col("n_kept")).cast("double")
            / F.col("n_vectors").cast("double")
        ).alias("savings_frac"),
    )


# r14 (VERDICT r13 #7): the k ∝ √n scale control as an ORACLE-GATED
# row, not just a probe flag.  SemDeDup's Σ cell² pair term is
# controlled by growing the cell count with the corpus (Abbas et al.
# 2023); the portable rule both engines derive from the DATA alone is
#   k = max(4, isqrt(K_REF² · n // N_REF))
# with (K_REF, N_REF) = (16, 2000) anchored to the fixed-k row at
# sf0.1 — k(2000) = 16 (bit-identical to the fixed row there),
# k(50 000) = 80 (the k the r13 scale25 probe measured 2× faster at
# the 25× point: SCALE.md r13, pair stage 88–92 s → 11.5 s).
# floor(sqrt(double(m))) == isqrt(m) for every m here: the doubles are
# exact below 2^53 and a floor flip needs 1/(2k) < ulp, i.e. k > 6·10⁷
# cells — far beyond any real cell count.
_SEMDEDUP_K_REF = 16
_SEMDEDUP_N_REF = 2000
_SEMDEDUP_K_EXPR = (
    f"greatest(4, CAST(floor(sqrt(CAST(({_SEMDEDUP_K_REF * _SEMDEDUP_K_REF}"
    f" * (SELECT count(*) FROM embeddings)) // {_SEMDEDUP_N_REF}"
    " AS DOUBLE))) AS BIGINT))"
)


def _semdedup_scaled_k(n: int) -> int:
    return max(4, math.isqrt(_SEMDEDUP_K_REF * _SEMDEDUP_K_REF * n
                             // _SEMDEDUP_N_REF))


@q("semantic_dedup_kscaled", _semantic_dedup_sql(k=_SEMDEDUP_K_EXPR))
def semantic_dedup_kscaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic_dedup_pipeline with its PRODUCTION scale control
    applied: the cell count grows with the corpus, k = isqrt(16²·n ÷
    2000) (≥ 4) — k ∝ √n, anchored so the sf0.1 bench point matches
    the fixed-k row's k = 16 while a 25× corpus trains 80 cells.  This
    keeps the within-cell pair term Σ cell² ≈ n²/k ∝ n^1.5 instead of
    n² (SCALE.md's SemDeDup arithmetic; the r13 per-stage probe
    measured the pair stage 88–92 s → 11.5 s at 50 k vectors under
    this rule).  The oracle derives the SAME k from count(*) inside
    the seed CTE's LIMIT, so the row is value-hash-gated end to end at
    every SF.  Lloyd's per-iteration checkpoints and the count() that
    sizes k run in-build, on the bench clock."""
    emb = _tbl(spark, sf_dir, "embeddings")
    k = _semdedup_scaled_k(emb.count())
    sc = (
        similarity.with_scaled_vec(similarity.ensure_parallelism(emb))
        .select("vec_id", "iv")
        .transform(materialize)
    )
    cents = similarity.ivf_train(sc, k=k, iters=2)
    cells = (
        similarity.ivf_assign(sc, cents)
        .select("vec_id", "centroid_id")
        .transform(materialize)
    )
    pairs = similarity.cell_near_dup(sc, cells, threshold=_SEMDEDUP_THR)
    clusters = dedup.near_dup_clusters(
        pairs, sc.select("vec_id"), id_col="vec_id"
    )
    joined = cells.join(clusters.select("vec_id", "cluster_id"), "vec_id")
    agg = joined.groupBy(F.col("centroid_id").alias("cell")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.countDistinct("cluster_id").cast("long").alias("n_kept"),
    )
    return agg.select(
        "cell",
        "n_vectors",
        "n_kept",
        (F.col("n_vectors") - F.col("n_kept")).cast("long").alias("n_removed"),
        (
            (F.col("n_vectors") - F.col("n_kept")).cast("double")
            / F.col("n_vectors").cast("double")
        ).alias("savings_frac"),
    )


# ===========================================================================
# Group D — Structured Streaming parity (the stateful session operator
# run as a real streaming query, checked against the batch oracle)
# ===========================================================================


_STREAM_SESSION_SQL = f"""
    WITH ev AS (
      SELECT CAST(user_id AS VARCHAR) AS video_id, event_id,
             {RAW_SQL} >= 0.5 AS hf,
             CASE WHEN {RAW_SQL} >= 0.5 THEN {RAW_SQL} ELSE 0.0 END AS fp
      FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN lag(event_id) OVER w IS NULL
                          OR event_id - lag(event_id) OVER w > {SESSION_GAP}
                     THEN 1 ELSE 0 END AS new_s
      FROM ev WINDOW w AS (PARTITION BY video_id ORDER BY event_id)
    ),
    sess AS (
      SELECT *, CAST(SUM(new_s) OVER (PARTITION BY video_id ORDER BY event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT video_id, session_id,
           CAST(COUNT(*) AS BIGINT) AS total_frames,
           CAST(SUM(CAST(hf AS INT)) AS BIGINT) AS fire_count,
           MAX(fp) AS max_fire_probability,
           MIN(event_id) AS first_seq, MAX(event_id) AS last_seq
    FROM sess GROUP BY video_id, session_id
    """


def _ep2_replay(
    spark: SparkSession, sf_dir: str, row_type: str, every_n: int = 1,
    sentinels: bool = False,
) -> DataFrame:
    """The events stream as (video_id, frame_number) frames, replayed in
    2 micro-batches through `fire_detection_stream` (surrogate model,
    NoTimeout); keeps the output rows of ``row_type``.

    NoTimeout because an armed processing-time timer would keep the
    availableNow query alive forever.  ``sentinels`` adds one frame per
    key at ``max_seq + gap + 1``, built by Spark (groupBy max), so every
    real session closes via the gap rule (W2) — the sentinel's own
    session is the only state left open.  It needs no batch of its own:
    it is larger than every frame of its key, so range chunking puts it
    in the same chunk as the key's last frames or a later one, and the
    operator sorts each key's rows within a batch."""
    from .streaming.stateful_pipeline import fire_detection_stream

    def feed(reader, tmp):
        ev = _tbl(spark, sf_dir, "events").select(
            F.col("user_id").cast("string").alias("video_id"),
            F.col("event_id").alias("frame_number"),
        )
        # per-key frame order is non-decreasing across batches by
        # construction; one executor-side materialization feeds the
        # sentinel agg, the boundary sampling and the chunk writes
        ev = materialize(ev)
        if sentinels:
            ev = ev.unionByName(
                ev.groupBy("video_id").agg(
                    (F.max("frame_number") + SESSION_GAP + 1).alias("frame_number")
                )
            )
        write_replay_chunks(ev, f"{tmp}/in", n_chunks=2)
        stream = reader.schema("video_id string, frame_number long").parquet(
            f"{tmp}/in"
        )
        out = fire_detection_stream(
            stream, gap=SESSION_GAP, inference_every_n=every_n, timeout_ms=None
        )
        return out, lambda b: b.where(F.col("row_type") == row_type)

    return replay(spark, feed)


@q("streaming_session_parity", _STREAM_SESSION_SQL)
def streaming_session_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1-W4 as a REAL Structured Streaming query: the events stream is
    replayed through a file source micro-batch by micro-batch into the
    EP2 stateful operator with every frame inferred, and the emitted
    gap-closed session rows are checked against the batch/SQL
    sessionization oracle.  Determinism without timeout reliance comes
    from the gap-close sentinels (`_ep2_replay`)."""
    return _ep2_replay(spark, sf_dir, "session", sentinels=True).select(
        "video_id", "session_id", "total_frames", "fire_count",
        "max_fire_probability", "first_seq", "last_seq",
    )


@q(
    "json_extract",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
           md5(concat('{"event_id":', CAST(event_id AS VARCHAR), ',"k":',
                      CAST(coalesce(CAST(json_extract(props, '$.k') AS BIGINT), -1) AS VARCHAR), '}')) AS rebuilt_md5
    FROM events
    """,
)
def json_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 JSON-function row: get_json_object extraction from the
    props payload + to_json re-serialization (the reference JSON-codes
    every event, stream.py:64,87) — the rebuilt record's md5 proves the
    serializer shape, not just the extracted value."""
    ev = _tbl(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    # coalesce BOTH sides before serializing: on a missing '$.k' Spark's
    # to_json would drop the null field while the DuckDB concat keeps
    # the '"k":' prefix — the -1 sentinel makes the two byte streams
    # identical whatever the data holds (ADVICE r2)
    rebuilt = F.to_json(
        F.struct(F.col("event_id"), F.coalesce(k, F.lit(-1)).alias("k"))
    )
    return ev.select(
        "event_id",
        k.alias("k"),
        (k % 10).alias("k_mod"),
        F.md5(rebuilt).alias("rebuilt_md5"),
    )


@q(
    "sliding_window",
    """
    WITH h AS (
      SELECT epoch(time_bucket(INTERVAL '1 hour', ts))::BIGINT AS hour_epoch, value
      FROM events
    ),
    assigned AS (
      SELECT hour_epoch AS win_start, value FROM h
      UNION ALL
      SELECT hour_epoch - 3600 AS win_start, value FROM h
    )
    SELECT win_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 10000.0) AS BIGINT)) AS BIGINT) AS sum_value_scaled
    FROM assigned GROUP BY win_start
    """,
)
def sliding_window_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding time window (2 h length, 1 h slide) via F.window — each
    event lands in two windows; the oracle replays the assignment as a
    union of the containing hour bucket and its predecessor."""
    ev = _tbl(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window(F.col("ts"), "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 10000.0).cast("long")).alias(
                "sum_value_scaled"
            ),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start"),
            "n_events",
            "sum_value_scaled",
        )
    )


_EP2_N = 3

_EP2_SQL = f"""
    WITH base AS (
      SELECT CAST(user_id AS VARCHAR) AS video_id, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      FROM events
    ),
    inf AS (
      SELECT video_id, event_id, rn,
             (rn - 1) % {_EP2_N} = 0 AS is_inf,
             CASE WHEN (rn - 1) % {_EP2_N} = 0 THEN {RAW_SQL} END AS raw_at_inf
      FROM base
    ),
    filled AS (
      SELECT video_id, event_id, is_inf,
             last_value(raw_at_inf IGNORE NULLS) OVER
               (PARTITION BY video_id ORDER BY event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS raw
      FROM inf
    )
    SELECT video_id, event_id AS frame_number,
           CAST(is_inf AS INT) AS is_inference,
           CAST(raw >= 0.5 AS INT) AS has_fire,
           CASE WHEN raw >= 0.5 THEN raw ELSE 0.0 END AS fire_probability
    FROM filled
    """


@q("streaming_ep2_parity", _EP2_SQL)
def streaming_ep2_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL EP2 stateful operator (streaming/stateful_pipeline.py —
    M6 cadence counter + prediction cache + W1-W4 session machine in
    one applyInPandasWithState stage) run as a real streaming query
    over a 2-micro-batch replay of the events stream, frame rows
    checked against the SQL cadence+LOCF oracle.  The cadence counter
    and cached prediction MUST survive micro-batch boundaries for this
    to match — the SURVEY §7 risk-register case, proven here at
    sf-scale rather than only in unit tests."""
    return _ep2_replay(spark, sf_dir, "frame", every_n=_EP2_N).select(
        "video_id",
        "frame_number",
        F.col("is_inference").cast("int").alias("is_inference"),
        F.col("has_fire").cast("int").alias("has_fire"),
        "fire_probability",
    )


# ===========================================================================
# Driver contract surface
# ===========================================================================


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: surrogate inference → gap sessionization → session
    completion stats on sf0.001 (the reference's completion-event
    pipeline, stream.py:234-249)."""
    return session_stats_q(spark, "/root/testdata/sf0.001")


# Driver correctness-window ordering — STALENESS-DRIVEN since round 11
# (VERDICT r10 "What's wrong" #2).  The external gate hash-checks the
# FIRST `_DRIVER_WINDOW` registered queries each round, so registration
# order decides who gets an external attestation row.  Rounds 7-10 used
# a hand-maintained pin list + a name-sorted rotation offset; round 10
# showed why that fails: the 33-entry pin list ate the window, a
# duplicated pin silently shifted the offset (ADVICE r10), and 62
# queries went >= 3 rounds without a driver row.  Now the order is
# COMPUTED from the committed evidence itself:
#
#   * two permanent pins come first — the LIVE-STREAMING parity
#     attestations, the only driver rows exercising a real
#     micro-batched stateful query.  (Rounds 7-11 also pinned the two
#     §2.6 custom-join flagships; they were unpinned in round 12 so
#     the r7/r8 staleness drain completes in ONE round — both are
#     hash-green as of r11 and continuously oracle-replayed in pytest,
#     and the staleness sort re-attests them within <= 4 rounds like
#     every other query);
#   * everything else is sorted by (last GREEN driver attestation
#     round, name) ascending, read from the repo's CORRECTNESS_r*.json
#     artifacts at call time.  Never-attested queries sort first
#     automatically (no manual "new this round" pin list to forget or
#     duplicate), then the stalest cohort, oldest round first.  Each
#     new CORRECTNESS file that lands advances the schedule by itself —
#     there is no per-round constant to bump and no way for the window
#     to starve a query: with |pool| ≈ 180 and ~46 free slots the
#     worst-case re-attestation gap is ceil(180/46) = 4 rounds, and
#     paying a query's row refreshes its round so it sorts to the back.
#
# Every query OUTSIDE the window stays continuously gated by
# tests/test_registry.py's sf0.01 oracle replay (ADVICE r3 /
# VERDICT r5 #6), so the schedule never drops coverage — it only
# decides which slice additionally gets the external driver's hash row.
_DRIVER_WINDOW = 50
_PERMANENT_PINS = [
    "streaming_session_parity",
    "streaming_ep2_parity",
]


def _attested_round() -> dict[str, int]:
    """Last round each query earned a GREEN driver row, from the
    committed CORRECTNESS_r*.json artifacts (repo root, one per
    round).  Green = hash_match when the row carries one, else
    rows_match (the driver's weaker rows-only check for non-SQL
    queries).  A red/errored row does NOT count — the query keeps its
    old round and stays at the front of the schedule until a green row
    lands.  Missing/corrupt artifacts are skipped: with no files at
    all every query ties at "never attested" and the order degrades to
    plain name sort."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if row.get("hash_match") is not None:
                green = row.get("hash_match")
            elif row.get("err") in (None, "no_oracle"):
                # rows-only fallback is only an attestation when the
                # hash step was SKIPPED by design, not when it errored
                # (ADVICE r11: a row whose hash step failed but whose
                # counts matched must stay at the front of the window)
                green = row.get("rows_match")
            else:
                green = None
            if green is None and row.get("err") == "no_oracle":
                # deliberately oracle-less query (e.g. HLL approx):
                # the driver's weak rows-only check ran and returned —
                # that IS its attestation row
                green = row.get("spark_rows") is not None
            if green:
                out[name] = max(out.get(name, -1), rnd)
    return out


def _ordered() -> dict[str, QuerySpec]:
    pinned = [n for n in _PERMANENT_PINS if n in _REGISTRY]
    last = _attested_round()
    pool = sorted(
        (n for n in _REGISTRY if n not in set(pinned)),
        key=lambda n: (last.get(n, -1), n),
    )
    return {n: _REGISTRY[n] for n in [*pinned, *pool]}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in _ordered().items() if spec.oracle}
