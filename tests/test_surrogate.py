"""P3-P7 scalar semantics via the deterministic surrogate.

Pins the threshold asymmetry the reference exhibits: the classifier
uses `>=` (fire_detect_nn.py:132) while the YOLO box filter uses a
strict `>` (yolov8.py:145), plus probability zeroing (:169) and
full-frame bbox synthesis (:155-165).
"""

from pyspark.sql import functions as F

from firewatch_spark import surrogate
from firewatch_spark.functions.projections import filter_detections
from tests.conftest import rows


def _probe(spark, raws):
    return spark.createDataFrame([(i, r) for i, r in enumerate(raws)], "id long, raw double")


def test_threshold_is_inclusive(spark):
    # P3: exactly-at-threshold counts as fire (`>=`)
    df = _probe(spark, [0.4999, 0.5, 0.5001])
    out = rows(df.select("id", surrogate.has_fire(F.col("raw")).alias("hf")), "id")
    assert [r["hf"] for r in out] == [False, True, True]


def test_probability_zeroing(spark):
    # P6: reported probability is 0.0 below threshold; raw otherwise
    df = _probe(spark, [0.3, 0.7])
    out = rows(
        df.select(
            "id",
            surrogate.fire_probability(F.col("raw")).alias("p"),
            surrogate.no_fire_probability(F.col("raw")).alias("np"),
        ),
        "id",
    )
    assert [r["p"] for r in out] == [0.0, 0.7]
    # no_fire complement uses the RAW value even when zeroed
    assert out[0]["np"] == 1.0 - 0.3


def test_fullframe_bbox_synthesis(spark):
    # P7: positive -> one detection covering the frame; negative -> []
    df = spark.createDataFrame([(1, 0.8, 640, 480), (2, 0.2, 640, 480)],
                               "id long, raw double, w int, h int")
    out = rows(
        df.select(
            "id",
            surrogate.synth_detection(
                surrogate.has_fire(F.col("raw")), F.col("raw"), F.col("w"), F.col("h")
            ).alias("d"),
        ),
        "id",
    )
    assert out[0]["d"] == [
        {"bbox": [0, 0, 640, 480], "confidence": 0.8, "class": "fire", "class_id": 1}
    ]
    assert out[1]["d"] == []


def test_box_filter_is_strict_gt(spark):
    # P5: per-box confidence filter is strict `>` — a box exactly at
    # the threshold is DROPPED (asymmetric with P3's `>=`)
    df = spark.createDataFrame([(1, 0.5, 640, 480)], "id long, raw double, w int, h int")
    raw = F.col("raw")
    dets = surrogate.synth_detection(surrogate.has_fire(raw), raw, F.col("w"), F.col("h"))
    out = rows(df.select(filter_detections(dets, 0.5).alias("d")))
    assert out[0]["d"] == []  # conf == 0.5 fails strict >
    out2 = rows(df.select(filter_detections(dets, 0.4999).alias("d")))
    assert len(out2[0]["d"]) == 1


def test_class_name_filter(spark):
    # P4 include/exclude keyword semantics (yolov8.py:17-23)
    cases = {
        "fire": True,
        "wildfire": True,
        "Smoke Plume": True,
        "burning building": True,
        "fire truck": False,       # excluded keyword wins
        "Fire Hydrant": False,
        "fire extinguisher": False,
        "fire station": False,
        "engine fire": False,      # 'engine' excluded
        "person": None,            # no include keyword -> null-ish false
    }
    df = spark.createDataFrame([(k,) for k in cases], "name string")
    out = {r["name"]: r["keep"] for r in rows(
        df.select("name", surrogate.is_fire_class(F.col("name")).alias("keep"))
    )}
    for name, expected in cases.items():
        if expected is None:
            assert not out[name]  # False or None both mean dropped
        else:
            assert out[name] is expected, name


def test_surrogate_matches_reference_formula(spark):
    # the Knuth-hash surrogate is pure arithmetic on the key
    df = spark.createDataFrame([(i,) for i in range(100)], "seq long")
    out = rows(df.select("seq", surrogate.raw_probability(F.col("seq")).alias("raw")), "seq")
    for r in out:
        assert r["raw"] == ((r["seq"] * surrogate.KNUTH) % surrogate.MOD) / surrogate.MOD
