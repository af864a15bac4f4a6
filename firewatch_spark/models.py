"""Model-backend registry (M1) and the Arrow-batched inference path (M2').

The reference's extensibility point is a config-driven dispatcher with a
uniform ``predict(frame) -> dict`` contract
(reference streams/models/dispatcher.py:34-87).  Here the same contract is
a *batch* function ``predict_batch(pd.DataFrame) -> pd.DataFrame``, and
there is one way to run it on a DataFrame: `with_prediction_iter`, an
iterator-form pandas UDF.  Only the columns the backend names in its
``input_cols`` cross the Arrow boundary, per-partition setup runs once
before the batch loop, and batch size is governed by
``spark.sql.execution.arrow.maxRecordsPerBatch`` — exactly the
batched-inference win the reference deferred
(reference docs/PERFORMANCE.md:148-150).

The deterministic surrogate also has a JVM Column form,
`surrogate_column_expr`.  No applier runs it: it is the reference the
tests compare the UDF's output against, as the DuckDB oracle is for the
registry's ``predict_batch`` query.

Real ML backends (DenseNet M2, YOLO M4, GradCAM M3 — reference
streams/models/fire_detect_nn.py:93-175, yolov8.py:115-162,
gradcam.py:19-90) need torch, which is not in this container; they are
registered as clearly-marked stubs with the exact same signature so the
plumbing (schema, batching, registry) is real and tested.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import Iterator, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from . import surrogate

# Prediction schema — the uniform backend output contract
# (reference fire_detect_nn.py:167-175 / yolov8.py:157-162), minus the
# wall-clock timestamp (excluded from comparisons, SURVEY.md §7).
PREDICTION_SCHEMA = StructType(
    [
        StructField("has_fire", BooleanType()),
        StructField("fire_probability", DoubleType()),
        StructField("no_fire_probability", DoubleType()),
        StructField("model_type", StringType()),
        StructField(
            "detections",
            ArrayType(
                StructType(
                    [
                        StructField("bbox", ArrayType(IntegerType())),
                        StructField("confidence", DoubleType()),
                        StructField("class", StringType()),
                        StructField("class_id", IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


@dataclass
class ModelBackend:
    """One entry in the registry (M1 contract)."""

    name: str
    # batch predict: input pandas DataFrame with columns the backend
    # declares in `input_cols`; returns PREDICTION_SCHEMA-shaped frame.
    predict_batch: Callable[[pd.DataFrame], pd.DataFrame]
    # the columns with_prediction_iter ships to predict_batch, in order
    input_cols: tuple[str, ...] = ("seq", "width", "height")


_REGISTRY: dict[str, ModelBackend] = {}


def register_backend(backend: ModelBackend) -> None:
    _REGISTRY[backend.name] = backend


def get_backend(name: str) -> ModelBackend:
    """Config-driven lookup, mirroring the reference's dispatcher
    (streams/models/dispatcher.py:34-87) including its legacy-alias
    tolerance: unknown names raise with the available list."""
    key = name.lower().strip()
    if key in ("fire-detect-nn", "firedetectnn"):  # legacy aliases
        key = "surrogate" if "surrogate" in _REGISTRY else key
    if key not in _REGISTRY:
        raise ValueError(f"unknown model backend {name!r}; have {sorted(_REGISTRY)}")
    return _REGISTRY[key]


# ---------------------------------------------------------------------------
# Surrogate backend — deterministic, oracle-replayable (FIXTURES.md §2).


def _thresholded(
    raw: np.ndarray, pdf: pd.DataFrame, threshold: float, model_type: str
) -> pd.DataFrame:
    """PREDICTION_SCHEMA frame of a binary fire classifier from its
    raw probabilities: ``>=`` threshold (fire_detect_nn.py:132),
    probability zeroed below it (:169), complement (:173), and the P7
    full-frame box on fire frames (:155-165), sized by the ``width`` /
    ``height`` columns of `pdf`."""
    has_fire = raw >= threshold
    width = pdf["width"].to_numpy(dtype="int64")
    height = pdf["height"].to_numpy(dtype="int64")
    dets = [
        [{"bbox": [0, 0, int(w), int(h)], "confidence": float(r),
          "class": "fire", "class_id": 1}]
        if hf else []
        for r, hf, w, h in zip(raw, has_fire, width, height)
    ]
    return pd.DataFrame(
        {
            "has_fire": has_fire,
            "fire_probability": np.where(has_fire, raw, 0.0),
            "no_fire_probability": 1.0 - raw,
            "model_type": model_type,
            "detections": dets,
        }
    )


def _surrogate_predict_batch(
    pdf: pd.DataFrame, threshold: float = surrogate.DEFAULT_THRESHOLD
) -> pd.DataFrame:
    """Vectorized numpy implementation of the surrogate model.

    Identical arithmetic to surrogate.raw_probability (Knuth
    multiplicative hash) so the pandas-UDF path, the Column reference
    and the DuckDB oracle agree bit-for-bit.
    """
    seq = pdf["seq"].to_numpy(dtype="int64")
    raw = ((seq * surrogate.KNUTH) % surrogate.MOD) / float(surrogate.MOD)
    return _thresholded(raw, pdf, threshold, "surrogate")


def surrogate_column_expr(seq: Column, width: Column, height: Column) -> Column:
    """The surrogate's prediction struct as JVM Column expressions —
    the reference `with_prediction_iter`'s output is tested against."""
    raw = surrogate.raw_probability(seq)
    return F.struct(
        surrogate.has_fire(raw).alias("has_fire"),
        surrogate.fire_probability(raw).alias("fire_probability"),
        surrogate.no_fire_probability(raw).alias("no_fire_probability"),
        F.lit("surrogate").alias("model_type"),
        surrogate.synth_detection(
            surrogate.has_fire(raw), raw, width, height
        ).alias("detections"),
    )


register_backend(ModelBackend(name="surrogate", predict_batch=_surrogate_predict_batch))


def _torch_stub(kind: str) -> Callable[[pd.DataFrame], pd.DataFrame]:
    def _predict(pdf: pd.DataFrame) -> pd.DataFrame:
        raise NotImplementedError(
            f"{kind} backend requires torch/ultralytics (not in this container); "
            "plumbing (schema/batching/registry) is exercised via the surrogate"
        )

    return _predict


# Stubs for the torch-backed contracts (M2/M4) — same registry shape.
# The REAL semantics live in make_densenet_backend / make_yolo_backend
# below, behind an injectable engine seam; these placeholder entries
# keep config-driven lookup working when no engine is supplied.
register_backend(ModelBackend(name="densenet", predict_batch=_torch_stub("DenseNet121")))
register_backend(ModelBackend(name="yolov8", predict_batch=_torch_stub("YOLOv8")))


# ---------------------------------------------------------------------------
# Real-model backends (M2 DenseNet, M4 YOLOv8) behind injectable engine
# seams.  torch/ultralytics are not in this container, so the engine —
# the ONLY non-deterministic, weight-dependent piece — is a constructor
# argument; everything the reference implements AROUND the forward pass
# (device pick, transform size, autocast gate, threshold/zeroing/bbox
# semantics, class filtering, error path) is real code here, proven by
# fake-engine seam tests that run without torch/cv2 installed.

MODEL_INPUT_SIZE = 224  # P11 transform dims (fire_detect_nn.py:108-110)
DEVICE_PREFERENCE = ("cuda", "mps", "cpu")  # fire_detect_nn.py:40-52
# The reference measured fp16 autocast 22% SLOWER at batch 1 and gated
# it off (fire_detect_nn.py:119-128); the win appears at batch ≥ 16
# (docs/PERFORMANCE.md:98-106) — which Arrow batching reaches routinely.
AUTOCAST_MIN_BATCH = 16
YOLO_NMS_IOU = 0.45  # yolov8.py:115-162
YOLO_IMGSZ = 640


def pick_device(available: set[str]) -> str:
    """CUDA → MPS → CPU preference (fire_detect_nn.py:40-52)."""
    return next(d for d in DEVICE_PREFERENCE if d in available or d == "cpu")


def is_fire_class_py(name: str) -> bool:
    """Python twin of surrogate.is_fire_class (P4, yolov8.py:17-23)."""
    lowered = name.lower()
    return any(k in lowered for k in surrogate.FIRE_KEYWORDS) and not any(
        k in lowered for k in surrogate.EXCLUDED_KEYWORDS
    )


def _safe_no_fire(n: int, model_type: str) -> pd.DataFrame:
    """Error path: a failed forward returns a safe no-fire record per
    frame instead of raising (fire_detect_nn.py:177-189)."""
    return pd.DataFrame(
        {
            "has_fire": [False] * n,
            "fire_probability": [0.0] * n,
            "no_fire_probability": [1.0] * n,
            "model_type": [model_type] * n,
            "detections": [[] for _ in range(n)],
        }
    )


def make_densenet_backend(
    engine,
    threshold: float = surrogate.DEFAULT_THRESHOLD,
    autocast_min_batch: int = AUTOCAST_MIN_BATCH,
) -> ModelBackend:
    """M2 — FireDetectNN (DenseNet121 binary classifier) with the
    forward pass injected.

    `engine` contract (what a real torch adapter implements):
      * ``available_devices() -> set[str]``
      * ``forward(frames, *, size, device, autocast) -> sequence[float]``
        — post-sigmoid fire probabilities, one per input frame.

    This function owns the reference's surrounding semantics:
    device pick CUDA→MPS→CPU (fire_detect_nn.py:40-52), 224×224
    transform request (:108-110), fp16 autocast enabled only on CUDA
    at batch ≥ `autocast_min_batch` (:119-128 + PERFORMANCE.md:98-106),
    `>=` threshold, probability zeroing, complement and full-frame
    bbox synthesis (`_thresholded`, shared with the surrogate), and the
    safe no-fire error record (:177-189)."""
    device = pick_device(set(engine.available_devices()))

    def predict_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        autocast = device == "cuda" and n >= autocast_min_batch
        try:
            raw = np.asarray(
                engine.forward(
                    pdf["frame_data"],
                    size=MODEL_INPUT_SIZE,
                    device=device,
                    autocast=autocast,
                ),
                dtype="float64",
            )
        except Exception:
            return _safe_no_fire(n, "fire-detect-nn")
        return _thresholded(raw, pdf, threshold, "fire-detect-nn")

    return ModelBackend(
        name="fire-detect-nn-real",
        predict_batch=predict_batch,
        input_cols=("frame_data", "width", "height"),
    )


def make_yolo_backend(
    engine, threshold: float = surrogate.DEFAULT_THRESHOLD
) -> ModelBackend:
    """M4 — YOLOv8 detector with the detect pass injected.

    `engine` contract: ``detect(frames, *, conf, iou, imgsz) ->
    list[list[dict]]`` — per frame, raw boxes as dicts with ``bbox``
    (4 ints), ``confidence``, ``name``, ``class_id``.

    This function owns: probe confidence ``min(0.1, threshold)`` so
    near-threshold boxes are visible before OUR filter decides
    (yolov8.py:120-129), NMS IoU 0.45 and imgsz 640 (:115-162), the
    P4 class-name include/exclude filter (:17-23), the P5 strict-`>`
    per-box confidence filter (:145 — note the asymmetry with P3's
    `>=`), and ``fire_probability = max(confidence)`` over kept boxes
    (:146-147)."""

    probe_conf = min(0.1, threshold)

    def predict_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        try:
            per_frame = engine.detect(
                pdf["frame_data"], conf=probe_conf, iou=YOLO_NMS_IOU, imgsz=YOLO_IMGSZ
            )
        except Exception:
            return _safe_no_fire(n, "yolov8")
        out = {"has_fire": [], "fire_probability": [], "no_fire_probability": [],
               "model_type": ["yolov8"] * n, "detections": []}
        for boxes in per_frame:
            kept = [
                b for b in boxes
                if is_fire_class_py(b["name"]) and b["confidence"] > threshold
            ]
            fire_p = max((b["confidence"] for b in kept), default=0.0)
            out["has_fire"].append(bool(kept))
            out["fire_probability"].append(float(fire_p))
            out["no_fire_probability"].append(1.0 - float(fire_p))
            out["detections"].append(
                [{"bbox": [int(x) for x in b["bbox"]],
                  "confidence": float(b["confidence"]),
                  "class": b["name"], "class_id": int(b["class_id"])}
                 for b in kept]
            )
        return pd.DataFrame(out)

    return ModelBackend(
        name="yolov8-real",
        predict_batch=predict_batch,
        input_cols=("frame_data", "width", "height"),
    )


# ---------------------------------------------------------------------------
# Applying a backend to a DataFrame.


def make_iter_predict_fn(backend: ModelBackend):
    """Build the generator the iterator-form pandas UDF wraps —
    exposed separately so tests can drive it with hand-made batches
    and count the one-time setup.

    The iterator contract is the load-bearing part (the shape real
    model serving uses, reference docs/PERFORMANCE.md:148-150): the
    function receives ALL of a partition's Arrow batches through one
    iterator, so per-worker setup — reading the backend's predict
    function here; model weights onto the device in a real torch
    backend — runs ONCE per partition, not once per batch, and the
    partition round-trips through ONE Python worker invocation.  Each
    batch is a tuple of Series, one per ``backend.input_cols``."""
    cols = backend.input_cols

    def _predict_iter(it):
        # one-time per-partition setup, before the batch loop — a real
        # backend loads its weights exactly here
        predict_batch = backend.predict_batch
        for batch in it:
            yield predict_batch(pd.DataFrame(dict(zip(cols, batch))))

    return _predict_iter


def with_prediction_iter(
    df: DataFrame,
    backend: ModelBackend,
    *cols: str,
    out_col: str = "prediction",
) -> DataFrame:
    """Attach `backend`'s PREDICTION_SCHEMA struct as `out_col` through
    the iterator-form Arrow-batched pandas UDF (M2' — the reference's
    deferred batched-inference win as a REGISTERED path, VERDICT r12
    #4).

    ``cols`` name the columns of `df` that feed ``backend.input_cols``,
    in that order; by default the columns of the same names.  Only
    they cross the Arrow boundary: every other column stays JVM-side,
    and a per-row transform needs no shuffle.  The UDF is the
    Iterator[Tuple[Series, ...]] -> Iterator[DataFrame] form, so model
    setup amortizes over the whole partition and every full Arrow
    batch (maxRecordsPerBatch, default 10k) clears the
    autocast-at-batch>=16 gate of make_densenet_backend.  Plan-wise
    this is ONE ArrowEvalPython node — one Python worker round-trip
    serves the partition (asserted in tests/test_models.py)."""
    cols = cols or backend.input_cols
    if len(cols) != len(backend.input_cols):
        raise ValueError(
            f"backend {backend.name!r} reads {backend.input_cols}; got {cols}"
        )
    _predict_iter = make_iter_predict_fn(backend)
    # manual annotations: `from __future__ import annotations` would
    # stringify inline hints and break pandas_udf eval-type inference
    _predict_iter.__annotations__ = {
        "it": Iterator[Tuple[pd.Series, ...]],
        "return": Iterator[pd.DataFrame],
    }
    udf = F.pandas_udf(_predict_iter, returnType=PREDICTION_SCHEMA)
    return df.withColumn(out_col, udf(*cols))
