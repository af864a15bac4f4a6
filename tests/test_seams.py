"""Fake-engine seam tests (VERDICT r2 next-steps #7): prove the
real-model backends (M2 DenseNet, M4 YOLOv8) and the S10 codec probe
apply the exact reference semantics — device pick, transform dims,
autocast gate, threshold/zeroing/bbox rules, class filter, probe codec
order — WITHOUT torch/cv2 installed.  The injected fakes record every
call; production swaps in the real modules unchanged."""

import pandas as pd
import pytest

from pyspark.sql import functions as F

from firewatch_spark import models
from firewatch_spark.streaming import codec
from tests.conftest import rows


# ---------------------------------------------------------------------------
# fakes (module-level so Spark can pickle the closures that capture them)


class FakeTorchEngine:
    """Records forward() kwargs; returns len(frame) % 10 / 10 per frame
    so Spark-side tests can verify outputs without driver round-trips."""

    def __init__(self, devices=("cpu",), fail=False):
        self.devices = set(devices)
        self.calls = []
        self.fail = fail

    def available_devices(self):
        return self.devices

    def forward(self, frames, *, size, device, autocast):
        self.calls.append(
            {"n": len(frames), "size": size, "device": device, "autocast": autocast}
        )
        if self.fail:
            raise RuntimeError("CUDA OOM (simulated)")
        return [(len(f) % 10) / 10.0 for f in frames]


class FakeYoloEngine:
    def __init__(self, boxes_per_frame):
        self.boxes_per_frame = boxes_per_frame
        self.calls = []

    def detect(self, frames, *, conf, iou, imgsz):
        self.calls.append({"n": len(frames), "conf": conf, "iou": iou, "imgsz": imgsz})
        return self.boxes_per_frame


class _FakeWriter:
    def __init__(self, opened, log, fourcc):
        self._opened = opened
        self._log = log
        self._fourcc = fourcc

    def isOpened(self):
        return self._opened

    def release(self):
        self._log.append(("release", self._fourcc))


class FakeCv2:
    def __init__(self, works=()):
        self.works = set(works)
        self.log = []

    def VideoWriter_fourcc(self, *chars):
        return "".join(chars)

    def VideoWriter(self, path, fourcc, fps, dims):
        self.log.append(("open", fourcc))
        return _FakeWriter(fourcc in self.works, self.log, fourcc)


def _pdf(n, frame_len=lambda i: 5 + i):
    return pd.DataFrame(
        {
            "frame_data": [b"x" * frame_len(i) for i in range(n)],
            "width": [640] * n,
            "height": [480] * n,
        }
    )


# ---------------------------------------------------------------------------
# M2 — DenseNet backend semantics (fire_detect_nn.py:40-189)


def test_device_pick_order():
    assert models.pick_device({"cuda", "mps", "cpu"}) == "cuda"
    assert models.pick_device({"mps", "cpu"}) == "mps"
    assert models.pick_device(set()) == "cpu"


def test_autocast_gated_on_batch_size_cuda_only():
    eng = FakeTorchEngine(devices=("cuda",))
    backend = models.make_densenet_backend(eng)
    backend.predict_batch(_pdf(20))
    backend.predict_batch(_pdf(8))
    assert [c["autocast"] for c in eng.calls] == [True, False]
    assert all(c["device"] == "cuda" for c in eng.calls)
    assert all(c["size"] == 224 for c in eng.calls)  # P11 transform dims

    cpu = FakeTorchEngine(devices=("cpu",))
    models.make_densenet_backend(cpu).predict_batch(_pdf(32))
    assert cpu.calls[0]["autocast"] is False  # never on CPU


def test_densenet_threshold_zeroing_bbox():
    # frame lens 5..: probs 0.5, 0.6, 0.7, 0.8, 0.9 -> first is the
    # `>=` boundary (P3): has_fire True at exactly 0.5
    eng = FakeTorchEngine()
    out = models.make_densenet_backend(eng).predict_batch(_pdf(5))
    assert list(out["has_fire"]) == [True] * 5
    # prob 0.4 (len 14): below threshold -> zeroed (P6), no bbox (P7)
    out2 = models.make_densenet_backend(eng).predict_batch(_pdf(1, lambda i: 14))
    assert list(out2["has_fire"]) == [False]
    assert list(out2["fire_probability"]) == [0.0]
    assert out2["no_fire_probability"][0] == pytest.approx(0.6)
    assert out2["detections"][0] == []
    # positive frame synthesizes the full-frame bbox (P7)
    det = out["detections"][0][0]
    assert det["bbox"] == [0, 0, 640, 480] and det["class"] == "fire"
    assert det["confidence"] == 0.5


def test_densenet_error_path_returns_safe_no_fire():
    eng = FakeTorchEngine(fail=True)
    out = models.make_densenet_backend(eng).predict_batch(_pdf(3))
    assert list(out["has_fire"]) == [False] * 3
    assert list(out["fire_probability"]) == [0.0] * 3
    assert list(out["no_fire_probability"]) == [1.0] * 3


# ---------------------------------------------------------------------------
# M4 — YOLO backend semantics (yolov8.py:17-23,115-162)


def test_yolo_probe_conf_filters_and_max():
    frame1 = [
        {"bbox": [1, 2, 3, 4], "confidence": 0.9, "name": "wildfire", "class_id": 3},
        {"bbox": [5, 6, 7, 8], "confidence": 0.99, "name": "fire hydrant", "class_id": 10},
        {"bbox": [1, 1, 2, 2], "confidence": 0.5, "name": "smoke", "class_id": 2},
        {"bbox": [2, 2, 3, 3], "confidence": 0.51, "name": "flame", "class_id": 4},
    ]
    eng = FakeYoloEngine([frame1, []])
    out = models.make_yolo_backend(eng).predict_batch(_pdf(2))
    # probe at min(0.1, threshold) so OUR filter, not the model's,
    # decides near-threshold boxes; NMS IoU .45, imgsz 640
    assert eng.calls == [{"n": 2, "conf": 0.1, "iou": 0.45, "imgsz": 640}]
    # kept: wildfire .9 and flame .51; hydrant excluded by class (P4),
    # smoke .5 dropped by the STRICT `>` box filter (P5)
    assert [d["class"] for d in out["detections"][0]] == ["wildfire", "flame"]
    assert out["fire_probability"][0] == 0.9  # max over kept boxes
    assert bool(out["has_fire"][0]) is True
    # boxless frame: no fire, complement 1.0
    assert bool(out["has_fire"][1]) is False
    assert out["no_fire_probability"][1] == 1.0


# ---------------------------------------------------------------------------
# The Arrow UDF path drives the injected backend on executors


def test_frame_prediction_udf_runs_fake_engine(spark):
    # local class: cloudpickle ships it BY VALUE to executors (a
    # module-level class would be pickled by reference and fail to
    # import inside Spark's Python workers)
    class LocalEngine:
        def available_devices(self):
            return {"cpu"}

        def forward(self, frames, *, size, device, autocast):
            assert size == 224 and device == "cpu" and autocast is False
            return [(len(f) % 10) / 10.0 for f in frames]

    backend = models.make_densenet_backend(LocalEngine())
    # no column names given: the backend's input_cols (frame_data,
    # width, height) pick what crosses the Arrow boundary
    df = spark.createDataFrame(
        [(i, b"x" * (5 + i), 320, 240) for i in range(4)],
        "frame_number long, frame_data binary, width int, height int",
    )
    out = rows(
        models.with_prediction_iter(df, backend).select(
            "frame_number", "prediction.*"
        ),
        "frame_number",
    )
    # prob = len(frame) % 10 / 10 = (5+i)/10 -> all >= 0.5 threshold
    for i, r in enumerate(out):
        assert r["has_fire"] is True
        assert r["fire_probability"] == pytest.approx((5 + i) / 10)
        assert r["model_type"] == "fire-detect-nn"
        assert r["detections"][0]["bbox"] == [0, 0, 320, 240]


# ---------------------------------------------------------------------------
# S10 — codec probe order (video_writer.py:23-42)


def test_codec_probe_order_and_fallback():
    cv2 = FakeCv2(works={"mp4v"})
    writer, chosen = codec.open_writer(cv2, "/tmp/x.mp4", 640, 480, 30.0)
    opens = [c for kind, c in cv2.log if kind == "open"]
    assert opens == ["HEVC", "hvc1", "avc1", "H264", "mp4v"]
    assert chosen == "mp4v" and writer.isOpened()
    # every failed attempt was released before the next probe
    releases = [c for kind, c in cv2.log if kind == "release"]
    assert releases == ["HEVC", "hvc1", "avc1", "H264"]


def test_codec_probe_stops_at_first_working():
    cv2 = FakeCv2(works={"avc1", "mp4v"})
    _, chosen = codec.open_writer(cv2, "/tmp/x.mp4", 640, 480, 30.0)
    assert chosen == "avc1"
    assert [c for k, c in cv2.log if k == "open"] == ["HEVC", "hvc1", "avc1"]


def test_codec_probe_exhaustion_raises():
    cv2 = FakeCv2(works=set())
    with pytest.raises(RuntimeError, match="no usable codec"):
        codec.open_writer(cv2, "/tmp/x.mp4", 640, 480, 30.0)
