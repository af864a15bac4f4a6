"""M1 backend registry + UDF-path/column-path agreement."""

import pytest
from pyspark.sql import functions as F

from firewatch_spark import models
from tests.conftest import rows


def _frames(spark, n=20):
    return spark.createDataFrame(
        [(i, f"v{i % 3}", 640, 480) for i in range(n)],
        "seq_id long, video_id string, w int, h int",
    )


def test_registry_lookup_and_legacy_alias():
    assert models.get_backend("surrogate").name == "surrogate"
    # legacy alias resolution mirrors the reference dispatcher
    assert models.get_backend("fire-detect-nn").name == "surrogate"
    with pytest.raises(ValueError, match="unknown model backend"):
        models.get_backend("nope")


def test_torch_stubs_registered_but_not_runnable():
    import pandas as pd

    for name in ("densenet", "yolov8"):
        b = models.get_backend(name)
        with pytest.raises(NotImplementedError):
            b.predict_batch(pd.DataFrame({"seq": [1], "width": [1], "height": [1]}))


def _predict(df, *cols):
    return models.with_prediction_iter(
        df, models.get_backend("surrogate"), *(cols or ("seq_id", "w", "h"))
    )


def test_udf_path_equals_column_path(spark):
    # the one UDF applier against the surrogate's JVM Column reference
    df = _frames(spark)
    col_out = rows(
        df.withColumn(
            "prediction",
            models.surrogate_column_expr(F.col("seq_id"), F.col("w"), F.col("h")),
        ),
        "seq_id",
    )
    udf_out = rows(_predict(df), "seq_id")
    assert len(col_out) == len(udf_out) == 20
    for a, b in zip(col_out, udf_out):
        assert a["prediction"] == b["prediction"], (a, b)


def test_udf_path_preserves_passthrough_columns(spark):
    df = _frames(spark)
    out = _predict(df)
    assert out.columns == ["seq_id", "video_id", "w", "h", "prediction"]
    got = rows(out.select("seq_id", "video_id"), "seq_id")
    assert got[5] == {"seq_id": 5, "video_id": "v2"}
    # one df column per backend input, or none (the inputs' own names)
    with pytest.raises(ValueError, match="reads"):
        _predict(df, "seq_id", "w")


def test_prediction_schema_contract(spark):
    out = _predict(_frames(spark))
    pred = out.schema["prediction"].dataType
    assert [f.name for f in pred.fields] == [
        "has_fire", "fire_probability", "no_fire_probability", "model_type", "detections",
    ]
    assert pred == models.PREDICTION_SCHEMA


# --- round 13: iterator-form batched inference (VERDICT r12 #4) ------


def test_iter_path_single_arrow_python_roundtrip(spark):
    # the partition must round-trip through ONE Python worker node —
    # one ArrowEvalPython, no row-at-a-time BatchEvalPython anywhere
    out = models.with_prediction_iter(
        _frames(spark), models.get_backend("surrogate"), "seq_id", "w", "h"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_iter_fn_setup_runs_once_per_partition():
    # the iterator form's reason to exist: the per-partition setup
    # (reading the backend's predict function here; a real backend's
    # weight load) happens ONCE before the batch loop, not once per
    # Arrow batch
    import pandas as pd

    surrogate = models.get_backend("surrogate")

    class CountingBackend:
        input_cols = surrogate.input_cols
        reads = 0

        @property
        def predict_batch(self):
            self.reads += 1
            return surrogate.predict_batch

    backend = CountingBackend()
    fn = models.make_iter_predict_fn(backend)
    batches = [
        (
            pd.Series([i, i + 1]),
            pd.Series([640, 640]),
            pd.Series([480, 480]),
        )
        for i in range(0, 6, 2)
    ]
    outs = list(fn(iter(batches)))
    assert len(outs) == 3 and all(len(o) == 2 for o in outs)
    assert backend.reads == 1
    # each batch's Series arrive under the backend's input names
    pd.testing.assert_frame_equal(
        outs[1],
        surrogate.predict_batch(
            pd.DataFrame({"seq": [2, 3], "width": [640] * 2, "height": [480] * 2})
        ),
    )
