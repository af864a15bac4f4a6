"""GradCAM heatmap surrogate + overlay contract — M3, P10, P11 from
SURVEY.md §2.

The reference computes a real GradCAM heatmap on the DenseNet backbone
(reference streams/models/gradcam.py:19-90): pooled gradients ×
activations → channel-mean → ReLU → max-normalize to [0,1], returning
None on failure; the consumer then overlays it on the frame
(streams/pipeline/overlay.py:10-44): resize → min-max normalize
(+1e-8 guard) → uint8 → COLORMAP_JET → addWeighted alpha blend.

Torch/cv2 are not in this container, so the *kernel* is the
deterministic FIXTURES.md surrogate — same Knuth multiplicative hash
as the prediction surrogate, extended per heatmap cell — while the
*shape contract* (CELLS-length array in [0,1], max-normalized exactly
like gradcam.py:81-84, reused between recomputes via LOCF) and the
overlay arithmetic (alpha blend of mean intensities,
overlay.py:38-41) are real and oracle-replayable.  Everything is
pure Column algebra: at 100 TB this is a scan→project pipeline with
zero shuffle and no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import surrogate

HEATMAP_CELLS = 16  # surrogate grid (a real GradCAM emits HxW floats)
DEFAULT_ALPHA = 0.4  # overlay.py:13 default


def surrogate_heatmap(seq: Column, cells: int = HEATMAP_CELLS) -> Column:
    """M3 surrogate: deterministic pseudo-GradCAM for sequence `seq`.

    Cell j gets the Knuth-hash value of ``seq * cells + j`` (same
    generator as the prediction surrogate, FIXTURES.md §2), then the
    array is max-normalized to [0,1] — mirroring gradcam.py:81-84
    (`heatmap / (heatmap.max() + 1e-8)`).  Values are already ≥ 0, so
    the reference's ReLU is a no-op here by construction.
    """
    raw = F.transform(
        F.sequence(F.lit(0), F.lit(cells - 1)),
        lambda j: surrogate.raw_probability(seq * cells + j),
    )
    mx = F.array_max(raw) + F.lit(1e-8)
    return F.transform(raw, lambda x: x / mx)


def overlay_stats(
    heatmap: Column, alpha: float = DEFAULT_ALPHA, base_intensity: float = 128.0
) -> Column:
    """P10 overlay contract on a synthetic uniform-gray frame: the
    blended mean intensity ``(1-α)·base + α·255·mean(heatmap)``
    (addWeighted, overlay.py:38-41, with the colormap's mean intensity
    approximated by the heatmap mean — the colormap itself is a pixel
    detail cv2 owns).  NULL heatmap → identity (overlay.py:17-18)."""
    mean_h = F.aggregate(
        heatmap, F.lit(0.0), lambda acc, x: acc + x
    ) / F.size(heatmap)
    blended = F.lit((1.0 - alpha) * base_intensity) + F.lit(alpha * 255.0) * mean_h
    return F.when(heatmap.isNull(), F.lit(base_intensity)).otherwise(blended)


def model_transform_dims(width: Column, height: Column) -> Column:
    """P11 transform contract (fire_detect_nn.py:108-110): BGR→RGB +
    torchvision resize to the model's square input.  The pixel work
    lives inside the inference pandas_udf; relationally the transform
    is a projection to the model input shape — recorded here so the
    plan carries the contract (224×224 per docs/MODELS.md:50-52)."""
    return F.struct(
        F.lit(224).alias("model_w"),
        F.lit(224).alias("model_h"),
        (width.cast("double") / 224.0).alias("scale_x"),
        (height.cast("double") / 224.0).alias("scale_y"),
        F.lit("rgb").alias("channel_order"),
    )


def with_gradcam_heatmap(
    df: DataFrame,
    key: str,
    seq: str,
    recompute_col: str = "recompute_heatmap",
    out_col: str = "heatmap",
    cells: int = HEATMAP_CELLS,
    heatmap_fn=None,
) -> DataFrame:
    """M3+M5 composition: compute the surrogate heatmap only on rows
    flagged by the GradCAM cadence (M5), carry it forward (LOCF) on
    reuse rows — the reference's cached `_last_heatmap`
    (fire_detect_nn.py:136-151).  One window shuffle, shared with the
    cadence computation's partitioning.

    ``heatmap_fn(seq_col) -> Column`` overrides the kernel (default:
    the normalized surrogate); oracle queries pass an integer-domain
    variant so the LOCF composition hashes bit-identically."""
    w = (
        Window.partitionBy(key)
        .orderBy(seq)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kernel = heatmap_fn if heatmap_fn is not None else (
        lambda c: surrogate_heatmap(c, cells)
    )
    computed = F.when(F.col(recompute_col), kernel(F.col(seq)))
    return df.withColumn(
        out_col, F.last(computed, ignorenulls=True).over(w)
    )
