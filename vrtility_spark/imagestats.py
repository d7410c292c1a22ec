"""Per-scene image quality statistics — the curation filters a
training-data pipeline runs over raw imagery before it ever reaches a
model: blur, information content, exposure clipping, contrast, and
footprint validity, per band, in ONE zero-shuffle Arrow pass.

This is the laion/DataComp-style "drop blurry, blank, and blown-out
scenes" gate.
The reference engine mosaics whatever it is given
(/root/reference/R/vrt-collect.R builds collections without content
screening), so this family extends it per the brief's
training-data-pipeline mandate.

Signals, per ``(image_id, band)`` over the valid (non-nodata) pixels:

- ``blur_var`` — variance of the 4-neighbour Laplacian
  ``x[N]+x[S]+x[E]+x[W]-4x`` over interior pixels whose full stencil
  is valid (the classic variance-of-Laplacian focus measure, Pech-
  Pacheco et al. 2000 / OpenCV ``cv2.Laplacian(...).var()``). Low =
  defocused/featureless.
- ``entropy`` — Shannon entropy in BITS of the 256-bin equal-width
  histogram over the declared value range ``[lo, hi]`` (values
  clipped into range first). 0 = constant plane; 8 = uniform noise.
- ``dark_frac`` / ``bright_frac`` — fraction of valid pixels at or
  below ``lo + clip_frac*(hi-lo)`` / at or above ``hi -
  clip_frac*(hi-lo)`` — exposure clipping (default 2 % tails).
- ``mean`` / ``std`` — population moments (contrast).
- ``valid_frac`` — valid pixels / (w*h) — footprint coverage.

Spark-first plan: the stats pass is one ``mapInPandas`` emitting a
FIXED-SIZE row per (scene, band) — payload bytes are decoded exactly
once and never shuffle; the output table is tiny no matter the corpus
(rows = scenes x bands). :func:`quality_filter` turns thresholds into
a broadcastable semi join keyed on ``image_id``, so the corpus-sized
side moves zero bytes beyond its own scan. Every statistic is a
deterministic function of one scene's pixels — partitioning, retries,
and executor count cannot change a single output bit.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vrtility_spark import codec

STATS_SCHEMA = ("image_id string, band int, n_valid long, "
                "valid_frac double, mean double, std double, "
                "blur_var double, entropy double, dark_frac double, "
                "bright_frac double")

N_BINS = 256


def laplacian_var_np(X: np.ndarray) -> float:
    """Variance of the 4-neighbour Laplacian over interior pixels
    whose 5-point stencil is fully valid; NaN when fewer than 2 such
    pixels exist (a 1-pixel-wide strip has no interior)."""
    if X.shape[0] < 3 or X.shape[1] < 3:
        return float("nan")
    lap = (X[:-2, 1:-1] + X[2:, 1:-1] + X[1:-1, :-2] + X[1:-1, 2:]
           - 4.0 * X[1:-1, 1:-1])
    v = lap[np.isfinite(lap)]
    if v.size < 2:
        return float("nan")
    return float(v.var())


def entropy_np(v: np.ndarray, lo: float, hi: float) -> float:
    """Shannon entropy (bits) of the 256-bin equal-width histogram of
    ``v`` over ``[lo, hi]`` (clipped). NaN for empty input."""
    if v.size == 0:
        return float("nan")
    idx = np.clip(((v - lo) * (N_BINS / (hi - lo))).astype(np.int64),
                  0, N_BINS - 1)
    counts = np.bincount(idx, minlength=N_BINS).astype(np.float64)
    p = counts[counts > 0] / v.size
    return float(-(p * np.log2(p)).sum())


def quality_np(A: np.ndarray, lo: float, hi: float,
               clip_frac: float) -> list[tuple]:
    """All signals for one scene's float-masked ``(B, H, W)`` array —
    the obviously-correct single-node twin of the distributed pass.
    Returns per-band ``(n_valid, valid_frac, mean, std, blur_var,
    entropy, dark_frac, bright_frac)``; all-nodata bands report NaN
    statistics with ``n_valid = 0``."""
    dark_thr = lo + clip_frac * (hi - lo)
    bright_thr = hi - clip_frac * (hi - lo)
    out = []
    px = A.shape[1] * A.shape[2]
    for bi in range(A.shape[0]):
        X = A[bi]
        v = X[np.isfinite(X)]
        if v.size == 0:
            out.append((0, 0.0) + (float("nan"),) * 6)
            continue
        out.append((int(v.size), v.size / px, float(v.mean()),
                    float(v.std()), laplacian_var_np(X),
                    entropy_np(v, lo, hi),
                    float((v <= dark_thr).sum() / v.size),
                    float((v >= bright_thr).sum() / v.size)))
    return out


def quality_stats(df: DataFrame, lo: float = 0.0, hi: float = 65535.0,
                  clip_frac: float = 0.02,
                  id_col: str = "image_id",
                  bands=None) -> DataFrame:
    """Per-(scene, band) quality statistics table — one zero-shuffle
    Arrow pass over the image table; see the module docstring for the
    signal definitions. ``[lo, hi]`` is the DECLARED value range of
    the payload family (defaults fit raw16/uint16); pass the physical
    range for rawf32 payloads. ``bands`` restricts the statistics to
    those plane indices (output rows keep the original index) — gate
    the DATA bands and leave the QA/mask plane out, whose low-entropy
    class codes would otherwise fail every scene."""
    if not (np.isfinite(lo) and np.isfinite(hi)) or hi <= lo:
        raise ValueError(f"invalid value range [{lo}, {hi}]")
    if not 0.0 <= clip_frac < 0.5:
        raise ValueError(f"clip_frac must be in [0, 0.5), "
                         f"got {clip_frac}")
    names = {f.name for f in df.schema.fields}
    for req in (id_col, "bytes", "w", "h", "fmt", "nodata"):
        if req not in names:
            raise ValueError(
                f"quality_stats input is missing column {req!r}")
    lnames = [f.name for f in df.schema.fields]
    keep = None if bands is None else sorted({int(b) for b in bands})
    if keep is not None and (not keep or keep[0] < 0):
        raise ValueError(f"invalid band selection {bands!r}")
    cols = ["image_id", "band", "n_valid", "valid_frac", "mean",
            "std", "blur_var", "entropy", "dark_frac", "bright_frac"]

    def part(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            for row in pdf[lnames].itertuples(index=False):
                arr = codec.decode(row.bytes, int(row.w), int(row.h),
                                   row.fmt)
                nd = codec.row_band_meta(row, len(arr), "band_nodata",
                                         codec.nodata_scalar(row.nodata))
                A = codec.to_float_masked(arr, nd)
                if keep is not None:
                    if keep[-1] >= len(A):
                        raise ValueError(
                            f"band selection {keep} exceeds the "
                            f"{len(A)}-band payload")
                    sel = keep
                    A = A[sel]
                else:
                    sel = range(len(A))
                for bi, stats in zip(sel, quality_np(A, lo, hi,
                                                     clip_frac)):
                    rows.append((getattr(row, id_col), bi) + stats)
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(part, STATS_SCHEMA)


def quality_filter(df: DataFrame, min_entropy: float | None = None,
                   min_blur_var: float | None = None,
                   max_dark_frac: float | None = None,
                   max_bright_frac: float | None = None,
                   min_valid_frac: float | None = None,
                   lo: float = 0.0, hi: float = 65535.0,
                   clip_frac: float = 0.02,
                   id_col: str = "image_id",
                   bands=None) -> DataFrame:
    """Keep scenes where EVERY gated band passes every threshold —
    the curation gate. The stats side reduces to one boolean per
    scene (``bool_and`` over bands, map-side combinable) and comes
    back as a semi join on ``id_col``; the corpus side never moves.
    NaN statistics (all-nodata bands, stencil-free strips) FAIL the
    thresholds that inspect them — a scene must prove its quality."""
    # Spark orders NaN ABOVE every value, so a bare `entropy >= t`
    # would let an all-nodata band (NaN stats) pass a minimum — every
    # condition carries an explicit NaN rejection
    def _ok(col, cmp):
        return (~F.isnan(F.col(col))) & cmp

    conds = []
    if min_entropy is not None:
        conds.append(_ok("entropy",
                         F.col("entropy") >= float(min_entropy)))
    if min_blur_var is not None:
        conds.append(_ok("blur_var",
                         F.col("blur_var") >= float(min_blur_var)))
    if max_dark_frac is not None:
        conds.append(_ok("dark_frac",
                         F.col("dark_frac") <= float(max_dark_frac)))
    if max_bright_frac is not None:
        conds.append(_ok("bright_frac",
                         F.col("bright_frac") <= float(max_bright_frac)))
    if min_valid_frac is not None:
        conds.append(_ok("valid_frac",
                         F.col("valid_frac") >= float(min_valid_frac)))
    if not conds:
        raise ValueError("quality_filter: no thresholds given")
    ok = conds[0]
    for c in conds[1:]:
        ok = ok & c
    passing = (quality_stats(df, lo=lo, hi=hi, clip_frac=clip_frac,
                             id_col=id_col, bands=bands)
               .groupBy("image_id")
               .agg(F.bool_and(F.coalesce(ok, F.lit(False)))
                    .alias("_pass"))
               .filter("_pass")
               .select(F.col("image_id").alias(id_col)))
    return df.join(passing, id_col, "left_semi")
