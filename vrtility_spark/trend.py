"""Per-pixel temporal trend: ordinary-least-squares slope/intercept of
each pixel's time series — the classic EO change-rate product
(vegetation greening/browning maps, deforestation rate).

The reference's time-series surface is per-timestep filtering
(src/hampel-filter-matrix.cpp, R/singleband-many-to-many.R); the trend
is its natural reduction twin: one fit per (pixel, band) over the whole
stack, emitted as a composite-shaped tile with three planes per input
band — ``slope`` (units/year), ``intercept`` (value at ``TREND_EPOCH``),
``n_obs`` (valid observations used).

Spark-first shape: the fit is DECOMPOSABLE — the per-pixel sufficient
statistics ``(n, Σt, Σt², Σy, Σt·y)`` fold scene-by-scene, so the
default path streams scenes through per-partition running accumulators
(one narrow ``mapInPandas``) and shuffles only O(partitions × cells)
fixed-size partial rows, never a scene stack: group memory and shuffle
volume are independent of the number of scenes per cell, the same
bound the incremental composite proves (composite.incremental_partials).
``mode="stack"`` keeps the direct grouped-stack computation for
bit-parity debugging at small T.
"""

from __future__ import annotations

from typing import Callable, Iterable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

from vrtility_spark import codec
from vrtility_spark.composite import (
    MAX_ACTIVE_BYTES, MAX_STACK_BYTES, _check_profile, _check_scene_profile,
    _decode_scene, _profile_key, arrow_schema, arrow_table, cell_stack,
    stack_input)

#: fixed time origin: ``t`` is fractional Julian years since this
#: instant, so intercepts are comparable across jobs and the partial
#: sums are deterministic (no data-dependent centering).
TREND_EPOCH = pd.Timestamp("2020-01-01")
_EPOCH_NS = np.int64(TREND_EPOCH.value)
_YEAR_NS = 365.25 * 86400.0 * 1e9

#: denominators below this are treated as degenerate (all valid
#: observations at one timestamp): n·Σt² − (Σt)² grows like
#: n²·var(t_years), so any real multi-date series clears this easily.
_DEN_EPS = 1e-12

TREND_SCHEMA = (
    "cell_id long, bytes binary, w int, h int, fmt string, n_scenes int, "
    "datetime_min timestamp, datetime_max timestamp, nodata double"
)

_PARTIAL_SCHEMA = (
    "cell_id long, w int, h int, fmt string, nodata double, "
    "band_nodata array<double>, nb int, n_scenes int, acc binary, "
    "dt_min timestamp, dt_max timestamp"
)


def t_years(ts_ns) -> np.ndarray:
    """Nanosecond timestamps → fractional years since TREND_EPOCH."""
    return (np.asarray(ts_ns, dtype=np.int64) - _EPOCH_NS) / _YEAR_NS


def trend_finalize(acc: np.ndarray) -> np.ndarray:
    """``(5, B, H, W)`` sufficient statistics → ``(3B, H, W)`` planes.

    acc rows: ``n, Σt, Σt², Σy, Σt·y`` (per pixel, NaN-masked adds).
    Output planes: ``slope_0..B-1, intercept_0..B-1, n_obs_0..B-1``;
    slope/intercept are NaN where fewer than 2 observations or all
    observations share one timestamp (degenerate denominator).
    """
    n, st, stt, sy, sty = acc
    den = n * stt - st * st
    with np.errstate(divide="ignore", invalid="ignore"):
        slope = (n * sty - st * sy) / den
        bad = (n < 2) | ~(den > _DEN_EPS)
        slope = np.where(bad, np.nan, slope)
        icept = np.where(bad, np.nan, (sy - np.where(bad, 0.0, slope) * st) / n)
    return np.concatenate([slope, icept, n], axis=0)


def trend_np(ts_years: np.ndarray, stack: np.ndarray) -> np.ndarray:
    """OLS trend of a ``(T, B, H, W)`` NaN-masked float stack against
    times ``(T,)`` (years) — vectorized closed form, all pixels at
    once. Returns ``(3B, H, W)`` float64 (see :func:`trend_finalize`)."""
    t = np.asarray(ts_years, dtype=np.float64).reshape(-1, 1, 1, 1)
    ok = ~np.isnan(stack)
    y = np.where(ok, stack, 0.0)
    okf = ok.astype(np.float64)
    acc = np.stack([
        okf.sum(axis=0),
        (t * okf).sum(axis=0),
        (t * t * okf).sum(axis=0),
        y.sum(axis=0),
        (t * y).sum(axis=0),
    ])
    return trend_finalize(acc)


#: finite output sentinel (gdaldem's classic -9999, same rationale as
#: terrain.py:149): a NaN ``nodata`` double surfaces as NULL through
#: the Arrow grouped-map boundary, breaking float(row.nodata) in
#: downstream cell-keyed operators.
OUT_NODATA = -9999.0


def _out_row(cell_id, planes, w, h, n, dt_min, dt_max):
    payload = codec.from_float(planes, OUT_NODATA, "float32")
    return {
        "cell_id": int(cell_id),
        "bytes": codec.encode(payload, "rawf32"),
        "w": int(w), "h": int(h), "fmt": "rawf32",
        "n_scenes": int(n), "datetime_min": dt_min,
        "datetime_max": dt_max, "nodata": OUT_NODATA,
    }


def _stack_map(df: DataFrame, key: str, scene_fn, max_stack_bytes,
               kernel: Callable[[np.ndarray, np.ndarray], np.ndarray],
               hatch: str = "") -> DataFrame:
    """One cell-keyed grouped map over :func:`composite.cell_stack`
    (the group rules live there) emitting one ``rawf32`` tile of
    ``kernel(t_years, stack)`` per cell — the stack path of every
    per-pixel time statistic (trend, harmonic, MK/Sen, breaks)."""

    out_schema = arrow_schema(TREND_SCHEMA)

    def run(tbl: pa.Table) -> pa.Table:
        tbl, stack, _ = cell_stack(tbl, key, scene_fn,
                                   max_stack_bytes=max_stack_bytes,
                                   hatch=hatch)
        if stack is None:
            return out_schema.empty_table()
        # rows come sorted by datetime: the first and last are the range
        dts = tbl.column("datetime").to_numpy()
        ts = t_years(dts.astype("datetime64[ns]").astype(np.int64))
        row = _out_row(tbl.column(key)[0].as_py(), kernel(ts, stack),
                       tbl.column("w")[0].as_py(),
                       tbl.column("h")[0].as_py(), len(dts), dts[0],
                       dts[-1])
        return arrow_table(out_schema, **{c: [v] for c, v in row.items()})

    return (stack_input(df, key).groupBy(key)
            .applyInArrow(run, schema=TREND_SCHEMA))


def _stat_partials(df: DataFrame, key: str, scene_fn, q: int,
                   fold: Callable[[np.ndarray, float, np.ndarray], None],
                   max_active_cells: int, max_active_bytes: int
                   ) -> DataFrame:
    """Stage 1 of an incremental fit: a narrow per-partition map holding
    one ``(q, B, H, W)`` float64 sufficient-statistics block per active
    cell; ``fold(acc, t_years, data)`` adds one decoded scene in place.
    States flush early past either working-set bound (cells or bytes),
    so task memory is capped regardless of scenes per cell — and this
    stage's output is the ONLY thing the fit shuffles. Scenes follow
    :func:`composite.cell_stack`'s rules: a null datetime drops, one
    profile per cell."""

    def partials(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        states: dict[int, list] = {}  # cell -> [profile, acc, n, lo, hi]

        def flush():
            rows = []
            for c, (profile, acc, n, lo, hi) in states.items():
                w, h, fmt, nd, bn = profile
                rows.append({
                    "cell_id": int(c), "w": w, "h": h, "fmt": fmt,
                    # NaN profile keys are the STRING "nan" (see
                    # composite._profile_key); the Arrow double column
                    # needs the float back
                    "nodata": float("nan") if isinstance(nd, str) else nd,
                    "band_nodata": (None if bn is None else
                                    list(np.frombuffer(bn, "<f8"))),
                    "nb": int(acc.shape[1]), "n_scenes": int(n),
                    "acc": acc.astype("<f8").tobytes(),
                    "dt_min": lo, "dt_max": hi,
                })
            states.clear()
            return pd.DataFrame(rows)

        for pdf in batches:
            for row in pdf.itertuples(index=False):
                if pd.isna(row.datetime):
                    continue
                cell = int(getattr(row, key))
                data = _decode_scene(row, scene_fn)
                st = states.get(cell)
                if st is None:
                    st = states[cell] = [
                        _profile_key(row), np.zeros((q,) + data.shape), 0,
                        row.datetime, row.datetime]
                else:
                    _check_scene_profile(st[0], row, cell)
                    if data.shape != st[1].shape[1:]:
                        raise ValueError(
                            f"cell {cell}: scene plane shape {data.shape} "
                            f"disagrees with the accumulator "
                            f"{st[1].shape[1:]} (mixed band counts)")
                fold(st[1], float(t_years(np.int64(
                    pd.Timestamp(row.datetime).value))), data)
                st[2] += 1
                st[3] = min(st[3], row.datetime)
                st[4] = max(st[4], row.datetime)
            tot = sum(s[1].nbytes for s in states.values())
            if states and (len(states) > max_active_cells
                           or tot >= max_active_bytes):
                yield flush()
        if states:
            yield flush()

    return df.mapInPandas(partials, schema=_PARTIAL_SCHEMA)


def _stat_merge(part: DataFrame, q: int,
                finalize: Callable[[np.ndarray], np.ndarray]) -> DataFrame:
    """Stage 2: sum each cell's partial blocks (elementwise) and
    finalize them into the output tile."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        # cross-PARTITION profile agreement (each partial was checked
        # internally)
        _check_profile(pdf, "cell_id", "partials")
        first = pdf.iloc[0]
        shape = (q, int(first.nb), int(first.h), int(first.w))
        acc = np.zeros(shape)
        for b in pdf.acc:
            acc += np.frombuffer(b, "<f8").reshape(shape)
        return pd.DataFrame([_out_row(
            first.cell_id, finalize(acc), first.w, first.h,
            int(pdf.n_scenes.sum()), pdf.dt_min.min(), pdf.dt_max.max())])

    return part.groupBy("cell_id").applyInPandas(merge, schema=TREND_SCHEMA)


def _fold_trend(acc: np.ndarray, t: float, data: np.ndarray) -> None:
    ok = ~np.isnan(data)
    y = np.where(ok, data, 0.0)
    acc[0] += ok
    acc[1] += t * ok
    acc[2] += (t * t) * ok
    acc[3] += y
    acc[4] += t * y


def trend_stack(df: DataFrame, key: str = "cell_id",
                scene_fn: Callable | None = None,
                max_stack_bytes: int | None = MAX_STACK_BYTES) -> DataFrame:
    """Direct grouped-stack path: materializes the (T,B,H,W) stack per
    cell (:func:`composite.cell_stack`) — the bit-parity reference for
    :func:`trend_incremental` at small T."""
    return _stack_map(df, key, scene_fn, max_stack_bytes, trend_np,
                      hatch="mode='incremental' (never stacks), ")


def trend_partials(df: DataFrame, key: str = "cell_id",
                   scene_fn: Callable | None = None,
                   max_active_cells: int = 64,
                   max_active_bytes: int = MAX_ACTIVE_BYTES) -> DataFrame:
    """Stage 1: narrow per-partition accumulator map; each state is a
    ``(5, B, H, W)`` block of ``n, Σt, Σt², Σy, Σt·y``
    (see :func:`_stat_partials`)."""
    return _stat_partials(df, key, scene_fn, 5, _fold_trend,
                          max_active_cells, max_active_bytes)


def trend_incremental(df: DataFrame, key: str = "cell_id",
                      scene_fn: Callable | None = None,
                      max_active_cells: int = 64,
                      max_active_bytes: int = MAX_ACTIVE_BYTES) -> DataFrame:
    """Bounded-memory trend: partial sufficient statistics per
    partition, merged per cell (elementwise sum), finalized in closed
    form — scenes never shuffle and no stack is ever materialized."""
    return _stat_merge(trend_partials(df, key=key, scene_fn=scene_fn,
                                      max_active_cells=max_active_cells,
                                      max_active_bytes=max_active_bytes),
                       5, trend_finalize)


def trend(df: DataFrame, key: str = "cell_id",
          scene_fn: Callable | None = None,
          mode: str = "auto", **kw) -> DataFrame:
    """Per-pixel OLS trend router: ``auto``/``incremental`` stream
    scene-by-scene (the 100-TB shape); ``stack`` materializes the
    grouped stack (RAM-guarded) for bit-parity checks."""
    if mode in ("auto", "incremental"):
        return trend_incremental(df, key=key, scene_fn=scene_fn, **kw)
    if mode == "stack":
        return trend_stack(df, key=key, scene_fn=scene_fn, **kw)
    raise KeyError(f"unknown trend mode {mode!r}; "
                   "choose auto | incremental | stack")
