"""Time-series analysis functions (reference ``seriesPeriodDetectFFT``,
upstream ``src/Functions/seriesPeriodDetectFFT.cpp``).

Arrow-batched pandas UDF over an array column — the array is one
series per row (the reference's signature), so the per-row cost is the
FFT of that row's array, independent of table size; the table scan
itself stays fully distributed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from clickhouse_clickhouse_spark.functions.kernels import kernel, per_value


def fft_period_py(vals) -> float:
    """Dominant period of a series by FFT ([U]
    src/Functions/seriesPeriodDetectFFT.cpp): detrend by mean removal,
    take the positive-frequency bin with the largest magnitude, return
    n / bin_index. NaN when no dominant cycle exists (constant series,
    fewer than 4 points, or the DC-adjacent bin winning) — the Arrow
    UDF boundary surfaces that NaN as SQL NULL."""
    if vals is None:
        return None
    a = np.asarray(vals, dtype=np.float64)
    if a.size < 4 or not np.all(np.isfinite(a)):
        return float("nan")
    a = a - a.mean()
    if not a.any():
        return float("nan")
    mag = np.abs(np.fft.rfft(a))
    # bin 0 is DC (removed by detrending but keep it excluded); bin 1 is
    # the whole-window cycle — a "period" only if genuinely dominant
    if mag.size < 3:
        return float("nan")
    peak = 1 + int(np.argmax(mag[1:]))
    if mag[peak] <= 0:
        return float("nan")
    return float(a.size / peak)


kernel("__series_fft_period", "double")(per_value(fft_period_py))


def _loess_eval(x: np.ndarray, y: np.ndarray, xe: np.ndarray,
                span: int) -> np.ndarray:
    """LOESS degree-1 smoother: for each evaluation point take the
    ``span`` nearest inputs, tricube-weight by distance / d_max, fit a
    weighted line, evaluate. The workhorse of the STL loops (Cleveland
    et al. 1990, "STL: A Seasonal-Trend decomposition procedure based
    on Loess"). O(len(xe) * span) per call — per-row bounded."""
    n = x.size
    q = max(2, min(int(span), n))
    out = np.empty(xe.size)
    for j, xv in enumerate(xe):
        d = np.abs(x - xv)
        if n > q:
            cut = np.partition(d, q - 1)[q - 1]
            sel = d <= cut
        else:
            sel = np.ones(n, dtype=bool)
        xs, ys, ds = x[sel], y[sel], d[sel]
        dmax = ds.max()
        if dmax <= 0:
            out[j] = ys.mean()
            continue
        # tricube weights; lambda_q(x) uses max(dist, qth) so spans
        # larger than the data behave like a global fit
        w = (1 - np.minimum(ds / dmax, 1.0) ** 3) ** 3
        sw = w.sum()
        if sw <= 0:
            out[j] = ys.mean()
            continue
        xm = (w * xs).sum() / sw
        ym = (w * ys).sum() / sw
        den = (w * (xs - xm) ** 2).sum()
        b = (w * (xs - xm) * (ys - ym)).sum() / den if den > 0 else 0.0
        out[j] = ym + b * (xv - xm)
    return out


def _ma(a: np.ndarray, m: int) -> np.ndarray:
    """Length-m moving average, 'valid' mode (len shrinks by m-1)."""
    c = np.cumsum(np.concatenate(([0.0], a)))
    return (c[m:] - c[:-m]) / m


def stl_decompose_py(vals, period, seasonal_len: int = 7,
                     inner: int = 2):
    """Classical STL inner loop ([U] src/Functions/seriesDecomposeSTL
    .cpp wraps the Rust ``stl`` crate; this is the same published
    Cleveland et al. 1990 procedure re-implemented on numpy — bit
    parity with the crate's output is out of scope, the decomposition
    CONTRACT is pinned instead: seasonal + trend + residue == input
    exactly, seasonal carries the cycle, trend is smooth):

    per inner pass — (1) cycle-subseries LOESS (span ``seasonal_len``,
    each subseries extended one period each side), (2) low-pass
    MA(p)→MA(p)→MA(3)→LOESS(n_l) removed from the subseries smooth to
    de-trend the seasonal, (3) trend LOESS (span n_t) of the
    deseasonalized series. Defaults are the paper's: n_s = 7,
    n_t = next_odd(1.5 p / (1 − 1.5/n_s)), n_l = next_odd(p),
    2 inner passes, 0 robustness passes.

    Returns [seasonal, trend, residue, baseline] (baseline = seasonal
    + trend, the upstream 4-array convention) or None for series the
    upstream also rejects (period < 2, fewer than 2 periods of data,
    non-finite values)."""
    if vals is None or period is None:
        return None
    y = np.asarray(vals, dtype=np.float64)
    p = int(period)
    n = y.size
    if p < 2 or n < 2 * p or not np.all(np.isfinite(y)):
        return None
    ns = seasonal_len + (1 - seasonal_len % 2)
    nt = int(np.ceil(1.5 * p / (1 - 1.5 / ns)))
    nt += 1 - nt % 2
    nl = p + (1 - p % 2)
    xs_all = np.arange(n, dtype=np.float64)
    trend = np.zeros(n)
    seasonal = np.zeros(n)
    for _ in range(max(1, inner)):
        detr = y - trend
        ext = np.empty(n + 2 * p)
        for k in range(p):
            idx = np.arange(k, n, p, dtype=np.int64)
            xsub = idx.astype(np.float64)
            ev = np.concatenate(([xsub[0] - p], xsub, [xsub[-1] + p]))
            sm = _loess_eval(xsub, detr[idx], ev, ns)
            ext[(ev + p).astype(np.int64)] = sm
        low = _loess_eval(xs_all, _ma(_ma(_ma(ext, p), p), 3),
                          xs_all, nl)
        seasonal = ext[p:n + p] - low
        trend = _loess_eval(xs_all, y - seasonal, xs_all, nt)
    resid = y - seasonal - trend
    return [seasonal.tolist(), trend.tolist(), resid.tolist(),
            (seasonal + trend).tolist()]


kernel("__series_stl", "array<array<double>>")(per_value(stl_decompose_py))
