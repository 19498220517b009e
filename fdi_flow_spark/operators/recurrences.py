"""Sequential per-series recurrences — the ops Spark SQL cannot express as
window functions (each output depends on the previous *output*).

Reference semantics (``preprocessing/filters.py`` of the reference):

- ``exponential_smoothing``  (EWMA)      ``filters.py:42-74``
- ``double_exponential_smoothing`` (Holt) ``filters.py:77-119`` — returns
  ``level + trend`` (one-step-ahead forecast), series with n<2 unchanged.
- ``kalman_filter_1d``  (scalar random-walk KF) ``filters.py:295-369``
- ``bandpass_filter``   (FFT zero-out)   ``filters.py:241-293``

Layout: one kernel per recurrence, three drivers over it.

- **Kernel.** ``_ewma_scan`` / ``_holt_scan`` / ``_kalman1d_scan`` build a
  NumPy ``scan(x, state) -> (out, state)`` that continues the recurrence
  from a carried O(1) state (EWMA: (s,); Holt: (level, trend); KF: (x, p)).
  ``state=None`` means "series start" and runs the reference init (EWMA
  s0=x0; Holt level=x0, trend=x1-x0; KF x0/p0). An init that needs more
  samples than it was given (Holt on one sample) consumes nothing and
  returns a shorter ``out``. Parameter checks run where the kernel is
  built, so batch, chunked and streaming raise the same error.
- **Batch:** :func:`_apply_per_series` scans each whole series from
  ``None`` (one Arrow-batched Python call per series).
- **Chunked:** :func:`_chunked` serves series too long for one executor
  group: pass 1 summarises each (series, chunk) with the kernel, a
  per-series carry chain composes the summaries, pass 2 rescans each chunk
  from its carry with the same kernel.
- **Streaming:** ``fdi_flow_spark.streaming.stateful`` scans each
  micro-batch from the state store's carry.

Batch and stream agree because they run the same code. Bandpass is
whole-series by definition (FFT) and has only the batch mode.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from fdi_flow_spark.core.series import SERIES_ID, assert_long

_OUT_SCHEMA = StructType(
    [
        StructField("series_id", StringType()),
        StructField("ts", LongType()),
        StructField("value", DoubleType()),
    ]
)


def _apply_per_series(df: DataFrame, kernel) -> DataFrame:
    """Run a 1-D numpy kernel per series, preserving (series_id, ts, value)."""
    assert_long(df)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts")
        out = kernel(pdf["value"].to_numpy(dtype=np.float64))
        return pd.DataFrame(
            {
                "series_id": pdf["series_id"].to_numpy(),
                "ts": pdf["ts"].to_numpy(),
                "value": out,
            }
        )

    return df.groupBy(SERIES_ID).applyInPandas(fn, schema=_OUT_SCHEMA)


def _replay(scan, x: np.ndarray, state=None) -> np.ndarray:
    """Scan ``x`` from ``state``. Samples a series-start init could not
    consume (a series shorter than the init reads) are returned unchanged —
    the reference's rule for short series."""
    if len(x) == 0:
        return x.copy()
    out, _ = scan(x, state)
    return out if len(out) == len(x) else np.concatenate([out, x[len(out):]])


# ------------------------------------------------------------ chunked driver

_SUMMARY_SCHEMA = StructType(
    [
        StructField("series_id", StringType()),
        StructField("_chunk", LongType()),
        StructField("_len", LongType()),
        StructField("_head", ArrayType(DoubleType())),
        StructField("_body", ArrayType(DoubleType())),
    ]
)
_CARRY_SCHEMA = StructType(
    [
        StructField("series_id", StringType()),
        StructField("_chunk", LongType()),
        StructField("_carry", ArrayType(DoubleType())),
    ]
)


def _cells(state):
    return None if state is None else [float(v) for v in state]


def _chunked(
    df: DataFrame, scan, chunk_size: int, zero, decay, positional: bool = False
) -> DataFrame:
    """The one chunk-parallel driver for a recurrence whose state is linear
    in the input: the state after a chunk is ``decay(carry, n, start) +
    scan(chunk, zero(start))``, where ``zero(start)`` is the zero-carry state
    of a chunk beginning at series rank ``start`` and ``decay`` carries the
    incoming state through ``n`` zero inputs (closed form, O(1) per chunk).

    1. pass 1 scans each (series, chunk) once from ``zero`` (its ``_body``)
       and, if it may head its series, once from ``None`` (its ``_head``);
    2. the carry chain runs over one summary row per chunk: the head's
       exact-init state, then ``decay + body`` per later chunk;
    3. pass 2 rescans each chunk from its carry with the same kernel.

    Three Python passes, no row_number window: ``_chunk`` derives
    arithmetically from ``ts``, and the head is whichever chunk sorts first,
    so a series need not start at ts=0 or be dense. ``positional``
    recurrences (coefficients indexed by series rank) also get each chunk's
    start rank, from a map-side-combinable count and a window over the tiny
    per-chunk count table, broadcast back. Matches the sequential kernel to
    ~1e-12 relative (the carry is composed, not replayed).
    """
    assert_long(df)
    base = df.withColumn("_chunk", (F.col("ts") / chunk_size).cast("long"))
    if positional:
        counts = base.groupBy("series_id", "_chunk").agg(F.count("*").alias("_n"))
        before = (
            Window.partitionBy("series_id")
            .orderBy("_chunk")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        starts = counts.select(
            "series_id",
            "_chunk",
            F.coalesce(F.sum("_n").over(before), F.lit(0)).cast("long").alias("_start"),
        )
        base = base.join(F.broadcast(starts), ["series_id", "_chunk"])

    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf.sort_values("ts")["value"].to_numpy(dtype=np.float64)
        start = int(pdf["_start"].iloc[0]) if positional else None
        return pd.DataFrame(
            {
                "series_id": [pdf["series_id"].iloc[0]],
                "_chunk": [int(pdf["_chunk"].iloc[0])],
                "_len": [len(x)],
                "_head": [_cells(scan(x, None)[1]) if not start else None],
                "_body": [_cells(scan(x, zero(start))[1]) if start != 0 else None],
            }
        )

    def chain(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_chunk")
        carries, state, start = [], None, 0
        for n, head, body in zip(pdf["_len"], pdf["_head"], pdf["_body"]):
            carries.append(_cells(state))  # the head takes no carry
            if state is not None:
                state = np.add(decay(state, int(n), start), body)
            elif head is None and len(pdf) > 1:
                raise ValueError(
                    "chunked scan: the head chunk holds fewer samples than the "
                    "series-start init reads (its look-ahead would cross the "
                    "chunk boundary); use the sequential operator or a larger "
                    "chunk_size"
                )
            else:
                state = head
            start += int(n)
        return pd.DataFrame(
            {
                "series_id": pdf["series_id"].to_numpy(),
                "_chunk": pdf["_chunk"].to_numpy(),
                "_carry": carries,
            }
        )

    def rescan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts")
        carry = pdf["_carry"].iloc[0]
        x = pdf["value"].to_numpy(dtype=np.float64)
        return pd.DataFrame(
            {
                "series_id": pdf["series_id"].to_numpy(),
                "ts": pdf["ts"].to_numpy(),
                "value": _replay(scan, x, None if carry is None else tuple(carry.tolist())),
            }
        )

    by_chunk = ["series_id", "_chunk"]
    summaries = base.groupBy(*by_chunk).applyInPandas(summarize, _SUMMARY_SCHEMA)
    carries = summaries.groupBy("series_id").applyInPandas(chain, _CARRY_SCHEMA)
    joined = base.join(F.broadcast(carries), by_chunk)
    return joined.groupBy(*by_chunk).applyInPandas(rescan, _OUT_SCHEMA)


# ---------------------------------------------------------------- EWMA (F1)


def _ewma_scan(alpha: float):
    """s[0]=x[0]; s[i] = a*x[i] + (1-a)*s[i-1] — pandas ewm(adjust=False)."""
    if not 0 < alpha < 1:
        raise ValueError("Alpha must be between 0 and 1")

    def scan(x: np.ndarray, state):
        # a carried s rides in front as the seed sample and is dropped again
        seq = x if state is None else np.concatenate((state, x))
        out = pd.Series(seq).ewm(alpha=alpha, adjust=False).mean().to_numpy(np.float64)
        out = out if state is None else out[1:]
        return out, (float(out[-1]),)

    return scan


def ewma_numpy(x: np.ndarray, alpha: float) -> np.ndarray:
    return _replay(_ewma_scan(alpha), x)


def exponential_smoothing(df: DataFrame, alpha: float = 0.3) -> DataFrame:
    return _apply_per_series(df, partial(_replay, _ewma_scan(alpha)))


def exponential_smoothing_chunked(
    df: DataFrame, alpha: float = 0.3, chunk_size: int = 100_000
) -> DataFrame:
    """EWMA for series too long for one executor group — the 100 TB path
    for recurrences (SURVEY.md §7 'hard parts' #1). EWMA is linear, so a
    carry s decays as (1-a)^n through n samples; see :func:`_chunked`."""
    return _chunked(
        df,
        _ewma_scan(alpha),
        chunk_size,
        zero=lambda start: (0.0,),
        decay=lambda s, n, start: (s[0] * (1 - alpha) ** n,),
    )


# ----------------------------------------------------------------- Holt (F2)


def _holt_scan(alpha: float, beta: float):
    if not 0 < alpha < 1 or not 0 < beta < 1:
        raise ValueError("Alpha and beta must be between 0 and 1")
    a, b = alpha, beta

    def scan(x: np.ndarray, state):
        vals = x.tolist()
        out = np.empty(len(vals))
        if state is not None:
            (level, trend), first = state, 0
        elif len(vals) < 2:  # the init reads x[1]: nothing to emit yet
            return out[:0], None
        else:
            level, trend, first = vals[0], vals[1] - vals[0], 1
            out[0] = level + trend
        for i in range(first, len(vals)):
            prev = level
            level = a * vals[i] + (1 - a) * (level + trend)
            trend = b * (level - prev) + (1 - b) * trend
            out[i] = level + trend
        return out, (level, trend)

    return scan


def holt_numpy(x: np.ndarray, alpha: float, beta: float) -> np.ndarray:
    return _replay(_holt_scan(alpha, beta), x)


def double_exponential_smoothing(
    df: DataFrame, alpha: float = 0.3, beta: float = 0.1
) -> DataFrame:
    return _apply_per_series(df, partial(_replay, _holt_scan(alpha, beta)))


def double_exponential_smoothing_chunked(
    df: DataFrame, alpha: float = 0.3, beta: float = 0.1, chunk_size: int = 100_000
) -> DataFrame:
    """Holt smoothing for series too long for one executor group. Holt's
    update is affine in s = (level, trend)^T: s_i = A s_{i-1} + x_i c with
    A = [[1-a, 1-a], [-ab, 1-ab]], so a carry decays as A^n s through n
    samples; see :func:`_chunked`. A head chunk holding a single sample of a
    longer series (the init's x[1] look-ahead would cross the chunk
    boundary) raises rather than guessing."""
    scan = _holt_scan(alpha, beta)
    if chunk_size < 2:
        raise ValueError("chunk_size must be >= 2 (Holt init reads x[1])")
    A = np.array([[1 - alpha, 1 - alpha], [-alpha * beta, 1 - alpha * beta]])
    return _chunked(
        df,
        scan,
        chunk_size,
        zero=lambda start: (0.0, 0.0),
        decay=lambda s, n, start: np.linalg.matrix_power(A, n) @ s,
    )


# ----------------------------------------------------- scalar Kalman (F6)


def _kalman1d_scan(q: float, r: float, x0: float | None, p0: float):
    def scan(x: np.ndarray, state):
        vals = x.tolist()
        out = np.empty(len(vals))
        if state is not None:
            (s, p), first = state, 0
        else:
            s, p, first = float(vals[0] if x0 is None else x0), float(p0), 1
            out[0] = s
        for i in range(first, len(vals)):
            p_pred = p + q
            k = p_pred / (p_pred + r)
            s = s + k * (vals[i] - s)
            p = (1 - k) * p_pred
            out[i] = s
        return out, (s, p)

    return scan


def kalman1d_numpy(
    x: np.ndarray, q: float, r: float, x0: float | None, p0: float
) -> np.ndarray:
    return _replay(_kalman1d_scan(q, r, x0, p0), x)


def kalman_filter_1d(
    df: DataFrame,
    q: float = 1.0,
    r: float = 1.0,
    x0: float | None = None,
    p0: float = 1.0,
) -> DataFrame:
    return _apply_per_series(df, partial(_replay, _kalman1d_scan(q, r, x0, p0)))


def _kalman1d_gains(scan, p0: float, max_len: int = 100_000):
    """The scalar Kalman gain sequence k_1, k_2, ... is DATA-INDEPENDENT:
    the covariance follows the scalar Riccati recursion p' = (p+q)r/(p+q+r)
    from p0 alone, and for q > 0 it converges geometrically to the steady
    state, so the whole sequence is (converged prefix, constant tail).
    Steps the kernel on a unit sample from x=0 (its output IS the gain) and
    returns the gain prefix up to machine-precision convergence (the last
    entry is the steady-state gain) with the covariances p_0..p_N. Raises if
    convergence needs more than ``max_len`` steps (q ~ 0 decays only
    harmonically — use the sequential operator there)."""
    gains, ps, one = [], [float(p0)], np.ones(1)
    for _ in range(max_len):
        (k,), (_, p) = scan(one, (0.0, ps[-1]))
        # the float fixed point is a last-ulp 2-cycle, never exact equality;
        # a few-ulp relative test converges geometrically (q > 0) while the
        # harmonic q = 0 decay (diff ~ 1/i^2 vs tol ~ 1/i) still times out
        if gains and abs(k - gains[-1]) <= 1e-14 * abs(k):
            return np.array(gains), ps
        gains.append(k)
        ps.append(p)
    raise ValueError(
        f"Kalman gain sequence did not reach steady state within {max_len} "
        "steps (q is zero or degenerate); use kalman_filter_1d instead"
    )


def kalman_filter_1d_chunked(
    df: DataFrame,
    q: float = 1.0,
    r: float = 1.0,
    x0: float | None = None,
    p0: float = 1.0,
    chunk_size: int = 100_000,
) -> DataFrame:
    """Scalar Kalman smoothing for series too long for one executor group.

    The gain sequence is data-independent (see :func:`_kalman1d_gains`), so
    the x-update s_i = (1-k_i) s_{i-1} + k_i x_i is linear with KNOWN
    positional coefficients: a chunk starting at series rank ``start``
    begins from covariance p_{start-1}, and a carry decays by the product of
    (1-k_i) over the chunk's ranks. The gains are indexed by per-series RANK,
    not ts, so the driver runs positionally; see :func:`_chunked`.
    """
    scan = _kalman1d_scan(q, r, x0, p0)
    gains, ps = _kalman1d_gains(scan, p0)

    def decay(s, n, start):
        lo, hi = start - 1, start - 1 + n  # update at rank m uses gains[m-1]
        tail = max(0, hi - max(lo, len(gains)))  # ranks past the prefix
        return (s[0] * np.prod(1.0 - gains[lo:hi]) * (1.0 - gains[-1]) ** tail, 0.0)

    return _chunked(
        df,
        scan,
        chunk_size,
        zero=lambda start: (0.0, ps[min(start - 1, len(ps) - 1)]),
        decay=decay,
        positional=True,
    )


# ------------------------------------------------------------ bandpass (F5)


def bandpass_numpy(
    x: np.ndarray, low_cutoff: float, high_cutoff: float, sample_rate: float
) -> np.ndarray:
    n = len(x)
    if n == 0:
        return x.copy()
    fft = np.fft.fft(x)
    freqs = np.fft.fftfreq(n, d=1.0 / sample_rate)
    fft[(np.abs(freqs) < low_cutoff) | (np.abs(freqs) > high_cutoff)] = 0
    return np.real(np.fft.ifft(fft))


def bandpass_filter(
    df: DataFrame, low_cutoff: float, high_cutoff: float, sample_rate: float
) -> DataFrame:
    if low_cutoff >= high_cutoff:
        raise ValueError("Low cutoff must be less than high cutoff")
    if sample_rate <= 0:
        raise ValueError("Sample rate must be positive")
    return _apply_per_series(
        df, lambda x: bandpass_numpy(x, low_cutoff, high_cutoff, sample_rate)
    )
