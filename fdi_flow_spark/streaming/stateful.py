"""Structured Streaming variants of the stateful operators.

The reference hints at streaming reuse via ``KalmanFilter.reset()``
(``preprocessing/filters.py:358-361`` of the reference) and the observers'
one-``step``-per-sample APIs (``state_observers/*.py``); it has no actual
streaming runtime.

Layout: one driver, :func:`_stream`, is this module's
``applyInPandasWithState`` site for every ``(series_id, ts, value)``
recurrence. It takes a kernel ``scan(x, state) -> (out, state)``, a state
schema and an output schema; per key and micro-batch it loads the carried
state, sorts the rows on ``ts``, scans them and stores the outgoing state.
The kernels are the batch ones — EWMA, Holt and the scalar Kalman filter
come from ``operators.recurrences`` — so batch replay ≡ streaming replay
because both run the same code (asserted bit-for-bit in
``tests/test_streaming.py``). CUSUM and Page–Hinkley have JVM batch
operators, so their O(1) recursions are written here, once. The observer
keeps its own state function: it orders on ``step``, reads array columns
and rebuilds an observer object per batch.

Rows a series-start init cannot consume yet (Holt's first sample, whose
init reads x[1]) stay in state and are re-fed with the next micro-batch.

Windowed segmentation maps to event-time sliding windows with a watermark
(Spark's native late-data semantics; the reference has none, so watermark
choice is engine-defined).

Batches must arrive time-ordered per series for bit-equality with batch
replay (the contract of any incremental recurrence); out-of-order *within* a
micro-batch is handled by sorting on ``ts``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from fdi_flow_spark.operators.recurrences import (
    _ewma_scan,
    _holt_scan,
    _kalman1d_scan,
)

_OUT = StructType(
    [
        StructField("series_id", StringType()),
        StructField("ts", LongType()),
        StructField("value", DoubleType()),
    ]
)
_HELD = [
    StructField("_held_ts", ArrayType(LongType())),
    StructField("_held_x", ArrayType(DoubleType())),
]


def _doubles(*names: str) -> StructType:
    return StructType([StructField(n, DoubleType()) for n in names])


def _stream(df: DataFrame, scan, state_schema: StructType, out_schema: StructType):
    """Run ``scan`` per ``series_id`` over a stream of (series_id, ts, value).

    ``scan(x, state)`` gets the micro-batch's values in ts order and the
    carried state (``None`` before the first sample) and returns the
    outputs (one array for the ``value`` column, or a frame of the output
    columns after ``ts``) plus the outgoing state, a tuple matching
    ``state_schema``. Rows it leaves unconsumed are held in state."""
    names = out_schema.fieldNames()[2:]
    width = len(state_schema.fields)

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        carry, held_ts, held_x = None, [], []
        if state.exists:
            *carry, held_ts, held_x = state.get
            carry = None if carry[0] is None else tuple(carry)
        pdf = pd.concat(list(pdfs)).sort_values("ts")
        ts = np.concatenate([np.asarray(held_ts, np.int64), pdf["ts"].to_numpy(np.int64)])
        x = np.concatenate([np.asarray(held_x, np.float64), pdf["value"].to_numpy(np.float64)])
        out, carry = scan(x, carry)
        n = len(out)
        state.update((*(carry or (None,) * width), ts[n:].tolist(), x[n:].tolist()))
        frame = pd.DataFrame(out).set_axis(names, axis=1)
        frame.insert(0, "ts", ts[:n])
        frame.insert(0, "series_id", key[0])
        yield frame

    return df.groupBy("series_id").applyInPandasWithState(
        fn,
        out_schema,
        StructType(state_schema.fields + _HELD),
        "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_ewma(df: DataFrame, alpha: float) -> DataFrame:
    """EWMA over a stream of (series_id, ts, value). State: last smoothed s."""
    return _stream(df, _ewma_scan(alpha), _doubles("s"), _OUT)


def streaming_kalman_1d(
    df: DataFrame, q: float = 1.0, r: float = 1.0, x0: float | None = None, p0: float = 1.0
) -> DataFrame:
    """Scalar random-walk Kalman filter (reference F6) over a stream.
    State: (x, p)."""
    return _stream(df, _kalman1d_scan(q, r, x0, p0), _doubles("x", "p"), _OUT)


def streaming_holt(df: DataFrame, alpha: float = 0.3, beta: float = 0.1) -> DataFrame:
    """Holt double-exponential smoothing (reference F2) over a stream.

    The batch kernel initializes ``trend[0] = x[1] - x[0]`` — a one-sample
    LOOK-AHEAD — so the first input row cannot be emitted until the second
    arrives: it rides in state as a held sample and both outputs are
    emitted together (possibly in a later micro-batch than the first row's
    arrival; append mode permits that). Bit-equal to the batch operator for
    series with >= 2 samples — a 1-sample stream never emits (the batch op
    returns it unchanged, which a stream cannot know to do).
    State: (level, trend), plus the held first sample.
    """
    return _stream(df, _holt_scan(alpha, beta), _doubles("level", "trend"), _OUT)


_CUSUM_OUT = StructType(
    [
        StructField("series_id", StringType()),
        StructField("ts", LongType()),
        StructField("value", DoubleType()),
        StructField("cusum_pos", DoubleType()),
        StructField("cusum_neg", DoubleType()),
        StructField("alarm", BooleanType()),
    ]
)


def streaming_cusum(
    df: DataFrame, k: float, h: float, target: float
) -> DataFrame:
    """Two-sided CUSUM over a stream of (series_id, ts, value) — the online
    deployment of ``operators.drift.cusum``. State: the pair (S+, S-) —
    exactly the O(1) recursion state, so batch (reflected prefix sum) ≡
    streaming (textbook recursion) bit-for-bit; the parity test doubles as
    a proof of the reflection identity the batch rewrite relies on.

    ``target`` must be explicit here: the batch default (per-series mean)
    is a two-pass statistic a stream cannot know. Fit it offline, deploy it
    online — the scaler/TF-IDF fit/score pattern."""

    def scan(x: np.ndarray, state):
        sp, sn = state or (0.0, 0.0)
        pos = np.empty(len(x))
        neg = np.empty(len(x))
        for i, xi in enumerate(x.tolist()):
            sp = max(0.0, sp + (xi - target - k))
            sn = max(0.0, sn + (target - xi - k))
            pos[i] = sp
            neg[i] = sn
        alarm = (pos > h) | (neg > h)
        cols = {"value": x, "cusum_pos": pos, "cusum_neg": neg, "alarm": alarm}
        return pd.DataFrame(cols), (sp, sn)

    return _stream(df, scan, _doubles("sp", "sn"), _CUSUM_OUT)


_PH_OUT = StructType(
    [
        StructField("series_id", StringType()),
        StructField("ts", LongType()),
        StructField("value", DoubleType()),
        StructField("ph_stat", DoubleType()),
        StructField("alarm", BooleanType()),
    ]
)


def streaming_page_hinkley(df: DataFrame, delta: float, lam: float) -> DataFrame:
    """Page–Hinkley over a stream — the online twin of
    ``operators.drift.page_hinkley``. State: (count, running sum, m, min m)
    — O(1) per series; the running mean continues exactly where the last
    micro-batch left off, so batch ≡ streaming (float atol)."""
    state_schema = StructType(
        [StructField("n", LongType())] + _doubles("csum", "m", "mmin").fields
    )

    def scan(x: np.ndarray, state):
        n, csum, m, mmin = state or (0, 0.0, 0.0, np.inf)
        ph = np.empty(len(x))
        for i, xi in enumerate(x.tolist()):
            n += 1
            csum += xi
            m += xi - csum / n - delta
            mmin = min(mmin, m)
            ph[i] = m - mmin
        cols = {"value": x, "ph_stat": ph, "alarm": ph > lam}
        return pd.DataFrame(cols), (n, csum, m, mmin)

    return _stream(df, scan, state_schema, _PH_OUT)


def streaming_dedup_exact(
    docs: DataFrame,
    time_col: str = "event_time",
    watermark: str = "10 minutes",
    text_col: str = "text",
) -> DataFrame:
    """Streaming exact dedup — the streaming analog of
    ``pipelines.dedup.exact_dedup``: first occurrence of each content digest
    is kept; re-arrivals within the watermark horizon are dropped, and the
    per-digest state expires once the watermark passes (bounded state — the
    property that lets this run forever at ingest scale; the batch op has no
    such horizon because it sees everything)."""
    return (
        docs.withColumn("digest", F.md5(F.col(text_col)))
        .withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark(["digest"])
    )


_OBS_OUT = StructType(
    [
        StructField("series_id", StringType()),
        StructField("step", LongType()),
        StructField("x_hat", ArrayType(DoubleType())),
    ]
)


def streaming_observer(df: DataFrame, observer_factory) -> DataFrame:
    """Streaming replay of a Luenberger observer over (series_id, step, u, y)
    rows. State: flattened x̂. The observer object is rebuilt per batch from
    the factory (gains are deterministic), the estimate rides in state."""
    state_schema = StructType([StructField("x_hat", ArrayType(DoubleType()))])

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        obs = observer_factory()
        if state.exists:
            obs.x_hat = np.array(state.get[0], dtype=float).reshape(-1, 1)
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values("step")
            xs = []
            for _, row in pdf.iterrows():
                x = obs.update(np.array(row["u"], dtype=float), np.array(row["y"], dtype=float))
                xs.append(x.ravel().tolist())
            out.append(
                pd.DataFrame(
                    {"series_id": key[0], "step": pdf["step"].to_numpy(), "x_hat": xs}
                )
            )
        state.update(([float(v) for v in obs.x_hat.ravel()],))
        yield pd.concat(out)

    return df.groupBy("series_id").applyInPandasWithState(
        fn, _OBS_OUT, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def streaming_sessions(
    df: DataFrame,
    key_col: str = "user_id",
    time_col: str = "event_time",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming gap-based sessionization via Spark's native
    ``session_window`` — the online analog of ``operators.analytics
    .sessionize`` (same boundary rule: events merge while gaps stay within
    ``gap``; state closes and emits once the watermark passes the session
    end, which is what bounds state at ingest scale). Output: one row per
    closed session ``(key, session_start, session_end, n_events)``.

    Works identically on a batch frame (used by the batch≡sessionize parity
    test — two independent kernels, one session definition)."""
    g = df
    if df.isStreaming:
        g = df.withWatermark(time_col, watermark)
    return (
        g.groupBy(F.col(key_col), F.session_window(F.col(time_col), gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_segment_windows(
    df: DataFrame,
    window_duration: str = "10 seconds",
    slide_duration: str = "5 seconds",
    watermark: str = "30 seconds",
    time_col: str = "event_time",
) -> DataFrame:
    """Event-time sliding-window aggregation over a stream — the streaming
    analog of the batch segmenter (G1): per (series, window) collect count /
    mean / min / max. Late rows beyond the watermark are dropped (Spark
    semantics; the reference has no late-data story)."""
    return (
        df.withWatermark(time_col, watermark)
        .groupBy(
            F.col("series_id"),
            F.window(F.col(time_col), window_duration, slide_duration),
        )
        .agg(
            F.count("value").alias("n"),
            F.avg("value").alias("mean"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
        )
        .select(
            "series_id",
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n",
            "mean",
            "min",
            "max",
        )
    )
