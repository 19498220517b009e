import numpy as np
import pytest

from fdi_flow_spark.operators import (
    bandpass_filter,
    double_exponential_smoothing,
    exponential_smoothing,
    kalman_filter_1d,
    median_filter,
    moving_average,
)

from .conftest import collect_series, make_long
from .reference_kernels import (
    ref_bandpass,
    ref_ewma,
    ref_holt,
    ref_kalman1d,
    ref_median_filter,
    ref_moving_average,
)


def _input_arrays():
    rng = np.random.default_rng(7)
    t = np.linspace(0, 10, 60)
    return {
        "s1": 3 * np.sin(t) + rng.normal(0, 0.5, t.size),
        "s2": 2 * t + rng.normal(0, 0.5, t.size),
        "short": np.array([1.0, 2.0]),
    }


@pytest.mark.parametrize("W,padded", [(3, False), (4, False), (5, True), (4, True)])
def test_moving_average(spark, W, padded):
    arrays = _input_arrays()
    out = collect_series(moving_average(make_long(spark, arrays), W, pad_with_zeros=padded))
    for sid, arr in arrays.items():
        expected = ref_moving_average(arr, W, padded)
        np.testing.assert_allclose(out[sid], expected, rtol=1e-12, atol=1e-12)


@pytest.mark.parametrize("W,zeros", [(3, False), (4, False), (5, True), (4, True)])
def test_median_filter(spark, W, zeros):
    arrays = _input_arrays()
    out = collect_series(median_filter(make_long(spark, arrays), W, pad_with_zeros=zeros))
    for sid, arr in arrays.items():
        expected = ref_median_filter(arr, W, zeros)
        np.testing.assert_allclose(out[sid], expected, rtol=1e-12, atol=1e-12)


def test_ewma(spark):
    arrays = _input_arrays()
    out = collect_series(exponential_smoothing(make_long(spark, arrays), alpha=0.3))
    for sid, arr in arrays.items():
        np.testing.assert_allclose(out[sid], ref_ewma(arr, 0.3), rtol=1e-9)


def test_holt(spark):
    arrays = _input_arrays()
    arrays["len1"] = np.array([5.0])
    out = collect_series(
        double_exponential_smoothing(make_long(spark, arrays), alpha=0.3, beta=0.1)
    )
    for sid, arr in arrays.items():
        np.testing.assert_allclose(out[sid], ref_holt(arr, 0.3, 0.1), rtol=1e-9)


def test_kalman1d(spark):
    arrays = _input_arrays()
    out = collect_series(kalman_filter_1d(make_long(spark, arrays), q=0.5, r=2.0))
    for sid, arr in arrays.items():
        np.testing.assert_allclose(out[sid], ref_kalman1d(arr, 0.5, 2.0, None, 1.0), rtol=1e-9)
    out2 = collect_series(kalman_filter_1d(make_long(spark, arrays), q=1.0, r=1.0, x0=0.0, p0=2.0))
    for sid, arr in arrays.items():
        np.testing.assert_allclose(out2[sid], ref_kalman1d(arr, 1.0, 1.0, 0.0, 2.0), rtol=1e-9)


def test_bandpass(spark):
    arrays = {k: v for k, v in _input_arrays().items() if k != "short"}
    out = collect_series(bandpass_filter(make_long(spark, arrays), 0.5, 3.0, 12.0))
    for sid, arr in arrays.items():
        np.testing.assert_allclose(
            out[sid], ref_bandpass(arr, 0.5, 3.0, 12.0), rtol=1e-9, atol=1e-9
        )


def test_ewma_constant_fixed_point(spark):
    arr = {"c": np.full(50, 3.25)}
    out = collect_series(exponential_smoothing(make_long(spark, arr), alpha=0.42))
    np.testing.assert_allclose(out["c"], arr["c"], rtol=0, atol=0)


def test_ewma_chunked_equals_sequential(spark):
    from fdi_flow_spark.operators.recurrences import exponential_smoothing_chunked

    rng = np.random.default_rng(13)
    arrays = {"a": rng.normal(0, 5, 500), "b": np.linspace(-3, 3, 257)}
    df = make_long(spark, arrays)
    chunked = collect_series(exponential_smoothing_chunked(df, alpha=0.3, chunk_size=64))
    for sid, arr in arrays.items():
        np.testing.assert_allclose(chunked[sid], ref_ewma(arr, 0.3), rtol=1e-11)


def test_ewma_chunked_single_chunk_degenerate(spark):
    from fdi_flow_spark.operators.recurrences import exponential_smoothing_chunked

    arrays = {"s": np.arange(10.0)}
    df = make_long(spark, arrays)
    out = collect_series(exponential_smoothing_chunked(df, alpha=0.5, chunk_size=1000))
    np.testing.assert_allclose(out["s"], ref_ewma(arrays["s"], 0.5), rtol=1e-12)


def _offset_gappy_df(spark, vals_off, vals_gap):
    """Two awkward series: one offset to ts=1000, one offset AND gappy."""
    rows = [("off", 1000 + i, float(v)) for i, v in enumerate(vals_off)]
    gap_ts = [t for t in range(450) if t % 3 != 0][: len(vals_gap)]
    rows += [("gap", 37 + t, float(v)) for t, v in zip(gap_ts, vals_gap)]
    return spark.createDataFrame(rows, schema="series_id string, ts long, value double")


def test_ewma_chunked_offset_and_gappy_ts(spark):
    """Head semantics (s0=x0) and carry decay must follow per-series rank,
    not raw ts: chunk 0 may not exist and ts may have holes."""
    from fdi_flow_spark.operators.recurrences import exponential_smoothing_chunked

    rng = np.random.default_rng(31)
    vals_off, vals_gap = rng.normal(0, 3, 300), rng.normal(0, 3, 300)
    df = _offset_gappy_df(spark, vals_off, vals_gap)
    out = collect_series(exponential_smoothing_chunked(df, alpha=0.3, chunk_size=64))
    np.testing.assert_allclose(out["off"], ref_ewma(vals_off, 0.3), rtol=1e-11)
    np.testing.assert_allclose(out["gap"], ref_ewma(vals_gap, 0.3), rtol=1e-11)


def test_holt_chunked_offset_and_gappy_ts(spark):
    """The reference init must run in whichever chunk sorts first, and the
    finalize scans must be positional — offset/gappy ts still match."""
    from fdi_flow_spark.operators.recurrences import (
        double_exponential_smoothing_chunked,
    )

    rng = np.random.default_rng(32)
    vals_off, vals_gap = rng.normal(0, 3, 300), rng.normal(0, 3, 300)
    df = _offset_gappy_df(spark, vals_off, vals_gap)
    out = collect_series(
        double_exponential_smoothing_chunked(df, alpha=0.3, beta=0.1, chunk_size=64)
    )
    np.testing.assert_allclose(out["off"], ref_holt(vals_off, 0.3, 0.1), rtol=1e-10)
    np.testing.assert_allclose(out["gap"], ref_holt(vals_gap, 0.3, 0.1), rtol=1e-10)


def test_holt_chunked_lone_head_sample_raises(spark):
    """A head chunk holding one sample of a longer series cannot run the
    x[1] look-ahead init — must raise, not silently diverge."""
    from fdi_flow_spark.operators.recurrences import (
        double_exponential_smoothing_chunked,
    )

    # ts=63 alone in chunk 0 (size 64), rest in later chunks
    rows = [("s", 63, 1.0)] + [("s", 64 + i, float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, schema="series_id string, ts long, value double")
    with pytest.raises(Exception, match="head chunk"):
        double_exponential_smoothing_chunked(df, chunk_size=64).collect()


def test_holt_chunked_equals_sequential(spark):
    from fdi_flow_spark.operators.recurrences import (
        double_exponential_smoothing_chunked,
    )

    rng = np.random.default_rng(17)
    arrays = {"a": rng.normal(0, 5, 500), "b": np.linspace(-3, 3, 257)}
    df = make_long(spark, arrays)
    out = collect_series(
        double_exponential_smoothing_chunked(df, alpha=0.3, beta=0.1, chunk_size=64)
    )
    for sid, arr in arrays.items():
        np.testing.assert_allclose(
            out[sid], ref_holt(arr, 0.3, 0.1), rtol=1e-10, atol=1e-12
        )


def test_holt_chunked_short_series(spark):
    from fdi_flow_spark.operators.recurrences import (
        double_exponential_smoothing_chunked,
    )

    arrays = {"one": np.array([4.2]), "two": np.array([1.0, 3.0])}
    df = make_long(spark, arrays)
    out = collect_series(
        double_exponential_smoothing_chunked(df, alpha=0.5, beta=0.5, chunk_size=16)
    )
    np.testing.assert_allclose(out["one"], [4.2])  # n<2: unchanged
    # n=2: out[0]=x1, out[1]=level1+trend1 from the reference recurrence
    l1 = 0.5 * 3.0 + 0.5 * 3.0
    t1 = 0.5 * (l1 - 1.0) + 0.5 * 2.0
    np.testing.assert_allclose(out["two"], [3.0, l1 + t1])


def test_kalman_chunked_equals_sequential(spark):
    """The gain-precomputed chunk-parallel Kalman matches the sequential
    kernel exactly (to float noise) across chunk boundaries, both with
    auto x0 (first sample) and explicit x0/p0."""
    from fdi_flow_spark.operators.recurrences import kalman_filter_1d_chunked

    rng = np.random.default_rng(21)
    arrays = {"a": rng.normal(0, 5, 500), "b": np.linspace(-3, 3, 257)}
    df = make_long(spark, arrays)
    chunked = collect_series(kalman_filter_1d_chunked(df, q=0.5, r=2.0, chunk_size=64))
    for sid, arr in arrays.items():
        np.testing.assert_allclose(
            chunked[sid], ref_kalman1d(arr, 0.5, 2.0, None, 1.0), rtol=1e-11
        )
    explicit = collect_series(
        kalman_filter_1d_chunked(df, q=1.5, r=0.7, x0=2.5, p0=4.0, chunk_size=48)
    )
    for sid, arr in arrays.items():
        np.testing.assert_allclose(
            explicit[sid], ref_kalman1d(arr, 1.5, 0.7, 2.5, 4.0), rtol=1e-11
        )


def test_kalman_chunked_offset_and_gappy_ts(spark):
    """The positional gains must be indexed by per-series RANK, not raw ts:
    a series starting at ts=1000 or with holes in ts must still match the
    sequential kernel row for row (order given by ts)."""
    from fdi_flow_spark.operators.recurrences import kalman_filter_1d_chunked

    rng = np.random.default_rng(99)
    vals_off = rng.normal(0, 3, 300)
    vals_gap = rng.normal(0, 3, 300)
    rows = [("off", 1000 + i, float(v)) for i, v in enumerate(vals_off)]
    # gappy: every 3rd ts missing, series also offset — 7 chunks at size 64
    gap_ts = [t for t in range(450) if t % 3 != 0][:300]
    rows += [("gap", 37 + t, float(v)) for t, v in zip(gap_ts, vals_gap)]
    df = spark.createDataFrame(rows, schema="series_id string, ts long, value double")

    # small q/r so the gain prefix spans several 64-row chunks
    out = collect_series(kalman_filter_1d_chunked(df, q=0.02, r=5.0, chunk_size=64))
    np.testing.assert_allclose(
        out["off"], ref_kalman1d(vals_off, 0.02, 5.0, None, 1.0), rtol=1e-11
    )
    np.testing.assert_allclose(
        out["gap"], ref_kalman1d(vals_gap, 0.02, 5.0, None, 1.0), rtol=1e-11
    )


def test_kalman_chunked_degenerate_q_raises(spark):
    from fdi_flow_spark.operators.recurrences import kalman_filter_1d_chunked

    df = make_long(spark, {"s": np.arange(10.0)})
    with pytest.raises(ValueError, match="steady state"):
        kalman_filter_1d_chunked(df, q=0.0, r=1.0).collect()
