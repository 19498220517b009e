"""Batch ≡ streaming equivalence for the stateful operators: feed the same
series through applyInPandasWithState in forced micro-batches
(maxFilesPerTrigger=1) and through the batch operators; results must match
bit-for-bit (the recurrence state is carried exactly)."""

import shutil
import tempfile

import numpy as np
import pytest

from fdi_flow_spark.operators import (
    double_exponential_smoothing,
    exponential_smoothing,
    kalman_filter_1d,
)
from fdi_flow_spark.streaming import streaming_ewma, streaming_holt, streaming_kalman_1d

from .conftest import make_long


@pytest.fixture()
def chunked_stream_dir(spark):
    """Two ordered parquet chunks of a 2-series frame; yields (dir, batch_df)."""
    rng = np.random.default_rng(9)
    series = {
        "a": rng.normal(0, 1, 40),
        "b": np.linspace(0, 5, 40) + rng.normal(0, 0.2, 40),
    }
    df = make_long(spark, series)
    d = tempfile.mkdtemp(prefix="fdi_stream_")
    df.where("ts < 20").coalesce(1).write.parquet(f"{d}/batch=0")
    df.where("ts >= 20").coalesce(1).write.parquet(f"{d}/batch=1")
    yield d, df
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(spark, src_dir, op):
    stream = (
        spark.readStream.schema("series_id string, ts long, value double, batch int")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = op(stream.select("series_id", "ts", "value"))
    q = (
        out.writeStream.format("memory")
        .queryName("sink_tbl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table("sink_tbl").toPandas().sort_values(["series_id", "ts"])


def _as_map(pdf):
    return {
        sid: g["value"].to_numpy() for sid, g in pdf.groupby("series_id")
    }


def test_streaming_ewma_equals_batch(spark, chunked_stream_dir):
    d, batch_df = chunked_stream_dir
    got = _as_map(_run_stream(spark, d, lambda s: streaming_ewma(s, alpha=0.3)))
    expected = (
        exponential_smoothing(batch_df, alpha=0.3)
        .toPandas()
        .sort_values(["series_id", "ts"])
    )
    exp = _as_map(expected)
    for sid in exp:
        np.testing.assert_array_equal(got[sid], exp[sid])
    spark.catalog.dropTempView("sink_tbl")


def test_streaming_kalman_equals_batch(spark, chunked_stream_dir):
    """Both inits — x0 from the first sample, and an explicit x0 with a
    non-default p0 — carry across the micro-batch boundary exactly."""
    d, batch_df = chunked_stream_dir
    for params in (dict(q=0.5, r=2.0), dict(q=1.5, r=0.7, x0=2.5, p0=4.0)):
        got = _as_map(
            _run_stream(spark, d, lambda s: streaming_kalman_1d(s, **params))
        )
        exp = _as_map(
            kalman_filter_1d(batch_df, **params)
            .toPandas()
            .sort_values(["series_id", "ts"])
        )
        for sid in exp:
            np.testing.assert_array_equal(got[sid], exp[sid])
        spark.catalog.dropTempView("sink_tbl")


def _drain_kalman(spark, src_dir, out_dir, ckpt):
    """One availableNow drain of ``src_dir`` through the Kalman stream into
    a parquet sink, from (or into) the checkpoint ``ckpt``."""
    stream = (
        spark.readStream.schema("series_id string, ts long, value double, batch int")
        .parquet(src_dir)
        .select("series_id", "ts", "value")
    )
    q = (
        streaming_kalman_1d(stream, q=0.5, r=2.0)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q.lastProgress.stateOperators[0].numStateStoreInstances


def test_streaming_state_store_count_fixed_by_checkpoint(
    spark, chunked_stream_dir, restored_conf
):
    """A checkpoint started with 8 state stores keeps them when restarted
    under the session default, and the carried state stays bit-exact; a
    fresh stream gets one store per task slot."""
    d, batch_df = chunked_stream_dir
    src, out, ckpt = f"{d}/src", f"{d}/out", f"{d}/ckpt"
    shutil.copytree(f"{d}/batch=0", f"{src}/batch=0")
    default = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert _drain_kalman(spark, src, out, ckpt) == 8

    spark.conf.set("spark.sql.shuffle.partitions", default)
    shutil.copytree(f"{d}/batch=1", f"{src}/batch=1")
    assert _drain_kalman(spark, src, out, ckpt) == 8

    got = _as_map(spark.read.parquet(out).toPandas().sort_values(["series_id", "ts"]))
    exp = _as_map(
        kalman_filter_1d(batch_df, q=0.5, r=2.0).toPandas().sort_values(["series_id", "ts"])
    )
    assert got.keys() == exp.keys()
    for sid in exp:
        np.testing.assert_array_equal(got[sid], exp[sid])

    fresh = _drain_kalman(spark, src, f"{d}/out_fresh", f"{d}/ckpt_fresh")
    assert fresh == spark.sparkContext.defaultParallelism


@pytest.mark.parametrize(
    "op, batch_op, match",
    [
        (
            lambda s: streaming_ewma(s, alpha=1.5),
            lambda b: exponential_smoothing(b, alpha=1.5),
            "Alpha must be between 0 and 1",
        ),
        (
            lambda s: streaming_holt(s, alpha=0.3, beta=0.0),
            lambda b: double_exponential_smoothing(b, alpha=0.3, beta=0.0),
            "Alpha and beta must be between 0 and 1",
        ),
    ],
    ids=["ewma_alpha_1.5", "holt_beta_0"],
)
def test_streaming_rejects_parameters_batch_rejects(
    spark, chunked_stream_dir, op, batch_op, match
):
    """Streaming and batch validate parameters in the same place, so a value
    the batch operator rejects never builds a stream."""
    d, batch_df = chunked_stream_dir
    stream = (
        spark.readStream.schema("series_id string, ts long, value double, batch int")
        .parquet(d)
        .select("series_id", "ts", "value")
    )
    with pytest.raises(ValueError, match=match):
        batch_op(batch_df)
    with pytest.raises(ValueError, match=match):
        op(stream)


def test_streaming_observer_equals_batch(spark):
    import shutil
    import tempfile

    from fdi_flow_spark.models import LinearContinuousStateSpaceModel
    from fdi_flow_spark.observers import LuenbergerObserver, observer_replay
    from fdi_flow_spark.streaming import streaming_observer

    A = np.array([[-2.0, 1.0], [1.0, -1.0]])
    B = np.array([[-1.0], [1.0]])
    C = np.array([[1.0, 0.0]])
    dt, n = 0.1, 60
    m = LinearContinuousStateSpaceModel(A, B, C, [[0.0]])
    u = np.array([[10 * np.sin(2 * np.pi * i * dt) * dt] for i in range(n)])
    truth = m.simulate(u, [2.0, 3.0], n * dt, dt, method="euler")
    rows = [
        ("sys1", i, [float(u[i, 0])], [float(truth["outputs"][i, 0])]) for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, schema="series_id string, step long, u array<double>, y array<double>"
    )
    factory = lambda: LuenbergerObserver(A, B, C, dt, desired_poles=[-3.0, -4.0])  # noqa: E731

    d = tempfile.mkdtemp(prefix="fdi_obs_stream_")
    try:
        df.where("step < 30").coalesce(1).write.parquet(f"{d}/b=0")
        df.where("step >= 30").coalesce(1).write.parquet(f"{d}/b=1")
        stream = (
            spark.readStream.schema(
                "series_id string, step long, u array<double>, y array<double>, b int"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        out = streaming_observer(
            stream.select("series_id", "step", "u", "y"), factory
        )
        q = (
            out.writeStream.format("memory")
            .queryName("obs_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.table("obs_sink").toPandas().sort_values("step")
        exp = observer_replay(df, factory).toPandas().sort_values("step")
        for g, e in zip(got["x_hat"], exp["x_hat"]):
            np.testing.assert_array_equal(np.array(g), np.array(e))
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.catalog.dropTempView("obs_sink")


def test_streaming_holt_equals_batch(spark, chunked_stream_dir):
    from fdi_flow_spark.operators import double_exponential_smoothing
    from fdi_flow_spark.streaming import streaming_holt

    d, batch_df = chunked_stream_dir
    got = _as_map(
        _run_stream(spark, d, lambda s: streaming_holt(s, alpha=0.3, beta=0.1))
    )
    exp = _as_map(
        double_exponential_smoothing(batch_df, alpha=0.3, beta=0.1)
        .toPandas()
        .sort_values(["series_id", "ts"])
    )
    for sid in exp:
        np.testing.assert_array_equal(got[sid], exp[sid])
    spark.catalog.dropTempView("sink_tbl")


def test_streaming_holt_holds_lone_first_sample(spark):
    """Holt's init reads x[1]: a micro-batch carrying only the first sample
    emits nothing, the sample is held in state, and the stream still equals
    the batch operator once the second sample arrives."""
    rng = np.random.default_rng(5)
    df = make_long(spark, {"a": rng.normal(0, 1, 12)})
    d = tempfile.mkdtemp(prefix="fdi_holt_held_")
    try:
        for b, cond in enumerate(["ts < 1", "ts = 1", "ts > 1"]):
            df.where(cond).coalesce(1).write.parquet(f"{d}/batch={b}")
        got = _as_map(_run_stream(spark, d, lambda s: streaming_holt(s)))
        exp = _as_map(double_exponential_smoothing(df).toPandas().sort_values("ts"))
        np.testing.assert_array_equal(got["a"], exp["a"])
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.catalog.dropTempView("sink_tbl")


def test_streaming_dedup_keeps_first_occurrence(spark):
    import shutil
    import tempfile

    from fdi_flow_spark.streaming import streaming_dedup_exact

    d = tempfile.mkdtemp(prefix="fdi_dedup_stream_")
    try:
        rows0 = [(0, "alpha text", "2024-01-01 00:00:00"),
                 (1, "beta text", "2024-01-01 00:00:01"),
                 (2, "alpha text", "2024-01-01 00:00:02")]   # dup within batch
        rows1 = [(3, "beta text", "2024-01-01 00:00:03"),    # dup across batch
                 (4, "gamma text", "2024-01-01 00:00:04")]
        schema = "doc_id long, text string, event_time timestamp"
        spark.createDataFrame(
            [(i, t, __import__("datetime").datetime.fromisoformat(ts)) for i, t, ts in rows0],
            schema=schema,
        ).coalesce(1).write.parquet(f"{d}/b=0")
        spark.createDataFrame(
            [(i, t, __import__("datetime").datetime.fromisoformat(ts)) for i, t, ts in rows1],
            schema=schema,
        ).coalesce(1).write.parquet(f"{d}/b=1")
        stream = (
            spark.readStream.schema(schema + ", b int")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        out = streaming_dedup_exact(stream.select("doc_id", "text", "event_time"))
        q = (
            out.writeStream.format("memory")
            .queryName("dedup_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.table("dedup_sink").toPandas().sort_values("doc_id")
        # one row per distinct text, and it is the FIRST occurrence by id
        assert sorted(got["doc_id"].tolist()) == [0, 1, 4]
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.catalog.dropTempView("dedup_sink")


def test_streaming_segment_windows_matches_batch_closed_windows(spark):
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from fdi_flow_spark.streaming import streaming_segment_windows

    d = tempfile.mkdtemp(prefix="fdi_win_stream_")
    try:
        import datetime

        base = datetime.datetime(2024, 1, 1)
        rows = [
            ("s1", base + datetime.timedelta(seconds=i), float(i)) for i in range(120)
        ]
        schema = "series_id string, event_time timestamp, value double"
        df = spark.createDataFrame(rows, schema=schema)
        df.where("value < 60").coalesce(1).write.parquet(f"{d}/b=0")
        df.where("value >= 60").coalesce(1).write.parquet(f"{d}/b=1")
        stream = (
            spark.readStream.schema(schema + ", b int")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        out = streaming_segment_windows(
            stream.select("series_id", "event_time", "value"),
            window_duration="20 seconds",
            slide_duration="10 seconds",
            watermark="5 seconds",
        )
        q = (
            out.writeStream.format("memory")
            .queryName("win_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.table("win_sink").toPandas()
        assert len(got) > 0  # watermark advanced far enough to close windows
        # every emitted (closed) window must match the batch computation
        batch = (
            df.groupBy("series_id", F.window("event_time", "20 seconds", "10 seconds"))
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
            .toPandas()
        )
        merged = got.merge(
            batch, on=["series_id", "window_start", "window_end"], suffixes=("_s", "_b")
        )
        assert len(merged) == len(got)  # every streamed window exists in batch
        for col in ("n", "mean", "min", "max"):
            np.testing.assert_allclose(merged[f"{col}_s"], merged[f"{col}_b"])
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.catalog.dropTempView("win_sink")


def test_streaming_curation_ops_equal_batch(spark):
    """Stateless curation ops (hash_split, pii_redact, token counting) run
    unchanged as Structured Streaming projections — same rows as batch."""
    import shutil
    import tempfile

    from fdi_flow_spark.pipelines.curation import hash_split, pii_redact

    rows = [
        (i, f"doc {i} mail a{i}@x.io" if i % 3 == 0 else f"plain doc {i}", f"s{i%2}")
        for i in range(40)
    ]
    batch = spark.createDataFrame(rows, "doc_id long, text string, source string")
    d = tempfile.mkdtemp(prefix="fdi_curation_stream_")
    try:
        batch.where("doc_id < 20").coalesce(1).write.mode("append").parquet(d)
        batch.where("doc_id >= 20").coalesce(1).write.mode("append").parquet(d)
        stream = (
            spark.readStream.schema("doc_id long, text string, source string")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        out = pii_redact(hash_split(stream)).select(
            "doc_id", "split", "n_email", "n_redacted", "clean_text"
        )
        q = (
            out.writeStream.format("memory")
            .queryName("curation_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            tuple(r) for r in spark.table("curation_sink").collect()
        )
        expect = sorted(
            tuple(r)
            for r in pii_redact(hash_split(batch))
            .select("doc_id", "split", "n_email", "n_redacted", "clean_text")
            .collect()
        )
        assert got == expect
        spark.catalog.dropTempView("curation_sink")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_image_features_equals_batch(spark):
    """The codec kernels are stateless mapInPandas stages, so they run
    unchanged under Structured Streaming: decoding the same BMP payloads
    from a file stream (one file per micro-batch) produces exactly the
    batch features — multimodal ingest composes with readStream."""
    import shutil
    import tempfile

    import numpy as np

    from fdi_flow_spark.pipelines.codecs import encode_bmp
    from fdi_flow_spark.pipelines.multimodal import (
        MEDIA_SCHEMA,
        image_features,
        make_media_table,
    )

    rng = np.random.default_rng(9)
    rows = [
        (i, "image", encode_bmp(rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)),
         {"width": 7, "height": 5, "format": "bmp"})
        for i in range(6)
    ]
    media = make_media_table(spark, rows)
    d = tempfile.mkdtemp(prefix="fdi_media_stream_")
    try:
        media.where("media_id < 3").coalesce(1).write.parquet(f"{d}/chunk=0")
        media.where("media_id >= 3").coalesce(1).write.parquet(f"{d}/chunk=1")
        stream = (
            spark.readStream.schema(MEDIA_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        q = (
            image_features(stream)
            .writeStream.format("memory")
            .queryName("media_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.table("media_sink").toPandas().sort_values("media_id")
        want = image_features(media).toPandas().sort_values("media_id")
        assert list(got["media_id"]) == list(want["media_id"])
        for g, w in zip(got["mean_rgb"], want["mean_rgb"]):
            np.testing.assert_allclose(g, w)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_lm_scoring_equals_batch(spark):
    """The production LM deployment shape: the bigram model is trained
    OFFLINE (static model_docs); arriving documents are scored by a
    stream-static join + per-doc aggregation. Scores must equal batch."""
    import shutil
    import tempfile

    from fdi_flow_spark.pipelines.lm import lm_perplexity

    model_rows = [(100 + i, "the quick brown fox jumps over the lazy dog") for i in range(5)]
    model_rows += [(200 + i, "pack my box with five dozen liquor jugs") for i in range(5)]
    model = spark.createDataFrame(model_rows, "doc_id long, text string")

    score_rows = [
        (0, "the quick brown fox"),
        (1, "pack my box with jugs"),
        (2, "completely novel text here"),
        (3, "the lazy dog jumps"),
    ]
    batch = spark.createDataFrame(score_rows, "doc_id long, text string")
    d = tempfile.mkdtemp(prefix="fdi_lm_stream_")
    try:
        batch.where("doc_id < 2").coalesce(1).write.mode("append").parquet(d)
        batch.where("doc_id >= 2").coalesce(1).write.mode("append").parquet(d)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        q = (
            lm_perplexity(stream, model_docs=model)
            .writeStream.format("memory")
            .queryName("lm_sink")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.table("lm_sink").collect())
        expect = sorted(
            tuple(r) for r in lm_perplexity(batch, model_docs=model).collect()
        )
        assert got == expect
        assert len(got) == 4
        spark.catalog.dropTempView("lm_sink")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_r5b_stateless_ops_equal_batch(spark):
    """normalize_text and pq_encode (pretrained codebooks) are stateless
    Arrow projections — they run unchanged as Structured Streaming stages
    and must emit exactly the batch rows in append mode."""
    import shutil
    import tempfile

    from fdi_flow_spark.pipelines.quantization import pq_encode, pq_train
    from fdi_flow_spark.pipelines.text import normalize_text

    rows = [(i, f"doc  {i}\twith\x07 text  nr {i}") for i in range(30)]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    d = tempfile.mkdtemp(prefix="fdi_r5b_stream_")
    try:
        batch.where("doc_id < 15").coalesce(1).write.mode("append").parquet(d)
        batch.where("doc_id >= 15").coalesce(1).write.mode("append").parquet(d)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        q = (
            normalize_text(stream)
            .writeStream.format("memory")
            .queryName("norm_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.table("norm_sink").collect())
        expect = sorted(tuple(r) for r in normalize_text(batch).collect())
        assert got == expect and len(got) == 30
        spark.catalog.dropTempView("norm_sink")
    finally:
        shutil.rmtree(d, ignore_errors=True)

    emb_batch = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_train(emb_batch, m=4, ks=16, n_iter=1)
    d = tempfile.mkdtemp(prefix="fdi_pq_stream_")
    try:
        emb_batch.where("vec_id < 250").coalesce(1).write.mode("append").parquet(d)
        emb_batch.where("vec_id >= 250").coalesce(1).write.mode("append").parquet(d)
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>, label int")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        q = (
            pq_encode(stream, codebooks=books)
            .writeStream.format("memory")
            .queryName("pq_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r.vec_id: (tuple(r.codes), r.norm)
            for r in spark.table("pq_sink").collect()
        }
        expect = {
            r.vec_id: (tuple(r.codes), r.norm)
            for r in pq_encode(emb_batch, codebooks=books).collect()
        }
        assert got == expect
        spark.catalog.dropTempView("pq_sink")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_dsir_scoring_equals_batch(spark):
    """Production DSIR shape: the model is fitted OFFLINE (dsir_fit on
    static corpora); arriving documents score via a stream-static join +
    per-doc aggregation. Scores must equal batch bit-for-bit."""
    import shutil
    import tempfile

    from fdi_flow_spark.pipelines.selection import dsir_fit, dsir_score

    raw = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta" if i % 2 else "zork quux blarg frotz")
         for i in range(10)],
        "doc_id long, text string",
    )
    tgt = spark.createDataFrame(
        [(200 + i, "alpha beta gamma epsilon") for i in range(5)],
        "doc_id long, text string",
    )
    model = dsir_fit(raw, tgt, buckets=256)
    score_rows = [
        (0, "alpha beta gamma"),
        (1, "zork quux"),
        (2, "totally unseen words here"),
        (3, "alpha zork mixed bag"),
    ]
    batch = spark.createDataFrame(score_rows, "doc_id long, text string")
    d = tempfile.mkdtemp(prefix="fdi_dsir_stream_")
    try:
        batch.where("doc_id < 2").coalesce(1).write.mode("append").parquet(d)
        batch.where("doc_id >= 2").coalesce(1).write.mode("append").parquet(d)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        q = (
            dsir_score(stream, model, buckets=256)
            .writeStream.format("memory")
            .queryName("dsir_sink")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.table("dsir_sink").collect())
        expect = sorted(tuple(r) for r in dsir_score(batch, model, buckets=256).collect())
        assert got == expect and len(got) == 4
        spark.catalog.dropTempView("dsir_sink")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_span_contamination_equals_batch(spark):
    """Span-level contamination of an arriving stream against a static
    reference hash set — one stream-static join + per-doc aggregation."""
    import shutil
    import tempfile

    from fdi_flow_spark.pipelines.dedup import span_contamination

    ref = spark.createDataFrame(
        [(900, "r1 r2 r3 r4 r5 r6 r7 r8 r9")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (0, "r1 r2 r3 r4 r5 r6 r7 r8 tail0 tail1"),  # contaminated head
            (1, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),  # clean
            (2, "x0 r2 r3 r4 r5 r6 r7 r8 r9 x1"),  # contaminated middle
        ],
        "doc_id long, text string",
    )
    d = tempfile.mkdtemp(prefix="fdi_spanc_stream_")
    try:
        batch.where("doc_id < 2").coalesce(1).write.mode("append").parquet(d)
        batch.where("doc_id >= 2").coalesce(1).write.mode("append").parquet(d)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        q = (
            span_contamination(stream, ref, k=8)
            .writeStream.format("memory")
            .queryName("spanc_sink")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.table("spanc_sink").collect())
        expect = sorted(tuple(r) for r in span_contamination(batch, ref, k=8).collect())
        assert got == expect and len(got) == 3
        by_doc = {t[0]: t for t in got}
        assert by_doc[1][2] == 0  # clean doc: zero contaminated windows
        assert by_doc[0][2] >= 1 and by_doc[2][2] >= 1
        spark.catalog.dropTempView("spanc_sink")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_tfidf_scoring_equals_batch(spark):
    """TF-IDF deployment shape: idf is fitted OFFLINE (tfidf_fit on a
    static corpus); arriving documents score via a stream-static join
    BEFORE the per-(doc, bucket) aggregation. Rows must equal batch."""
    import shutil
    import tempfile

    from fdi_flow_spark.pipelines.text import tfidf_fit, tfidf_score

    fit_docs = spark.createDataFrame(
        [(100 + i, "apple banana cherry date " + ("apple " * (i % 3))) for i in range(8)],
        "doc_id long, text string",
    )
    model = tfidf_fit(fit_docs, buckets=512)
    batch = spark.createDataFrame(
        [
            (0, "apple apple banana"),
            (1, "cherry unseen words"),
            (2, "date date date apple"),
        ],
        "doc_id long, text string",
    )
    d = tempfile.mkdtemp(prefix="fdi_tfidf_stream_")
    try:
        batch.where("doc_id < 2").coalesce(1).write.mode("append").parquet(d)
        batch.where("doc_id >= 2").coalesce(1).write.mode("append").parquet(d)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        q = (
            tfidf_score(stream, model, buckets=512)
            .writeStream.format("memory")
            .queryName("tfidf_sink")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.table("tfidf_sink").collect())
        expect = sorted(
            tuple(r) for r in tfidf_score(batch, model, buckets=512).collect()
        )
        assert got == expect and len(got) > 0
        spark.catalog.dropTempView("tfidf_sink")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_cusum_equals_batch(spark, chunked_stream_dir):
    """The streaming CUSUM runs the textbook max(0, .) recursion; the batch
    operator the reflected-prefix-sum rewrite — their agreement across a
    chunk boundary proves both the state carry and the reflection identity
    (up to float accumulation order, hence atol instead of bit-equality)."""
    from fdi_flow_spark.operators import cusum
    from fdi_flow_spark.streaming import streaming_cusum

    d, batch_df = chunked_stream_dir
    got = _run_stream(
        spark, d, lambda s: streaming_cusum(s, k=0.2, h=1.5, target=0.5)
    ).reset_index(drop=True)
    exp = (
        cusum(batch_df, k=0.2, h=1.5, target=0.5)
        .toPandas()
        .sort_values(["series_id", "ts"])
        .reset_index(drop=True)
    )
    assert list(got["series_id"]) == list(exp["series_id"])
    np.testing.assert_allclose(got["cusum_pos"], exp["cusum_pos"], atol=1e-9)
    np.testing.assert_allclose(got["cusum_neg"], exp["cusum_neg"], atol=1e-9)
    assert list(got["alarm"]) == list(exp["alarm"])
    spark.catalog.dropTempView("sink_tbl")


def test_streaming_page_hinkley_equals_batch(spark, chunked_stream_dir):
    from fdi_flow_spark.operators import page_hinkley
    from fdi_flow_spark.streaming import streaming_page_hinkley

    d, batch_df = chunked_stream_dir
    got = _run_stream(
        spark, d, lambda s: streaming_page_hinkley(s, delta=0.01, lam=2.0)
    ).reset_index(drop=True)
    exp = (
        page_hinkley(batch_df, delta=0.01, lam=2.0)
        .toPandas()
        .sort_values(["series_id", "ts"])
        .reset_index(drop=True)
    )
    np.testing.assert_allclose(got["ph_stat"], exp["ph_stat"], atol=1e-9)
    assert list(got["alarm"]) == list(exp["alarm"])
    spark.catalog.dropTempView("sink_tbl")


def test_sessionize_agrees_with_native_session_window(spark):
    """Two independent session kernels, one definition: the batch
    conditional-cumsum sessionize (exact integer micros) must carve the
    same sessions as Spark's native session_window aggregation."""
    import pandas as pd
    from pyspark.sql import functions as F

    from fdi_flow_spark.operators import session_stats
    from fdi_flow_spark.streaming import streaming_sessions

    rng = np.random.default_rng(23)
    base = 1_700_000_000
    rows = []
    for u in range(6):
        t = base + u * 10_000
        for _ in range(40):
            t += int(rng.integers(1, 4000))  # gaps straddle the 1800s gap
            rows.append((f"u{u}", t))
    df = spark.createDataFrame(rows, schema="user_id string, tsec long")
    ts_df = df.select(
        "user_id", F.col("tsec").cast("timestamp").alias("event_time")
    )
    native = (
        streaming_sessions(ts_df, "user_id", "event_time", "30 minutes")
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    ours = (
        session_stats(df, "user_id", "tsec", max_gap=1800)
        .toPandas()
        .sort_values(["user_id", "session_id"])
        .reset_index(drop=True)
    )
    assert len(native) == len(ours)
    assert list(native["n_events"]) == list(ours["n_events"])
    got_starts = native["session_start"].map(lambda d: int(pd.Timestamp(d).timestamp()))
    np.testing.assert_array_equal(got_starts.to_numpy(), ours["t_start"].to_numpy())


def test_streaming_nb_quality_scoring_equals_batch(spark):
    """Production quality-filter shape: the NB model is fitted OFFLINE
    (nb_quality_fit on a labeled corpus); arriving documents score via a
    stream-static join + per-doc aggregation. Scores equal batch."""
    import shutil
    import tempfile

    from fdi_flow_spark.pipelines.quality_model import nb_quality_fit, nb_quality_score

    train = spark.createDataFrame(
        [(i, "clean measured prose alpha beta", True) for i in range(6)]
        + [(100 + i, "spam click buy spam click", False) for i in range(6)],
        "doc_id long, text string, label boolean",
    )
    model = nb_quality_fit(train, "label", buckets=128)
    score_rows = [
        (0, "clean prose alpha"),
        (1, "spam click spam"),
        (2, "neutral unseen words"),
    ]
    batch = spark.createDataFrame(score_rows, "doc_id long, text string")
    d = tempfile.mkdtemp(prefix="fdi_nbq_stream_")
    try:
        batch.where("doc_id < 2").coalesce(1).write.mode("append").parquet(d)
        batch.where("doc_id >= 2").coalesce(1).write.mode("append").parquet(d)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        q = (
            nb_quality_score(stream, model, buckets=128)
            .writeStream.format("memory")
            .queryName("nbq_sink")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.table("nbq_sink").collect())
        expect = sorted(
            tuple(r) for r in nb_quality_score(batch, model, buckets=128).collect()
        )
        assert got == expect and len(got) == 3
        preds = {r[0]: r[3] for r in got}
        assert preds[0] and not preds[1]
        spark.catalog.dropTempView("nbq_sink")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_tokenizers_equal_batch(spark):
    """bpe_tokenize (pretrained merges) and unigram_tokenize (pretrained
    vocab) are stateless Arrow projections over broadcast models — the
    production shape is offline train / streaming apply, and the streamed
    rows must equal batch bit-for-bit (the normalize_text precedent)."""
    import shutil
    import tempfile

    from fdi_flow_spark.pipelines.tokenizer import bpe_tokenize, bpe_train
    from fdi_flow_spark.pipelines.unigram import unigram_tokenize, unigram_train

    rows = [
        (i, " ".join(["abab", "banana", "cdcd", "abracadabra"][i % 4] for _ in range(5)))
        for i in range(24)
    ]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe_train(batch, n_merges=12)
    vocab = unigram_train(batch, vocab_size=15, max_piece_len=4, em_iters=1, prune_rounds=1)
    d = tempfile.mkdtemp(prefix="fdi_tok_stream_")
    try:
        batch.where("doc_id < 12").coalesce(1).write.mode("append").parquet(d)
        batch.where("doc_id >= 12").coalesce(1).write.mode("append").parquet(d)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        for name, fn in (
            ("bpe_sink", lambda df: bpe_tokenize(df, merges)),
            ("uni_sink", lambda df: unigram_tokenize(df, vocab)),
        ):
            q = (
                fn(stream)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            got = sorted(tuple(r) for r in spark.table(name).collect())
            expect = sorted(tuple(r) for r in fn(batch).collect())
            assert got == expect and len(got) == 24, name
            spark.catalog.dropTempView(name)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_composed_curation_equals_batch(spark):
    """The composed ingest stage (r6 VERDICT item 9): clean -> token gate
    -> exact-dedup flag vs persisted digests -> NB quality + DSIR weight,
    ONE streaming query (single stateful agg — both gram streams fused).
    Streamed shards must equal the batch run of the same plan, and the
    composed scores must equal the standalone operators'."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from fdi_flow_spark.pipelines.curation import curation_stream_score
    from fdi_flow_spark.pipelines.quality_model import nb_quality_fit, nb_quality_score
    from fdi_flow_spark.pipelines.selection import dsir_fit, dsir_score
    from fdi_flow_spark.pipelines.text import clean_docs

    corpus = spark.createDataFrame(
        [(i, f"corpus doc {i} alpha beta gamma delta epsilon zeta") for i in range(8)]
        # corpus doc whose RAW text cleanup alters (double space): the
        # digest table must be built over CLEANED text or its re-ingest
        # below would silently never flag (the r7 ADVICE contract gap)
        + [(8, "corpus doc 8 alpha  beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    digests = clean_docs(corpus).select(F.md5("text").alias("digest")).distinct()
    train = spark.createDataFrame(
        [(i, "clean measured prose alpha beta gamma", True) for i in range(6)]
        + [(100 + i, "spam click buy spam click now", False) for i in range(6)],
        "doc_id long, text string, label boolean",
    )
    nb_model = nb_quality_fit(train, "label", buckets=256)
    target = spark.createDataFrame(
        [(i, "curated alpha beta prose sample text") for i in range(4)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(i, "random web junk click buy now stuff") for i in range(4)],
        "doc_id long, text string",
    )
    dsir_model = dsir_fit(raw, target, buckets=256)

    shard_rows = [
        # exact dup of corpus doc 3 AFTER cleanup (control char + double
        # space) — proves clean runs before the digest join
        (1000, "corpus doc 3 alpha\x01 beta  gamma delta epsilon zeta"),
        (1001, "clean measured prose alpha beta gamma sample text here"),
        (1002, "spam click buy spam click now junk stuff again today"),
        (1003, "too short"),  # gated out by min_tokens
        (1004, "curated alpha beta prose sample text with more words"),
        # re-ingest of corpus doc 8, whose RAW text differs from its
        # cleaned form — flags ONLY because digests are of cleaned text
        (1005, "corpus doc 8 alpha beta  gamma delta epsilon zeta"),
    ]
    batch = spark.createDataFrame(shard_rows, "doc_id long, text string")

    def compose(df):
        return curation_stream_score(
            df, digests, nb_model, dsir_model,
            min_tokens=5, nb_buckets=256, dsir_buckets=256,
        )

    expect = sorted(tuple(r) for r in compose(batch).collect())
    assert len(expect) == 5  # 1003 gated
    by_id = {r[0]: r for r in expect}
    assert by_id[1000][1] is True  # dup flagged through the cleanup
    assert by_id[1001][1] is False
    assert by_id[1005][1] is True  # dirty-raw corpus doc flags via cleaned digest

    # composed scores == standalone operators on the cleaned, gated shard
    gated = clean_docs(batch).where(F.col("doc_id") != 1003)
    nb_alone = {
        r["doc_id"]: (r["score"], r["pred"])
        for r in nb_quality_score(gated, nb_model, buckets=256).collect()
    }
    ds_alone = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_score(gated, dsir_model, buckets=256).collect()
    }
    for did, row in by_id.items():
        assert abs(row[3] - nb_alone[did][0]) < 1e-9, (did, row)
        assert row[4] == nb_alone[did][1]
        assert abs(row[5] - ds_alone[did]) < 1e-9

    d = tempfile.mkdtemp(prefix="fdi_curation_stream_")
    try:
        batch.where("doc_id <= 1001").coalesce(1).write.mode("append").parquet(d)
        batch.where("doc_id > 1001").coalesce(1).write.mode("append").parquet(d)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        q = (
            compose(stream)
            .writeStream.format("memory")
            .queryName("curation_sink")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.table("curation_sink").collect())
        assert got == expect
        spark.catalog.dropTempView("curation_sink")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_curation_deploy_equals_batch(spark):
    """The FULL deployment-shape ingest (r11): curation_stream_score's
    composed plan + the LM perplexity leg folded into the SAME single
    stateful aggregation + offline cutoffs bucket labeling. Streamed
    shards must equal the batch run bit-for-bit, the folded ppl must
    equal standalone lm_perplexity, the NB/DSIR halves must equal
    curation_stream_score, and an arriving language absent from the
    cutoffs gets the 'unknown' sentinel — never dropped."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from fdi_flow_spark.pipelines.curation import (
        curation_deploy_score,
        curation_stream_score,
    )
    from fdi_flow_spark.pipelines.lm import lm_perplexity, perplexity_cutoffs
    from fdi_flow_spark.pipelines.quality_model import nb_quality_fit
    from fdi_flow_spark.pipelines.selection import dsir_fit
    from fdi_flow_spark.pipelines.text import clean_docs

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta common words here too",
        "gamma delta epsilon zeta rare tokens appear here",
        "beta gamma delta epsilon repeated beta gamma delta",
        "zeta eta theta iota kappa lambda mu nu",
        "alpha alpha beta beta gamma gamma delta delta",
    ]
    corpus = spark.createDataFrame(
        [(i, t, ("en" if i % 2 == 0 else "de")) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string",
    )
    nb_model = nb_quality_fit(
        corpus.withColumn("is_en", F.col("lang") == "en"), "is_en", buckets=256
    )
    dsir_model = dsir_fit(
        corpus, corpus.where(F.col("doc_id") < 2), buckets=256
    )
    digests = (
        clean_docs(corpus.select("doc_id", "text"))
        .select(F.md5("text").alias("digest"))
        .distinct()
        .localCheckpoint()
    )
    cutoffs = perplexity_cutoffs(corpus).localCheckpoint(eager=True)

    shard_rows = [
        # exact dup of corpus doc 1 after cleanup (double space planted)
        (1000, "alpha beta gamma  delta common words here too", "de"),
        (1001, "alpha beta gamma delta epsilon fresh words here", "en"),
        (1002, "unknown language text alpha beta gamma delta words", "fr"),
        (1003, "too short", "en"),  # gated out
    ]
    batch = spark.createDataFrame(shard_rows, "doc_id long, text string, lang string")

    def compose(df):
        return curation_deploy_score(
            df, digests, nb_model, dsir_model, corpus, cutoffs,
            min_tokens=5, nb_buckets=256, dsir_buckets=256,
        )

    expect = sorted(tuple(r) for r in compose(batch).collect())
    by_id = {r[0]: r for r in expect}
    assert set(by_id) == {1000, 1001, 1002}  # 1003 gated
    cols = compose(batch).columns
    assert by_id[1000][cols.index("is_exact_dup")] is True
    assert by_id[1002][cols.index("bucket")] == "unknown"  # fr kept, labeled
    assert by_id[1000][cols.index("bucket")] in ("head", "middle", "tail")

    # folded ppl == standalone lm_perplexity on the cleaned, gated shard
    gated = clean_docs(batch).where(F.col("doc_id") != 1003)
    ppl_alone = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logp"], r["ppl"])
        for r in lm_perplexity(gated, model_docs=corpus).collect()
    }
    # composed NB/DSIR halves == curation_stream_score on the same shard
    css = {
        r["doc_id"]: (r["n_grams"], r["quality_score"], r["quality_pred"],
                      r["dsir_log_weight"])
        for r in curation_stream_score(
            batch, digests, nb_model, dsir_model,
            min_tokens=5, nb_buckets=256, dsir_buckets=256,
        ).collect()
    }
    for did, row in by_id.items():
        assert (
            row[cols.index("n_bigrams")],
            row[cols.index("avg_logp")],
            row[cols.index("ppl")],
        ) == ppl_alone[did]
        assert (
            row[cols.index("n_grams")],
            row[cols.index("quality_score")],
            row[cols.index("quality_pred")],
            row[cols.index("dsir_log_weight")],
        ) == css[did]

    # prebuilt-counts artifact path (lm.fit_bigram_counts — one offline LM
    # fit shared by cutoffs AND scoring, r11) == the model_docs path
    from fdi_flow_spark.pipelines.lm import fit_bigram_counts

    counts = fit_bigram_counts(corpus).localCheckpoint(eager=True)
    via_counts = sorted(
        tuple(r)
        for r in curation_deploy_score(
            batch, digests, nb_model, dsir_model, None, cutoffs,
            min_tokens=5, nb_buckets=256, dsir_buckets=256, lm_counts=counts,
        ).collect()
    )
    assert via_counts == expect

    d = tempfile.mkdtemp(prefix="fdi_deploy_stream_")
    try:
        batch.where("doc_id <= 1001").coalesce(1).write.mode("append").parquet(d)
        batch.where("doc_id > 1001").coalesce(1).write.mode("append").parquet(d)
        stream = (
            spark.readStream.schema("doc_id long, text string, lang string")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        q = (
            compose(stream)
            .writeStream.format("memory")
            .queryName("deploy_sink")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.table("deploy_sink").collect())
        assert got == expect
        spark.catalog.dropTempView("deploy_sink")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_containment_probe_equals_batch(spark):
    """Stream-static containment probe (r11): persisted containment-index
    artifacts probed by streaming shards (two micro-batches) must produce
    exactly the batch containment_screen_against rows — each doc's sketch
    and matches depend only on its own text and the static artifacts —
    and an at-least-once replay of batch 0 must leave the sink unchanged
    (the batch_id-partition idempotent write)."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from fdi_flow_spark.pipelines.dedup import (
        containment_index,
        containment_screen_against,
    )
    from fdi_flow_spark.streaming.containment import (
        streaming_containment_probe,
        write_containment_batch,
    )

    corpus = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
         (2, "z1 z2 z3 z4 z5 z6 z7 z8"),
         (3, "m1 m2 m3 m4 m5 m6")],
        "doc_id long, text string",
    )
    shard_rows = [
        (100, "w1 w2 w3 w4 w5 w6"),   # contained in corpus doc 1
        (101, "q1 q2 q3 q4 q5"),      # unseen vocabulary, no match
        (102, "z1 z2 z3 z4 z5"),      # contained in corpus doc 2
        (103, "m1 m2 x9 y9 z9 w9"),   # partial overlap, below threshold
    ]
    batch = spark.createDataFrame(shard_rows, "doc_id long, text string")

    root = tempfile.mkdtemp(prefix="fdi_cprobe_")
    try:
        index, hot = containment_index(corpus, unit="word", n=2)
        idx_p, hot_p = os.path.join(root, "index"), os.path.join(root, "hot")
        index.write.parquet(idx_p)
        hot.write.parquet(hot_p)

        want = sorted(
            (r["id"], r["corpus_id"], r["est_containment"])
            for r in containment_screen_against(
                batch, spark.read.parquet(idx_p), spark.read.parquet(hot_p),
                unit="word", n=2, k=8, threshold=0.6,
            ).collect()
        )
        assert {(i, c) for i, c, _ in want} == {(100, 1), (102, 2)}

        shard_dir = os.path.join(root, "shards")
        batch.where("doc_id <= 101").coalesce(1).write.mode("append").parquet(shard_dir)
        batch.where("doc_id > 101").coalesce(1).write.mode("append").parquet(shard_dir)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(shard_dir)
        )
        out = os.path.join(root, "out")
        q = streaming_containment_probe(
            stream, idx_p, hot_p, out, unit="word", n=2, k=8, threshold=0.6
        )
        q.awaitTermination(120)
        got = sorted(
            (r["id"], r["corpus_id"], r["est_containment"])
            for r in spark.read.parquet(out).collect()
        )
        assert got == want

        # retry idempotency: replay batch 0 with its actual content
        b0_ids = {
            r["id"]
            for r in spark.read.parquet(out)
            .where(F.col("batch_id") == 0).select("id").distinct().collect()
        }
        # batch 0 is one shard file; find which docs it held via the sink —
        # docs without matches leave no trace, so replay the whole file set
        # that could have produced those ids (superset replay is still the
        # same batch content here: each file's ids are disjoint)
        replay = batch.where(
            F.col("doc_id").isin(list(b0_ids)) if b0_ids
            else F.col("doc_id") < 0
        )
        if b0_ids:
            write_containment_batch(
                replay, 0, idx_p, hot_p, out, unit="word", n=2, k=8, threshold=0.6
            )
            again = sorted(
                (r["id"], r["corpus_id"], r["est_containment"])
                for r in spark.read.parquet(out).collect()
            )
            assert again == got
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_streaming_lid_scoring_equals_batch(spark):
    """LID scoring on a stream: offline-fit model, pivoted stream-static
    join, ONE stateful aggregation (the plan-shape test pins the single
    agg). Streamed predictions equal batch bit-for-bit."""
    import shutil
    import tempfile

    from fdi_flow_spark.pipelines.lid import lid_fit, lid_predict, multilingual_docs
    from fdi_flow_spark.sources.tables import load_table

    ml = multilingual_docs(load_table(spark, "/root/testdata/sf0.001", "documents"))
    model = lid_fit(
        ml.where("doc_id % 5 != 0"), label_col="lang_true"
    ).localCheckpoint()
    batch = ml.where("doc_id % 5 = 0").select("doc_id", "text")
    expect = sorted(tuple(r) for r in lid_predict(batch, model).collect())
    assert len(expect) > 0

    d = tempfile.mkdtemp(prefix="fdi_lid_stream_")
    try:
        batch.where("doc_id % 2 = 0").coalesce(1).write.mode("append").parquet(d)
        batch.where("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(d)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        q = (
            lid_predict(stream, model)
            .writeStream.format("memory")
            .queryName("lid_sink")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.table("lid_sink").collect())
        assert got == expect
        spark.catalog.dropTempView("lid_sink")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_ivfpq_probe_equals_batch(spark):
    """Stream-static ANN parity (r9 VERDICT item 7): a persisted IVF-PQ
    index probed by streaming queries (two micro-batches) must produce
    exactly the batch ivfpq_query_index rows — each query's top-k depends
    only on its own vector and the static index, so the union over
    triggers is the batch answer."""
    import os

    from pyspark.sql import functions as F

    from fdi_flow_spark.pipelines.quantization import (
        ivfpq_build_index,
        ivfpq_query_index,
    )
    from fdi_flow_spark.sources.tables import load_table
    from fdi_flow_spark.streaming import streaming_ivfpq_probe

    root = tempfile.mkdtemp(prefix="fdi_sivfpq_")
    try:
        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        idx = os.path.join(root, "index")
        ivfpq_build_index(emb, idx, m=32, ks=16, nlist=16, seed=42)

        queries = emb.where(F.col("vec_id") % 25 == 0)
        qdir = os.path.join(root, "queries")
        queries.where(F.col("vec_id") % 50 == 0).coalesce(1).write.parquet(
            f"{qdir}/chunk=0"
        )
        queries.where(F.col("vec_id") % 50 != 0).coalesce(1).write.parquet(
            f"{qdir}/chunk=1"
        )

        stream = (
            spark.readStream.schema(
                queries.withColumn("chunk", F.lit(0)).schema
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(qdir)
            .drop("chunk")
        )
        out = os.path.join(root, "out")
        q = streaming_ivfpq_probe(stream, idx, out, k=5, nprobe=8)
        q.awaitTermination(120)

        got = (
            spark.read.parquet(out)
            .orderBy("query_id", "rank")
            .collect()
        )
        want = (
            ivfpq_query_index(queries, idx, k=5, nprobe=8)
            .orderBy("query_id", "rank")
            .collect()
        )
        assert len(got) == len(want) and len(want) > 0
        for g, w in zip(got, want):
            assert (g["query_id"], g["rank"], g["neighbor_id"]) == (
                w["query_id"], w["rank"], w["neighbor_id"]
            )
            assert abs(g["cosine"] - w["cosine"]) < 1e-9

        # Retry idempotency (r10 ADVICE): foreachBatch is at-least-once —
        # replaying a micro-batch with the SAME batch_id (as the engine
        # does after a sink failure) must not duplicate sink rows. The
        # writer overwrites its own batch_id partition, so a double
        # invocation leaves the union unchanged.
        from fdi_flow_spark.streaming.ann import write_probe_batch

        # replay batch 0 with its ACTUAL content (trigger order of the two
        # files is an engine detail — read it back from the sink)
        b0_ids = {
            r["query_id"]
            for r in spark.read.parquet(out)
            .where(F.col("batch_id") == 0)
            .select("query_id")
            .distinct()
            .collect()
        }
        replay = queries.where(F.col("vec_id").isin(list(b0_ids)))
        write_probe_batch(replay, 0, idx, out, k=5, nprobe=8)
        again = (
            spark.read.parquet(out).orderBy("query_id", "rank").collect()
        )
        assert [
            (g["query_id"], g["rank"], g["neighbor_id"]) for g in again
        ] == [(g["query_id"], g["rank"], g["neighbor_id"]) for g in got]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_streaming_splitters_equal_batch(spark):
    """chunk_documents and split_sentences (r10) are stateless JVM
    projections — they run unchanged as Structured Streaming stages and
    must emit exactly the batch rows in append mode across multi-file
    triggers (no per-batch state, no cross-batch dependency)."""
    import shutil
    import tempfile

    from fdi_flow_spark.pipelines.text import chunk_documents, split_sentences

    rows = [
        (i, f"alpha beta {i}. gamma delta epsilon! zeta {i} eta theta? iota")
        for i in range(24)
    ] + [(100, "   "), (101, "single run no terminator")]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    d = tempfile.mkdtemp(prefix="fdi_split_stream_")
    try:
        batch.where("doc_id < 12").coalesce(1).write.mode("append").parquet(d)
        batch.where("doc_id >= 12").coalesce(1).write.mode("append").parquet(d)
        for name, op in (
            ("chunk_sink", lambda df: chunk_documents(df, window=5, stride=3)),
            ("sent_sink", split_sentences),
        ):
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(d)
            )
            q = (
                op(stream)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            got = sorted(tuple(r) for r in spark.table(name).collect())
            expect = sorted(tuple(r) for r in op(batch).collect())
            assert got == expect and len(got) > 0, name
            spark.catalog.dropTempView(name)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_perplexity_buckets_equal_batch(spark):
    """The CCNet deployment shape (r10): LM and per-language cutoffs fit
    OFFLINE (perplexity_cutoffs on a reference snapshot), arriving docs
    scored and head/middle/tail-labeled per micro-batch against the static
    broadcast tables. Stream output must equal the batch labeling exactly
    (lang rides the scoring aggregation — no post-agg rejoin, which a
    stream cannot express)."""
    import shutil
    import tempfile

    from fdi_flow_spark.pipelines.lm import perplexity_buckets, perplexity_cutoffs

    ref_rows = []
    for li, lang in enumerate(("en", "de")):
        base = ["common common", "common filler", "filler filler",
                "rare1 rare2", "rare3 rare4 rare5", "rare6 rare7 rare8 rare9"]
        ref_rows += [(li * 10 + i, f"{t} l{li}", lang) for i, t in enumerate(base)]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string, lang string")
    cuts = perplexity_cutoffs(ref).localCheckpoint(eager=True)

    arrive = spark.createDataFrame(
        [(50, "common common l0", "en"), (51, "rare6 rare7 zz l0", "en"),
         (52, "common filler l1", "de"), (53, "never seen words", "de")],
        "doc_id long, text string, lang string",
    )
    expect = sorted(
        tuple(r)
        for r in perplexity_buckets(arrive, model_docs=ref, cutoffs=cuts).collect()
    )
    d = tempfile.mkdtemp(prefix="fdi_pplbkt_stream_")
    try:
        arrive.where("doc_id < 52").coalesce(1).write.mode("append").parquet(d)
        arrive.where("doc_id >= 52").coalesce(1).write.mode("append").parquet(d)
        stream = (
            spark.readStream.schema("doc_id long, text string, lang string")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        q = (
            perplexity_buckets(stream, model_docs=ref, cutoffs=cuts)
            .writeStream.format("memory")
            .queryName("pplbkt_sink")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.table("pplbkt_sink").collect())
        assert got == expect and len(got) == 4
        # every bucket label is one of the contract values
        assert {r[-1] for r in got} <= {"head", "middle", "tail"}
        spark.catalog.dropTempView("pplbkt_sink")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_kmeans_assign_equals_batch(spark):
    """The clustering deployment shape (r10b): centroids fit OFFLINE
    (kmeans_fit on a reference snapshot), arriving vectors assigned per
    micro-batch by the pure Arrow projection — stream output equals batch
    assignment exactly in append mode, and the fit/assign split equals
    the fused kmeans_embeddings call."""
    import shutil
    import tempfile

    from fdi_flow_spark.pipelines.clustering import (
        kmeans_assign,
        kmeans_embeddings,
        kmeans_fit,
    )

    ref = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = kmeans_fit(ref, k=4, n_iter=2)

    # fit/assign split == fused call on the same data
    fused = sorted(tuple(r) for r in kmeans_embeddings(ref, k=4, n_iter=2).collect())
    split = sorted(tuple(r) for r in kmeans_assign(ref, cent).collect())
    assert fused == split

    arrive = ref.where("vec_id < 100")
    expect = sorted(tuple(r) for r in kmeans_assign(arrive, cent).collect())
    d = tempfile.mkdtemp(prefix="fdi_kma_stream_")
    try:
        arrive.where("vec_id < 50").coalesce(1).write.mode("append").parquet(d)
        arrive.where("vec_id >= 50").coalesce(1).write.mode("append").parquet(d)
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>, label int")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        q = (
            kmeans_assign(stream, cent)
            .writeStream.format("memory")
            .queryName("kma_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in spark.table("kma_sink").collect())
        assert got == expect and len(got) == 100
        spark.catalog.dropTempView("kma_sink")
    finally:
        shutil.rmtree(d, ignore_errors=True)
