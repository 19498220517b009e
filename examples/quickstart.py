"""Runnable tour of fdi_flow_spark: the reference drop-in API, the
Spark-first operator pipeline, simulation/observers, and the
training-data-curation surface.

    python examples/quickstart.py

Uses the driver-generated testdata at /root/testdata/sf0.001.
"""

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def main() -> None:
    from fdi_flow_spark.core.session import get_spark

    spark = get_spark(app_name="fdi-flow-spark-quickstart", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    # 1. Reference drop-in API: fdi_flow code runs by renaming the root
    # package — same classes, same containers in and out.
    from fdi_flow_spark.preprocessing.filters import ExponentialSmoothing

    noisy = np.sin(np.linspace(0, 6, 200)) + np.random.default_rng(0).normal(0, 0.2, 200)
    smooth = ExponentialSmoothing(alpha=0.3).apply(noisy)  # ndarray -> ndarray
    print("drop-in EWMA:", type(smooth).__name__, smooth[:3].round(3))

    # 2. The same operators, Spark-first: DataFrame -> DataFrame, one
    # Exchange for the whole per-series chain; this is the 100 TB path.
    from fdi_flow_spark.operators import moving_average, standard_scale
    from fdi_flow_spark.sources.tables import events_series

    series = events_series(spark, SF)
    pipeline = standard_scale(moving_average(series, 5, pad_with_zeros=False))
    print("series pipeline rows:", pipeline.count())

    # 3. Simulation + observer replay (exact ZOH integration for stiff runs).
    from fdi_flow_spark.models.linear_models import LinearContinuousStateSpaceModel
    from fdi_flow_spark.state_observers.luenberger import LuenbergerObserver

    model = LinearContinuousStateSpaceModel(
        [[0.0, 1.0], [-2.0, -0.8]], [[0.0], [1.0]], [[1.0, 0.0]], [[0.0]]
    )
    u = np.ones((200, 1))
    sim = model.simulate(u, [0.0, 0.0], t_final=2.0, dt=0.01, method="Radau")
    obs = LuenbergerObserver(model.A, model.B, model.C, dt=0.01, L=[[1.2], [0.8]])
    print("simulated states:", sim["states"].shape, "| observer gain:", np.ravel(obs.L))

    # 4. Training-data curation: dedup -> clusters -> split -> pack, all
    # deterministic, all oracle-checked in the registry.
    from fdi_flow_spark.pipelines import (
        dedup_components,
        hash_split,
        minhash_dedup_pairs,
        token_pack,
    )
    from fdi_flow_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    pairs = minhash_dedup_pairs(docs, threshold=0.2)
    comps = dedup_components(pairs, docs=docs)
    canonical = comps.where("doc_id = component_id")
    split = hash_split(canonical.join(docs, "doc_id"))
    packed = token_pack(split, seq_len=256)
    print(
        "near-dup pairs:", pairs.count(),
        "| canonical docs:", canonical.count(),
        "| packs:", packed.agg({"pack_id": "max"}).first()[0] + 1,
    )

    # 4b. Eval decontamination + repetition filtering — the other two
    # standard pretraining hygiene steps, both oracle-checked.
    from fdi_flow_spark.pipelines.curation import decontaminate
    from fdi_flow_spark.pipelines.text import repetition_scores

    from pyspark.sql import functions as F

    bench = docs.where(F.col("doc_id") % 10 == 0)  # stand-in eval set
    clean = decontaminate(docs, bench, n=8)
    rep = repetition_scores(docs).where(F.col("dup_bigram_frac") > 0.5)
    print(
        "decontaminated corpus:", clean.count(), "of", docs.count(),
        "| repetitive docs flagged:", rep.count(),
    )

    # 4c. LM-perplexity quality filtering + C4-style boilerplate line
    # removal + temperature source mixing — the round-5 curation surface.
    from fdi_flow_spark.pipelines.curation import line_dedup, source_mix
    from fdi_flow_spark.pipelines.lm import lm_perplexity

    ppl = lm_perplexity(docs)  # self-scored bigram LM
    fluent = ppl.approxQuantile("ppl", [0.9], 0.01)[0]
    mixed = source_mix(docs, budget=200, temperature=0.5)
    cleaned = line_dedup(docs, min_doc_freq=3)
    print(
        "P90 perplexity:", round(fluent, 1),
        "| mixed sample:", mixed.count(),
        "| docs with boilerplate removed:", cleaned.where("n_removed > 0").count(),
    )

    # 4d. SemDeDup: deterministic Lloyd k-means, then near-dup pairs only
    # WITHIN clusters — the candidate space is bounded by cluster blocks.
    from fdi_flow_spark.pipelines.clustering import kmeans_embeddings, semantic_dedup_pairs

    emb_tbl = load_table(spark, SF, "embeddings")
    km = kmeans_embeddings(emb_tbl, k=8, n_iter=2)
    sem = semantic_dedup_pairs(emb_tbl, k=8, n_iter=2, threshold=0.4)
    print("k-means cluster sizes:", sorted(r["count"] for r in km.groupBy("cluster").count().collect()),
          "| semantic near-dup pairs:", sem.count())

    # 5. Similarity search with a persisted IVF index.
    import tempfile

    from fdi_flow_spark.pipelines.similarity import ivf_build_index, ivf_query_index

    emb = load_table(spark, SF, "embeddings")
    with tempfile.TemporaryDirectory() as d:
        ivf_build_index(emb, f"{d}/ivf", nlist=8)
        hits = ivf_query_index(emb.limit(3), f"{d}/ivf", k=3, nprobe=3)
        print("IVF top-3 for 3 queries:")
        hits.show(9, truncate=False)

    # 6. Multimodal columns with REAL pure-NumPy codecs: BMP images, WAV
    # audio, uncompressed-DIB AVI video — decode, feature-extract, and
    # frame-sample as Arrow-batched kernels over binary payloads.
    from fdi_flow_spark.pipelines.multimodal import (
        audio_features,
        frame_extract,
        image_features,
        media_from_documents,
    )

    media = media_from_documents(docs)
    print(
        "image mean-RGB rows:", image_features(media).count(),
        "| audio FFT-band rows:", audio_features(media).count(),
        "| decoded video frames:", frame_extract(media, every_n=10).count(),
    )

    # 7. Forecasting end to end WITHOUT TensorFlow: distributed window prep,
    # NumPy Adam+BPTT training, Arrow-batched distributed inference.
    from fdi_flow_spark.forecasting.predictor import TimeSeriesPredictor

    sig = np.sin(np.arange(600) * 0.2) * 0.5 + 0.5
    T, H = 12, 1
    X = np.stack([sig[i : i + T] for i in range(len(sig) - T - H)])[:, :, None]
    Y = np.stack([sig[i + T : i + T + H] for i in range(len(sig) - T - H)])
    pred = TimeSeriesPredictor(time_steps=T, output_step=H, epochs=5, batch_size=64, verbose=0)
    pred.build_model()  # no TF -> NumPy twin trainer
    hist = pred.train_model(X, Y, validation_split=0.1)
    windows = spark.createDataFrame(
        [(i, [float(v) for v in X[i, :, 0]]) for i in range(5)], "window_id long, x array<double>"
    )
    scored = pred.predict_distributed(windows)
    print(
        f"forecaster loss {hist['loss'][0]:.4f} -> {hist['loss'][-1]:.4f};",
        "distributed predictions:", scored.count(),
    )

    # 8. Round-5b curation additions: exact span-level dedup
    # (first-occurrence-wins), DSIR importance selection toward a target
    # slice, PQ/ADC similarity over byte codes, a trainable BPE tokenizer,
    # and unicode ingest cleanup.
    import pyspark.sql.functions as F

    from fdi_flow_spark.pipelines.dedup import span_contamination, strip_duplicated_spans
    from fdi_flow_spark.pipelines.quantization import cosine_topk_pq
    from fdi_flow_spark.pipelines.selection import dsir_select
    from fdi_flow_spark.pipelines.text import normalize_text
    from fdi_flow_spark.pipelines.tokenizer import bpe_tokenize, bpe_train

    stripped = strip_duplicated_spans(docs, k=8)
    n_dropped = stripped.agg(F.sum("n_dropped")).first()[0]
    contam = span_contamination(
        docs.where(F.col("doc_id") % 4 != 0), docs.where(F.col("doc_id") % 4 == 0)
    )
    hit_docs = contam.where(F.col("n_contaminated") > 0).count()
    picked = dsir_select(docs, docs.where(F.col("source") == "src0"), n=20)
    merges = bpe_train(docs, n_merges=30)
    toks = bpe_tokenize(docs, merges)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    adc = cosine_topk_pq(emb.where(F.col("vec_id") % 25 == 0), emb, k=3, m=32)
    print(
        "span-dedup dropped tokens:", int(n_dropped),
        "| contaminated docs:", hit_docs,
        "| DSIR picks:", picked.count(),
        "| BPE merges:", len(merges),
        "| BPE token rows:", toks.count(),
        "| ADC neighbor rows:", adc.count(),
        "| normalized docs:", normalize_text(docs).count(),
    )

    # 7. The r5c drift/monitoring layer: the classical FDI loop over the
    # events series — change detection, signature search, diagnostics —
    # all closed-form window SQL sharing one series Exchange.
    from fdi_flow_spark.operators import (
        changepoint_scan,
        cusum,
        pattern_search,
        seasonal_decompose,
        series_profile,
        session_stats,
    )
    from fdi_flow_spark.pipelines.quality_model import nb_quality_classify
    from fdi_flow_spark.sources.tables import events_series, load_table

    series = events_series(spark, SF)
    alarms = cusum(series, k=10.0, h=400.0).where(F.col("alarm")).count()
    cp = changepoint_scan(series, min_size=10).orderBy("series_id").first()
    hits = pattern_search(series, [0.0, 1.0, 2.0, 3.0, 2.0, 1.0, 0.0, -1.0], k=3)
    season = seasonal_decompose(series, period=12)
    prof = series_profile(series).orderBy("series_id").first()
    ev = load_table(spark, SF, "events").select(
        "user_id",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("tus"),
    )
    sessions = session_stats(ev, "user_id", "tus", 14_400_000_000)
    quality = nb_quality_classify(
        docs.withColumn("is_en", F.col("lang") == "en"), "is_en"
    )
    print(
        "CUSUM alarm rows:", alarms,
        "| top changepoint:", (cp["series_id"], int(cp["cp_ts"])),
        "| signature matches:", hits.count(),
        "| seasonal rows:", season.count(),
        "| profile[0] skew:", round(prof["skewness"], 3),
        "| sessions:", sessions.count(),
        "| quality keep-rate:", round(
            quality.agg(F.avg(F.col("pred").cast("double"))).first()[0], 3
        ),
    )

    # 8. r6: both tokenizer families (offline train / anywhere apply),
    # stiff nonlinear simulation, and bounded pair correlations.
    from fdi_flow_spark.models import NonlinearStateSpaceModel
    from fdi_flow_spark.operators import rolling_corr_pairs
    from fdi_flow_spark.pipelines import (
        bpe_tokenize,
        bpe_train,
        unigram_tokenize,
        unigram_train,
    )

    merges = bpe_train(docs, n_merges=30)
    vocab = unigram_train(docs, vocab_size=80, em_iters=1, prune_rounds=2)
    bpe_out = bpe_tokenize(docs, merges)
    uni_out = unigram_tokenize(docs, vocab)
    mean_tok = lambda df: df.agg(F.avg("n_tokens")).first()[0]  # noqa: E731

    # stiff van der Pol through the reference's Radau name -> L-stable TR-BDF2
    mu = 1000.0
    vdp = NonlinearStateSpaceModel(
        lambda x, u, t: np.array([x[1], mu * (1 - x[0] ** 2) * x[1] - x[0]]),
        lambda x, u, t: np.array([x[0]]),
    )
    stiff = vdp.simulate(np.zeros((100, 1)), [2.0, 0.0], 1.0, 0.01, method="Radau")

    # pair correlations bounded by the plant topology: (group, ts) join key
    grouped = series.withColumn(
        "plant", F.when(F.col("series_id") < "m", "p1").otherwise("p2")
    )
    rc = rolling_corr_pairs(grouped, window=20, group_col="plant")
    print(
        "BPE mean tokens/doc:", round(mean_tok(bpe_out), 1),
        "| unigram mean tokens/doc:", round(mean_tok(uni_out), 1),
        "| stiff vdP final x1:", round(float(stiff["states"][-1, 0]), 4),
        "| grouped rolling-corr rows:", rc.count(),
    )

    # 9. r7: model-based language ID (fastText-LID family), the composed
    # streaming ingest stage, and exact-dedup-first near-dup components.
    from fdi_flow_spark.pipelines.curation import curation_stream_score
    from fdi_flow_spark.pipelines.dedup import near_dup_components
    from fdi_flow_spark.pipelines.lid import lid_fit, lid_predict, multilingual_docs
    from fdi_flow_spark.pipelines.quality_model import nb_quality_fit
    from fdi_flow_spark.pipelines.selection import dsir_fit

    ml = multilingual_docs(docs)
    lid_model = lid_fit(ml.where("doc_id % 5 != 0"), label_col="lang_true")
    lid_pred = lid_predict(ml.where("doc_id % 5 = 0"), lid_model)
    acc = (
        lid_pred.join(ml.select("doc_id", "lang_true"), "doc_id")
        .agg(F.avg((F.col("pred_lang") == F.col("lang_true")).cast("double")))
        .first()[0]
    )

    corpus = docs.where("doc_id % 3 = 0")
    from fdi_flow_spark.pipelines.text import clean_docs

    scored = curation_stream_score(  # same plan runs on a readStream
        docs.where("doc_id % 3 != 0"),
        # contract: digests of the CLEANED corpus text (the arriving side
        # is digested post-cleanup)
        clean_docs(corpus.select("doc_id", "text"))
        .select(F.md5("text").alias("digest"))
        .distinct(),
        nb_quality_fit(corpus.withColumn("is_en", F.col("lang") == "en"), "is_en"),
        dsir_fit(corpus, corpus.where("source = 'src0'")),
    )
    comps = near_dup_components(docs)
    print(
        "LID accuracy on cipher langs:", round(acc, 3),
        "| ingest-scored docs:", scored.count(),
        "| dedup-first components:", comps.select("component_id").distinct().count(),
    )

    # 10. r8: exact cosine near-dup without a driver ceiling (block-grid
    # self-join — same output as the broadcast path, corpus never
    # collected).
    from fdi_flow_spark.pipelines.similarity import (
        cosine_near_dup_blocked,
        cosine_near_dup_pairs,
    )

    exact_pairs = cosine_near_dup_pairs(emb, threshold=0.4)  # broadcast fast path
    blocked_pairs = cosine_near_dup_blocked(emb, threshold=0.4, rows_per_block=256)
    print(
        "exact cosine pairs:", exact_pairs.count(),
        "| blocked path pairs (identical):", blocked_pairs.count(),
    )

    spark.stop()


if __name__ == "__main__":
    main()
