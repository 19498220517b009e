"""Corpus-curation operators for training-data pipelines: deterministic
splits, per-source quota sampling, PII redaction.

No reference twin — these belong to the driver-mandated LLM-pipeline
extension surface (SURVEY §2.9), alongside dedup/similarity/text. Design
rules at 100 TB:

- Splits and sampling must be DETERMINISTIC functions of the data (hash
  buckets), never ``rand()``: reruns, retries, and late-arriving partitions
  then land every row in the same split, and the oracle can replay the
  bucketing exactly.
- ``hash_split`` is a pure projection — zero shuffle at any scale.
- ``quota_sample`` is one hash-partitioned window per group key; the hash
  order makes the kept set stable under input reordering.
- ``pii_redact`` is JVM-side regexp only (no Python in the row path), with
  RE2-compatible patterns so the DuckDB oracle runs the same expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fdi_flow_spark.core.partitioning import ensure_min_parallelism

# RE2-safe AND java.util.regex-safe (no lookaround, no backrefs) so Spark
# and the DuckDB oracle evaluate identical semantics.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d{7,15}\b",
}


def _hash_bucket(col, seed: int, buckets: int):
    """md5-bridge bucket in [0, buckets): first 8 hex chars -> int32-safe
    value, stable across Spark and DuckDB (same construction as the dedup
    shingle hash)."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(str(seed) + ":"), col.cast("string"))), 1, 8), 16, 10)
    return h.cast("bigint") % buckets


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    seed: int = 42,
) -> DataFrame:
    """Deterministic train/val/test assignment: hash the id into 10,000
    buckets, carve them by cumulative weight. Adds a ``split`` column.

    Pure projection — no shuffle, no state; the same row always lands in
    the same split on any cluster, any partitioning, any rerun.
    """
    weights = weights or {"train": 0.8, "test": 0.2}
    total = sum(weights.values())
    bucket = _hash_bucket(F.col(id_col), seed, 10_000)
    expr = None
    acc = 0.0
    items = sorted(weights.items())  # deterministic carve order
    for name, w in items[:-1]:
        acc += w / total
        cond = bucket < int(round(acc * 10_000))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn("split", expr)


def quota_sample(
    df: DataFrame,
    group_col: str = "source",
    n_per_group: int = 100,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Keep at most ``n_per_group`` rows per group, chosen by deterministic
    hash order (uniform within the group, stable under input reordering) —
    the data-mixing primitive that caps any one source's share.

    One shuffle on ``group_col``; skewed groups are bounded by the window's
    per-partition top-k (rank <= n) which AQE handles like any other
    hot-key window — for pathological single-source corpora, pre-salt the
    group key.
    """
    from pyspark.sql import Window

    order = _hash_bucket(F.col(id_col), seed, 1_000_000_007)
    w = Window.partitionBy(group_col).orderBy(order.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n_per_group)
        .drop("_rn")
    )


def source_mix(
    df: DataFrame,
    budget: int,
    temperature: float = 0.5,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Temperature-based source mixing: sample ``budget`` documents total,
    allocating per-source quotas proportional to ``n_source^temperature``
    (the multilingual/data-mixing rule from the mBERT/Pile/LLaMA recipes —
    ``temperature < 1`` upsamples small sources relative to their share).

    Quotas: ``quota_s = round(budget * n_s^T / sum(n_t^T))`` capped at
    ``n_s``; members are then the quota-first documents in deterministic
    hash order (same kernel as :func:`quota_sample`). The default
    ``temperature=0.5`` evaluates as ``SQRT`` — exactly rounded under
    IEEE-754, unlike ``pow``, so the oracle replays it bit-identically.

    Scale shape: the source-count aggregate is tiny (one row per source)
    and broadcast back; one hash-ordered window per source does the rest.
    Output adds ``n_source``, ``source_weight``, ``src_rank``.
    """
    from pyspark.sql import Window

    if budget <= 0:
        raise ValueError("budget must be positive")
    wexp = (
        F.sqrt(F.col("n_source"))
        if temperature == 0.5
        else F.pow(F.col("n_source"), F.lit(float(temperature)))
    )
    counts = df.groupBy(source_col).agg(F.count("*").alias("n_source"))
    tot = counts.select(
        F.sum(wexp).alias("_wsum")
    )
    quotas = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            source_col,
            "n_source",
            (wexp / F.col("_wsum")).alias("_w"),
        )
        .select(
            source_col,
            "n_source",
            F.round("_w", 6).alias("source_weight"),
            F.least(
                F.col("n_source"), F.round(F.lit(budget) * F.col("_w")).cast("bigint")
            ).alias("_quota"),
        )
    )
    order = _hash_bucket(F.col(id_col), seed, 1_000_000_007)
    w = Window.partitionBy(source_col).orderBy(order.asc(), F.col(id_col).asc())
    return (
        df.join(F.broadcast(quotas), source_col)
        .withColumn("src_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("src_rank") <= F.col("_quota"))
        .drop("_quota")
    )


def line_dedup(
    df: DataFrame,
    min_doc_freq: int = 3,
    min_line_chars: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_boilerplate: bool = False,
) -> DataFrame:
    """C4-style boilerplate line removal: a (trimmed) line of at least
    ``min_line_chars`` characters appearing in ``min_doc_freq`` or more
    DISTINCT documents is dropped from every document (cookie banners,
    nav menus, license footers). Shorter lines are never dropped.

    Output is total — one row per input document:
    ``(doc_id, n_lines, n_removed, clean_md5)`` where ``clean_md5``
    checksums the kept lines re-joined in order (empty string when every
    line was boilerplate).

    Scale shape: the line stream is scanned twice (document-frequency
    aggregate; re-group per doc), both shuffles map-side combinable; the
    boilerplate join carries 8-byte ``xxhash64`` keys, never line strings.
    The boilerplate table is usually tiny relative to the corpus but is
    NOT provably so — with no hint Catalyst's size estimate decides
    (broadcast while small, shuffle join beyond the threshold);
    ``broadcast_boilerplate=True`` forces the broadcast regardless.
    """
    lines = (
        ensure_min_parallelism(df, id_col)
        .select(
            F.col(id_col), F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line")
        )
        .withColumn("_norm", F.trim(F.col("_line")))
        .withColumn("_eligible", F.length("_norm") >= min_line_chars)
        .withColumn("_k", F.xxhash64("_norm"))
    )
    boiler = (
        lines.where("_eligible")
        .groupBy("_k")
        .agg(F.countDistinct(id_col).alias("_df"))
        .where(F.col("_df") >= min_doc_freq)
        .select("_k", F.lit(True).alias("_boiler"))
    )
    if broadcast_boilerplate:
        boiler = F.broadcast(boiler)
    marked = lines.join(boiler, "_k", "left").withColumn(
        "_drop", F.col("_eligible") & F.coalesce(F.col("_boiler"), F.lit(False))
    )
    kept_lines = F.transform(
        F.filter(
            F.sort_array(F.collect_list(F.struct("_pos", "_drop", "_line"))),
            lambda s: ~s["_drop"],
        ),
        lambda s: s["_line"],
    )
    return marked.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(F.col("_drop").cast("bigint")).alias("n_removed"),
        F.md5(F.array_join(kept_lines, "\n")).alias("clean_md5"),
    )


def pii_redact(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    replacement: str = "[REDACTED]",
) -> DataFrame:
    """Redact PII-shaped spans (emails, IPv4, international phone numbers by
    default); adds ``clean_text`` and per-pattern ``n_<name>`` counts plus a
    ``n_redacted`` total. All JVM regexp — whole-stage codegen, zero Python.
    """
    patterns = patterns or PII_PATTERNS
    out = df
    clean = F.col(text_col)
    total = F.lit(0).cast("bigint")
    for name, pat in sorted(patterns.items()):
        cnt = F.size(F.regexp_extract_all(text_col, F.lit(pat), 0)).cast("bigint")
        out = out.withColumn(f"n_{name}", cnt)
        clean = F.regexp_replace(clean, pat, replacement)
        total = total + cnt
    return out.withColumn("clean_text", clean).withColumn("n_redacted", total)


def corpus_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    source_col: str = "source",
) -> DataFrame:
    """Dataset-card summary — the per-``(lang, source)`` statistics table
    every corpus release ships (HF dataset cards, the Dolma/RedPajama
    reports): document and token counts, length distribution, and the
    exact-duplicate rate. Output, one row per (lang, source):
    ``(lang, source, n_docs, n_distinct_texts, dup_rate, total_tokens,
    avg_tokens, p50_tokens, max_tokens, total_chars)``, ratios rounded to
    6 dp.

    ONE corpus scan into ONE grouped aggregation: tokens counted by the
    shared whitespace rule (``selection.gram_exprs``' tokenizer), distinct
    texts via ``count(DISTINCT md5(text))`` inside the same aggregate
    (16-byte digests, never text, cross the exchange), the median an
    exact ``percentile`` (groups are per-(lang, source) — the reduce
    state is one scalar list per group, fine at any corpus size; swap to
    ``approx_percentile`` only if a single group's doc count outgrows a
    reducer). Map-side combinable except the exact percentile/distinct
    terms, which Spark plans as a single expand — still one shuffle on
    the (lang, source) key."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: F.length(t) > 0
    )
    n_tokens = F.size(toks).cast("bigint")
    rows = df.select(
        F.col(lang_col).alias("lang"),
        F.col(source_col).alias("source"),
        n_tokens.alias("_nt"),
        F.length(F.col(text_col)).cast("bigint").alias("_nc"),
        F.md5(F.col(text_col)).alias("_dg"),
    )
    n_docs = F.count("*").cast("bigint")
    n_distinct = F.countDistinct("_dg").cast("bigint")
    return rows.groupBy("lang", "source").agg(
        n_docs.alias("n_docs"),
        n_distinct.alias("n_distinct_texts"),
        F.round(1 - n_distinct / n_docs, 6).alias("dup_rate"),
        F.sum("_nt").cast("bigint").alias("total_tokens"),
        F.round(F.sum("_nt") / n_docs, 6).alias("avg_tokens"),
        F.percentile("_nt", 0.5).alias("p50_tokens"),
        F.max("_nt").alias("max_tokens"),
        F.sum("_nc").cast("bigint").alias("total_chars"),
    )


def token_pack(
    df: DataFrame,
    seq_len: int,
    shard_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """Concatenate-then-chunk packing: docs are laid end-to-end in
    deterministic hash order within each shard, and the token stream is cut
    into ``seq_len``-sized packs — the standard pretraining packing scheme
    (documents may straddle pack boundaries). Emits
    ``(doc_id, shard, n_tokens, pack_id, pack_offset)`` where ``pack_id`` is
    the pack holding the doc's first token and ``pack_offset`` its offset
    inside that pack.

    Scale shape: one window cumsum per SHARD (never a global ordering — the
    per-shard layout is what real pipelines materialize anyway, and shards
    keep the sort bounded); the hash order makes layout reproducible across
    reruns and partitionings.
    """
    from pyspark.sql import Window

    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    toks = F.size(F.filter(F.split(F.col(text_col), r"\s+"), lambda t: F.length(t) > 0))
    order = _hash_bucket(F.col(id_col), seed, 1_000_000_007)
    w = Window.partitionBy(shard_col).orderBy(order.asc(), F.col(id_col).asc())
    offset = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    ).cast("bigint")
    return (
        df.withColumn("n_tokens", toks.cast("bigint"))
        .withColumn("_start", offset)
        .select(
            F.col(id_col),
            F.col(shard_col).alias("shard"),
            "n_tokens",
            # `div` is integer division on longs — no double rounding at
            # petabyte token offsets
            F.expr(f"_start div {int(seq_len)}").alias("pack_id"),
            (F.col("_start") % seq_len).alias("pack_offset"),
        )
    )


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark-contamination detection: every (corpus doc, benchmark doc)
    pair sharing at least ``min_hits`` distinct word ``n``-grams — the
    standard pretraining decontamination primitive (eval n-gram overlap).

    Execution: both sides shingle with the dedup module's word-n-gram
    kernel, shingles are hashed to 8-byte keys before the join (the shuffle
    never carries gram strings), and the benchmark side — eval sets are
    small by nature — broadcasts by default; set
    ``broadcast_benchmark=False`` when decontaminating against something
    corpus-sized, which turns it into a plain shuffle-hash join on the
    hashed grams. Output: ``(corpus_id, bench_id, n_shared)``.
    """
    from fdi_flow_spark.pipelines.dedup import _word_ngrams

    cg = _word_ngrams(corpus, id_col, text_col, n).select(
        F.col("id").alias("corpus_id"), F.xxhash64("shingle").alias("_g")
    )
    bg = _word_ngrams(benchmark, id_col, text_col, n).select(
        F.col("id").alias("bench_id"), F.xxhash64("shingle").alias("_g")
    )
    if broadcast_benchmark:
        bg = F.broadcast(bg)
    return (
        cg.join(bg, "_g")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_hits)
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Drop every corpus doc sharing >= ``min_hits`` word ``n``-grams with
    any benchmark doc (anti-join against :func:`contamination_pairs`'s
    corpus side). Returns the surviving corpus rows unchanged."""
    hits = contamination_pairs(
        corpus,
        benchmark,
        n=n,
        min_hits=min_hits,
        id_col=id_col,
        text_col=text_col,
        broadcast_benchmark=broadcast_benchmark,
    ).select(F.col("corpus_id").alias(id_col)).distinct()
    return corpus.join(hits, id_col, "left_anti")


URL_HOST_PATTERN = r"https?://([a-z0-9.-]+)(/[^ ]*)?"


def domain_filter(
    df: DataFrame,
    blocklist: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style URL/domain filtering: extract every URL host in the text
    (RE2-and-java.util.regex-compatible pattern shared with the oracle,
    lowercase match) and drop documents citing a blocklisted domain.
    Output is total — one row per doc:
    ``(doc_id, n_urls, n_blocked, keep)``.

    Pure JVM projection (regexp_extract_all + array ops against a literal
    blocklist) — zero shuffle at any scale; a corpus-scale blocklist is
    the point to switch to a broadcast anti-join on the host instead."""
    hosts = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(URL_HOST_PATTERN), F.lit(1)
    )
    bl = F.array(*[F.lit(b.lower()) for b in blocklist])
    n_blocked = F.size(F.filter(hosts, lambda h: F.array_contains(bl, h)))
    return ensure_min_parallelism(df, id_col).select(
        F.col(id_col),
        F.size(hosts).cast("bigint").alias("n_urls"),
        n_blocked.cast("bigint").alias("n_blocked"),
        (n_blocked == 0).alias("keep"),
    )


def curation_stream_score(
    docs: DataFrame,
    corpus_digests: DataFrame,
    nb_model: DataFrame,
    dsir_model: DataFrame,
    min_tokens: int = 30,
    nb_buckets: int = 1024,
    nb_seed: int = 7,
    dsir_buckets: int = 1024,
    dsir_seed: int = 7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The composed ingest-curation stage as ONE streaming-executable
    plan: unicode cleanup -> token-count gate -> exact-dedup flag against
    the persisted corpus digest table -> NB quality score AND DSIR
    importance weight. Output, one row per surviving doc:
    ``(doc_id, is_exact_dup, n_grams, quality_score, quality_pred,
    dsir_log_weight)`` (scores rounded to 6 dp).

    CONTRACT (ADVICE r7): ``corpus_digests`` must hold digests of the
    corpus text AFTER ``clean_docs`` — the arriving side is digested
    post-cleanup, so raw-text corpus digests would silently never flag a
    corpus doc whose text the cleanup alters (double spaces, control
    chars). Build it as
    ``clean_docs(corpus).select(F.md5("text"))...distinct()``.

    Why this composes on a STREAM (where chaining the individual
    operators would not): every stateful stage is folded into a single
    ``groupBy(doc)`` aggregation. The NB gram stream and the DSIR gram
    stream are the SAME stream (lowercase unigrams+bigrams, per
    occurrence), so one explode carries BOTH hashed bucket columns; both
    models cover their full bucket domains (inner joins never drop a
    gram), both joins are stream-static, and the exact-dup flag is a
    stream-static join on the 16-byte digest BEFORE the explode, carried
    through the aggregation with ``first()``. One stateful operator
    total -- Structured Streaming's chained-aggregation restriction never
    triggers. Batch input runs the identical plan (parity-tested).

    The near-dup leg (``dedup.near_dup_candidates_against``) is NOT
    folded in: its band explode is a different fan-out axis and its
    best-match rank needs a second stateful aggregation — it runs as its
    own stream stage (stream-parity-tested in test_streaming), exactly
    how a production ingest splits the two.
    """
    from fdi_flow_spark.pipelines.text import clean_docs

    cleaned = clean_docs(docs, id_col, text_col)
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: F.length(t) > 0
    )
    gated = cleaned.where(F.size(toks) >= min_tokens)
    # defensive distinct: a duplicate row in the persisted digest table
    # would fan every matching doc out through the left join and silently
    # multiply its gram counts and both scores (the static side is 16-byte
    # digests, so the dedup is ~free)
    digests = (
        corpus_digests.select(F.col(corpus_digests.columns[0]).alias("_dg"))
        .dropDuplicates()
        .withColumn("_hit", F.lit(True))
    )
    flagged = (
        gated.withColumn("_dg", F.md5(F.col(text_col)))
        .join(digests, "_dg", "left")
        .withColumn("is_exact_dup", F.coalesce(F.col("_hit"), F.lit(False)))
        .drop("_dg", "_hit")
    )
    # selection.gram_exprs is THE shared gram definition (DSIR / NB /
    # here), applied inline so the dup flag rides the explode (a join
    # back to the stream would be the stream-stream join this operator
    # exists to avoid)
    from fdi_flow_spark.pipelines.selection import gram_exprs

    toks2, grams = gram_exprs(text_col)
    g = (
        flagged.select(
            F.col(id_col).alias("id"), F.col("is_exact_dup"), toks2.alias("_t")
        )
        .where(F.size("_t") >= 1)
        .select("id", "is_exact_dup", F.explode(grams).alias("gram"))
        .select(
            "id",
            "is_exact_dup",
            _hash_bucket(F.col("gram"), nb_seed, nb_buckets).alias("_bn"),
            _hash_bucket(F.col("gram"), dsir_seed, dsir_buckets).alias("_bd"),
        )
    )
    # EXPLICIT broadcast (r15, guide §3.1): both models are <= buckets
    # rows BY CONSTRUCTION (their module contracts), but their plans end
    # in crossJoins of the count tables with the totals rows, whose SIZE
    # ESTIMATE is a product that blows past the auto-broadcast threshold
    # — Catalyst picked SortMergeJoin, paying a full gram-stream Exchange
    # + Sort per model join (2 of the 3 stream shuffles in the composed
    # scoring plan; measured r15).
    nbm = nb_model.select(
        F.col("b").alias("_bn"), F.col("w").alias("_w"), F.col("prior").alias("_pr")
    )
    dsm = dsir_model.select(F.col("b").alias("_bd"), F.col("logr").alias("_lr"))
    return (
        g.join(F.broadcast(nbm), "_bn")
        .join(F.broadcast(dsm), "_bd")
        .groupBy("id")
        .agg(
            F.first("is_exact_dup").alias("is_exact_dup"),
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.round(F.sum("_w") + F.first("_pr"), 6).alias("quality_score"),
            ((F.sum("_w") + F.first("_pr")) > 0).alias("quality_pred"),
            F.round(F.sum("_lr"), 6).alias("dsir_log_weight"),
        )
        .select(
            F.col("id").alias(id_col),
            "is_exact_dup",
            "n_grams",
            "quality_score",
            "quality_pred",
            "dsir_log_weight",
        )
    )


def curation_deploy_score(
    docs: DataFrame,
    corpus_digests: DataFrame,
    nb_model: DataFrame,
    dsir_model: DataFrame,
    lm_model_docs: DataFrame | None,
    ppl_cutoffs: DataFrame,
    min_tokens: int = 30,
    nb_buckets: int = 1024,
    nb_seed: int = 7,
    dsir_buckets: int = 1024,
    dsir_seed: int = 7,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    broadcast_model: bool = True,
    lm_counts: DataFrame | None = None,
) -> DataFrame:
    """The FULL deployment-shape ingest stage (r11, r10 VERDICT stretch
    item 8): :func:`curation_stream_score`'s composed plan (cleanup ->
    token gate -> exact-dup flag -> NB quality + DSIR weight) EXTENDED
    with CCNet perplexity scoring and head/middle/tail bucketing against
    OFFLINE artifacts — every static input fit once on a reference
    snapshot (``nb_quality_fit``, ``dsir_fit``, the bigram LM count
    tables from ``lm_model_docs``, ``perplexity_cutoffs``), arriving
    docs — batch or STREAM — scored in ONE pass. Output, one row per
    surviving doc: ``(doc_id, lang, is_exact_dup, n_grams,
    quality_score, quality_pred, dsir_log_weight, n_bigrams, avg_logp,
    ppl, bucket)``.

    Why this still composes on a stream: the LM bigram leg rides the SAME
    single ``groupBy(doc)`` aggregation as the NB/DSIR gram leg. One
    explode emits a union of item structs — ``(gram, null, null)`` rows
    for the unigram+bigram feature stream, ``(null, w1, w2)`` rows for
    the BOS-prefixed LM bigram stream (``lm._bigrams`` definition; both
    share ``selection.gram_exprs``'s tokenizer) — every static join is a
    LEFT join (NB/DSIR models are full-bucket-domain, so left == inner on
    gram rows; the LM tables back off via ``coalesce`` exactly as
    ``lm_perplexity`` does for unseen bigrams), and the per-kind sums
    separate in the aggregate because each measure is NULL on the other
    kind's rows. Bucket labeling is a stateless broadcast join on the
    arriving ``lang_col`` AFTER the aggregation, with the ``unknown``
    sentinel for languages absent from the cutoffs (the
    :func:`fdi_flow_spark.pipelines.lm.perplexity_buckets` deployment
    contract — never silently dropped). One stateful operator total.

    The embedding-side legs (LSH near-dup probe, k-means centroid
    assignment) deliberately stay SEPARATE stream stages — different
    fan-out axes and their own stateful shapes, each with its own parity
    test — exactly how :func:`curation_stream_score` documents the
    near-dup split. ``examples/curation_deploy.py`` chains all of them.
    """
    from fdi_flow_spark.pipelines.lm import BOS, _bigrams
    from fdi_flow_spark.pipelines.selection import gram_exprs
    from fdi_flow_spark.pipelines.text import clean_docs

    cleaned = clean_docs(docs, id_col, text_col)
    toks, _ = gram_exprs(text_col)
    gated = cleaned.where(F.size(toks) >= min_tokens)
    digests = (
        corpus_digests.select(F.col(corpus_digests.columns[0]).alias("_dg"))
        .dropDuplicates()
        .withColumn("_hit", F.lit(True))
    )
    flagged = (
        gated.withColumn("_dg", F.md5(F.col(text_col)))
        .join(digests, "_dg", "left")
        .withColumn("is_exact_dup", F.coalesce(F.col("_hit"), F.lit(False)))
        .drop("_dg", "_hit")
    )

    # Offline LM count tables (the lm_perplexity fit, static side). A
    # prebuilt ``lm_counts`` table (lm.fit_bigram_counts — the KenLM-style
    # persisted artifact) skips the in-flight fit and lets ONE fit serve
    # both the cutoff fitting and this scoring stage; otherwise the
    # pair-count table is materialized once and c1/vocab derive from it.
    if lm_counts is not None:
        c12 = lm_counts.select("w1", "w2", F.col("c12").alias("_c12"))
    else:
        if lm_model_docs is None:
            raise ValueError("provide lm_model_docs or lm_counts")
        mbig = _bigrams(lm_model_docs, id_col, text_col)
        c12 = mbig.groupBy("w1", "w2").agg(F.count("*").alias("_c12"))
        if not c12.isStreaming:
            c12 = c12.localCheckpoint(eager=False)
    c1 = c12.groupBy("w1").agg(F.sum("_c12").alias("_c1"))
    vocab = c12.agg(F.countDistinct("w2").alias("_v"))
    if broadcast_model:
        c12, c1 = F.broadcast(c12), F.broadcast(c1)

    toks2, grams = gram_exprs(text_col)
    base = (
        flagged.select(
            F.col(id_col).alias("id"),
            F.col(lang_col).alias("_lang"),
            "is_exact_dup",
            toks2.alias("_t"),
        )
        .where(F.size("_t") >= 1)
        .withColumn("_lt", F.concat(F.array(F.lit(BOS)), F.col("_t")))
    )
    gitems = F.transform(
        grams,
        lambda g: F.struct(
            g.alias("gram"),
            F.lit(None).cast("string").alias("w1"),
            F.lit(None).cast("string").alias("w2"),
        ),
    )
    pitems = F.expr(
        """
        transform(sequence(1, size(_lt) - 1),
                  i -> struct(CAST(NULL AS STRING) AS gram,
                              element_at(_lt, i) AS w1,
                              element_at(_lt, i + 1) AS w2))
        """
    )
    g = (
        base.select(
            "id", "_lang", "is_exact_dup",
            F.explode(F.concat(gitems, pitems)).alias("_it"),
        )
        .select(
            "id", "_lang", "is_exact_dup",
            F.col("_it.gram").alias("gram"),
            F.col("_it.w1").alias("w1"),
            F.col("_it.w2").alias("w2"),
        )
        .withColumn(
            "_bn",
            F.when(
                F.col("gram").isNotNull(),
                _hash_bucket(F.col("gram"), nb_seed, nb_buckets),
            ),
        )
        .withColumn(
            "_bd",
            F.when(
                F.col("gram").isNotNull(),
                _hash_bucket(F.col("gram"), dsir_seed, dsir_buckets),
            ),
        )
    )
    # explicit broadcast: <= buckets rows by construction; the crossJoin
    # size estimate otherwise forces SortMergeJoin — two full gram-stream
    # Exchange+Sort pairs (see curation_stream_score, guide §3.1)
    nbm = nb_model.select(
        F.col("b").alias("_bn"), F.col("w").alias("_w"), F.col("prior").alias("_pr")
    )
    dsm = dsir_model.select(F.col("b").alias("_bd"), F.col("logr").alias("_lr"))
    logp = F.when(
        F.col("w1").isNotNull(),
        F.log(F.coalesce(F.col("_c12"), F.lit(0)) + F.lit(1))
        - F.log(F.coalesce(F.col("_c1"), F.lit(0)) + F.col("_v")),
    )
    rows = (
        g.join(F.broadcast(nbm), "_bn", "left")
        .join(F.broadcast(dsm), "_bd", "left")
        .join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .withColumn("_logp", logp)
    )
    qs = F.sum("_w") + F.first("_pr", ignorenulls=True)
    avg_logp = F.sum("_logp") / F.count("w1")
    agg = rows.groupBy("id", "_lang").agg(
        F.first("is_exact_dup").alias("is_exact_dup"),
        F.count("gram").cast("bigint").alias("n_grams"),
        F.round(qs, 6).alias("quality_score"),
        (qs > 0).alias("quality_pred"),
        F.round(F.sum("_lr"), 6).alias("dsir_log_weight"),
        F.count("w1").cast("bigint").alias("n_bigrams"),
        F.round(avg_logp, 6).alias("avg_logp"),
        F.round(F.exp(-avg_logp), 4).alias("ppl"),
    )
    cuts = ppl_cutoffs.select(
        F.col(lang_col).alias("_lang"),
        F.col("lo").alias("_lo"),
        F.col("hi").alias("_hi"),
    )
    return agg.join(F.broadcast(cuts), "_lang", "left").select(
        F.col("id").alias(id_col),
        F.col("_lang").alias(lang_col),
        "is_exact_dup",
        "n_grams",
        "quality_score",
        "quality_pred",
        "dsir_log_weight",
        "n_bigrams",
        "avg_logp",
        "ppl",
        F.when(F.col("_lo").isNull(), F.lit("unknown"))
        .when(F.col("ppl") <= F.col("_lo"), F.lit("head"))
        .when(F.col("ppl") <= F.col("_hi"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
