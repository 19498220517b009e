"""Plan-shape guards (SURVEY.md §5.5): the 'free lunch' assumptions —
column pruning, filter pushdown, single-Exchange window chains — are load-
bearing at 100 TB, so they are asserted, not assumed."""

import contextlib
import io

from pyspark.sql import functions as F

from fdi_flow_spark.operators import (
    median_filter,
    minmax_scale,
    moving_average,
    standard_scale,
)
from fdi_flow_spark.sources.tables import events_series, load_table

SF = "/root/testdata/sf0.001"


def _plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_events_scan_prunes_columns(spark):
    plan = _plan(events_series(spark, SF))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "props" not in read_schema  # unused wide column never read
    assert "user_id" not in read_schema


def test_filter_pushdown_reaches_parquet(spark):
    li = load_table(spark, SF, "lineitem")
    q = li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")).select(
        "l_quantity"
    )
    plan = _plan(q)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "LessThanOrEqual(l_shipdate" in pushed
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" not in read_schema  # projection pruned


def test_chained_window_ops_share_one_exchange(spark):
    """series derivation -> MA -> scaler must reuse a single
    hashpartitioning(series_id) Exchange (shared-shuffle contract of the
    canonical long layout)."""
    df = standard_scale(moving_average(events_series(spark, SF), 5))
    plan = _plan(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_three_op_chain_still_one_exchange(spark):
    df = minmax_scale(median_filter(moving_average(events_series(spark, SF), 5), 3))
    plan = _plan(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_scaler_plan_is_pure_jvm(spark):
    """The scaler chain must stay JVM-side: vectorized parquet scan, no
    Python evaluation nodes (BatchEvalPython/ArrowEvalPython/FlatMapGroups)."""
    plan = _plan(standard_scale(events_series(spark, SF)), "formatted")
    assert "Batched: true" in plan  # vectorized columnar scan
    assert "Python" not in plan



def test_q6_all_predicates_pushed(spark):
    """q6 is pure filter+agg: every predicate must reach the parquet scan and
    the scan must read only the four referenced columns."""
    from fdi_flow_spark.plans.registry import QUERIES

    plan = _plan(QUERIES["q6_revenue_change"](spark, SF))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema
    assert "l_returnflag" not in read_schema


def test_semi_anti_join_shapes(spark):
    """EXISTS/NOT EXISTS compile to semi/anti joins — no row-multiplying
    inner join followed by dedup."""
    from fdi_flow_spark.plans.registry import QUERIES

    semi = _plan(QUERIES["semi_join_urgent_customers"](spark, SF))
    anti = _plan(QUERIES["anti_join_quiet_customers"](spark, SF))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_salted_agg_two_phase(spark):
    """salted_agg must partial-aggregate on (key, salt) before the final
    per-key combine, and the salt column must not leak into the output."""
    from fdi_flow_spark.plans.registry import QUERIES

    df = QUERIES["events_stats_salted"](spark, SF)
    assert "_salt" not in df.columns
    plan = _plan(df)
    assert plan.count("Exchange") >= 2  # salt-bucket shuffle + final combine


def test_asof_join_single_shuffle(spark):
    """The union-tag as-of join must shuffle once (hashpartitioning on the
    key), never build an N x M range join."""
    from fdi_flow_spark.plans.registry import QUERIES

    plan = _plan(QUERIES["asof_join_purchase"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles <= 1, plan


def test_q5_small_dims_broadcast(spark):
    """nation/region (25 / 5 rows) must ride broadcast joins in the 6-table
    q5 — a shuffle join on them would be the classic small-dim mistake."""
    from fdi_flow_spark.plans.registry import QUERIES

    plan = _plan(QUERIES["q5_nation_volume"](spark, SF))
    assert "BroadcastHashJoin" in plan


def _broadcast_subtree_scans(plan: str) -> list[str]:
    """Parquet locations scanned beneath any BroadcastExchange in a
    'simple'-mode physical plan (subtree = following lines whose operator
    indentation is deeper than the BroadcastExchange node's)."""

    def indent(line: str) -> int:
        i = 0
        while i < len(line) and line[i] in " :+-*(":
            i += 1
        return i

    lines = plan.splitlines()
    scans: list[str] = []
    for n, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        d = indent(line)
        for sub in lines[n + 1 :]:
            if sub.strip() and indent(sub) <= d:
                break
            if "FileScan parquet" in sub or "Scan parquet" in sub:
                scans.append(sub)
    return scans


def test_q3_q5_fact_tables_not_hint_broadcast(spark):
    """orders/customer grow with the fact data — q3/q5 must not FORCE them
    onto the build side of a BroadcastHashJoin (a hint-pinned broadcast is a
    dead plan at 100 TB). With the auto-broadcast threshold disabled, only
    explicit hints survive: dims (nation/region/supplier) may still
    broadcast, orders/customer must not appear under any BroadcastExchange."""
    from fdi_flow_spark.plans.registry import QUERIES

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for q in ("q3_top_orders", "q5_nation_volume"):
            plan = _plan(QUERIES[q](spark, SF), "simple")
            for scan in _broadcast_subtree_scans(plan):
                assert "orders" not in scan and "customer" not in scan, (q, scan)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_min_cost_supplier_broadcasts_dim(spark):
    """The q2-shaped correlated-min decorrelation joins lineitem back to a
    per-part MIN; the supplier dim must be broadcast so the only exchanges
    are the two aggregations (per-part min, per-supplier rollup)."""
    from fdi_flow_spark.plans.registry import QUERIES

    plan = _plan(QUERIES["min_cost_supplier"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_quota_sample_partial_topk_before_exchange(spark):
    # The 100TB-critical property: the per-group rank<=n limit must run
    # map-side (WindowGroupLimit below the Exchange), so at most n rows per
    # group per input partition are ever shuffled.
    from fdi_flow_spark.pipelines.curation import quota_sample
    from fdi_flow_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    plan = _plan(quota_sample(docs, "source", 5))
    import re

    wgl = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) WindowGroupLimit", plan)]
    exch = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) Exchange", plan)]
    assert wgl and exch, plan
    # formatted-plan ids are execution order: a WindowGroupLimit with a
    # smaller id than the Exchange runs before (below) it
    assert min(wgl) < min(exch), plan


def test_curation_projection_ops_have_no_shuffle(spark):
    from fdi_flow_spark.pipelines.curation import hash_split, pii_redact
    from fdi_flow_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    split_plan = _plan(hash_split(docs).select("doc_id", "split"))
    assert "Exchange" not in split_plan
    # column pruning: only doc_id reaches the scan
    assert "ReadSchema: struct<doc_id:bigint>" in split_plan
    pii_plan = _plan(pii_redact(docs).select("doc_id", "n_redacted"))
    assert "Exchange" not in pii_plan


def test_multimodal_codec_pipeline_single_fanout_shuffle(spark):
    """The media fixture encode and the codec feature kernels are narrow
    Arrow stages: payload bytes flow scan -> encode mapInPandas -> decode
    mapInPandas. The ONLY allowed Exchange is ensure_min_parallelism's
    conditional fan-out of the degenerate single-split test scan (a no-op
    on healthy 100 TB layouts) — per-kind filtering and the codec work
    itself must never add a second shuffle, so the binary column crosses
    the network at most once."""
    from fdi_flow_spark.plans.registry import QUERIES

    for name in ("multimodal_image_features", "video_frame_features"):
        plan = _plan(QUERIES[name](spark, SF), mode="simple")
        assert plan.count("Exchange") <= 1, f"{name} extra shuffles:\n{plan}"
        assert "hashpartitioning(doc_id" in plan or "RoundRobinPartitioning" in plan, plan
        assert plan.count("MapInPandas") <= 2, plan


def test_lm_perplexity_row_path_is_jvm(spark):
    """The LM scorer must keep the row path JVM-side: no Python eval nodes
    anywhere (scoring is expressions + joins), and the scalar vocabulary
    must arrive via a broadcast Exchange, never a per-row subquery."""
    from fdi_flow_spark.pipelines.lm import lm_perplexity

    docs = load_table(spark, SF, "documents")
    plan = _plan(lm_perplexity(docs), "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_lm_perplexity_broadcast_model_opt_in(spark):
    """Default = NO hint: Catalyst's size estimate picks broadcast at bench
    scale and falls back to shuffle joins when the count tables outgrow the
    threshold (simulated here with threshold=-1). The opt-in flag forces
    broadcast regardless."""
    from fdi_flow_spark.pipelines.lm import lm_perplexity

    docs = load_table(spark, SF, "documents")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # big-table regime: the scoring joins must degrade to shuffle joins;
        # only the 1-row vocabulary scalar stays broadcast (explicit hint)
        default_plan = _plan(lm_perplexity(docs), "simple")
        assert default_plan.count("BroadcastExchange") == 1, default_plan
        opt = _plan(lm_perplexity(docs, broadcast_model=True), "simple")
        assert opt.count("BroadcastExchange") == 3, opt
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_line_dedup_joins_on_hashed_lines(spark):
    """The boilerplate join must carry 8-byte xxhash64 keys, not line
    strings; with no hint Catalyst decides from stats (shuffle join once
    the boilerplate table outgrows the threshold), and the flag forces
    broadcast."""
    from fdi_flow_spark.pipelines.curation import line_dedup

    docs = load_table(spark, SF, "documents")
    plan = _plan(line_dedup(docs), "formatted")
    assert "xxhash64" in plan, plan
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        simple = _plan(line_dedup(docs), "simple")
        assert "BroadcastExchange" not in simple, simple
        opt = _plan(line_dedup(docs, broadcast_boilerplate=True), "simple")
        assert "BroadcastExchange" in opt, opt
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_source_mix_single_window_over_data(spark):
    """Quota computation must stay on the tiny per-source aggregate
    (broadcast back); the data itself sees exactly one window shuffle."""
    from fdi_flow_spark.pipelines.curation import source_mix

    docs = load_table(spark, SF, "documents")
    plan = _plan(source_mix(docs, budget=100), "simple")
    assert "BroadcastExchange" in plan, plan  # quotas join, not data-sized
    # one hashpartitioning Exchange on source for the rank window; the
    # quota aggregate adds its own tiny pre-broadcast exchanges only
    assert plan.count("Window") == 1, plan


def test_span_dedup_joins_on_window_hashes(spark):
    """Span dedup must shuffle 8-byte window hashes, never window strings;
    the duplicated-occurrence join and the coverage join are the only
    data-sized shuffles (plus the per-doc reassembly aggregate)."""
    from fdi_flow_spark.pipelines.dedup import duplicated_spans, strip_duplicated_spans

    docs = load_table(spark, SF, "documents")
    plan = _plan(strip_duplicated_spans(docs, k=8), "formatted")
    assert "xxhash64" in plan, plan
    # detection half: the lag and island-sum windows share ONE per-doc
    # sort, and the span aggregate reuses the window's partitioning (no
    # extra Exchange between Window and HashAggregate)
    det = _plan(duplicated_spans(docs, k=8), "simple")
    assert det.count("Sort") == 1, det


def test_dsir_model_broadcasts_by_construction(spark):
    """The DSIR scoring join must put the 1024-row model on the broadcast
    side under Catalyst's own size estimate (no hint) — that the model side
    is O(buckets), not O(corpus), is the algorithm's core scale property."""
    from fdi_flow_spark.pipelines.selection import dsir_weights

    docs = load_table(spark, SF, "documents")
    tgt = docs.where(F.col("source") == "src0")
    plan = _plan(dsir_weights(docs, tgt), "simple")
    assert "BroadcastExchange" in plan, plan
    opt = _plan(dsir_weights(docs, tgt, broadcast_model=True), "simple")
    assert "BroadcastExchange" in opt, opt


def test_pq_scoring_plan_is_one_arrow_stage(spark):
    """ADC scoring must stream codes through a single Python/Arrow stage
    (encode UDF + LUT gather) with the only Exchange being the global
    top-k rank window — no join anywhere in the scoring path."""
    from fdi_flow_spark.pipelines.quantization import cosine_topk_pq

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 25 == 0)
    plan = _plan(cosine_topk_pq(q, emb, k=5, m=4, ks=16, n_iter=0), "simple")
    assert "Join" not in plan, plan
    # the global rank is the single required Exchange (the other is the
    # deliberate ensure_min_parallelism fan-out of the one-file scan), and
    # Spark pushes the rank limit down as a partial WindowGroupLimit
    assert plan.count("ENSURE_REQUIREMENTS") == 1, plan
    assert plan.count("WindowGroupLimit") == 2, plan


def test_drift_ops_single_exchange(spark):
    """The r5c drift layer rides the shared series Exchange: CUSUM,
    Page-Hinkley, the changepoint scan, and pattern search each plan
    exactly ONE shuffle (the series partitioning) and zero Python stages."""
    from fdi_flow_spark.operators import (
        changepoint_scan,
        cusum,
        page_hinkley,
        pattern_search,
    )

    s = events_series(spark, SF)
    for df in (
        cusum(s, k=1.0, h=5.0, target=0.0),
        page_hinkley(s),
        changepoint_scan(s),
        pattern_search(s, [0.0, 1.0, 0.0, -1.0], k=3),
    ):
        plan = _plan(df, "simple")
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "Python" not in plan, plan


def test_gap_fill_no_quadratic_frame(spark):
    """gap_fill must never plan an UnboundedFollowing aggregate frame —
    that frame shape re-evaluates per row (O(n^2), the 110s regression);
    both neighbor lookups must be running frames."""
    from fdi_flow_spark.operators import gap_fill

    plan = _plan(gap_fill(events_series(spark, SF)), mode="extended")
    assert "unboundedfollowing$()" not in plan.lower().replace(" ", ""), plan
    assert _plan(gap_fill(events_series(spark, SF)), "simple").count(
        "Exchange hashpartitioning"
    ) == 1


def test_sessionize_window_and_agg_share_partitioning(spark):
    """session_stats' groupBy(user, session) must reuse the sessionize
    window's hashpartitioning(user) — no second Exchange."""
    from fdi_flow_spark.operators import session_stats

    ev = load_table(spark, SF, "events").select(
        "user_id", F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)").alias("tus")
    )
    plan = _plan(session_stats(ev, "user_id", "tus", 14_400_000_000), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_corr_pair_escape_hatches_bound_the_join(spark):
    """The correlation family's S^2 bound (r5 VERDICT): with group_col the
    self-join key is (group, ts) — pair explosion bounded by group size —
    and with a pair list the plan broadcasts it and equi-joins side B on
    (series_b, ts), never materializing the full pair space."""
    from fdi_flow_spark.operators import cross_corr_pairs, rolling_corr_pairs

    s = events_series(spark, SF).withColumn(
        "plant", F.substring("series_id", 1, 1)
    )
    grouped = _plan(cross_corr_pairs(s, group_col="plant"), "extended")
    # the equi-join condition carries BOTH keys
    assert "plant" in grouped and "(ts" in grouped or "ts#" in grouped
    import re

    join_lines = [l for l in grouped.splitlines() if "Join Inner" in l]
    assert any("plant" in l and "ts" in l for l in join_lines), grouped

    pairs = spark.createDataFrame(
        [("s1", "s2")], "series_a string, series_b string"
    )
    p = _plan(rolling_corr_pairs(events_series(spark, SF), 5, pairs=pairs), "simple")
    assert "BroadcastHashJoin" in p, p  # pair list broadcast, not shuffled


def test_knn_label_rides_scorer_no_corpus_broadcast(spark):
    """r6 VERDICT 'What's wrong #1': the train label must ride through the
    blocked scorer's output schema, not be re-attached by broadcasting a
    projection of the whole train corpus (a 10^9-row broadcast at the scale
    the scorer targets). After the fix the vote path has NO join at all —
    assert the plan is broadcast-free."""
    from fdi_flow_spark.pipelines.similarity import knn_classify_exact
    from fdi_flow_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    pred = knn_classify_exact(
        emb.where(F.col("vec_id") % 2 == 0), emb.where(F.col("vec_id") % 2 == 1), k=3
    )
    plan = _plan(pred, "simple")
    assert "BroadcastExchange" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_splitter_projections_no_shuffle_no_python(spark):
    """The two corpus splitters (r10) must stay pure JVM projections: the
    only Exchange allowed is ensure_min_parallelism's conditional round-robin
    fan-out of a degenerate single-split scan (a no-op on healthy 100 TB
    layouts) — never a hashpartitioning, never a Python eval node — and
    column pruning must reach the parquet scan."""
    from fdi_flow_spark.pipelines.text import chunk_documents, split_sentences

    docs = load_table(spark, SF, "documents")
    for df in (split_sentences(docs), chunk_documents(docs)):
        simple = _plan(df, "simple")
        assert simple.count("Exchange") <= 1, simple  # the conditional fan-out only
        assert "BatchEvalPython" not in simple and "ArrowEvalPython" not in simple, simple
        assert "ReadSchema: struct<doc_id:bigint,text:string>" in _plan(df), _plan(df)


def test_ngram_novelty_shuffles_hashed_keys_only(spark):
    """ngram_novelty's network traffic is 8-byte hashed shingles and doc
    ids — never document text. Bound the exchanges (shingle agg + join
    re-partition + doc agg, plus at most the conditional fan-out) and
    assert no text column crosses an Exchange."""
    import re as _re

    from fdi_flow_spark.pipelines.text import ngram_novelty

    docs = load_table(spark, SF, "documents")
    plan = _plan(ngram_novelty(docs), "simple")
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert not _re.search(r"\btext\b", line), line


def test_exact_pair_joins_verify_with_two_shuffled_hash_joins(spark):
    """The exact pair joins verify candidates against the corpus-sized
    hash-array table with two shuffle-hash joins (one per pair side),
    never a broadcast of it: the scale-safe verify the README runbook
    relies on. Word shingles on the planted-twin corpus of
    tests/test_dedup.py, so the twin collapse is in the plan too."""
    import numpy as np

    from fdi_flow_spark.pipelines.dedup import containment_pairs, ngram_jaccard_pairs
    from tests.test_dedup import _corpus

    docs = spark.createDataFrame(
        _corpus(np.random.default_rng(123)), schema="doc_id long, text string"
    )
    for join in (ngram_jaccard_pairs, containment_pairs):
        plan = _plan(join(docs, n=2, unit="word"), "simple")
        assert plan.count("ShuffledHashJoin") == 2, plan


def test_repeated_scan_audit_invariant(spark):
    """r6 round-close audit, now pinned in CI (r6 VERDICT item 8): no
    query's executed plan may scan any source table 3+ times. The LM
    family once re-derived the corpus-count tables per downstream leg (7
    scans of documents before the lm.py localCheckpoint); tfidf_fit's tf
    table was lazily re-derived by both its df and n_docs legs (3 scans);
    language_id_model landed at 7 before the same fix. Dropping any of
    those localCheckpoints turns this test red. Counts are parquet
    Location lines in the formatted physical plan of the RETURNED frame —
    checkpointed intermediates (materialized once, at build) no longer
    appear, which is exactly the invariant: the executed per-run plan
    re-reads summaries, not the corpus."""
    import re

    from fdi_flow_spark.plans.registry import QUERIES

    max_scans = {
        "lm_perplexity": 1,
        "kn_perplexity": 1,
        "kn3_perplexity": 1,
        "tfidf_vectors": 0,  # one-scan composed path (r12): the returned
                             # frame reads the checkpointed (id, b, tf)
                             # table + the 1024-row model, never the
                             # corpus — reverting to the two-scan compose
                             # turns this red
        "language_id_model": 2,  # predict gram scan + true-label attach
        "ngram_jaccard_pairs": 0,  # fully checkpointed shingle table
        "containment_pairs": 0,    # same checkpointed-shingle shape (r10)
        "containment_screened": 0,  # hashed table checkpointed; sketch +
                                    # index + verify all read it (r11)
        "containment_probe": 1,     # ONE arriving-shard scan; the corpus
                                    # index artifacts are eager
                                    # checkpoints (r11; this pin caught
                                    # the stacked-decorator registration
                                    # bug that pointed both containment
                                    # query names at the probe fn)
        "containment_probe_prebuilt": 1,  # same probe plan; artifacts
                                          # cached per (process, sf_dir)
        "perplexity_buckets": 0,   # score table checkpointed; cuts + label
                                   # join both read the materialization
        "ngram_novelty": 1,        # one corpus scan feeds both aggregates
        "split_sentences": 1,
        "chunk_documents": 1,
        "quality_classifier": 1,  # fit checkpointed; one scoring scan
        "dsir_weights": 1,        # fit checkpointed; one scoring scan
        "curation_scored": 2,  # the arriving-shard union's two legs; both
                               # model fits and the digest table are
                               # materialized (was 10 before the fix)
        "curation_deploy": 2,  # same arriving union; LM counts + cutoffs
                               # + digests + both models all materialized
                               # offline artifacts (r11)
    }
    for name, cap in max_scans.items():
        plan = _plan(QUERIES[name](spark, SF))
        counts: dict = {}
        for line in plan.splitlines():
            m = re.search(r"Location:.*/(\w+)\.parquet", line)
            if m:
                counts[m.group(1)] = counts.get(m.group(1), 0) + 1
        worst = max(counts.values(), default=0)
        assert worst <= cap, (name, counts)
        assert worst < 3, (name, counts)  # the audit's global invariant


def test_chunked_recurrences_run_three_python_passes(spark):
    """The shared chunked driver runs exactly three Python passes per
    recurrence — pass 1 summaries, the carry chain, pass 2 rescans — the
    count each bespoke chunked scan had; it must not add a pass."""
    from fdi_flow_spark.plans.registry import QUERIES

    python_nodes = (
        "FlatMapGroupsInPandas",
        "MapInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
        "AggregateInPandas",
        "WindowInPandas",
        "FlatMapCoGroupsInPandas",
    )
    for name in ("ewma_chunked", "holt_chunked", "kalman1d_chunked"):
        plan = _plan(QUERIES[name](spark, SF), "simple")
        counts = {n: plan.count(n) for n in python_nodes}
        assert counts == {**dict.fromkeys(python_nodes, 0), "FlatMapGroupsInPandas": 3}, (
            name,
            plan,
        )
