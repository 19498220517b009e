#!/usr/bin/env python
"""Scaling rehearsal (round-5 VERDICT item 4): measure time(10x)/time(1x)
per query so super-linear blowups surface BEFORE a real cluster does.

Builds a 10x corpus under .scaling/x10/ as a re-keyed union of ten sf0.1
copies (keys shifted per copy so joins/groupings see 10x distinct
entities; `events.event_type` gets a per-copy suffix, so the series axis
scales 10x in SERIES COUNT at constant per-series length — the
"more sensors / more docs / more vectors" axis a growing deployment
actually experiences; nation/region stay single-copy like real dims).

Because documents/embeddings payloads repeat verbatim across copies,
every doc gains 9 exact twins: pair-EMITTING queries (near-dup, SemDeDup)
legitimately produce ~45x the output, so wall-clock alone would read as
super-linear. The sidecar therefore records BOTH the time ratio and the
output-row ratio — an output-bound algorithm is judged by time-vs-output,
not time-vs-input.

Writes SCALING.json: {query: {"t1": s, "t10": s, "time_ratio": r,
"rows1": n, "rows10": n, "rows_ratio": r}}. Run from the repo root:
    python scripts/scaling_rehearsal.py [--rebuild]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
X10 = os.path.join(_REPO, ".scaling", "x10")
COPIES = 10

# per-copy key shifts, far above any real key range
_SHIFT = 1_000_000_000_000

# scale-relevant subset: every data-proportional kernel family + the
# headline relational queries; excluded: driver-side ML fits and plot paths
QUERIES = [
    "q1_pricing_summary", "q3_top_orders", "q5_nation_volume",
    "q6_revenue_change", "asof_join_purchase",
    "moving_average_valid", "ewma_closed_form", "standard_scaler",
    "segment_windows", "forecast_prep", "cusum_drift", "seasonal_decompose",
    "time_bucket_rollup", "user_sessions", "gap_fill", "series_profile",
    "dedup_exact", "dedup_components", "ngram_jaccard_pairs",
    "minhash_dedup_pairs", "simhash_fingerprints", "span_dedup",
    "dedup_incremental", "line_dedup",
    "token_counts", "language_id", "lm_perplexity", "tfidf_vectors",
    "dsir_weights", "bm25_search",
    "embedding_kmeans", "semantic_dedup", "cosine_topk",
    "embedding_quantize", "pq_encode",
    "rolling_corr", "cross_corr",
    "unigram_tokenize", "kn_perplexity",
    # r10 second-session additions
    "chunk_documents", "split_sentences", "ngram_novelty",
    "containment_pairs", "perplexity_buckets", "embedding_outliers",
    # r11: bottom-k containment screen (vs containment_pairs' output-bound
    # exact path — the point of the entry is the time-ratio delta)
    "containment_screened",
    # r11: the composed deployment ingest (five artifact fits + one-pass
    # scoring; the heaviest new query, so its growth axis is on record)
    "curation_deploy",
    # r11: the incremental containment probe (index build + shard screen)
    "containment_probe",
    # r11: dataset-card aggregation (single grouped agg w/ exact median)
    "corpus_report",
    # r15 (r14 VERDICT item 6): the GROUP-BOUNDED rolling-correlation scale
    # path (pairs bounded per plant via group_col — the documented scale
    # knob; the unbounded registry entry's x10 ratio 9.28 is quadratic
    # PAIR growth in the fixture, not a plan defect). Resolved to the
    # custom builder below, not a registry name.
    "rolling_corr_grouped",
]


def build_x10(spark, base: str | None = None, out: str | None = None) -> None:
    """Build the 10x re-keyed union corpus from ``base`` into ``out``
    (defaults: the module-level BASE/X10). Parameterized so the CI sweep
    (tests/test_scaling.py, `pytest -m scaling`) can build a small twin
    from sf0.001 without touching the full-scale rehearsal corpus."""
    from pyspark.sql import functions as F

    base = base or BASE
    out_dir = out or X10
    os.makedirs(out_dir, exist_ok=True)
    done = os.path.join(out_dir, "_BUILT")
    if os.path.exists(done):
        return
    t0 = time.perf_counter()

    def shifted(table, copies_spec):
        src = spark.read.parquet(f"{base}/{table}.parquet")
        parts = []
        for i in range(COPIES):
            c = src
            for col, kind in copies_spec.items():
                if kind == "key":
                    c = c.withColumn(col, F.col(col) + F.lit(i * _SHIFT))
                elif kind == "suffix" and i > 0:
                    c = c.withColumn(col, F.concat(F.col(col), F.lit(f"_c{i}")))
            parts.append(c)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.write.mode("overwrite").parquet(f"{out_dir}/{table}.parquet")

    # true dimensions stay single-copy (a real deployment has 25 nations
    # at every fact-table scale)
    for t in ("region", "nation"):
        spark.read.parquet(f"{base}/{t}.parquet").write.mode("overwrite").parquet(
            f"{out_dir}/{t}.parquet"
        )
    shifted("customer", {"c_custkey": "key"})
    shifted("supplier", {"s_suppkey": "key"})
    shifted("part", {"p_partkey": "key"})
    shifted("orders", {"o_orderkey": "key", "o_custkey": "key"})
    shifted(
        "lineitem",
        {"l_orderkey": "key", "l_partkey": "key", "l_suppkey": "key"},
    )
    shifted(
        "events",
        {"event_id": "key", "user_id": "key", "event_type": "suffix"},
    )
    shifted("documents", {"doc_id": "key"})
    shifted("embeddings", {"vec_id": "key"})
    with open(done, "w") as f:
        f.write("ok\n")
    print(f"built {X10} in {time.perf_counter() - t0:.1f}s", file=sys.stderr)


X100 = os.path.join(_REPO, ".scaling", "x100")

# r7 (round-6 VERDICT item 6): 100x rehearsal for the ~10 scale-relevant
# family heads. 10x showed linearity; 100x (~1.7 GB) is where the next
# constant breaks (band-bucket skew, component-round growth, probe
# fan-out). Unbounded rolling_corr/cross_corr are deliberately ABSENT:
# at 100x the series axis the S^2 pair join is the documented
# anti-pattern — the group-bounded variant is measured instead (custom
# entry below, the plant-topology contract).
X100_QUERIES = [
    "minhash_dedup_pairs",   # LSH banding
    "dedup_components",      # direct ordering: un-collapsed pairs
                             # -> star-contraction rounds
    "dedup_incremental",     # prebuilt-index shard arrival
    "cosine_topk_ivfpq",     # IVF-PQ probe (train + probe in-flight)
    "dsir_weights",          # hashed-gram count tables
    "ewma_chunked",          # chunk-parallel recurrence scan
    "kalman1d_chunked",      # rank-indexed-gain recurrence scan
    "token_counts",          # linear projection baseline
    "bm25_search",           # broadcast stats + fixed-k TakeOrdered
    "language_id_model",     # NB LID fit+score (r7)
    "dedup_components_grouped",  # near_dup_components, the exact-dedup-
                                 # FIRST ordering: the fix the minhash
                                 # twin-explosion measurement calls for;
                                 # same output, rep-only LSH join
    "embedding_near_dup_blocked",  # r8: block-grid EXACT cosine pairs —
                                   # O(n^2) arithmetic is inherent, so the
                                   # honest expectation at 100x input is
                                   # ~10^4x work; this entry records the
                                   # measured constant (BLAS per block-pair,
                                   # no driver collect at any size)
    "cosine_topk_blocked",  # r8: bipartite grid top-k — candidate side
                            # grows 100x, query side fixed-k per query;
                            # work is O(|Q| * |C|) BLAS, no broadcast
    # r11 (r10 VERDICT item 6): the r10 text operators with x10-only
    # coverage. The two with a plausible x100 surprise are ngram_novelty
    # (doc-frequency skew in the hashed-shingle window count) and
    # perplexity_buckets (per-language exact quantile agg over a 100x
    # score table); chunk/split are zero-shuffle projections measured as
    # the linearity baseline.
    "chunk_documents",
    "split_sentences",
    "ngram_novelty",
    "perplexity_buckets",
    # r11c: the dataset-card aggregation. curation_deploy is ABSENT from
    # THIS single-JVM block (r12: measured instead under
    # local-cluster[2,4,8192] via scripts/cluster_floor_probe.py — 9.84x
    # time for 100.1x input; see SCALING.json x100_cluster): six
    # composed stages (Arrow cleanup, digest distinct, two model fits, LM
    # fit + cutoffs, the combined-explode scoring agg) in ONE 8 GB JVM
    # OOM at the 1.4 GB x100 corpus — the same single-JVM block-storage
    # floor as the containment family; its measured scaling evidence is
    # the x10 entry (1.35x) and each constituent stage's own x100 row
    # (language_id_model-family fits, perplexity_buckets, dedup_exact).
    "corpus_report",
    # containment_screened (and the probe twins) deliberately ABSENT from
    # the single-JVM block (r12: both now measured under
    # local-cluster[2,4,8192] — 98.2x time for 117,964x output and 36.3x
    # for 114,029x respectively; see SCALING.json x100_cluster), like
    # containment_pairs:
    # at x100 the 143M-row (id, h) table — 2.3 GB serialized checkpoint +
    # a full window shuffle with 32 concurrent readers — exceeds the 8 GB
    # SINGLE-JVM rehearsal heap (measured OOM, serialized storage already
    # applied). The floor is local-mode block storage, not the plan: on a
    # cluster the table partitions across executors, and at a 100x
    # twin-duplication fixture the production ordering is exact-dedup
    # FIRST (dedup_components_grouped's lesson), after which the screen
    # runs on the 5k unique docs — i.e. the x1 measurement. Its scale
    # evidence is the x10 entry: 2.28x time for 1093x output.
]


def build_x100(spark) -> None:
    """100x corpus = ten re-keyed copies of the x10 corpus (second-level
    key shift 10*_SHIFT per copy; event_type gains a second `_d{i}`
    suffix so the series axis reaches 100x distinct series)."""
    from pyspark.sql import functions as F

    os.makedirs(X100, exist_ok=True)
    done = os.path.join(X100, "_BUILT")
    if os.path.exists(done):
        return
    t0 = time.perf_counter()

    def shifted(table, copies_spec):
        src = spark.read.parquet(f"{X10}/{table}.parquet")
        parts = []
        for i in range(COPIES):
            c = src
            for col, kind in copies_spec.items():
                if kind == "key":
                    c = c.withColumn(col, F.col(col) + F.lit(i * 10 * _SHIFT))
                elif kind == "suffix" and i > 0:
                    c = c.withColumn(col, F.concat(F.col(col), F.lit(f"_d{i}")))
            parts.append(c)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{X100}/{table}.parquet")

    for t in ("region", "nation"):
        spark.read.parquet(f"{BASE}/{t}.parquet").write.mode("overwrite").parquet(
            f"{X100}/{t}.parquet"
        )
    shifted("customer", {"c_custkey": "key"})
    shifted("supplier", {"s_suppkey": "key"})
    shifted("part", {"p_partkey": "key"})
    shifted("orders", {"o_orderkey": "key", "o_custkey": "key"})
    shifted(
        "lineitem",
        {"l_orderkey": "key", "l_partkey": "key", "l_suppkey": "key"},
    )
    shifted(
        "events",
        {"event_id": "key", "user_id": "key", "event_type": "suffix"},
    )
    shifted("documents", {"doc_id": "key"})
    shifted("embeddings", {"vec_id": "key"})
    with open(done, "w") as f:
        f.write("ok\n")
    print(f"built {X100} in {time.perf_counter() - t0:.1f}s", file=sys.stderr)


def run_x100(spark, REG) -> None:
    """Measure t(100x)/t(1x) for the family heads + the group-bounded
    rolling-corr scale path + the LSH bucket-skew probe; merge an 'x100'
    block into SCALING.json (the 10x block is left untouched)."""
    build_x100(spark)
    from fdi_flow_spark.sources.tables import TABLES, load_table

    for d in (BASE, X100):
        for t in TABLES:
            load_table(spark, d, t).count()
    wide = spark.range(0, 10_000, 1, spark.sparkContext.defaultParallelism)
    wide.groupBy((wide.id % 97).alias("k")).count().count()
    wide.mapInPandas(lambda it: it, schema="id long").count()

    n1 = max(1, int(os.environ.get("SPARK_GRAFT_SCALING_N1", "2")))
    n100 = max(1, int(os.environ.get("SPARK_GRAFT_SCALING_N100", "1")))
    entries = [(name, REG[name]) for name in X100_QUERIES]
    entries.append(("rolling_corr_grouped", _grouped_rolling_corr))

    # incremental + resumable: a single x100 query can run minutes, so the
    # sidecar is merged after EVERY entry and present entries are skipped
    # on restart (kill/timeout loses one query, not the run)
    sidecar = os.path.join(_REPO, "SCALING.json")

    def _load() -> dict:
        try:
            with open(sidecar) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def _merge(key, value) -> None:
        out = _load()
        blk = out.setdefault(
            "x100",
            {"base": BASE, "copies": COPIES * 10, "n_runs": {"x1": n1, "x100": n100},
             "queries": {}},
        )
        if key == "queries":
            blk.setdefault("queries", {}).update(value)
        else:
            blk[key] = value
        with open(sidecar, "w") as f:
            json.dump(out, f, indent=1)

    done = set(_load().get("x100", {}).get("queries", {}))
    n_run = 0
    for name, fn in entries:
        if name in done:
            print(f"x100 {name}: already recorded, skipping", file=sys.stderr)
            continue
        rec: dict = {}
        for label, d, n_runs in (("1", BASE, n1), ("100", X100, n100)):
            ts = []
            for _ in range(n_runs):
                t0 = time.perf_counter()
                fn(spark, d).write.format("noop").mode("overwrite").save()
                ts.append(time.perf_counter() - t0)
            rec[f"t{label}"] = round(statistics.median(ts), 3)
            rec[f"rows{label}"] = fn(spark, d).count()
        rec["time_ratio"] = (
            round(rec["t100"] / rec["t1"], 2) if rec["t1"] > 0 else None
        )
        rec["rows_ratio"] = (
            round(rec["rows100"] / rec["rows1"], 2) if rec["rows1"] else None
        )
        _merge("queries", {name: rec})
        n_run += 1
        print(f"x100 {name}: {rec}", file=sys.stderr)
        spark.catalog.clearCache()

    if "lsh_bucket_skew" not in _load().get("x100", {}):
        skew = {
            "x1": _lsh_bucket_skew(spark, BASE),
            "x100": _lsh_bucket_skew(spark, X100),
        }
        _merge("lsh_bucket_skew", skew)
        print(f"lsh_bucket_skew: {skew}", file=sys.stderr)
    print(json.dumps({"scaling_x100_written": n_run}))


def _grouped_rolling_corr(spark, sf_dir):
    """Group-bounded rolling correlation — the measured scale path: each
    union copy is one 'plant' (the trailing _c/_d tag), so group size is
    the ORIGINAL series count at every scale and total pairs grow
    linearly with data."""
    from pyspark.sql import functions as F

    from fdi_flow_spark.operators.analytics import rolling_corr_pairs
    from fdi_flow_spark.sources.tables import events_series

    s = events_series(spark, sf_dir).withColumn(
        "plant",
        F.regexp_extract("series_id", r"(_c\d+)?(_d\d+)?$", 0),
    )
    return rolling_corr_pairs(s, 20, group_col="plant")


def _lsh_bucket_skew(spark, sf_dir) -> dict:
    """Band-bucket size distribution of the MinHash LSH banding at this
    scale — the constant that breaks first under exact-twin explosions
    (every doc's copies share every band bucket)."""
    from pyspark.sql import functions as F

    from fdi_flow_spark.pipelines.dedup import minhash_signatures
    from fdi_flow_spark.sources.tables import load_table

    sig = minhash_signatures(load_table(spark, sf_dir, "documents"))
    banded = sig.select(
        F.posexplode(
            F.expr(
                "transform(sequence(0, 7), b -> concat(cast(b as string), ':', "
                "array_join(slice(signature, b*4+1, 4), ',')))"
            )
        ).alias("band", "bucket")
    )
    sizes = banded.groupBy("band", "bucket").count()
    row = sizes.agg(
        F.max("count").alias("max"),
        F.expr("percentile_approx(count, 0.99)").alias("p99"),
        F.expr("percentile_approx(count, 0.5)").alias("p50"),
        F.count(F.lit(1)).alias("n_buckets"),
    ).first()
    return {
        "max_bucket": int(row["max"]),
        "p99_bucket": int(row["p99"]),
        "p50_bucket": int(row["p50"]),
        "n_buckets": int(row["n_buckets"]),
    }


def main() -> None:
    from fdi_flow_spark.core.session import get_spark
    from fdi_flow_spark.plans.registry import QUERIES as REG

    if "--rebuild" in sys.argv:
        import shutil

        shutil.rmtree(X10, ignore_errors=True)
        shutil.rmtree(X100, ignore_errors=True)

    spark = get_spark(app_name="fdi_flow_spark-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    build_x10(spark)
    if "--x100" in sys.argv:
        run_x100(spark, REG)
        return

    # warm: scans + one shuffle + python workers
    from fdi_flow_spark.sources.tables import TABLES, load_table

    for d in (BASE, X10):
        for t in TABLES:
            load_table(spark, d, t).count()
    wide = spark.range(0, 10_000, 1, spark.sparkContext.defaultParallelism)
    wide.groupBy((wide.id % 97).alias("k")).count().count()
    wide.mapInPandas(lambda it: it, schema="id long").count()

    n1 = max(1, int(os.environ.get("SPARK_GRAFT_SCALING_N1", "3")))
    n10 = max(1, int(os.environ.get("SPARK_GRAFT_SCALING_N10", "2")))
    # positional args = measure ONLY these queries and merge into the
    # existing x10 block (adding operators must not force a 40-query
    # re-measure; a bare run still refreshes everything)
    only = [a for a in sys.argv[1:] if not a.startswith("--")]
    names = only or QUERIES
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"not in the x10 measured set: {unknown}")
    results: dict[str, dict] = {}
    for name in names:
        fn = (
            _grouped_rolling_corr
            if name == "rolling_corr_grouped"
            else REG[name]
        )
        rec: dict = {}
        for label, d, n_runs in (("1", BASE, n1), ("10", X10, n10)):
            ts = []
            rows = None
            for _ in range(n_runs):
                t0 = time.perf_counter()
                fn(spark, d).write.format("noop").mode("overwrite").save()
                ts.append(time.perf_counter() - t0)
            rows = fn(spark, d).count()
            rec[f"t{label}"] = round(statistics.median(ts), 3)
            rec[f"rows{label}"] = rows
        rec["time_ratio"] = (
            round(rec["t10"] / rec["t1"], 2) if rec["t1"] > 0 else None
        )
        rec["rows_ratio"] = (
            round(rec["rows10"] / rec["rows1"], 2) if rec["rows1"] else None
        )
        results[name] = rec
        print(f"{name}: {rec}", file=sys.stderr)
        spark.catalog.clearCache()

    out = {
        "base": BASE,
        "copies": COPIES,
        "n_runs": {"x1": n1, "x10": n10},
        "queries": results,
    }
    sidecar = os.path.join(_REPO, "SCALING.json")
    try:  # carry EVERY non-x10 key across re-runs (notes, the x100 block,
        # the 100 TB projection) — an x10 refresh must never drop them
        # (r10: the old notes-only carry silently discarded the x100 block)
        with open(sidecar) as f:
            prev = json.load(f)
        for k, v in prev.items():
            if k not in out:
                out[k] = v
        # partial (named) runs keep every still-listed prior record
        merged = {
            k: v for k, v in prev.get("queries", {}).items() if k in QUERIES
        }
        merged.update(results)
        out["queries"] = merged
    except (OSError, ValueError):
        pass
    with open(sidecar, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"scaling_written": len(results)}))


if __name__ == "__main__":
    main()
