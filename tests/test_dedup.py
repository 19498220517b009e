"""Dedup pipeline unit tests. The load-bearing one is prefix-filter
losslessness: the AllPairs/PPJoin candidate pruning in ngram_jaccard_pairs
claims to be EXACT (never drops a qualifying pair) — assert it against the
unpruned inverted-index join on a corpus engineered to contain near-dups,
exact dups, and unrelated documents."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fdi_flow_spark.pipelines.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)

WORDS = [f"w{i}" for i in range(60)]


def _corpus(rng, n_docs=40, doc_len=30, n_near=8, n_exact=3):
    """Random word docs + near-dup pairs (few words changed) + exact dups."""
    docs = []
    for i in range(n_docs):
        docs.append(" ".join(rng.choice(WORDS, size=doc_len)))
    next_id = n_docs
    for i in range(n_near):  # near-dup of doc i: perturb 3 words
        toks = docs[i].split()
        for j in rng.choice(doc_len, size=3, replace=False):
            toks[j] = str(rng.choice(WORDS))
        docs.append(" ".join(toks))
        next_id += 1
    for i in range(n_exact):  # exact dup of doc i
        docs.append(docs[i])
    return [(i, t) for i, t in enumerate(docs)]


@pytest.fixture(scope="module")
def docs_df(spark):
    rng = np.random.default_rng(123)
    return spark.createDataFrame(
        _corpus(rng), schema="doc_id long, text string"
    ).cache()


def _pairs(df):
    return {(r.id_a, r.id_b): r.jaccard for r in df.collect()}


def test_prefix_filter_is_lossless(spark, docs_df):
    for threshold in (0.3, 0.5, 0.7):
        pruned = _pairs(
            ngram_jaccard_pairs(docs_df, n=2, threshold=threshold, prefix_filter=True)
        )
        full = _pairs(
            ngram_jaccard_pairs(docs_df, n=2, threshold=threshold, prefix_filter=False)
        )
        assert pruned == full, f"threshold={threshold}"
    # fixture sanity: the corpus actually produced qualifying pairs
    assert len(full) > 0


def test_containment_golden_asymmetric(spark):
    """Hand-built subset clone (r10): doc 20 is a strict prefix of doc 10,
    so C(20->10) = 1.0 but C(10->20) < 1 — the directed pair Jaccard misses
    at high thresholds. Word bigrams keep the arithmetic checkable."""
    from fdi_flow_spark.pipelines.dedup import containment_pairs

    docs = spark.createDataFrame(
        [
            (10, "w1 w2 w3 w4 w5 w6 w7 w8"),  # bigrams: 7 distinct
            (20, "w1 w2 w3 w4"),              # bigrams: 3, all inside doc 10
            (30, "z1 z2 z3"),                 # disjoint
        ],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(docs, unit="word", n=2, threshold=0.4).collect()
    }
    assert got[(20, 10)] == 1.0
    assert got[(10, 20)] == round(3 / 7, 6)
    assert all(30 not in pair for pair in got)


def test_containment_prefix_filter_is_lossless(spark, docs_df):
    from fdi_flow_spark.pipelines.dedup import containment_pairs

    for threshold in (0.4, 0.6, 0.8):
        pruned = {
            (r.id_a, r.id_b): r.containment
            for r in containment_pairs(
                docs_df, n=2, unit="word", threshold=threshold, prefix_filter=True
            ).collect()
        }
        full = {
            (r.id_a, r.id_b): r.containment
            for r in containment_pairs(
                docs_df, n=2, unit="word", threshold=threshold, prefix_filter=False
            ).collect()
        }
        assert pruned == full, f"threshold={threshold}"
    assert len(full) > 0  # fixture sanity: qualifying directed pairs exist
    # exact dups must appear in BOTH directions at containment 1.0
    assert any(a != b and full.get((a, b)) == 1.0 and full.get((b, a)) == 1.0 for a, b in full)


def test_containment_screened_exact_when_k_covers_docs(spark, docs_df):
    """Degenerate exactness (r11): with k >= every doc's distinct-shingle
    count, the bottom-k sketch IS the set, so the screened estimates equal
    the exact containments and the screened output matches
    containment_pairs pair-for-pair, value-for-value."""
    from fdi_flow_spark.pipelines.dedup import containment_pairs, containment_screened

    exact = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(docs_df, n=2, unit="word", threshold=0.6).collect()
    }
    # docs are 30 words -> <= 29 distinct bigrams; k=64 covers them all
    screened = {
        (r.id_a, r.id_b): r.est_containment
        for r in containment_screened(
            docs_df, n=2, unit="word", k=64, threshold=0.6
        ).collect()
    }
    assert len(exact) > 0
    assert screened == exact


def test_containment_screened_recall_floor_at_sampling_k(spark, docs_df):
    """Screening recall (r11, r10 VERDICT item 3): at a REAL sampling k
    (k=16 < ~29 distinct bigrams per doc) the verified screen must recover
    >= 90% of the exact qualifying pairs on the planted-twin corpus, every
    emitted pair must be a true exact pair (verify=True -> precision 1.0),
    and every C=1.0 subset clone survives (a full-containment doc's whole
    sketch matches, so est = 1 deterministically)."""
    from fdi_flow_spark.pipelines.dedup import containment_pairs, containment_screened

    exact = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(docs_df, n=2, unit="word", threshold=0.6).collect()
    }
    got = {
        (r.id_a, r.id_b): r.containment
        for r in containment_screened(
            docs_df, n=2, unit="word", k=16, threshold=0.6, margin=0.1, verify=True
        ).collect()
    }
    assert set(got) <= set(exact)  # precision 1.0: verified values are exact
    for pair, v in got.items():
        assert v == exact[pair]
    recall = len(got) / len(exact)
    assert recall >= 0.9, f"recall {recall:.2f} over {len(exact)} exact pairs"
    full = {p for p, v in exact.items() if v == 1.0}
    assert full and full <= set(got)


def test_containment_screened_max_df_drops_hot_shingles(spark):
    """max_df escape hatch (r11): a stop-shingle present in every doc is
    excluded from sketch AND index, so it can no longer mint candidates; a
    pair whose only overlap is the hot shingle disappears while a genuine
    subset clone (rare-shingle overlap) survives with its estimate computed
    over the remaining set."""
    from fdi_flow_spark.pipelines.dedup import containment_screened

    docs = spark.createDataFrame(
        [  # 'hot hot' bigram appears in all docs
            (1, "hot hot a1 a2 a3 a4"),
            (2, "hot hot a1 a2 a3 a4 b9"),   # contains doc 1
            (3, "hot hot z1 z2 z3 z4"),      # only the hot bigram in common
        ],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b): r.est_containment
        for r in containment_screened(
            docs, n=2, unit="word", k=64, threshold=0.5, max_df=2
        ).collect()
    }
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert all(3 not in pair for pair in got)


def test_jaccard_pairs_respect_threshold_and_order(spark, docs_df):
    out = ngram_jaccard_pairs(docs_df, n=2, threshold=0.5).collect()
    for r in out:
        assert r.id_a < r.id_b
        assert r.jaccard >= 0.5


def test_exact_dedup_groups(spark, docs_df):
    groups = exact_dedup(docs_df).collect()
    n_docs = docs_df.count()
    assert sum(g.dup_count for g in groups) == n_docs
    dup_groups = [g for g in groups if g.dup_count > 1]
    assert len(dup_groups) >= 3  # the 3 engineered exact dups
    ids = docs_df.agg(F.collect_list("doc_id")).first()[0]
    for g in dup_groups:
        assert g.keeper_id in ids  # keeper is a real doc id (the min)


def test_minhash_finds_exact_dups_with_high_estimate(spark, docs_df):
    pairs = minhash_dedup_pairs(docs_df, n=2, threshold=0.2)
    got = {(r.id_a, r.id_b): r.est_jaccard for r in pairs.collect()}
    # exact duplicates (jaccard 1.0) must collide in every band -> found,
    # with signature agreement 1.0
    texts = {r.doc_id: r.text for r in docs_df.collect()}
    exact_pairs = [
        (a, b)
        for a in texts
        for b in texts
        if a < b and texts[a] == texts[b]
    ]
    assert exact_pairs
    for p in exact_pairs:
        assert p in got
        assert got[p] == 1.0


def test_simhash_similarity_ordering(spark, docs_df):
    fp = {r.doc_id: r.simhash for r in simhash_fingerprints(docs_df).collect()}
    texts = {r.doc_id: r.text for r in docs_df.collect()}
    exact = [(a, b) for a in texts for b in texts if a < b and texts[a] == texts[b]]
    for a, b in exact:
        assert fp[a] == fp[b]  # identical docs -> identical fingerprints
    # a near-dup pair should be closer in hamming distance than an arbitrary
    # unrelated pair, on average
    def ham(x, y):
        return bin(x ^ y).count("1")

    near = np.mean([ham(fp[i], fp[40 + i]) for i in range(8)])  # engineered near-dups
    far = np.mean([ham(fp[i], fp[20 + i]) for i in range(8)])  # unrelated
    assert near < far


def test_prefix_filter_lossless_char_unit(spark, docs_df):
    pruned = _pairs(
        ngram_jaccard_pairs(
            docs_df, unit="char", char_k=6, threshold=0.5, prefix_filter=True
        )
    )
    full = _pairs(
        ngram_jaccard_pairs(
            docs_df, unit="char", char_k=6, threshold=0.5, prefix_filter=False
        )
    )
    assert pruned == full
    assert len(full) > 0


def test_winnowing_short_docs_not_dropped(spark):
    """Docs with at least one k-gram but fewer than `window` grams must emit
    the min over all their grams (one fingerprint), not silently vanish;
    identical short docs share that fingerprint. Matches the oracle SQL's
    `p <= ng - (window-1) OR p = 1` rule."""
    from fdi_flow_spark.pipelines.text import document_fingerprint

    docs = spark.createDataFrame(
        [
            (1, "short doc"),          # 9 chars -> 2 grams of k=8, < window
            (2, "short doc"),          # duplicate of 1
            (3, "tiny"),               # < k chars: zero grams, no fingerprint
            (4, "x" * 40),             # long enough for real windows
        ],
        schema="doc_id long, text string",
    )
    fp = document_fingerprint(docs).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc.get(1) and by_doc[1] == by_doc[2]
    assert len(by_doc[1]) == 1
    assert 3 not in by_doc
    assert by_doc.get(4)


# ---------------- connected components (near-dup clustering) ----------------


def _union_find_components(pairs, all_ids):
    parent = {i: i for i in all_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: min(j for j in all_ids if find(j) == find(i)) for i in all_ids}


def test_dedup_components_hand_graph(spark):
    from fdi_flow_spark.pipelines.dedup import dedup_components

    pairs = [(2, 1), (2, 3), (5, 4), (9, 8), (8, 7)]
    docs_ids = list(range(1, 11))
    pdf = spark.createDataFrame(pairs, "id_a int, id_b int")
    docs = spark.createDataFrame([(i,) for i in docs_ids], "doc_id int")
    got = {
        r.doc_id: r.component_id
        for r in dedup_components(pdf, docs=docs, max_iter=10).collect()
    }
    assert got == _union_find_components(pairs, docs_ids)
    # no pairs at all: every doc is its own component
    empty = spark.createDataFrame([], "id_a int, id_b int")
    two = spark.createDataFrame([(1,), (2,)], "doc_id int")
    got = {r.doc_id: r.component_id for r in dedup_components(empty, docs=two).collect()}
    assert got == {1: 1, 2: 2}


def test_dedup_components_warns_when_not_converged(spark):
    """A chain longer than max_iter rounds must NOT return silently-unmerged
    labels — the caller gets a RuntimeWarning naming the fix."""
    import warnings

    from fdi_flow_spark.pipelines.dedup import dedup_components

    pairs = [(i, i + 1) for i in range(1, 12)]
    pdf = spark.createDataFrame(pairs, "id_a int, id_b int")
    with pytest.warns(RuntimeWarning, match="did not converge"):
        got = {
            r.doc_id: r.component_id
            for r in dedup_components(pdf, max_iter=2).collect()
        }
    assert len(got) == 12 and set(got.values()) != {1}  # honest: still unmerged
    # converged runs stay silent
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        dedup_components(pdf, max_iter=15).collect()


def test_dedup_components_long_chain_converges(spark):
    from fdi_flow_spark.pipelines.dedup import dedup_components

    # a 12-node path merges into one component well inside max_iter
    pairs = [(i, i + 1) for i in range(1, 12)]
    pdf = spark.createDataFrame(pairs, "id_a int, id_b int")
    got = {r.doc_id: r.component_id for r in dedup_components(pdf, max_iter=15).collect()}
    assert set(got.values()) == {1} and len(got) == 12


def test_dedup_components_star_long_chain_logarithmic_rounds(spark):
    """A 33-node path (diameter 32) converges with max_iter=8 under the
    star alternation — min-label propagation would need ~32 rounds."""
    import warnings

    from fdi_flow_spark.pipelines.dedup import dedup_components

    pairs = [(i, i + 1) for i in range(1, 33)]
    pdf = spark.createDataFrame(pairs, "id_a int, id_b int")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = {
            r.doc_id: r.component_id
            for r in dedup_components(pdf, max_iter=8).collect()
        }
    assert set(got.values()) == {1} and len(got) == 33


def test_dedup_components_no_docs_omits_singletons(spark):
    from fdi_flow_spark.pipelines.dedup import dedup_components

    pdf = spark.createDataFrame([(4, 2)], "id_a int, id_b int")
    got = {r.doc_id: r.component_id for r in dedup_components(pdf).collect()}
    assert got == {2: 2, 4: 2}
    # a self-pair is no edge: an id seen only in a self-pair is omitted
    # without docs, and maps to itself with docs
    pdf = spark.createDataFrame([(1, 1), (2, 3)], "id_a int, id_b int")
    got = {r.doc_id: r.component_id for r in dedup_components(pdf).collect()}
    assert got == {2: 2, 3: 2}
    docs = spark.createDataFrame([(1,), (2,), (3,)], "doc_id int")
    got = {
        r.doc_id: r.component_id
        for r in dedup_components(pdf, docs=docs).collect()
    }
    assert got == {1: 1, 2: 2, 3: 2}


# ------------------------------------------------- exact span-level dedup


def test_duplicated_spans_merge_and_counts(spark):
    from fdi_flow_spark.pipelines.dedup import duplicated_spans

    shared = "a b c d e f g h i"  # 9 tokens -> two overlapping 8-windows
    docs = spark.createDataFrame(
        [
            (1, shared + " unique1 tail1 here1"),
            (2, "lead2 " + shared + " other2 words2"),
            (3, "totally different text with no duplicated windows at all ok"),
        ],
        "doc_id long, text string",
    )
    out = duplicated_spans(docs, k=8).collect()
    by_doc = {r.doc_id: r for r in out}
    assert set(by_doc) == {1, 2}  # doc 3 clean
    # doc 1: shared at positions 1..9 -> starts {1, 2} merge into one span
    assert (by_doc[1].span_start, by_doc[1].span_end, by_doc[1].n_windows) == (1, 9, 2)
    assert by_doc[1].span_tokens == 9
    # doc 2: shared starts at token 2 -> positions 2..10
    assert (by_doc[2].span_start, by_doc[2].span_end) == (2, 10)


def test_duplicated_spans_islands_split_on_gap(spark):
    from fdi_flow_spark.pipelines.dedup import duplicated_spans

    s1 = "a1 a2 a3 a4 a5 a6 a7 a8"
    s2 = "b1 b2 b3 b4 b5 b6 b7 b8"
    gap = "g1 g2 g3 g4 g5 g6 g7 g8 g9"
    docs = spark.createDataFrame(
        [
            (1, s1 + " " + gap + " " + s2),
            (2, s1 + " x1 x2 x3 x4 x5 x6 x7 x8 x9 " + s2),
        ],
        "doc_id long, text string",
    )
    out = duplicated_spans(docs, k=8)
    d1 = sorted(
        out.where(F.col("doc_id") == 1).collect(), key=lambda r: r.span_start
    )
    # two separate 8-token spans (the 9-token gaps are unique per doc)
    assert [(r.span_start, r.span_end) for r in d1] == [(1, 8), (18, 25)]


def test_strip_duplicated_spans_first_occurrence_wins(spark):
    import hashlib

    from fdi_flow_spark.pipelines.dedup import strip_duplicated_spans

    shared = "a b c d e f g h"
    docs = spark.createDataFrame(
        [
            (1, shared + " keep1 keep2"),  # owner: nothing stripped
            (2, "pre2 " + shared + " post2"),  # foreign copy stripped
            (3, "all different words here nothing shared whatsoever ok fine"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in strip_duplicated_spans(docs, k=8).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].n_dropped == 0  # first occurrence kept
    assert out[2].n_dropped == 8
    assert out[3].n_dropped == 0
    kept2 = "pre2 post2"
    assert out[2].clean_md5 == hashlib.md5(kept2.encode()).hexdigest()
    assert out[1].clean_md5 == hashlib.md5(
        (shared + " keep1 keep2").encode()
    ).hexdigest()


def test_strip_duplicated_spans_owner_keeps_internal_repeats(spark):
    from fdi_flow_spark.pipelines.dedup import strip_duplicated_spans

    span = "r1 r2 r3 r4 r5 r6 r7 r8"
    docs = spark.createDataFrame(
        [
            (5, span + " mid " + span),  # internal repeat, owner by min id
            (9, "z0 " + span + " z1"),  # foreign -> stripped
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in strip_duplicated_spans(docs, k=8).collect()}
    assert out[5].n_dropped == 0  # ownership is per window text, not per occurrence
    assert out[9].n_dropped == 8


def test_strip_duplicated_spans_short_docs_pass_through(spark):
    from fdi_flow_spark.pipelines.dedup import strip_duplicated_spans

    docs = spark.createDataFrame(
        [(1, "only three tokens"), (2, "only three tokens")],  # < k, never windowed
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in strip_duplicated_spans(docs, k=8).collect()}
    assert out[1].n_dropped == 0 and out[2].n_dropped == 0
    assert out[1].n_tokens == 3


def _ref_span_state(rows, k):
    """Pure-Python reference for the span ops: token lists, duplicated
    window occurrences, and foreign-covered positions (1-based)."""
    toks = {i: [t for t in text.lower().split() if t] for i, text in rows}
    occ_by_gram = {}
    for i, tk in toks.items():
        for s in range(len(tk) - k + 1):
            occ_by_gram.setdefault(" ".join(tk[s : s + k]), []).append((i, s + 1))
    covered = {i: set() for i in toks}
    dup_starts = {i: set() for i in toks}
    for occ in occ_by_gram.values():
        if len(occ) < 2:
            continue
        owner = min(i for i, _ in occ)
        for i, s in occ:
            dup_starts[i].add(s)
            if i > owner:
                covered[i].update(range(s, s + k))
    return toks, covered, dup_starts


def test_span_ops_match_python_reference_fuzz(spark):
    """Seeded fuzz: corpora assembled from shared phrase pools (rich span
    structure) must match a brute-force Python reference exactly — strip
    counts, checksums, and maximal-span boundaries."""
    import hashlib

    from fdi_flow_spark.pipelines.dedup import duplicated_spans, strip_duplicated_spans

    k = 8
    rng = np.random.default_rng(20260814)
    vocab = [f"w{i}" for i in range(40)]
    for trial in range(4):
        phrases = [
            " ".join(rng.choice(vocab, size=rng.integers(k, k + 5)))
            for _ in range(5)
        ]
        rows = []
        for i in range(14):
            parts = [
                phrases[j]
                for j in rng.choice(5, size=rng.integers(0, 4), replace=False)
            ]
            filler = " ".join(rng.choice(vocab, size=rng.integers(0, 12)))
            text = " ".join(p for p in (parts + [filler]) if p)
            rows.append((i, text if text else "solo"))
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        toks, covered, dup_starts = _ref_span_state(rows, k)

        got = {r.doc_id: r for r in strip_duplicated_spans(docs, k=k).collect()}
        for i, tk in toks.items():
            if not tk:
                continue
            kept = [t for p, t in enumerate(tk, start=1) if p not in covered[i]]
            assert got[i].n_tokens == len(tk), (trial, i)
            assert got[i].n_dropped == len(tk) - len(kept), (trial, i)
            want_md5 = hashlib.md5(" ".join(kept).encode()).hexdigest()
            assert got[i].clean_md5 == want_md5, (trial, i)

        spans = {}
        for r in duplicated_spans(docs, k=k).collect():
            spans.setdefault(r.doc_id, []).append(
                (r.span_start, r.span_end, r.n_windows)
            )
        for i, starts in dup_starts.items():
            # the operator's merge rule: extend the island iff
            # start <= prev_start + k (overlap or exact adjacency)
            want2, prev = [], None
            for s in sorted(starts):
                if prev is not None and s <= prev + k:
                    lo, hi, n = want2[-1]
                    want2[-1] = (lo, s + k - 1, n + 1)
                else:
                    want2.append((s, s + k - 1, 1))
                prev = s
            assert sorted(spans.get(i, [])) == want2, (trial, i)


# ------------------------------------------------- incremental dedup (r5c)

def test_minhash_signature_expr_equals_aggregate(spark):
    """The projection-only signature (streaming path) must equal the
    explode+aggregate operator bit for bit on real documents."""
    from pyspark.sql import functions as F

    from fdi_flow_spark.pipelines.dedup import (
        minhash_signature_expr,
        minhash_signatures,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    agg = {r["id"]: r["signature"] for r in minhash_signatures(docs).collect()}
    flat = {
        r["doc_id"]: r["sig"]
        for r in docs.select(
            "doc_id", minhash_signature_expr("text").alias("sig")
        ).collect()
        if r["sig"] is not None
    }
    assert set(agg) == set(flat)
    for k in agg:
        assert agg[k] == flat[k], k


def test_dedup_against_verdicts(spark):
    from fdi_flow_spark.pipelines.dedup import dedup_against

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "completely different text about turbine maintenance schedules"),
        ],
        schema="doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact
            (11, "the quick brown fox jumps over the lazy dog near the river bend"),  # near
            (12, "entirely novel content with no overlap whatsoever in any way"),      # fresh
        ],
        schema="doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_against(new, corpus, threshold=0.2).collect()}
    assert out[10]["is_exact_dup"] and out[10]["near_dup_of"] == 1
    assert not out[11]["is_exact_dup"] and out[11]["near_dup_of"] == 1
    assert out[11]["est_jaccard"] >= 0.2
    assert not out[12]["is_exact_dup"] and out[12]["near_dup_of"] is None


def test_dedup_against_prebuilt_index_matches_inline(spark):
    from fdi_flow_spark.pipelines.dedup import dedup_against, minhash_index

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.where("doc_id % 4 != 1")
    new = docs.where("doc_id % 4 = 1")
    inline = dedup_against(new, corpus).toPandas().sort_values("doc_id").reset_index(drop=True)
    idx = minhash_index(corpus)
    viaidx = (
        dedup_against(new, corpus, corpus_index=idx)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert inline.equals(viaidx)


def test_streaming_incremental_dedup_matches_batch(spark):
    """Arriving documents dedup against a STATIC corpus index — the
    stream-static ingest shape: exact digests via left join, near-dups via
    the band join; no stateful aggregation anywhere."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from fdi_flow_spark.pipelines.dedup import (
        minhash_index,
        near_dup_candidates_against,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.where("doc_id % 4 != 1")
    new = docs.where("doc_id % 4 = 1").select("doc_id", "text")
    idx = minhash_index(corpus).localCheckpoint(eager=True)

    batch = (
        near_dup_candidates_against(new, idx)
        .toPandas()
        .sort_values(["id", "corpus_id"])
        .reset_index(drop=True)
    )

    d = tempfile.mkdtemp(prefix="fdi_incdedup_")
    try:
        new.coalesce(1).write.parquet(f"{d}/batch=0")
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        out = near_dup_candidates_against(stream, idx)
        q = (
            out.writeStream.format("memory")
            .queryName("inc_dedup_tbl")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = (
            spark.table("inc_dedup_tbl")
            .toPandas()
            # the stream path leaves per-band duplicates to the consumer (a
            # streaming distinct would carry unbounded state) — collapse
            # them here, then the match sets must be identical
            .drop_duplicates(["id", "corpus_id"])
            .sort_values(["id", "corpus_id"])
            .reset_index(drop=True)
        )
        assert got.equals(batch)
        assert len(got) > 0
    finally:
        spark.catalog.dropTempView("inc_dedup_tbl")
        shutil.rmtree(d, ignore_errors=True)


def test_grouped_components_equal_direct_on_planted_twins(spark):
    """Exact-dedup-first near-dup components (the r7 100x-rehearsal
    finding, operationalized): on a corpus with planted exact-twin groups
    ``near_dup_components`` must produce IDENTICAL component assignments
    to running MinHash + components over the full corpus — signatures are
    pure functions of text, so twins share connectivity. Edge corpora
    (empty, all NULL/"" texts, non-Latin twins) agree too."""
    from pyspark.sql import functions as F

    from fdi_flow_spark.pipelines.dedup import (
        dedup_components,
        minhash_dedup_pairs,
        near_dup_components,
    )
    from fdi_flow_spark.sources.tables import load_table

    base = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    # plant shingle-less twins (single-token and NULL text): the direct
    # path gives them NO pairs — not even with their exact twins — so the
    # grouped path must force them singleton rather than digest-collapse
    base = base.unionByName(
        spark.createDataFrame(
            [(900_001, "hello"), (900_002, "hello"), (900_003, None)],
            "doc_id long, text string",
        )
    )
    twins = base
    for i in (1, 2, 3):  # every doc gains 3 exact twins
        twins = twins.unionByName(
            base.select(
                (F.col("doc_id") + 100_000 * i).alias("doc_id"), F.col("text")
            )
        )
    direct = dedup_components(minhash_dedup_pairs(twins), docs=twins)
    grouped = near_dup_components(twins)
    d = {r["doc_id"]: r["component_id"] for r in direct.collect()}
    g = {r["doc_id"]: r["component_id"] for r in grouped.collect()}
    assert d == g
    assert len(g) == twins.count()
    # twins share components by construction
    some = next(iter(d))
    base_ids = [r["doc_id"] for r in base.limit(5).collect()]
    for b in base_ids:
        assert g[b] == g[b + 100_000] == g[b + 200_000] == g[b + 300_000]

    def both(rows):
        corpus = spark.createDataFrame(rows, "doc_id long, text string")
        got, want = (
            {r["doc_id"]: r["component_id"] for r in df.collect()}
            for df in (
                near_dup_components(corpus),
                dedup_components(minhash_dedup_pairs(corpus), docs=corpus),
            )
        )
        assert got == want
        return got

    assert both([]) == {}
    # texts without shingles: every doc is a singleton
    blank = [(1, None), (2, ""), (3, None), (4, "")]
    assert both(blank) == {1: 1, 2: 2, 3: 3, 4: 4}
    # non-Latin exact twins: one component per pair
    ja, ru = "日本語 テキスト です", "русский текст здесь"
    assert both([(1, ja), (2, ja), (3, ru), (4, ru)]) == {1: 1, 2: 1, 3: 3, 4: 3}


def test_minhash_bucket_cap_output_identical_and_chunks_bounded(spark):
    """r8 (VERDICT r7 item 4): a planted 150-member exact-twin group puts
    >=150 rows in every band bucket — 11k+ pairs in one reducer under the
    plain self-join. With ``max_bucket_rows`` set, oversize buckets route
    through the salted chunk grid: the OUTPUT must be bit-identical (ids,
    est_jaccard) and per-chunk membership stays ~cap, so no reducer sees
    more than ~cap^2 pair checks."""
    from pyspark.sql import functions as F

    from fdi_flow_spark.pipelines.dedup import minhash_dedup_pairs
    from fdi_flow_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    twin = docs.limit(1).select(F.lit(0).alias("k"), "text")
    planted = docs.unionByName(
        spark.range(150)
        .select((F.col("id") + 500_000).alias("doc_id"))
        .crossJoin(twin)
        .select("doc_id", "text")
    )
    uncapped = sorted(
        map(tuple, minhash_dedup_pairs(planted, max_bucket_rows=None).collect())
    )
    capped = sorted(
        map(tuple, minhash_dedup_pairs(planted, max_bucket_rows=32).collect())
    )
    assert len(uncapped) > 11_000  # the skew is real on this fixture
    assert capped == uncapped
    # chunk-boundedness: the grid assigns chunk = xxhash64(id) % ceil(m/cap);
    # verify via the same formula that no chunk of the planted group exceeds
    # a small multiple of the cap (uniform hash -> ~cap members per chunk)
    m, cap = 150, 32
    nc = -(-m // cap)
    chunks = (
        spark.range(150)
        .select((F.col("id") + 500_000).alias("id"))
        .select(F.pmod(F.xxhash64("id"), F.lit(nc)).alias("c"))
        .groupBy("c")
        .count()
        .collect()
    )
    assert max(r["count"] for r in chunks) <= 3 * cap
    # corpora with no oversize buckets: the default cap changes nothing
    plain_un = sorted(
        map(tuple, minhash_dedup_pairs(docs, max_bucket_rows=None).collect())
    )
    plain_cap = sorted(map(tuple, minhash_dedup_pairs(docs).collect()))
    assert plain_un == plain_cap


def test_near_dup_components_default_is_grouped_with_direct_optout(spark):
    """The end-to-end entry point uses the digest-collapse ordering (the
    plan contains the digest stage), while a caller who wants the direct
    composition spells it out as ``dedup_components(minhash_dedup_pairs)``
    — and both give identical labels on the real corpus."""
    import contextlib
    import io

    from fdi_flow_spark.pipelines.dedup import (
        dedup_components,
        minhash_dedup_pairs,
        near_dup_components,
    )
    from fdi_flow_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    grouped = near_dup_components(docs)
    direct = dedup_components(minhash_dedup_pairs(docs), docs=docs)

    def plan_of(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("extended")
        return buf.getvalue()

    # the digest-collapse stage groups on the content digest alias `_dg`
    # (md5 alone is no marker — shingle hashing is md5-based in both paths)
    assert "_dg" in plan_of(grouped)
    assert "_dg" not in plan_of(direct)
    g = {r["doc_id"]: r["component_id"] for r in grouped.collect()}
    d = {r["doc_id"]: r["component_id"] for r in direct.collect()}
    assert g == d


def test_star_big_graph_branch_serialized_and_exact(spark):
    """r9 (VERDICT r8 item 6): CI twin of scripts/star_memory_probe.py at a
    reduced edge count. A 202-clique graph (202 groups x 200 members =
    4,019,800 edges) crosses the >4M-edge big-graph threshold, so the star
    loop must store that round's checkpoint SERIALIZED (MEMORY_AND_DISK)
    and apply the edge-count partition sizing — the r7 fix that kept 28M
    edges inside an 8 GiB JVM. Fails if the branch regresses to
    deserialized caching; components must stay exact."""
    from pyspark.sql import functions as F

    from fdi_flow_spark.pipelines import dedup as dd

    n_groups, group_size = 202, 200
    nodes = spark.range(n_groups * group_size).select(
        F.col("id").alias("node"),
        (F.col("id") / group_size).cast("long").alias("g"),
    )
    a, b = nodes.alias("a"), nodes.alias("b")
    pairs = a.join(
        b, (F.col("a.g") == F.col("b.g")) & (F.col("a.node") < F.col("b.node"))
    ).select(F.col("a.node").alias("id_a"), F.col("b.node").alias("id_b"))

    comp = dd.dedup_components(pairs, id_col="node")
    n_comp = comp.select("component_id").distinct().count()
    assert n_comp == n_groups
    assert comp.count() == n_groups * group_size
    # the >4M-edge round(s) ran the serialized branch; later contracted
    # rounds legitimately fall back to the default level
    LAST = dd.LAST_STAR_RUN
    assert LAST["levels"][0] == "serialized_mem_and_disk", LAST
    # 4.02M edges on local[4] (defaultParallelism 4 -> 1M-edge floor is
    # 4M): the partition-sizing sub-branch must also have fired
    assert LAST["repartitions"], LAST


def test_exact_collapse_adaptive_skip_is_lossless(spark, docs_df):
    """r14: the digest-collapse runs ONLY when duplicate digests exist —
    on a dup-free corpus it is an algebraic identity whose ~5 extra
    exchanges per call are pure overhead (the r13-measured ~0.5-1 s at
    sf0.1). Pinned: (a) with dups present, collapse on == off;
    (b) on a dup-free corpus, the skipped (direct) plan == the explicit
    collapse_exact=False plan; (c) exact twins still emit 1.0 pairs
    through the collapse; (d) a PREBUILT dup map (the registry path)
    matches the self-built one for both joins; (e) threshold > 1 emits
    nothing, twin leg included."""
    from fdi_flow_spark.pipelines.dedup import containment_pairs

    # (a) dup corpus (docs_df carries 3 exact twins): collapse on == off
    on = _pairs(ngram_jaccard_pairs(docs_df, n=2, threshold=0.5))
    off = _pairs(
        ngram_jaccard_pairs(docs_df, n=2, threshold=0.5, collapse_exact=False)
    )
    assert on == off and len(on) > 0
    # (c) twin pairs present at exactly 1.0
    assert any(v == 1.0 for v in on.values())

    # (b) dup-free corpus: the dup-member map is empty, the skip fires,
    # and the output equals the explicit no-collapse plan
    # base docs + the 8 near-dups (ids 40-47), minus the 3 exact twins
    # (ids 48-50): near-dup pairs exist but no digest repeats
    from fdi_flow_spark.pipelines.dedup import exact_dup_members

    nodup = docs_df.where(F.col("doc_id") < 48)
    assert exact_dup_members(nodup).count() == 0
    skip = _pairs(ngram_jaccard_pairs(nodup, n=2, threshold=0.5))
    direct = _pairs(
        ngram_jaccard_pairs(nodup, n=2, threshold=0.5, collapse_exact=False)
    )
    assert skip == direct and len(skip) > 0
    # (d) a PREBUILT dup map (the registry cache path) on the dup corpus
    # matches the self-built path
    mem = exact_dup_members(docs_df)
    assert mem.count() > 0
    cached = _pairs(
        ngram_jaccard_pairs(docs_df, n=2, threshold=0.5, dup_members=mem)
    )
    assert cached == on

    # same contract for the directed join
    c_on = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(
            docs_df, n=2, unit="word", threshold=0.6
        ).collect()
    }
    c_off = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(
            docs_df, n=2, unit="word", threshold=0.6, collapse_exact=False
        ).collect()
    }
    assert c_on == c_off and len(c_on) > 0
    c_cached = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(
            docs_df, n=2, unit="word", threshold=0.6, dup_members=mem
        ).collect()
    }
    assert c_cached == c_on

    # (e) no pair reaches J or C > 1: the twin leg must not emit its 1.0s
    for join in (ngram_jaccard_pairs, containment_pairs):
        assert join(docs_df, n=2, unit="word", threshold=1.5).count() == 0


def test_collapse_twin_edge_cases(spark):
    """r14: the same-digest 1.0 leg must track the shingling universe —
    twins whose text yields ZERO shingles (shorter than the n-gram window)
    never enter the pair space, exactly as the direct per-pair path would
    never emit them; and exact_dup_members holds only multi-member groups
    with the group-min id as representative."""
    from fdi_flow_spark.pipelines.dedup import (
        containment_pairs,
        exact_dup_members,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4"),   # twin group A (shingles exist)
            (2, "w1 w2 w3 w4"),
            (3, "x"),              # twin group B: single word -> no bigrams
            (4, "x"),
            (5, "z1 z2 z3"),       # singleton
        ],
        "doc_id long, text string",
    )
    mem = {(r._rep, r._mid) for r in exact_dup_members(docs).collect()}
    assert mem == {(1, 1), (1, 2), (3, 3), (3, 4)}  # reps = group minima

    got = _pairs(ngram_jaccard_pairs(docs, n=2, unit="word", threshold=0.5))
    assert got == {(1, 2): 1.0}  # group B never shingles -> no 1.0 pair

    cont = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(docs, n=2, unit="word", threshold=0.5).collect()
    }
    assert cont == {(1, 2): 1.0, (2, 1): 1.0}  # directed: both orientations


def test_hashed_shingles_matches_legacy_dedup_and_adds_no_exchange(spark, docs_df):
    """r14 optimization pin: _hashed_shingles (per-row array_distinct before
    the explode) must produce exactly the (id, h) set the legacy
    explode + dropDuplicates(["id","h"]) form produced — in-doc hash
    collisions and all — while its physical plan carries NO Exchange (the
    removed corpus-sized dedup shuffle is the point of the rewrite)."""
    from fdi_flow_spark.pipelines.dedup import (
        _char_ngrams,
        _hashed_shingles,
        _shingle_hash,
        _word_ngrams,
    )

    for unit in ("word", "char"):
        new = _hashed_shingles(docs_df, "doc_id", "text", n=2, unit=unit, char_k=12)
        legacy_shingles = (
            _char_ngrams(docs_df, "doc_id", "text", 12)
            if unit == "char"
            else _word_ngrams(docs_df, "doc_id", "text", 2)
        )
        legacy = legacy_shingles.select(
            "id", _shingle_hash(F.col("shingle")).alias("h")
        ).dropDuplicates(["id", "h"])
        assert {(r.id, r.h) for r in new.collect()} == {
            (r.id, r.h) for r in legacy.collect()
        }, unit
        plan = new._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"unexpected shuffle in {unit} plan:\n{plan}"


def test_shingle_hash_arrays_matches_legacy_collect_list(spark, docs_df):
    """r14 optimization pin: _shingle_hash_arrays (per-row sorted xxhash64
    arrays, the exact pair joins' r14 checkpoint form) must produce exactly
    the (id, ns, arr) rows the legacy
    explode -> xxhash64 -> groupBy(id).collect_list -> sort_array rebuild
    produced — in-doc hash collisions between distinct shingle strings and
    all — while its physical plan carries NO Exchange (the removed
    corpus-shingle reassembly shuffle is the point of the rewrite)."""
    from fdi_flow_spark.pipelines.dedup import (
        _char_ngrams,
        _shingle_hash_arrays,
        _word_ngrams,
    )

    for unit in ("word", "char"):
        new = _shingle_hash_arrays(docs_df, "doc_id", "text", n=2, unit=unit, char_k=12)
        legacy_shingles = (
            _char_ngrams(docs_df, "doc_id", "text", 12)
            if unit == "char"
            else _word_ngrams(docs_df, "doc_id", "text", 2)
        )
        legacy = (
            legacy_shingles.select("id", F.xxhash64("shingle").alias("h"))
            .groupBy("id")
            .agg(
                F.count("*").alias("ns"),
                F.sort_array(F.collect_list("h")).alias("arr"),
            )
        )
        got = {(r.id, r.ns, tuple(r.arr)) for r in new.collect()}
        want = {(r.id, r.ns, tuple(r.arr)) for r in legacy.collect()}
        assert got == want, unit
        plan = new._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"unexpected shuffle in {unit} plan:\n{plan}"


def test_dedup_components_duplicate_and_reversed_pairs_identical(spark):
    """r14 optimization pin: the initial edge materialization no longer
    dedups (guide §2.4 — `.distinct()` over pairs that every feeding
    operator already emits unique was a full edge-stream Exchange finding
    nothing), and the star path keeps a single orientation (_large_star
    symmetrizes internally). Both rely on the algorithms being duplicate-
    and orientation-INSENSITIVE: a pair list with exact duplicates and
    reversed duplicates must produce components identical to its clean
    form."""
    from fdi_flow_spark.pipelines.dedup import dedup_components

    clean = [(1, 2), (2, 3), (7, 8), (10, 11), (11, 12)]
    messy = clean + [(2, 1), (3, 2), (7, 8), (8, 7), (12, 11), (10, 11)]
    docs = spark.createDataFrame([(i,) for i in range(1, 14)], "doc_id int")
    want = {
        r.doc_id: r.component_id
        for r in dedup_components(
            spark.createDataFrame(clean, "id_a int, id_b int"), docs=docs
        ).collect()
    }
    got = {
        r.doc_id: r.component_id
        for r in dedup_components(
            spark.createDataFrame(messy, "id_a int, id_b int"), docs=docs
        ).collect()
    }
    assert got == want
    assert want[1] == want[2] == want[3] == 1
    assert want[10] == want[11] == want[12] == 10
    assert want[13] == 13  # singleton via docs fallback


def test_containment_count_bound_keeps_boundary_pairs(spark):
    """r15: the extended-prefix count bound must never prune a pair that
    sits EXACTLY at the threshold (c >= ceil(t*ns_a) - (ns_a - p'_a) is a
    lower bound, not an estimate). A doc sharing exactly 6 of its 10
    distinct unigram shingles with another doc has C = 0.6 and must
    survive t = 0.6; one sharing 5 must not appear."""
    from fdi_flow_spark.pipelines.dedup import containment_pairs

    a = " ".join(f"a{i}" for i in range(10))                  # 10 shingles
    b = " ".join([f"a{i}" for i in range(6)] + [f"b{i}" for i in range(14)])
    c = " ".join([f"a{i}" for i in range(5)] + [f"c{i}" for i in range(15)])
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    out = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(
            docs, n=1, unit="word", threshold=0.6, prefix_filter=True
        ).collect()
    }
    assert out.get((1, 2)) == 0.6          # boundary pair survives
    assert (1, 3) not in out               # 0.5 < t correctly dropped
    # parity with the unpruned path on the same corpus
    full = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(
            docs, n=1, unit="word", threshold=0.6, prefix_filter=False
        ).collect()
    }
    assert out == full


@pytest.mark.parametrize(
    "call",
    [
        "ngram_jaccard_pairs",
        "containment_pairs",
        "containment_screened",
        "containment_index",
        "containment_screen_against",
    ],
)
def test_unknown_unit_raises_before_any_job(spark, docs_df, call):
    """A unit other than 'word' / 'char' (e.g. 'chars') used to shingle
    silently on words. It must raise a ValueError naming the bad unit
    before any Spark job runs — in particular before the exact pair
    joins' collapse checkpoints the corpus."""
    from fdi_flow_spark.pipelines import dedup

    index = docs_df.select(F.col("doc_id").alias("id"), F.xxhash64("text").alias("h"))
    args = {"containment_screen_against": (docs_df, index, index.select("h"))}
    sc = spark.sparkContext
    group = f"unknown-unit-{call}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="'chars'"):
            getattr(dedup, call)(*args.get(call, (docs_df,)), unit="chars")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
