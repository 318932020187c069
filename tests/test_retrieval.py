"""Retrieval operators: BM25 scoring, RRF fusion, IVF-PQ refine.

BM25 is checked against an independent pure-Python computation of
the same formula (not against the operator's own SQL twin), RRF
against hand-computed reciprocal sums, and the refine stage against
the exact brute-force search it must converge to when the candidate
stage is exhaustive.
"""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from workhop2_etl_spark.operators import retrieval as RET
from workhop2_etl_spark.operators import similarity as SIM
from workhop2_etl_spark.session import load_table

DOCS = [
    (0, "apple banana apple cherry"),
    (1, "banana cherry date"),
    (2, "apple apple apple apple"),
    (3, "elephant fig grape"),
    (4, ""),  # empty: excluded from index, N and avgdl
]


def _py_bm25(query_terms, k1=1.2, b=0.75):
    """Independent reference BM25 over DOCS (plain dict/loop code —
    no shared expression tree with the operator)."""
    toks = {i: t.split() for i, t in DOCS if t}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {}
    for ts in toks.values():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
    out = {}
    for qid, terms in query_terms.items():
        for d, ts in toks.items():
            if d == qid:
                continue
            s = 0.0
            hits = 0
            for t in sorted(set(terms)):
                tf = ts.count(t)
                if not tf:
                    continue
                hits += 1
                idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
                s += idf * (tf * (k1 + 1.0)) / (
                    tf + k1 * (1.0 - b + b * len(ts) / avgdl)
                )
            if hits:
                out[(qid, d)] = (round(s, 6), hits)
    return out


def test_bm25_matches_independent_reference(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    corpus = docs.select(
        "doc_id",
        F.when(F.trim("text") == "", F.array().cast("array<string>"))
        .otherwise(F.split(F.trim("text"), " "))
        .alias("toks"),
    )
    qt = spark.createDataFrame(
        [(0, "apple"), (0, "date"), (3, "banana"), (3, "elephant")],
        "query_id long, term string",
    )
    got = {
        (r.query_id, r.doc_id): (r.score, r.n_hit)
        for r in RET.bm25_topk(corpus, qt, k=10).collect()
    }
    want = _py_bm25({0: ["apple", "date"], 3: ["banana", "elephant"]})
    assert got == want
    # self-exclusion: doc 0 contains 'apple' but never scores for q=0
    assert (0, 0) not in got
    # empty doc is not retrievable and did not distort avgdl/N
    assert all(d != 4 for (_, d) in got)


def test_bm25_rare_term_outranks_common(spark):
    """idf ordering: a doc matching the corpus-rare term must outrank
    a doc matching (equally often, same length) the common term."""
    rows = [(i, "common filler" + " pad" * 3) for i in range(8)]
    rows += [(100, "rare filler pad pad pad"), (101, "common filler pad pad pad")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = docs.select("doc_id", F.split("text", " ").alias("toks"))
    qt = spark.createDataFrame(
        [(999, "rare"), (999, "common")], "query_id long, term string"
    )
    ranked = RET.bm25_topk(corpus, qt, k=2).collect()
    assert [r.doc_id for r in sorted(ranked, key=lambda r: r.rank)][0] == 100


def test_rrf_fuse_contract(spark):
    arm_a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, doc_id long, rank int"
    )
    arm_b = spark.createDataFrame(
        [(1, 11, 1), (1, 12, 2)], "query_id long, doc_id long, rank int"
    )
    rows = {r.doc_id: r for r in RET.rrf_fuse(arm_a, arm_b, k=10).collect()}
    # overlap doc: both reciprocal terms; singles: one term + NULL rank
    assert rows[11].rrf_score == round(1.0 / 62 + 1.0 / 61, 6)
    assert rows[10].rrf_score == round(1.0 / 61, 6)
    assert rows[12].rrf_score == round(1.0 / 62, 6)
    assert rows[10].rank_b is None and rows[12].rank_a is None
    assert rows[11].rank_a == 2 and rows[11].rank_b == 1
    # fused order: overlap first, then the two rank-deficient docs by
    # score (1/61 > 1/62), doc_id breaking exact ties
    assert [r.doc_id for r in sorted(rows.values(), key=lambda r: r.rank)] == [
        11,
        10,
        12,
    ]


def test_refine_equals_bruteforce_when_exhaustive(spark):
    """With every cell probed and an exhaustive candidate budget the
    refine search IS the exact brute-force search — row-identical."""
    from workhop2_etl_spark.suite.similarity import DIM, N_CENTROIDS

    emb = load_table(spark, SF_DIR, "embeddings").filter(
        F.col("vec_id") < 120
    )
    rows = (
        emb.filter(F.col("vec_id") % 37 == 0)
        .orderBy("vec_id")
        .limit(N_CENTROIDS)
        .select("embedding")
        .collect()
    )
    cents = [(i, list(r.embedding)) for i, r in enumerate(rows)]
    cb = SIM.sample_pq_codebooks(emb, dim=DIM)
    queries = emb.filter(F.col("vec_id") % 40 == 0)
    got = SIM.topk_cosine_ivf_pq_refine(
        emb, queries, cents, cb, dim=DIM, k=5,
        n_candidates=1000, nprobe=len(cents),
    ).collect()
    want = SIM.topk_cosine_bruteforce(emb, queries, k=5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)) and got


def test_refine_recall_at_least_pq_and_exact_scores(spark):
    """At production settings (nprobe=2, C=3k) refine must (a) score
    every returned pair with the EXACT cosine — equal to the
    brute-force score for that pair — and (b) keep planted neighbors
    at least as well as the unrefined PQ search."""
    import hashlib

    from workhop2_etl_spark.suite.similarity import DIM, N_CENTROIDS

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") % 25 == 0).orderBy("vec_id").limit(15).collect()

    def noise(q, d):
        h = hashlib.md5(f"{q}:{d}".encode()).hexdigest()[:8]
        return (int(h, 16) / float(1 << 31) - 1.0) * 0.05

    planted = [
        (int(r.vec_id) + 1_000_000,
         [float(v) + noise(r.vec_id, d) for d, v in enumerate(r.embedding)])
        for r in base
    ]
    queries = spark.createDataFrame(planted, "vec_id long, embedding array<float>")
    want = {q: q - 1_000_000 for q, _ in planted}

    rows = (
        emb.filter(F.col("vec_id") % 37 == 0).orderBy("vec_id")
        .limit(N_CENTROIDS).select("embedding").collect()
    )
    cents = [(i, list(r.embedding)) for i, r in enumerate(rows)]
    cb = SIM.sample_pq_codebooks(emb, dim=DIM)

    def rec(df):
        got = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(1 for q, b in want.items() if b in got.get(q, set())) / len(want)

    k = 5
    refined = SIM.topk_cosine_ivf_pq_refine(
        emb, queries, cents, cb, dim=DIM, k=k, n_candidates=3 * k, nprobe=2
    )
    pq = SIM.topk_cosine_ivf_pq(emb, queries, cents, cb, dim=DIM, k=k, nprobe=2)
    assert rec(refined) >= rec(pq) > 0.7

    # (a) exactness: every refined score equals the brute-force score
    exact = {
        (r.query_id, r.neighbor_id): r.score
        for r in SIM.topk_cosine_bruteforce(emb, queries, k=50).collect()
    }
    for r in refined.collect():
        key = (r.query_id, r.neighbor_id)
        if key in exact:  # brute k=50 covers all refine winners here
            assert r.score == exact[key]

    with pytest.raises(ValueError, match="n_candidates"):
        SIM.topk_cosine_ivf_pq_refine(
            emb, queries, cents, cb, dim=DIM, k=5, n_candidates=3
        )


# ---------------------------------------------------------------------------
# Non-finite corpus vectors: the round-10 adversarial findings. Spark
# orders NaN above every number, so before the _cosine_from_denom
# guard a single corrupt vector scored NaN and WON every probe's
# top-k; and the int8 tiers crashed the whole build (inf scale →
# inf/inf = NaN → ANSI NaN→tinyint CAST_OVERFLOW).
# ---------------------------------------------------------------------------

_DIRTY_ROWS = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.9, 0.1, 0.0, 0.0]),
    (3, [float("inf"), 1.0, 0.0, 0.0]),
    (4, [float("nan"), 1.0, 0.0, 0.0]),
    (5, [0.0, 0.0, 0.0, 0.0]),  # zero vector: scores 0.0, stays ranked
]
_CENTS4 = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]


def _dirty_fixture(spark):
    emb = spark.createDataFrame(_DIRTY_ROWS, "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(100, [1.0, 0.05, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    return emb, q


def test_nonfinite_vectors_never_rank(spark):
    """A corpus vector with an inf or NaN element must be EXCLUDED
    from every probe's ranking (not crowned rank 1 by NaN-largest
    ordering); the zero vector still scores 0.0 and ranks last. The
    IVF and LSH searches must agree with the brute-force BLAS kernel,
    which drops non-finite scores via its np.isfinite mask."""
    emb, q = _dirty_fixture(spark)
    want = [(100, 1, 1), (100, 2, 2), (100, 5, 3)]
    for df in (
        SIM.topk_cosine_bruteforce(emb, q, k=5),
        SIM.topk_cosine_bruteforce_blas(emb, q, k=5),
        SIM.topk_cosine_ivf(emb, q, _CENTS4, k=5, nprobe=2),
        SIM.topk_cosine_lsh_multitable(emb, q, dim=4, k=5, num_planes=2, num_tables=2),
    ):
        got = [(r.query_id, r.neighbor_id, r.rank) for r in df.collect()]
        assert sorted(got) == want, got
        scores = {r.neighbor_id: r.score for r in df.collect()}
        assert scores[5] == 0.0


def test_int8_index_build_survives_nonfinite_vectors(spark, tmp_path):
    """One corrupt embedding must not fail a corpus-scale int8 index
    build (IVF or LSH tier): dirty rows store zeros under their
    non-finite scale and the scoring guard excludes them from every
    probe; clean rows are unaffected."""
    from workhop2_etl_spark.operators import index_store as IDX

    emb, q = _dirty_fixture(spark)
    p = str(tmp_path / "ivf8")
    IDX.save_ivf_index(emb, p, _CENTS4, dim=4, store_dtype="int8", mode="overwrite")
    postings, cents, meta = IDX.load_ivf_index(spark, p, dim=4)
    got = [
        (r.neighbor_id, r.rank)
        for r in IDX.probe_ivf_index(postings, cents, meta, q, k=5, nprobe=2).collect()
    ]
    assert sorted(got) == [(1, 1), (2, 2), (5, 3)]

    p2 = str(tmp_path / "lsh8")
    IDX.save_lsh_index(
        emb, p2, dim=4, num_planes=2, num_tables=2,
        store_dtype="int8", mode="overwrite",
    )
    idx, meta2 = IDX.load_lsh_index(spark, p2)
    got = [
        (r.neighbor_id, r.rank)
        for r in IDX.probe_lsh_index(idx, meta2, q, k=5).collect()
    ]
    assert sorted(got) == [(1, 1), (2, 2), (5, 3)]


def test_lexical_index_roundtrip_and_append(spark, tmp_path):
    """Persisted BM25 index: build on the even half, append the odd
    half, load, probe — row-identical to the in-session bm25_topk
    over the full corpus (df/n_docs/Σdl partials sum to the
    single-shot aggregates). Drift guards: the ANN loader refuses the
    lexical kind, and a tokenizer-label mismatch raises."""
    from workhop2_etl_spark.operators import index_store as IDX
    from workhop2_etl_spark.operators import retrieval as RETOP

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    corpus = docs.select(
        "doc_id",
        F.when(F.trim("text") == "", F.array().cast("array<string>"))
        .otherwise(F.split(F.trim("text"), " "))
        .alias("toks"),
    )
    qt = spark.createDataFrame(
        [(0, "apple"), (0, "date"), (3, "banana"), (3, "elephant")],
        "query_id long, term string",
    )
    path = str(tmp_path / "lex")
    RETOP.save_lexical_index(
        corpus.filter(F.col("doc_id") % 2 == 0), path, mode="overwrite"
    )
    meta = RETOP.append_lexical_index(
        corpus.filter(F.col("doc_id") % 2 == 1), path
    )
    assert meta["epoch"] == 1
    tf, df, stats, meta = RETOP.load_lexical_index(spark, path)
    got = RETOP.probe_lexical_index(tf, df, stats, meta, qt, k=10).collect()
    want = RETOP.bm25_topk(corpus, qt, k=10).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)) and got

    with pytest.raises(ValueError, match="wrong index type"):
        IDX.load_lsh_index(spark, path)
    with pytest.raises(ValueError, match="does not match this probe"):
        RETOP.load_lexical_index(spark, path, tokenizer="bpe")
    with pytest.raises(ValueError, match="max_terms"):
        RETOP.probe_lexical_index(tf, df, stats, meta, qt, k=10, max_terms=2)


def test_nonfinite_query_returns_no_rows(spark):
    """A dirty QUERY vector has a non-finite norm, so every one of its
    pairs is NULL-scored and it returns zero rows (it cannot silently
    return garbage neighbors)."""
    emb, _ = _dirty_fixture(spark)
    q = spark.createDataFrame(
        [(200, [float("nan"), 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    assert SIM.topk_cosine_bruteforce(emb, q, k=5).count() == 0


def test_truncated_refine_exhaustive_equals_bruteforce(spark):
    """Matryoshka-style prefix prefilter: with an exhaustive candidate
    budget the refine IS exact brute force (row-identical); at the
    production budget (C=3k) recall vs exact top-k stays useful on
    the fixture even though its embeddings are not MRL-trained; the
    contract guards raise on bad prefix_dim / n_candidates."""
    from tests.conftest import SF_DIR as _SF

    emb = load_table(spark, _SF, "embeddings").filter(F.col("vec_id") < 200)
    queries = emb.filter(F.col("vec_id") % 40 == 0)

    got = SIM.topk_cosine_truncated_refine(
        emb, queries, prefix_dim=16, k=5, n_candidates=10_000
    ).collect()
    want = SIM.topk_cosine_bruteforce(emb, queries, k=5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)) and got

    # recall gates: the fixture embeddings are NOT MRL-trained, so a
    # 16/64 prefix is a weak projection (measured 0.36 at C=15) — the
    # gates pin the MECHANISM, not the fixture's projection quality:
    # recall must hold a floor, and must rise with the candidate
    # budget (the refine knob doing its job)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in SIM.topk_cosine_bruteforce(emb, queries, k=5).collect()
    }

    def rec(n_cand):
        got = {
            (r.query_id, r.neighbor_id)
            for r in SIM.topk_cosine_truncated_refine(
                emb, queries, prefix_dim=16, k=5, n_candidates=n_cand
            ).collect()
        }
        return len(exact & got) / len(exact)

    r15, r60 = rec(15), rec(60)
    assert r15 >= 0.25, f"prefix-16 refine recall collapsed: {r15:.2f}"
    assert r60 > r15, (r15, r60)
    assert r60 >= 0.6, f"C=60 refine recall collapsed: {r60:.2f}"

    with pytest.raises(ValueError, match="prefix_dim"):
        SIM.topk_cosine_truncated_refine(emb, queries, prefix_dim=0)
    with pytest.raises(ValueError, match="n_candidates"):
        SIM.topk_cosine_truncated_refine(
            emb, queries, prefix_dim=16, k=5, n_candidates=2
        )


def test_truncated_refine_blas_kernel_identical(spark):
    """The refine's BLAS prefix scan must produce the IDENTICAL final
    result as an expression reference built in the test: the
    expression brute force over the same prefixes, then the same
    exact rescore (both stages rank on rounded scores with id
    tiebreaks)."""
    from tests.conftest import SF_DIR as _SF

    emb = load_table(spark, _SF, "embeddings").filter(F.col("vec_id") < 200)
    queries = emb.filter(F.col("vec_id") % 40 == 0)

    def prefix(df):
        return df.select(
            "vec_id", F.slice("embedding", 1, 16).alias("embedding")
        )

    cand = SIM.topk_cosine_bruteforce(
        prefix(emb), prefix(queries), k=15
    ).select("query_id", "neighbor_id")
    a = SIM._exact_rescore_candidates(
        emb, queries, cand, 5, "vec_id", "embedding", 6
    ).collect()
    b = SIM.topk_cosine_truncated_refine(
        emb, queries, prefix_dim=16, k=5, n_candidates=15
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)) and a


def test_lexical_index_stats(spark, tmp_path):
    """One-row health report: values must equal an independent Python
    recompute over DOCS, and an EMPTY artifact reports zeros (not
    NULLs) — the same contract as the ANN index stats."""
    from workhop2_etl_spark.operators import retrieval as RETOP

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    corpus = docs.select(
        "doc_id",
        F.when(F.trim("text") == "", F.array().cast("array<string>"))
        .otherwise(F.split(F.trim("text"), " "))
        .alias("toks"),
    )
    path = str(tmp_path / "lexstats")
    RETOP.save_lexical_index(corpus, path, mode="overwrite")
    tf, df, stats, meta = RETOP.load_lexical_index(spark, path)
    row = RETOP.lexical_index_stats(tf, df, stats).collect()[0]

    toks = {i: t.split() for i, t in DOCS if t}
    postings = [(d, w) for d, ts in toks.items() for w in set(ts)]
    from collections import Counter

    dfc = Counter(w for _, w in postings)
    assert row.n_docs == len(toks)
    assert row.avgdl == round(sum(map(len, toks.values())) / len(toks), 2)
    assert row.vocab_size == len(dfc)
    assert row.n_postings == len(postings)
    assert row.max_df == max(dfc.values())
    top = sum(c for _, c in dfc.most_common(10))
    assert row.stopword_share == round(top / len(postings), 4)
    assert row.postings_per_doc == round(len(postings) / len(toks), 2)

    empty = str(tmp_path / "lexempty")
    RETOP.save_lexical_index(corpus.limit(0), empty, mode="overwrite")
    tf0, df0, st0, _ = RETOP.load_lexical_index(spark, empty)
    r0 = RETOP.lexical_index_stats(tf0, df0, st0).collect()[0]
    assert (r0.n_docs, r0.vocab_size, r0.n_postings, r0.max_df) == (0, 0, 0, 0)
    assert r0.stopword_share == 0.0 and r0.postings_per_doc == 0.0


# ---------------------------------------------------------------------------
# round-11 second adversarial pass over the round-10 retrieval family
# (the r10 verdict's ask #5): malformed rrf arms, exact cross-arm
# ties, _seq_sum duplicate keys, zero-prefix truncated refine.
# ---------------------------------------------------------------------------


def test_rrf_fuse_duplicate_doc_in_one_arm_collapses_to_best_rank(spark):
    """An arm that did NOT come from a row_number window can carry the
    same (query_id, doc_id) at two ranks. Unhardened, the full-outer
    join fanned that out and the SAME document surfaced at several
    fused ranks; the r11 fix collapses each arm to its best (minimum)
    rank first — identity for well-formed arms."""
    arm_a = spark.createDataFrame(
        [(1, 10, 1), (1, 10, 3), (1, 11, 2)],
        "query_id long, doc_id long, rank int",
    )
    arm_b = spark.createDataFrame(
        [(1, 10, 2), (1, 12, 1)], "query_id long, doc_id long, rank int"
    )
    out = RET.rrf_fuse(arm_a, arm_b, k=10).collect()
    by_doc = {}
    for r in out:
        assert r.doc_id not in by_doc, f"doc {r.doc_id} fused twice"
        by_doc[r.doc_id] = r
    # doc 10 fuses under its BEST arm_a rank (1), not rank 3
    assert by_doc[10].rank_a == 1 and by_doc[10].rank_b == 2
    assert by_doc[10].rrf_score == round(1.0 / 61 + 1.0 / 62, 6)
    # ranks stay a contiguous 1..n permutation
    assert sorted(r.rank for r in out) == [1, 2, 3]


def test_rrf_fuse_exact_cross_arm_tie_breaks_on_doc_id(spark):
    """Two documents can earn the SAME rrf_score from different arms
    (rank r in A only vs rank r in B only). The fused order must
    break the exact tie on doc_id ascending — deterministically, on
    any engine."""
    arm_a = spark.createDataFrame(
        [(1, 20, 1), (1, 5, 2)], "query_id long, doc_id long, rank int"
    )
    arm_b = spark.createDataFrame(
        [(1, 7, 1), (1, 30, 2)], "query_id long, doc_id long, rank int"
    )
    out = sorted(RET.rrf_fuse(arm_a, arm_b, k=10).collect(), key=lambda r: r.rank)
    # scores tie pairwise: {20, 7} at 1/61 and {5, 30} at 1/62
    assert [r.doc_id for r in out] == [7, 20, 5, 30]
    assert out[0].rrf_score == out[1].rrf_score
    assert out[2].rrf_score == out[3].rrf_score


def test_seq_sum_duplicate_keys_fold_deterministically(spark):
    """_seq_sum sorts the WHOLE struct — (key, then v) — so repeated
    keys still fold in one fixed order. The three values below are
    chosen so float addition order is observable ((a+b)+c differs
    from (c+b)+a in the last ulp); two independent evaluations and a
    reversed-input evaluation must produce the bit-identical sum."""
    vals = [0.1, 0.2, 0.30000000000000004]
    rows = [("k", v) for v in vals]

    def fold(pairs):
        df = spark.createDataFrame(pairs, "key string, v double")
        arr = df.agg(
            F.collect_list(F.struct("key", "v")).alias("c")
        ).select(RET._seq_sum(F.col("c")).alias("s"))
        return arr.collect()[0].s

    expect = (vals[0] + vals[1]) + vals[2]  # sorted-by-(key, v) order
    assert fold(rows) == expect
    assert fold(list(reversed(rows))) == expect


def test_bm25_window_sum_bit_identical_to_fold(spark):
    """r13 optimization guard: _bm25_score's window aggregate over
    term-sorted rows (sum accumulates in the window's sort order)
    must equal the old collect_list + sort_array + sequential-fold
    score BIT-FOR-BIT, unrounded, on the real fixture corpus — the
    same addition order, starting from +0.0. A Spark upgrade that
    changes window-frame accumulation order fails this loudly
    (the oracle compare would also flake, but this names the cause)."""
    from pyspark.sql import Window

    from workhop2_etl_spark.suite.pipeline2 import _toks
    from workhop2_etl_spark.suite.retrieval import _query_terms

    docs = load_table(spark, SF_DIR, "documents")
    corpus_tokens = docs.select("doc_id", _toks().alias("toks"))
    qt = _query_terms(docs, 7)  # dense query sample: many (q, d) pairs

    tf = RET._tf_relation(corpus_tokens, "doc_id", "toks")
    stats = RET._stats_from_counts(RET._stats_partial(corpus_tokens, "toks"))
    df_all = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qtd = qt.select("query_id", "term").distinct()
    df_q = df_all.join(F.broadcast(qtd.select("term").distinct()), "term")
    scored = (
        tf.join(F.broadcast(qtd), "term")
        .join(F.broadcast(df_q), "term")
        .crossJoin(F.broadcast(stats))
        .filter(F.col("doc_id") != F.col("query_id"))
    )
    k1, b = RET.BM25_K1, RET.BM25_B
    idf = F.log(
        F.lit(1.0)
        + ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    v = idf * tf_part
    old = (
        scored.select(
            "query_id", "doc_id",
            F.struct(F.col("term").alias("key"), v.alias("v")).alias("__c"),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            RET._seq_sum(F.collect_list("__c")).alias("s_old"),
            F.count(F.lit(1)).alias("n_old"),
        )
    )
    wseq = Window.partitionBy("query_id", "doc_id").orderBy("term")
    wall = wseq.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    new = (
        scored.select("query_id", "doc_id", "term", v.alias("__v"))
        .repartition("query_id")
        .select(
            "query_id", "doc_id",
            F.row_number().over(wseq).alias("__rn"),
            F.sum("__v").over(wall).alias("s_new"),
            F.count(F.lit(1)).over(wall).alias("n_new"),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    j = old.join(new, ["query_id", "doc_id"], "full_outer")
    bad = j.filter(
        F.col("s_old").isNull()
        | F.col("s_new").isNull()
        | (F.col("s_old") != F.col("s_new"))  # EXACT double compare
        | (F.col("n_old") != F.col("n_new"))
    )
    assert j.count() > 0
    assert bad.count() == 0, bad.limit(5).collect()


def test_truncated_refine_zero_prefix_does_not_poison_ranking(spark):
    """A vector whose first prefix_dim dims are all zero but whose
    full vector is not (legal on non-MRL embeddings): the prefix
    cosine's zero-norm guard maps it to 0.0 — NOT NULL/NaN — so a
    zero-prefix QUERY still returns k rows (candidates tie at 0.0,
    id-tiebroken, then rescore exactly at full dimension) and a
    zero-prefix CORPUS row neither crashes the scan nor surfaces
    NULL scores. Verified outcome of the r11 adversarial pass."""
    rows = [
        # corpus: doc 1 has a ZERO 2-dim prefix but big tail overlap
        (1, [0.0, 0.0, 1.0, 1.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, [0.9, 0.1, 0.5, 0.5]),
        # query 100: zero prefix, nonzero tail
        (100, [0.0, 0.0, 1.0, 1.0]),
        # query 101: healthy
        (101, [1.0, 0.0, 0.1, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = df.filter(F.col("vec_id") < 100)
    queries = df.filter(F.col("vec_id") >= 100)
    out = SIM.topk_cosine_truncated_refine(
        corpus, queries, prefix_dim=2, k=3, n_candidates=3
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
        assert r.score is not None and not math.isnan(r.score)
    # the zero-prefix query still returns all 3 corpus rows, ranked
    # by EXACT full-dimension cosine (doc 1 is its true best match)
    got_100 = sorted(by_q[100], key=lambda r: r.rank)
    assert len(got_100) == 3
    assert got_100[0].neighbor_id == 1
    assert len(by_q[101]) == 3


# ---------------------------------------------------------------------------
# round-11: max_df impact-ordered probe pruning (the WAND-flavored
# bounded serving path; default probes stay unpruned + oracle-exact).
# ---------------------------------------------------------------------------


def _lex_fixture(spark, tmp_path):
    """Persisted BIGRAM index over the documents fixture + one mixed
    query per sampled doc (first 8 bigrams: mixes rare and
    head-frequency shingles — the unigram fixture vocabulary is 31
    words, ALL head-frequency, so unigrams cannot exercise pruning)."""
    from workhop2_etl_spark.operators import retrieval as RETOP
    from workhop2_etl_spark.suite.retrieval import _bigrams

    docs = load_table(spark, SF_DIR, "documents")
    words = F.split(
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
    )
    corpus = docs.select("doc_id", _bigrams(words).alias("toks"))
    qt = (
        corpus.filter((F.col("doc_id") % 89 == 0) & (F.size("toks") > 0))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice("toks", 1, 8)).alias("term"),
        )
        .distinct()
    )
    path = str(tmp_path / "lexprune")
    RETOP.save_lexical_index(
        corpus, path, tokenizer="bigram-ws-lower",
        mode="overwrite", num_partitions=4,
    )
    return RETOP.load_lexical_index(spark, path), qt


def test_pruned_probe_exact_flag_is_honest(spark, tmp_path):
    """The WAND certificate on a corpus built to exercise BOTH
    outcomes: a true stopword ('common', df = 150/200 → tiny idf,
    tiny head bound HB) plus genuinely rare terms. A query whose
    k-th candidate clears HB must flag exact=true AND equal the
    unpruned top-k row-for-row; a query with fewer than k candidates
    must flag exact=false and return only its candidates — never a
    silent wrong-but-confident answer either way."""
    from workhop2_etl_spark.operators import retrieval as RETOP

    rows = []
    for d in range(200):
        toks = ["common"] if d < 150 else ["filler"]
        if d % 67 == 1:          # 3 docs: rare_a (+ stopword context)
            toks = ["rare_a", "common", "pad"]
        if d % 71 == 2:          # ~3 docs: rare_b
            toks = ["rare_b", "common"]
        if d == 190:             # exactly ONE doc: rare_solo
            toks = ["rare_solo", "common"]
        rows.append((d, toks))
    corpus = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    path = str(tmp_path / "synth")
    RETOP.save_lexical_index(corpus, path, mode="overwrite", num_partitions=2)
    tf, df, stats, meta = RETOP.load_lexical_index(spark, path)

    qt = spark.createDataFrame(
        [(1000, "rare_a"), (1000, "rare_b"), (1000, "common"),
         (2000, "rare_solo"), (2000, "common")],
        "query_id long, term string",
    )
    k = 3
    max_df = 10  # rare_a/rare_b/rare_solo ≤ 3 docs; 'common' df=~156
    unpruned = RETOP.probe_lexical_index(
        tf, df, stats, meta, qt, k=k
    ).collect()
    pruned = RETOP.probe_lexical_index(
        tf, df, stats, meta, qt, k=k, max_df=max_df
    ).collect()

    p1 = sorted([r for r in pruned if r.query_id == 1000], key=lambda r: r.rank)
    u1 = sorted([r for r in unpruned if r.query_id == 1000], key=lambda r: r.rank)
    # query 1000: ≥6 candidates each scoring a rare idf (~4) while
    # HB = idf('common')·(k1+1) ≈ 0.64 — certificate fires, and the
    # pruned rows equal the unpruned top-k exactly
    assert all(r.exact for r in p1), [r.exact for r in p1]
    assert [(r.rank, r.doc_id, r.score, r.n_hit) for r in p1] == [
        (r.rank, r.doc_id, r.score, r.n_hit) for r in u1
    ]

    # query 2000: ONE candidate < k → certificate must refuse
    p2 = [r for r in pruned if r.query_id == 2000]
    assert len(p2) == 1 and p2[0].doc_id == 190
    assert not p2[0].exact
    # ...and indeed the unpruned ranking has common-only docs at the
    # tail that pruning cut — the false flag is truthful
    u2 = [r for r in unpruned if r.query_id == 2000]
    assert len(u2) == k


def test_pruned_probe_recall_on_bigram_fixture(spark, tmp_path):
    """Measured recall gate on the documents fixture (bigram index).
    The fixture's text is UNIFORM-random over a tiny vocabulary, so
    bigram df is narrow-band (25..47 over 500 docs) — no Zipf head
    at all, the maximally hostile shape for df-threshold pruning (on
    a real corpus the head is stopwords with near-zero idf, which is
    why pruning them barely moves top-k). Measured on this fixture:
    recall 0.63 at max_df=⌊n/20⌋, 0.93 at ⌊n/15⌋, 1.0 at ⌊n/12⌋ —
    gate at the ⌊n/15⌋ operating point ≥ 0.85 for regression signal.
    Scores of surviving pairs must be EXACT (full BM25 over all the
    query's terms, not just the rare ones)."""
    (tf, df, stats, meta), qt = _lex_fixture(spark, tmp_path)
    n_docs = stats.collect()[0].n_docs
    max_df = max(1, n_docs // 15)
    want = RET.probe_lexical_index(tf, df, stats, meta, qt, k=5).collect()
    got = RET.probe_lexical_index(
        tf, df, stats, meta, qt, k=5, max_df=max_df
    ).collect()
    assert got, "pruned probe returned nothing"
    want_pairs = {(r.query_id, r.doc_id) for r in want}
    got_pairs = {(r.query_id, r.doc_id) for r in got}
    recall = len(got_pairs & want_pairs) / len(want_pairs)
    assert recall >= 0.85, f"pruned top-5 recall {recall:.3f} < 0.85"
    # scores of surviving pairs are EXACT (full BM25 over all terms)
    want_scores = {(r.query_id, r.doc_id): r.score for r in want}
    for r in got:
        if (r.query_id, r.doc_id) in want_scores:
            assert r.score == want_scores[(r.query_id, r.doc_id)]


def test_pruned_probe_certifies_rare_only_queries(spark, tmp_path):
    """A query with NO head terms is exact by construction (HB absent
    → candidates cover every matching doc): the flag must say so and
    the rows must equal the unpruned ranking bit-for-bit."""
    (tf, df, stats, meta), _ = _lex_fixture(spark, tmp_path)
    n_docs = stats.collect()[0].n_docs
    max_df = max(1, n_docs // 20)
    # build a rare-only query from the df relation itself
    rare_terms = [
        r.term
        for r in df.filter(F.col("df").between(2, max_df))
        .orderBy("term").limit(4).collect()
    ]
    assert rare_terms, "fixture has no rare terms?"
    qt = spark.createDataFrame(
        [(999999, t) for t in rare_terms], "query_id long, term string"
    )
    unpruned = sorted(map(tuple, RET.probe_lexical_index(
        tf, df, stats, meta, qt, k=5).collect()))
    pruned = RET.probe_lexical_index(
        tf, df, stats, meta, qt, k=5, max_df=max_df
    ).collect()
    assert all(r.exact for r in pruned)
    assert sorted((r.query_id, r.rank, r.doc_id, r.score, r.n_hit)
                  for r in pruned) == unpruned

    # and a stopword-only query (every term head) returns NO rows —
    # the documented contract, not a crash
    head_terms = [
        r.term for r in df.filter(F.col("df") > max_df)
        .orderBy(F.desc("df")).limit(2).collect()
    ]
    if head_terms:
        qt_head = spark.createDataFrame(
            [(888888, t) for t in head_terms], "query_id long, term string"
        )
        assert RET.probe_lexical_index(
            tf, df, stats, meta, qt_head, k=5, max_df=max_df
        ).count() == 0


# ---------------------------------------------------------------------------
# round-11 late additions: PRF expansion + weighted score fusion.
# ---------------------------------------------------------------------------


def test_prf_expand_contract(spark):
    """Expansion adds exactly m strongest UNSEEN terms per query (by
    summed tf over the top-n feedback docs, term tiebreak), never
    re-adds an original term, and a query whose feedback docs offer
    no new terms comes back unchanged."""
    rows = [
        (1, ["apple", "banana", "cherry"]),
        (2, ["apple", "banana", "date"]),
        (3, ["apple", "fig"]),
        (4, ["kiwi"]),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    qt = spark.createDataFrame(
        [(100, "apple")], "query_id long, term string"
    )
    out = RET.bm25_prf_expand(corpus, qt, n_feedback=2, m_expand=2)
    got = {(r.query_id, r.term) for r in out.collect()}
    assert (100, "apple") in got
    # expansion terms come from apple's top docs, exclude 'apple'
    new_terms = {t for (_, t) in got} - {"apple"}
    assert len(new_terms) == 2
    assert "apple" not in new_terms

    # all-corpus query: nothing new to add for a 1-term corpus
    corpus1 = spark.createDataFrame(
        [(1, ["solo"]), (2, ["solo"])], "doc_id long, toks array<string>"
    )
    qt1 = spark.createDataFrame([(9, "solo")], "query_id long, term string")
    out1 = {(r.query_id, r.term) for r in
            RET.bm25_prf_expand(corpus1, qt1, n_feedback=2, m_expand=2).collect()}
    assert out1 == {(9, "solo")}


def test_weighted_fuse_contract(spark):
    """Min-max normalization per query per arm; absence contributes
    0; constant-score arms normalize to 1.0; duplicate docs within an
    arm collapse to their best score; exact fused ties break on
    doc_id."""
    arm_a = spark.createDataFrame(
        [(1, 10, 4.0), (1, 11, 2.0), (1, 12, 0.0), (1, 10, 1.0)],
        "query_id long, doc_id long, score double",
    )
    arm_b = spark.createDataFrame(
        [(1, 11, 7.0), (1, 13, 7.0)],
        "query_id long, doc_id long, score double",
    )
    rows = {r.doc_id: r for r in
            RET.weighted_fuse(arm_a, arm_b, k=10, alpha=0.5).collect()}
    # doc 10: best score 4.0 (duplicate 1.0 collapsed) → norm_a = 1.0
    assert rows[10].norm_a == 1.0 and rows[10].norm_b is None
    assert rows[10].fused_score == 0.5
    # doc 11: norm_a = (2-0)/(4-0) = 0.5; arm_b constant → norm_b 1.0
    assert rows[11].norm_a == 0.5 and rows[11].norm_b == 1.0
    assert rows[11].fused_score == 0.75
    # doc 12: arm_a min → norm 0; absent in b → fused 0
    assert rows[12].fused_score == 0.0
    # doc 13: only in constant arm_b → 0.5·0 + 0.5·1 = 0.5, ties doc
    # 10 (0.5) — doc_id ascending breaks the tie
    assert rows[13].fused_score == 0.5
    order = sorted(rows.values(), key=lambda r: r.rank)
    assert [r.doc_id for r in order] == [11, 10, 13, 12]


def test_weighted_fuse_nonfinite_scores_never_rank(spark):
    """The r10 NaN-ranks-first class applied to score fusion: Spark
    orders NaN above every double, so an unguarded NaN score would
    win its arm's max, make the min-max denominator NaN, and put the
    poisoned doc at fused rank 1. weighted_fuse must drop non-finite
    scores like the rankers do — the clean docs fuse exactly as if
    the dirty rows were never there."""
    arm_a = spark.createDataFrame(
        [(1, 10, 4.0), (1, 11, 2.0), (1, 66, float("nan")),
         (1, 67, float("inf")), (1, 68, None)],
        "query_id long, doc_id long, score double",
    )
    arm_b = spark.createDataFrame(
        [(1, 10, 1.0)], "query_id long, doc_id long, score double"
    )
    rows = {r.doc_id: r for r in
            RET.weighted_fuse(arm_a, arm_b, k=10, alpha=0.5).collect()}
    assert set(rows) == {10, 11}
    assert rows[10].norm_a == 1.0  # max over CLEAN scores, not inf/NaN
    assert rows[11].norm_a == 0.0
    for r in rows.values():
        assert r.fused_score is not None and not math.isnan(r.fused_score)


def test_new_operator_param_validation(spark):
    """Degenerate parameters fail loudly, not silently."""
    qt = spark.createDataFrame([(1, "a")], "query_id long, term string")
    corpus = spark.createDataFrame(
        [(1, ["a"])], "doc_id long, toks array<string>"
    )
    with pytest.raises(ValueError, match="n_feedback"):
        RET.bm25_prf_expand(corpus, qt, n_feedback=0)
    with pytest.raises(ValueError, match="m_expand|n_feedback"):
        RET.bm25_prf_expand(corpus, qt, m_expand=0)
    arm = spark.createDataFrame(
        [(1, 1, 1.0)], "query_id long, doc_id long, score double"
    )
    with pytest.raises(ValueError, match="alpha"):
        RET.weighted_fuse(arm, arm, alpha=1.5)
    with pytest.raises(ValueError, match="alpha"):
        RET.weighted_fuse(arm, arm, alpha=-0.1)


def test_pruned_probe_rejects_k1_zero_and_hb_is_deterministic(spark, tmp_path):
    """The r11 advice fix (HB accumulation + k1=0 degeneracy): at
    k1=0 the per-term head bound idf·(k1+1) is attainable, not
    strict, so the pruned path refuses k1<=0 up front (the exhaustive
    path still serves k1=0 exactly); and HB now folds in term-sorted
    order with an FP slack sized by the head-term count, so the
    `exact` flag cannot flip with partitioning — asserted by running
    the same pruned probe under different shuffle-partition settings."""
    from workhop2_etl_spark.operators import retrieval as RETOP

    (tf, df, stats, meta), qt = _lex_fixture(spark, tmp_path)
    with pytest.raises(ValueError, match="k1 > 0"):
        RETOP.probe_lexical_index(
            tf, df, stats, meta, qt, k=5, max_df=10, k1=0.0
        ).collect()
    # k1=0 on the exhaustive path stays served (and is exact)
    assert RETOP.probe_lexical_index(
        tf, df, stats, meta, qt, k=5, k1=0.0
    ).count() > 0

    n_docs = stats.collect()[0].n_docs
    max_df = max(1, n_docs // 12)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        a = sorted(map(tuple, RETOP.probe_lexical_index(
            tf, df, stats, meta, qt, k=5, max_df=max_df
        ).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "29")
        b = sorted(map(tuple, RETOP.probe_lexical_index(
            tf, df, stats, meta, qt, k=5, max_df=max_df
        ).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b  # rows AND exact flags identical across plans


def test_prf_persisted_equals_in_session_two_pass(spark, tmp_path):
    """probe_lexical_index_prf (pass 1 → harvest → pass 2, all
    against the persisted artifact) must be row-identical to the
    in-session loop (bm25_prf_expand + bm25_topk over the original
    corpus) — the artifact round trip changes the plan, never a
    value. Also holds under max_df pruning (pass 2 then carries the
    certificate column)."""
    from workhop2_etl_spark.operators import retrieval as RETOP

    docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 400)
    corpus = docs.select(
        "doc_id",
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
        ).alias("toks"),
    )
    qt = (
        corpus.filter((F.col("doc_id") % 37 == 0) & (F.size("toks") > 0))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.slice("toks", 1, 8)).alias("term"),
        )
        .distinct()
    )
    expanded = RETOP.bm25_prf_expand(corpus, qt, n_feedback=3, m_expand=2)
    want = sorted(map(tuple, RETOP.bm25_topk(corpus, expanded, k=8).collect()))

    path = str(tmp_path / "prf_idx")
    RETOP.save_lexical_index(corpus, path, mode="overwrite", num_partitions=2)
    tf, df, stats, meta = RETOP.load_lexical_index(spark, path)
    got = sorted(map(tuple, RETOP.probe_lexical_index_prf(
        tf, df, stats, meta, qt, k=8, n_feedback=3, m_expand=2
    ).collect()))
    assert got == want and got

    # pruned serving posture: the fixture's unigram vocabulary is ALL
    # head-frequency (31 words, df near n_docs), so a low max_df
    # correctly returns nothing — set max_df ≥ n_docs instead: every
    # term is rare, candidates cover the corpus, the certificate
    # fires (no head terms → HB absent) and the rows equal the
    # unpruned result exactly, with the extra flag column
    pruned = RETOP.probe_lexical_index_prf(
        tf, df, stats, meta, qt, k=8, n_feedback=3, m_expand=2,
        max_df=10**6,
    )
    assert "exact" in pruned.columns
    prows = pruned.collect()
    assert sorted((r.query_id, r.rank, r.doc_id, r.score, r.n_hit)
                  for r in prows) == want
    assert all(r.exact for r in prows)


def test_pruned_probe_max_df_boundary_term_is_rare(spark, tmp_path):
    """r12 adversarial pass: a term whose df is EXACTLY max_df sits
    on the rare side of the split (df <= max_df), so it generates
    candidates and is excluded from HB; a term at max_df + 1 is head.
    Pinned with a corpus engineered to land one term on each side of
    the boundary."""
    from workhop2_etl_spark.operators import retrieval as RETOP

    rows = []
    for d in range(100):
        toks = ["filler"]
        if d < 10:
            toks = toks + ["edge"]      # df(edge) = 10 == max_df
        if d < 11:
            toks = toks + ["over"]      # df(over) = 11 == max_df + 1
        rows.append((d, toks))
    corpus = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    path = str(tmp_path / "boundary")
    RETOP.save_lexical_index(corpus, path, mode="overwrite", num_partitions=1)
    tf, df, stats, meta = RETOP.load_lexical_index(spark, path)

    # query of ONLY the boundary term: rare → candidates exist and
    # (no head terms for q1) the certificate fires
    qt = spark.createDataFrame(
        [(1, "edge"), (2, "over")], "query_id long, term string"
    )
    got = RETOP.probe_lexical_index(
        tf, df, stats, meta, qt, k=5, max_df=10, exclude_self=False
    ).collect()
    q1 = [r for r in got if r.query_id == 1]
    q2 = [r for r in got if r.query_id == 2]
    assert len(q1) == 5 and all(r.exact for r in q1)  # df==max_df → rare
    assert q2 == []  # df==max_df+1 → head-only query: no candidates


def test_prf_harvest_is_deterministic_under_ties(spark):
    """r12 adversarial pass: when feedback docs TIE on BM25 score at
    the n_feedback boundary, and harvested terms tie on summed tf,
    both choices must break deterministically (doc_id asc, term asc)
    — the oracle replays the same ORDER BY, so any nondeterminism
    here would flake the t15/t16 hash compares. Pinned by building a
    fully symmetric corpus and asserting the expansion twice."""
    from workhop2_etl_spark.operators import retrieval as RETOP

    # docs 10..15 identical ⇒ identical scores for the query; the
    # harvest weights tie across their (identical) vocabularies
    rows = [(d, ["alpha", "beta", "gamma", "delta"]) for d in range(10, 16)]
    rows.append((1, ["alpha", "probe"]))  # the query doc
    corpus = spark.createDataFrame(rows, "doc_id long, toks array<string>")
    qt = spark.createDataFrame([(1, "alpha")], "query_id long, term string")

    outs = []
    for partitions in ("5", "17"):
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
        try:
            out = RETOP.bm25_prf_expand(
                corpus, qt, n_feedback=3, m_expand=2
            ).collect()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
        outs.append(sorted(map(tuple, out)))
    assert outs[0] == outs[1]
    # ties broken lexically: beta/delta are the first two unseen
    # terms by (weight desc — all equal — then term asc)
    expansion = {t for (_, t) in outs[0]} - {"alpha"}
    assert expansion == {"beta", "delta"}


def test_weighted_fuse_both_arms_constant(spark):
    """r12 adversarial pass: when BOTH arms are constant-score for a
    query, every present doc normalizes to 1.0 in its arm, so fused =
    α·1 + β·1 = 1.0 for overlap docs, α for a-only, β for b-only —
    overlap outranks either single arm and ties break on doc_id."""
    from workhop2_etl_spark.operators import retrieval as RETOP

    a = spark.createDataFrame(
        [(1, 101, 0.5), (1, 102, 0.5), (1, 103, 0.5)],
        "query_id long, doc_id long, score double",
    )
    b = spark.createDataFrame(
        [(1, 102, 9.0), (1, 103, 9.0), (1, 104, 9.0)],
        "query_id long, doc_id long, score double",
    )
    got = RETOP.weighted_fuse(a, b, k=10, alpha=0.7).collect()
    by_doc = {r.doc_id: r for r in got}
    assert by_doc[102].fused_score == 1.0 and by_doc[103].fused_score == 1.0
    assert by_doc[101].fused_score == 0.7  # a-only
    assert by_doc[104].fused_score == 0.3  # b-only (1 - alpha)
    ranks = [r.doc_id for r in sorted(got, key=lambda r: r.rank)]
    assert ranks == [102, 103, 101, 104]  # overlap first, then doc_id


def test_prf_expand_materializes_locally(spark):
    """r12 optimization pin: bm25_prf_expand returns the expanded
    (query_id, term) relation as a DRIVER-MATERIALIZED local relation
    — pass 1 and the harvest run exactly once inside the call, and
    the result's plan holds NO source scans (lazy nesting used to
    re-execute pass 1 once per broadcast build in pass 2's plan).
    Values are pinned by the equivalence tests above and the t15
    oracle; this pins the execution shape."""
    docs = load_table(spark, SF_DIR, "documents").limit(200)
    corpus = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("toks")
    )
    qt = corpus.select(
        F.col("doc_id").alias("query_id"),
        F.explode(F.slice("toks", 1, 3)).alias("term"),
    ).filter(F.col("query_id") % 7 == 0).distinct()
    out = RET.bm25_prf_expand(corpus, qt, n_feedback=2, m_expand=2)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert (
        plan.startswith("LocalRelation")
        and "LogicalRDD" not in plan
        and "parquet" not in plan
        and "Join" not in plan
    ), (
        f"expected a driver-materialized relation, got:\n{plan}"
    )
    assert out.columns == ["query_id", "term"]


def test_probe_vocabulary_crosses_py4j_once(spark, tmp_path, monkeypatch):
    """The probe's term IN-list is built inside the JVM from one Arrow
    vocabulary relation: building a probe over 1,000 query terms makes
    no more py4j literal conversions than building it over 10, the
    IN-list still reaches the posting scan, and the rows equal the
    in-session ranking."""
    import pyspark.sql.classic.column as CC

    from workhop2_etl_spark.operators import retrieval as RETOP

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    corpus = docs.select(
        "doc_id",
        F.when(F.trim("text") == "", F.array().cast("array<string>"))
        .otherwise(F.split(F.trim("text"), " "))
        .alias("toks"),
    )
    path = str(tmp_path / "lex")
    RETOP.save_lexical_index(corpus, path, mode="overwrite")
    tf, df, stats, meta = RETOP.load_lexical_index(spark, path)

    calls = {"n": 0}

    def counting(wrapped):
        def f(*a, **kw):
            calls["n"] += 1
            return wrapped(*a, **kw)
        return f

    monkeypatch.setattr(CC, "_create_column_from_literal", counting(CC._create_column_from_literal))
    monkeypatch.setattr(F, "lit", counting(F.lit))

    def build(n_terms: int):
        real = ["apple", "banana", "date", "elephant"]
        terms = real + [f"zz{i:04d}" for i in range(n_terms - len(real))]
        qt = spark.createDataFrame(
            [(i % 4, t) for i, t in enumerate(terms)], "query_id long, term string"
        )
        calls["n"] = 0
        probe = RETOP.probe_lexical_index(tf, df, stats, meta, qt, k=10)
        return probe, calls["n"], qt

    _, n_small, _ = build(10)
    large, n_large, qt = build(1000)
    assert n_large == n_small, (n_small, n_large)
    plan = large._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PushedFilters: \[[^\]]*In\(term", plan), plan
    got = large.collect()
    want = RETOP.bm25_topk(corpus, qt, k=10).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)) and got


@pytest.mark.parametrize(
    "entry",
    [
        "bm25_topk",
        "bm25_prf_expand",
        "probe_lexical_index",
        "probe_lexical_index_prf",
        "topk_cosine_bruteforce_blas",
    ],
)
def test_query_side_past_its_cap_raises(spark, tmp_path, monkeypatch, entry):
    """One bounded-collect rule for every query side: a query relation
    past its entry point's cap raises a ValueError that names the
    entry point and the cap, instead of running a lazy plan. The
    in-session 2^20-row cap is patched down rather than built."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    corpus = docs.select(
        "doc_id",
        F.when(F.trim("text") == "", F.array().cast("array<string>"))
        .otherwise(F.split(F.trim("text"), " "))
        .alias("toks"),
    )
    # one term, many queries: within max_terms=1, past every cap below
    over = spark.range(100).select(
        F.col("id").alias("query_id"), F.lit("apple").alias("term")
    )
    if entry in ("bm25_topk", "bm25_prf_expand"):
        monkeypatch.setattr(RET, "_QUERY_CAP", 64)
        cap, call = 64, lambda: getattr(RET, entry)(corpus, over)
    elif entry == "topk_cosine_bruteforce_blas":
        emb = spark.range(20).select(
            F.col("id").alias("vec_id"),
            F.array(F.lit(1.0), F.col("id").cast("double")).alias("embedding"),
        )
        cap = 10
        call = lambda: SIM.topk_cosine_bruteforce_blas(emb, emb, k=3, max_queries=cap)
    else:
        path = str(tmp_path / "lex")
        RET.save_lexical_index(corpus, path, mode="overwrite")
        tf, df, stats, meta = RET.load_lexical_index(spark, path)
        if entry == "probe_lexical_index":
            cap = 64  # 64 * max_terms (query_id, term) pairs
            call = lambda: RET.probe_lexical_index(tf, df, stats, meta, over, max_terms=1)
        else:
            # 40 pairs pass the first pass's 64 * max_terms cap; the
            # expanded relation (those 40 plus the harvest) is capped at
            # 16 * max_terms
            cap = 16
            call = lambda: RET.probe_lexical_index_prf(
                tf, df, stats, meta, over.limit(40), max_terms=1
            )
    with pytest.raises(ValueError, match=rf"^{entry} .* has more than {cap} rows"):
        call()
