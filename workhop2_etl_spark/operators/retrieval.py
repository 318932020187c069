"""Retrieval operators — BM25 lexical scoring and reciprocal-rank
fusion for hybrid (lexical + vector) search over a document corpus.

North-star extension beyond the reference's surface: a training-data
curation pipeline needs lexical retrieval (contamination probes,
quality-by-example search, eval-set leakage audits) next to the
v-family's vector ANN, and hybrid fusion is how production search
combines the two (Cormack et al., SIGIR 2009 — reciprocal rank
fusion; Robertson & Zaragoza 2009 — the BM25 probabilistic model).

Scale shape (the part that matters at 100 TB):

* The query side is a SMALL relation by contract (a bounded set of
  probe queries), so every join that touches the corpus-sized side
  broadcasts the query side — the corpus's term-frequency relation is
  shuffled exactly once (the ``(doc_id, term)`` aggregation) and
  never again.
* Corpus-level statistics (N, avgdl) are one partial-aggregated scan
  reduced to a single row and broadcast; document frequencies are
  computed corpus-wide but immediately semi-joined down to the query
  vocabulary (a broadcast), so the big ``df`` relation never shuffles
  against ``tf``.
* Every floating-point score folds in a DETERMINISTIC order: one
  window aggregate over term-sorted rows adds the per-term
  contributions sequentially in ascending-term order (``_bm25_score``,
  the one scoring shape of every ranking), so scores are
  bit-reproducible against a SQL oracle rather than merely close — the
  same discipline as the v-family cosine folds in
  operators/similarity.py.
* Each entry point collects its distinct (query_id, term) rows once,
  through ``session.collect_bounded``; a query relation past its cap
  raises instead of running lazily.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from workhop2_etl_spark.operators.dedupe import top_k
from workhop2_etl_spark.session import collect_bounded, local_relation

BM25_K1 = 1.2
BM25_B = 0.75
RRF_K = 60
#: Row cap of an in-session query relation (``bm25_topk``,
#: ``bm25_prf_expand``); the artifact probes cap by ``max_terms``.
_QUERY_CAP = 1 << 20


def _seq_sum(contribs_by_key: Column) -> Column:
    """Sequential double fold over an array of (key, value) structs
    sorted by key — the deterministic alternative to SUM(), whose
    hash-aggregate addition order is engine- and partitioning-
    dependent. DuckDB twin: list_reduce(list(v ORDER BY key), +).

    Duplicate keys: ``sort_array`` orders by
    the WHOLE struct — (key, then v) — so the fold stays
    deterministic even when keys repeat. The BM25 pipeline never
    feeds duplicates (tf is unique per (doc_id, term) and the query
    relation is distinct-ed defensively in ``_bm25_rank``), but a
    direct caller with repeated keys must mirror that tiebreak on the
    oracle side: ``list(v ORDER BY key, v)``, because DuckDB's
    ``ORDER BY key`` alone leaves the order of equal keys unspecified
    (tests/test_retrieval.py pins the Spark-side determinism)."""
    return F.aggregate(
        F.transform(F.sort_array(contribs_by_key), lambda s: s["v"]),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def bm25_topk(
    corpus_tokens: DataFrame,
    query_terms: DataFrame,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    round_digits: int = 6,
    exclude_self: bool = True,
    id_col: str = "doc_id",
    tok_col: str = "toks",
) -> DataFrame:
    """Okapi BM25 top-k retrieval.

    ``corpus_tokens``: (id_col, tok_col: array<string>) — pre-
    tokenized documents; rows with empty token arrays are excluded
    from the index (they can't match and would skew avgdl).
    ``query_terms``: (query_id, term) — the DISTINCT query vocabulary
    per query, small by contract (broadcast throughout).

    Scoring: score(q, d) = Σ_{t ∈ q ∩ d} idf(t) · tf·(k1+1) /
    (tf + k1·(1 − b + b·dl/avgdl)), idf(t) = ln(1 + (N − df + ½)/(df
    + ½)) — the non-negative "plus one" idf variant (Robertson &
    Zaragoza 2009 §3.3), so rare-term matches never score below
    frequent-term ones.

    Returns (query_id, rank, doc_id, score, n_hit) with rank ≤ k per
    query, ordered by (rounded score desc, doc_id asc) — integer and
    id tiebreaks keep the ranking cross-engine deterministic.

    Evaluation note: constructing the returned frame runs ONE
    bounded eager action — the query relation (query-bounded by
    contract) materializes at the driver so its lineage executes once
    instead of once per broadcast build; more than 2^20 distinct
    (query_id, term) rows raise ``ValueError``.

    Plan shape: ONE corpus shuffle (the tf aggregation on (doc_id,
    term), dl carried through it as min(dl) so no re-join on doc_id);
    df semi-joined to the query vocabulary then broadcast; stats
    reduced to one row and broadcast; the scoring join is
    tf ⋈bc query_terms — map-side only. Final top-k is
    ``dedupe.top_k`` on query_id (a WindowGroupLimit per group).
    """
    tf = _tf_relation(corpus_tokens, id_col, tok_col)
    stats = _stats_from_counts(
        _stats_partial(corpus_tokens, tok_col)
    )
    df_all = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    queries, vocab = _collect_queries(query_terms, _QUERY_CAP, "bm25_topk query_terms")
    return _bm25_rank(
        tf, df_all, stats, queries, vocab,
        k=k, k1=k1, b=b, round_digits=round_digits,
        exclude_self=exclude_self,
    )


def _collect_queries(
    query_terms: DataFrame, cap: int, what: str
) -> tuple[DataFrame, list[str]]:
    """The distinct (query_id, term) rows of ``query_terms``, collected
    once through ``collect_bounded``, as a ``LocalRelation``, and their
    sorted vocabulary. Left lazy, the caller's query-side lineage
    (typically a corpus scan + tokenize + explode + distinct) would
    execute once per broadcast build of the scoring core. The distinct
    is defensive: a duplicate input row would double-count its term's
    contribution. A NULL term never joins, so it stays out of the
    vocabulary (``sorted`` would raise on None against str)."""
    qt = query_terms.select("query_id", "term").distinct()
    rows = collect_bounded(qt, cap, what)
    vocab = sorted({r.term for r in rows if r.term is not None})
    return local_relation(query_terms.sparkSession, rows, qt.schema), vocab


def _tf_relation(corpus_tokens: DataFrame, id_col: str, tok_col: str) -> DataFrame:
    """(doc_id, term, tf, dl) — the BM25 posting relation; empty-token
    docs are excluded from the index (they can't match and would skew
    avgdl). dl rides through the tf aggregation (min of a per-doc
    constant) so scoring never re-joins on doc_id."""
    return (
        corpus_tokens.filter(F.size(tok_col) > 0)
        .select(
            F.col(id_col).alias("doc_id"),
            F.size(tok_col).alias("__dl"),
            F.explode(tok_col).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.min("__dl").alias("dl"))
    )


def _stats_partial(corpus_tokens: DataFrame, tok_col: str) -> DataFrame:
    """One-row (n_docs, sum_dl) partial over indexed docs — exact
    integer sums, ADDITIVE across disjoint document sets (the property
    the persisted index's append path relies on)."""
    return corpus_tokens.filter(F.size(tok_col) > 0).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum(F.size(tok_col)), F.lit(0)).alias("sum_dl"),
    )


def _stats_from_counts(counts: DataFrame) -> DataFrame:
    """(n_docs, avgdl) from a (n_docs, sum_dl) relation. avgdl is the
    ONE division both engines (and the save/load round trip) perform
    on the same exact integers — never avg(), whose accumulation
    order could differ. An EMPTY corpus (n_docs = 0 — e.g. a freshly
    seeded artifact health-checked before its first ingest) yields
    NULL avgdl instead of an ANSI divide-by-zero error; scoring never
    reaches avgdl then (no tf rows exist)."""
    return counts.select(
        "n_docs",
        F.when(
            F.col("n_docs") > 0,
            F.col("sum_dl").cast("double") / F.col("n_docs"),
        ).alias("avgdl"),
    )


def _doc_stats(tf: DataFrame) -> DataFrame:
    """One-row (n_docs, sum_dl) recounted from tf rows: dl rides every
    tf row of its doc, so ``min(dl)`` per doc is exact."""
    return (
        tf.groupBy("doc_id")
        .agg(F.min("dl").alias("__dl"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("__dl"), F.lit(0)).alias("sum_dl"),
        )
    )


def _fold_df(partials: DataFrame) -> DataFrame:
    """Net df per term from signed per-batch df partials (appends
    positive, deletes negative); terms netting to ≤ 0 are dropped, as
    a rebuild would."""
    return (
        partials.groupBy("term")
        .agg(F.sum("df").alias("df"))
        .filter(F.col("df") > 0)
    )


def _fold_stats(partials: DataFrame) -> DataFrame:
    """One-row net (n_docs, sum_dl) from signed per-batch stats
    partials."""
    return partials.agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).alias("n_docs"),
        F.coalesce(F.sum("sum_dl"), F.lit(0)).alias("sum_dl"),
    )


def _bm25_rank(
    tf: DataFrame,
    df_all: DataFrame,
    stats: DataFrame,
    queries: DataFrame,
    vocab: list[str],
    k: int,
    k1: float,
    b: float,
    round_digits: int,
    exclude_self: bool,
) -> DataFrame:
    """The BM25 scoring + ranking core over prepared relations —
    shared verbatim by ``bm25_topk`` (in-session) and
    ``probe_lexical_index`` (loaded artifact), so a persisted index
    probes row-identically to an in-session ranking."""
    agg = _bm25_score(
        tf, df_all, stats, queries, vocab,
        k1=k1, b=b, round_digits=round_digits, exclude_self=exclude_self,
    )
    return top_k(
        agg, ["query_id"], [F.desc("score"), F.asc("doc_id")], k
    ).select("query_id", "rank", "doc_id", "score", "n_hit")


def _bm25_score(
    tf: DataFrame,
    df_all: DataFrame,
    stats: DataFrame,
    queries: DataFrame,
    vocab: list[str],
    k1: float,
    b: float,
    round_digits: int,
    exclude_self: bool,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """(query_id, doc_id, score, n_hit) — the un-ranked scoring half
    of ``_bm25_rank``, split out so the ``max_df``-pruned path
    can apply its per-query candidate restriction BEFORE the top-k
    window (reusing the ranked core would let the interim top-k cut
    candidates that belong in the final k). ``queries`` and ``vocab``
    are the driver-collected query relation and its sorted terms
    (``_collect_queries``). ``candidates`` (optional, the pruned
    path's (query_id, doc_id) relation — bounded by contract,
    broadcast) restricts scoring per (query, doc) BEFORE the
    contributions are summed, so the window's input is
    candidate-sized even when the posting slice is head-term-heavy.

    One shape scores every ranking, in-session and artifact probe
    alike: a window aggregate over term-sorted rows adds each (query,
    doc)'s per-term contributions sequentially in ascending-term
    order from +0.0 — the sum the oracle's ``list_reduce(list(v ORDER
    BY term), +)`` computes, bit for bit (pinned against a
    collect_list + ``_seq_sum`` fold on the full fixture corpus by
    test_bm25_window_sum_bit_identical_to_fold). It is whole-stage
    codegen'd, and its one query_id exchange also serves the ranking
    window. The fold it replaced, an ObjectHashAggregate behind a
    second exchange, measured slower on both input layouts in
    interleaved A/Bs (4 cores, sf0.1): 4.8s → 3.2s for the in-session
    ranking, and on term-sorted artifact probes 1.41s → 1.20s at 64
    queries, 4.25s → 3.12s at 286 and 8.57s → 6.14s at 572 (medians,
    PERF.md)."""
    spark = tf.sparkSession
    qvocab = local_relation(
        spark, [(t,) for t in vocab], queries.select("term").schema
    )
    df_q = df_all.join(F.broadcast(qvocab), "term")
    scored = (
        tf.join(F.broadcast(queries), "term")
        .join(F.broadcast(df_q), "term")
        .crossJoin(F.broadcast(stats))
    )
    if candidates is not None:
        scored = scored.join(
            F.broadcast(candidates), ["query_id", "doc_id"], "left_semi"
        )
    if exclude_self:
        scored = scored.filter(F.col("doc_id") != F.col("query_id"))
    # Constants are folded in PYTHON and injected as double literals
    # (k1+1 evaluated as a double literal-sum on one engine and a
    # decimal literal-sum on another differ in the last ulp); the
    # expression tree below is mirrored term-for-term by
    # bm25_contrib_sql so scores are bit-identical, not just close.
    k1 = float(k1)
    b = float(b)
    k1p1 = k1 + 1.0
    one_minus_b = 1.0 - b
    idf = F.log(
        F.lit(1.0)
        + ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * F.lit(k1p1)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(one_minus_b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    contrib = scored.select(
        "query_id",
        "doc_id",
        "term",
        (idf * tf_part).alias("__v"),
    )
    # A window frame's processor accumulates rows in the window's sort
    # order, so the sum adds the contributions in ascending-term order.
    # The repartition on query_id alone (a prefix of the window keys
    # still co-locates each (query, doc) group) serves both this window
    # and the downstream ranking window.
    wseq = Window.partitionBy("query_id", "doc_id").orderBy("term")
    wall = wseq.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        contrib.repartition("query_id")
        .select(
            "query_id",
            "doc_id",
            F.row_number().over(wseq).alias("__rn"),
            F.sum("__v").over(wall).alias("__score"),
            F.count(F.lit(1)).over(wall).alias("__n"),
        )
        .filter(F.col("__rn") == 1)
        .select(
            "query_id",
            "doc_id",
            F.round("__score", round_digits).alias("score"),
            F.col("__n").alias("n_hit"),
        )
    )


# ---------------------------------------------------------------------------
# Persisted lexical (BM25) index — the lexical twin of the ANN index
# lifecycle in operators/index_store.py. At 100 TB the expensive half
# of lexical retrieval is the INDEX BUILD (the corpus-wide (doc,
# term) tf aggregation); the production posture (Lucene segments) is
# an on-disk artifact probed across sessions. BM25's corpus state is
# exactly additive over DISJOINT document sets — df, n_docs and Σdl
# are sums — so appends write per-epoch PARTIALS and the loader
# re-aggregates: build ∪ append ≡ single-shot, bit-exactly (the same
# integers reach the same divisions).
# ---------------------------------------------------------------------------

_LEXICAL_KIND = "bm25-lexical"


def save_lexical_index(
    corpus_tokens: DataFrame,
    path: str,
    id_col: str = "doc_id",
    tok_col: str = "toks",
    tokenizer: str = "ws-lower",
    mode: str = "error",
    num_partitions: int | None = None,
) -> dict:
    """Build the BM25 posting relation and persist the index at
    ``path``: ``tf`` (doc_id, term, tf, dl — clustered on term, see
    ``index_store._write_dirs``), ``df`` (per-epoch (term, df)
    partials), ``stats`` (per-epoch (n_docs, sum_dl) partials), and
    the metadata record. ``tokenizer`` is a free-form contract string
    recorded so a probe pipeline can refuse an index tokenized under
    another convention (the guard is load-time, by label — the tokens
    themselves were the caller's input). ``mode`` is ``'overwrite'``
    or ``'error'``/``'errorifexists'``; any other mode raises before
    anything is written. Returns the metadata."""
    from workhop2_etl_spark.operators.index_store import (
        FORMAT_VERSION,
        _check_save_mode,
        _reset_lifecycle_state,
        _write_batch,
        _write_meta,
    )

    _check_save_mode(mode)
    _reset_lifecycle_state(corpus_tokens.sparkSession, path, mode)
    meta = {
        "kind": _LEXICAL_KIND,
        "version": FORMAT_VERSION,
        "id_col": id_col,
        # recorded so stream ingest reads the artifact's OWN token
        # column instead of inferring one from caller arguments
        # (streaming/index_stream.py)
        "tok_col": tok_col,
        "tokenizer": tokenizer,
        "epoch": 0,
    }
    _write_batch(corpus_tokens, path, meta, mode, tok_col,
                 num_partitions=num_partitions)
    _write_meta(corpus_tokens.sparkSession, path, meta, mode)
    return meta


def append_lexical_index(
    corpus_tokens: DataFrame,
    path: str,
    id_col: str | None = None,
    tok_col: str = "toks",
    num_partitions: int | None = None,
) -> dict:
    """Grow the lexical index with newly-arrived documents: their tf
    rows and df/stats PARTIALS commit together as one ledgered append
    batch (``index_store._commit_rows``); nothing on disk is rewritten
    (df for an existing term is reconciled at load by summing
    partials). Re-appending an already-indexed doc_id double-counts
    it — same id discipline as the ANN index appends; single-writer
    by contract."""
    from workhop2_etl_spark.operators.index_store import _commit_rows, _read_meta

    meta = _read_meta(corpus_tokens.sparkSession, path, _LEXICAL_KIND)
    _commit_rows(corpus_tokens, path, meta, tok_col, id_col, num_partitions,
                 default_col="toks")
    return dict(meta, epoch=int(meta.get("epoch") or 0) + 1)


def load_lexical_index(
    spark, path: str, tokenizer: str | None = None, as_of: int | None = None
) -> tuple[DataFrame, DataFrame, DataFrame, dict]:
    """(tf, df, stats, metadata) from ``path``. ``df`` and ``stats``
    come back as LAZY re-aggregations over the persisted partials
    (sum over epochs — appends write positive partials, deletes write
    NEGATIVE ones, so the sums are exactly the single-shot aggregates
    over the surviving documents regardless of lifecycle history;
    terms whose net df reaches 0 are dropped, as a rebuild would).
    ``tf`` anti-joins any pending delete tombstones. Every ledgered
    batch — a delete's tombstones + negative partials, an append's or
    a stream epoch's tf rows + positive partials — appears TOGETHER
    or not at all: all three reads hide files whose ledger marker is
    absent, so the marker is each batch's atomic commit point even
    under a reader racing the writer's renames or after a mid-rename
    crash (operators/ledger.py). ``as_of`` reconstructs the SNAPSHOT
    after that commit sequence: batches committed later are hidden
    across all three relations at once, so the snapshot's scores are
    the bit-exact single-shot BM25 over exactly the documents visible
    then; history reaches back to the last compaction. Raises on
    kind/tokenizer drift."""
    from workhop2_etl_spark.operators.index_store import (
        _check_drift,
        _gated_or_raise,
        _read_meta,
        _read_tombstones,
    )

    meta = _read_meta(spark, path, _LEXICAL_KIND)
    _check_drift(path, meta, {"tokenizer": tokenizer})
    tf = _gated_or_raise(spark, path, "tf", as_of=as_of)
    tomb = _read_tombstones(spark, path, as_of=as_of)
    if tomb is not None:  # pending deletes: logical until compaction
        tf = tf.join(F.broadcast(tomb), "doc_id", "left_anti")
    df = _fold_df(_gated_or_raise(spark, path, "df", as_of=as_of))
    stats = _stats_from_counts(
        _fold_stats(_gated_or_raise(spark, path, "stats", as_of=as_of))
    )
    return tf, df, stats, meta


def lexical_index_stats(
    tf: DataFrame, df: DataFrame, stats: DataFrame
) -> DataFrame:
    """One-row health report over a loaded lexical index — the
    observability face (the ivf/lsh_index_stats twin). ``max_df`` /
    ``stopword_share`` rising across epochs flags a vocabulary
    skewing toward stopwords (probe candidate volume is Σ df over the
    query vocabulary, so head-heavy df distributions price probes);
    ``postings_per_doc`` drifting signals tokenization changes in the
    ingest. Aggregates are dimension-sized; one shuffle each.

    Columns: n_docs, avgdl (2dp), vocab_size, n_postings, max_df,
    stopword_share (share of postings owned by the 10 most frequent
    terms, 4dp), postings_per_doc (2dp)."""
    top10 = (
        df.orderBy(F.desc("df"), F.asc("term"))
        .limit(10)
        .agg(F.coalesce(F.sum("df"), F.lit(0)).alias("__top"))
    )
    dfa = df.agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.coalesce(F.sum("df"), F.lit(0)).cast("long").alias("n_postings"),
        F.coalesce(F.max("df"), F.lit(0)).cast("long").alias("max_df"),
    )
    base = stats.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round("avgdl", 2).alias("avgdl"),
    )
    return (
        base.crossJoin(F.broadcast(dfa))
        .crossJoin(F.broadcast(top10))
        .select(
            "n_docs",
            "avgdl",
            "vocab_size",
            "n_postings",
            "max_df",
            # explicit double casts: ANSI resolves long/long '/' as a
            # decimal division that raises on zero divisors even when
            # the zero branch is unreachable at runtime
            F.round(
                F.when(
                    F.col("n_postings") > 0,
                    F.col("__top").cast("double") / F.col("n_postings"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("stopword_share"),
            F.round(
                F.when(
                    F.col("n_docs") > 0,
                    F.col("n_postings").cast("double") / F.col("n_docs"),
                ).otherwise(F.lit(0.0)),
                2,
            ).alias("postings_per_doc"),
        )
    )


def _term_in(spark, vocab: list[str]) -> Column:
    """``term IN (vocab)``, built inside the JVM. The vocabulary crosses
    py4j once, as the one array cell of an Arrow ``LocalRelation``,
    whose rows the plan holds, so reading it back runs no query; the
    JVM turns that array into the IN-list. ``Column.isin`` would
    convert every term to a literal in its own py4j call."""
    jvm = spark._jvm
    rel = local_relation(spark, [(vocab,)], "terms array<string>")
    cell = rel._jdf.queryExecution().analyzed().data().apply(0).getArray(0)
    terms = cell.toObjectArray(jvm.org.apache.spark.sql.types.DataTypes.StringType)
    return Column(F.col("term")._jc.isInCollection(jvm.java.util.Arrays.asList(terms)))


def probe_lexical_index(
    tf: DataFrame,
    df: DataFrame,
    stats: DataFrame,
    meta: dict,
    query_terms: DataFrame,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    round_digits: int = 6,
    exclude_self: bool = True,
    max_terms: int = 4096,
    max_df: int | None = None,
) -> DataFrame:
    """BM25 top-k from a LOADED lexical index — row-identical to
    ``bm25_topk`` over the original corpus (the scoring core is
    shared verbatim and the artifact round-trips exact integers).

    The distinct (query_id, term) pairs collect to the driver once
    (``session.collect_bounded`` at 64·``max_terms`` pairs), and their
    vocabulary — bounded loudly at ``max_terms``, query terms are
    dimension-sized by contract — becomes an IN-list filter pushed
    into the posting scan. It drops non-query terms' rows during the
    scan but skips no file (the tf layout is
    ``index_store._write_dirs``').

    ``max_df`` (OFF by default — the default path stays
    oracle-exact and unpruned) bounds the probe's candidate volume
    for head-term-heavy queries, the 100 TB serving posture: an
    unpruned probe pays Σ df candidate rows, which for a stopword-ish
    term is corpus-sized. With ``max_df`` set, terms are split into
    RARE (df ≤ max_df) and HEAD (df > max_df); candidate documents
    are those matching ≥ 1 rare query term, and only candidates are
    scored — over ALL the query's terms, so candidate scores are
    exact BM25. The candidate volume is bounded by Σ_rare df ≤
    |vocab|·max_df regardless of corpus size (the WAND / impact-
    ordered pruning family: Broder et al. CIKM'03, Anh & Moffat).

    Pruned-path guarantee (WAND-style, reported per query in the
    extra boolean ``exact`` column): every non-candidate document
    matches only head terms, and one term's contribution is < idf(t)
    · (k1+1) (the tf saturation bound), so a non-candidate's score is
    < HB(q) = Σ_{t ∈ head(q)} idf(t)·(k1+1). ``exact = true`` —
    the returned rows ARE the unpruned top-k — whenever the query has
    no head terms, or k candidates exist and the k-th candidate score
    clears HB(q) (checked with a half-ulp rounding margin PLUS an FP
    slack sized by the head-term count, and HB itself folds in
    term-sorted deterministic order — the flag never over-claims and
    never flips between runs). The tf-saturation
    bound is strict only for k1 > 0, so the pruned path rejects
    k1 <= 0 (use the exhaustive default for k1 = 0). ``exact =
    false`` means head-only
    documents could outrank the tail of the returned list — rerun
    unpruned or raise max_df for those queries. A query whose EVERY
    term is head-frequency has no candidates and returns no rows
    (the same contract as a query matching nothing); raise max_df
    for such stopword-only probes."""
    queries, vocab = _collect_queries(
        query_terms, 64 * max_terms,
        "probe_lexical_index query_terms (64*max_terms)",
    )
    return _probe_lexical(
        tf, df, stats, queries, vocab, k=k, k1=k1, b=b,
        round_digits=round_digits, exclude_self=exclude_self,
        max_terms=max_terms, max_df=max_df,
    )


def _probe_lexical(
    tf: DataFrame,
    df: DataFrame,
    stats: DataFrame,
    queries: DataFrame,
    vocab: list[str],
    k: int,
    k1: float,
    b: float,
    round_digits: int,
    exclude_self: bool,
    max_terms: int,
    max_df: int | None,
) -> DataFrame:
    """``probe_lexical_index`` over its driver-collected query relation
    (``_collect_queries``)."""
    if len(vocab) > max_terms:
        raise ValueError(
            f"probe_lexical_index collected more than max_terms="
            f"{max_terms} distinct query terms; the query side must "
            "be the bounded relation — raise max_terms explicitly "
            "if this is intentional"
        )
    term_in = _term_in(tf.sparkSession, vocab)
    tf_v = tf.filter(term_in)
    df_v = df.filter(term_in)
    if max_df is None:
        # the unpruned path references df/stats ONCE each — their lazy
        # broadcast builds overlap the final action's other stages
        # under AQE, so eager driver collects here would serialize two
        # extra actions for nothing (measured +~1s per probe at sf0.1
        # when tried; so this path stays lazy).
        return _bm25_rank(
            tf_v, df_v, stats, queries, vocab,
            k=k, k1=k1, b=b, round_digits=round_digits,
            exclude_self=exclude_self,
        )
    # max_df-PRUNED path only: materialize the
    # vocabulary-sized df slice and the one-row stats at the driver.
    # Both are lazy RE-AGGREGATIONS over the artifact's per-epoch
    # partial files (load_lexical_index) and the pruned plan
    # references them repeatedly — df three times (rare/head split +
    # the scoring core's df join), stats twice (scoring + the HB
    # certificate) — so every broadcast build re-ran the partial scan
    # + sum. The df slice is ≤ max_terms rows by the vocabulary bound
    # just enforced and stats is ONE row: the same bounded-collect
    # class as the vocabulary IN-list itself, at any corpus size.
    spark = tf.sparkSession
    df_v = df_v.select("term", "df")
    df_v = local_relation(
        spark,
        collect_bounded(df_v, max_terms, "lexical index df slice (max_terms)"),
        df_v.schema,
    )
    stats = stats.select("n_docs", "avgdl")
    stats = local_relation(
        spark, collect_bounded(stats, 1, "lexical index stats"), stats.schema
    )
    return _bm25_rank_pruned(
        tf_v, df_v, stats, queries, vocab,
        k=k, k1=k1, b=b, round_digits=round_digits,
        exclude_self=exclude_self, max_df=int(max_df),
    )


def _bm25_rank_pruned(
    tf: DataFrame,
    df_all: DataFrame,
    stats: DataFrame,
    queries: DataFrame,
    vocab: list[str],
    k: int,
    k1: float,
    b: float,
    round_digits: int,
    exclude_self: bool,
    max_df: int,
) -> DataFrame:
    """The ``max_df`` candidate-pruned ranking (see
    ``probe_lexical_index``). Deterministic semantics, independent of
    whether the exactness condition holds: candidates = documents
    matching ≥ 1 rare (df ≤ max_df) query term, scored exactly over
    all query terms, ranked per query with the usual (rounded score
    desc, doc_id) order; the ``exact`` column reports the per-query
    WAND-style guarantee. Plan shape: the rare-term posting slice is
    vocabulary-pruned like the probe itself; the candidate doc-id set
    (≤ Σ_rare df ≤ |vocab|·max_df rows by construction) broadcasts
    into a semi-join on the scored slice, so the corpus-sized side
    still never shuffles."""
    rare_q = queries.join(
        F.broadcast(df_all.filter(F.col("df") <= max_df).select("term")),
        "term",
    )
    head_q = queries.join(
        F.broadcast(df_all.filter(F.col("df") > max_df)), "term"
    )
    # candidate (query_id, doc_id): matches ≥1 rare term of the query
    cand = (
        tf.join(F.broadcast(rare_q), "term")
        .select("query_id", "doc_id")
        .distinct()
    )
    # exact scoring restricted to candidate docs: the tf slice keeps
    # every vocabulary term for those docs, so scores are full BM25.
    # The per-(query, doc) candidate semi-join lands INSIDE the
    # scoring core, before the contribution aggregation — a doc that
    # matches only head terms of query q (candidate via another
    # query) never reaches q's sum, and the window's input is
    # candidate-sized even for stopword-heavy posting slices.
    cand_docs = cand.select("doc_id").distinct()
    scored = _bm25_score(
        tf.join(F.broadcast(cand_docs), "doc_id"),
        df_all,
        stats,
        queries,
        vocab,
        k1=k1,
        b=b,
        round_digits=round_digits,
        exclude_self=exclude_self,
        candidates=cand,
    )
    ranked = top_k(scored, ["query_id"], [F.desc("score"), F.asc("doc_id")], k)
    # per-query head-term score upper bound HB(q) = Σ idf·(k1+1).
    # The per-term bound idf·(k1+1) is STRICT only for k1 > 0: at
    # k1 = 0 the tf saturation collapses to exactly 1 and a
    # head-only doc can REACH the bound, so the kth-vs-HB test no
    # longer certifies that no such doc displaces the k-th result
    # (ties break on doc_id, which the bound knows nothing about).
    # The pruned path therefore rejects k1 <= 0 up front; callers who
    # want k1 = 0 get the exhaustive path (max_df=None), which is
    # always exact.
    k1 = float(k1)
    if k1 <= 0.0:
        raise ValueError(
            f"max_df-pruned BM25 needs k1 > 0 (got {k1!r}): at k1=0 "
            "the exactness certificate's per-term bound idf*(k1+1) "
            "is attainable, not strict — use max_df=None for k1=0"
        )
    k1p1 = k1 + 1.0
    idf_ub = F.log(
        F.lit(1.0)
        + ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    ) * F.lit(k1p1)
    # HB folds in deterministic (term-sorted) order — same _seq_sum
    # discipline as the scores themselves — so the certificate can't
    # flip between runs on hash-aggregate addition order; __n_head
    # sizes the FP slack below.
    hb = (
        head_q.crossJoin(F.broadcast(stats))
        .select("query_id", F.struct(F.col("term").alias("key"), idf_ub.alias("v")).alias("__c"))
        .groupBy("query_id")
        .agg(
            _seq_sum(F.collect_list("__c")).alias("__hb"),
            F.count("*").alias("__n_head"),
        )
    )
    per_q = ranked.groupBy("query_id").agg(
        F.max("rank").alias("__n_ret"), F.min("score").alias("__kth")
    )
    # margin = rounding half-ulp (score is rounded to round_digits,
    # so the raw k-th sits within 0.5·10^-d of it) + accumulation
    # slack for HB's own fold: n_head double additions each carry
    # relative error ≤ 2^-53, bounded here by n_head·|HB|·2^-50
    # (a ×8 safety factor). Exactness is claimed only when the
    # rounded k-th clears HB by the WHOLE margin — an over-wide
    # margin can only under-claim (exact=false on a truly exact
    # query), never over-claim.
    margin = 0.5 * (10.0 ** -round_digits)
    fp_slack = (
        F.col("__n_head").cast("double")
        * F.abs(F.col("__hb"))
        * F.lit(2.0 ** -50)
    )
    flags = per_q.join(hb, "query_id", "left").select(
        "query_id",
        (
            F.col("__hb").isNull()  # no head terms → candidates cover all
            | (
                (F.col("__n_ret") >= k)
                & (
                    F.col("__kth") - F.lit(margin)
                    >= F.col("__hb") + fp_slack
                )
            )
        ).alias("exact"),
    )
    return (
        ranked.join(F.broadcast(flags), "query_id")
        .select("query_id", "rank", "doc_id", "score", "n_hit", "exact")
    )


def bm25_prf_expand(
    corpus_tokens: DataFrame,
    query_terms: DataFrame,
    n_feedback: int = 3,
    m_expand: int = 2,
    k1: float = BM25_K1,
    b: float = BM25_B,
    round_digits: int = 6,
    id_col: str = "doc_id",
    tok_col: str = "toks",
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio-style; the
    classic two-pass IR loop, e.g. Robertson/Sparck-Jones relevance
    weighting): run BM25, treat each query's top ``n_feedback``
    documents as relevant, harvest their ``m_expand`` strongest terms
    (by summed tf across the feedback docs — integer weights, term
    tiebreak, so the choice is cross-engine deterministic), and
    return the EXPANDED (query_id, term) relation — the original
    terms plus the expansion terms — ready for a second ``bm25_topk``
    pass. Terms already in the query are never re-added.

    Scale shape: pass 1 is bm25_topk's plan (one corpus tf shuffle);
    the harvest joins the |Q|·n_feedback doc list (broadcast) against
    the tf relation — map-side — and every later relation is
    query-bounded. A second scoring pass re-uses the same tf
    aggregation; at 100 TB run both passes against the persisted
    lexical index instead (load once, probe twice).

    Execution: the query relation and the expanded relation each
    materialize HERE, at the driver, through ``session.collect_bounded``
    — both are query-bounded by contract (|Q|·(terms + m_expand) rows,
    raising past 2^20), the same bounded-collect class as
    ``probe_lexical_index_prf``'s expansion. Lazy
    nesting cost pass 1 twice (the returned relation sat in pass 2's
    lineage and was broadcast-built once per reference), and the tf
    relation — identical in pass 1, the harvest, and the caller's
    pass 2 — was re-tokenized and re-aggregated each time; now tf is
    persisted across pass 1 + harvest (spilling, never recomputing)
    and unpersisted before return, and df/stats derive from it (the
    ``_doc_stats`` per-doc-exact recount — same integers, so
    scores are unchanged bit-for-bit). Measured: the t15 plan's 31
    shuffles → 13, 27 AQE stage-jobs → ~14 on the pass-2 action."""
    if n_feedback < 1 or m_expand < 1:
        raise ValueError(
            f"bm25_prf_expand needs n_feedback >= 1 and m_expand >= 1, "
            f"got {n_feedback}/{m_expand} — with nothing to harvest or "
            "add, call bm25_topk directly"
        )
    from pyspark import StorageLevel

    queries, vocab = _collect_queries(
        query_terms, _QUERY_CAP, "bm25_prf_expand query_terms"
    )
    tf = _tf_relation(corpus_tokens, id_col, tok_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        df_all = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        stats = _stats_from_counts(_doc_stats(tf))
        fb = _bm25_rank(
            tf, df_all, stats, queries, vocab,
            k=n_feedback, k1=k1, b=b, round_digits=round_digits,
            exclude_self=True,
        ).select("query_id", "doc_id")
        expanded = queries.unionByName(
            _prf_harvest(tf, fb, queries, m_expand)
        )
        rows = collect_bounded(
            expanded, _QUERY_CAP, "bm25_prf_expand expanded query_terms"
        )
        return local_relation(
            corpus_tokens.sparkSession, rows, expanded.schema
        )
    finally:
        tf.unpersist()


def _prf_harvest(
    tf: DataFrame, fb: DataFrame, query_terms: DataFrame, m_expand: int
) -> DataFrame:
    """The PRF term harvest shared by ``bm25_prf_expand`` (in-session
    corpus) and ``probe_lexical_index_prf`` (persisted artifact):
    each query's ``m_expand`` strongest unseen terms across its
    feedback docs, weighted by summed tf (exact integers, term
    tiebreak — cross-engine deterministic). ``fb`` broadcasts
    (|Q|·n_feedback rows); the tf-side join is map-side."""
    harvested = (
        tf.join(F.broadcast(fb), "doc_id")
        .groupBy("query_id", "term")
        .agg(F.sum("tf").alias("__w"))
        .join(query_terms, ["query_id", "term"], "left_anti")
    )
    return top_k(
        harvested,
        ["query_id"],
        [F.desc("__w"), F.asc("term")],
        m_expand,
        rank_col="__rn",
    ).select("query_id", "term")


def probe_lexical_index_prf(
    tf: DataFrame,
    df: DataFrame,
    stats: DataFrame,
    meta: dict,
    query_terms: DataFrame,
    k: int = 10,
    n_feedback: int = 3,
    m_expand: int = 2,
    k1: float = BM25_K1,
    b: float = BM25_B,
    round_digits: int = 6,
    exclude_self: bool = True,
    max_terms: int = 4096,
    max_df: int | None = None,
) -> DataFrame:
    """PRF retrieval against a LOADED lexical index — the persisted
    twin of ``bm25_prf_expand`` + second ``bm25_topk`` pass, and the
    100 TB answer to the two-pass cost: the corpus-sized tf
    aggregation is paid ONCE at build time; pass 1 and pass 2 are
    both ``probe_lexical_index`` probes of the artifact, each keeping
    only its query terms' postings (IN-list pushed into the scan), and
    the harvest between them
    joins the broadcast |Q|·n_feedback feedback-doc list against the
    SAME artifact tf relation (map-side — the feedback docs' postings
    only). No relation in the whole loop is corpus-shuffled.

    Row-identical to the in-session two-pass loop over the original
    corpus (the probe core is shared verbatim; the harvest weights
    are exact integers). ``max_df`` applies to both probe passes (the
    bounded serving posture; the result then carries the pruned
    path's per-query ``exact`` certificate from pass 2)."""
    probe = dict(
        k1=k1, b=b, round_digits=round_digits, exclude_self=exclude_self,
        max_terms=max_terms, max_df=max_df,
    )
    queries, vocab = _collect_queries(
        query_terms, 64 * max_terms,
        "probe_lexical_index_prf query_terms (64*max_terms)",
    )
    fb = _probe_lexical(
        tf, df, stats, queries, vocab, k=n_feedback, **probe
    ).select("query_id", "doc_id")
    # the expanded query relation materializes ONCE, at the driver —
    # it is query-bounded by contract (|Q|·(terms + m_expand) rows).
    # Left lazy, pass 1 + the harvest would sit in pass 2's lineage
    # and execute once per broadcast build.
    expanded, exp_vocab = _collect_queries(
        queries.unionByName(_prf_harvest(tf, fb, queries, m_expand)),
        16 * max_terms,
        "probe_lexical_index_prf expanded query_terms (16*max_terms)",
    )
    return _probe_lexical(tf, df, stats, expanded, exp_vocab, k=k, **probe)


def bm25_contrib_sql(
    tf: str = "tf",
    df: str = "df",
    dl: str = "dl",
    n_docs: str = "n_docs",
    avgdl: str = "avgdl",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """The DuckDB twin of one BM25 term contribution — the SAME
    expression tree as ``bm25_topk`` (constants folded in Python,
    injected by repr, so both engines parse identical doubles;
    explicit DOUBLE casts keep DuckDB out of decimal arithmetic).
    The suite oracle imports this instead of restating the formula,
    so a scoring change moves both engines together."""
    k1 = float(k1)
    b = float(b)
    k1p1 = k1 + 1.0
    one_minus_b = 1.0 - b
    idf = (
        f"ln(CAST(1.0 AS DOUBLE) + (CAST({n_docs} - {df} AS DOUBLE) + 0.5)"
        f" / (CAST({df} AS DOUBLE) + 0.5))"
    )
    tf_part = (
        f"({tf} * CAST({k1p1!r} AS DOUBLE)) / ({tf} + CAST({k1!r} AS DOUBLE)"
        f" * (CAST({one_minus_b!r} AS DOUBLE)"
        f" + CAST({b!r} AS DOUBLE) * {dl} / {avgdl}))"
    )
    return f"({idf} * {tf_part})"


def rrf_fuse(
    arm_a: DataFrame,
    arm_b: DataFrame,
    k: int = 10,
    k_rrf: int = RRF_K,
    round_digits: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked candidate lists
    (Cormack, Clarke & Buettcher, SIGIR 2009): rrf(d) = Σ_arms
    1/(k_rrf + rank_arm(d)), with absent-in-arm contributing 0.

    Both arms: (query_id, doc_id, rank). Returns (query_id, rank,
    doc_id, rrf_score, rank_a, rank_b); rank_a/rank_b are NULL where
    the document appeared in only one arm.

    Determinism: input ranks are integers, the two reciprocal terms
    add in fixed expression order, and the fused ranking breaks ties
    on doc_id — bit-reproducible on any engine. Scale: both arms are
    top-k-per-query relations (|Q|·k rows, query-bounded by
    contract), so the full-outer join and the final window are over
    tiny, query-keyed data regardless of corpus size.

    Malformed arms: a duplicate
    (query_id, doc_id) within one arm — a caller fusing a relation
    that did not come from a ranker — would fan out the
    full-outer join and surface the SAME document at several fused
    ranks. Each arm is therefore collapsed to its BEST (minimum) rank
    per (query_id, doc_id) first — the standard RRF treatment of
    duplicate candidates, and a no-op (identity aggregation) for
    well-formed window-ranked arms.

    Plan shape: the cross-arm alignment is a UNION + one hash
    aggregate, not a full-outer join — full-outer can't broadcast, so
    the join form cost a SortMergeJoin (sorts on both |Q|·k arms);
    union-aggregate has the same semantics (min ignores the other
    arm's NULL padding), folds the per-arm duplicate collapse into
    the SAME aggregate, and leaves exactly one shuffle and zero
    joins. tests/test_plan_quality.py asserts no SMJ in any fusion
    query.
    """
    a = arm_a.select(
        "query_id", "doc_id",
        F.col("rank").cast("int").alias("rank_a"),
        F.lit(None).cast("int").alias("rank_b"),
    )
    bdf = arm_b.select(
        "query_id", "doc_id",
        F.lit(None).cast("int").alias("rank_a"),
        F.col("rank").cast("int").alias("rank_b"),
    )
    fused = (
        a.unionByName(bdf)
        .groupBy("query_id", "doc_id")
        .agg(F.min("rank_a").alias("rank_a"), F.min("rank_b").alias("rank_b"))
    )
    rscore = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(k_rrf) + F.col("rank_a")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(k_rrf) + F.col("rank_b")), F.lit(0.0)),
        round_digits,
    )
    return top_k(
        fused.withColumn("rrf_score", rscore),
        ["query_id"],
        [F.desc("rrf_score"), F.asc("doc_id")],
        k,
    ).select("query_id", "rank", "doc_id", "rrf_score", "rank_a", "rank_b")


def weighted_fuse(
    arm_a: DataFrame,
    arm_b: DataFrame,
    k: int = 10,
    alpha: float = 0.5,
    round_digits: int = 6,
) -> DataFrame:
    """Convex score fusion of two ranked candidate lists — the
    score-based alternative to ``rrf_fuse`` (CombSUM/CombMNZ family,
    Fox & Shaw 1994): each arm's scores min-max normalize to [0, 1]
    PER QUERY, absent-in-arm contributes 0, and the fused score is
    ``alpha·norm_a + (1-alpha)·norm_b``.

    Both arms: (query_id, doc_id, score) with scores ALREADY rounded
    by their producers (every engine top-k here rounds) — the
    normalization is then differences and one division over identical
    doubles on any engine, and the fused ranking breaks exact ties on
    doc_id, so results stay bit-reproducible. An arm whose scores tie
    for a query (max = min) normalizes to 1.0 for every present doc —
    presence still outranks absence. Duplicate (query_id, doc_id)
    within one arm collapses to its BEST (max) score first, the same
    malformed-arm hardening as rrf_fuse. Scale: all relations are
    |Q|·k, query-bounded by contract.

    Plan shape: the per-query extrema relation (|Q| rows)
    broadcasts into its normalization join, and the cross-arm
    alignment is a UNION + one hash aggregate instead of a full-outer
    join (which can't broadcast and forced a SortMergeJoin) — same
    semantics (max ignores the other arm's NULL padding; each
    (query, doc) is unique per arm after normalization), no sorts
    (tests/test_plan_quality.py asserts no SMJ in fusion queries)."""
    alpha = float(alpha)
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(
            f"weighted_fuse alpha must be in [0, 1] (a convex "
            f"combination), got {alpha!r}"
        )
    beta = 1.0 - alpha

    def _norm(arm: DataFrame, tag: str) -> DataFrame:
        # non-finite guard (NaN would rank first): Spark
        # orders NaN above every number, so one NaN score would win
        # its arm's max, poison the normalization denominator, and
        # rank first in the fusion. The engine's own top-k arms never
        # emit non-finite scores (cosine/BM25 guard tiers), but this
        # is a public operator — drop such rows like the rankers do.
        s = (
            arm.select("query_id", "doc_id", F.col("score").cast("double"))
            .filter(
                F.col("score").isNotNull()
                & ~F.isnan("score")
                & (F.abs("score") != float("inf"))
            )
            .groupBy("query_id", "doc_id")
            .agg(F.max("score").alias("score"))
        )
        ext = s.groupBy("query_id").agg(
            F.min("score").alias("__mn"), F.max("score").alias("__mx")
        )
        return s.join(F.broadcast(ext), "query_id").select(
            "query_id",
            "doc_id",
            F.when(F.col("__mx") == F.col("__mn"), F.lit(1.0))
            .otherwise(
                (F.col("score") - F.col("__mn"))
                / (F.col("__mx") - F.col("__mn"))
            )
            .alias(f"norm_{tag}"),
        )
    a = _norm(arm_a, "a").select(
        "query_id", "doc_id", "norm_a",
        F.lit(None).cast("double").alias("norm_b"),
    )
    bdf = _norm(arm_b, "b").select(
        "query_id", "doc_id",
        F.lit(None).cast("double").alias("norm_a"), "norm_b",
    )
    fused = (
        a.unionByName(bdf)
        .groupBy("query_id", "doc_id")
        .agg(F.max("norm_a").alias("norm_a"), F.max("norm_b").alias("norm_b"))
    )
    score = F.round(
        F.lit(alpha) * F.coalesce(F.col("norm_a"), F.lit(0.0))
        + F.lit(beta) * F.coalesce(F.col("norm_b"), F.lit(0.0)),
        round_digits,
    )
    return top_k(
        fused.withColumn("fused_score", score),
        ["query_id"],
        [F.desc("fused_score"), F.asc("doc_id")],
        k,
    ).select(
        "query_id", "rank", "doc_id", "fused_score",
        F.round("norm_a", round_digits).alias("norm_a"),
        F.round("norm_b", round_digits).alias("norm_b"),
    )
