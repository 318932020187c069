"""Corpus-statistics text queries over `documents` — TF-IDF term
extraction, unigram language-model scoring, fixed-window chunking.

These are the training-data-pipeline ops that need *corpus-level*
state (document frequencies, unigram counts), unlike the per-row
t1–t7 kernels. The corpus state is itself a DataFrame joined back on
the term key — at 100 TB that's a shuffled equi-join on a
high-cardinality key with map-side partial aggregation, never a
driver-side vocabulary.

Tokenization matches pipeline2's convention exactly (lowercase,
whitespace-collapse, empty → 0 tokens) so token counts agree across
query families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from workhop2_etl_spark.session import load_table
from workhop2_etl_spark.suite import query

# the ONE tokenization convention, shared with the x4-x9 pipeline
# family — importing (not copying) is what keeps t8/t9/x7 token
# counts in exact agreement with the packing/gating queries
from workhop2_etl_spark.suite.pipeline2 import _NORM, _toks


# ---------------------------------------------------------------------------
# t8: per-document top-3 terms by TF-IDF. Ranking keys are integers
# (tf desc, df asc, term asc) so cross-engine order never depends on
# float ties; the tfidf value itself is reported rounded.
# ---------------------------------------------------------------------------


@query(
    "t8_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term
      FROM documents WHERE {_NORM} <> ''
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf DESC, df.df ASC, tf.term ASC)
               AS rank
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf, df, tfidf
    FROM scored WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
)
def t8_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select("doc_id", F.explode(_toks()).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "df", "tfidf")
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# t9: unigram-LM quality score — per-doc mean log probability under
# the corpus unigram distribution (the classic cheap fluency /
# outlier signal when no external LM is available).
# ---------------------------------------------------------------------------


@query(
    "t9_unigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term
      FROM documents WHERE {_NORM} <> ''
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), uni AS (
      SELECT term, sum(tf) AS cnt FROM tf GROUP BY term
    ), tot AS (
      SELECT sum(cnt) AS total FROM uni
    )
    SELECT tf.doc_id,
           CAST(sum(tf.tf) AS BIGINT) AS n_tok,
           round(sum(tf.tf * ln(uni.cnt / tot.total)) / sum(tf.tf), 4)
             AS avg_logprob
    FROM tf JOIN uni USING (term) CROSS JOIN tot
    GROUP BY tf.doc_id
    ORDER BY tf.doc_id
    """,
)
def t9_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select("doc_id", F.explode(_toks()).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    uni = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    tot = uni.agg(F.sum("cnt").alias("total"))
    return (
        tf.join(uni, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tok"),
            F.round(
                F.sum(F.col("tf") * F.log(F.col("cnt") / F.col("total")))
                / F.sum("tf"),
                4,
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x7: fixed-window document chunking with overlap (chunk 40 tokens,
# stride 30 → 10-token overlap) — the doc→training-example fan-out.
# explode(sequence) keeps the fan-out inside the JVM; at scale the
# output is ~n_tokens/stride rows per doc with no shuffle at all
# until a downstream op asks for one.
# ---------------------------------------------------------------------------

_CHUNK = 40
_STRIDE = 30


@query(
    "x7_doc_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t,
             len(string_split({_NORM}, ' ')) AS n
      FROM documents WHERE {_NORM} <> ''
    ), idx AS (
      SELECT doc_id, t, CAST(unnest(generate_series(0, (n - 1) // {_STRIDE})) AS INTEGER) AS chunk_idx
      FROM toks
    )
    SELECT doc_id, chunk_idx,
           len(list_slice(t, chunk_idx * {_STRIDE} + 1,
                             chunk_idx * {_STRIDE} + {_CHUNK})) AS chunk_n_tok,
           array_to_string(list_slice(t, chunk_idx * {_STRIDE} + 1,
                                         chunk_idx * {_STRIDE} + {_CHUNK}), ' ')
             AS chunk_text
    FROM idx
    ORDER BY doc_id, chunk_idx
    """,
)
def x7_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.select("doc_id", _toks().alias("t"))
        .withColumn("n", F.size("t"))
        .filter(F.col("n") > 0)
    )
    d = d.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(0), F.expr(f"CAST((n - 1) div {_STRIDE} AS INT)"))
        ).alias("chunk_idx"),
    )
    chunk = F.slice("t", F.col("chunk_idx") * _STRIDE + 1, _CHUNK)
    return d.select(
        "doc_id",
        "chunk_idx",
        F.size(chunk).alias("chunk_n_tok"),
        F.array_join(chunk, " ").alias("chunk_text"),
    ).orderBy("doc_id", "chunk_idx")


# ---------------------------------------------------------------------------
# t10: corpus-wide top-50 bigrams. The bigram array is built row-side
# by the shared sliding-n-gram kernel (dedup_text.word_ngrams, one
# regex pass over the normalized text; empty for texts under two
# words) — a NARROW transform (no shuffle, no self-join on (doc,
# pos)); the only shuffle is the count aggregation on the bigram key,
# partial-agg bounded. Ranking keys (n desc, bigram asc) are exact, so
# the top-k is cross-engine deterministic.
# ---------------------------------------------------------------------------


@query(
    "t10_bigram_topk",
    oracle=f"""
    WITH toks AS (
      SELECT string_split({_NORM}, ' ') AS l
      FROM documents WHERE {_NORM} <> ''
    ), bg AS (
      SELECT unnest(list_transform(range(1, len(l)),
                                   i -> l[i] || ' ' || l[i + 1])) AS bigram
      FROM toks WHERE len(l) >= 2
    )
    SELECT bigram, count(*) AS n
    FROM bg GROUP BY 1
    ORDER BY n DESC, bigram ASC
    LIMIT 50
    """,
)
def t10_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    from workhop2_etl_spark.operators.dedup_text import word_ngrams

    return (
        docs.select(F.explode(word_ngrams(F.col("text"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# d8: chunk-level exact-duplicate ratio — the RefinedWeb/C4-style
# "repeated span" signal at sub-document granularity: split each doc
# into disjoint 8-token chunks, count each chunk's corpus-wide
# frequency (multiplicity included, so a span repeated inside ONE doc
# also scores), and report per-doc how much of the text is made of
# spans seen elsewhere. Scale shape: chunking is the x7 narrow
# explode(sequence) kernel (shuffle-free); the only shuffles are the
# partial-agg-bounded count on the 16-byte chunk digest and the
# equi-join of chunks back to frequencies — never doc × doc.
# ---------------------------------------------------------------------------

_DUP_CHUNK = 8


@query(
    "d8_chunk_dup_ratio",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t,
             len(string_split({_NORM}, ' ')) AS n
      FROM documents WHERE {_NORM} <> ''
    ), chunks AS (
      SELECT doc_id,
             array_to_string(
               list_slice(t, (i - 1) * {_DUP_CHUNK} + 1, i * {_DUP_CHUNK}),
               ' ') AS chunk_text
      FROM toks, LATERAL unnest(generate_series(1, n // {_DUP_CHUNK})) g(i)
      WHERE n >= {_DUP_CHUNK}
    ), freq AS (
      SELECT chunk_text, count(*) AS f FROM chunks GROUP BY 1
    )
    SELECT c.doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN f.f > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
           round(sum(CASE WHEN f.f > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
             AS dup_ratio
    FROM chunks c JOIN freq f USING (chunk_text)
    GROUP BY 1 ORDER BY 1
    """,
)
def d8_chunk_dup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.select("doc_id", _toks().alias("t"))
        .withColumn("n", F.size("t"))
        .filter(F.col("n") >= _DUP_CHUNK)
    )
    chunks = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.expr(f"CAST(n div {_DUP_CHUNK} AS INT)"))
        ).alias("i"),
        "t",
    ).select(
        "doc_id",
        F.array_join(
            F.slice("t", (F.col("i") - 1) * _DUP_CHUNK + 1, _DUP_CHUNK), " "
        ).alias("chunk_text"),
    )
    freq = chunks.groupBy("chunk_text").agg(F.count(F.lit(1)).alias("f"))
    return (
        chunks.join(freq, "chunk_text")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("f") > 1).cast("bigint")).alias("dup_chunks"),
            F.round(
                F.sum((F.col("f") > 1).cast("bigint")) / F.count(F.lit(1)), 4
            ).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x11: content-defined chunking (rolling-hash boundaries). x7's fixed
# 8-token windows shift all downstream chunks when one token is
# inserted; content-defined boundaries (a token whose hash ≡ 0 mod B
# STARTS a new chunk — the FastCDC/Rabin idea at token granularity)
# re-align after an edit, which is what makes chunk-level dedup
# robust to near-duplicate documents at 100 TB. Plan shape: narrow
# posexplode → ONE shuffle by doc_id (running boundary count as a
# window) → per-(doc, chunk) hash agg on the same key prefix. The
# shuffle-free fold alternative (aggregate() building the chunk-id
# array in place) is O(k²) in array copies per doc — the window
# formulation is the linear, scalable one.
# ---------------------------------------------------------------------------

_CDC_B = 8  # boundary modulus → mean chunk length ≈ B tokens


def _cdc_tok_int_sql(expr: str) -> str:
    """First-8-hex-chars md5 integer — IMPORTS the d-family's
    _hex_int_sql rather than restating the expansion, so a change to
    the shared hex→int convention moves x11's boundary hash with the
    d-family instead of silently diverging from it."""
    from workhop2_etl_spark.suite.dedup import _hex_int_sql

    return _hex_int_sql(f"md5({expr})", 8)


@query(
    "x11_cdc_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t
      FROM documents WHERE {_NORM} <> ''
    ), pos AS (
      SELECT doc_id, t, unnest(generate_series(1, len(t))) AS p FROM toks
    ), flagged AS (
      SELECT doc_id, CAST(p AS INTEGER) AS p, t[p] AS tok,
             CASE WHEN {_cdc_tok_int_sql('t[p]')} % {_CDC_B} = 0
                  THEN 1 ELSE 0 END AS b
      FROM pos
    ), chunked AS (
      SELECT doc_id, p, tok,
             sum(b) OVER (PARTITION BY doc_id ORDER BY p) AS chunk_id
      FROM flagged
    )
    SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           md5(string_agg(tok, ' ' ORDER BY p)) AS chunk_hash
    FROM chunked
    GROUP BY doc_id, chunk_id
    ORDER BY doc_id, chunk_id
    """,
)
def x11_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.select("doc_id", _toks().alias("t"))
        .filter(F.size("t") > 0)
        .select("doc_id", F.posexplode("t").alias("p0", "tok"))
        .withColumn("p", F.col("p0") + 1)
    )
    tok_int = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    d = d.withColumn("b", (tok_int % _CDC_B == 0).cast("int"))
    w = Window.partitionBy("doc_id").orderBy("p")
    d = d.withColumn("chunk_id", F.sum("b").over(w).cast("int"))
    ordered = F.transform(
        F.sort_array(F.collect_list(F.struct("p", "tok"))), lambda s: s["tok"]
    )
    return (
        d.groupBy("doc_id", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.md5(F.array_join(ordered, " ")).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_id")
    )
