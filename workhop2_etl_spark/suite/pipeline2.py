"""Training-data pipeline operators II — the corpus-preparation ops a
100 TB pretraining pipeline runs after dedup (suite/dedup.py) and
quality profiling (suite/text.py):

* t5 repetition detection — intra-document duplicate n-gram ratio,
  the Gopher/C4-style quality gate for degenerate boilerplate;
* t6 PII scrubbing — regex redaction (emails/phones) with exact
  redaction accounting and a residual-matches proof;
* t7 benchmark-contamination check — shingle-hash join between the
  training corpus and a held-out eval set (never all-pairs text
  compare — the same banded-join scale posture as MinHash dedup);
* x4 stratified split — deterministic per-stratum train/val split on
  the md5 keyspace (portable across engines, pushdown-friendly);
* x5 domain mixing — per-source cap with a deterministic-uniform
  keep decision, the "balance the domains" resample;
* x6 sequence packing — running-token-count windows assigning docs
  to fixed-budget packs per shard, the batch-assembly primitive;
* s3 ORC round-trip — the third columnar interchange format after
  parquet/CSV/JSON (Spark-native ORC writer/reader).

Every query is oracle-checked. Scale notes: t5/t6/x4/x5/x6 are
single-scan (one shuffle at most — the final aggregate or the pack
window's per-shard sort); t7 shuffles exploded shingles, bounded by
corpus token count, and the eval side is tiny by construction (an
eval set always is), so Spark broadcasts it.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from workhop2_etl_spark.operators.dedup_text import word_shingles
from workhop2_etl_spark.session import load_table
from workhop2_etl_spark.suite import io_dir as suite_io_dir, query

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def _toks() -> "F.Column":
    t = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, " ")
    )


# ---------------------------------------------------------------------------
# t5: repetition ratio — 1 - distinct/total word-3-grams per doc.
# All-grams (not distinct) from the one sliding-n-gram kernel
# (dedup_text.word_ngrams): a single regex pass over the normalized
# text, no token array in between.
# ---------------------------------------------------------------------------
@query(
    "t5_repetition_ratio",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t)-1),
                                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
               ELSE [] END AS g
      FROM toks
    )
    SELECT doc_id,
           CAST(len(g) AS BIGINT) AS n_grams,
           CASE WHEN len(g) > 0
             THEN round(1.0 - len(list_distinct(g)) * 1.0 / len(g), 6)
             ELSE 0.0 END AS rep_ratio
    FROM grams ORDER BY doc_id
    """,
)
def t5_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from workhop2_etl_spark.operators.dedup_text import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    grams = word_ngrams(F.col("text"), 3)
    g = F.col("g")
    return (
        docs.select("doc_id", grams.alias("g"))
        .select(
            "doc_id",
            F.size(g).cast("long").alias("n_grams"),
            F.when(
                F.size(g) > 0,
                F.round(
                    1.0 - F.size(F.array_distinct(g)) / F.size(g), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("rep_ratio"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# t6: PII scrub — inject synthetic emails/phones deterministically
# (the corpus has none), redact with anchored regexes, and account:
# per source, how many docs carried PII, how many redactions of each
# kind, and a residual-matches column proving the scrub got them all.
# ---------------------------------------------------------------------------
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"


@query(
    "t6_pii_scrub",
    oracle=f"""
    WITH seeded AS (
      SELECT source,
             text
               || CASE WHEN doc_id % 7 = 0
                  THEN ' reach me at user' || CAST(doc_id AS VARCHAR) || '@mail.example now'
                  ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                  THEN ' or call 555-123-4567 today' ELSE '' END AS text
      FROM documents
    ),
    counted AS (
      SELECT source,
             len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_email,
             len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phone,
             len(regexp_extract_all(
               regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g'),
               '{_EMAIL_RE}|{_PHONE_RE}')) AS residual
      FROM seeded
    )
    SELECT source,
           count(*) FILTER (WHERE n_email + n_phone > 0) AS docs_with_pii,
           CAST(sum(n_email) AS BIGINT) AS n_emails,
           CAST(sum(n_phone) AS BIGINT) AS n_phones,
           CAST(sum(residual) AS BIGINT) AS residual_matches
    FROM counted GROUP BY source ORDER BY source
    """,
)
def t6_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    seeded = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" reach me at user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example now"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" or call 555-123-4567 today")).otherwise(
            F.lit("")
        ),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("t"), _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    counted = docs.select("source", seeded.alias("t")).select(
        "source",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_EMAIL_RE), 0)).alias("n_email"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_PHONE_RE), 0)).alias("n_phone"),
        F.size(
            F.regexp_extract_all(scrubbed, F.lit(f"{_EMAIL_RE}|{_PHONE_RE}"), 0)
        ).alias("residual"),
    )
    return (
        counted.groupBy("source")
        .agg(
            F.count(F.when(F.col("n_email") + F.col("n_phone") > 0, 1)).alias(
                "docs_with_pii"
            ),
            F.sum("n_email").cast("long").alias("n_emails"),
            F.sum("n_phone").cast("long").alias("n_phones"),
            F.sum("residual").cast("long").alias("residual_matches"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# t7: benchmark contamination — train docs sharing >=3 distinct
# 3-grams with any eval doc (eval = every 50th doc). The check is a
# shingle equi-join (explode distinct grams, hash-join, count per
# pair) — candidate volume ∝ shared-shingle collisions, never
# |train|×|eval| text comparisons. The eval side broadcasts.
# ---------------------------------------------------------------------------
@query(
    "t7_contamination",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 3
        THEN list_transform(range(1, len(t)-1),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        ELSE [array_to_string(t, ' ')] END)) AS g
      FROM toks
    ),
    ev AS (SELECT doc_id AS eval_id, g FROM grams WHERE doc_id % 50 = 0),
    tr AS (SELECT doc_id, g FROM grams WHERE doc_id % 50 <> 0),
    ov AS (
      SELECT tr.doc_id, ev.eval_id, count(*) AS shared
      FROM tr JOIN ev USING (g) GROUP BY 1, 2
    ),
    best AS (
      SELECT doc_id, eval_id, shared,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY shared DESC, eval_id) AS rn
      FROM ov
    )
    SELECT doc_id, eval_id AS matched_eval_id, CAST(shared AS BIGINT) AS shared_grams
    FROM best WHERE rn = 1 AND shared >= 3
    ORDER BY doc_id
    """,
)
def t7_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("g")
    )
    ev = F.broadcast(
        grams.filter(F.col("doc_id") % 50 == 0).select(
            F.col("doc_id").alias("eval_id"), "g"
        )
    )
    tr = grams.filter(F.col("doc_id") % 50 != 0)
    ov = (
        tr.join(ev, "g")
        .groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    # argmax per train doc: most-shared eval doc, smallest id on ties
    best = ov.groupBy("doc_id").agg(
        F.min(F.struct((-F.col("shared")).alias("neg"), F.col("eval_id"))).alias("b")
    )
    return (
        best.select(
            "doc_id",
            F.col("b.eval_id").alias("matched_eval_id"),
            (-F.col("b.neg")).cast("long").alias("shared_grams"),
        )
        .filter(F.col("shared_grams") >= 3)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x4: stratified train/val split — deterministic 10%-of-keyspace val
# per source stratum (md5 prefix <= '19' ≈ 26/256). Portable across
# engines; the split predicate is a scan-level projection, no shuffle
# before the count aggregate.
# ---------------------------------------------------------------------------
@query(
    "x4_stratified_split",
    oracle="""
    SELECT source,
           CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) <= '19'
                THEN 'val' ELSE 'train' END AS split,
           count(*) AS n
    FROM documents
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def x4_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 2
    )
    return (
        docs.select(
            "source", F.when(h <= "19", "val").otherwise("train").alias("split")
        )
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("source", "split")
    )


# ---------------------------------------------------------------------------
# x5: domain mixing — cap every source at ~20 docs by keeping each doc
# with probability min(1, 20/n_source), decided by a deterministic
# md5-uniform (exact in both engines: 32-bit hex / 2^32 is a
# power-of-two division). Per-source rates come from one tiny
# aggregate broadcast back onto the scan.
# ---------------------------------------------------------------------------
@query(
    "x5_domain_mix",
    oracle="""
    WITH rates AS (
      SELECT source, count(*) AS n_total,
             least(1.0, 20.0 / count(*)) AS keep_rate
      FROM documents GROUP BY source
    )
    SELECT d.source, r.n_total,
           count(*) FILTER (WHERE
             CAST(('0x' || substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) / 4294967296.0 < r.keep_rate) AS n_kept
    FROM documents d JOIN rates r ON d.source = r.source
    GROUP BY 1, 2 ORDER BY 1
    """,
)
def x5_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rates = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.least(F.lit(1.0), 20.0 / F.count(F.lit(1))).alias("keep_rate"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .groupBy("source", "n_total")
        .agg(F.count(F.when(u < F.col("keep_rate"), 1)).alias("n_kept"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# x6: sequence packing — per-(lang, shard) streams ordered by doc_id,
# documents assigned to fixed-budget packs by running token count
# (pack budget 512 tokens; a doc belongs to the pack its cumulative
# start falls in). THE window-cumsum shape: one sort per shard, no
# joins. `lang` alone is a handful of values — at 100 TB the dominant
# language would land in ONE window partition (single-task sort), so
# the window key is (lang, shard) with shard = md5(doc_id) % N: pack
# ids (lang, shard, pack_id) stay deterministic and oracle-
# expressible, and parallelism scales with N, not language count.
# Tokens count 0 for empty/whitespace-only text on BOTH engines
# (DuckDB's string_split('') is [''] — guarded with CASE).
# ---------------------------------------------------------------------------
_PACK_SHARDS = 8


@query(
    "x6_sequence_pack",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(('0x' || substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 4))
                  AS BIGINT) % {_PACK_SHARDS} AS shard,
             CASE WHEN {_NORM} = '' THEN 0
                  ELSE len(string_split({_NORM}, ' ')) END AS n_tok
      FROM documents
    ),
    packed AS (
      SELECT lang, shard, n_tok,
             CAST(floor((sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
                                          ROWS UNBOUNDED PRECEDING) - n_tok)
                        / 512.0) AS BIGINT) AS pack_id
      FROM toks
    )
    SELECT lang, shard, pack_id, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS pack_tokens
    FROM packed GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def x6_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(_toks())
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("long")
        % _PACK_SHARDS
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = docs.select(
        "lang", "doc_id", shard.alias("shard"), n_tok.alias("n_tok")
    ).withColumn(
        "pack_id",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / 512).cast("long"),
    )
    return (
        packed.groupBy("lang", "shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("pack_tokens"),
        )
        .orderBy("lang", "shard", "pack_id")
    )


# ---------------------------------------------------------------------------
# s3: ORC round-trip — Spark-native columnar format beyond
# parquet/CSV/JSON; write-then-read must preserve the aggregate
# exactly (same probe as s1's CSV round-trip).
# ---------------------------------------------------------------------------
@query(
    "s3_orc_roundtrip",
    oracle="""
    SELECT p_brand, count(*) AS n, CAST(sum(p_size) AS BIGINT) AS sum_size,
           round(sum(p_retailprice), 2) AS sum_price
    FROM part GROUP BY p_brand ORDER BY p_brand
    """,
)
def s3_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    out = suite_io_dir("part_orc")
    part.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return (
        back.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("p_size").alias("sum_size"),
            F.round(F.sum("p_retailprice"), 2).alias("sum_price"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# s5: JDBC round-trip — the S2/S5 surface (reference reads from and
# overwrites MySQL, dags/etl_grammy_spotify.py:56-58, 374-375)
# executed end-to-end against embedded Apache Derby (ships inside the
# Spark distribution, driver already on the classpath): Spark write →
# Derby → partitioned Spark read (the fan-out scale path: 4 parallel
# range queries on the key) → aggregate. The oracle is the same
# aggregate over the parquet source — equal iff the DB round-trip
# preserved every row and value.
# ---------------------------------------------------------------------------
_DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"


@query(
    "s5_jdbc_roundtrip",
    oracle="""
    SELECT n_regionkey, count(*) AS n,
           CAST(sum(n_nationkey) AS BIGINT) AS sum_key,
           min(n_name) AS first_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def s5_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from workhop2_etl_spark.sources.readers import read_jdbc
    from workhop2_etl_spark.sources.writers import write_jdbc

    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    db = os.path.join(tempfile.mkdtemp(prefix="w2e_s5_derby_"), "db")
    url = f"jdbc:derby:{db};create=true"
    write_jdbc(nation, url, "NATION_RT", mode="overwrite", driver=_DERBY_DRIVER)

    lo, hi = nation.agg(F.min("n_nationkey"), F.max("n_nationkey")).first()
    back = read_jdbc(
        spark,
        url,
        table="NATION_RT",
        partition_column='"n_nationkey"',
        lower_bound=int(lo),
        upper_bound=int(hi),
        num_partitions=4,
        driver=_DERBY_DRIVER,
    )
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_nationkey").cast("long").alias("sum_key"),
            F.min("n_name").alias("first_name"),
        )
        .orderBy("n_regionkey")
    )


# ---------------------------------------------------------------------------
# x8: quality-gate cascade — the filter stage of a training-data
# pipeline with per-rule accountability: every doc gets pass/fail
# plus the FIRST rule that failed it (drop accounting is what lets a
# 100 TB ingest answer "where did my data go"). All thresholds are
# integer cross-multiplications, so both engines compare exact ints —
# no float-boundary flakes. One scan, no joins, no shuffles besides
# the output sort.
# ---------------------------------------------------------------------------
@query(
    "x8_quality_gate",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, n_chars,
             CASE WHEN {_NORM} = '' THEN 0
                  ELSE len(string_split({_NORM}, ' ')) END AS n_tok,
             CASE WHEN {_NORM} = '' THEN 0
                  ELSE len(list_distinct(string_split({_NORM}, ' '))) END AS n_dtok,
             length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_sym,
             length(text) AS n_raw
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN n_chars < 50 THEN 'min_len'
                WHEN n_chars > 20000 THEN 'max_len'
                WHEN n_tok < 10 THEN 'min_tokens'
                WHEN n_dtok * 10 < n_tok * 3 THEN 'repetition'
                WHEN n_sym * 10 > n_raw * 3 THEN 'symbol_ratio'
           END AS first_failed_rule,
           (n_chars >= 50 AND n_chars <= 20000 AND n_tok >= 10
            AND n_dtok * 10 >= n_tok * 3 AND n_sym * 10 <= n_raw * 3) AS passed
    FROM m ORDER BY doc_id
    """,
)
def x8_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    n_tok = F.size(toks)
    n_dtok = F.size(F.array_distinct(toks))
    n_sym = F.length(F.regexp_replace(F.col("text"), "[A-Za-z0-9 ]", ""))
    n_raw = F.length(F.col("text"))
    nc = F.col("n_chars")
    first_fail = (
        F.when(nc < 50, "min_len")
        .when(nc > 20000, "max_len")
        .when(n_tok < 10, "min_tokens")
        .when(n_dtok * 10 < n_tok * 3, "repetition")
        .when(n_sym * 10 > n_raw * 3, "symbol_ratio")
    )
    passed = (
        (nc >= 50) & (nc <= 20000) & (n_tok >= 10)
        & (n_dtok * 10 >= n_tok * 3) & (n_sym * 10 <= n_raw * 3)
    )
    return docs.select(
        "doc_id", first_fail.alias("first_failed_rule"), passed.alias("passed")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# x9: deterministic training-order shuffle — epoch order is the sort
# order of a seeded hash, so any worker can reproduce any slice
# without coordination. The query surfaces the first 100 docs of
# epoch 0: a top-k by hash (TakeOrderedAndProject — never a global
# sort at scale; a full epoch materialization would instead
# repartitionByRange on the same key).
# ---------------------------------------------------------------------------
@query(
    "x9_deterministic_shuffle",
    oracle="""
    SELECT doc_id, md5('42|' || CAST(doc_id AS VARCHAR)) AS shuffle_key
    FROM documents ORDER BY shuffle_key LIMIT 100
    """,
)
def x9_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("42|"), F.col("doc_id").cast("string")))
    return (
        docs.select("doc_id", key.alias("shuffle_key"))
        .orderBy("shuffle_key")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# x10: deterministic per-group sample — 3 docs per lang, "random" by
# md5 order so the sample is stable across runs and engines. Scale
# shape: two-LEVEL top-k. Level 1 ranks within (lang, shard) — the
# heavy window runs on a high-cardinality key, one sorted stream per
# shard (the x6 lesson); level 2 re-ranks only the ≤ k·shards shard
# winners per lang — a trivially small window. Top-k is associative,
# so the result equals a direct single-window rank (which is what the
# oracle runs — DuckDB's single sort IS fine at oracle scale).
# ---------------------------------------------------------------------------

_SAMPLE_K = 3
_SAMPLE_SHARDS = 8


@query(
    "x10_group_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang,
             md5('sample:' || CAST(doc_id AS VARCHAR)) AS ord_key
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, ord_key,
             row_number() OVER (PARTITION BY lang ORDER BY ord_key, doc_id)
               AS rk
      FROM keyed
    )
    SELECT lang, CAST(rk AS INTEGER) AS rk, doc_id
    FROM ranked WHERE rk <= {_SAMPLE_K}
    ORDER BY lang, rk
    """,
)
def x10_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ord_key = F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string")))
    shard = F.pmod(F.xxhash64("doc_id"), F.lit(_SAMPLE_SHARDS))
    keyed = docs.select(
        "doc_id", "lang", ord_key.alias("ord_key"), shard.alias("shard")
    )
    w1 = Window.partitionBy("lang", "shard").orderBy("ord_key", "doc_id")
    winners = keyed.withColumn("rk1", F.row_number().over(w1)).filter(
        F.col("rk1") <= _SAMPLE_K
    )
    w2 = Window.partitionBy("lang").orderBy("ord_key", "doc_id")
    return (
        winners.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= _SAMPLE_K)
        .select("lang", "rk", "doc_id")
        .orderBy("lang", "rk")
    )


# ---------------------------------------------------------------------------
# x14: temperature-scaled language mixing — the multilingual-corpus
# resampling rule (sample languages ∝ share^alpha, alpha<1 upweights
# low-resource languages relative to their natural share; the mT5 /
# XLM-R mixing scheme). Per-language keep rates come from ONE tiny
# aggregate (|languages| rows) broadcast back onto the scan; the
# accept decision is the same deterministic md5-uniform as x5, so the
# sample is reproducible row-locally — no rand(), no global sort. At
# 100 TB the only non-map stage is the |languages|-row aggregate.
# Double-summation caveat: sum(n^alpha) is order-sensitive in the
# last ulp, so keep_rate is rounded to 12 dp in BOTH engines before
# the threshold compare (u's resolution is 2^-32 ≈ 2.3e-10, three
# orders coarser — the boundary cannot flip).
# ---------------------------------------------------------------------------
_TMIX_ALPHA = 0.5
_TMIX_TARGET = 300


@query(
    "x14_temperature_mix",
    oracle=f"""
    WITH per AS (
      SELECT lang, count(*) AS n_total, pow(count(*), {_TMIX_ALPHA}) AS w
      FROM documents GROUP BY lang
    ),
    rates AS (
      SELECT lang, n_total,
             round(least(1.0, {_TMIX_TARGET} * w / (SELECT sum(w) FROM per)
                              / n_total), 12) AS keep_rate
      FROM per
    )
    SELECT d.lang, r.n_total, round(r.keep_rate, 6) AS keep_rate,
           count(*) FILTER (WHERE
             CAST(('0x' || substring(md5('tmix:' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) / 4294967296.0 < r.keep_rate) AS n_kept
    FROM documents d JOIN rates r ON d.lang = r.lang
    GROUP BY 1, 2, 3 ORDER BY 1
    """,
)
def x14_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    per = per.withColumn("w", F.pow("n_total", F.lit(_TMIX_ALPHA)))
    total = per.agg(F.sum("w").alias("sum_w"))
    rates = per.crossJoin(F.broadcast(total)).select(
        "lang",
        "n_total",
        F.round(
            F.least(
                F.lit(1.0),
                _TMIX_TARGET * F.col("w") / F.col("sum_w") / F.col("n_total"),
            ),
            12,
        ).alias("keep_rate"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("tmix:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .groupBy("lang", "n_total", F.round("keep_rate", 6).alias("keep_rate"))
        .agg(F.count(F.when(u < F.col("keep_rate"), 1)).alias("n_kept"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# x15: training-loader manifest — the artifact a data loader actually
# consumes: per (lang, shard) stream ordered by doc_id, every doc's
# exact starting TOKEN OFFSET and length, so a reader can seek any
# doc without scanning its predecessors. Same (lang, shard) window as
# x6's packer (shard = md5 keyspace → parallelism scales with the
# shard knob, not language count); the exclusive running sum IS the
# offset. One sort per shard, no joins.
# ---------------------------------------------------------------------------
@query(
    "x15_pack_manifest",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(('0x' || substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 4))
                  AS BIGINT) % {_PACK_SHARDS} AS shard,
             CASE WHEN {_NORM} = '' THEN 0
                  ELSE len(string_split({_NORM}, ' ')) END AS n_tok
      FROM documents
    )
    SELECT lang, shard, doc_id,
           CAST(sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tok
                AS BIGINT) AS token_offset,
           CAST(n_tok AS BIGINT) AS n_tok
    FROM toks
    ORDER BY lang, shard, doc_id
    """,
)
def x15_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(_toks())
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("long")
        % _PACK_SHARDS
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        docs.select("lang", "doc_id", shard.alias("shard"), n_tok.alias("n_tok"))
        .withColumn(
            "token_offset",
            (F.sum("n_tok").over(w) - F.col("n_tok")).cast("long"),
        )
        .select(
            "lang", "shard", "doc_id", "token_offset", F.col("n_tok").cast("long").alias("n_tok")
        )
        .orderBy("lang", "shard", "doc_id")
    )


# ---------------------------------------------------------------------------
# x16: corpus datasheet — the one-row summary a dataset card quotes:
# sizes, language skew, source fan-out, exact-duplicate rate, length
# profile. One pass over documents for the additive stats, one tiny
# (lang) aggregate for the head language, one distinct-count on the
# normalized-text digest for the dup rate; everything else derives.
# At 100 TB: two scans and a 5-row broadcast — a datasheet should
# never cost more than the data cleaning it describes.
# ---------------------------------------------------------------------------
@query(
    "x16_corpus_datasheet",
    oracle=f"""
    WITH base AS (
      SELECT count(*) AS n_docs,
             CAST(sum(CASE WHEN {_NORM} = '' THEN 0
                           ELSE len(string_split({_NORM}, ' ')) END) AS BIGINT)
               AS total_tokens,
             count(DISTINCT lang) AS n_langs,
             count(DISTINCT source) AS n_sources,
             round(avg(n_chars), 2) AS avg_chars,
             count(DISTINCT md5(coalesce({_NORM}, '<NULL>'))) AS n_distinct_texts
      FROM documents
    ),
    top AS (
      SELECT lang AS top_lang, count(*) AS top_n FROM documents
      GROUP BY lang ORDER BY count(*) DESC, lang LIMIT 1
    )
    SELECT n_docs, total_tokens, n_langs, n_sources,
           CAST(avg_chars AS DOUBLE) AS avg_chars,
           CAST(n_docs - n_distinct_texts AS BIGINT) AS n_exact_dups,
           top_lang,
           round(top_n * 1.0 / n_docs, 4) AS top_lang_share
    FROM base CROSS JOIN top
    """,
)
def x16_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(_toks())).cast("long").alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.countDistinct(F.md5(F.coalesce(norm, F.lit("<NULL>"))))
        .alias("n_distinct_texts"),
    )
    top = (
        docs.groupBy(F.col("lang").alias("top_lang"))
        .agg(F.count(F.lit(1)).alias("top_n"))
        .orderBy(F.desc("top_n"), F.asc("top_lang"))
        .limit(1)
    )
    return base.crossJoin(F.broadcast(top)).select(
        "n_docs",
        "total_tokens",
        "n_langs",
        "n_sources",
        "avg_chars",
        (F.col("n_docs") - F.col("n_distinct_texts")).cast("long").alias("n_exact_dups"),
        "top_lang",
        F.round(F.col("top_n") / F.col("n_docs"), 4).alias("top_lang_share"),
    )


_SIMHASH_BITS_SQL = " + ".join(
    f"CASE WHEN 2 * len(list_filter(hs, h -> (h // {1 << b}) % 2 = 1)) - len(hs) > 0 "
    f"THEN {1 << b} ELSE 0 END"
    for b in range(16)
)


# ---------------------------------------------------------------------------
# x17: the corpus-preparation pipeline END TO END as one lazy plan —
# quality gate (x8's rules) → exact dedup (d1's fingerprint, min-id
# survivor) → SimHash near-dup collapse (d4's 16-bit signature,
# min-id survivor) → deterministic split (x4's md5 keyspace, train
# side) → sequence packing (x6's (lang, shard) running-token
# window). Every stage is the already-oracle-checked kernel; the
# composite proves they CHAIN — one Catalyst DAG, no materialization
# between stages, so column pruning and filter pushdown cross stage
# boundaries. The oracle replays the same five stages as chained
# CTEs. Measured plan (PLAN_r06): 4 corpus shuffles — the two dedup
# aggregates, the (lang, shard) pack window, and the pack rollup —
# plus broadcast semi-joins; not one materialization per stage.
# ---------------------------------------------------------------------------
@query(
    "x17_corpus_pipeline",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, text, lang, n_chars,
             CASE WHEN {_NORM} = '' THEN 0
                  ELSE len(string_split({_NORM}, ' ')) END AS n_tok,
             CASE WHEN {_NORM} = '' THEN 0
                  ELSE len(list_distinct(string_split({_NORM}, ' '))) END AS n_dtok,
             length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_sym,
             length(text) AS n_raw
      FROM documents
    ),
    q AS (
      SELECT doc_id, text, lang, n_tok FROM m
      WHERE n_chars >= 50 AND n_chars <= 20000 AND n_tok >= 10
        AND n_dtok * 10 >= n_tok * 3 AND n_sym * 10 <= n_raw * 3
    ),
    fpk AS (
      SELECT q.*, md5({_NORM}) AS fp FROM q
    ),
    ex AS (
      SELECT doc_id, text, lang, n_tok FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
        FROM fpk) WHERE rk = 1
    ),
    toks2 AS (
      SELECT doc_id,
             CASE WHEN {_NORM} = '' THEN []::VARCHAR[]
                  ELSE string_split({_NORM}, ' ') END AS tk
      FROM ex
    ),
    hv AS (
      SELECT doc_id,
             [(strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(md5(t), 3, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(t), 4, 1)) - 1)
              FOR t IN list_distinct(tk)] AS hs
      FROM toks2
    ),
    sim AS (
      SELECT doc_id, ({_SIMHASH_BITS_SQL}) AS simhash FROM hv
    ),
    keepers AS (SELECT min(doc_id) AS doc_id FROM sim GROUP BY simhash),
    near AS (SELECT ex.* FROM ex JOIN keepers USING (doc_id)),
    train AS (
      SELECT * FROM near
      WHERE substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) > '19'
    ),
    staged AS (
      SELECT lang, doc_id, n_tok,
             CAST(('0x' || substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 4))
                  AS BIGINT) % {_PACK_SHARDS} AS shard
      FROM train
    ),
    packed AS (
      SELECT lang, shard, n_tok,
             CAST(floor((sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
                                          ROWS UNBOUNDED PRECEDING) - n_tok)
                        / 512.0) AS BIGINT) AS pack_id
      FROM staged
    )
    SELECT lang, shard, pack_id, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS pack_tokens
    FROM packed GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def x17_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from workhop2_etl_spark.operators import dedup_text as DD

    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    n_tok = F.size(toks)
    n_dtok = F.size(F.array_distinct(toks))
    n_sym = F.length(F.regexp_replace(F.col("text"), "[A-Za-z0-9 ]", ""))
    n_raw = F.length(F.col("text"))
    nc = F.col("n_chars")
    passed = docs.filter(
        (nc >= 50) & (nc <= 20000) & (n_tok >= 10)
        & (n_dtok * 10 >= n_tok * 3) & (n_sym * 10 <= n_raw * 3)
    ).select("doc_id", "text", "lang", n_tok.alias("n_tok"))

    ex = DD.dedupe_exact(passed)
    # row-based SimHash (the one SimHash kernel): explode + 16
    # conditional sums hash each token once, where a column-form
    # 16-way F.aggregate fold would re-hash every token once PER BIT
    # (no codegen for higher-order functions); the groupBy(doc_id)
    # shuffle is docs-sized after map-side partial aggregation —
    # measured 3.6s → 2.1s on the signature stage alone at sf0.1.
    sim_keep = (
        DD.simhash_signatures(ex)
        .groupBy("simhash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    near = ex.join(sim_keep, "doc_id", "left_semi")
    train = near.filter(
        F.substring(
            F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 2
        )
        > "19"
    )
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("long")
        % _PACK_SHARDS
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = train.select(
        "lang", "doc_id", shard.alias("shard"), "n_tok"
    ).withColumn(
        "pack_id",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / 512).cast("long"),
    )
    return (
        packed.groupBy("lang", "shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("pack_tokens"),
        )
        .orderBy("lang", "shard", "pack_id")
    )


# ---------------------------------------------------------------------------
# x19: MODEL-GATED corpus prep — the production FineWeb-style
# stage the x-family lacked: a linear quality classifier over hashed
# features (operators/text.py, t18's kernel with the same
# pseudo-trained md5-uniform weights) gates documents BEFORE exact
# dedup, then the surviving canonical docs aggregate per language.
# Classifier scores are per-doc (corpus-independent) and identical
# text scores identically, so gate→dedup ≡ dedup→gate — the oracle
# replays gate→dedup. Scale: scoring is one pass (broadcast weights,
# sorted fold), dedup one md5-key aggregate, stats one dimension-
# sized group-by.
# ---------------------------------------------------------------------------

_X19_DIM = 4096


def _x19_oracle() -> str:
    from workhop2_etl_spark.suite.dedup import _hex_int_sql

    fid = _hex_int_sql("md5('feat:' || tok)", 8)
    wid = _hex_int_sql("md5('w:' || CAST(f AS VARCHAR))", 8)
    return f"""
    WITH toks AS (
      SELECT doc_id, {_NORM} AS norm, string_split({_NORM}, ' ') AS t
      FROM documents WHERE {_NORM} <> ''
    ),
    feat AS (
      SELECT doc_id, {fid} % {_X19_DIM} AS feature_id,
             CAST(count(*) AS DOUBLE) / CAST(min(dl) AS DOUBLE) AS x
      FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS tok FROM toks)
      GROUP BY doc_id, feature_id
    ),
    w AS (
      SELECT f AS feature_id,
             ({wid} / 4294967296.0 - 0.5) * 2.0 AS w
      FROM range({_X19_DIM}) t(f)
    ),
    scored AS (
      SELECT doc_id,
             round(1.0 / (1.0 + exp(-(0.0 + list_reduce(
               list(x * w ORDER BY feature_id), (a, b) -> a + b)))), 6)
               AS score
      FROM feat JOIN w USING (feature_id)
      GROUP BY doc_id
    ),
    kept AS (
      SELECT t.doc_id, md5(t.norm) AS fp, len(t.t) AS n_tokens, s.score
      FROM toks t JOIN scored s USING (doc_id)
      WHERE s.score >= 0.5
    ),
    canon AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
        FROM kept) WHERE rk = 1
    )
    SELECT d.lang,
           count(*) AS n_docs,
           CAST(sum(c.n_tokens) AS BIGINT) AS n_tokens,
           round(avg(c.score), 4) AS mean_score
    FROM canon c JOIN documents d USING (doc_id)
    GROUP BY d.lang ORDER BY d.lang
    """


@query("x19_model_gated_corpus", oracle=_x19_oracle())
def x19_model_gated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from workhop2_etl_spark.operators.text import hashed_features, linear_score

    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    corpus = docs.select(
        "doc_id", "lang", norm.alias("norm"), _toks().alias("toks")
    ).filter(F.size("toks") > 0)

    wid = F.conv(
        F.substring(F.md5(F.concat(F.lit("w:"), F.col("id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    weights = spark.range(_X19_DIM).select(
        F.col("id").alias("feature_id"),
        ((wid.cast("double") / F.lit(4294967296.0) - F.lit(0.5)) * F.lit(2.0)).alias("w"),
    )
    scored = linear_score(hashed_features(corpus, dim=_X19_DIM), weights)

    kept = (
        corpus.join(scored.filter(F.col("score") >= 0.5), "doc_id")
        .select(
            "doc_id", "lang", F.md5("norm").alias("fp"),
            F.size("toks").alias("n_tokens"), "score",
        )
    )
    rk = F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
    canon = kept.withColumn("rk", rk).filter(F.col("rk") == 1)
    return (
        canon.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(F.avg("score"), 4).alias("mean_score"),
        )
        .orderBy("lang")
    )
