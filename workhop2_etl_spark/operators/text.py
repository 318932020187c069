"""Text-analysis operators for LLM training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): language
identification, quality scoring, token counting, and document
fingerprinting over a `documents(text)` table. All pure column
expressions — at 100 TB these run inside whole-stage codegen with
zero Python in the hot path; nothing here shuffles (per-row only).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Tokenization
# ---------------------------------------------------------------------------


def tokens(c: Column) -> Column:
    """Whitespace tokens of trimmed text; empty text → empty array
    (split('') would yield [''])."""
    t = F.trim(c)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def token_count(c: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(c))


#: A BPE-ish subword proxy: alternating letter-runs / digit-runs /
#: single punctuation marks — the standard cheap stand-in for a real
#: tokenizer when estimating token budgets at corpus scale.
_BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpeish_token_count(c: Column) -> Column:
    """Count of BPE-ish units (regexp_count — one pass, no array)."""
    return F.regexp_count(c, F.lit(_BPE_ISH))


# ---------------------------------------------------------------------------
# Quality scoring (length / punctuation / stopword / repetition ratios)
# ---------------------------------------------------------------------------

_STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"]


def punct_ratio(c: Column) -> Column:
    """Punctuation chars / total chars (0 for empty)."""
    n = F.length(c)
    p = F.length(F.regexp_replace(c, r"[^.,;:!?'\"()\[\]-]", ""))
    return F.when(n > 0, p.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(c: Column, stopwords: list[str] | None = None) -> Column:
    """Stopword tokens / total tokens (0 for empty docs)."""
    sw = F.array(*[F.lit(w) for w in (stopwords or _STOPWORDS_EN)])
    toks = tokens(F.lower(c))
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(c: Column) -> Column:
    """Composite [0,1] heuristic: length band + punctuation sanity +
    stopword presence. Deterministic, expression-only; the weights
    mirror common pretraining-filter recipes (length/punct/stopword
    gates), not a learned model."""
    n_chars = F.length(c)
    len_ok = F.when((n_chars >= 50) & (n_chars <= 20_000), 1.0).otherwise(0.3)
    punct_ok = F.when(punct_ratio(c) <= 0.3, 1.0).otherwise(0.5)
    sw_ok = F.when(stopword_ratio(c) >= 0.05, 1.0).otherwise(0.6)
    return F.round((len_ok * 0.4 + punct_ok * 0.3 + sw_ok * 0.3), 4)


# ---------------------------------------------------------------------------
# Language identification (stopword-profile heuristic)
# ---------------------------------------------------------------------------

#: Minimal per-language function-word profiles (public linguistic
#: common knowledge). Scoring = fraction of tokens in the profile;
#: argmax wins, ties broken by language code for determinism.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "los", "las"],
    "fr": ["le", "la", "les", "de", "des", "et", "un", "une", "du", "est"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"],
    "zh": ["的", "了", "是", "我", "不", "在", "有", "人", "这", "他"],
}


def lang_id(c: Column) -> Column:
    """Predicted language = argmax profile score (ties → lexicographic
    smallest code; all-zero → 'und').

    Argmax as array_min over (−score, lang) structs — struct ordering
    is lexicographic, so the min is highest-score-then-smallest-code.
    (A chained when-fold would embed each prior expression twice per
    step: exponential expression growth, measured 129s vs <2s here.)
    """
    toks = tokens(F.lower(c))
    n = F.size(toks)
    entries, scores = [], []
    for lang in sorted(LANG_PROFILES):
        prof = F.array(*[F.lit(w) for w in LANG_PROFILES[lang]])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(prof, t)))
        score = F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))
        scores.append(score)
        entries.append(F.struct((-score).alias("neg"), F.lit(lang).alias("l")))
    best = F.array_min(F.array(*entries))
    return F.when(F.greatest(*scores) > 0, best["l"]).otherwise(F.lit("und"))


# ---------------------------------------------------------------------------
# Fingerprinting
# ---------------------------------------------------------------------------


def fingerprint(c: Column) -> Column:
    """Normalized-content fingerprint: md5 over lowercased,
    whitespace-collapsed text. Identical content → identical
    fingerprint regardless of case/spacing — the exact-dedup key."""
    normed = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    return F.md5(normed)


# ---------------------------------------------------------------------------
# Hashed-linear text classification (model-based quality filtering)
# ---------------------------------------------------------------------------


def hashed_features(
    df: DataFrame,
    id_col: str = "doc_id",
    tok_col: str = "toks",
    dim: int = 4096,
    salt: str = "feat:",
) -> DataFrame:
    """Hashing-trick bag of words: (id, feature_id, x) with
    feature_id = md5-32-bit(salt || token) % dim and x = tf / dl
    (L1-normalized term frequency) — the fastText / Vowpal-Wabbit
    featurization that makes linear text models corpus-scale: no
    vocabulary table, no fit step, a fixed feature space any engine
    reproduces from md5. One shuffle (the (doc, feature) aggregate);
    documents with no tokens produce no rows. Collisions fold
    features together — the standard hashing-trick tradeoff, priced
    by ``dim``.

    Reference parity: none (the reference has no model inference);
    north-star pipeline stage — model-based quality filtering is how
    production corpora gate documents (public fastText-classifier
    pipelines), and a linear scorer over hashed features runs
    JVM-side as plain join + fold, no Python.
    """
    if dim < 2:
        raise ValueError(f"hashed_features dim must be >= 2, got {dim}")
    toks = df.select(
        F.col(id_col),
        F.size(tok_col).alias("__dl"),
        F.explode(tok_col).alias("__tok"),
    )
    fid = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col("__tok"))), 1, 8),
        16,
        10,
    ).cast("long") % F.lit(dim)
    return (
        toks.select(id_col, "__dl", fid.alias("feature_id"))
        .groupBy(id_col, "feature_id")
        .agg(
            (
                F.count(F.lit(1)).cast("double")
                / F.min("__dl").cast("double")
            ).alias("x")
        )
    )


def linear_score(
    features: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    bias: float = 0.0,
    round_digits: int = 6,
) -> DataFrame:
    """Per-document sigmoid(bias + Σ x·w) from hashed features and a
    broadcast weight relation (feature_id, w) — linear-model
    inference as a map-side join plus a DETERMINISTIC per-document
    fold (the BM25 ``_seq_sum`` discipline: contributions sorted by
    feature_id, so the double sum is cross-engine bit-stable instead
    of hash-aggregate order-dependent). Absent features contribute 0
    (inner join); a document with no scoring features is absent from
    the result — outer-join against the corpus if every doc needs a
    row. Returns (id, score, label) with label = score >= 0.5
    (i.e. the pre-sigmoid margin ≥ 0)."""
    from workhop2_etl_spark.operators.retrieval import _seq_sum

    contrib = features.join(F.broadcast(weights), "feature_id").select(
        id_col,
        F.struct(
            F.col("feature_id").alias("key"),
            (F.col("x") * F.col("w")).alias("v"),
        ).alias("c"),
    )
    z = F.lit(float(bias)) + _seq_sum(F.collect_list("c"))
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return (
        contrib.groupBy(id_col)
        .agg(
            F.round(score, round_digits).alias("score"),
        )
        .withColumn("label", (F.col("score") >= 0.5).cast("int"))
    )
