"""Document-deduplication operators for LLM training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dup detection
over a `documents(doc_id, text)` table. Everything is expression-only
DataFrame code — the hash family is md5 (a built-in in Spark, DuckDB,
and virtually every engine), so signatures are reproducible
cross-engine for oracle checking, and no Python runs per-row.

Scale notes (the whole point of LSH):
* exact dedup — one hash aggregate on the fingerprint; shuffles the
  16-byte digest, not the documents.
* MinHash LSH — candidate generation is an equi-join on (band_id,
  band_key): shuffle ∝ corpus size × n_bands, never the O(n²) pair
  space. Verification (true Jaccard) runs only on candidates.
* SimHash — 16-bit signature per doc; near-dups = equal signature
  (or equal on rotated bands for 1-bit tolerance).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from workhop2_etl_spark.operators.text import fingerprint

# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------


def _norm_text(c: Column) -> Column:
    """Lower-cased text with every whitespace run collapsed to one
    space and the ends trimmed: its tokens are its space-separated
    words."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def _norm_tokens(c: Column) -> Column:
    t = _norm_text(c)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, " "))


def _ngrams_of_norm(t: Column, n: int, short_whole: bool = False) -> Column:
    """Word n-grams of normalized text ``t`` (NULL for NULL text) in
    one regex pass: each match is a zero-width lookahead at a word
    start that captures the n words from there. With ``short_whole``
    a text of fewer than n words captures itself whole, at the start
    of input only (a lookbehind that no character precedes)."""
    grams = r"\S+(?: \S+){%d}" % (n - 1)
    if short_whole and n > 1:
        grams += r"|(?<![\s\S])\S+(?: \S+){0,%d}$" % (n - 2)
    return F.regexp_extract_all(t, F.lit(f"(?:^| )(?=({grams}))"), 1)


def word_ngrams(c: Column, n: int) -> Column:
    """All word n-grams (repeats kept, document order) of normalized
    text; empty for NULL text and for documents shorter than n words.

    THE one sliding-n-gram kernel — word_shingles (d-family), the t5
    repetition ratio and the t10 bigram counts all build on it. One
    ``regexp_extract_all`` over the normalized string, with no token
    array, zip or per-element lambda in between."""
    return F.coalesce(
        _ngrams_of_norm(_norm_text(c), n), F.array().cast("array<string>")
    )


def word_shingles(c: Column, n: int = 3) -> Column:
    """Distinct word n-grams of normalized text (the ``word_ngrams``
    kernel). Documents shorter than n words contribute their whole
    normalized text as one shingle, captured by the same regex pass
    (so they still participate in dedup); empty and whitespace-only
    texts have none, and NULL text has the one shingle ``''``."""
    return F.coalesce(
        F.array_distinct(_ngrams_of_norm(_norm_text(c), n, short_whole=True)),
        F.array(F.lit("")),
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (post-normalization) documents:
    fingerprint → groupBy → keep groups of ≥2. Returns
    (fingerprint, n_docs, doc_ids sorted).

    NULL-text documents are excluded: their fingerprint is NULL, and
    unknown content is not evidence of identical content (grouping
    them would report every failed extraction as one giant dup
    group)."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
        .filter(F.col("fingerprint").isNotNull())
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def dedupe_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per identical-content group —
    the canonical first stage of a corpus dedup. Window-free: argmin
    via groupBy on the fingerprint, then semi-join.

    NULL-text rows all survive: their fingerprint is NULL, and
    deduping on "content unknown" would silently delete every failed
    extraction but one. Route them to a quality gate instead."""
    tagged = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("__fp"))
    keep = (
        tagged.filter(F.col("__fp").isNotNull())
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
        .unionByName(tagged.filter(F.col("__fp").isNull()).select(id_col))
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

#: Mersenne prime modulus for the affine MinHash family.
MINHASH_P = (1 << 31) - 1


def minhash_coeffs(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for hash i, derived from md5 of the index —
    reproducible by any engine/test without a random state. a ∈ [1, P-1],
    b ∈ [0, P-1]."""
    import hashlib

    h = hashlib.md5(f"mh:{i}".encode()).hexdigest()
    return int(h[:8], 16) % (MINHASH_P - 1) + 1, int(h[8:16], 16) % MINHASH_P


def _shingle_base_hash(s: Column) -> Column:
    """32-bit base hash of a shingle: first 8 hex chars of md5, mod P.
    md5 is the one string hash every engine computes identically; the
    affine family then needs no further string hashing."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long") % MINHASH_P


def lsh_bands(sig: Column, num_bands: int = 4, band_size: int = 4) -> Column:
    """Split a signature into bands and hash each band to a bucket
    key: array of (band_id, band_key) structs. Docs sharing ANY band
    bucket become candidate pairs. NULL signature components (empty
    docs) yield NULL band keys, filtered out downstream."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.when(
                    F.array_min(F.slice(sig, b * band_size + 1, band_size)).isNotNull(),
                    F.md5(F.concat_ws("|", F.slice(sig, b * band_size + 1, band_size))),
                ).alias("band_key"),
            )
            for b in range(num_bands)
        ]
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures as a DataFrame (id, sig: array<string>).

    Hash family: h_i(s) = (a_i · x + b_i) mod P over ONE md5-derived
    base hash x per shingle — one string hash instead of num_hashes,
    with the family spread by cheap integer arithmetic (the classic
    universal-hash construction; a_i·x < 2^62 so 64-bit ints never
    overflow, which matters because SQL engines raise on overflow
    rather than wrap).

    Row-based formulation: explode shingles → one base hash per
    shingle → num_hashes affine ``min`` aggregates → one shuffle by
    id. The per-shingle work is flat rows inside codegen, and crucially
    the aggregation is a plan barrier — downstream self-joins reuse
    the computed signature instead of inlining the whole shingle+hash
    expression tree into both join sides (which compiled for minutes
    at mere hundreds of documents).
    Empty docs keep a row (explode_outer) with an all-NULL signature,
    and so do NULL-text docs: unknown content is not evidence of
    similar content, so they never share a band and never pair
    (``exact_dup_groups`` excludes them for the same reason).
    """
    text = F.col(text_col)
    sh = df.select(
        F.col(id_col),
        F.explode_outer(
            F.when(text.isNotNull(), word_shingles(text, shingle_n))
        ).alias("s"),
    )
    based = sh.select(id_col, _shingle_base_hash(F.col("s")).alias("__x"))
    aggs = []
    for i in range(num_hashes):
        a, b = minhash_coeffs(i)
        aggs.append(F.min((F.lit(a) * F.col("__x") + F.lit(b)) % MINHASH_P).alias(f"__h{i}"))
    wide = based.groupBy(id_col).agg(*aggs)
    return wide.select(
        id_col,
        F.array(*[F.col(f"__h{i}").cast("string") for i in range(num_hashes)]).alias("sig"),
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b, with the bucket count).

    signatures → explode(bands) → self-equi-join on (band_id,
    band_key) → distinct pairs. The join key includes band_id so
    buckets from different bands never cross-match. Shuffle cost is
    corpus × num_bands rows of 16-byte keys — never the O(n²) pair
    space.
    """
    if num_hashes % num_bands:
        raise ValueError("num_hashes must be a multiple of num_bands")
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    banded = (
        sigs.select(
            F.col(id_col),
            F.explode(lsh_bands(F.col("sig"), num_bands, num_hashes // num_bands)).alias("b"),
        )
        .select(id_col, F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key"))
        .filter(F.col("band_key").isNotNull())
    )
    # Pre-partition the banded relation on the join keys, so both
    # sides of the self-join can read one exchange instead of each
    # re-running the signature pipeline (normalize + shingle + one
    # md5 per shingle, the dominant cost). The banded rows are ~30
    # bytes each (id + band key), so the one shuffle is cheap at any
    # corpus size and the join needs no further exchange. The MERGE
    # hint keeps the planner from broadcast-building one side (its
    # size estimate is small), which would re-run that lineage in the
    # build. The static plan still carries both lineages: the reuse is
    # an adaptive runtime property of the executed plan, where AQE
    # plans the second side as a ReusedExchange of the first side's
    # band exchange (pinned in tests/test_plan_quality.py).
    banded = banded.repartition("band_id", "band_key")
    a = banded.alias("a").hint("merge")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


# ---------------------------------------------------------------------------
# Jaccard verification / n-gram Jaccard similarity
# ---------------------------------------------------------------------------


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two (distinct-element) arrays; 0 when both
    empty."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))


def _fanned_out(df: DataFrame) -> DataFrame:
    """``df`` spread round-robin over ``defaultParallelism`` partitions
    when it arrives in fewer: a one-file input is one scan task, and
    every per-document stage downstream (normalize, shingle, one md5
    per shingle) would run on one core. The count is explicit because
    AQE never coalesces a ``repartition(n)``. An input with enough
    partitions, or that is itself a shuffle's output (an adaptive
    plan, partitioned at run time), is returned as is, so no shuffle
    is added to an input that is already spread. Reading the partition
    count of a shuffle-free plan runs no job."""
    n = df.sparkSession.sparkContext.defaultParallelism
    qe = df._jdf.queryExecution()
    if qe.executedPlan().getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return df
    if qe.toRdd().getNumPartitions() >= n:
        return df
    return df.repartition(n)


def near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact shingle-Jaccard
    verification → pairs ≥ threshold. The expensive O(n²) comparison
    never happens; Jaccard runs only on LSH survivors. An input in
    fewer partitions than the default parallelism is spread over it
    first (``_fanned_out``), so both shingle stages use every core.
    NULL-text documents never pair (``minhash_signatures``)."""
    df = _fanned_out(df)
    cands = minhash_candidates(df, text_col, id_col, num_hashes, num_bands, shingle_n)
    sh = df.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("__shingles")
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__shingles").alias("__sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("__shingles").alias("__sh_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared_bands",
            F.round(jaccard(F.col("__sh_a"), F.col("__sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash16(c: Column) -> Column:
    """16-bit SimHash over word tokens.

    Per token, the hash value is the first 4 hex chars of md5 (16
    bits); each bit votes +1/-1 weighted by presence; the signature
    bit is 1 iff the vote is positive. Small enough to stay exact in
    integer SQL arithmetic in any oracle engine, while exercising the
    real SimHash shape (per-bit majority over token hashes).
    """
    toks = F.array_distinct(_norm_tokens(c))
    hashes = F.transform(toks, lambda t: F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("long"))

    def vote_for_bit(b: int):
        # 2-arg lambda via closure — see hash_with note above.
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bits = []
    for b in range(16):
        vote = F.aggregate(hashes, F.lit(0), vote_for_bit(b))
        bits.append(F.when(vote > 0, F.lit(1 << b)).otherwise(F.lit(0)))
    total = bits[0]
    for x in bits[1:]:
        total = total + x
    return total.cast("int")


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash as a DataFrame (id, simhash) — row-based like
    ``minhash_signatures``: explode distinct tokens, hash each once,
    take the 16 per-bit majority votes as conditional-sum aggregates
    in a single groupBy. Empty docs → simhash 0."""
    tok = df.select(
        F.col(id_col),
        F.explode_outer(F.array_distinct(_norm_tokens(F.col(text_col)))).alias("t"),
    )
    h = F.conv(F.substring(F.md5(F.col("t")), 1, 4), 16, 10).cast("long")
    votes = [
        F.sum(
            F.when(F.col("t").isNull(), 0)
            .when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"__v{b}")
        for b in range(16)
    ]
    wide = tok.groupBy(id_col).agg(*votes)
    sim = sum(
        (F.when(F.col(f"__v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)) for b in range(16)),
        F.lit(0),
    )
    return wide.select(id_col, sim.cast("int").alias("simhash"))


def simhash_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Documents sharing a SimHash value — near-dup clusters at
    hamming distance ~0. (Tolerance >0 = re-join on band rotations;
    exposed as the LSH path instead.)"""
    return (
        simhash_signatures(df, text_col, id_col)
        .groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )
