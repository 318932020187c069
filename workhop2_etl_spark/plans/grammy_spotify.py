"""The Grammy×Spotify enrichment pipeline — the reference's whole DAG
as one lazy Spark plan (SURVEY.md §3.1).

Stages (each a pure DataFrame→DataFrame function, composable and
testable in isolation):

    clean → normalize → [impute] → match → union → finalize

Two modes (SURVEY.md §3.2 — the reference contains a dead imputation
pass, so there are two defensible semantics):

* ``mode="spec"`` (default) — the README-documented pipeline: blanks
  are real NULLs, the album/song imputation and best-new-artist fill
  run, fuzzy matching guards against vacuous containment.
* ``mode="strict"`` — byte-level reproduction of the *shipped* DAG
  (dags/etl_grammy_spotify.py:186-297): imputation skipped, NULLs
  stringify to 'nan' in norm columns (the pandas astype(str) quirk),
  the artist normalizer switches to the separator-only variant (F3),
  and containment is vacuous-true for empty search strings.

Known deliberate deltas from the reference (documented, not bugs):
* ties in argmax picks get a total-order tiebreak (popularity desc,
  track_id, track_genre) — pandas' quicksort tie order is
  nondeterministic (SURVEY §7.4 item 2);
* pandas ``str.contains`` treats the needle as a regex (unescaped
  user data — a latent crash in the reference when an artist name
  contains '('); containment here is always literal substring.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from workhop2_etl_spark.functions import clean
from workhop2_etl_spark.operators.dedupe import argmax_dedupe
from workhop2_etl_spark.operators.joins import fuzzy_enrich
from workhop2_etl_spark.operators.union_ops import union_by_name
from workhop2_etl_spark.plans.schemas import (
    FINAL_DROP_COLS,
    FLOAT_COLS,
    INT_COLS,
    SONG_KEYWORDS,
)

# ---------------------------------------------------------------------------
# Stage 1 — clean (dags/etl_grammy_spotify.py:90-93)
# ---------------------------------------------------------------------------


def clean_grammy(grammy: DataFrame, mode: str = "spec") -> DataFrame:
    """P1 + P2: drop rows with neither nominee nor artist; drop unused
    columns (Catalyst would prune them anyway — kept for API parity).

    strict: the shipped DAG compares `== ''` after a CSV round-trip
    that turned '' into NaN, so the filter drops only literal ''
    (NULLs pass). spec: missing means blank-or-NULL.
    """
    if mode == "strict":
        cond = ~((F.col("nominee") == "") & (F.col("artist") == ""))
        # NULL comparisons yield NULL → filter keeps only TRUE; the
        # pandas original keeps NaN rows, so coalesce to TRUE.
        cond = F.coalesce(cond, F.lit(True))
    else:
        blank = lambda c: F.col(c).isNull() | (F.trim(F.col(c)) == "")  # noqa: E731
        cond = ~(blank("nominee") & blank("artist"))
    return grammy.filter(cond).drop("published_at", "updated_at", "workers", "img")


# ---------------------------------------------------------------------------
# Stage 2 — normalize (:190-206 strict; :105-119 spec)
# ---------------------------------------------------------------------------


def _str_nan(c: Column) -> Column:
    """pandas astype(str) semantics: NULL → the literal string 'nan'
    (the shipped DAG's second normalization pass, :201 — SURVEY §3.2)."""
    return F.coalesce(c.cast("string"), F.lit("nan"))


def normalize_tables(
    grammy: DataFrame, spotify: DataFrame, mode: str = "spec"
) -> tuple[DataFrame, DataFrame]:
    """Add ``*_norm`` helper columns to both tables.

    grammy: category/nominee/artist through the full normalizer (F1).
    spotify: track/album through lower+trim (F2); artists through F1
    in spec mode but the separator-only variant (F3) in strict mode —
    the shipped DAG really does use two different artist normalizers
    (:198 vs :206).
    """
    if mode == "strict":
        g_in = _str_nan
        s_in = _str_nan
        artists_norm = clean.normalize_separators_only(_str_nan(F.col("artists")))
    else:
        g_in = lambda c: c  # noqa: E731 — normalize_text already coalesces NULL→''
        s_in = lambda c: c  # noqa: E731
        artists_norm = clean.normalize_text(F.col("artists"))

    g = grammy.withColumns(
        {f"{c}_norm": clean.normalize_text(g_in(F.col(c))) for c in ("category", "nominee", "artist")}
    )
    s = spotify.withColumns(
        {
            "track_name_norm": clean.normalize_simple(s_in(F.col("track_name"))),
            "album_name_norm": clean.normalize_simple(s_in(F.col("album_name"))),
            "artists_orig": F.col("artists"),
            "artists_norm": artists_norm,
        }
    )
    return g, s


# ---------------------------------------------------------------------------
# Stage 3 — impute (spec mode only; the reference's :99-180 pass is dead
# code after the :186 reset, but README.md:76-80 calls it core semantics)
# ---------------------------------------------------------------------------


def impute_artists(grammy: DataFrame, spotify: DataFrame) -> DataFrame:
    """J1 + Unknown-fill + J2 + F9, README-spec semantics.

    J1: album-category rows with a blank artist take the artists of
    the most popular spotify album whose name equals the nominee.
    Then remaining blanks become 'Unknown' (:138). J2: song-category
    rows still 'Unknown' take artist from the most popular exact
    track-title match. F9: 'best new artist' rows with no artist take
    the nominee itself. All write-backs are keyed joins + coalesce —
    no row identity needed (SURVEY §7.4 item 1).
    """
    cols = grammy.columns
    is_blank = F.col("artist_norm") == ""

    # J1 — album imputation: dedupe source to 1 row per album key.
    albums = argmax_dedupe(
        spotify.filter(F.col("album_name_norm") != "").select(
            "album_name_norm", "artists_orig", "popularity", "track_id"
        ),
        ["album_name_norm"],
        [F.desc_nulls_last("popularity"), F.asc("track_id")],
    ).select(F.col("album_name_norm").alias("__j1_key"), F.col("artists_orig").alias("__j1_artist"))
    g = grammy.join(
        F.broadcast(albums),
        (F.col("category_norm").contains("album"))
        & is_blank
        & (F.col("nominee_norm") == F.col("__j1_key")),
        "left",
    )
    # write-back, then :138 — remaining blanks → 'Unknown'.
    artist = F.coalesce(F.col("__j1_artist"), F.col("artist"))
    artist = F.when(is_blank & (artist.isNull() | (artist == "")), "Unknown").otherwise(artist)
    g = _set_artist(g, cols, artist)

    # J2 — song imputation for rows that are still 'Unknown'.
    tracks = argmax_dedupe(
        spotify.filter(F.col("track_name_norm") != "").select(
            "track_name_norm", "artists_orig", "popularity", "track_id"
        ),
        ["track_name_norm"],
        [F.desc_nulls_last("popularity"), F.asc("track_id")],
    ).select(F.col("track_name_norm").alias("__j2_key"), F.col("artists_orig").alias("__j2_artist"))
    g = g.join(
        F.broadcast(tracks),
        clean.keyword_match(F.col("category_norm"), SONG_KEYWORDS)
        & (F.col("artist") == "Unknown")
        & (F.col("nominee_norm") == F.col("__j2_key")),
        "left",
    )
    # write-back, then F9 — direct categories: nominee IS the artist (:173-180).
    artist = F.coalesce(F.col("__j2_artist"), F.col("artist"))
    artist = clean.impute_when(
        artist,
        F.col("category_norm").isin("best new artist")
        & (artist == "Unknown")
        & (F.col("nominee_norm") != ""),
        F.col("nominee"),
    )
    return _set_artist(g, cols, artist)


def _set_artist(df: DataFrame, cols: list[str], artist: Column) -> DataFrame:
    """``cols`` of ``df`` with ``artist`` in place of the artist column:
    one projection that also drops the join's helper columns."""
    return df.select(*[artist.alias(c) if c == "artist" else F.col(c) for c in cols])


# ---------------------------------------------------------------------------
# Stage 4 — match (:209-250): split song/other, spotify_top, fuzzy join
# ---------------------------------------------------------------------------


#: spotify_top's key: one row per (artists, track title) after normalizing.
_TRACK_KEY = ["artists_norm", "track_name_norm"]


def build_spotify_top(spotify: DataFrame) -> DataFrame:
    """J4 — most popular version per (artists_norm, track_name_norm)
    (:216-219), with a deterministic tiebreak the pandas quicksort
    lacks. The result is bounded by the distinct key count (≤114k in
    the reference); the fuzzy join broadcasts only its key and pick
    columns."""
    return argmax_dedupe(
        spotify,
        _TRACK_KEY,
        [F.desc_nulls_last("popularity"), F.asc("track_id"), F.asc("track_genre")],
    )


def match_songs(grammy: DataFrame, spotify_top: DataFrame, mode: str = "spec") -> DataFrame:
    """J3 — the two-pass fuzzy enrichment (:222-250).

    Pass 1: artists contain the grammy artist AND track title equals
    the nominee (equality arm → hash join). Pass 2 (misses only):
    artists contain the artist AND track title contains the nominee's
    pre-'(' prefix (theta arm: the artist containment runs as a
    broadcast NLJ over distinct values, the title check on the
    surviving candidates). Best match = highest
    popularity. The match carries only the winner's track key; the
    rest of its spotify_top row joins back once on that key. Unmatched
    rows keep NULL enrichment. Output rows == input rows (left-join
    conservation).

    strict: contains('') is vacuously true (and 'nan' artists really
    search for the substring 'nan') — exactly the shipped semantics.
    spec: a blank/unknown artist degrades to title-only matching
    instead of matching everything.
    """
    g = grammy.withColumn("__song_prefix", clean.prefix_before(F.col("nominee_norm")))

    if mode == "strict":
        needle = F.col("artist_norm")
        prefix_cond = F.col("track_name_norm").contains(F.col("__song_prefix"))
    else:
        # a vacuous artist searches for '', which every artists_norm
        # (never NULL: normalize_tables coalesces) contains
        vacuous = F.col("artist_norm").isin("", "unknown", "nan")
        needle = F.when(vacuous, F.lit("")).otherwise(F.col("artist_norm"))
        prefix_cond = (F.col("__song_prefix") != "") & F.col("track_name_norm").contains(
            F.col("__song_prefix")
        )

    artist_cond = F.col("artists_norm").contains(needle)
    exact = artist_cond & (F.col("track_name_norm") == F.col("nominee_norm"))
    fallback = artist_cond & prefix_cond

    # Aggregate-argmax (min over a (pick, payload) struct) instead of
    # window row_number: a vacuous artist condition can fan one grammy
    # row out to the whole spotify_top, and the partial aggregate
    # collapses that on the map side before any shuffle (see
    # operators/joins.py:fuzzy_enrich scale note). Pick order =
    # popularity desc (negated), then track_id/track_genre asc —
    # nulls pushed last via sentinels to match desc_nulls_last /
    # asc_nulls_last window semantics.
    enriched = fuzzy_enrich(
        g,
        spotify_top,
        left_key="id",
        exact_cond=exact,
        fallback_cond=fallback,
        # popularity desc (nulls last via sentinel); track_id and
        # track_genre are non-null by schema/data contract.
        pick_min=[
            -F.coalesce(F.col("popularity"), F.lit(-(1 << 31))).cast("long"),
            F.col("track_id"),
            F.col("track_genre"),
        ],
        # only what the conditions and the pick read crosses the
        # broadcasts and the argmax; the payload is the track key,
        # unique in spotify_top by construction (build_spotify_top)
        right_cols=[*_TRACK_KEY, "popularity", "track_id", "track_genre"],
        payload_cols=_TRACK_KEY,
        # the match depends only on the normalized keys — grammy rows
        # sharing (artist, nominee) resolve once.
        probe_keys=["artist_norm", "nominee_norm", "__song_prefix"],
        # artist_cond is a conjunct of the fallback: pass 2 tests it
        # over distinct (needle, artists_norm) values, then the titles.
        fallback_contains=("artists_norm", needle),
    )
    # the rest of the winning track joins back once, on its key; a miss
    # keeps a NULL key and so NULL enrichment
    return enriched.join(spotify_top, _TRACK_KEY, "left").select(*grammy.columns, *spotify_top.columns)


def split_song_other(grammy: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P7 — route rows by song keywords in the category (:209-213)."""
    mask = clean.keyword_match(F.col("category_norm"), SONG_KEYWORDS)
    return grammy.filter(mask), grammy.filter(~mask)


# ---------------------------------------------------------------------------
# Stage 5 — union + finalize (:253, :266-293)
# ---------------------------------------------------------------------------


def finalize(merged: DataFrame, mode: str = "spec") -> DataFrame:
    """Drop helper columns, apply the N/A string-sentinel boundary,
    winner→bool, and the typed casts (:266-293).

    The reference fills NaN with 'N/A' across the whole frame and then
    un-fills numerics back to NaN for the casts — a no-op round-trip
    for numeric columns. Here strings get the sentinel and numerics
    are cast directly (same result, one pass). One projection: each
    kept column is converted once, in place.
    """

    def final(c: str, dtype: str) -> Column:
        if c == "winner":
            return clean.str_to_bool(F.col(c))
        if c in FLOAT_COLS:
            return F.col(c).try_cast("double")
        if c in INT_COLS:
            return F.col(c).try_cast("double").try_cast("long")
        if dtype == "string":
            return clean.null_to_sentinel(F.col(c))
        return F.col(c)

    return merged.select(
        *[final(c, t).alias(c) for c, t in merged.dtypes if c not in FINAL_DROP_COLS]
    )


# ---------------------------------------------------------------------------
# The whole DAG
# ---------------------------------------------------------------------------


def run_pipeline(grammy: DataFrame, spotify: DataFrame, mode: str = "spec") -> DataFrame:
    """extract → clean → normalize → [impute] → match → union → finalize.

    One lazy logical plan end-to-end: the reference's four Airflow
    tasks with CSV/XCom hops (SURVEY §3.1) collapse into a single
    Catalyst-optimized DAG, cut only at the pins below.

    The call itself runs Spark jobs. Under AQE, creating a
    ``localCheckpoint(eager=False)`` RDD finalizes the adaptive plan
    under it, so each pin's shuffle stages run here rather than in the
    caller's sink: 10 jobs in spec mode at reference scale (4 for the
    imputed-grammy pin, 1 for spotify_top, 5 for the fuzzy match's
    pass-1 pin in ``operators/joins.py``; the normalized-Spotify pin
    has no shuffle and runs none). The pins pay for themselves (warm
    reference-scale spec op, 4 cores, median of 8): removing the
    grammy, spotify_top and pass-1 pins took it from 2.07 to 2.84 s,
    removing only the grammy pin cost +0.34 s and only the spotify_top
    pin +0.23 s.
    """
    if mode not in ("spec", "strict"):
        raise ValueError(f"unknown mode: {mode}")
    g = clean_grammy(grammy, mode)
    g, s = normalize_tables(g, spotify, mode)
    if mode == "spec":
        # J1, J2 and J4 all read the normalized tracks: pinned, the CSV
        # is parsed and normalized once instead of three times. Strict
        # mode has one consumer (J4) and no pin.
        s = s.localCheckpoint(eager=False)
        g = impute_artists(g, s)
        # Re-normalize so the match stage sees imputed artists (the
        # reference's dead pass left the norm column stale — in spec
        # mode that would silently route imputed rows through the
        # vacuous-match branch).
        g = g.withColumn("artist_norm", clean.normalize_text(F.col("artist")))
    # Pin the two intermediates that fan out to multiple downstream
    # subplans (song/other split × two match passes consume g;
    # spotify_top feeds both match arms and the payload join-back).
    # Spark has no cross-branch common-subexpression reuse, so without
    # this the impute joins and the spotify argmax dedup re-execute once
    # per reference. Both are dimension-sized by construction (grammy is
    # the award list; spotify_top is one row per track key); eager=False
    # keeps the blocks GC-releasable (same pattern as the fuzzy-join
    # probe pin, operators/joins.py), but does not defer the shuffle
    # stages under the pin (see the docstring).
    g = g.localCheckpoint(eager=False)
    song, other = split_song_other(g)
    spotify_top = build_spotify_top(s).localCheckpoint(eager=False)
    merged_song = match_songs(song, spotify_top, mode)
    merged_total = union_by_name(merged_song, other)
    return finalize(merged_total, mode)
