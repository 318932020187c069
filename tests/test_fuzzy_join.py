"""Fuzzy-join equivalence: the declared-containment fallback pass of
``fuzzy_enrich`` (containment over distinct needle × haystack values,
then a hash join back to the candidates) returns the same rows as the
plain nested-loop formulation.

The reference here is an in-test broadcast nested-loop join: every
probe row against every right row, ``row_number`` argmax, misses
retried with the fallback condition. It shares no code with
``fuzzy_enrich``.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.fixtures_grammy import make_grammy, make_spotify
from workhop2_etl_spark.operators import joins as JO
from workhop2_etl_spark.plans import grammy_spotify as P
from workhop2_etl_spark.plans.schemas import GRAMMY_SCHEMA, SPOTIFY_SCHEMA


def _bnlj_reference(
    left, right, left_key, exact_cond, fallback_cond, pick_min, right_cols,
    payload_cols=None, **_ignored,
):
    payload_cols = payload_cols or right_cols
    r = right.select(*right_cols)
    w = Window.partitionBy(left_key).orderBy(*pick_min)

    def best(probe, cond):
        return (
            probe.join(r, cond, "inner")
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(left_key, *payload_cols)
        )

    hit1 = best(left, exact_cond)
    miss1 = left.join(hit1.select(left_key), left_key, "left_anti")
    picked = hit1.unionByName(best(miss1, fallback_cond))
    return left.join(picked, left_key, "left").select(*left.columns, *payload_cols)


def _undeclared(*args, fallback_contains=None, **kwargs):
    return JO.fuzzy_enrich(*args, **kwargs)


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _song(vals):
    # (id, nominee, artist) → a song-category grammy row
    i, nominee, artist = vals
    return (i, 2020, "t", None, None, "Song Of The Year", nominee, artist, None, None, "True")


def _track(vals):
    tid, artists, album, track, pop, genre = vals
    return (
        int(tid[1:]), tid, artists, album, track, pop, 200000, False,
        0.5, 0.5, 1, -5.0, 1, 0.1, 0.1, 0.0, 0.1, 0.5, 120.0, 4, genre,
    )


EDGE_GRAMMY = [
    (1, "Hello (Live)", ""),  # blank artist
    (2, "Hello (Live)", "Unknown"),
    (3, "Hello (Live)", "nan"),  # literal 'nan' artist
    (4, "Hello (Live)", None),  # NULL artist: strict searches for 'nan'
    (5, "Ballad (Remix)", "Artist 3"),  # inside 'artist 3', 'artist 30', 'artist 3;artist 7'
    (6, "Hello", "A very long artist name that is longer than every haystack here"),
    (7, "Other (Demo)", "Artist 7 & Artist 3"),  # ';' multi-artist needle
    (8, None, "artist 30"),  # NULL nominee: empty title prefix
    (9, "Tie Song (Live)", "Tie Crew"),  # popularity tie on the fallback pass
    (10, "Exact Title", "artist 3"),  # pass-1 hit
    (11, "Nothing Matches", "artist 3"),
    (12, "Ballad", "ARTIST 3"),
]

EDGE_SPOTIFY = [
    ("t01", "artist 3", "alb", "Ballad", 50, "pop"),
    ("t02", "artist 30", "alb", "Ballad (Acoustic)", 70, "pop"),
    ("t03", "Artist 3;Artist 7", "alb", "Ballad", 70, "rock"),
    ("t04", None, "alb", "Hello", 40, "pop"),  # NULL artists
    ("t05", "nan", None, "Hello World", 60, "pop"),  # literal 'nan', NULL album
    ("t06", "Someone", "alb", None, 90, "pop"),  # NULL track
    ("t07", "Tie Crew", "x", "Tie Song", 55, "pop"),
    ("t08", "Tie Crew", "y", "Tie Song 2", 55, "pop"),
    ("t09", "artist 3", "alb", "Exact Title", 10, "pop"),
    ("t10", "unknown", "alb", "Hello", 30, "pop"),
    ("t11", "Artist 7 & Artist 3", "alb", "Other Song", 20, "pop"),
    ("t12", "artist 3", "alb", "Ballad Deluxe", None, "pop"),
    ("t13", None, None, None, None, "pop"),  # all-NULL track row
]


@pytest.fixture(scope="module")
def edge_tables(spark):
    g = spark.createDataFrame([_song(v) for v in EDGE_GRAMMY], GRAMMY_SCHEMA)
    s = spark.createDataFrame([_track(v) for v in EDGE_SPOTIFY], SPOTIFY_SCHEMA)
    return g, s


@pytest.fixture(scope="module")
def generated_tables(spark):
    gp, sp = make_grammy(), make_spotify()
    g = spark.createDataFrame(gp.where(pd.notnull(gp), None), schema=GRAMMY_SCHEMA)
    s = spark.createDataFrame(sp.where(pd.notnull(sp), None), schema=SPOTIFY_SCHEMA)
    return g, s


def _match_inputs(g, s, mode):
    g = P.clean_grammy(g, mode)
    g, s = P.normalize_tables(g, s, mode)
    song, _ = P.split_song_other(g)
    return song, P.build_spotify_top(s)


@pytest.mark.parametrize("mode", ["spec", "strict"])
@pytest.mark.parametrize("fixture", ["edge_tables", "generated_tables"])
def test_match_songs_equals_nested_loop_reference(spark, request, monkeypatch, mode, fixture):
    """``match_songs`` (declared artist containment), ``match_songs``
    through ``fuzzy_enrich`` without the declaration, and the in-test
    nested-loop reference return the same rows in both modes."""
    song, top = _match_inputs(*request.getfixturevalue(fixture), mode)
    declared = _rows(P.match_songs(song, top, mode))
    monkeypatch.setattr(P, "fuzzy_enrich", _undeclared)
    undeclared = _rows(P.match_songs(song, top, mode))
    monkeypatch.setattr(P, "fuzzy_enrich", _bnlj_reference)
    reference = _rows(P.match_songs(song, top, mode))
    assert declared == reference
    assert undeclared == reference
    assert len(reference) == song.count()


@pytest.mark.parametrize("mode", ["spec", "strict"])
def test_edge_fixture_exercises_the_fallback_pass(spark, edge_tables, mode):
    """The edge rows reach the containment fallback: the vacuous and
    multi-haystack needles match on a title prefix, the popularity tie
    breaks on track_id, and the over-long needle matches nothing."""
    song, top = _match_inputs(*edge_tables, mode)
    got = {r.id: r.track_id for r in P.match_songs(song, top, mode).collect()}
    assert got[5] == "t02"  # 'artist 3' ⊂ 'artist 30', popularity 70 beats t03 on track_id
    assert got[6] is None  # needle longer than every haystack
    assert got[9] == "t07"  # popularity tie → smaller track_id
    assert got[10] == "t09"  # exact pass
    assert got[11] is None
    if mode == "spec":
        # vacuous artists match on the title alone; t06 has no title
        assert got[1] == got[2] == got[3] == got[4] == "t05"
        assert got[8] is None  # empty title prefix never falls back
    else:
        assert got[1] == "t05"  # contains('') is vacuously true
        assert got[3] == got[4] == "t05"  # literal 'nan' needle ⊂ 'nan'
        assert got[2] == "t10"


def test_fuzzy_enrich_declared_equals_reference_on_left_key(spark):
    """Without ``probe_keys`` (one probe per left row), with NULL
    needles and haystacks, an empty needle and needles longer than
    every haystack, the declared pass returns the reference's rows."""
    left = spark.createDataFrame(
        [
            (1, "alpha beta", "alpha"),
            (2, "gamma", "gam"),
            (3, "zzz", None),  # NULL needle: never matches
            (4, "zzz", ""),  # empty needle: every non-null text contains it
            (5, "qqq", "a needle longer than any document in the table"),
            (6, "beta", "beta"),
            (7, "delta x", "delta"),
        ],
        "k long, name string, w string",
    )
    right = spark.createDataFrame(
        [
            (10, "alpha beta gamma", 3),
            (11, "alpha", 3),
            (12, None, 9),  # NULL haystack
            (13, "gamma delta", 3),
            (14, "beta", 1),
            (15, "delta", 3),
        ],
        "doc_id long, text string, n long",
    )
    kwargs = dict(
        left_key="k",
        exact_cond=F.col("text") == F.col("name"),
        fallback_cond=F.col("text").contains(F.col("w")),
        pick_min=[-F.col("n"), F.col("doc_id")],
        right_cols=["doc_id", "n", "text"],
        payload_cols=["doc_id", "n"],
    )
    reference = _rows(_bnlj_reference(left, right, **kwargs))
    declared = _rows(
        JO.fuzzy_enrich(left, right, fallback_contains=("text", F.col("w")), **kwargs)
    )
    assert declared == _rows(JO.fuzzy_enrich(left, right, **kwargs)) == reference
    assert {r[0]: r[3] for r in reference} == {1: 10, 2: 10, 3: None, 4: 10, 5: None, 6: 14, 7: 13}
