"""Pipeline-level goldens: the Spark grammy×spotify pipeline in strict
mode must equal the independent pandas replay row-for-row; plus
property invariants (row conservation, determinism, spec-mode
imputation effects).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from tests.fixtures_grammy import make_grammy, make_spotify
from tests.replay_reference import replay_strict

from workhop2_etl_spark.plans import grammy_spotify as P
from workhop2_etl_spark.plans.schemas import GRAMMY_SCHEMA, SPOTIFY_SCHEMA


@pytest.fixture(scope="module")
def tables(spark):
    gp = make_grammy()
    sp = make_spotify()
    g = spark.createDataFrame(gp.where(pd.notnull(gp), None), schema=GRAMMY_SCHEMA)
    s = spark.createDataFrame(sp.where(pd.notnull(sp), None), schema=SPOTIFY_SCHEMA)
    return gp, sp, g.cache(), s.cache()


def _norm_cell(v):
    if v is None or v is pd.NA:
        return "<N>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<N>"
        return f"{v:.6g}"
    return str(v)


def _row_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)


def test_strict_matches_pandas_replay(spark, tables):
    gp, sp, g, s = tables
    out = P.run_pipeline(g, s, mode="strict")
    golden = replay_strict(gp, sp)

    assert sorted(out.columns) == sorted(golden.columns)
    srows = [tuple(r) for r in out.collect()]
    grows = [tuple(r) for r in golden.itertuples(index=False, name=None)]
    assert len(srows) == len(grows)
    sm, gm = _row_multiset(out.columns, srows), _row_multiset(list(golden.columns), grows)
    mismatches = [(a, b) for a, b in zip(sm, gm) if a != b]
    assert not mismatches, f"{len(mismatches)} row mismatches; first: {mismatches[0]}"


def test_row_conservation(spark, tables):
    """Left-enrichment conservation: output rows == cleaned grammy rows."""
    _, _, g, s = tables
    cleaned = P.clean_grammy(g, mode="strict")
    out = P.run_pipeline(g, s, mode="strict")
    assert out.count() == cleaned.count()


def test_determinism_across_runs(spark, tables):
    _, _, g, s = tables
    a = P.run_pipeline(g, s, mode="strict")
    b = P.run_pipeline(g.repartition(7), s.repartition(13), mode="strict")
    ra = _row_multiset(a.columns, [tuple(r) for r in a.collect()])
    rb = _row_multiset(b.columns, [tuple(r) for r in b.collect()])
    assert ra == rb


def test_spec_mode_imputes_artists(spark, tables):
    """spec mode: album rows with blank artist get a real artist; no
    'N/A' artists survive where a nominee existed (Unknown fallback)."""
    _, _, g, s = tables
    out = P.run_pipeline(g, s, mode="spec").cache()
    from pyspark.sql import functions as F

    # Fixture i%12==0 rows: Album Of The Year with nominee 'album k'
    # that exists in spotify → artist must be imputed (not Unknown).
    imputed = out.filter(
        (F.col("category") == "Album Of The Year") & (F.col("artist") != "Unknown")
    ).count()
    assert imputed > 0
    # Every blank artist became something (Unknown, imputed, or nominee).
    assert out.filter(F.col("artist") == "").count() == 0
    assert out.filter(F.col("artist") == "N/A").count() == 0


def test_spec_best_new_artist_fill(spark, tables):
    _, _, g, s = tables
    out = P.run_pipeline(g, s, mode="spec")
    from pyspark.sql import functions as F

    # Fixture i%12==3 rows: Best New Artist with blank artist and a
    # 'New Star {i}' nominee → F9 must copy the nominee. (Other Best
    # New Artist rows from the random branch keep their real artist.)
    rows = (
        out.filter(
            (F.col("category") == "Best New Artist") & F.col("nominee").startswith("New Star")
        )
        .select("nominee", "artist")
        .collect()
    )
    assert rows and all(r.artist == r.nominee for r in rows)


#: The pipeline's output columns and types, in order, in both modes.
_OUTPUT_SCHEMA = [
    ("year", "int"),
    ("title", "string"),
    ("category", "string"),
    ("nominee", "string"),
    ("artist", "string"),
    ("winner", "boolean"),
    ("track_id", "string"),
    ("album_name", "string"),
    ("track_name", "string"),
    ("popularity", "bigint"),
    ("duration_ms", "bigint"),
    ("explicit", "boolean"),
    ("danceability", "double"),
    ("energy", "double"),
    ("key", "bigint"),
    ("loudness", "double"),
    ("mode", "bigint"),
    ("speechiness", "double"),
    ("acousticness", "double"),
    ("instrumentalness", "double"),
    ("liveness", "double"),
    ("valence", "double"),
    ("tempo", "double"),
    ("track_genre", "string"),
]


@pytest.mark.parametrize("mode", ["spec", "strict"])
def test_output_schema_names_order_and_types(spark, tables, mode):
    """The finalized frame keeps the reference's column order and the
    typed casts (:266-293); row digests ignore column order, so the
    order is pinned here."""
    _, _, g, s = tables
    out = P.run_pipeline(g, s, mode=mode)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == _OUTPUT_SCHEMA
