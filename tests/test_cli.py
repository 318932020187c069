"""CLI runner (workhop2_etl_spark/__main__.py) — the only user-facing
entry point; covers `list`, `run` (rows / --explain / unknown-query),
and `pipeline` over a tmp CSV pair. main() is invoked in-process so
the pytest SparkSession is reused (get_spark goes through
getOrCreate), keeping the tests JVM-cheap.
"""

from __future__ import annotations

import pytest

from workhop2_etl_spark import suite
from workhop2_etl_spark.__main__ import main


def test_cli_list_prints_every_registered_query(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out.splitlines()
    suite.load_all()
    assert sorted(out) == sorted(suite.QUERIES)
    assert len(out) == len(set(out))  # no dupes


def test_cli_run_rows_explain_and_unknown(spark, capsys):
    # rows mode: a tiny query at sf0.001 prints a table
    assert main(["run", "p6_isin_filter", "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    assert "+-" in out  # df.show table framing

    # --explain prints the formatted physical plan, not rows
    assert (
        main(
            [
                "run",
                "q1_pricing_summary",
                "--sf-dir",
                "/root/testdata/sf0.001",
                "--explain",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "Scan parquet" in out

    # unknown query: exit 2 with a pointer to `list`
    assert main(["run", "no_such_query"]) == 2
    err = capsys.readouterr().err
    assert "unknown query" in err


def test_cli_pipeline_over_csv_pair(spark, tmp_path, capsys):
    from tests.fixtures_grammy import make_grammy, make_spotify

    gcsv = str(tmp_path / "grammy.csv")
    scsv = str(tmp_path / "spotify.csv")
    make_grammy(n=60).to_csv(gcsv, index=False)
    make_spotify(n_tracks=80).to_csv(scsv, index=False)

    out_dir = str(tmp_path / "out")
    assert (
        main(
            [
                "pipeline",
                "--grammy",
                gcsv,
                "--spotify",
                scsv,
                "--out",
                out_dir,
            ]
        )
        == 0
    )
    assert "wrote" in capsys.readouterr().out
    result = spark.read.parquet(out_dir)
    assert result.count() > 0

    # strict mode runs too (prints rows instead of writing)
    assert (
        main(["pipeline", "--mode", "strict", "--grammy", gcsv, "--spotify", scsv])
        == 0
    )
    assert "+-" in capsys.readouterr().out


def test_cli_pipeline_requires_csv_args():
    with pytest.raises(SystemExit):
        main(["pipeline"])  # argparse: missing required --grammy/--spotify


def test_verify_local_refuses_unknown_query_name(monkeypatch, capsys):
    """tools/verify_local.py exits non-zero on a query name the
    registry does not hold, before it starts Spark: a misspelt name
    would otherwise check nothing and report all green."""
    import importlib.util
    import pathlib
    import sys

    from workhop2_etl_spark import session

    tool = pathlib.Path(__file__).resolve().parent.parent / "tools" / "verify_local.py"
    spec = importlib.util.spec_from_file_location("verify_local", tool)
    verify_local = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(verify_local)

    def no_spark(*a, **k):
        raise AssertionError("verify_local started Spark")

    monkeypatch.setattr(session, "get_spark", no_spark)
    monkeypatch.setattr(
        sys, "argv", ["verify_local.py", "q1_pricing_summary", "t10_bigram_counts"]
    )
    assert verify_local.main() != 0
    assert "t10_bigram_counts" in capsys.readouterr().out
