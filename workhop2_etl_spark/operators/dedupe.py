"""Dedup / argmax operators — SURVEY.md §2.4 J4/J5, §2.5 A6/A7.

The reference implements "keep the most popular version per key" as a
global sort followed by drop_duplicates (dags/etl_grammy_spotify.py:
216-219) and argmax-in-match-set as sort + iloc[0] (:244). Both are
window-argmax here: shuffle on the group key only, no global sort,
and a total-order tiebreak so results are deterministic under any
partitioning (pandas kept first-encounter order — nondeterministic
under re-sorts; SURVEY §7.4 item 2). The window rule itself is
``top_k``, which every per-group top-k in the engine ranks through.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_ROW_NUM = "__w2e_rn"


def top_k(
    df: DataFrame,
    keys: list[str],
    order_by: list[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """The one ranking rule: the first ``k`` rows per ``keys`` under
    ``order_by``, numbered 1..k in ``rank_col``. ``order_by`` must be
    a total order (callers end it with a unique id), so the kept rows
    and their ranks are deterministic under any partitioning.

    ``row_number`` filtered on ``<= k`` is the shape Spark plans as a
    ``WindowGroupLimit``: rows beyond k per group are pruned before the
    window's shuffle, so a top-k never pays a full per-group sort.
    Scores that must not rank (NULL for a dirty vector) are the
    caller's to drop before this call."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


def argmax_dedupe(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """J4 — top-1 row per ``keys`` under ``order_by`` (must be a total
    order for determinism; callers append a unique key as tiebreak).

    Window row_number, not global sort + drop-duplicates: the shuffle
    moves each group to one partition once, and at 100 TB the skewed
    group (the reference's `Unknown` artist) is handled by AQE skew
    splitting on the window shuffle.
    """
    return top_k(df, keys, order_by, 1, rank_col=_ROW_NUM).drop(_ROW_NUM)


def key_duplicate_rows(df: DataFrame, keys: list[str], count_col: str = "n_per_key") -> DataFrame:
    """A7 — rows whose key appears more than once (`duplicated(keep=False)`,
    eda.ipynb cell 13), with the per-key count attached."""
    w = Window.partitionBy(*keys)
    return df.withColumn(count_col, F.count(F.lit(1)).over(w)).filter(F.col(count_col) > 1)
