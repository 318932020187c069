"""Skew-mitigation operators.

AQE's skew-join splitting (on in the session factory) handles most
skew at runtime; these helpers cover the two shapes AQE can't fix:

* ``salted_aggregate`` — a single hot group key (the reference's
  'Unknown' artist, a null-ish user id) overwhelms one reducer in a
  groupBy. Two-phase aggregation over a salted key spreads the hot
  group across ``num_salts`` reducers, then merges partials. Only
  algebraic aggregates (sum/count/min/max) decompose this way.
* ``salted_shuffle_join`` — an equi-join whose key is skewed on the
  FACT side while the other side is too large (or a planner refuses)
  to broadcast. Salting the fact key and replicating the other
  side's rows across the salt domain turns one hot shuffle partition
  into ``num_salts`` even ones, at the cost of a bounded ×salts
  blow-up of the smaller side.
* ``salted_broadcast_join_fallback`` is intentionally absent: with a
  broadcastable side there is no shuffle to skew — broadcast IS the
  skew fix, and the engine's joins already broadcast bounded sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SALT = "__w2e_salt"


def _row_salt(num_salts: int, salt_on: str | list[str] | None = None) -> Column:
    """Per-row salt in ``[0, num_salts)``.

    ``salt_on`` (PREFERRED at cluster scale) names a row-unique
    column (or columns) — an event id, a surrogate key — and the salt
    is ``pmod(xxhash64(cols), n)``: a DETERMINISTIC pure function of
    row content, so a shuffle-fetch failure that reruns only the lost
    map tasks reassigns every replayed row its ORIGINAL salt.
    Uniqueness is what makes hashing spread hot keys: a hot key's
    rows share the key but differ in the unique column, so they still
    fan out over the salt domain. (Hashing the WHOLE row does not —
    hot rows are typically identical duplicates.)

    Without ``salt_on`` the salt falls back to round-robin
    ``pmod(monotonically_increasing_id(), n)`` — perfectly even
    spreading with no uniqueness requirement, but NONDETERMINISTIC
    across task retries. On a single stage attempt every row carries
    exactly one salt and the algebra below is exact; on a multi-node
    cluster a shuffle-fetch failure can rerun a subset of map tasks
    whose replayed rows draw DIFFERENT salts while reducers keep
    already-fetched output (the SPARK-23207 indeterminate-shuffle
    class), so a row could be double-counted or dropped. Callers at
    scale should therefore name ``salt_on`` whenever any unique-ish
    column exists; the positional fallback is for ad-hoc relations
    with no such column, accepted with this documented caveat."""
    if salt_on is not None:
        cols = [salt_on] if isinstance(salt_on, str) else list(salt_on)
        return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(num_salts))
    return F.pmod(F.monotonically_increasing_id(), F.lit(num_salts))


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, Column]],
    num_salts: int = 16,
    salt_on: str | list[str] | None = None,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs`` maps output column → (merge_fn, partial_expr), where
    merge_fn ∈ {"sum", "min", "max"} re-combines the per-salt
    partials (counts merge with "sum"). E.g.::

        salted_aggregate(df, ["artist"], {
            "n":       ("sum", F.count(F.lit(1))),
            "max_pop": ("max", F.max("popularity")),
        })

    Phase 1 groups by (keys, salt) — the hot key's rows spread over
    ``num_salts`` reducers; phase 2 groups by keys alone over
    ``num_salts`` rows per key. ``salt_on`` names a row-unique
    column for a DETERMINISTIC, retry-stable salt (the cluster-scale
    default — see ``_row_salt``); omitted, the salt is positional
    round-robin (identical duplicate rows still spread, but the
    assignment is not stable under partial shuffle-retry — the
    documented ``_row_salt`` caveat). Results are reproducible
    either way on a healthy run because algebraic partials merge to
    the same total under ANY salt assignment.
    """
    salt = _row_salt(num_salts, salt_on)
    phase1 = (
        df.withColumn(_SALT, salt)
        .groupBy(*keys, _SALT)
        .agg(*[expr.alias(f"__p_{name}") for name, (_, expr) in aggs.items()])
    )
    merge = {
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
    }
    return phase1.groupBy(*keys).agg(
        *[merge[how](f"__p_{name}").alias(name) for name, (how, _) in aggs.items()]
    )


def salted_shuffle_join(
    fact: DataFrame,
    other: DataFrame,
    on: list[str],
    num_salts: int = 8,
    how: str = "inner",
    salt_on: str | list[str] | None = None,
) -> DataFrame:
    """Skew-safe shuffle equi-join: salt the fact side, replicate the
    other side across the salt domain.

    The fact side's salt comes from ``salt_on`` (a row-unique fact
    column → deterministic, retry-stable — the cluster-scale default)
    or falls back to positional round-robin (identical duplicate rows
    still spread, unlike a row-content hash, but the assignment is
    not stable under partial shuffle-retry — the documented
    ``_row_salt`` caveat); the other side is exploded once per salt
    value, so every (key, salt) bucket can satisfy the join. Joining
    on ``on + [salt]`` spreads a hot key's rows over ``num_salts``
    shuffle partitions instead of one reducer.

    ``how`` ∈ {'inner', 'left'}: with 'left' the unmatched fact rows
    survive exactly once (each fact row carries ONE salt, so no
    fan-out of misses). Right/full would multiply unmatched `other`
    rows by ``num_salts`` — refused.

    At 100 TB this is the fallback when AQE's skew splitting can't
    help (e.g. the skew is in the *map*-side key distribution of an
    upstream stage, or the join is forced sort-merge by size); cost
    is |other| × num_salts extra shuffle input, which is why the
    replicated side should be the smaller relation.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_shuffle_join supports inner/left, got {how!r}")
    f = fact.withColumn(_SALT, _row_salt(num_salts, salt_on))
    o = other.withColumn(
        _SALT, F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)))
    )
    return f.join(o, on=[*on, _SALT], how=how).drop(_SALT)
