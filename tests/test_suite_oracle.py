"""Every registered query matches its DuckDB oracle at sf0.001.

This mirrors the driver's t2 gate (which runs at sf0.01) — row count,
column-name set, and an order-insensitive value hash. Fast enough to
run on every change; tools/verify_local.py runs the same compare at
sf0.01.
"""

from __future__ import annotations

import pytest

# conftest.py puts the repo root (derived from its own location) on
# sys.path, which is what makes the `tools` import work anywhere
from tools.verify_local import value_hash  # noqa: E402

from workhop2_etl_spark import suite  # noqa: E402

suite.load_all()

from tests.conftest import SF_DIR  # noqa: E402

CASES = sorted(suite.QUERIES)


@pytest.mark.parametrize("name", CASES)
def test_query_matches_oracle(name, spark, duck):
    sdf = suite.QUERIES[name](spark, SF_DIR)
    # The driver's canonicalizer sorts every column through pandas
    # (Categorical factorize), which raises on unhashable cells —
    # nested result columns must be serialized to scalars (x2 learned
    # this the hard way in round 3's driver run).
    from pyspark.sql import types as T

    nested = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not nested, f"driver-unfriendly nested result columns: {nested}"
    # skip BEFORE collecting: the schema check above needs no
    # execution, and running a rows-only query end-to-end just to
    # skip wastes executor time on every suite run
    if name not in suite.ORACLES:
        pytest.skip(f"{name}: rows-only (no oracle)")
    _assert_matches_oracle(sdf, duck, suite.ORACLES[name])


def _assert_matches_oracle(sdf, duck, oracle_sql: str) -> list[tuple]:
    """Row count, column-name set and value hash of ``sdf`` equal the
    oracle's; returns the Spark rows."""
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    res = duck.execute(oracle_sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert len(srows) == len(orows), f"rowcount {len(srows)} != {len(orows)}"
    assert sorted(scols) == sorted(ocols)
    assert value_hash(scols, srows) == value_hash(ocols, orows)
    return srows


def test_a11_sketches_bound_error(spark):
    """a11 now emits exact values + within-bound booleans so the
    driver hash-checks it; this test asserts the booleans themselves
    came out true (HLL++ at rsd=0.01 and a 10k-bucket percentile
    sketch land well inside the 5% bound on this data)."""
    sdf = suite.QUERIES["a11_approx_sketches"](spark, SF_DIR)
    rows = sdf.collect()
    assert rows
    for r in rows:
        assert r.parts_within_bound, (r.l_returnflag, r.exact_parts)
        assert r.p50_within_bound, (r.l_returnflag, r.exact_p50_x200)


def test_v4_near_dup_matches_oracle_on_planted_pairs(spark, tmp_path):
    """v4 finds next to no pair on the generated fixtures (cosine ≥ 0.5
    inside one 8-plane bucket almost never holds there), so its oracle
    check alone verifies little. Here v4 and its registered oracle run
    over a planted ``embeddings.parquet``: base vectors, a perturbed
    copy of each at cosine ≥ 0.9, and unrelated decoys. Both engines
    must agree on a non-empty answer that holds every planted pair
    whose two vectors share a signature."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from workhop2_etl_spark.operators.similarity import _plane_weight
    from workhop2_etl_spark.suite.similarity import DIM, NUM_PLANES

    rng = np.random.default_rng(7)
    n_base, n_decoy = 40, 60
    base = rng.standard_normal((n_base, DIM))
    copies = base + 0.1 * rng.standard_normal((n_base, DIM))
    decoys = rng.standard_normal((n_decoy, DIM))
    ids = (
        list(range(n_base))
        + [1000 + i for i in range(n_base)]
        + [2000 + i for i in range(n_decoy)]
    )
    vecs = np.vstack([base, copies, decoys]).astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
            "label": pa.array([i // 1000 for i in ids], pa.int32()),
        }),
        str(tmp_path / "embeddings.parquet"),
    )

    planes = [[_plane_weight(p, d) for d in range(DIM)] for p in range(NUM_PLANES)]

    def sig(v) -> int:
        # the sequential double fold of the engine and the oracle
        out = 0
        for p, w in enumerate(planes):
            acc = 0.0
            for x, y in zip(v, w):
                acc += float(x) * y
            out |= (acc >= 0) << p
        return out

    def cos(a, b) -> float:
        a, b = a.astype(np.float64), b.astype(np.float64)
        return float(a @ b / np.sqrt((a @ a) * (b @ b)))

    planted = {
        (i, 1000 + i)
        for i in range(n_base)
        if sig(vecs[i]) == sig(vecs[n_base + i])
    }
    assert all(cos(vecs[i], vecs[n_base + i]) >= 0.9 for i in range(n_base))
    assert len(planted) >= n_base // 2

    with duckdb.connect() as duck:
        duck.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{tmp_path / 'embeddings.parquet'}')"
        )
        srows = _assert_matches_oracle(
            suite.QUERIES["v4_embedding_near_dup"](spark, str(tmp_path)),
            duck,
            suite.ORACLES["v4_embedding_near_dup"],
        )
    got = {(r[0], r[1]) for r in srows}
    assert planted <= got, sorted(planted - got)
