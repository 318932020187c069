"""Measured ANN / dedup scale crossover (r06 verdict ask #4).

The v/d families' 100 TB claim is that bucketed candidate generation
(hyperplane-LSH, IVF cells, banded MinHash) beats the exact baselines
as the corpus grows. The driver testdata (≤5k docs / 2k vectors) only
measures overhead; this harness measures the actual crossover on the
seeded 20k–400k fixtures from tools/scale_fixture.py and prints a
markdown table (for PERF.md) plus one JSON line.

What is measured per corpus size:
- ANN (fixed 64 queries, k=5, dim=64):
  v1 brute force (exact; broadcast queries × full corpus) vs
  v2 one-table hyperplane-LSH (12 planes → 4096 buckets) vs
  v5 IVF (64 trained centroids, nprobe=2), plus recall@5 of each
  approximate method against the exact answer.
  The IVF quantizer fit (KMeans on a ≤50k-row seeded sample) is timed
  separately as build cost — in production it is paid once per index,
  not per query batch.
- Dedup (threshold 0.7 word-3-shingle Jaccard):
  d2-style banded MinHash-LSH (16 hashes / 4 bands, candidates →
  exact verify) at every size vs the naive all-pairs exact join at
  the sizes where it is feasible at all (its cost is quadratic — that
  infeasibility IS the result).

Usage:
    python tools/scale_crossover.py            # full matrix (~5-10 min)
    python tools/scale_crossover.py --quick    # bench-sized subset
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tools import scale_fixture as FX

ANN_SIZES = [20_000, 100_000, 400_000]
DEDUP_LSH_SIZES = [1_000, 2_000, 8_000, 32_000, 128_000]
# naive all-pairs measured only where it terminates in minutes: 0.5M
# pairs (92s) and 2M pairs (370s). The 4× pair growth per 2× corpus
# IS the result — n=8k extrapolates to ~100 min, n=128k to ~18 days.
DEDUP_NAIVE_SIZES = [1_000, 2_000]
N_QUERIES = 64
K = 5
DIM = 64
NUM_PLANES = 12
MT_PLANES = 6     # planes per table (2^6 buckets/table)
MT_TABLES = 8     # OR'ed tables: recall 1-(1-p^6)^8
N_CENTROIDS = 64
NPROBE = 2
JACCARD_T = 0.7


def _timed(df: DataFrame) -> tuple[float, list]:
    t0 = time.time()
    rows = df.collect()
    return round(time.time() - t0, 3), rows


def _topk_sets(rows) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def _recall(approx_rows, exact_rows) -> float:
    ap, ex = _topk_sets(approx_rows), _topk_sets(exact_rows)
    hits = sum(len(ap.get(q, set()) & nbrs) for q, nbrs in ex.items())
    total = sum(len(nbrs) for nbrs in ex.values())
    return round(hits / total, 4) if total else 0.0


def ann_crossover(spark: SparkSession, sizes: list[int]) -> list[dict]:
    """Index BUILD and query PROBE are timed separately: a production
    ANN index (signatures / cell assignment over the corpus) is built
    once and amortized over every query batch, so folding it into
    per-batch latency would misprice exactly the thing being compared
    (brute force has no build — that is its advantage at small n, and
    its ceiling at large n). The built index is persisted and the
    probe timed against the cached relation."""
    from workhop2_etl_spark.operators import similarity as SIM
    from workhop2_etl_spark.operators.dedupe import top_k
    from workhop2_etl_spark.operators.similarity import (
        cosine_with_norms,
        ivf_assign,
        l2_norm,
        with_multitable_signatures,
        with_multitable_signatures_blas,
    )

    def topk(scored):
        return top_k(
            scored, ["query_id"], [F.desc("score"), F.asc("neighbor_id")], K
        ).select("query_id", "neighbor_id", "score", "rank")

    results = []
    for n in sizes:
        emb = spark.read.parquet(FX.ensure_embeddings(n, DIM))
        # fixed query set, independent of n: the first N_QUERIES ids —
        # measured cost scales with the CORPUS, queries held constant
        queries = emb.filter(F.col("vec_id") < N_QUERIES)

        # ---- exact baseline (no index; the whole corpus every batch)
        t_brute, exact = _timed(
            SIM.topk_cosine_bruteforce(emb, queries, k=K).orderBy("query_id", "rank")
        )
        # ---- exact baseline, Arrow/BLAS kernel (same answer, the
        #      matmul formulation — how much of brute's cost is the
        #      interpreted higher-order fold vs the O(n·|Q|) work)
        t_blas, _ = _timed(
            SIM.topk_cosine_bruteforce_blas(emb, queries, k=K).orderBy(
                "query_id", "rank"
            )
        )

        # ---- LSH: build = corpus signatures (one table, the BLAS
        #      kernel, as topk_cosine_lsh signs its corpus); probe =
        #      bucket equi-join
        t0 = time.time()
        lsh_index = with_multitable_signatures_blas(
            emb.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("embedding").alias("__cvec")),
            "__cvec", DIM, NUM_PLANES, 1, sig_col="__csig",
        ).drop("table_id").withColumn("__cn", l2_norm(F.col("__cvec"))).persist()
        lsh_index.count()
        t_lsh_build = round(time.time() - t0, 3)
        q = F.broadcast(
            with_multitable_signatures(
                queries.select(F.col("vec_id").alias("query_id"),
                               F.col("embedding").alias("__qvec")),
                "__qvec", DIM, NUM_PLANES, 1, sig_col="__qsig",
            ).drop("table_id").withColumn("__qn", l2_norm(F.col("__qvec")))
        )
        t_lsh, lsh_rows = _timed(
            topk(
                lsh_index.join(
                    q,
                    (F.col("__csig") == F.col("__qsig"))
                    & (F.col("query_id") != F.col("neighbor_id")),
                ).select(
                    "query_id", "neighbor_id",
                    F.round(cosine_with_norms(
                        F.col("__qvec"), F.col("__cvec"),
                        F.col("__qn"), F.col("__cn")), 6).alias("score"),
                )
            ).orderBy("query_id", "rank")
        )
        lsh_index.unpersist()

        # ---- multi-table LSH: build = L×(table, sig) index; probe =
        #      (table, sig) equi-join + candidate dedup. The recall
        #      configuration (single-table p^b recall is ~6% at these
        #      neighbor distances — measured; banding fixes it).
        t0 = time.time()
        mt_index = with_multitable_signatures(
            emb.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("embedding").alias("__cvec")),
            "__cvec", DIM, MT_PLANES, MT_TABLES,
            table_col="__ct", sig_col="__csig",
        ).withColumn("__cn", l2_norm(F.col("__cvec"))).persist()
        mt_index.count()
        t_mt_build = round(time.time() - t0, 3)
        qmt = F.broadcast(
            with_multitable_signatures(
                queries.select(F.col("vec_id").alias("query_id"),
                               F.col("embedding").alias("__qvec")),
                "__qvec", DIM, MT_PLANES, MT_TABLES,
                table_col="__qt", sig_col="__qsig",
            ).withColumn("__qn", l2_norm(F.col("__qvec")))
        )
        t_mt, mt_rows = _timed(
            topk(
                mt_index.join(
                    qmt,
                    (F.col("__ct") == F.col("__qt"))
                    & (F.col("__csig") == F.col("__qsig"))
                    & (F.col("query_id") != F.col("neighbor_id")),
                )
                .select(
                    "query_id", "neighbor_id",
                    F.round(cosine_with_norms(
                        F.col("__qvec"), F.col("__cvec"),
                        F.col("__qn"), F.col("__cn")), 6).alias("score"),
                )
                .groupBy("query_id", "neighbor_id")
                .agg(F.max("score").alias("score"))
            ).orderBy("query_id", "rank")
        )
        mt_index.unpersist()

        # ---- IVF: build = quantizer fit + corpus cell assignment;
        #      probe = nprobe-cell equi-join
        t0 = time.time()
        cents = SIM.fit_centroids(
            emb, N_CENTROIDS, seed=7, max_iter=10,
            sample_fraction=min(1.0, 50_000 / n),
        )
        # corpus-side assignment takes the BLAS kernel — the at-scale
        # build path (identity pytest-proven; the expression twin ran
        # 290s at just 20k rows, PERF.md round-9 note). Query-side
        # stays expr: |Q| is bounded.
        ivf_index = SIM.ivf_assign_blas(emb, cents).select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("__cvec"),
            "centroid_id",
        ).withColumn("__cn", l2_norm(F.col("__cvec"))).persist()
        ivf_index.count()
        t_ivf_build = round(time.time() - t0, 3)
        qi = F.broadcast(
            ivf_assign(queries, cents, nprobe=NPROBE).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("__qvec"),
                "centroid_id",
            ).withColumn("__qn", l2_norm(F.col("__qvec")))
        )
        t_ivf, ivf_rows = _timed(
            topk(
                ivf_index.join(qi, ["centroid_id"])
                .filter(F.col("query_id") != F.col("neighbor_id"))
                .select(
                    "query_id", "neighbor_id",
                    F.round(cosine_with_norms(
                        F.col("__qvec"), F.col("__cvec"),
                        F.col("__qn"), F.col("__cn")), 6).alias("score"),
                )
            ).orderBy("query_id", "rank")
        )
        ivf_index.unpersist()

        results.append(
            {
                "n": n,
                "brute_s": t_brute,
                "brute_blas_s": t_blas,
                "lsh_build_s": t_lsh_build,
                "lsh_probe_s": t_lsh,
                "mt_build_s": t_mt_build,
                "mt_probe_s": t_mt,
                "ivf_build_s": t_ivf_build,
                "ivf_probe_s": t_ivf,
                "lsh_recall": _recall(lsh_rows, exact),
                "mt_recall": _recall(mt_rows, exact),
                "ivf_recall": _recall(ivf_rows, exact),
            }
        )
        print(f"ann n={n}: {results[-1]}", file=sys.stderr)
    return results


def naive_pairs(docs: DataFrame, threshold: float = JACCARD_T) -> DataFrame:
    """The exact baseline LSH replaces: every (a < b) pair, full
    shingle Jaccard. O(n²) BY CONSTRUCTION — exists only to be
    measured against; never use this shape in a pipeline."""
    from workhop2_etl_spark.operators.dedup_text import jaccard, word_shingles

    sh = docs.select(
        F.col("doc_id"), word_shingles(F.col("text"), 3).alias("sh")
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("j"))
        .filter(F.col("j") >= threshold)
    )


def dedup_crossover(
    spark: SparkSession, lsh_sizes: list[int], naive_sizes: list[int]
) -> list[dict]:
    from workhop2_etl_spark.operators.dedup_text import near_dup_pairs

    results = []
    for n in lsh_sizes:
        docs = spark.read.parquet(FX.ensure_documents(n))
        t_lsh, lsh_rows = _timed(
            near_dup_pairs(docs, threshold=JACCARD_T).select("id_a", "id_b")
        )
        row: dict = {"n": n, "lsh_s": t_lsh, "lsh_pairs": len(lsh_rows)}
        if n in naive_sizes:
            t_naive, naive_rows = _timed(naive_pairs(docs))
            row["naive_s"] = t_naive
            row["naive_pairs"] = len(naive_rows)
            # LSH must find what exact search finds (banding with 16/4
            # is a recall knob; report it rather than assert 1.0)
            row["pair_recall"] = (
                round(
                    len(set((r.id_a, r.id_b) for r in lsh_rows)
                        & set((r.id_a, r.id_b) for r in naive_rows))
                    / len(naive_rows),
                    4,
                )
                if naive_rows
                else 1.0
            )
        results.append(row)
        print(f"dedup n={n}: {row}", file=sys.stderr)
    return results


def as_markdown(ann: list[dict], dedup: list[dict]) -> str:
    lines = [
        "| corpus n | v1 brute expr (s) | brute BLAS (s) | 1-table LSH build/probe (s) | recall@5 "
        "| 8-table LSH build/probe (s) | recall@5 | IVF build/probe (s) | recall@5 |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for r in ann:
        lines.append(
            f"| {r['n']:,} | {r['brute_s']} | {r.get('brute_blas_s', '—')} "
            f"| {r['lsh_build_s']} / {r['lsh_probe_s']} | {r['lsh_recall']} "
            f"| {r['mt_build_s']} / {r['mt_probe_s']} | {r['mt_recall']} "
            f"| {r['ivf_build_s']} / {r['ivf_probe_s']} | {r['ivf_recall']} |"
        )
    lines += [
        "",
        "| corpus n | naive all-pairs (s) | MinHash-LSH (s) | pairs (naive/LSH) | pair recall |",
        "|---|---|---|---|---|",
    ]
    for r in dedup:
        lines.append(
            f"| {r['n']:,} | {r.get('naive_s', '—')} | {r['lsh_s']} "
            f"| {r.get('naive_pairs', '—')}/{r['lsh_pairs']} | {r.get('pair_recall', '—')} |"
        )
    return "\n".join(lines)


def sigbuild_crossover(spark: SparkSession, sizes: list[int]) -> list[dict]:
    """Multi-table signature INDEX BUILD cost, expression fold vs the
    Arrow/BLAS matmul kernel (round 8): same (table_id, sig) output
    (pytest-proven identical), different formulation — L·b interpreted
    aggregate folds per row vs one (batch×dim)·(dim×L·b) matmul per
    Arrow batch. Build cost is what an index pays over the WHOLE
    corpus at 100 TB, so this ratio is why every corpus-sized input
    signs with the BLAS kernel."""
    from workhop2_etl_spark.operators.similarity import (
        with_multitable_signatures,
        with_multitable_signatures_blas,
    )

    out = []
    for n in sizes:
        emb = spark.read.parquet(FX.ensure_embeddings(n, DIM))
        row = {"n": n}
        for label, fn in (
            ("expr", with_multitable_signatures),
            ("blas", with_multitable_signatures_blas),
        ):
            t0 = time.time()
            cnt = fn(
                emb, "embedding", DIM, MT_PLANES, MT_TABLES
            ).count()
            row[f"sig_build_{label}_s"] = round(time.time() - t0, 3)
            assert cnt == n * MT_TABLES
        row["speedup"] = round(
            row["sig_build_expr_s"] / row["sig_build_blas_s"], 2
        )
        print(f"sigbuild n={n}: {row}", file=sys.stderr)
        out.append(row)
    return out


def sigbuild_markdown(rows: list[dict]) -> str:
    lines = [
        "| corpus n | mt sig build expr (s) | mt sig build BLAS (s) | speedup |",
        "|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['n']:,} | {r['sig_build_expr_s']} "
            f"| {r['sig_build_blas_s']} | {r['speedup']}× |"
        )
    return "\n".join(lines)


def main() -> None:
    from workhop2_etl_spark.session import get_spark

    if "--sigbuild" in sys.argv:
        spark = get_spark("scale_crossover")
        rows = sigbuild_crossover(spark, ANN_SIZES)
        print(sigbuild_markdown(rows))
        print(json.dumps({"sigbuild": rows}))
        return

    quick = "--quick" in sys.argv
    ann_sizes = ANN_SIZES[:2] if quick else ANN_SIZES
    lsh_sizes = DEDUP_LSH_SIZES[:3] if quick else DEDUP_LSH_SIZES
    spark = get_spark("scale_crossover")
    with open("/proc/loadavg") as f:
        load_before = f.read().split()[0]
    ann = [] if "--dedup-only" in sys.argv else ann_crossover(spark, ann_sizes)
    dedup = (
        []
        if "--ann-only" in sys.argv
        else dedup_crossover(spark, lsh_sizes, DEDUP_NAIVE_SIZES)
    )
    with open("/proc/loadavg") as f:
        load_after = f.read().split()[0]
    print(as_markdown(ann, dedup))
    print(json.dumps({
        "ann": ann, "dedup": dedup,
        "loadavg_1m": [float(load_before), float(load_after)],
    }))


if __name__ == "__main__":
    main()
