"""Measure the persisted-index payoff: probe-only vs rebuild-per-run.

The in-session ANN operators redo the whole corpus-side index work on
every run (multi-table LSH re-signs it; IVF re-assigns it); the index
store does that work once, writes parquet, and later sessions only
read + probe. This study times the three phases on the seeded scale
fixture so PERF.md carries the measured amortization instead of an
argument:

  build_save   — corpus-side index work + clustered parquet write
                 (LSH: BLAS signing; IVF: centroid assignment)
  load_probe   — read the artifact + broadcast probe (the steady
                 state of a build-once / probe-many deployment)
  insession    — the in-session operator end to end (index work +
                 probe every run — what a session without the
                 artifact pays)

Usage: python tools/index_store_study.py [--ivf | --pq | --lex |
       --lexprune | --hybrid] [n_rows ...]
       (default: LSH family, 100000 rows)
Prints one JSON line per corpus size.

--lexprune (r11): head-term probe cost with and without the max_df
  pruning knob (probe_lexical_index) on the Zipfian lexical fixture —
  unpruned head-term probes pay Σ df candidate volume; the pruned
  path bounds it at |vocab|·max_df. Reports both times, the recall
  of the pruned top-k vs unpruned, and the share of queries whose
  WAND exactness certificate fired.
--hybrid (r11): the v16 production pattern priced end to end — build
  BOTH artifacts (BM25 lexical + IVF postings) once, then the steady
  state (load both → probe top-20 each → RRF-fuse → collect) vs
  recomputing both arms in-session every run.
--delete (r12): the deletion lifecycle priced at scale — delete 1%
  then to 50% (tombstone-logical), probe latency at each state,
  compaction, and the rebuild-on-survivors reference that decides
  the compact-after-churn crossover (probe-after-compact is asserted
  bit-equal to the rebuilt index's probe).
--fusionrecall (r12): retrieval QUALITY of the fusion family —
  recall@k of the BM25 arm, the IVF ANN arm, RRF, and weighted
  CombSUM on planted noisy-twin queries (a known doc corrupted in
  both modalities; relevant = the original).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIM = 64
PLANES = 6
TABLES = 8
N_CENTROIDS = 64
NPROBE = 2
K = 5
N_QUERIES = 64


def main() -> None:
    from pyspark.sql import functions as F

    from tools import scale_fixture as FX
    from workhop2_etl_spark.operators import index_store as IDX
    from workhop2_etl_spark.operators.similarity import (
        fit_centroids,
        fit_pq_codebooks,
        topk_cosine_ivf,
        topk_cosine_ivf_pq,
        topk_cosine_lsh_multitable,
    )
    from workhop2_etl_spark.session import get_spark

    from workhop2_etl_spark.operators import retrieval as RET

    flags = ("--ivf", "--pq", "--lex", "--lexprune", "--hybrid",
             "--delete", "--fusionrecall", "--restore", "--sketch")
    args = [a for a in sys.argv[1:] if a not in flags]
    family = next(
        (f.lstrip("-") for f in flags if f in sys.argv[1:]), "lsh"
    )
    sizes = [int(a) for a in args] or [100_000]
    spark = get_spark("index_store_study")
    spark.range(1000).count()  # absorb JVM start

    for n in sizes:
        path = os.path.join(tempfile.gettempdir(), f"idx_study_{os.getpid()}_{n}")

        if family == "lex":
            # lexical BM25: the build cost is the corpus-wide
            # (doc, term) tf aggregation + clustered write; the probe
            # reads a vocabulary-sized slice via the IN-list pushed
            # into the term-clustered scan
            docs = spark.read.parquet(FX.ensure_documents_lex(n))
            toks = F.split(
                F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
                " ",
            )
            corpus_tokens = docs.select("doc_id", toks.alias("toks"))
            query_terms = (
                corpus_tokens.filter(F.col("doc_id") < N_QUERIES)
                .select(
                    F.col("doc_id").alias("query_id"),
                    F.explode(F.slice("toks", 1, 8)).alias("term"),
                )
                .distinct()
            )
            rec = {"family": family, "n": n, "k": K, "n_queries": N_QUERIES}

            t0 = time.time()
            RET.save_lexical_index(corpus_tokens, path, mode="overwrite")
            build_save = round(time.time() - t0, 2)

            t0 = time.time()
            tf, df, stats, meta = RET.load_lexical_index(spark, path)
            rows_loaded = RET.probe_lexical_index(
                tf, df, stats, meta, query_terms, k=K
            ).collect()
            load_probe = round(time.time() - t0, 2)

            t0 = time.time()
            rows_insession = RET.bm25_topk(
                corpus_tokens, query_terms, k=K
            ).collect()
            insession = round(time.time() - t0, 2)

            assert sorted(map(tuple, rows_loaded)) == sorted(
                map(tuple, rows_insession)
            )
            shutil.rmtree(path, ignore_errors=True)
            rec.update(
                build_save_sec=build_save,
                load_probe_sec=load_probe,
                insession_sec=insession,
                probe_speedup_vs_insession=round(insession / load_probe, 2),
            )
            print(json.dumps(rec))
            continue

        if family == "lexprune":
            # head-term probe cost: Zipfian corpus, queries sampled
            # from document heads (Zipf head terms dominate) — the
            # shape whose unpruned candidate volume is Σ df
            docs = spark.read.parquet(FX.ensure_documents_lex(n))
            toks = F.split(
                F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
                " ",
            )
            corpus_tokens = docs.select("doc_id", toks.alias("toks"))
            query_terms = (
                corpus_tokens.filter(F.col("doc_id") < N_QUERIES)
                .select(
                    F.col("doc_id").alias("query_id"),
                    F.explode(F.slice("toks", 1, 8)).alias("term"),
                )
                .distinct()
            )
            max_df = max(1, n // 100)  # head = terms in >1% of docs
            rec = {"family": family, "n": n, "k": K,
                   "n_queries": N_QUERIES, "max_df": max_df}
            RET.save_lexical_index(corpus_tokens, path, mode="overwrite")
            tf, df, stats, meta = RET.load_lexical_index(spark, path)

            t0 = time.time()
            rows_full = RET.probe_lexical_index(
                tf, df, stats, meta, query_terms, k=K
            ).collect()
            rec["probe_unpruned_sec"] = round(time.time() - t0, 2)

            t0 = time.time()
            rows_pruned = RET.probe_lexical_index(
                tf, df, stats, meta, query_terms, k=K, max_df=max_df
            ).collect()
            rec["probe_pruned_sec"] = round(time.time() - t0, 2)

            want = {(r.query_id, r.doc_id) for r in rows_full}
            got = {(r.query_id, r.doc_id) for r in rows_pruned}
            rec["recall_vs_unpruned"] = round(
                len(got & want) / len(want), 4
            ) if want else None
            nq = len({r.query_id for r in rows_pruned})
            rec["exact_certified_share"] = round(
                len({r.query_id for r in rows_pruned if r.exact}) / nq, 4
            ) if nq else None
            rec["probe_speedup_pruned"] = round(
                rec["probe_unpruned_sec"] / rec["probe_pruned_sec"], 2
            )
            shutil.rmtree(path, ignore_errors=True)
            print(json.dumps(rec))
            continue

        if family == "hybrid":
            # the v16 steady state at scale: both artifacts on disk,
            # a query session loads + probes + fuses
            docs = spark.read.parquet(FX.ensure_documents_lex(n))
            emb = spark.read.parquet(FX.ensure_embeddings(n, DIM))
            toks = F.split(
                F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
                " ",
            )
            corpus_tokens = docs.select("doc_id", toks.alias("toks"))
            query_terms = (
                corpus_tokens.filter(F.col("doc_id") < N_QUERIES)
                .select(
                    F.col("doc_id").alias("query_id"),
                    F.explode(F.slice("toks", 1, 8)).alias("term"),
                )
                .distinct()
            )
            vqueries = emb.filter(F.col("vec_id") < N_QUERIES)
            lex_path, ivf_path = path + "_lex", path + "_ivf"
            rec = {"family": family, "n": n, "dim": DIM, "arm_k": 20,
                   "k": K, "n_queries": N_QUERIES}
            cents = fit_centroids(emb, n_centroids=N_CENTROIDS, seed=7)

            t0 = time.time()
            RET.save_lexical_index(corpus_tokens, lex_path, mode="overwrite")
            IDX.save_ivf_index(emb, ivf_path, cents, dim=DIM, mode="overwrite")
            rec["build_save_both_sec"] = round(time.time() - t0, 2)

            t0 = time.time()
            tf, df, stats, lmeta = RET.load_lexical_index(spark, lex_path)
            lex = RET.probe_lexical_index(
                tf, df, stats, lmeta, query_terms, k=20
            )
            postings, cs, imeta = IDX.load_ivf_index(spark, ivf_path)
            vec = IDX.probe_ivf_index(
                postings, cs, imeta, vqueries, k=20, nprobe=NPROBE
            )
            fused_loaded = RET.rrf_fuse(
                lex.select("query_id", "doc_id", "rank"),
                vec.select(
                    "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
                ),
                k=K,
            ).collect()
            rec["load_probe_fuse_sec"] = round(time.time() - t0, 2)

            t0 = time.time()
            lex2 = RET.bm25_topk(corpus_tokens, query_terms, k=20)
            vec2 = topk_cosine_ivf(emb, vqueries, cents, k=20, nprobe=NPROBE)
            fused_insession = RET.rrf_fuse(
                lex2.select("query_id", "doc_id", "rank"),
                vec2.select(
                    "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
                ),
                k=K,
            ).collect()
            rec["insession_both_sec"] = round(time.time() - t0, 2)

            assert sorted(map(tuple, fused_loaded)) == sorted(
                map(tuple, fused_insession)
            )
            rec["fuse_speedup_vs_insession"] = round(
                rec["insession_both_sec"] / rec["load_probe_fuse_sec"], 2
            )
            shutil.rmtree(lex_path, ignore_errors=True)
            shutil.rmtree(ivf_path, ignore_errors=True)
            print(json.dumps(rec))
            continue

        if family == "delete":
            # r12 (verdict ask #6): price the deletion lifecycle at
            # scale — tombstone-logical delete at 1% and 50% victim
            # fractions, probe latency before/after, compaction, and
            # the rebuild-on-survivors reference that decides the
            # compact-after-churn crossover
            docs = spark.read.parquet(FX.ensure_documents_lex(n))
            toks = F.split(
                F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
                " ",
            )
            corpus_tokens = docs.select("doc_id", toks.alias("toks"))
            query_terms = (
                corpus_tokens.filter(F.col("doc_id") < N_QUERIES)
                .select(
                    F.col("doc_id").alias("query_id"),
                    F.explode(F.slice("toks", 1, 8)).alias("term"),
                )
                .distinct()
            )
            rec = {"family": family, "n": n, "k": K, "n_queries": N_QUERIES}

            t0 = time.time()
            RET.save_lexical_index(corpus_tokens, path, mode="overwrite")
            rec["build_save_sec"] = round(time.time() - t0, 2)

            def timed_probe():
                t0 = time.time()
                tf, df, stats, meta = RET.load_lexical_index(spark, path)
                rows = RET.probe_lexical_index(
                    tf, df, stats, meta, query_terms, k=K
                ).collect()
                return round(time.time() - t0, 2), rows

            rec["probe_base_sec"], _ = timed_probe()

            t0 = time.time()
            IDX.delete_from_index(
                spark, path,
                corpus_tokens.filter(F.col("doc_id") % 100 == 0)
                .select("doc_id"),
                batch="pct01",
            )
            rec["delete_1pct_sec"] = round(time.time() - t0, 2)
            rec["probe_after_1pct_sec"], _ = timed_probe()

            t0 = time.time()
            IDX.delete_from_index(
                spark, path,
                corpus_tokens.filter(F.col("doc_id") % 2 == 0)
                .select("doc_id"),
                batch="pct50",
            )
            rec["delete_to_50pct_sec"] = round(time.time() - t0, 2)
            rec["probe_after_50pct_sec"], _ = timed_probe()

            t0 = time.time()
            IDX.compact_index(spark, path)
            rec["compact_sec"] = round(time.time() - t0, 2)
            rec["probe_after_compact_sec"], rows_c = timed_probe()

            # rebuild-on-survivors reference (the crossover baseline)
            survivors = corpus_tokens.filter(
                (F.col("doc_id") % 100 != 0) & (F.col("doc_id") % 2 != 0)
            )
            t0 = time.time()
            RET.save_lexical_index(survivors, path + "_rb", mode="overwrite")
            rec["rebuild_survivors_sec"] = round(time.time() - t0, 2)
            tf, df, stats, meta = RET.load_lexical_index(spark, path + "_rb")
            rows_rb = RET.probe_lexical_index(
                tf, df, stats, meta, query_terms, k=K
            ).collect()
            assert sorted(map(tuple, rows_c)) == sorted(map(tuple, rows_rb))
            rec["delete_then_compact_vs_rebuild"] = round(
                (rec["delete_1pct_sec"] + rec["delete_to_50pct_sec"]
                 + rec["compact_sec"]) / rec["rebuild_survivors_sec"], 2
            )
            shutil.rmtree(path, ignore_errors=True)
            shutil.rmtree(path + "_rb", ignore_errors=True)
            print(json.dumps(rec))
            continue

        if family == "sketch":
            # r12 second pass: do the sketches earn their cost — KMV
            # vs exact count-distinct in the HIGH-CARDINALITY regime
            # (distinct values ≈ token stream size, the "distinct
            # users/ids at 100 TB" shape where the exact aggregate
            # shuffles the whole distinct set and the sketch ships k
            # rows per partition), plus count-min vs the exact top-k
            # aggregation, with estimate errors recorded
            from workhop2_etl_spark.operators import sketch as SK

            docs = spark.read.parquet(FX.ensure_documents_lex(n))
            toks = F.split(
                F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
                " ",
            )
            stream = docs.select(
                "doc_id", "source", F.posexplode(toks).alias("pos", "tok")
            ).select(
                "source",
                "tok",
                F.md5(
                    F.concat_ws(":", F.col("doc_id"), F.col("pos"), F.col("tok"))
                ).alias("uid"),
            ).persist()
            n_rows = stream.count()  # materialize once; both sides read cache
            rec = {"family": family, "n_docs": n, "n_token_rows": n_rows}

            t0 = time.time()
            exact = stream.agg(F.countDistinct("uid").alias("d")).collect()[0].d
            rec["exact_distinct_sec"] = round(time.time() - t0, 2)
            t0 = time.time()
            est = SK.kmv_estimate(
                SK.kmv_partial(stream, "uid", 256), 256
            ).collect()[0].est_distinct
            rec["kmv_sec"] = round(time.time() - t0, 2)
            rec["exact_distinct"] = int(exact)
            rec["kmv_est"] = round(est, 1)
            rec["kmv_err_pct"] = round(100 * abs(est - exact) / exact, 2)

            t0 = time.time()
            g_exact = {
                r.source: r.d
                for r in stream.groupBy("source")
                .agg(F.countDistinct("uid").alias("d"))
                .collect()
            }
            rec["exact_by_group_sec"] = round(time.time() - t0, 2)
            t0 = time.time()
            g_est = {
                r.source: r.est_distinct
                for r in SK.kmv_estimate_by(
                    SK.kmv_partial_by(stream, ["source"], "uid", 256),
                    ["source"], 256,
                ).collect()
            }
            rec["kmv_by_group_sec"] = round(time.time() - t0, 2)
            rec["kmv_by_group_max_err_pct"] = round(
                max(
                    100 * abs(g_est[s] - g_exact[s]) / g_exact[s]
                    for s in g_exact
                ),
                2,
            )

            t0 = time.time()
            top = (
                stream.groupBy("tok").agg(F.count(F.lit(1)).alias("n_true"))
                .orderBy(F.desc("n_true"), F.asc("tok")).limit(20)
            ).collect()
            rec["exact_topk_sec"] = round(time.time() - t0, 2)
            t0 = time.time()
            grid = SK.cm_partial(stream, "tok", depth=3, width=1024)
            items = spark.createDataFrame(
                [(r.tok,) for r in top], "tok string"
            )
            cm = {
                r.tok: r.n_est
                for r in SK.cm_estimate(
                    grid, items, "tok", depth=3, width=1024
                ).collect()
            }
            rec["cm_build_probe_sec"] = round(time.time() - t0, 2)
            rec["cm_max_over_pct"] = round(
                max(100 * (cm[r.tok] - r.n_true) / r.n_true for r in top), 3
            )
            rec["cm_undercounts"] = sum(
                1 for r in top if cm[r.tok] < r.n_true
            )
            stream.unpersist()
            print(json.dumps(rec))
            continue

        if family == "restore":
            # r12 second pass: price the snapshot verbs at scale —
            # restore-at-snapshot vs rebuild-at-snapshot (restore
            # rereads only the artifact, never the corpus), and the
            # CDC changelog tail vs the two-snapshot membership diff
            # it replaces (the changelog reads the tailed batches'
            # files; the diff pays two gated loads + an anti-join
            # each way)
            docs = spark.read.parquet(FX.ensure_documents_lex(n))
            toks = F.split(
                F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
                " ",
            )
            corpus_tokens = docs.select("doc_id", toks.alias("toks"))
            query_terms = (
                corpus_tokens.filter(F.col("doc_id") < N_QUERIES)
                .select(
                    F.col("doc_id").alias("query_id"),
                    F.explode(F.slice("toks", 1, 8)).alias("term"),
                )
                .distinct()
            )
            rec = {"family": family, "n": n, "k": K, "n_queries": N_QUERIES}
            from workhop2_etl_spark.streaming import index_stream as IS

            t0 = time.time()
            RET.save_lexical_index(
                corpus_tokens.filter(F.col("doc_id") % 2 == 0), path,
                mode="overwrite",
            )
            IS.ingest_epoch(  # commit seq 1
                spark, corpus_tokens.filter(F.col("doc_id") % 2 == 1), 0,
                path, vec_col="toks",
            )
            rec["build_ingest_sec"] = round(time.time() - t0, 2)
            t0 = time.time()
            IDX.delete_from_index(  # commit seq 2: 10% churn
                spark, path,
                corpus_tokens.filter(F.col("doc_id") % 10 == 0)
                .select("doc_id"),
                batch="churn",
            )
            rec["delete_10pct_sec"] = round(time.time() - t0, 2)

            def probe(p, as_of=None):
                tf, df, stats, meta = RET.load_lexical_index(
                    spark, p, as_of=as_of
                )
                return RET.probe_lexical_index(
                    tf, df, stats, meta, query_terms, k=K
                ).collect()

            # restore the pre-delete snapshot vs rebuilding it from
            # the corpus — the rollback path's actual saving
            t0 = time.time()
            IDX.restore_index(spark, path, path + "_r1", as_of=1)
            rec["restore_at1_sec"] = round(time.time() - t0, 2)
            t0 = time.time()
            RET.save_lexical_index(corpus_tokens, path + "_rb",
                                   mode="overwrite")
            rec["rebuild_at1_sec"] = round(time.time() - t0, 2)
            assert sorted(map(tuple, probe(path + "_r1"))) == sorted(
                map(tuple, probe(path + "_rb"))
            )
            # restore the CURRENT state (compacted clone of survivors)
            t0 = time.time()
            IDX.restore_index(spark, path, path + "_now")
            rec["restore_current_sec"] = round(time.time() - t0, 2)

            # changelog tail vs two-snapshot membership diff
            t0 = time.time()
            n_changes = IDX.index_changes(spark, path, from_seq=0).count()
            rec["changes_tail_sec"] = round(time.time() - t0, 2)
            rec["n_change_events"] = n_changes
            t0 = time.time()
            tf0, _, _, _ = RET.load_lexical_index(spark, path, as_of=0)
            tf2, _, _, _ = RET.load_lexical_index(spark, path)
            m0 = tf0.select("doc_id").distinct()
            m2 = tf2.select("doc_id").distinct()
            n_diff = (
                m2.join(m0, "doc_id", "left_anti")
                .unionByName(m0.join(m2, "doc_id", "left_anti"))
                .count()
            )
            rec["snapshot_diff_sec"] = round(time.time() - t0, 2)
            rec["n_net_diff"] = n_diff
            rec["changelog_vs_diff"] = round(
                rec["changes_tail_sec"] / max(rec["snapshot_diff_sec"], 1e-9),
                2,
            )
            for suffix in ("", "_r1", "_rb", "_now"):
                shutil.rmtree(path + suffix, ignore_errors=True)
            print(json.dumps(rec))
            continue

        if family == "fusionrecall":
            # r12 (verdict ask #7): does fusion EARN its cost —
            # recall@k of BM25 / ANN / RRF / weighted on planted
            # noisy-twin queries (relevant = the original doc). With
            # both modalities intact every arm scores 1.0 here (a
            # handful of Zipf-tail terms OR a lightly-perturbed
            # 64-dim vector each fingerprint a doc), so the
            # informative design is DEGRADED-MODALITY: even queries
            # arrive with NO usable text (empty term set — the
            # no-text-metadata case), odd queries with a garbage
            # embedding (pure noise — the no-embedding case). Each
            # single arm can serve only its half; fusion must recover
            # both halves to earn its cost.
            import hashlib as _hl

            docs = spark.read.parquet(FX.ensure_documents_lex(n))
            emb = spark.read.parquet(FX.ensure_embeddings(n, DIM))
            toks = F.split(
                F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
                " ",
            )
            corpus_tokens = docs.select("doc_id", toks.alias("toks"))
            qoff = 10_000_000  # query ids live outside the corpus id space
            step = max(1, n // N_QUERIES)
            base = corpus_tokens.filter(
                (F.col("doc_id") % step == 0) & (F.col("doc_id") < step * N_QUERIES)
            )
            # lexical query: every 3rd token dropped, first 24
            # positions kept — but EVEN queries lose their text
            # entirely (no rows in qt)
            qt = (
                base.filter((F.col("doc_id") / step).cast("long") % 2 == 1)
                .select(
                    (F.col("doc_id") + qoff).alias("query_id"),
                    F.posexplode("toks").alias("pos", "term"),
                )
                .filter((F.col("pos") % 3 != 0) & (F.col("pos") < 24))
                .select("query_id", "term")
                .distinct()
            )
            # vector query: base embedding + light hash noise — but
            # ODD queries get a garbage (pure-noise) embedding
            base_vecs = (
                emb.filter(
                    (F.col("vec_id") % step == 0)
                    & (F.col("vec_id") < step * N_QUERIES)
                ).collect()
            )

            def _noise(q, d, scale):
                h = _hl.md5(f"{q}:{d}".encode()).hexdigest()[:8]
                return (int(h, 16) / float(1 << 31) - 1.0) * scale

            def _qvec(r):
                if (int(r.vec_id) // step) % 2 == 1:  # text half: junk vec
                    return [_noise(r.vec_id, d, 1.0) for d in range(DIM)]
                return [
                    float(v) + _noise(r.vec_id, d, 0.10)
                    for d, v in enumerate(r.embedding)
                ]

            vqueries = spark.createDataFrame(
                [(int(r.vec_id) + qoff, _qvec(r)) for r in base_vecs],
                "vec_id long, embedding array<float>",
            )
            want = {i + qoff: i for i in range(0, step * N_QUERIES, step)}
            rec = {"family": family, "n": n, "dim": DIM, "arm_k": 20,
                   "k": K, "n_queries": len(want)}

            cents = fit_centroids(emb, n_centroids=N_CENTROIDS, seed=7)
            lex = RET.bm25_topk(corpus_tokens, qt, k=20).cache()
            vec = (
                topk_cosine_ivf(emb, vqueries, cents, k=20, nprobe=NPROBE)
                .select(
                    "query_id", F.col("neighbor_id").alias("doc_id"),
                    "rank", "score",
                )
                .cache()
            )
            rrf = RET.rrf_fuse(
                lex.select("query_id", "doc_id", "rank"),
                vec.select("query_id", "doc_id", "rank"), k=K,
            )
            wtd = RET.weighted_fuse(
                lex.select("query_id", "doc_id", "score"),
                vec.select("query_id", "doc_id", "score"),
                k=K, alpha=0.5,
            )

            def recall_at(df_, k_at):
                hit = {}
                for r in df_.filter(F.col("rank") <= k_at).collect():
                    hit.setdefault(r.query_id, set()).add(r.doc_id)
                return round(
                    sum(1 for q, d in want.items() if d in hit.get(q, set()))
                    / len(want), 4,
                )

            rec["recall_lex"] = recall_at(lex, K)
            rec["recall_vec"] = recall_at(vec, K)
            rec["recall_rrf"] = recall_at(rrf, K)
            rec["recall_weighted"] = recall_at(wtd, K)
            lex.unpersist(); vec.unpersist()
            print(json.dumps(rec))
            continue

        emb = spark.read.parquet(FX.ensure_embeddings(n, DIM))
        queries = emb.filter(F.col("vec_id") < N_QUERIES)
        rec = {"family": family, "n": n, "dim": DIM, "k": K,
               "n_queries": N_QUERIES}

        if family == "lsh":
            rec.update(planes=PLANES, tables=TABLES)
            t0 = time.time()
            IDX.save_lsh_index(
                emb, path, dim=DIM, num_planes=PLANES, num_tables=TABLES,
                mode="overwrite",
            )
            build_save = round(time.time() - t0, 2)

            t0 = time.time()
            index, meta = IDX.load_lsh_index(spark, path)
            rows_loaded = IDX.probe_lsh_index(index, meta, queries, k=K).collect()
            load_probe = round(time.time() - t0, 2)

            t0 = time.time()
            rows_insession = topk_cosine_lsh_multitable(
                emb, queries, dim=DIM, k=K, num_planes=PLANES,
                num_tables=TABLES,
            ).collect()
            insession = round(time.time() - t0, 2)
        elif family == "ivf":
            rec.update(n_centroids=N_CENTROIDS, nprobe=NPROBE)
            # quantizer training is one-off for BOTH paths; excluded
            # from the phase timings the same way on each side
            cents = fit_centroids(emb, n_centroids=N_CENTROIDS, seed=7)
            t0 = time.time()
            IDX.save_ivf_index(emb, path, cents, dim=DIM, mode="overwrite")
            build_save = round(time.time() - t0, 2)

            t0 = time.time()
            postings, cs, meta = IDX.load_ivf_index(spark, path)
            rows_loaded = IDX.probe_ivf_index(
                postings, cs, meta, queries, k=K, nprobe=NPROBE
            ).collect()
            load_probe = round(time.time() - t0, 2)

            t0 = time.time()
            rows_insession = topk_cosine_ivf(
                emb, queries, cents, k=K, nprobe=NPROBE
            ).collect()
            insession = round(time.time() - t0, 2)
        else:  # pq
            rec.update(n_centroids=N_CENTROIDS, nprobe=NPROBE, pq_m=8, pq_k=16)
            # quantizer + codebook training one-off for BOTH paths
            cents = fit_centroids(emb, n_centroids=N_CENTROIDS, seed=7)
            cb = fit_pq_codebooks(
                emb, dim=DIM, seed=7, sample_fraction=min(1.0, 50_000 / n)
            )
            t0 = time.time()
            IDX.save_ivf_index(
                emb, path, cents, dim=DIM, store_dtype="pq8",
                codebooks=cb, mode="overwrite",
            )
            build_save = round(time.time() - t0, 2)

            t0 = time.time()
            postings, cs, meta = IDX.load_ivf_index(spark, path)
            rows_loaded = IDX.probe_ivf_index(
                postings, cs, meta, queries, k=K, nprobe=NPROBE
            ).collect()
            load_probe = round(time.time() - t0, 2)

            t0 = time.time()
            rows_insession = topk_cosine_ivf_pq(
                emb, queries, cents, cb, dim=DIM, k=K, nprobe=NPROBE,
            ).collect()
            insession = round(time.time() - t0, 2)

        assert sorted(map(tuple, rows_loaded)) == sorted(map(tuple, rows_insession))
        shutil.rmtree(path, ignore_errors=True)
        rec.update(
            build_save_sec=build_save,
            load_probe_sec=load_probe,
            insession_sec=insession,
            probe_speedup_vs_insession=round(insession / load_probe, 2),
        )
        print(json.dumps(rec))


if __name__ == "__main__":
    main()
