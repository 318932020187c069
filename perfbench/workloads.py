"""The benchmark workloads. Each is one client in a closed loop: the next
operation starts only when the previous one has finished. Inputs come
from ``gen`` (seeded, untimed); outputs are checked by ``checks``
(untimed) and every operation counts as attempted, and as failed when its
output is wrong.

Each workload fills ``Run.e2e`` (the end-to-end metrics every workload
reports under the same names) and ``Run.named`` (its own metrics, under
the names of the benchmark's design; see README.md for the map).
Sizes and the reasons for them are in README.md.
"""

from __future__ import annotations

import contextlib
import gc
import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen
from spans import cpu_ticks

#: session restarts in a run's set-up; set-up time counts their median
SESSION_STARTS = 5
#: IVF index loads in corpus_index's set-up; set-up time counts their median
INDEX_LOADS = 3

EPOCH_DOCS = 3000
MAX_EPOCHS = 3
DUP_THRESHOLD = 0.7
DELETE_FRAC = 0.01  # of the live documents
WRITE_KINDS = ("epoch", "delete", "compact")

IVF_DOCS = EPOCH_DOCS
PROBE_QUERIES = 50
PROBE_K = 10
ARM_K = 20  # per-arm depth feeding the hybrid fusion
NPROBE = 2
N_CENTROIDS = 64
DIM = 64
QUERY_TERMS = 8  # a query is the distinct terms among a document's first 8
PROBE_KINDS = ("bm25", "ivf", "hybrid")


class Run:
    """State of one benchmark run: inputs, the session, the tracer, and
    what the workload measured and checked."""

    def __init__(self, seed: int, seconds: int, tracer, work: str):
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.work = work
        self.spark = None
        self.setup_s = 0.0
        self.ops: dict[str, list[float]] = {}  # untraced latencies by kind
        self.traced_ops: dict[str, list[float]] = {}  # traced latencies by kind
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.peak_rss_mb = 0.0
        self.jvm_pid = None
        self.steal: dict[str, list[float]] = {}  # share of CPU stolen during each operation
        self.e2e: dict[str, float] = {}
        self.outputs: dict[str, object] = {}  # output digests, to compare runs of one seed
        self.named: dict[str, tuple[float, str]] = {}

    @property
    def timed_s(self) -> float:
        return sum(map(sum, self.ops.values())) + sum(map(sum, self.traced_ops.values()))

    def more(self, kinds) -> bool:
        """Whether the closed loop sends another operation: until the
        timed operations add up to ``seconds``. A traced run also goes on
        until each kind has an untraced sample, the baseline of the
        tracing overhead."""
        if self.timed_s < self.seconds:
            return True
        return self.tracer.enabled and not all(self.ops.get(k) for k in kinds)

    @contextlib.contextmanager
    def op(self, kind: str):
        """Time one operation of the closed loop. A traced run traces
        every other operation of each kind and runs the rest untraced."""
        n = len(self.ops.get(kind, ())) + len(self.traced_ops.get(kind, ()))
        traced = self.tracer.enabled and n % 2 == 0
        with self.tracer.paused() if self.tracer.enabled and not traced else contextlib.nullcontext():
            c0 = cpu_ticks()
            t0 = time.perf_counter()
            yield
            dt = time.perf_counter() - t0
            c1 = cpu_ticks()
        (self.traced_ops if traced else self.ops).setdefault(kind, []).append(dt)
        self.steal.setdefault(kind, []).append((c1[1] - c0[1]) / max(c1[0] - c0[0], 1))

    def op_s(self, kinds, traced: bool = False) -> float:
        """Sum over ``kinds`` of the median latency of each."""
        ops = self.traced_ops if traced else self.ops
        return sum(statistics.median(ops[k]) for k in kinds)

    def span(self, name: str, **extra):
        return self.tracer.span(name, **extra)

    def start_session(self) -> float:
        """Start the engine's session, which launches the JVM, then stop
        and start it again SESSION_STARTS times; returns the first start
        plus the median restart. The last session stays up. The Python
        process's peak RSS restarts here, so input generation does not
        count toward ``peak_rss_mb``."""
        from workhop2_etl_spark.session import get_spark

        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        times = []
        for _ in range(1 + SESSION_STARTS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.span("session.get_spark"):
                self.spark = get_spark(f"perfbench-{self.seed}")
            times.append(time.perf_counter() - t0)
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        self.tracer.attach(self.spark)
        return times[0] + statistics.median(times[1:])

    def measure_memory(self) -> None:
        """Peak RSS of the driver JVM plus the driver Python, read at the
        end of the timed loop, before the output checks run."""
        self.peak_rss_mb = sum(_peak_rss_mb(pid) for pid in (self.jvm_pid, os.getpid()))

    def outcome(self, problems: list[str]) -> None:
        """Count one operation and whether its output checked out."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += problems

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _tokens(df):
    from pyspark.sql import functions as F

    return df.select("doc_id", F.split("text", " ").alias("toks"))


def _release(run: Run) -> None:
    """Free what the last operation cached before the next one starts:
    Python references first, then a JVM GC, so the context cleaner
    drops the plan's lazy ``localCheckpoint`` blocks now instead of on
    the GC's own schedule (which made warm ETL runs spread 2-4x)."""
    gc.collect()
    run.spark.sparkContext._jvm.System.gc()
    time.sleep(0.3)


def _write_query_terms(path: str, query_ids, texts) -> pd.DataFrame:
    """(query_id, term): the distinct terms among each query document's
    first QUERY_TERMS tokens, written as the probe's input file."""
    rows = [
        (q, t) for q in query_ids for t in dict.fromkeys(texts[q].split(" ")[:QUERY_TERMS])
    ]
    qt = pd.DataFrame(rows, columns=["query_id", "term"]).astype({"query_id": "int64"})
    pq.write_table(pa.Table.from_pandas(qt, preserve_index=False), path)
    return qt


# -- etl_reference ------------------------------------------------------------


def etl_reference(run: Run) -> None:
    from workhop2_etl_spark.plans import grammy_spotify as P
    from workhop2_etl_spark.plans.schemas import GRAMMY_SCHEMA, SPOTIFY_SCHEMA
    from workhop2_etl_spark.sources import fs, readers, writers

    paths = gen.write_etl_inputs(run.seed, run.path("etl-in"))
    expected_rows = checks.cleaned_award_rows(paths["grammy"])
    in_rows = gen.GRAMMY_ROWS + sum(1 for _ in open(paths["spotify"], "rb")) - 1
    in_bytes = os.path.getsize(paths["grammy"]) + os.path.getsize(paths["spotify"])

    run.setup_s = run.start_session()
    spark = run.spark

    # Warm-up, untimed, on the check slice of the same inputs: a strict
    # pass, checked against the pandas replay of the reference. It
    # compiles the operators the timed spec runs share with it.
    with run.span("warmup.strict_pipeline"):
        g = readers.read_csv(spark, paths["grammy_strict"], GRAMMY_SCHEMA)
        s = readers.read_csv(spark, paths["spotify_strict"], SPOTIFY_SCHEMA)
        out = P.run_pipeline(g, s, mode="strict")
        rows = [tuple(r) for r in out.collect()]
    run.outcome(checks.strict_replay_problems(out.columns, rows, paths["grammy_strict"], paths["spotify_strict"]))
    del g, s, out
    _release(run)

    out_dir = run.path("etl-out")
    digests = set()
    while run.more(("etl",)):
        with run.op("etl"), run.span("etl.run"):
            with run.span("sources.readers.read_csv"):
                g = readers.read_csv(spark, paths["grammy"], GRAMMY_SCHEMA)
                s = readers.read_csv(spark, paths["spotify"], SPOTIFY_SCHEMA)
            with run.span("plans.grammy_spotify.run_pipeline"):
                out = P.run_pipeline(g, s, mode="spec")
            with run.span("sources.writers.write_parquet"):
                writers.write_parquet(out, out_dir)
        n, digest = checks.parquet_digest(out_dir)
        digests.add(digest)
        run.outcome([] if n == expected_rows else [f"etl: {n} rows, expected {expected_rows}"])
        del g, s, out
        _release(run)
    run.measure_memory()
    if len(digests) > 1:
        run.outcome([f"etl: output digest changed between runs ({len(digests)} digests)"])
    run.outputs["etl_digest"] = sorted(digests)

    etl_s = run.op_s(("etl",))
    run.named["etl_run_s"] = (etl_s, "s")
    run.e2e = {
        "op_s": etl_s,
        "items_per_s": in_rows / etl_s,
        "bytes_per_input_byte": fs.dir_bytes(spark, out_dir) / in_bytes,
    }


# -- corpus_index -------------------------------------------------------------


def corpus_index(run: Run) -> None:
    from pyspark.sql import functions as F

    from workhop2_etl_spark.operators import dedup_text as DT
    from workhop2_etl_spark.operators import index_store as IDX
    from workhop2_etl_spark.operators import retrieval as RET
    from workhop2_etl_spark.sources import fs, readers
    from workhop2_etl_spark.streaming import index_stream as IS

    n_docs = EPOCH_DOCS * MAX_EPOCHS
    texts = gen.corpus_texts(run.seed, n_docs, dup_window=EPOCH_DOCS)
    vecs = gen.embeddings(run.seed + 1, IVF_DOCS, DIM)
    ivf_ids = list(range(IVF_DOCS))
    rng = np.random.default_rng(run.seed + 2)
    os.makedirs(run.path("in"), exist_ok=True)
    epoch_files = [run.path("in", f"epoch-{e:03d}.parquet") for e in range(MAX_EPOCHS)]
    for e, path in enumerate(epoch_files):
        gen.write_corpus(path, texts[e * EPOCH_DOCS:(e + 1) * EPOCH_DOCS], e * EPOCH_DOCS)
    emb_file = run.path("in", "embeddings.parquet")
    gen.write_embeddings(emb_file, vecs, ivf_ids)
    centroids = [(c, vecs[j].tolist()) for c, j in enumerate(sorted(rng.choice(IVF_DOCS, N_CENTROIDS, replace=False)))]
    # Query samples come from the first epoch's documents, which are
    # also the IVF corpus, so a hybrid query has both arms.
    samples = []  # (query ids, terms frame, terms file, vectors file) per probe
    for i in range(len(PROBE_KINDS) * (MAX_EPOCHS - 1)):  # one sample per probe
        q_ids = sorted(int(x) for x in rng.choice(IVF_DOCS, PROBE_QUERIES, replace=False))
        t_file = run.path("in", f"q{i:03d}-terms.parquet")
        v_file = run.path("in", f"q{i:03d}-vecs.parquet")
        qt = _write_query_terms(t_file, q_ids, texts)
        gen.write_embeddings(v_file, vecs[q_ids], q_ids)
        samples.append((q_ids, qt, t_file, v_file))

    # Set-up: the session; an empty lexical index for the epochs to grow;
    # the IVF index over the embeddings, built and loaded (INDEX_LOADS
    # times; the last load serves the probes).
    lex_path, ivf_path = run.path("lex"), run.path("ivf")
    setup_s = run.start_session()
    spark = run.spark

    def build() -> None:
        with run.span("retrieval.save_lexical_index"):
            empty = _tokens(readers.read_parquet(spark, epoch_files[0])).limit(0)
            RET.save_lexical_index(empty, lex_path, mode="overwrite", num_partitions=2)
        with run.span("index_store.save_ivf_index"):
            IDX.save_ivf_index(readers.read_parquet(spark, emb_file), ivf_path, centroids, dim=DIM, mode="overwrite")

    def load_ivf():
        with run.span("index_store.load_ivf_index"):
            return IDX.load_ivf_index(spark, ivf_path)

    setup_s += _timed(build)[1]
    loads = [_timed(load_ivf) for _ in range(INDEX_LOADS)]
    run.setup_s = setup_s + statistics.median(dt for _, dt in loads)
    postings, cents, imeta = loads[-1][0]

    # -- the write side: one operation per engine call
    live: set[int] = set()
    lex = {}  # the loaded lexical index, reloaded after each ingest and compaction

    def load_lexical() -> None:
        with run.span("retrieval.load_lexical_index"):
            lex["index"] = RET.load_lexical_index(spark, lex_path)

    def ingest(e: int) -> list[tuple]:
        """Deduplicate epoch ``e`` and make its survivors queryable;
        returns the near-duplicate pairs found."""
        with run.span("sources.readers.read_parquet"):
            batch = readers.read_parquet(spark, epoch_files[e])
        with run.span("dedup_text.near_dup_pairs"):
            pairs = [
                (r.id_a, r.id_b, r.jaccard)
                for r in DT.near_dup_pairs(batch, threshold=DUP_THRESHOLD)
                .select("id_a", "id_b", "jaccard").collect()
            ]
        dropped = sorted({b for _, b, _ in pairs})
        survivors = batch.filter(~F.col("doc_id").isin(dropped)) if dropped else batch
        with run.span("index_stream.ingest_epoch"):
            IS.ingest_epoch(spark, _tokens(survivors), e, lex_path, vec_col="toks", partitions_per_epoch=2)
        load_lexical()
        live.update(set(range(e * EPOCH_DOCS, (e + 1) * EPOCH_DOCS)) - set(dropped))
        return pairs

    def check_dedup(e: int, pairs: list[tuple]) -> None:
        """Untimed: the pairs' Jaccard, and in a traced run the LSH
        candidates per confirmed pair (the wasted work of the dedup)."""
        run.outcome(checks.dedup_problems(pairs, texts.__getitem__, DUP_THRESHOLD))
        if run.tracer.enabled:
            with run.span("dedup_text.minhash_candidates") as sp:
                n_cand = DT.minhash_candidates(readers.read_parquet(spark, epoch_files[e])).count()
                sp["lsh_candidates_per_pair"] = n_cand / max(len(pairs), 1)

    def delete() -> None:
        victims = sorted(int(i) for i in rng.choice(sorted(live), int(len(live) * DELETE_FRAC), replace=False))
        with run.span("index_store.delete_from_index"):
            IDX.delete_from_index(spark, lex_path, victims)
        live.difference_update(victims)

    def compact() -> None:
        with run.span("index_store.compact_index"):
            IDX.compact_index(spark, lex_path, num_partitions=2)
        load_lexical()

    # -- the read side
    def lexical(i: int, k: int):
        tf, df, stats, meta = lex["index"]
        with run.span("retrieval.probe_lexical_index"):
            return RET.probe_lexical_index(tf, df, stats, meta, readers.read_parquet(spark, samples[i][2]), k=k)

    def vector(i: int, k: int):
        with run.span("index_store.probe_ivf_index"):
            return IDX.probe_ivf_index(
                postings, cents, imeta, readers.read_parquet(spark, samples[i][3]), k=k, nprobe=NPROBE)

    def probe(kind: str, i: int) -> list[tuple]:
        """One probe: the engine call builds the plan (and runs whatever
        jobs it launches itself); the collect span runs the rest."""
        with run.span(f"probe.{kind}"):
            if kind == "bm25":
                plan = lexical(i, PROBE_K)
            elif kind == "ivf":
                plan = vector(i, PROBE_K).select("query_id", "rank", "neighbor_id", "score")
            else:
                arm_a, arm_b = lexical(i, ARM_K), vector(i, ARM_K)
                with run.span("retrieval.rrf_fuse"):
                    plan = RET.rrf_fuse(
                        arm_a.select("query_id", "doc_id", "rank"),
                        arm_b.select("query_id", F.col("neighbor_id").alias("doc_id"), "rank"),
                        k=PROBE_K,
                    ).select("query_id", "rank", "doc_id", "rrf_score")
            with run.span(f"probe.{kind}.collect"):
                return [tuple(r) for r in plan.collect()]

    results = []  # (kind, sample, live documents then, rows)

    # Warm-up, untimed: the first epoch, which is also the base corpus
    # the probes search.
    with run.span("warmup"):
        pairs = ingest(0)
    check_dedup(0, pairs)
    _release(run)

    # The closed loop: each cycle ingests the next epoch, deletes, and
    # compacts, then probes once with each type on a fresh query sample.
    e, i = 1, 0
    written = 0
    while run.more(KINDS["corpus_index"]) and e < MAX_EPOCHS:
        n_live = len(live)
        with run.op("epoch"), run.span("ingest.epoch"):
            pairs = ingest(e)
        written += len(live) - n_live
        check_dedup(e, pairs)
        with run.op("delete"):
            delete()
        with run.op("compact"):
            compact()
        e += 1
        for kind in PROBE_KINDS:
            with run.op(kind):
                got = probe(kind, i)
            results.append((kind, i, frozenset(live), got))
            i += 1
        _release(run)
    run.measure_memory()

    ivf = checks.IvfOracle(ivf_ids, vecs, centroids)
    for state in dict.fromkeys(r[2] for r in results):
        bm25 = checks.Bm25Oracle(sorted(state), [texts[d] for d in sorted(state)])
        for kind, n, _, got in (r for r in results if r[2] == state):
            q_ids, qt = samples[n][0], samples[n][1]
            if kind == "bm25":
                want = bm25.topk(qt, PROBE_K)
            elif kind == "ivf":
                want = ivf.topk(q_ids, PROBE_K, NPROBE)
            else:
                want = checks.rrf(bm25.topk(qt, ARM_K), ivf.topk(q_ids, ARM_K, NPROBE), PROBE_K)
            run.outcome(checks.ranked_problems(f"{kind} probe", got, want, 0.0 if kind == "bm25" else 1e-6))
        bm25.close()

    write_s = sum(sum(run.ops.get(k, ())) + sum(run.traced_ops.get(k, ())) for k in WRITE_KINDS)
    docs_per_s = written / write_s
    bytes_ratio = fs.dir_bytes(spark, lex_path) / sum(len(texts[d].encode()) for d in live)
    run.named["ingest_docs_per_s"] = (docs_per_s, "1/s")
    run.named["index_bytes_per_doc_byte"] = (bytes_ratio, "B/B")
    for kind in PROBE_KINDS:
        run.named[f"probe_{kind}_s"] = (run.op_s((kind,)), "s")
        run.named[f"probe_{kind}_samples"] = (len(run.ops[kind]), "count")
    run.e2e = {
        "op_s": run.op_s(KINDS["corpus_index"]),
        "items_per_s": docs_per_s,
        "bytes_per_input_byte": bytes_ratio,
    }


#: the operation kinds of each workload's headline latency
KINDS = {
    "etl_reference": ("etl",),
    "corpus_index": WRITE_KINDS + PROBE_KINDS,
}

WORKLOADS = {
    "etl_reference": etl_reference,
    "corpus_index": corpus_index,
}
