"""Output checks, each independent of the engine path it checks.

* ETL: row conservation against a pandas count of the cleaned awards, a
  digest of the output rows, and the strict-mode pipeline against the
  pandas replay of the reference (``tests/replay_reference.py``).
* BM25 probes: DuckDB scoring through ``retrieval.bm25_contrib_sql``.
* IVF probes: exact cosine in NumPy over the probed cells.
* Hybrid probes: reciprocal-rank fusion of the two checked arms.
* Dedup: the 3-shingle Jaccard of every reported pair, recomputed.

Every function returns a list of problems; an empty list is a pass.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from workhop2_etl_spark.operators.retrieval import RRF_K, bm25_contrib_sql

# -- ETL ---------------------------------------------------------------------


def cleaned_award_rows(grammy_csv: str) -> int:
    """Spec-mode rows the pipeline must keep: awards whose nominee or
    artist is non-blank (the pipeline is a left enrichment, so it
    neither drops nor fans out any other row)."""
    g = pd.read_csv(grammy_csv)
    blank = lambda c: g[c].isna() | (g[c].astype(str).str.strip() == "")  # noqa: E731
    return int((~(blank("nominee") & blank("artist"))).sum())


def _cell(v) -> str:
    if v is None or v is pd.NA:
        return "<N>"
    if isinstance(v, float):
        return "<N>" if math.isnan(v) else f"{v:.6g}"
    return str(v)


def row_multiset(columns: list[str], rows) -> list[str]:
    """Order-insensitive canonical form of a result: one string per row,
    columns in name order, floats to 6 significant digits."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(_cell(r[i]) for i in order) for r in rows)


def parquet_digest(path: str) -> tuple[int, str]:
    """(row count, sha256 of the canonical row multiset) of a parquet
    output, read with pyarrow rather than the engine."""
    t = pq.read_table(path)
    rows = list(zip(*[t.column(c).to_pylist() for c in t.column_names])) if t.num_rows else []
    h = hashlib.sha256("\n".join(row_multiset(t.column_names, rows)).encode()).hexdigest()
    return t.num_rows, h[:16]


def strict_replay_problems(spark_cols: list[str], spark_rows, grammy_csv: str, spotify_csv: str) -> list[str]:
    """The engine's strict-mode result against the pandas replay of the
    shipped reference on the same CSV inputs."""
    from tests.replay_reference import replay_strict

    golden = replay_strict(pd.read_csv(grammy_csv), pd.read_csv(spotify_csv))
    if sorted(spark_cols) != sorted(golden.columns):
        return [f"strict columns differ: {sorted(spark_cols)} vs {sorted(golden.columns)}"]
    a = row_multiset(list(spark_cols), spark_rows)
    b = row_multiset(list(golden.columns), list(golden.itertuples(index=False, name=None)))
    if len(a) != len(b):
        return [f"strict rows: engine {len(a)}, replay {len(b)}"]
    bad = sum(x != y for x, y in zip(a, b))
    return [f"strict replay: {bad} rows differ"] if bad else []


# -- BM25 --------------------------------------------------------------------


class Bm25Oracle:
    """Single-shot BM25 over a document set in DuckDB, with the scoring
    expression the engine's own oracle uses (``bm25_contrib_sql``)."""

    def __init__(self, doc_ids, texts):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        docs = pd.DataFrame({"doc_id": np.asarray(doc_ids, dtype=np.int64), "text": list(texts)})
        self.con.register("docs_in", docs)
        self.con.execute("""
            CREATE TABLE toks AS
            SELECT doc_id, string_split(text, ' ') AS t FROM docs_in WHERE text <> '';
            CREATE TABLE tf AS
            SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
            FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
            GROUP BY doc_id, term;
            CREATE TABLE df AS SELECT term, count(*) AS df FROM tf GROUP BY term;
            CREATE TABLE stats AS
            SELECT count(*) AS n_docs, CAST(sum(len(t)) AS DOUBLE) / count(*) AS avgdl FROM toks;
        """)
        self.con.unregister("docs_in")

    def topk(self, query_terms: pd.DataFrame, k: int) -> list[tuple]:
        """(query_id, rank, doc_id, score, n_hit) rows, rank <= k."""
        contrib = bm25_contrib_sql(
            tf="tf.tf", df="df.df", dl="tf.dl", n_docs="s.n_docs", avgdl="s.avgdl"
        )
        self.con.register("qt", query_terms[["query_id", "term"]].drop_duplicates())
        try:
            return self.con.execute(f"""
                WITH contrib AS (
                  SELECT qt.query_id, tf.doc_id, qt.term, {contrib} AS c
                  FROM qt JOIN tf USING (term) JOIN df USING (term) CROSS JOIN stats s
                  WHERE tf.doc_id <> qt.query_id
                ), bm AS (
                  SELECT query_id, doc_id,
                         round(list_reduce(list(c ORDER BY term), (a, b) -> a + b), 6) AS score,
                         count(*) AS n_hit
                  FROM contrib GROUP BY query_id, doc_id
                )
                SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score, n_hit FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
                  FROM bm
                ) WHERE rank <= {int(k)} ORDER BY query_id, rank
            """).fetchall()
        finally:
            self.con.unregister("qt")

    def close(self) -> None:
        self.con.close()


def ranked_problems(label: str, got, want, score_tol: float = 0.0) -> list[str]:
    """Compare ranked rows (query_id, rank, id, score, ...) exactly on
    everything but the score, which may differ by ``score_tol``."""
    got = sorted(tuple(r) for r in got)
    want = sorted(tuple(r) for r in want)
    if len(got) != len(want):
        return [f"{label}: {len(got)} rows, oracle {len(want)}"]
    bad = 0
    for g, w in zip(got, want):
        if g[:3] != w[:3] or g[4:] != w[4:] or abs(float(g[3]) - float(w[3])) > score_tol:
            bad += 1
    return [f"{label}: {bad} of {len(want)} rows differ from the oracle"] if bad else []


# -- IVF ---------------------------------------------------------------------


class IvfOracle:
    """Exact cosine top-k over the cells each query probes, with cells
    assigned by cosine to the index's centroids (centroid id breaks ties)."""

    def __init__(self, ids, vecs: np.ndarray, centroids: list[tuple[int, list[float]]]):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.pos = {int(v): p for p, v in enumerate(self.ids)}
        self.vecs = vecs
        self.norms = np.linalg.norm(vecs, axis=1)
        cents = sorted(centroids)
        self.cids = np.array([c for c, _ in cents])
        self.C = np.array([v for _, v in cents], dtype=np.float64)
        self.cn = np.linalg.norm(self.C, axis=1)
        self.cell = self.cids[np.argmax(self._cos_to_cells(vecs), axis=1)]

    def _cos_to_cells(self, V: np.ndarray) -> np.ndarray:
        return (V @ self.C.T) / (np.linalg.norm(V, axis=1)[:, None] * self.cn[None, :])

    def topk(self, query_ids, k: int, nprobe: int) -> list[tuple]:
        """(query_id, rank, neighbor_id, score) rows."""
        out = []
        qpos = [self.pos[int(q)] for q in query_ids]
        probes = np.argsort(-self._cos_to_cells(self.vecs[qpos]), axis=1, kind="stable")[:, :nprobe]
        for qid, qp, cells in zip(query_ids, qpos, probes):
            cand = np.flatnonzero(np.isin(self.cell, self.cids[cells]))
            cand = cand[cand != qp]
            cos = (self.vecs[cand] @ self.vecs[qp]) / (self.norms[cand] * self.norms[qp])
            score = np.round(cos, 6)
            order = np.lexsort((self.ids[cand], -score))[:k]
            out += [(int(qid), r + 1, int(self.ids[cand[j]]), float(score[j])) for r, j in enumerate(order)]
        return out


# -- hybrid ------------------------------------------------------------------


def rrf(arm_a: list[tuple], arm_b: list[tuple], k: int) -> list[tuple]:
    """(query_id, rank, doc_id, rrf_score) from two ranked arms of
    (query_id, rank, doc_id, ...) rows, as reciprocal-rank fusion
    defines it: sum of 1/(RRF_K + rank) over the arms holding the doc."""
    ranks: dict[tuple[int, int], list] = {}
    for arm, i in ((arm_a, 0), (arm_b, 1)):
        for r in arm:
            ranks.setdefault((r[0], r[2]), [None, None])[i] = r[1]
    scored: dict[int, list] = {}
    for (qid, doc), (ra, rb) in ranks.items():
        s = (1.0 / (RRF_K + ra) if ra else 0.0) + (1.0 / (RRF_K + rb) if rb else 0.0)
        scored.setdefault(qid, []).append((round(s, 6), doc))
    out = []
    for qid, docs in scored.items():
        docs.sort(key=lambda t: (-t[0], t[1]))
        out += [(qid, i + 1, doc, s) for i, (s, doc) in enumerate(docs[:k])]
    return out


# -- dedup -------------------------------------------------------------------


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams of lower-cased, whitespace-collapsed text;
    a text shorter than n words is one shingle."""
    toks = text.lower().split()
    if not toks:
        return set()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def dedup_problems(pairs, text_of, threshold: float) -> list[str]:
    """Every reported (id_a, id_b, jaccard) pair must have a recomputed
    Jaccard at or above ``threshold`` that matches the reported one."""
    bad = 0
    for a, b, j in pairs:
        sa, sb = shingles(text_of(a)), shingles(text_of(b))
        exact = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
        if exact < threshold or abs(exact - j) > 1e-6:
            bad += 1
    return [f"dedup: {bad} of {len(pairs)} pairs below threshold or misreported"] if bad else []
