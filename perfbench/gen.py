"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and writes plain files (CSV or
parquet) that the engine then reads like any other input. Generation is
untimed and runs before the engine sees anything.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: reference scale of the Grammy x Spotify pipeline: 4,810 award rows and
#: ~114k track rows (1.25 rows per track: a quarter of the tracks are
#: listed under two genres)
GRAMMY_ROWS = 4810
SPOTIFY_TRACKS = 91_200

#: slice of the same inputs that the strict-mode replay check runs on;
#: the pandas replay matches row at a time, so the full inputs would
#: take minutes
STRICT_GRAMMY_ROWS = 480
STRICT_SPOTIFY_ROWS = 5000

#: corpus vocabulary: ranks drawn as VOCAB * u**ZIPF_POWER give a heavy
#: head and a long tail, so a probe's term IN-list prunes most posting
#: files while the frequent terms still occur in most documents
VOCAB = 20_000
ZIPF_POWER = 3.0
DOC_WORDS = (40, 90)
#: share of documents that are near-duplicates of an earlier one
DUP_FRAC = 0.1
#: words replaced in a near-duplicate: 2 of ~65 words keeps the
#: 3-shingle Jaccard near 0.9, above the 0.7 dedup threshold
DUP_SWAPS = 2


def write_etl_inputs(seed: int, out_dir: str) -> dict[str, str]:
    """Grammy and Spotify CSVs at reference scale, plus the strict-check
    slice of the same rows. Returns the file paths by name."""
    from tests.fixtures_grammy import make_grammy, make_spotify

    os.makedirs(out_dir, exist_ok=True)
    grammy = make_grammy(n=GRAMMY_ROWS, seed=seed)
    spotify = make_spotify(n_tracks=SPOTIFY_TRACKS, seed=seed + 1)
    paths = {
        name: os.path.join(out_dir, f"{name}.csv")
        for name in ("grammy", "spotify", "grammy_strict", "spotify_strict")
    }
    grammy.to_csv(paths["grammy"], index=False)
    spotify.to_csv(paths["spotify"], index=False)
    grammy.head(STRICT_GRAMMY_ROWS).to_csv(paths["grammy_strict"], index=False)
    spotify.head(STRICT_SPOTIFY_ROWS).to_csv(paths["spotify_strict"], index=False)
    return paths


def corpus_texts(seed: int, n_docs: int, dup_window: int) -> list[str]:
    """``n_docs`` documents over the Zipfian vocabulary; about
    ``DUP_FRAC`` of them are near-duplicates of an earlier original in
    the same ``dup_window``-sized block of ids (one ingest epoch, so
    per-epoch dedup can find them)."""
    rng = np.random.default_rng(seed)
    lo, hi = DOC_WORDS
    lengths = rng.integers(lo, hi, size=n_docs)
    ranks = np.minimum(
        (VOCAB * rng.random(int(lengths.sum())) ** ZIPF_POWER).astype(np.int64),
        VOCAB - 1,
    )
    words = np.char.add("w", ranks.astype("U6"))
    offsets = np.concatenate(([0], np.cumsum(lengths)))
    texts = [" ".join(words[offsets[i]:offsets[i + 1]]) for i in range(n_docs)]
    dups: set[int] = set()
    for i in np.flatnonzero(rng.random(n_docs) < DUP_FRAC):
        start = (int(i) // dup_window) * dup_window
        if i == start:
            continue
        src = int(rng.integers(start, i))
        if src in dups:
            continue  # sources stay originals: each pair is one edit apart
        toks = texts[src].split(" ")
        for p in rng.integers(0, len(toks), size=DUP_SWAPS):
            toks[int(p)] = f"w{int(rng.integers(0, VOCAB))}"
        texts[int(i)] = " ".join(toks)
        dups.add(int(i))
    return texts


def write_corpus(path: str, texts: list[str], first_id: int = 0) -> None:
    """(doc_id, text) parquet."""
    ids = np.arange(first_id, first_id + len(texts), dtype=np.int64)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids), "text": pa.array(texts, pa.string())}),
        path,
    )


def embeddings(seed: int, n: int, dim: int, n_clusters: int = 32) -> np.ndarray:
    """``n`` unit vectors around ``n_clusters`` random centres; the noise
    norm is ~0.5 of the unit centre, so cluster-mates sit near cosine 0.8."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(n_clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, n_clusters, size=n)
    vecs = centres[labels] + (0.5 / np.sqrt(dim)) * rng.normal(size=(n, dim))
    return vecs / np.linalg.norm(vecs, axis=1, keepdims=True)


def write_embeddings(path: str, vecs: np.ndarray, ids) -> None:
    """(vec_id, embedding array<double>) parquet."""
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float64())),
        }),
        path,
    )
