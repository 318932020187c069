"""The on-disk layout of persisted index data dirs.

Every verb that writes an index data dir — save, append, stream
ingest, delete, compaction and restore — lays it out through one
writer (``index_store._write_dirs``): corpus-sized files sorted on
the kind's cluster keys, one file per dimension-sized partial. The
first test reads the files back with pyarrow after each verb; the
second keeps the layout decisions inside the writer, and the third
the "append" write mode out of the index modules, so an append is a
ledgered batch. The fourth keeps every incremental artifact on the
one commit protocol (operators/ledger.py), and the last every
foreachBatch stream on the one driver (streaming/drain.py), which
binds ledgered sinks to their checkpoint."""

from __future__ import annotations

import ast
import io
import os
import pathlib
import tempfile
import tokenize
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from workhop2_etl_spark.operators import index_store as IDX
from workhop2_etl_spark.operators import retrieval as RET
from workhop2_etl_spark.operators import similarity as SIM
from workhop2_etl_spark.session import load_table
from workhop2_etl_spark.streaming import index_stream as IS

from tests.conftest import SF_DIR

DIM = 64

# kind -> (corpus-sized data dir, its cluster keys, partial dirs a batch adds)
_KINDS = {
    "lsh": ("index", ("table_id", "sig"), ()),
    "ivf": ("index", ("centroid_id",), ()),
    "lexical": ("tf", ("term",), ("df", "stats")),
}


def _files(path: str, sub: str) -> set[str]:
    d = os.path.join(path, sub)
    if not os.path.isdir(d):
        return set()
    return {
        os.path.join(d, n) for n in os.listdir(d)
        if not n.startswith(("_", ".")) and os.path.isfile(os.path.join(d, n))
    }


def _snapshot(path: str, kind: str) -> dict[str, set[str]]:
    data, _, partials = _KINDS[kind]
    return {sub: _files(path, sub) for sub in (data, *partials, "tombstones")}


def _check_written(path: str, kind: str, before: dict, partials: tuple) -> None:
    """The files the last verb wrote: each data file non-decreasing on
    the cluster keys, and exactly one new file in each of ``partials``."""
    data, keys, _ = _KINDS[kind]
    now = _snapshot(path, kind)
    written = now[data] - before.get(data, set())
    assert written, f"{kind}: no {data}/ file written"
    for f in written:
        t = pq.read_table(f, columns=list(keys))
        rows = list(zip(*(t.column(k).to_pylist() for k in keys)))
        assert rows == sorted(rows), f"{f} is not sorted on {keys}"
    for sub in partials:
        new = now[sub] - before.get(sub, set())
        assert len(new) == 1, f"{kind}: {sub}/ got {len(new)} files"


def _tmp(name: str) -> str:
    return os.path.join(
        tempfile.mkdtemp(prefix="w2e_layout_"), f"{name}_{uuid.uuid4().hex[:6]}"
    )


@pytest.mark.parametrize("kind", list(_KINDS))
def test_every_verb_writes_the_kind_layout(spark, kind):
    """save → append → ingest_epoch → delete → compact → restore: each
    corpus-sized file every verb writes is sorted on the kind's cluster
    keys, and each batch's df / stats / tombstones partial is one
    file (compaction and restore fold df and stats to one file each)."""
    if kind == "lexical":
        docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 240)
        rows = docs.select(
            "doc_id",
            F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
            .alias("toks"),
        )
        id_col = "doc_id"
    else:
        rows = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 240)
        id_col = "vec_id"
    part = [rows.filter((F.col(id_col) % 3) == i) for i in range(3)]
    partials = _KINDS[kind][2]
    path = _tmp(kind)

    before = {}
    if kind == "lsh":
        IDX.save_lsh_index(part[0], path, dim=DIM, num_planes=4,
                           num_tables=3, mode="overwrite")
    elif kind == "ivf":
        cents = SIM.fit_centroids(rows, n_centroids=6, seed=7, max_iter=5)
        IDX.save_ivf_index(part[0], path, cents, dim=DIM, mode="overwrite")
    else:
        RET.save_lexical_index(part[0], path, mode="overwrite", num_partitions=3)
    _check_written(path, kind, before, partials)

    before = _snapshot(path, kind)
    if kind == "lsh":
        IDX.append_lsh_index(part[1], path)
    elif kind == "ivf":
        IDX.append_ivf_index(part[1], path)
    else:
        RET.append_lexical_index(part[1], path, num_partitions=3)
    _check_written(path, kind, before, partials)

    before = _snapshot(path, kind)
    assert IS.ingest_epoch(spark, part[2], 0, path, partitions_per_epoch=3) == "committed"
    _check_written(path, kind, before, partials)

    before = _snapshot(path, kind)
    victims = [r[0] for r in rows.filter(F.col(id_col) % 7 == 0).select(id_col).collect()]
    assert IDX.delete_from_index(spark, path, victims, batch="b") == "committed"
    now = _snapshot(path, kind)
    for sub in (*partials, "tombstones"):
        assert len(now[sub] - before[sub]) == 1, sub

    compacted = IDX.compact_index(spark, path, num_partitions=2)
    _check_written(path, kind, {}, partials)
    for sub in partials:
        assert len(_files(path, sub)) == 1, sub
    assert not _files(path, "tombstones")

    dst = _tmp(f"{kind}_restored")
    IDX.restore_index(spark, path, dst, as_of=compacted["epoch"],
                      num_partitions=2)
    _check_written(dst, kind, {}, partials)
    for sub in partials:
        assert len(_files(dst, sub)) == 1, sub


# Layout decisions allowed outside the writer, as (module, top-level
# function, token); the writer itself may use every token.
_LAYOUT_TOKENS = (
    "sortWithinPartitions",
    "repartition",
    "coalesce(1)",
    "ThreadPoolExecutor",
    "_plan_is_empty_local",
)
_LAYOUT_MODULES = (
    "operators/index_store.py",
    "operators/retrieval.py",
    "streaming/index_stream.py",
)
LAYOUT_ALLOWLIST = {
    *(("operators/index_store.py", "_write_dirs", t) for t in _LAYOUT_TOKENS),
    # BM25 scoring's query-side shuffle, not an index write
    ("operators/retrieval.py", "_bm25_score", "repartition"),
}


def _layout_token(node) -> str | None:
    if isinstance(node, ast.Name) and node.id == "ThreadPoolExecutor":
        return node.id
    if isinstance(node, ast.Attribute) and node.attr == "ThreadPoolExecutor":
        return node.attr
    if not isinstance(node, ast.Call):
        return None
    name = getattr(node.func, "attr", getattr(node.func, "id", None))
    if name in ("sortWithinPartitions", "repartition", "_plan_is_empty_local"):
        return name
    if name == "coalesce" and [getattr(a, "value", None) for a in node.args] == [1]:
        return "coalesce(1)"
    return None


def test_index_layout_decided_only_in_the_writer():
    """Static scope guard: in the index modules, hash-clustering,
    one-file coalescing, thread pools and the empty-seed check appear
    only inside ``index_store._write_dirs`` (and the allowlist above)."""
    import workhop2_etl_spark

    root = pathlib.Path(workhop2_etl_spark.__file__).parent
    found = set()
    for mod in _LAYOUT_MODULES:
        tree = ast.parse((root / mod).read_text())
        for top in tree.body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if (tok := _layout_token(node)) is not None:
                    found.add((mod, owner, tok))
    assert found <= LAYOUT_ALLOWLIST, found - LAYOUT_ALLOWLIST
    assert {t for m, f, t in found if f == "_write_dirs"} == set(_LAYOUT_TOKENS)


def test_index_rows_have_no_append_write_mode():
    """Static guard: no ``"append"`` write mode in the index modules or
    the driver-side parquet writer. After a save, rows reach an index
    data dir only through ``ledger.commit``'s renames; an append is a
    ledgered batch like a stream epoch or a delete."""
    import workhop2_etl_spark

    root = pathlib.Path(workhop2_etl_spark.__file__).parent
    found = [
        f"{mod}:{node.lineno}"
        for mod in (*_LAYOUT_MODULES, "sources/fs.py")
        for node in ast.walk(ast.parse((root / mod).read_text()))
        if isinstance(node, ast.Constant) and node.value == "append"
    ]
    assert not found, found


def test_one_commit_protocol_for_incremental_artifacts():
    """Static guard: no string or comment in the package builds or
    parses an ``epoch=<N>`` / ``base=<k>`` generation dir, and no
    ``_compact_tmp`` publish path is left. Every incremental artifact
    commits through the ledger (operators/ledger.py)."""
    import workhop2_etl_spark

    root = pathlib.Path(workhop2_etl_spark.__file__).parent
    found = []
    for f in sorted(root.rglob("*.py")):
        toks = tokenize.generate_tokens(io.StringIO(f.read_text()).readline)
        for tok in toks:
            text = tok.string
            if "_compact_tmp" in text or (
                tok.type in (tokenize.STRING, tokenize.COMMENT)
                and ("epoch=" in text or "base=" in text)
            ):
                found.append(f"{f.relative_to(root)}:{tok.start[0]}")
    assert not found, found


_STREAM_TOKENS = ("readStream", "foreachBatch", "availableNow")
STREAM_ALLOWLIST = {
    *(("streaming/drain.py", "drain", t) for t in _STREAM_TOKENS),
    # memory sinks, not foreachBatch streams: they hand the emitted
    # rows back to the caller, and no ledger is involved
    ("streaming/windows.py", "run_stream_to_memory", "readStream"),
    ("streaming/windows.py", "run_stream_to_memory", "availableNow"),
    ("suite/streaming.py", "st7_stateful_running_totals", "readStream"),
    ("suite/streaming.py", "st7_stateful_running_totals", "availableNow"),
}
#: calls that commit a stream epoch through a ledger
_EPOCH_COMMITS = {"commit_epoch", "ingest_epoch", "apply_join_delta", "commit"}


def _call_name(node) -> str | None:
    return getattr(node.func, "attr", getattr(node.func, "id", None))


def test_one_stream_driver_binds_every_ledgered_sink():
    """Static guard: the readStream → foreachBatch → availableNow chain
    is built only in ``streaming/drain.py::drain`` (and the memory-sink
    allowlist above); a function that drains a stream into a ledgered
    sink names its artifacts in ``ledgered``, so they are bound to the
    checkpoint; and the ``_stream-`` binding marker is spelled only in
    operators/ledger.py."""
    import workhop2_etl_spark

    root = pathlib.Path(workhop2_etl_spark.__file__).parent
    found, unbound, spelled = set(), [], []
    for f in sorted(root.rglob("*.py")):
        mod = str(f.relative_to(root))
        text = f.read_text()
        for top in ast.parse(text).body:
            owner = getattr(top, "name", "<module>")
            calls = []
            for node in ast.walk(top):
                if isinstance(node, ast.Attribute) and node.attr in _STREAM_TOKENS:
                    found.add((mod, owner, node.attr))
                elif isinstance(node, ast.keyword) and node.arg in _STREAM_TOKENS:
                    found.add((mod, owner, node.arg))
                elif isinstance(node, ast.Constant) and node.value in _STREAM_TOKENS:
                    found.add((mod, owner, node.value))
                elif isinstance(node, ast.Call):
                    calls.append(node)
            if {_call_name(c) for c in calls} & _EPOCH_COMMITS:
                unbound += [
                    f"{mod}:{c.lineno}" for c in calls
                    if _call_name(c) == "drain"
                    and "ledgered" not in {k.arg for k in c.keywords}
                ]
        if mod != "operators/ledger.py":
            toks = tokenize.generate_tokens(io.StringIO(text).readline)
            spelled += [
                f"{mod}:{t.start[0]}" for t in toks if "_stream-" in t.string
            ]
    assert found <= STREAM_ALLOWLIST, found - STREAM_ALLOWLIST
    assert {t for m, f, t in found if f == "drain"} == set(_STREAM_TOKENS)
    assert not unbound, unbound
    assert not spelled, spelled
