"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB at sf0.01 (or $SPARK_GRAFT_SF_DIR), comparing row count,
column names, and an order-insensitive value hash (columns sorted by
name, rows sorted by their string form, floats rounded). Exit 1 on
any mismatch.

Usage: python tools/verify_local.py [--artifact PATH] [query_name ...]

``--artifact PATH`` additionally writes one JSON line per checked
query — {"query", "pass", "sec", "rows", "problems"} — preceded by a
sweep header {"sweep": {...utc timestamp, sf_dir, git head...}}. A
full-registry sweep committed per round (VERIFYLOCAL_r{N}.jsonl)
makes every out-of-window green auditable instead of asserted (r08
verdict ask #2).
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm_cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NaN>"
        # FULL repr, not %.6g — the r06 driver flagged three queries
        # whose rounded-double report columns differed in the last
        # ulp across engines while %.6g hid it locally. The local
        # gate must be at least as strict as the driver's hash.
        return repr(v)
    if isinstance(v, bool):
        return str(bool(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    import __spark_entry__ as e
    from workhop2_etl_spark.session import get_spark

    args = sys.argv[1:]
    artifact_path = None
    if "--artifact" in args:
        i = args.index("--artifact")
        artifact_path = args[i + 1]
        args = args[:i] + args[i + 2 :]
    qs = e.queries()
    unknown = sorted(set(args) - set(qs))
    if unknown:  # a misspelt name would otherwise check nothing and pass
        print(f"unknown query name(s): {', '.join(unknown)}")
        return 2
    artifact = open(artifact_path, "w") if artifact_path else None

    def record(obj: dict) -> None:
        if artifact:
            import json

            artifact.write(json.dumps(obj) + "\n")
            artifact.flush()

    if artifact:
        import datetime
        import subprocess

        head = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, cwd=os.path.dirname(
                os.path.dirname(os.path.abspath(__file__))),
        ).stdout.strip()
        record({
            "sweep": {
                "utc": datetime.datetime.now(datetime.timezone.utc).isoformat(
                    timespec="seconds"),
                "sf_dir": SF_DIR,
                "git_head": head,
            }
        })

    spark = get_spark("verify_local")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    oracles = e.oracle_sql()
    only = set(args)
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {ex}")
            record({"query": name, "pass": False, "sec": round(time.time() - t0, 1),
                    "rows": None, "problems": [f"spark error: {ex}"[:300]]})
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s) — no oracle")
            record({"query": name, "pass": True, "sec": round(time.time() - t0, 1),
                    "rows": len(srows), "problems": ["rows-only: no oracle"]})
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            # Discipline check: DuckDB sums of integers are HUGEINT,
            # which pandas/arrow fetch paths coerce to float64/decimal
            # — "20.0" vs Spark's "20" flips the driver's hash even
            # when fetchall() (python ints) matches. The r06 driver
            # failures (dq4/x13/r3) were exactly this class. Any
            # oracle output column wider than BIGINT fails here.
            oschema = con.execute(oracles[name]).arrow().schema
            wide = [
                f.name for f in oschema
                if "decimal" in str(f.type) or "hugeint" in str(f.type)
            ]
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {ex}")
            record({"query": name, "pass": False, "sec": round(time.time() - t0, 1),
                    "rows": len(srows), "problems": [f"duckdb error: {ex}"[:300]]})
            continue
        problems = []
        if wide:
            problems.append(
                f"oracle emits HUGEINT/DECIMAL columns {wide} — "
                "CAST(... AS BIGINT); driver fetch paths coerce these to float"
            )
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema spark={sorted(scols)} oracle={sorted(ocols)}")
        elif value_hash(scols, srows) != value_hash(ocols, orows):
            problems.append("value-hash mismatch")
        record({"query": name, "pass": not problems,
                "sec": round(time.time() - t0, 1), "rows": len(srows),
                "problems": problems})
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
            if "value-hash mismatch" in problems and len(srows) <= 2000:
                so = sorted("|".join(_norm_cell(c) for c in r) for r in
                            [tuple(r[i] for i in sorted(range(len(scols)), key=lambda i: scols[i])) for r in srows])
                oo = sorted("|".join(_norm_cell(c) for c in r) for r in
                            [tuple(r[i] for i in sorted(range(len(ocols)), key=lambda i: ocols[i])) for r in orows])
                for a, b in list(zip(so, oo))[:2000]:
                    if a != b:
                        print(f"  spark : {a[:200]}\n  oracle: {b[:200]}")
                        break
        else:
            print(f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{len(failures)} failures" if failures else "\nall green")
    if artifact:
        artifact.close()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
