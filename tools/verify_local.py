"""Local approximation of the driver's correctness gate.

Runs each __spark_entry__.queries() entry at sf0.01 and compares against
oracle_sql() via DuckDB: row count, column-name set, and an
order-insensitive value hash (columns sorted by name, rows sorted, cells
normalized). Usage:

    python tools/verify_local.py [--all-rel] [--sf-dir PATH] [name_prefix ...]

--all-rel additionally sweeps every standalone entry in
kgforge.operators.relational.QUERIES/ORACLES (the 27 queries folded into
compound bundles keep their full unfiltered oracles executable here even
though the driver registry only carries the bundles).
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    if v is None:
        return ""
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # 12 significant digits, not 9 decimals: decimal->double
        # conversion is correctly rounded in the JVM but can be one ulp
        # off in DuckDB, and at 1e9+ magnitudes an ulp sits above any
        # fixed decimal precision (seen in rel_pricing_summary's exact
        # DECIMAL sums at sf0.001/sf0.1). 12 sig digits absorbs the
        # conversion ulp at every magnitude while still discriminating
        # real value differences.
        return "%.12g" % v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return out


def main() -> int:
    global SF_DIR
    argv = sys.argv[1:]
    all_rel = "--all-rel" in argv
    if "--sf-dir" in argv:  # cross-scale spot checks (driver runs sf0.01)
        i = argv.index("--sf-dir")
        SF_DIR = argv[i + 1]
        del argv[i : i + 2]
    prefixes = [a for a in argv if a != "--all-rel"]
    import __spark_entry__ as se
    from kgforge.conf import get_spark

    spark = get_spark("verify-local", cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    # --all-rel also sweeps the standalones folded into compound bundles
    # (relational compounds, tx_stats, kg_meta), so each stays verifiable
    qs, oracles = se.all_queries() if all_rel else (se.queries(), se.oracle_sql())
    n_pass = n_fail = n_skip = 0
    for name, fn in qs.items():
        if prefixes and not any(name.startswith(p) for p in prefixes):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only: {len(srows)} rows) [{time.time()-t0:.1f}s]")
            n_skip += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if not problems:
            a, b = canon(srows, scols), canon(orows, ocols)
            if a != b:
                for i, (x, y) in enumerate(zip(a, b)):
                    if x != y:
                        problems.append(f"first value diff at sorted row {i}:\n  spark={x}\n  duck ={y}")
                        break
                else:
                    problems.append("value diff at tail")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(srows)} rows) [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
