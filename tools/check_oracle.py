"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.01,
compare row count + column names + order-insensitive values.

When the FULL set runs (no query filter), the per-query results are
written to CORRECTNESS_local.json at the repo root in exactly the
driver's CORRECTNESS_r{N}.json format — the tamper-evident stand-in
for the entries the driver's 50-query window misses (the driver
records only the first 50 queries() keys; this file records all of
them).  tests/test_entry_gate.py asserts the committed artifact's key
set round-trips against queries(), so adding a query without re-running
this gate fails the suite.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    return str(v)


def _canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append(tuple(_norm_cell(vals[i]) for i in order))
    return sorted(out)


def main():
    import duckdb

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo_root)
    import __spark_entry__ as E
    from honas_spark.session import get_spark

    spark = get_spark(app="oracle_check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()

    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        # driver testdata ships single files; Spark writers (e.g.
        # tools/gen_sf.py output) produce part-file directories
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
        )

    qs = E.queries()
    oracles = E.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        results[name] = rec
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            scols = df.columns
            srows = df.collect()
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            rec["err"] = f"spark: {type(e).__name__}: {e}"
            n_fail += 1
            continue
        dt = time.time() - t0
        rec["spark_rows"] = len(srows)
        if name not in oracles:
            print(f"ROWS {name}: {len(srows)} rows ({dt:.1f}s) [rows-only]")
            rec["err"] = "no_oracle"
            n_rows_only += 1
            if len(srows) == 0 and name not in ("dedup_exact_groups",):
                print(f"  WARN {name}: rows-only query returned 0 rows")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}")
            rec["err"] = f"oracle: {e}"
            n_fail += 1
            continue
        rec["oracle_rows"] = len(orows)
        rec["schema_match"] = sorted(scols) == sorted(ocols)
        rec["rows_match"] = len(srows) == len(orows)
        ok = True
        if not rec["schema_match"]:
            print(f"FAIL {name}: columns {sorted(scols)} != {sorted(ocols)}")
            ok = False
        elif not rec["rows_match"]:
            print(f"FAIL {name}: rowcount {len(srows)} != {len(orows)}")
            ok = False
        else:
            sc = _canon([[r[c] for c in scols] for r in srows], scols)
            oc = _canon(orows, ocols)
            rec["hash_match"] = sc == oc
            if not rec["hash_match"]:
                diffs = [
                    (a, b) for a, b in zip(sc, oc) if a != b
                ][:3]
                print(f"FAIL {name}: value mismatch, first diffs: {diffs}")
                ok = False
        if ok:
            print(f"PASS {name}: {len(srows)} rows ({dt:.1f}s)")
            n_pass += 1
        else:
            n_fail += 1
    print(
        f"\n== {n_pass} pass / {n_fail} fail / {n_rows_only} rows-only =="
    )
    if not only:
        out_path = os.path.join(repo_root, "CORRECTNESS_local.json")
        with open(out_path, "w") as f:
            json.dump(results, f, indent=1)
        print(f"wrote {out_path} ({len(results)} queries)")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
