#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run each oracle_sql.json
query in DuckDB over the sf tables, compare against the Verify parquet dumps
(columns sorted by name, values hashed/compared exactly)."""
import sys, json, glob, os
import duckdb
import pandas as pd

outdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_out"
sfdir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
# optional: write a driver-convention CORRECTNESS json (per-query
# rows/schema/hash match) so a locally-run sweep leaves the same artifact
# the driver's gate would
jsonout = sys.argv[3] if len(sys.argv) > 3 else None
report = {}

con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    p = f"{sfdir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
# every oracle key AND every output dir: a query that threw before writing
# has an oracle entry but no dir, and must count as NO OUTPUT, not vanish
dirs = {os.path.basename(d) for d in glob.glob(f"{outdir}/*") if os.path.isdir(d)}
names = sorted(dirs | set(oracle))

n_ok = n_bad = 0
for name in names:
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        print(f"{name:24s} NO OUTPUT"); n_bad += 1
        report[name] = {"rows_match": False, "schema_match": False,
                        "hash_match": False, "spark_rows": 0,
                        "oracle_rows": None, "err": "no spark output"}
        continue
    got = pd.read_parquet(files[0])
    got = got[sorted(got.columns)]
    if name not in oracle:
        print(f"{name:24s} rows-only: {len(got)} rows, cols={list(got.columns)}")
        report[name] = {"rows_match": len(got) > 0, "schema_match": None,
                        "hash_match": None, "spark_rows": len(got),
                        "oracle_rows": None, "err": None}
        continue
    try:
        exp = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        print(f"{name:24s} ORACLE SQL ERROR: {e}"); n_bad += 1
        report[name] = {"rows_match": False, "schema_match": False,
                        "hash_match": False, "spark_rows": len(got),
                        "oracle_rows": None, "err": f"oracle sql: {e}"}
        continue
    exp = exp[sorted(exp.columns)]
    ok_schema = list(got.columns) == list(exp.columns)
    ok_rows = len(got) == len(exp)
    ok_vals = False
    if ok_schema and ok_rows:
        try:
            g = got.reset_index(drop=True)
            e = exp.reset_index(drop=True)
            # normalize dtypes for compare
            ok_vals = True
            for c in g.columns:
                gc, ec = g[c], e[c]
                if str(gc.dtype).startswith("datetime") or str(ec.dtype).startswith("datetime"):
                    gc = pd.to_datetime(gc).astype("datetime64[us]")
                    ec = pd.to_datetime(ec).astype("datetime64[us]")
                # dtype-KIND-strict: the driver's hash accepts integer-width
                # mixes (int32 vs int64 rows were green in CORRECTNESS_r05)
                # but fails int-vs-float (sp_mvt_bake's uncast DuckDB HUGEINT
                # sum arrived as float64 against Spark's int64) — mirror that.
                gk = getattr(gc.dtype, "kind", "O")
                ek = getattr(ec.dtype, "kind", "O")
                ints = {"i", "u"}
                if gk != ek and not (gk in ints and ek in ints):
                    ok_vals = False
                    print(f"  [{name}.{c}] DTYPE mismatch: got={gc.dtype} exp={ec.dtype}")
                    continue
                eq = (gc.values == ec.values)
                import numpy as np
                if gc.isna().any() or ec.isna().any():
                    eq = eq | (gc.isna().values & ec.isna().values)
                if not eq.all():
                    ok_vals = False
                    idx = [i for i, v in enumerate(eq) if not v][:3]
                    print(f"  [{name}.{c}] first diffs at rows {idx}:")
                    for i in idx:
                        print(f"    got={g[c].iloc[i]!r} exp={e[c].iloc[i]!r}")
        except Exception as ex:
            print(f"  [{name}] compare error: {ex}")
            ok_vals = False
    status = "OK" if (ok_schema and ok_rows and ok_vals) else \
        f"MISMATCH schema={ok_schema}({list(got.columns)}vs{list(exp.columns)}) rows={len(got)}/{len(exp)} vals={ok_vals}"
    if status == "OK": n_ok += 1
    else: n_bad += 1
    print(f"{name:24s} {status}")
    report[name] = {"rows_match": bool(ok_rows), "schema_match": bool(ok_schema),
                    "hash_match": bool(ok_schema and ok_rows and ok_vals),
                    "spark_rows": int(len(got)), "oracle_rows": int(len(exp)),
                    "err": None}

print(f"\n{n_ok} OK, {n_bad} BAD, {len([n for n in names if n not in oracle])} rows-only")
if jsonout:
    with open(jsonout, "w") as f:
        json.dump(dict(sorted(report.items())), f, indent=2)
    print(f"wrote {jsonout}")
