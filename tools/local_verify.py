#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Runs graft.Verify (Spark) at a scale factor, then executes each
oracle_sql.json query in DuckDB over the same parquet tables and
compares: row count, column names (sorted), and a value hash with
columns sorted by name and rows sorted by all columns.

Usage: python3 tools/local_verify.py [sfdir] [outdir]
"""
import json, os, subprocess, sys, hashlib
import duckdb
import pandas as pd

SFDIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUTDIR = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize types: everything to string via repr of python objects
    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, bytes):
            return v.hex()
        return str(v)
    rows = ["\x01".join(cell(v) for v in row) for row in df.itertuples(index=False, name=None)]
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main():
    if os.environ.get("SKIP_SPARK") != "1":
        runner = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run_verify.sh")
        r = subprocess.run(["bash", runner, "graft.Verify", SFDIR, OUTDIR],
                           capture_output=True, text=True)
        sys.stdout.write(r.stdout[-3000:])
        sys.stderr.write(r.stderr[-5000:])
        if r.returncode != 0:
            print("VERIFY RUN FAILED", r.returncode)
            sys.exit(1)

    con = duckdb.connect()
    # Bound DuckDB so a heavy oracle (recursive CTE at sf>=1) spills instead of
    # tripping the OOM killer; override via GRAFT_DUCKDB_MEM.
    mem = os.environ.get("GRAFT_DUCKDB_MEM", "24GB")
    con.execute(f"SET memory_limit='{mem}'")
    con.execute(f"SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        p = f"{SFDIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    oracle = json.load(open(f"{OUTDIR}/oracle_sql.json"))
    only = os.environ.get("GRAFT_VERIFY_ONLY")
    if only:
        keep = set(only.split(","))
        oracle = {k: v for k, v in oracle.items() if k in keep}
    skip = os.environ.get("GRAFT_VERIFY_SKIP")
    if skip:
        drop = set(skip.split(","))
        oracle = {k: v for k, v in oracle.items() if k not in drop}
    results = {}
    for name, sql in sorted(oracle.items()):
        spath = f"{OUTDIR}/{name}"
        entry = {}
        try:
            sdf = con.execute(f"SELECT * FROM read_parquet('{spath}/*.parquet')").df()
        except Exception as e:
            entry["error"] = f"spark output missing: {e}"
            results[name] = entry
            continue
        try:
            odf = con.execute(sql).df()
        except Exception as e:
            entry["error"] = f"oracle sql failed: {e}"
            results[name] = entry
            continue
        entry["rows"] = (len(sdf), len(odf), len(sdf) == len(odf))
        entry["cols"] = (sorted(sdf.columns) == sorted(odf.columns),
                         sorted(sdf.columns), sorted(odf.columns))
        h1, h2 = canon(sdf), canon(odf)
        entry["hash"] = (h1 == h2)
        results[name] = entry

    npass = 0
    for name, e in sorted(results.items()):
        if "error" in e:
            print(f"FAIL {name}: {e['error']}")
            continue
        ok = e["rows"][2] and e["cols"][0] and e["hash"]
        npass += ok
        status = "PASS" if ok else "FAIL"
        print(f"{status} {name}: rows={e['rows'][:2]} cols_match={e['cols'][0]} hash={e['hash']}")
        if not e["cols"][0]:
            print(f"   spark cols:  {e['cols'][1]}\n   oracle cols: {e['cols'][2]}")
    # queries without oracle get rows-only check
    print(f"\n{npass}/{len(results)} oracle queries pass")
    # GRAFT_VERIFY_JSON=path dumps machine-readable per-query results in the
    # CORRECTNESS_r{N}.json shape (consumed by tools/gen_catalog.py and kept
    # as the scale-sweep artifacts, e.g. CORRECTNESS_sf1_seeded.json).
    out_json = os.environ.get("GRAFT_VERIFY_JSON")
    if out_json:
        doc = {}
        for name, e in sorted(results.items()):
            if "error" in e:
                doc[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "err": e["error"][:300]}
            else:
                doc[name] = {"rows_match": e["rows"][2], "schema_match": e["cols"][0],
                             "hash_match": e["hash"], "spark_rows": e["rows"][0],
                             "oracle_rows": e["rows"][1], "err": None}
        with open(out_json, "w") as f:
            json.dump({"sfdir": SFDIR, "queries": doc}, f, indent=1)
        print(f"results json -> {out_json}")


if __name__ == "__main__":
    main()
