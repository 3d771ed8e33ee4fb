#!/usr/bin/env python3
"""Automated invariant audits for the oracles that cannot run in DuckDB at
sf1+ (VERDICT r10 item 6). One command, one JSON artifact the verdict can
cite — replaces the ad-hoc per-round scripts and hand-run checks.

Covered (disposition per excluded oracle, BASELINE "FULL-REGISTRY
correctness at sf1"):

  - q_dedup_spans / q_dedup_spans_cut — DuckDB's struct-min aggregate OOMs
    at sf1 (the oracle's pathology, not the plan's): delegated to
    tools/verify_spans_sf1.py, which re-runs the SAME oracle math with a
    bounded order-isomorphic packed key and hash-compares exactly like
    local_verify. Full equality, not an invariant sample.
  - q_dedup_clusters — the recursive-CTE oracle OOMs: direct invariants on
    the Spark output instead. (a) cluster_id == min(doc_id) of its cluster
    for EVERY cluster; (b) every cluster root is a member of its own
    cluster; (c) every member's id >= its cluster_id.
  - q_split_safe — same recursive CTE: (a) exactly one split per doc and
    only train/val/test; (b) ZERO group_keys straddling splits — the
    leakage-safety contract itself; (c) cross-check against the clusters
    dump: every clustered doc's group_key equals its cluster_id (the two
    queries must agree on the same corpus); (d) split fractions reported.
  - q_dedup_prefix — shares the deliberately-quadratic all-pairs oracle:
    ONE-SIDED exactness audit, linear in the OUTPUT: every emitted pair's
    Jaccard is recomputed from the documents table (the oracle's own
    shingle CTEs, extracted from the dumped oracle_sql.json so the
    expressions can never drift) and must equal the reported value and
    clear the threshold. Completeness (no missed pairs) remains
    oracle-proven at sf0.01/sf0.1 where the quadratic form runs.
  - q_source_overlap — not an oracle gap but a Spark-side fail-fast guard
    that must FIRE at sf1 by design: the audit runs it and asserts the
    guard message, proving the quadratic diagnostic cannot silently run
    at scale.

Usage: python3 tools/audit_invariants.py [sfdir] [outdir]
  SKIP_SPARK=1      reuse outdir's existing dumps
  SKIP_GUARD=1      skip the q_source_overlap guard-fires check
Writes <outdir>/audit_invariants.json and prints it; exit 0 iff all audits
pass.
"""
import json
import os
import re
import subprocess
import sys

import duckdb

SFDIR = sys.argv[1] if len(sys.argv) > 1 else "testdata/sf1"
OUTDIR = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_audit"
QUERIES = "q_dedup_clusters,q_split_safe,q_dedup_prefix"
THRESHOLD = 0.8  # Dedup.JaccardThreshold


def run_spark():
    env = dict(os.environ, SPARK_GRAFT_VERIFY_ONLY=QUERIES,
               SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    r = subprocess.run(["bash", "tools/run_verify.sh", "graft.Verify", SFDIR, OUTDIR],
                       capture_output=True, text=True, env=env)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-2000:] + r.stderr[-4000:])
        print("SPARK DUMP FAILED")
        sys.exit(1)


def audit_clusters(con):
    con.execute(f"CREATE OR REPLACE VIEW cl AS SELECT * FROM read_parquet('{OUTDIR}/q_dedup_clusters/*.parquet')")
    n_rows, n_clusters = con.execute(
        "SELECT count(*), count(DISTINCT cluster_id) FROM cl").fetchone()
    bad_min = con.execute(
        "SELECT count(*) FROM (SELECT cluster_id, min(doc_id) m FROM cl GROUP BY 1) WHERE cluster_id != m"
    ).fetchone()[0]
    missing_root = con.execute(
        "SELECT count(*) FROM (SELECT DISTINCT cluster_id FROM cl) c "
        "WHERE NOT EXISTS (SELECT 1 FROM cl m WHERE m.doc_id = c.cluster_id AND m.cluster_id = c.cluster_id)"
    ).fetchone()[0]
    below_root = con.execute(
        "SELECT count(*) FROM cl WHERE doc_id < cluster_id").fetchone()[0]
    ok = bad_min == 0 and missing_root == 0 and below_root == 0 and n_rows > 0
    return {"pass": ok, "n_member_rows": n_rows, "n_clusters": n_clusters,
            "clusters_where_id_not_min": bad_min,
            "clusters_missing_their_root": missing_root,
            "members_below_cluster_id": below_root}


def audit_split(con):
    con.execute(f"CREATE OR REPLACE VIEW sp AS SELECT * FROM read_parquet('{OUTDIR}/q_split_safe/*.parquet')")
    n_docs, n_dup = con.execute(
        "SELECT count(*), count(*) - count(DISTINCT doc_id) FROM sp").fetchone()
    bad_split = con.execute(
        "SELECT count(*) FROM sp WHERE split NOT IN ('train','val','test')").fetchone()[0]
    straddling = con.execute(
        "SELECT count(*) FROM (SELECT group_key FROM sp GROUP BY 1 HAVING count(DISTINCT split) > 1)"
    ).fetchone()[0]
    disagree = con.execute(
        "SELECT count(*) FROM sp JOIN cl ON sp.doc_id = cl.doc_id "
        "WHERE sp.group_key != cl.cluster_id").fetchone()[0]
    fracs = dict(con.execute(
        "SELECT split, round(count(*)::DOUBLE / (SELECT count(*) FROM sp), 4) FROM sp GROUP BY 1"
    ).fetchall())
    ok = n_dup == 0 and bad_split == 0 and straddling == 0 and disagree == 0 and n_docs > 0
    return {"pass": ok, "n_docs": n_docs, "docs_with_multiple_rows": n_dup,
            "unknown_split_labels": bad_split,
            "groups_straddling_splits": straddling,
            "group_key_vs_cluster_disagreements": disagree,
            "split_fractions": fracs}


def audit_prefix(con):
    oracle = json.load(open(f"{OUTDIR}/oracle_sql.json"))
    ngram = oracle.get("q_dedup_prefix") or oracle.get("q_dedup_ngram")
    m = re.search(r"^(WITH .*?),\s*\np AS \(", ngram, re.S)
    if not m:
        return {"pass": False, "error": "could not extract shingle CTEs from the dumped oracle"}
    ctes = m.group(1)  # WITH t AS (...), sh AS (...) — the oracle's own expressions
    row = con.execute(f"""
        {ctes},
        pairs AS (SELECT * FROM read_parquet('{OUTDIR}/q_dedup_prefix/*.parquet')),
        v AS (SELECT p.doc_a, p.doc_b, p.jaccard AS reported,
                round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / (len(a.shingles) + len(b.shingles)
                     - len(list_intersect(a.shingles, b.shingles))), 6) AS actual
              FROM pairs p
              JOIN sh a ON a.doc_id = p.doc_a
              JOIN sh b ON b.doc_id = p.doc_b)
        SELECT count(*),
               sum(CASE WHEN reported != actual THEN 1 ELSE 0 END),
               sum(CASE WHEN actual < {THRESHOLD} THEN 1 ELSE 0 END),
               (SELECT count(*) FROM pairs) -
                 (SELECT count(DISTINCT (doc_a, doc_b)) FROM pairs),
               (SELECT count(*) FROM pairs WHERE doc_a >= doc_b)
        FROM v""").fetchone()
    n_pairs, mismatched, below, dup_pairs, misordered = [int(x or 0) for x in row]
    ok = mismatched == 0 and below == 0 and dup_pairs == 0 and misordered == 0 and n_pairs > 0
    return {"pass": ok, "n_emitted_pairs": n_pairs,
            "jaccard_mismatches": mismatched,
            "pairs_below_threshold": below,
            "duplicate_pairs": dup_pairs, "misordered_pairs": misordered,
            "note": "one-sided: exactness of emitted pairs; completeness is "
                    "oracle-proven at sf<=0.1 where the quadratic form runs"}


def audit_spans():
    spans_out = OUTDIR + "_spans"
    if os.environ.get("SKIP_SPARK") != "1" or not os.path.isdir(f"{spans_out}/q_dedup_spans"):
        env = dict(os.environ, SPARK_GRAFT_VERIFY_ONLY="q_dedup_spans",
                   SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "32"))
        d = subprocess.run(["bash", "tools/run_verify.sh", "graft.Verify", SFDIR, spans_out],
                           capture_output=True, text=True, env=env)
        if d.returncode != 0:
            return {"pass": False, "error": "spans Spark dump failed",
                    "tail": (d.stdout + d.stderr)[-800:]}
    r = subprocess.run([sys.executable, "tools/verify_spans_sf1.py", SFDIR, spans_out],
                       capture_output=True, text=True)
    tail = (r.stdout + r.stderr)[-1500:]
    passes = r.returncode == 0 and "PASS" in r.stdout
    return {"pass": passes, "tool": "tools/verify_spans_sf1.py",
            "mode": "full hash equality (bounded-memory oracle replica)",
            "tail": tail.strip().splitlines()[-3:]}


def audit_guard():
    # graft.Verify catches per-query failures (stderr "[verify] <q> failed:")
    # and keeps going, so the guard evidence is the message, not the exit code.
    env = dict(os.environ, SPARK_GRAFT_VERIFY_ONLY="q_source_overlap",
               SPARK_GRAFT_CPUS="8")
    r = subprocess.run(["bash", "tools/run_verify.sh", "graft.Verify", SFDIR,
                        OUTDIR + "_guard"], capture_output=True, text=True, env=env)
    txt = r.stdout + r.stderr
    fired = "q_source_overlap failed" in txt and "Corpus.OverlapShingleLimit" in txt
    ran_clean = not fired and os.path.isdir(f"{OUTDIR}_guard/q_source_overlap")
    return {"pass": fired,
            "expectation": "the quadratic diagnostic MUST fail fast at sf1",
            "guard_fired": fired,
            "ran_to_completion_instead": ran_clean}


def main():
    if os.environ.get("SKIP_SPARK") != "1":
        run_spark()
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{os.environ.get('GRAFT_DUCKDB_MEM', '24GB')}'")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SFDIR}/documents.parquet')")

    report = {"sfdir": SFDIR}
    report["clusters"] = audit_clusters(con)
    report["split_safe"] = audit_split(con)
    report["prefix"] = audit_prefix(con)
    report["spans"] = audit_spans()
    if os.environ.get("SKIP_GUARD") != "1":
        report["source_overlap_guard"] = audit_guard()
    report["pass"] = all(v.get("pass") for k, v in report.items() if isinstance(v, dict))

    os.makedirs(OUTDIR, exist_ok=True)
    with open(f"{OUTDIR}/audit_invariants.json", "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report, indent=1))
    print("AUDIT", "PASS" if report["pass"] else "FAIL")
    sys.exit(0 if report["pass"] else 1)


if __name__ == "__main__":
    main()
