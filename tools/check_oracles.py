#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Runs after `sbt "runMain graft.Verify <sfDir> <outDir>"`:
for each query result parquet in <outDir>, runs the matching oracle SQL
from oracle_sql.json in DuckDB (tables = views over the same sfDir
parquet), sorts columns by name and rows by all columns, and compares
cell-by-cell. Exit nonzero on any mismatch. Several queries share one
oracle text (e.g. d06/d06m/d09/d14): DuckDB runs each distinct text
once and every query sharing it compares against the same rows, so a
query's DuckDB seconds are ~0 when an earlier query ran its text.

Usage: python3 tools/check_oracles.py /root/testdata/sf0.01 /tmp/verify_out \
           [CORRECTNESS_local.json]

The optional third argument writes a machine-readable gate summary
(git SHA and whether the tree had uncommitted changes, SF, per-query
rows/schema/hash booleans, and per-query DuckDB and compare seconds) —
the round's
SELF-EVIDENCING correctness artifact (r14 verdict #2: the driver's
CORRECTNESS_r14.json came back empty, and without a committed local
twin the round's hard signal had to be re-established by hand; with
one, an empty driver artifact is instantly attributable to the
harness, not the code).
"""
import subprocess
import sys, os, json, math, time
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    return v


def main(sf_dir, out_dir, json_out=None):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    failures = 0
    report = {}
    oracle_memo = {}  # SQL text -> (sorted columns, rows in that order)
    secs = {}  # name -> (DuckDB seconds, compare seconds)
    for name in sorted(oracles):
        sql = oracles[name]
        res_dir = os.path.join(out_dir, name)
        if not os.path.isdir(res_dir):
            print(f"[MISS] {name}: no spark result dir")
            report[name] = {"rows": False, "schema": False, "hash": False}
            failures += 1
            continue
        t0 = time.perf_counter()
        try:
            spark_rel = con.sql(
                f"SELECT * FROM '{res_dir}/*.parquet'")
            spark_cols = sorted(spark_rel.columns)
            spark_rows = con.sql(
                "SELECT " + ", ".join(f'"{c}"' for c in spark_cols) +
                f" FROM '{res_dir}/*.parquet'").fetchall()
            if sql not in oracle_memo:
                oracle_rel = con.sql(sql)
                cols = sorted(oracle_rel.columns)
                idx = [oracle_rel.columns.index(c) for c in cols]
                oracle_memo[sql] = (cols, [tuple(r[i] for i in idx)
                                           for r in oracle_rel.fetchall()])
            o_cols, oracle_rows = oracle_memo[sql]
        except Exception as e:
            secs[name] = (time.perf_counter() - t0, 0.0)
            print(f"[ERR ] {name}: {e}")
            report[name] = {"rows": False, "schema": False, "hash": False}
            failures += 1
            continue
        t1 = time.perf_counter()
        if spark_cols != o_cols:
            secs[name] = (t1 - t0, 0.0)
            print(f"[COLS] {name}: spark={spark_cols} oracle={o_cols}")
            report[name] = {"rows": len(spark_rows) == len(oracle_rows),
                            "schema": False, "hash": False}
            failures += 1
            continue
        a = sorted([tuple(canon(v) for v in r) for r in spark_rows])
        b = sorted([tuple(canon(v) for v in r) for r in oracle_rows])
        same = a == b
        secs[name] = (t1 - t0, time.perf_counter() - t1)
        if same:
            print(f"[ OK ] {name}: {len(a)} rows")
            report[name] = {"rows": True, "schema": True, "hash": True}
        else:
            failures += 1
            print(f"[DIFF] {name}: spark {len(a)} rows vs oracle {len(b)}")
            report[name] = {"rows": len(a) == len(b), "schema": True,
                            "hash": False}
            sa, sb = set(a), set(b)
            for r in list(sa - sb)[:3]:
                print(f"        spark-only:  {r}")
            for r in list(sb - sa)[:3]:
                print(f"        oracle-only: {r}")
    for name, (d, c) in secs.items():
        report[name]["duckdb_s"] = round(d, 3)
        report[name]["compare_s"] = round(c, 3)
    print("\nslowest oracles (DuckDB s, compare s):")
    for name, (d, c) in sorted(secs.items(),
                               key=lambda kv: -sum(kv[1]))[:10]:
        print(f"  {name}: {d:.2f} {c:.2f}")
    print(f"\n{len(oracles) - failures}/{len(oracles)} queries match")
    if json_out:
        def git(*args):
            return subprocess.run(["git", *args], capture_output=True,
                                  text=True, check=True,
                                  cwd=os.path.dirname(os.path.abspath(__file__))
                                  ).stdout.strip()
        try:
            sha = git("rev-parse", "HEAD")
            # a run over uncommitted changes is not a run of `sha`
            dirty = git("status", "--porcelain") != ""
        except Exception:
            sha, dirty = "unknown", None
        n_match = sum(1 for v in report.values() if v["hash"])
        with open(json_out, "w") as f:
            json.dump({"git_sha": sha, "dirty": dirty, "sf": sf_dir,
                       "n_oracles": len(oracles), "n_match": n_match,
                       "queries": report}, f, sort_keys=True, indent=0)
            f.write("\n")
        print(f"wrote {json_out}: {n_match}/{len(oracles)} at {sha[:12]}"
              + (" (dirty)" if dirty else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None))
