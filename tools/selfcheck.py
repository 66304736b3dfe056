#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run graft.Verify to dump
every SparkEntry query as parquet, then execute each oracle SQL in DuckDB
against the same testdata tables and compare schema + values.

Usage: python3 tools/selfcheck.py [sfdir] [outdir] [--skip-verify] [names...]
"""
import json, math, os, subprocess, sys

SFDIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
OUTDIR = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
FLAGS = set(a for a in sys.argv[3:] if a.startswith("--"))
ONLY = [a for a in sys.argv[3:] if not a.startswith("--")]

# the checkout this script belongs to: graft.Verify is built and run there
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run_verify():
    cmd = ["sbt", "-batch", f'runMain graft.Verify {SFDIR} {OUTDIR}']
    env = dict(os.environ)
    if ONLY:
        # focused runs dump only the named queries (stale siblings from a
        # previous full dump are compared as-is — pass a fresh OUTDIR if
        # that matters)
        env["SPARK_GRAFT_VERIFY_ONLY"] = ",".join(ONLY)
    r = subprocess.run(cmd, cwd=REPO, env=env, capture_output=True, text=True, timeout=1800)
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" in line:
            print(line)
    if r.returncode != 0:
        print("VERIFY FAILED rc=", r.returncode)
        print(r.stdout[-3000:])
        print(r.stderr[-3000:])
        sys.exit(1)


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def main():
    import duckdb
    if "--skip-verify" not in FLAGS:
        run_verify()
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata is one file per table; ScaleGen audit replicas
        # are Spark-style directories of part files — accept both
        p = f"{SFDIR}/{t}.parquet"
        pat = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
    oracle = json.load(open(f"{OUTDIR}/oracle_sql.json"))
    results = {}
    names = ONLY or sorted(os.listdir(OUTDIR))
    for name in names:
        path = os.path.join(OUTDIR, name)
        if not os.path.isdir(path):
            continue
        try:
            mine = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
            my_cols = sorted(mine.columns)
            my_rows = con.sql(
                f"SELECT {', '.join(my_cols)} FROM read_parquet('{path}/*.parquet')").fetchall()
        except Exception as e:
            results[name] = f"READ-ERROR {e}"
            continue
        if name not in oracle:
            results[name] = f"rows-only n={len(my_rows)}"
            continue
        try:
            ores = con.sql(oracle[name])
            o_cols_orig = ores.columns
            o_types = [str(t) for t in ores.types]
            order = sorted(range(len(o_cols_orig)), key=lambda i: o_cols_orig[i])
            o_cols = [o_cols_orig[i] for i in order]
            o_rows = [tuple(r[i] for i in order) for r in ores.fetchall()]
        except Exception as e:
            results[name] = f"ORACLE-ERROR {e}"
            continue
        if my_cols != o_cols:
            results[name] = f"SCHEMA-MISMATCH mine={my_cols} oracle={o_cols}"
            continue
        if len(my_rows) != len(o_rows):
            results[name] = f"ROWCOUNT {len(my_rows)} vs {len(o_rows)}"
            continue
        bad = None
        for i, (a, b) in enumerate(zip(my_rows, o_rows)):
            an = tuple(norm(x) for x in a)
            bn = tuple(norm(x) for x in b)
            if an != bn:
                bad = (i, an, bn)
                break
        if bad:
            results[name] = f"VALUE-MISMATCH row {bad[0]}: mine={bad[1]} oracle={bad[2]}"
        else:
            results[name] = f"OK n={len(my_rows)}"
    npass = sum(1 for v in results.values() if v.startswith("OK"))
    nrows = sum(1 for v in results.values() if v.startswith("rows-only"))
    for k in sorted(results):
        print(f"{k:24s} {results[k]}")
    print(f"\n{npass} OK, {nrows} rows-only, {len(results) - npass - nrows} FAIL")


if __name__ == "__main__":
    main()
