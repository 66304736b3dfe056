#!/usr/bin/env python3
"""Partition-count invariance check: run graft.Verify under two
parallelism levels (default local[5] vs local[32]) and compare every
query's dumped output bit-for-bit. Any diff means an operator's result
depends on partitioning — a nondeterminism the oracle gate can't see
(it compares against DuckDB at one parallelism only).

Usage: python3 tools/determinism.py [sfdir] [cpusA] [cpusB]
"""
import os
import shutil
import subprocess
import sys
import tempfile

SFDIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
CPUS = (sys.argv[2] if len(sys.argv) > 2 else "5",
        sys.argv[3] if len(sys.argv) > 3 else "32")


def run_verify(cpus, out):
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    r = subprocess.run(
        ["sbt", "-batch", f"runMain graft.Verify {SFDIR} {out}"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env, capture_output=True, text=True, timeout=3600)
    if r.returncode != 0:
        print(r.stdout[-2000:], r.stderr[-2000:])
        sys.exit(1)


def norm(rows):
    # NaN != NaN would flag bit-identical outputs as different
    return [tuple("NaN" if isinstance(v, float) and v != v else v for v in r)
            for r in rows]


def main():
    # both dumps go to one fresh temporary directory, removed on exit
    # (also when a run fails): a stale dump from an earlier run would
    # make a query that failed this time compare as "identical"
    tmp = tempfile.mkdtemp(prefix="graft_det_")
    try:
        compare([os.path.join(tmp, c) for c in CPUS])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def compare(outs):
    import duckdb
    for cpus, out in zip(CPUS, outs):
        run_verify(cpus, out)
    con = duckdb.connect()
    names = set(os.listdir(outs[0])) | set(os.listdir(outs[1]))
    names.discard("oracle_sql.json")
    ok, bad = 0, 0
    for name in sorted(names):
        try:
            a = norm(con.execute(
                f"SELECT * FROM read_parquet('{outs[0]}/{name}/*.parquet')").fetchall())
            b = norm(con.execute(
                f"SELECT * FROM read_parquet('{outs[1]}/{name}/*.parquet')").fetchall())
        except Exception as e:
            bad += 1
            print(f"DIFF {name}: unreadable on one side ({e})")
            continue
        if a == b:
            ok += 1
        else:
            bad += 1
            print(f"DIFF {name}: {len(a)} vs {len(b)} rows")
    print(f"{ok} identical, {bad} differ")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
