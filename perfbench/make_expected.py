#!/usr/bin/env python3
"""Regenerate perfbench/expected_counts.json, the suite's committed row counts.

    sbt "runMain graft.Verify perfbench/data/sf0.001 <dump-dir>"
    python3 perfbench/make_expected.py <dump-dir>

For every query with an oracle SQL (graft.SparkEntry.oracleSql, written
by Verify to <dump-dir>/oracle_sql.json) the count comes from DuckDB
running that SQL on the same tables, independently of Spark. Queries
without an oracle take the row count of Verify's own dump. A query whose
two counts disagree is reported and left out, so the benchmark counts it
as failed until the disagreement is resolved.
"""

import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.001")


def main():
    dump = sys.argv[1]
    con = duckdb.connect()
    for f in sorted(os.listdir(DATA)):
        con.sql("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (
            f[:-len(".parquet")], os.path.join(DATA, f)))
    with open(os.path.join(dump, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    counts, source, bad = {}, {}, []
    for name in sorted(os.listdir(dump)):
        path = os.path.join(dump, name)
        if not os.path.isdir(path):
            continue
        spark_n = con.sql("SELECT count(*) FROM read_parquet('%s/*.parquet')" % path).fetchone()[0]
        if name in oracle:
            n = con.sql("SELECT count(*) FROM (%s)" % oracle[name]).fetchone()[0]
            if n != spark_n:
                bad.append("%s: oracle %d, spark %d" % (name, n, spark_n))
                continue
            source[name] = "oracle"
        else:
            n = spark_n
            source[name] = "dump"
        counts[name] = n
    for b in bad:
        print("disagree:", b, file=sys.stderr)
    out = {"data": "sf0.001", "counts": counts, "source": source}
    with open(os.path.join(HERE, "expected_counts.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print("%d queries: %d from the oracle, %d from the dump, %d disagree" % (
        len(counts) + len(bad), sum(v == "oracle" for v in source.values()),
        sum(v == "dump" for v in source.values()), len(bad)))


if __name__ == "__main__":
    main()
