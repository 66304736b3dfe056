#!/usr/bin/env python3
"""Cross-engine check of the integer-only q34 log kernel.

Renders the same nested-subquery SQL that ExactMath.sqlQlnFromCounts
emits (python twin of the Scala generator — keep QF/LN2NUM in lockstep
with ExactMath.scala), executes it in DuckDB over a sweep of (c, r)
pairs including 63-bit extremes, and compares against a python integer
twin of ExactMath.log2Fix/qlnFix. Python ints are exact, so any
mismatch is a DuckDB semantics difference (shift/divide/bin), which is
exactly what the oracle-side kernel must not have.

The Scala side is pinned separately: ExactMathSpec runs the generated
SQL through Spark against the Scala kernel, and every selfcheck runs
the q34 oracles end-to-end in DuckDB (they have no stash branch: the
model is always re-derived from the raw events through this kernel).

Usage: python3 tools/qlncheck.py
"""
import duckdb

QF = 24
LN2NUM = 693147181
QDEN = (1 << QF) * 1000
TWO = 1 << (QF + 1)


def log2fix(n: int) -> int:
    k = n.bit_length() - 1
    x = n >> (k - QF) if k >= QF else n << (QF - k)
    r = k
    for _ in range(QF):
        s = (x * x) >> QF
        if s >= TWO:
            x = s >> 1
            r = 2 * r + 1
        else:
            x = s
            r = 2 * r
    return r


def qlnfix(c: int, r: int) -> int:
    d = log2fix(c) - log2fix(r)
    n = d * LN2NUM
    return (2 * n + QDEN) // (2 * QDEN) if n >= 0 else -((2 * (-n) + QDEN) // (2 * QDEN))


def sql_from_counts(src: str) -> str:
    rel = ("(SELECT a, nx, "
           f"CASE WHEN kc >= {QF} THEN c >> (kc - {QF}) ELSE c << ({QF} - kc) END AS x0c, "
           "CAST(kc AS BIGINT) AS r0c, "
           f"CASE WHEN kr >= {QF} THEN r >> (kr - {QF}) ELSE r << ({QF} - kr) END AS x0r, "
           "CAST(kr AS BIGINT) AS r0r "
           "FROM (SELECT a, nx, CAST(c AS BIGINT) AS c, CAST(r AS BIGINT) AS r, "
           "length(bin(CAST(c AS BIGINT))) - 1 AS kc, "
           f"length(bin(CAST(r AS BIGINT))) - 1 AS kr FROM {src}))")
    for i in range(1, QF + 1):
        p = i - 1

        def step(sfx: str) -> str:
            s = f"((x{p}{sfx} * x{p}{sfx}) >> {QF})"
            return (f"CASE WHEN {s} >= {TWO} THEN {s} >> 1 ELSE {s} END AS x{i}{sfx}, "
                    f"2 * r{p}{sfx} + CASE WHEN {s} >= {TWO} THEN 1 ELSE 0 END AS r{i}{sfx}")

        rel = f"(SELECT a, nx, {step('c')}, {step('r')} FROM {rel})"
    d = f"((r{QF}c) - (r{QF}r)) * {LN2NUM}"
    qe = (f"CASE WHEN {d} >= 0 THEN (2 * ({d}) + {QDEN}) // {2 * QDEN} "
          f"ELSE -((2 * (-({d})) + {QDEN}) // {2 * QDEN}) END")
    return f"SELECT a, nx, {qe} AS qln FROM {rel}"


def main() -> None:
    big = (2 ** 63 - 1) // 3
    rows = ([(1, 1), (1, 2), (2, 1), (3, 7), (17, 1000), (999, 999999937),
             (65536, 65536), (12345678, 99), (1, big), (big, 1)]
            + [(c, 60000) for c in range(1, 500)]
            + [(c, r) for c in (5, 77, 1234, 987654321)
               for r in (6, 1000, 123456789, 10 ** 14)])
    con = duckdb.connect()
    con.sql("CREATE TABLE t_qln(a VARCHAR, nx VARCHAR, c BIGINT, r BIGINT)")
    con.executemany("INSERT INTO t_qln VALUES (?, ?, ?, ?)",
                    [(f"a{i}", f"n{i}", c, r) for i, (c, r) in enumerate(rows)])
    got = {a: q for a, _, q in con.sql(sql_from_counts("t_qln")).fetchall()}
    bad = [(i, c, r, got[f"a{i}"], qlnfix(c, r))
           for i, (c, r) in enumerate(rows) if got[f"a{i}"] != qlnfix(c, r)]
    print(f"{len(rows)} pairs, {len(bad)} mismatches")
    if bad:
        for row in bad[:10]:
            print("MISMATCH", row)
        raise SystemExit(1)


if __name__ == "__main__":
    main()
