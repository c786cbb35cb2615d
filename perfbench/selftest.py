#!/usr/bin/env python3
"""Self-test of the benchmark's correctness accounting (no Spark needed).

    python3 perfbench/selftest.py

Builds a run record by hand over a small generated table and checks that
`run.check` counts an operation as failed when (a) the checked output file
is wrong, (b) an operation's output hash differs from the checked file's,
(c) an operation threw, or (d) an operation lacks an output — and that a
correct record has no failures. Exits non-zero if any expectation fails.
"""
import os
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

SQL = ("SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n, "
       "round(avg(c_acctbal), 6) AS bal FROM customer GROUP BY 1")


def main():
    work = f"{HERE}/.work/selftest"
    shutil.rmtree(work, ignore_errors=True)
    data = f"{work}/data"
    gen.generate(data, seed=7, sf=0.001, tables=["customer"])
    con = duckdb.connect()
    con.execute(f"CREATE VIEW customer AS SELECT * FROM read_parquet('{data}/customer.parquet')")
    outputs = {
        "right": SQL,
        # one group's count off by one: a deliberately wrong result
        "wrong": f"SELECT segment, n + CAST(segment = 'BUILDING' AS BIGINT) AS n, bal FROM ({SQL})",
        # the same rows with a float error far inside the gate's tolerance
        "close": f"SELECT segment, n, bal * (1 + 1e-12) AS bal FROM ({SQL})",
    }
    for name, sql in outputs.items():
        os.makedirs(f"{work}/{name}")
        con.execute(f"COPY ({sql}) TO '{work}/{name}/part-0.parquet' (FORMAT PARQUET)")
    con.close()

    def record(path, ops):
        return {"verify": {"out": {"path": path, "hash": 11, "oracle": "selftest", "sql": SQL}},
                "ops": [dict(i=i, error=e, hashes=h) for i, (e, h) in enumerate(ops)]}

    good_ops = [(None, {"out": 11}), (None, {"out": 11})]
    cases = [
        ("correct outputs", record(f"{work}/right", good_ops), True, []),
        ("float error within tolerance", record(f"{work}/close", good_ops), True, []),
        ("wrong checked output", record(f"{work}/wrong", good_ops), False, [0, 1]),
        ("hash differs from the checked output",
         record(f"{work}/right", [(None, {"out": 11}), (None, {"out": 12})]), True, [1]),
        ("operation threw", record(f"{work}/right", [("RuntimeException: boom", {})]), True, [0]),
        ("operation lacks an output", record(f"{work}/right", [(None, {})]), True, [0]),
    ]
    bad = 0
    for what, rec, want_ok, want_failed in cases:
        verdicts, failed = run.check(rec, data)
        ok = verdicts["out"]["ok"]
        got_failed = [f["i"] for f in failed]
        passed = ok == want_ok and got_failed == want_failed
        bad += not passed
        print(f"{'ok  ' if passed else 'FAIL'} {what}: oracle ok={ok} ({verdicts['out']['why']}), "
              f"failed operations={got_failed}")
    shutil.rmtree(work, ignore_errors=True)
    if bad:
        sys.exit(1)
    print("selftest passed")


if __name__ == "__main__":
    main()
