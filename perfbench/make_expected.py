#!/usr/bin/env python3
"""Derive the expected result digests of the suite queries from the
DuckDB oracle.

    python3 perfbench/make_expected.py [sf ...]     (default: sf0.01)

Run from the root of the checkout. Builds the benchmark if needed, dumps
`SparkEntry.oracleSql`, runs every oracle query in DuckDB over
perfbench/data/<sf>/, and writes perfbench/expected/<sf>.json:
{query: [rows, sha256 of the canonical form of tools/compare_oracle.py]}.
Regenerate only when a query's defined answer changes.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
from metrics import digest  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main():
    root = os.getcwd()
    sys.path.insert(0, os.path.join(root, "tools"))
    import duckdb
    from compare_oracle import canon
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    (classpath, jvm_opts), _ = run.build(root, work)
    with tempfile.TemporaryDirectory(dir=work) as tmp:
        dump = os.path.join(tmp, "oracle.json")
        subprocess.run(["java"] + jvm_opts + ["-cp", classpath, "graftbench.OracleDump", dump],
                       check=True, stdin=subprocess.DEVNULL)
        with open(dump) as f:
            oracle = json.load(f)
    for sf in sys.argv[1:] or ["sf0.01"]:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{HERE}/data/{sf}/{t}.parquet')")
        expected = {}
        for name, sql in sorted(oracle.items()):
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            c, r = canon(cols, res.fetchall())
            expected[name] = [len(r), digest(c, r)]
        os.makedirs(os.path.join(HERE, "expected"), exist_ok=True)
        with open(os.path.join(HERE, "expected", f"{sf}.json"), "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"{sf}: {len(expected)} expected digests")


if __name__ == "__main__":
    main()
