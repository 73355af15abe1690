#!/usr/bin/env python3
"""Derives expected_rows.tsv: the row count of every registry entry the
benchmark runs, from the entry's DuckDB oracle SQL over the committed
sf0.01 tables. Entries without oracle SQL get "-" (checked for rows > 0).

Usage, from the repository root (needs the python duckdb module):

    python3 perfbench/oracle_counts.py
"""
import json
import shutil
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    repo = run.Path.cwd()
    classes, _ = run.build(repo)
    root = run.build_dir() / "oracle"
    shutil.rmtree(root, ignore_errors=True)
    (root / "tmp").mkdir(parents=True)
    sql_file = root / "oracle.json"
    rc = run.run_jvm(run.java_cmd(classes, root, "perfbench.OracleSql", [str(sql_file)]),
                     root, root / "oracle.log")
    if rc != 0:
        run.fail(f"OracleSql exited {rc}; see {root / 'oracle.log'}")
    oracle = json.loads(sql_file.read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.DATA}/{t}.parquet')")
    lines = ["# entry\trows at sf0.01 (DuckDB oracle; '-' = no oracle, rows > 0)"]
    for name, sql in sorted(oracle.items()):
        n = "-" if sql is None else str(con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0])
        lines.append(f"{name}\t{n}")
        print(name, n)
    (run.HERE / "expected_rows.tsv").write_text("\n".join(lines) + "\n")
    shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
