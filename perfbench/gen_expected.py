#!/usr/bin/env python3
"""Regenerate expected/sf0.01.json, the values run.py checks results against.

    python3 perfbench/gen_expected.py ORACLE_JSON [GOLDEN_DUMP_DIR...]

ORACLE_JSON maps row name to its DuckDB oracle SQL (`perfbench.Main
--oracle FILE` writes it from graft's registry). Each of those rows gets
the hash of DuckDB's answer over perfbench/data/sf0.01 -- never of the
engine's. Rows with no oracle SQL get a golden hash taken from a run's
result dumps (`run.py --keep` leaves them under .perfbench/runs/*/dump),
marked "golden" with the source revision given in GOLDEN_REV.
"""
import json
import os
import sys

import duckdb

import canon

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    oracle = json.load(open(sys.argv[1]))
    dumps = sys.argv[2:]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{DATA}/{t}.parquet')")
    rows = {}
    for name, sql in sorted(oracle.items()):
        h, n = canon.frame_hash(con.execute(sql).df())
        rows[name] = {"hash": h, "rows": n, "source": "duckdb"}
    rev = os.environ.get("GOLDEN_REV", "unknown")
    for d in dumps:
        for name in sorted(os.listdir(d)):
            if name not in rows:
                h, n = canon.dump_hash(os.path.join(d, name))
                rows[name] = {"hash": h, "rows": n, "source": f"golden@{rev}"}
    out = os.path.join(HERE, "expected", "sf0.01.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"scale": "sf0.01", "rows": rows}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(rows)} rows -> {out}")


if __name__ == "__main__":
    main()
