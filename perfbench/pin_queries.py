"""Re-pin the operator leaves' expected results from the DuckDB oracles.

    python3 perfbench/pin_queries.py

Runs each query's ``oracle_sql()`` in DuckDB over ``perfbench/data/sf0.1``
and writes its row count and value hash to ``perfbench/pins.json``. The
oracles are too slow to run on every benchmark run (tens of seconds each
for the LSH and edit-distance leaves), so they run only here. Re-pin
when a query's ``oracle_sql()`` changes on purpose.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from corpus import DATA_DIR, PINS_PATH, QUERIES, TABLES, digest  # noqa: E402


def main() -> int:
    import duckdb

    # the induced-pool and IVF oracles replay over this directory
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = DATA_DIR
    from log_analysis_spark.entry_queries import oracle_sql_map

    oracles = oracle_sql_map()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'")
    pins = {}
    for name in QUERIES:
        t0 = time.perf_counter()
        res = con.execute(oracles[name])
        cols = [d[0] for d in res.description]
        pins[name] = digest(cols, res.fetchall())
        print(f"{name}: {pins[name]['rows']} rows, "
              f"{time.perf_counter() - t0:.1f} s", file=sys.stderr)
    with open(PINS_PATH, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
