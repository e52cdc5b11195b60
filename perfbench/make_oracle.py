"""Regenerate the stored oracle signatures for every workload query.

Runs each query's ``oracle_sql()`` twin on DuckDB over the committed
tables and stores its signature. The benchmark never recomputes oracles
(some take minutes); it compares each execution with this file. As a
cross-check, each query also runs once on Spark, and the script fails
if the Spark signature, taken the way the benchmark takes it, differs.

Usage: python3 perfbench/make_oracle.py [DATA_DIR ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from check import pandas_signature, rows_signature  # noqa: E402
from workloads import DATA_DIR, SMOKE_DATA_DIR, WORKLOADS, oracle_path  # noqa: E402


def main(argv: list[str]) -> int:
    import duckdb
    from ai_etl_pipeline_spark.session import get_session

    import __spark_entry__ as entry

    spark = get_session("perfbench-oracle")
    spark.sparkContext.setLogLevel("ERROR")
    timezone = spark.conf.get("spark.sql.session.timeZone")
    registry, oracles = entry.queries(), entry.oracle_sql()
    names = sorted({q for qs in WORKLOADS.values() for q in qs})
    bad = 0
    for data_dir in argv or [DATA_DIR, SMOKE_DATA_DIR]:
        con = duckdb.connect()
        for fname in sorted(os.listdir(data_dir)):
            table = fname.removesuffix(".parquet")
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{data_dir}/{fname}'")
        out = {}
        for name in names:
            t0 = time.time()
            expected = pandas_signature(con.sql(oracles[name]).df())
            df = registry[name](spark, data_dir)
            got = rows_signature(df.collect(), df.schema, timezone)
            status = "ok" if got == expected else "MISMATCH"
            bad += status != "ok"
            print(f"{status} {name} {expected['rows']} rows {time.time() - t0:.1f}s", flush=True)
            out[name] = expected
        os.makedirs(os.path.dirname(oracle_path(data_dir)), exist_ok=True)
        with open(oracle_path(data_dir), "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
