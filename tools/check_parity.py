#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Runs each registered query on Spark and its oracle SQL on DuckDB over
the same parquet fixtures, then compares row count, column names, and
(order-insensitively) values with float tolerance. Use while iterating;
the real gate is the driver's CORRECTNESS_r{N}.json.

Usage: python tools/check_parity.py [--sf-dir DIR] [--only GLOB]
"""

from __future__ import annotations

import argparse
import fnmatch
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="*", help="glob on query name")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as e
    from conversation_with_vector_db_spark.session import (
        BASE_TABLES,
        get_spark,
        table_path,
    )
    from conversation_with_vector_db_spark.testing import (
        duck_result,
        rows_match,
        spark_result,
    )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in BASE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{table_path(args.sf_dir, t)}'"
        )

    # Full registry (driver tier + local-only variants), not just the
    # capped driver-facing set __spark_entry__ exposes.
    from conversation_with_vector_db_spark.plans import registry

    qs, oracles = registry.all_queries(), registry.all_oracles()
    # Falsifiable driver-contract guards (a subset check against the
    # same REGISTRY dict would hold by construction): the exposed tier
    # must respect the cap, and every driver-tier query must carry an
    # oracle — a missing one silently downgrades the driver's gate row
    # to rows-only.
    driver_tier = e.queries()
    assert len(driver_tier) <= registry.DRIVER_TIER_CAP, len(driver_tier)
    missing_oracles = sorted(set(driver_tier) - set(e.oracle_sql()))
    assert not missing_oracles, missing_oracles
    n_pass = n_fail = n_rows_only = 0
    failures = []
    for name, fn in qs.items():
        if not fnmatch.fnmatch(name, args.only):
            continue
        t0 = time.time()
        try:
            scols, srows = spark_result(fn(spark, args.sf_dir))
        except Exception as ex:
            n_fail += 1
            failures.append(name)
            print(f"FAIL {name}: spark error: {ex}")
            continue
        if name not in oracles:
            n_rows_only += 1
            print(
                f"ROWS-ONLY {name}: {len(srows)} rows ({time.time()-t0:.1f}s)"
            )
            continue
        try:
            dcols, drows = duck_result(con, oracles[name])
        except Exception as ex:
            n_fail += 1
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {ex}")
            continue
        if scols != dcols:
            n_fail += 1
            failures.append(name)
            print(f"FAIL {name}: columns {scols} vs {dcols}")
            continue
        ok, why = rows_match(srows, drows)
        if ok:
            n_pass += 1
            print(f"PASS {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
        else:
            n_fail += 1
            failures.append(name)
            print(f"FAIL {name}: {why}")
    print(
        f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only"
        + (f"; failing: {failures}" if failures else "")
    )
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
