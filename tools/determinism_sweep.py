#!/usr/bin/env python3
"""Partitioning-determinism sweep over the full query registry.

Every registered query runs TWICE in one session under deliberately
different physical layouts — pass A with the test defaults, pass B
with tiny scan splits (`spark.sql.files.maxPartitionBytes`), a prime
shuffle-partition count, and input-split perturbation — and the two
results are compared EXACTLY (row multiset, repr-level values, so
-0.0 vs 0.0 and last-ulp flips count as diffs).

Why this matters: per-row expressions are partitioning-invariant by
construction, but a cross-row DOUBLE aggregate (sum/avg/stddev) sums
in partition order, and an under-specified tie-break (top-k without a
total order, first() off an arbitrary row) picks partition-dependent
winners. Either would make the driver's value-hash gate flake even
though a single parity run passes. The rounding discipline plus
total-order tie-breaks should make every registered query
layout-deterministic — this sweep is the falsifiable check, the
partitioning analogue of the degenerate-input sweep in
tests/test_empty_corpus.py.

Usage: python tools/determinism_sweep.py [--sf-dir DIR] [--only GLOB]
"""

from __future__ import annotations

import argparse
import fnmatch
import math
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

#: Conf perturbed between the two passes. Runtime-settable; read at
#: plan time, so setting them between builds is enough.
PASS_A = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.files.maxPartitionBytes": str(128 << 20),
    "spark.sql.files.openCostInBytes": str(4 << 20),
}
PASS_B = {
    "spark.sql.shuffle.partitions": "13",
    "spark.sql.files.maxPartitionBytes": str(64 << 10),
    "spark.sql.files.openCostInBytes": "0",
}


def _key(v) -> str:
    """repr-level value key, returned as a STRING so any mix of
    NULLs and types still sorts (None < int would TypeError under a
    plain tuple sort). Distinguishes -0.0 from 0.0 and is NaN-safe —
    exact-representation equality is the whole point."""
    if isinstance(v, float):
        if math.isnan(v):
            return "f:NaN"
        sign = "-" if math.copysign(1.0, v) < 0 else "+"
        return f"f:{v!r}{sign}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_key(x) for x in v) + "]"
    if isinstance(v, dict):
        return (
            "{"
            + ",".join(
                f"{k}={_key(x)}" for k, x in sorted(v.items())
            )
            + "}"
        )
    return f"{type(v).__name__}:{v!r}"


def _result(df):
    cols = sorted(df.columns)
    rows = sorted(
        tuple(_key(r[c]) for c in cols) for r in df.collect()
    )
    return cols, rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--only", default="*")
    args = ap.parse_args()

    from conversation_with_vector_db_spark.plans import (
        load_all,
        registry,
    )
    from conversation_with_vector_db_spark.session import get_spark

    load_all()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    qs = registry.all_queries()
    n_ok = n_diff = n_err = 0
    diffs = []
    for name, fn in qs.items():
        if not fnmatch.fnmatch(name, args.only):
            continue
        t0 = time.time()
        try:
            results = []
            for conf in (PASS_A, PASS_B):
                for k, v in conf.items():
                    spark.conf.set(k, v)
                # fresh plan per pass: the perturbed conf must be
                # read at build time, not inherited from pass A
                results.append(_result(fn(spark, args.sf_dir)))
            (ca, ra), (cb, rb) = results
        except Exception as ex:  # noqa: BLE001 — report and continue
            n_err += 1
            print(f"ERR  {name}: {type(ex).__name__}: {ex}")
            continue
        finally:
            for k, v in PASS_A.items():
                spark.conf.set(k, v)
        if ca != cb or ra != rb:
            n_diff += 1
            diffs.append(name)
            nd = sum(1 for x, y in zip(ra, rb) if x != y)
            nd += abs(len(ra) - len(rb))
            print(
                f"DIFF {name}: {len(ra)} vs {len(rb)} rows,"
                f" {nd} differing ({time.time()-t0:.1f}s)"
            )
        else:
            n_ok += 1
            print(
                f"OK   {name}: {len(ra)} rows ({time.time()-t0:.1f}s)"
            )
    print(
        f"\n{n_ok} deterministic, {n_diff} layout-dependent,"
        f" {n_err} errors" + (f"; diffs: {diffs}" if diffs else "")
    )
    spark.stop()
    return 1 if (n_diff or n_err) else 0


if __name__ == "__main__":
    sys.exit(main())
