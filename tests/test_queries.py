"""Registry-wide DuckDB-oracle parity at sf0.001 (SURVEY §5 strategy:
every operator in §2 gets a named query checked against ANSI SQL)."""

from __future__ import annotations

import pytest

from conversation_with_vector_db_spark.plans import load_all, registry
from conversation_with_vector_db_spark.testing import assert_parity

load_all()
ALL_QUERIES = sorted(registry.REGISTRY)
# Default tier: DRIVER-tier parity (every family — asserted below by
# test_driver_tier_covers_every_family). The non-driver registry
# variants are redundant per-family coverage and run in the heavy tier
# (CVDB_FULL_TESTS=1) plus tools/check_parity.py at sf0.01.
_PARITY_PARAMS = [
    name
    if registry.REGISTRY[name].driver
    else pytest.param(name, marks=pytest.mark.heavy)
    for name in ALL_QUERIES
]


@pytest.mark.parametrize("name", _PARITY_PARAMS)
def test_parity(spark, duck, sf_dir, name):
    # Oracle-backed queries must hash-match; rows-only queries must run.
    assert_parity(spark, duck, name, sf_dir)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert "usage_count" in df.columns


def test_registry_contract():
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    for name, sql in oracles.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_driver_tier_capped():
    # The driver's correctness gate records only the alphabetically
    # first ~50 queries(); a larger driver tier silently leaves
    # operator families unverified (observed in CORRECTNESS_r01.json).
    import __spark_entry__ as e

    assert len(e.queries()) <= registry.DRIVER_TIER_CAP


def test_driver_tier_covers_every_family():
    # At least one driver-tier query per SURVEY §2 family prefix.
    import __spark_entry__ as e

    names = sorted(e.queries())
    prefixes = {
        "a", "ann", "c", "d", "dedup", "f", "flagship", "j", "m", "mm",
        "o", "p", "s", "scale", "t", "text", "u", "v", "w", "x",
    }
    seen = {n.split("_")[0].rstrip("0123456789b") or n for n in names}
    missing = prefixes - seen
    assert not missing, f"families without a driver-tier query: {missing}"


DRIVER_TIER = sorted(n for n, q in registry.REGISTRY.items() if q.driver)


@pytest.mark.parametrize("name", DRIVER_TIER)
def test_driver_tier_schemas_are_atomic(spark, sf_dir, name):
    """The driver canonicalizes results through pandas sort_values,
    which crashes on ANY list/dict cell (observed: mm_decode_features
    err in CORRECTNESS_r02.json). Lint it permanently: every driver-tier
    query must emit only atomic columns; array/map/struct outputs belong
    in driver=False twins with a serialized driver-tier representative
    (the to_json/concat_ws idiom of j3 and mm_decode_features)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = registry.REGISTRY[name].fn(spark, sf_dir)
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, f"{name} emits non-atomic driver-facing columns: {bad}"


def test_p1_excludes_secret_columns(spark, sf_dir):
    # P1's point is the column is GONE, not just unread.
    df = registry.REGISTRY["p1_column_exclusion"].fn(spark, sf_dir)
    assert "email" not in df.columns
    assert "deleted_email" not in df.columns


def test_hostile_driver_session_timezone(spark, sf_dir):
    """The driver owns the SparkSession and sets NO session timezone or
    nano-parquet conf; load_tables must force both at runtime so
    time-derived results don't shift. newSession() shares the JVM but
    has an independent SQLConf — the closest stand-in for the driver's
    plain session."""
    hostile = spark.newSession()
    hostile.conf.set("spark.sql.session.timeZone", "America/New_York")
    hostile.conf.unset("spark.cvdb.registered.sfdir")
    name = "flagship_usage_daily_by_user"
    q = registry.all_queries()[name]
    # Sorted compare: the flagship's presentation sort was dropped in
    # r11 (the result SET is the contract), so collect order is
    # partition-dependent.
    want = sorted(tuple(r) for r in q(spark, sf_dir).collect())
    got = sorted(tuple(r) for r in q(hostile, sf_dir).collect())
    assert got == want
    # load_tables must have forced the hostile session back to UTC.
    assert hostile.conf.get("spark.sql.session.timeZone") == "UTC"


def test_scoped_broadcast_released_after_two_generations(spark):
    """sc.broadcast handles registered via scoped_broadcast must drain
    on the same two-generation schedule as scoped caches — a long
    session invoking bloom queries repeatedly must not accumulate
    executor-side broadcast blocks."""
    import numpy as np

    from conversation_with_vector_db_spark.operators import cache

    bc = cache.scoped_broadcast(
        spark.sparkContext.broadcast(np.zeros(4, dtype=np.uint64))
    )
    assert any(b is bc for _, b in cache._LIVE_BC)
    cache.next_generation()
    assert any(b is bc for _, b in cache._LIVE_BC)  # previous gen survives
    cache.next_generation()
    assert not any(b is bc for _, b in cache._LIVE_BC)


def test_query_scratch_tables_are_per_process(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A registered query's lazy frame reads a scratch table it wrote
    under the temp dir. Another process running the same query must
    not delete that table before the first frame is collected."""
    import os
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    fn = registry.REGISTRY["s14_snapshot_log_lifecycle"].fn
    pid = [os.getpid()]  # then the parent's: two live processes
    monkeypatch.setattr(os, "getpid", lambda: pid[0])
    first = fn(spark, sf_dir)
    pid[0] = os.getppid()
    fn(spark, sf_dir)
    monkeypatch.undo()
    assert first.collect()[0]["n_rows"] > 0


def test_bench_headline_contract():
    """Every bench headline query must exist in the registry WITH an
    oracle — a demotion or rename must fail here, not in the driver's
    per-round bench record."""
    import bench

    from conversation_with_vector_db_spark import plans
    from conversation_with_vector_db_spark.plans import registry

    plans.load_all()
    qs, oracles = registry.all_queries(), registry.all_oracles()
    for name in bench.HEADLINE:
        assert name in qs, name
        assert name in oracles, f"{name} lost its oracle"


def test_gapfill_semantics(spark, sf_dir):
    """Gap-fill invariants beyond hash parity: dense per-type grid,
    observed rows pass through, LOCF carries the previous observed
    value, interpolation is the exact integer-rational linear value
    between the neighboring observed hours."""
    load_all()
    rows = registry.REGISTRY["a17_gapfill_locf"].fn(
        spark, sf_dir
    ).collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    assert by_type
    saw_gap = False
    for series in by_type.values():
        buckets = [r["bucket"] for r in series]
        assert buckets == list(range(buckets[0], buckets[-1] + 1))
        assert series[0]["observed"] and series[-1]["observed"]
        last_v = None
        obs = [
            (r["bucket"], round(r["locf_value"] * 10000))
            for r in series
            if r["observed"]
        ]
        obs_ix = {b: iv for b, iv in obs}
        for r in series:
            if r["observed"]:
                assert r["interp_value"] == r["locf_value"]
                last_v = r["locf_value"]
            else:
                saw_gap = True
                assert r["n_events"] == 0
                assert r["locf_value"] == last_v
                prev_b = max(b for b, _ in obs if b < r["bucket"])
                next_b = min(b for b, _ in obs if b > r["bucket"])
                num = obs_ix[prev_b] * (next_b - prev_b) + (
                    obs_ix[next_b] - obs_ix[prev_b]
                ) * (r["bucket"] - prev_b)
                den = next_b - prev_b
                # Python // is floor division, so the reference is the
                # plain round-half-up form of the SQL posmod trick.
                want = (2 * num + den) // (2 * den)
                assert r["interp_value"] == want / 10000.0, r
    assert saw_gap, "fixture produced no gaps — invariant untested"
