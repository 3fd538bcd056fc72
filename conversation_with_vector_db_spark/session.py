"""SparkSession factory and fixture-table catalog.

The engine is size-agnostic: every operator is a pure
DataFrame -> DataFrame function, and this module is the only place that
knows where tables live. At test scale tables are local parquet files
(``/root/testdata/sf*``); at cluster scale the same code reads
partitioned object-store paths — nothing else changes.

Scale posture (100 TB): AQE on (runtime re-plan, skew-join splitting,
partition coalescing), broadcast threshold left to Spark's default so
dim tables (customer/nation/region/token_prices/config) broadcast
automatically, shuffle partitions sized by the caller via
``shuffle_partitions``.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: The ten driver-provided parquet tables (TESTDATA.md).
BASE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def get_spark(
    app_name: str = "conversation-with-vector-db-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master=None`` defers to an existing session / spark-submit config;
    tests and bench pass ``local[N]`` explicitly.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
        # Local mode only: PySpark's default 1g driver heap OOMs once
        # fixtures pass ~sf0.3 (the whole "cluster" lives in one JVM).
        # Takes effect on JVM launch, i.e. the first session in the
        # process; on a real cluster the submit config owns memory.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
    builder = (
        builder
        # Deterministic wall-clock-free semantics: oracle comparisons run
        # against naive (UTC) timestamps written by the data generator.
        .config("spark.sql.session.timeZone", "UTC")
        # Whole-stage-codegen CLASS cache sized to the engine's query
        # working set (r12; guide §1 empirical loop). The default is
        # 100 entries, LRU: a session serving this engine's many-query
        # workload cycles far more generated classes than that, so
        # EVERY execution re-paid janino compilation of EVERY codegen
        # unit — measured 2.2x on the 18-query headline set (6.79 ->
        # 3.13 s total; dedup_embedding_cosine 1.08 -> 0.25 s), the
        # r11 "co-residency inflation" in full. This caches COMPILED
        # PLAN CODE (Spark reuses it by design), never data or
        # results. Static conf: takes effect on the first session of
        # the process. 4096 entries covers the full 199-query registry
        # sweep; entries are KB-scale compiled classes.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # 100 TB posture: adaptive execution re-plans joins, coalesces
        # post-shuffle partitions, and splits skewed shuffle partitions.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for the few pandas-UDF operators (vector + multimodal).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Keep stdout machine-readable: the bench contract is a single
        # compact JSON line as the FINAL output line, and the console
        # progress bar interleaves \r frames into captured stdout.
        .config("spark.ui.showConsoleProgress", "false")
    )
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    return builder.getOrCreate()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Hive partition column of the date-partitioned events layout
#: (tools/gen_sf.py --partition-events): dt=YYYY-MM-DD derived from
#: date(ts) UTC. SURVEY §7's 100 TB posture — "partition events by
#: date" — made concrete: load_table_in_range injects the matching
#: dt predicate so month/day-window scans prune whole partition
#: directories (PartitionFilters), not just row groups.
PARTITION_DATE_COL = "dt"


@functools.lru_cache(maxsize=256)
def _nano_ts_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark can't read
    them natively (PARQUET_TYPE_ILLEGAL); we read them as long and
    convert. Footer-only check, no data read. For a hive-partitioned
    directory layout the footer is read from one leaf data file (all
    leaves share the physical schema by construction)."""
    import glob

    import pyarrow.parquet as pq
    import pyarrow.types as pt

    if os.path.isdir(path):
        leaves = sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"),
                      recursive=True)
        )
        if not leaves:
            raise FileNotFoundError(
                f"no parquet data files under directory layout {path}"
            )
        path = leaves[0]
    schema = pq.read_schema(path)
    return tuple(
        name
        for name, typ in zip(schema.names, schema.types)
        if pt.is_timestamp(typ) and typ.unit == "ns"
    )


def _convert_nano_cols(df: DataFrame, nano_cols) -> DataFrame:
    """ns -> us by integer division (truncation), matching DuckDB's
    conversion of nano parquet timestamps; NTZ keeps the value
    timezone-independent. ONE definition — load_table and
    load_table_in_range must stay in lockstep or the range-pushdown
    equivalence property breaks."""
    for c in nano_cols:
        df = df.withColumn(
            c,
            F.expr(
                f"cast(timestamp_micros(cast({c} div 1000 as bigint))"
                " as timestamp_ntz)"
            ),
        )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = table_path(sf_dir, name)
    nano_cols = _nano_ts_columns(path)
    if nano_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _convert_nano_cols(spark.read.parquet(path), nano_cols)
    # Date-partitioned layout: the hive partition column is a layout
    # detail, not part of the table's logical schema — drop it so both
    # layouts present IDENTICAL schemas to every query and oracle.
    # (Filters injected by load_table_in_range run before this
    # projection; Catalyst pushes partition predicates through it
    # regardless.) Directory layouts ONLY: a flat file whose DATA
    # legitimately carries a `dt` column must keep it — dropping user
    # data because of a name collision would be silent loss.
    if PARTITION_DATE_COL in df.columns and os.path.isdir(path):
        df = df.drop(PARTITION_DATE_COL)
    return df


def _iso_to_epoch_ns(iso_date: str) -> int:
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(iso_date)
    # The raw-nanos pushdown is only exact at whole-second boundaries
    # (the us-truncating cast can't move values across them), and a
    # naive UTC stamp would silently discard an explicit offset. Both
    # would return WRONG ROW SETS silently — reject instead.
    if dt.microsecond:
        raise ValueError(
            f"range bound {iso_date!r} has sub-second precision; the "
            "raw-nanos pushdown is whole-second-exact only"
        )
    if dt.tzinfo is not None and dt.utcoffset():
        raise ValueError(
            f"range bound {iso_date!r} carries a UTC offset; pass the "
            "bound in UTC (fixture timestamps are NTZ/UTC)"
        )
    dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp()) * 1_000_000_000


def _with_partition_date_range(
    df: DataFrame, lo_iso: str, hi_iso: str
) -> DataFrame:
    """Inject the partition predicate matching a ``[lo, hi)`` ts range
    when the frame carries the date-partitioned layout's hive column:
    ``dt >= date(lo)`` and ``dt < date(hi)`` (``<= date(hi)`` when hi
    has a time-of-day part — the boundary day still holds in-range
    rows). ISO date strings compare identically under string or
    inferred-DATE partition typing. This is what makes the scan show
    PartitionFilters and touch only in-window directories; the exact
    ts predicate still applies row-level on top. No-op on the flat
    single-file layout."""
    if PARTITION_DATE_COL not in df.columns:
        return df
    from datetime import datetime

    lo = datetime.fromisoformat(lo_iso)
    hi = datetime.fromisoformat(hi_iso)
    cond = F.col(PARTITION_DATE_COL) >= F.lit(lo.date().isoformat())
    if (hi.hour, hi.minute, hi.second, hi.microsecond) == (0, 0, 0, 0):
        cond = cond & (
            F.col(PARTITION_DATE_COL) < F.lit(hi.date().isoformat())
        )
    else:
        cond = cond & (
            F.col(PARTITION_DATE_COL) <= F.lit(hi.date().isoformat())
        )
    return df.filter(cond)


def load_table_in_range(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_col: str,
    lo_iso: str,
    hi_iso: str,
) -> DataFrame:
    """Read ``name`` with ``lo_iso <= ts_col < hi_iso`` pushed into the
    parquet scan.

    The nanos->NTZ conversion in :func:`load_table` makes ``ts_col`` a
    computed column, so a range predicate on it evaluates post-scan (the
    scan shows only ``IsNotNull`` in PushedFilters). Here the range is
    applied to the RAW nanos long BEFORE the cast — the predicate lands
    on the scanned attribute and prunes parquet row groups. Correct for
    whole-second boundaries: the us-truncating cast can't move a value
    across an exact-second boundary.

    On the date-partitioned layout (``dt=YYYY-MM-DD`` hive dirs,
    tools/gen_sf.py --partition-events) the matching ``dt`` predicate
    is injected FIRST, so the window prunes whole partition
    directories (PartitionFilters in the scan) before row groups —
    SURVEY §7's "partition events by date" posture, measured in
    PLANS.md. The hive column is then dropped: both layouts present
    identical logical schemas.
    """
    path = table_path(sf_dir, name)
    nano_cols = _nano_ts_columns(path)
    # `dt` is the LAYOUT's hive column only on a directory dataset; a
    # flat file whose data legitimately carries a `dt` column must be
    # neither filtered on it (it isn't date(ts)-derived there) nor
    # have it dropped (silent data loss on a name collision).
    part_layout = os.path.isdir(path)

    def _prune(raw: DataFrame) -> DataFrame:
        return (
            _with_partition_date_range(raw, lo_iso, hi_iso)
            if part_layout
            else raw
        )

    if ts_col not in nano_cols:
        if nano_cols:  # other nano columns still need the conversion
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _convert_nano_cols(
            _prune(spark.read.parquet(path)), nano_cols
        ).filter(
            (F.col(ts_col) >= F.lit(lo_iso)) & (F.col(ts_col) < F.lit(hi_iso))
        )
    else:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _prune(spark.read.parquet(path)).filter(
            (F.col(ts_col) >= F.lit(_iso_to_epoch_ns(lo_iso)))
            & (F.col(ts_col) < F.lit(_iso_to_epoch_ns(hi_iso)))
        )
        df = _convert_nano_cols(df, nano_cols)
    if part_layout and PARTITION_DATE_COL in df.columns:
        df = df.drop(PARTITION_DATE_COL)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = BASE_TABLES
) -> dict[str, DataFrame]:
    """Load the fixture tables and register them as temp views.

    Registration makes ``spark.sql`` the engine's SQL entry point over
    the same catalog the DataFrame API uses (SURVEY §2.14 D5: the
    reference's Postgres SQL passthrough becomes ``spark.sql`` over
    registered views).
    """
    # Deterministic date semantics even under a driver-provided session
    # whose timezone we didn't configure.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Idempotence guard: registering the same sf_dir twice in a session
    # is pure overhead (10 footer reads + 10 py4j view calls per query
    # call otherwise — measurable against sub-second queries).
    # The marker is only valid for the full BASE_TABLES registration: a
    # subset call must neither set it (later full calls would skip the
    # missing views) nor be satisfied by it incorrectly (the full set is
    # a superset, so reading from the catalog is fine).
    marker = "spark.cvdb.registered.sfdir"
    if spark.conf.get(marker, None) == sf_dir and set(names) <= set(
        BASE_TABLES
    ):
        return {name: spark.table(name) for name in names}
    if spark.conf.get(marker, None) is not None:
        # A (subset) registration for a DIFFERENT sf_dir is about to
        # overwrite views the marker vouches for: a stale marker would
        # make a later full call for the original sf_dir short-circuit
        # onto mixed-scale views (and fool register_derived_views the
        # same way). Invalidate first; only a full registration below
        # re-establishes it.
        spark.conf.unset(marker)
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    if tuple(names) == BASE_TABLES:
        spark.conf.set(marker, sf_dir)
    return out
