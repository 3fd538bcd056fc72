"""Named-query registry: the bridge between engine operators and the
driver's correctness contract.

A registered query is a pure ``(SparkSession, sf_dir) -> DataFrame``
function plus (usually) an equivalent ANSI-SQL oracle string runnable by
DuckDB over the same parquet fixtures. The driver hash-compares the two
at sf0.01; queries without an oracle get a weaker rows-only check (only
genuinely non-SQL-expressible operators omit it).
"""

from __future__ import annotations

import functools
import glob
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .. import fixtures, session


#: The driver's correctness gate only records the alphabetically-first
#: ~50 entries of ``__spark_entry__.queries()``; a registry larger than
#: that silently leaves operator families driver-unverified. The
#: driver-facing tier is therefore capped (enforced by a test), and the
#: full registry stays under local parity via ``tools/check_parity.py``.
DRIVER_TIER_CAP = 50


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    fixture_views: tuple[str, ...] = field(default_factory=tuple)
    #: True -> exposed through ``__spark_entry__.queries()`` (driver
    #: gate); False -> local-parity-only (redundant variant of a
    #: driver-tier query, same operator family).
    driver: bool = True

    @property
    def oracle_sql(self) -> str | None:
        """Oracle SQL with derived-fixture CTEs inlined for DuckDB."""
        if self.oracle is None:
            return None
        return fixtures.with_fixtures(self.oracle, *self.fixture_views)


REGISTRY: dict[str, Query] = {}


def query(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    fixtures_used: tuple[str, ...] = (),
    driver: bool = True,
) -> Callable:
    """Register a named query.

    The wrapped function runs with the base temp views (and any derived
    fixture views it declares) already registered, so bodies may freely
    mix ``spark.table(...)`` and ``spark.sql(...)``.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Advance the scoped-cache generation: caches older than the
            # previous query are released so long-lived sessions don't
            # accumulate cached RDDs (the previous generation survives
            # for plan-identity reuse across back-to-back queries).
            from ..operators.cache import next_generation

            next_generation()
            session.load_tables(spark, sf_dir)
            if fixtures_used:
                fixtures.register_derived_views(spark)
            return fn(spark, sf_dir)

        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(
            name=name,
            fn=wrapped,
            oracle=oracle,
            doc=doc or (fn.__doc__ or ""),
            fixture_views=tuple(fixtures_used),
            driver=driver,
        )
        return wrapped

    return deco


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # alive, owned by another user
    return True


def scratch_dir(tag: str) -> str:
    """A fresh directory for a query's scratch table, under the
    per-process parent ``<tmp>/cvdb_<tag>_query_<pid>``. This
    process's earlier scratch tables for ``tag``, and those of exited
    processes, are reaped first, so repeated runs do not pile up. A
    query's frame is lazy, so its table must outlive the call: a
    parent shared across processes would let a second process running
    the same query delete it before the first frame is read."""
    prefix = os.path.join(tempfile.gettempdir(), f"cvdb_{tag}_query_")
    for stale in glob.glob(prefix + "*"):
        pid = stale[len(prefix):]
        if pid.isdigit() and not _pid_alive(int(pid)):
            shutil.rmtree(stale, ignore_errors=True)
    parent = f"{prefix}{os.getpid()}"
    shutil.rmtree(parent, ignore_errors=True)
    return os.path.join(parent, uuid.uuid4().hex)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver-tier queries only (capped at :data:`DRIVER_TIER_CAP`)."""
    return {
        name: q.fn for name, q in sorted(REGISTRY.items()) if q.driver
    }


def oracles() -> dict[str, str]:
    return {
        name: q.oracle_sql
        for name, q in sorted(REGISTRY.items())
        if q.driver and q.oracle is not None
    }


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, driver-tier or not (local parity runs)."""
    return {name: q.fn for name, q in sorted(REGISTRY.items())}


def all_oracles() -> dict[str, str]:
    return {
        name: q.oracle_sql
        for name, q in sorted(REGISTRY.items())
        if q.oracle is not None
    }
