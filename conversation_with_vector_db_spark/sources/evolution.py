"""Schema evolution for snapshot-log tables: ADD COLUMN without
rewriting a byte of existing data — the Delta/Iceberg contract that a
100 TB table's shape can change while old segments stay immutable.

Model:

* The table's CURRENT schema is a ``meta`` key (``schema``,
  :data:`.snapshot_log.SCHEMA_KEY`) published atomically with the
  commit that first uses it (Delta's metaData-action shape, the same
  channel the IVF centroid pointer rides). Every table created here or
  through :func:`.transactional.create_partitioned_table` records it.
  ``table_meta`` resolves newest-wins, so time travel sees the schema
  THAT VERSION had — a v3 read of a table widened at v5 neither shows
  the new column nor fails.
* A write may ADD columns (appended to the recorded order, never
  interleaved) and may OMIT existing columns (they read as typed
  NULLs for those rows). It may NOT change an existing column's type
  or redefine order — :class:`SchemaEvolutionError`, fail-closed,
  because silent coercion is how lakehouse tables rot. The same rule
  runs wherever rows are staged: here, ``append_partitioned`` and
  every copy-on-write commit in :mod:`.transactional`.
* Every read of a table that records a schema hands the RECORDED
  schema to the parquet reader (:func:`.snapshot_log.read_segments`):
  segments written before a column existed project a typed NULL for
  it, segments newer than a time-traveled version are projected down
  to the old shape — one scan, no footer pre-walk, no data rewrite
  ever on evolution.

Why not ``spark.read.option("mergeSchema", true)``: mergeSchema
derives the union from FILE FOOTERS — O(files) footer reads at plan
time, and the result depends on which files happen to be live, not
on what the table declares. The manifest-recorded schema is one
JSON read, version-pinned, and authoritative (a segment whose footer
disagrees in TYPE is a corruption caught at read, not silently
widened).
"""

from __future__ import annotations

import json
import shutil

from pyspark.sql import DataFrame, SparkSession

from .snapshot_log import (  # noqa: F401 - re-exported
    SCHEMA_KEY,
    SchemaEvolutionError,
    _fields_of,
    _write_segment,
    commit_segments,
    create_table,
    declared_struct,
    evolve_fields,
    latest_version,
    recorded_schema,
    segment_path,
)
from .transactional import _constraints_pre_commit, read_table


def create_evolved_table(
    df: DataFrame, table_dir: str
) -> int:
    """Create a schema-tracked table: first segment + the recorded
    schema in one commit."""
    create_table(table_dir)
    rel = _write_segment(df, table_dir)
    return commit_segments(
        table_dir,
        added=[rel],
        removed=[],
        op="create",
        meta={SCHEMA_KEY: json.dumps(_fields_of(df.schema))},
    )


def append_evolved(df: DataFrame, table_dir: str) -> int:
    """Append that may widen the schema (new columns) or narrow the
    ROW (omitted existing columns read as NULL). The widened schema
    publishes in the SAME commit as the data that needs it — no
    window where a reader sees rows it cannot shape. CHECK / FOREIGN
    KEY / UNIQUE constraints read the staged segment with the schema
    this commit publishes, so a row that OMITS a constrained column
    evaluates its predicate on NULL and is refused."""
    old = recorded_schema(table_dir)
    if old is None:
        raise SchemaEvolutionError(
            f"{table_dir} is not schema-tracked; create it with "
            "create_evolved_table"
        )
    merged, changed = evolve_fields(old, _fields_of(df.schema))
    rel = _write_segment(df, table_dir)
    try:
        return commit_segments(
            table_dir, added=[rel], removed=[], op="append",
            meta={SCHEMA_KEY: json.dumps(merged)} if changed else None,
            pre_commit=_constraints_pre_commit(
                df.sparkSession, table_dir, [rel], merged,
                widens=changed,
            ),
        )
    except Exception:
        shutil.rmtree(segment_path(table_dir, rel), ignore_errors=True)
        raise


def read_evolved(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Version-pinned read of a schema-tracked table: refuses a table
    that records no schema at ``version``, then reads it like every
    table (:func:`.transactional.read_table`)."""
    if version is None:
        version = latest_version(table_dir)
    if recorded_schema(table_dir, version) is None:
        raise SchemaEvolutionError(
            f"{table_dir} is not schema-tracked at v{version}"
        )
    return read_table(spark, table_dir, version)
