"""The recorded schema as the table format's one schema channel
(sources/snapshot_log.py ``SCHEMA_KEY``): names of any spelling round
trip, the registered data source reads with it, a table that records
none still reads by inference, and a staged write that retypes a
recorded column fails closed without leaving anything behind."""

from __future__ import annotations

import os

import pytest

from conversation_with_vector_db_spark.sources import evolution as ev
from conversation_with_vector_db_spark.sources import transactional as tx
from conversation_with_vector_db_spark.sources.snapshot_log import (
    append_snapshot,
    create_table,
    latest_version,
    versions,
)

recorded_schema = ev.recorded_schema


def _count_jobs(spark, name, fn):
    """(fn(), number of Spark jobs fn ran), by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(name))


def test_recorded_names_round_trip_any_spelling(spark, tmp_path):
    """Back-quotes and spaces in top-level and nested names survive
    the record: every later read parses the recorded schema."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, (2,))], "`we``ird` long, s struct<`a b`:int>"
    )
    ev.create_evolved_table(df, t)
    ev.append_evolved(
        spark.createDataFrame(
            [(3, (4,), "x")],
            "`we``ird` long, s struct<`a b`:int>, `c.d` string",
        ),
        t,
    )
    got = ev.read_evolved(spark, t)
    assert got.schema.names == ["we`ird", "s", "c.d"]
    assert got.schema["s"].dataType.names == ["a b"]
    assert sorted(
        (r[0], r[1][0], r[2]) for r in got.collect()
    ) == [(1, 2, None), (3, 4, "x")]


def test_data_source_reads_with_the_recorded_schema(spark, tmp_path):
    """``format("snapshot_log")`` shows a column a later append added,
    as NULL for rows written before it, and time travel shows the old
    shape."""
    from conversation_with_vector_db_spark.sources.datasource import (
        register,
    )

    register(spark)
    t = str(tmp_path / "t")
    v1 = ev.create_evolved_table(
        spark.createDataFrame([(1, "a")], "id long, txt string"), t
    )
    ev.append_evolved(
        spark.createDataFrame(
            [("en", 2, "b")], "lang string, id long, txt string"
        ),
        t,
    )
    df = spark.read.format("snapshot_log").option("path", t).load()
    assert df.columns == ["id", "txt", "lang"]
    assert sorted(map(tuple, df.collect())) == [
        (1, "a", None), (2, "b", "en")
    ]
    old = spark.read.format("snapshot_log").options(
        path=t, version=v1
    ).load()
    assert old.columns == ["id", "txt"]
    assert [tuple(r) for r in old.collect()] == [(1, "a")]


def test_unrecorded_table_reads_by_inference(spark, tmp_path):
    """A bare create_table + append_snapshot table records nothing;
    read_table falls back to footer inference (one job)."""
    t = str(tmp_path / "t")
    create_table(t)
    append_snapshot(
        spark.createDataFrame([(1, "a")], "id long, s string"), t
    )
    assert recorded_schema(t) is None
    df, n_jobs = _count_jobs(
        spark, f"read-bare-{tmp_path.name}", lambda: tx.read_table(spark, t)
    )
    assert n_jobs == 1
    assert df.columns == ["id", "s"]
    assert [tuple(r) for r in df.collect()] == [(1, "a")]


def test_append_partitioned_type_change_fails_closed(spark, tmp_path):
    """A staged write that retypes a recorded column is refused before
    it stages: no version, no segment left in data/."""
    t = str(tmp_path / "t")
    tx.create_partitioned_table(
        spark,
        spark.createDataFrame([("a", 1)], "namespace string, vec_id long"),
        t,
    )
    head = latest_version(t)
    data = os.path.join(t, "data")
    before = set(os.listdir(data))
    with pytest.raises(ev.SchemaEvolutionError, match="type changes"):
        tx.append_partitioned(
            spark,
            spark.createDataFrame(
                [("a", "2")], "namespace string, vec_id string"
            ),
            t,
        )
    assert versions(t)[-1] == head
    assert set(os.listdir(data)) == before


def test_append_partitioned_widens_in_the_same_commit(spark, tmp_path):
    """A staged write may add a column: the widened schema publishes
    with the rows, and older rows read it as NULL."""
    t = str(tmp_path / "t")
    tx.create_partitioned_table(
        spark,
        spark.createDataFrame([("a", 1)], "namespace string, vec_id long"),
        t,
    )
    v = tx.append_partitioned(
        spark,
        spark.createDataFrame(
            [("b", 2, "en")], "namespace string, vec_id long, lang string"
        ),
        t,
    )
    assert [f["name"] for f in recorded_schema(t, v)] == [
        "namespace", "vec_id", "lang"
    ]
    assert sorted(map(tuple, tx.read_table(spark, t).collect())) == [
        ("a", 1, None), ("b", 2, "en")
    ]
    assert tx.read_table(spark, t, version=v - 1).columns == [
        "namespace", "vec_id"
    ]


def test_widening_commit_refuses_a_moved_schema(spark, tmp_path):
    """A write that widens the recorded schema re-checks it at its
    commit: when another write widened it since, publishing would drop
    that column, so the commit is refused as a conflict."""
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        CommitConflictError,
    )

    t = str(tmp_path / "t")
    tx.create_partitioned_table(
        spark,
        spark.createDataFrame([("a", 1)], "namespace string, vec_id long"),
        t,
    )
    base = recorded_schema(t)
    mine = base + [{"name": "c", "type": "string"}]
    hook = tx._constraints_pre_commit(spark, t, [], mine, widens=True)
    hook(latest_version(t))  # the head still has the base schema
    tx.append_partitioned(
        spark,
        spark.createDataFrame(
            [("b", 2, 0.5)], "namespace string, vec_id long, b double"
        ),
        t,
    )
    with pytest.raises(CommitConflictError, match="schema"):
        hook(latest_version(t))
