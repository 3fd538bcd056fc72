"""Snapshot-log-backed maintenance (sources/transactional.py): the
engine's only table writer — keyed upserts/deletes, manifest-only
partition drops, transactional log compaction (including a compactor
that dies before its commit), and multi-writer races."""

from __future__ import annotations

import os
import threading

import pytest

from pyspark.sql import functions as F

from conversation_with_vector_db_spark.sources.snapshot_log import (
    latest_version,
    live_segments,
    vacuum,
)
from conversation_with_vector_db_spark.sources.transactional import (
    append_change_segment,
    append_partitioned,
    compact_change_log,
    create_partitioned_table,
    delete_by_key,
    drop_partition,
    read_merge_on_read,
    read_table,
    upsert_by_key,
)


@pytest.fixture()
def store(spark, tmp_path):
    """A 3-namespace snapshot-log table: vec_id 0..29, namespace =
    vec_id % 3, label = vec_id."""
    t = str(tmp_path / "t")
    df = spark.range(0, 30).select(
        F.col("id").alias("vec_id"),
        F.col("id").cast("int").alias("label"),
        (F.col("id") % 3).cast("int").alias("namespace"),
    )
    create_partitioned_table(spark, df, t)
    return t


def _rows(df):
    return sorted(
        (r.vec_id, r.label, r.namespace)
        for r in df.select("vec_id", "label", "namespace").collect()
    )


class TestCopyOnWrite:
    def test_upsert_by_key(self, spark, store):
        updates = spark.createDataFrame(
            [(0, 999, 0), (1, 999, 1), (424242, 999, 2)],
            "vec_id long, label int, namespace int",
        )
        before = read_table(spark, store).count()
        upsert_by_key(spark, store, updates, key="vec_id")
        after = read_table(spark, store)
        assert after.count() == before + 1  # 2 replaced, 1 inserted
        assert (
            after.filter(F.col("vec_id").isin(0, 1, 424242))
            .filter(F.col("label") == 999)
            .count()
            == 3
        )

    def test_upsert_identity_is_namespace_scoped(self, spark, store):
        # Plant key 3 (home ns 0) into ns 1, then update (0, 3): the
        # ns-1 twin must survive untouched.
        upsert_by_key(
            spark,
            store,
            spark.createDataFrame(
                [(3, 111, 1)], "vec_id long, label int, namespace int"
            ),
            key="vec_id",
        )
        upsert_by_key(
            spark,
            store,
            spark.createDataFrame(
                [(3, 999, 0)], "vec_id long, label int, namespace int"
            ),
            key="vec_id",
        )
        rows = {
            (r.namespace, r.label)
            for r in read_table(spark, store)
            .filter(F.col("vec_id") == 3)
            .collect()
        }
        assert rows == {(0, 999), (1, 111)}

    def test_upsert_rewrites_only_touched_partitions(self, spark, store):
        before = {
            s for s in live_segments(store) if "namespace=1" not in s
        }
        upsert_by_key(
            spark,
            store,
            spark.createDataFrame(
                [(1, 999, 1)], "vec_id long, label int, namespace int"
            ),
            key="vec_id",
        )
        after = set(live_segments(store))
        # Untouched partitions' segments are byte-identical survivors.
        assert before <= after

    def test_delete_by_key_cross_namespace(self, spark, store):
        ids = spark.createDataFrame([(5,), (6,)], ["vec_id"])
        delete_by_key(spark, store, ids, key="vec_id")
        after = read_table(spark, store)
        assert after.count() == 28
        assert after.filter(F.col("vec_id").isin(5, 6)).count() == 0

    def test_delete_scoped_when_ids_carry_namespace(self, spark, store):
        # Same key in two namespaces; delete only the ns-1 identity.
        upsert_by_key(
            spark,
            store,
            spark.createDataFrame(
                [(3, 111, 1)], "vec_id long, label int, namespace int"
            ),
            key="vec_id",
        )
        delete_by_key(
            spark,
            store,
            spark.createDataFrame([(3, 1)], "vec_id long, namespace int"),
            key="vec_id",
        )
        rows = [
            (r.namespace, r.label)
            for r in read_table(spark, store)
            .filter(F.col("vec_id") == 3)
            .collect()
        ]
        assert rows == [(0, 3)]

    def test_delete_emptying_partition_stays_deleted(self, spark, tmp_path):
        t = str(tmp_path / "tiny")
        create_partitioned_table(
            spark,
            spark.createDataFrame(
                [(1, 0), (2, 0), (3, 1)], "vec_id long, namespace int"
            ),
            t,
        )
        delete_by_key(
            spark,
            t,
            spark.createDataFrame([(1,), (2,)], ["vec_id"]),
            key="vec_id",
        )
        rows = sorted(
            (r.vec_id, r.namespace) for r in read_table(spark, t).collect()
        )
        assert rows == [(3, 1)]
        # The emptied partition left the manifest entirely.
        assert [
            s for s in live_segments(t) if "namespace=0" in s
        ] == []

    def test_read_table_prunes_at_the_segment_list(self, spark, store):
        pruned = read_table(spark, store, partitions={1})
        assert sorted(r.vec_id for r in pruned.collect()) == list(
            range(1, 30, 3)
        )
        # Manifest-level pruning: every file the plan opens belongs to
        # the requested partition's segments — other partitions' files
        # are never listed, let alone read.
        assert pruned.count() > 0
        for f in pruned.inputFiles():
            assert "namespace%3D1" in f or "namespace=1" in f


class TestDropPartition:
    def test_drop_is_manifest_only_and_time_travelable(self, spark, store):
        v_before = latest_version(store)
        victims = [s for s in live_segments(store) if "namespace=2" in s]
        assert victims
        drop_partition(spark, store, "namespace", 2)
        after = read_table(spark, store)
        assert after.filter(F.col("namespace") == 2).count() == 0
        assert after.count() == 20
        # Manifest-only: the dropped segments still exist on disk
        # (time travel reads them) until vacuum ages them out.
        for s in victims:
            assert os.path.exists(os.path.join(store, s))
        assert (
            read_table(spark, store, version=v_before)
            .filter(F.col("namespace") == 2)
            .count()
            == 10
        )
        # Post-retention they are reclaimed like any dead segment.
        for s in victims:
            os.utime(os.path.join(store, s), (0, 0))
        deleted = vacuum(store, keep_versions=1)
        assert set(victims) <= set(deleted)

    def test_drop_filters_pending_log_rows(self, spark, store):
        # A logged upsert into the doomed partition must not resurrect
        # it at the next compaction.
        append_change_segment(
            spark,
            spark.createDataFrame(
                [(2, 500, 2), (0, 500, 0)],
                "vec_id long, label int, namespace int",
            ),
            store,
            op="upsert",
            seq=1,
        )
        drop_partition(spark, store, "namespace", 2)
        compact_change_log(spark, store, key="vec_id")
        after = read_table(spark, store)
        assert after.filter(F.col("namespace") == 2).count() == 0
        assert (
            after.filter((F.col("vec_id") == 0)).first().label == 500
        )


class TestMergeOnRead:
    def test_overlay_and_compaction_agree(self, spark, store):
        append_change_segment(
            spark,
            spark.createDataFrame(
                [(0, 1000, 0), (33, 1000, 0)],
                "vec_id long, label int, namespace int",
            ),
            store,
            op="upsert",
            seq=1,
        )
        append_change_segment(
            spark,
            spark.createDataFrame(
                [(1, 0, 1)], "vec_id long, label int, namespace int"
            ),
            store,
            op="delete",
            seq=2,
        )
        overlay = _rows(read_merge_on_read(spark, store, key="vec_id"))
        assert (0, 1000, 0) in overlay and (33, 1000, 0) in overlay
        assert not any(r[0] == 1 and r[2] == 1 for r in overlay)
        compact_change_log(spark, store, key="vec_id")
        assert [s for s in live_segments(store) if "log-" in s] == []
        assert _rows(read_table(spark, store)) == overlay
        # Overlay read on a log-free table is just the base read.
        assert _rows(read_merge_on_read(spark, store, key="vec_id")) == (
            overlay
        )

    def test_compactor_dying_before_commit_changes_nothing(
        self, spark, store, monkeypatch
    ):
        """A compactor that dies between staging its folded segments and
        its manifest commit leaves readers on the same rows and the head
        on the same version; an unpatched re-run folds the log, and
        vacuum reaps the dead run's staged segments."""
        from conversation_with_vector_db_spark.sources import (
            transactional as tx,
        )

        append_change_segment(
            spark,
            spark.createDataFrame(
                [(0, 1000, 0), (33, 1000, 0)],
                "vec_id long, label int, namespace int",
            ),
            store,
            op="upsert",
            seq=1,
        )
        append_change_segment(
            spark,
            spark.createDataFrame(
                [(1, 0, 1)], "vec_id long, label int, namespace int"
            ),
            store,
            op="delete",
            seq=2,
        )
        want = _rows(read_merge_on_read(spark, store, key="vec_id"))
        head = latest_version(store)
        data = os.path.join(store, "data")
        before = set(os.listdir(data))

        def die(*a, **kw):
            raise RuntimeError("compactor died before its commit")

        monkeypatch.setattr(tx, "commit_segments", die)
        with pytest.raises(RuntimeError, match="died"):
            compact_change_log(spark, store, key="vec_id")
        monkeypatch.undo()
        staged = set(os.listdir(data)) - before
        assert staged
        assert latest_version(store) == head
        assert _rows(read_merge_on_read(spark, store, key="vec_id")) == want

        compact_change_log(spark, store, key="vec_id")
        assert latest_version(store) == head + 1
        assert [s for s in live_segments(store) if "log-" in s] == []
        assert _rows(read_table(spark, store)) == want

        deleted = vacuum(store, keep_versions=1, orphan_min_age_sec=0.0)
        assert {os.path.join("data", n) for n in staged} <= set(deleted)
        assert not staged & set(os.listdir(data))
        assert _rows(read_table(spark, store)) == want

    def test_delete_log_emptying_a_namespace_stays_deleted(
        self, spark, store
    ):
        """A delete log naming every row of namespace 1: after
        compaction the rows stay deleted and no live segment carries the
        namespace-1 tag, while the other namespaces are untouched."""
        ns1 = read_table(spark, store).filter(F.col("namespace") == 1)
        assert ns1.count() == 10
        append_change_segment(spark, ns1, store, op="delete", seq=1)
        assert (
            read_merge_on_read(spark, store, key="vec_id")
            .filter(F.col("namespace") == 1)
            .count()
            == 0
        )
        compact_change_log(spark, store, key="vec_id")
        assert [s for s in live_segments(store) if "namespace=1" in s] == []
        assert [s for s in live_segments(store) if "log-" in s] == []
        after = read_merge_on_read(spark, store, key="vec_id")
        assert after.filter(F.col("namespace") == 1).count() == 0
        assert after.count() == 20

    def test_compaction_folds_only_touched_partitions(self, spark, store):
        untouched = {
            s
            for s in live_segments(store)
            if "namespace=0" not in s and "log-" not in s
        }
        append_change_segment(
            spark,
            spark.createDataFrame(
                [(0, 1000, 0)], "vec_id long, label int, namespace int"
            ),
            store,
            op="upsert",
            seq=1,
        )
        compact_change_log(spark, store, key="vec_id")
        assert untouched <= set(live_segments(store))

    def test_cow_refuses_uncompacted_log(self, spark, store):
        append_change_segment(
            spark,
            spark.createDataFrame(
                [(0, 1000, 0)], "vec_id long, label int, namespace int"
            ),
            store,
            op="upsert",
            seq=1,
        )
        with pytest.raises(ValueError, match="compact_change_log"):
            upsert_by_key(
                spark,
                store,
                spark.createDataFrame(
                    [(9, 1, 0)], "vec_id long, label int, namespace int"
                ),
                key="vec_id",
            )

    def test_racing_compactors_never_double_fold(self, spark, store):
        for seq in (1, 2):
            append_change_segment(
                spark,
                spark.createDataFrame(
                    [(seq, seq * 100, seq % 3)],
                    "vec_id long, label int, namespace int",
                ),
                store,
                op="upsert",
                seq=seq,
            )
        outcomes, errors = [], []

        def compactor():
            try:
                outcomes.append(compact_change_log(spark, store, key="vec_id"))
            except Exception as e:  # noqa: BLE001 - surfaced via errors
                errors.append(e)

        threads = [threading.Thread(target=compactor) for _ in range(2)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert errors == []
        after = read_merge_on_read(spark, store, key="vec_id")
        assert after.count() == 30
        assert after.filter(F.col("vec_id") == 1).first().label == 100
        assert after.filter(F.col("vec_id") == 2).first().label == 200

    def test_append_during_compaction_survives(self, spark, store):
        """Change segments landing while a compactor runs must survive
        it (they are not in its remove set) and fold next round."""
        stop = threading.Event()
        errors = []
        landed = []

        def appender():
            seq = 10
            while not stop.is_set():
                try:
                    append_change_segment(
                        spark,
                        spark.createDataFrame(
                            [(1000 + seq, seq, seq % 3)],
                            "vec_id long, label int, namespace int",
                        ),
                        store,
                        op="upsert",
                        seq=seq,
                    )
                    landed.append(seq)
                    seq += 1
                except Exception as e:  # noqa: BLE001
                    errors.append(e)
                    return

        th = threading.Thread(target=appender)
        th.start()
        try:
            for _ in range(3):
                compact_change_log(spark, store, key="vec_id")
        finally:
            stop.set()
            th.join()
        assert errors == []
        compact_change_log(spark, store, key="vec_id")
        assert [s for s in live_segments(store) if "log-" in s] == []
        after = read_table(spark, store)
        assert after.count() == 30 + len(landed)
        assert (
            after.filter(F.col("vec_id") >= 1000).count() == len(landed)
        )

    def test_disjoint_partition_upserts_race(self, spark, store):
        """Two writers upserting DIFFERENT partitions: both commits
        land (first directly, second after CAS retry) — the per-
        partition remove sets don't intersect, so neither conflicts."""
        errors = []

        def writer(ns):
            try:
                upsert_by_key(
                    spark,
                    store,
                    spark.createDataFrame(
                        [(2000 + ns, 1, ns)],
                        "vec_id long, label int, namespace int",
                    ),
                    key="vec_id",
                )
            except Exception as e:  # noqa: BLE001
                errors.append(e)

        threads = [
            threading.Thread(target=writer, args=(ns,)) for ns in (0, 1, 2)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert errors == []
        after = read_table(spark, store)
        assert after.count() == 33
        assert after.filter(F.col("vec_id") >= 2000).count() == 3

    def test_same_partition_upserts_race(self, spark, store):
        """Two writers on the SAME partition: the loser re-plans from
        the winner's head, so BOTH updates land exactly once."""
        errors = []

        def writer(k):
            try:
                upsert_by_key(
                    spark,
                    store,
                    spark.createDataFrame(
                        [(3000 + k, k, 0)],
                        "vec_id long, label int, namespace int",
                    ),
                    key="vec_id",
                )
            except Exception as e:  # noqa: BLE001
                errors.append(e)

        threads = [
            threading.Thread(target=writer, args=(k,)) for k in range(3)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert errors == []
        after = read_table(spark, store)
        assert after.filter(F.col("vec_id") >= 3000).count() == 3
        assert after.count() == 33


class TestSegmentKeyStats:
    def _ranged_store(self, spark, tmp_path):
        """One namespace, two appends with DISJOINT key ranges -> two
        tagged segments in the same partition, each with footer-derived
        min/max stats in its commit."""
        t = str(tmp_path / "ranged")
        lo = spark.range(0, 100).select(
            F.col("id").alias("vec_id"),
            F.col("id").cast("int").alias("label"),
            F.lit(0).cast("int").alias("namespace"),
        )
        hi = spark.range(100000, 100100).select(
            F.col("id").alias("vec_id"),
            F.col("id").cast("int").alias("label"),
            F.lit(0).cast("int").alias("namespace"),
        )
        create_partitioned_table(spark, lo, t, key="vec_id")
        append_partitioned(spark, hi, t, key="vec_id")
        return t

    def test_stats_recorded_and_reconstructed(self, spark, tmp_path):
        from conversation_with_vector_db_spark.sources.snapshot_log import (
            segment_stats,
        )

        t = self._ranged_store(spark, tmp_path)
        stats = segment_stats(t)
        segs = live_segments(t)
        assert set(stats) == set(segs)
        ranges = sorted(
            (s["min"], s["max"]) for s in stats.values()
        )
        assert ranges == [(0, 99), (100000, 100099)]

    def test_upsert_prunes_untouched_key_range(self, spark, tmp_path):
        """The Iceberg column-stats move, proven at the file level: the
        segment whose key range misses the update is corrupted on disk
        BEFORE the upsert — if the rewrite opened any of its files the
        job would die. It must stay live, unread, and byte-identical,
        while the matching-range segment is rewritten."""
        import glob

        from conversation_with_vector_db_spark.sources.snapshot_log import (
            segment_stats,
        )

        t = self._ranged_store(spark, tmp_path)
        segs = live_segments(t)
        stats_before = segment_stats(t)
        lo_seg = next(s for s in segs if stats_before[s]["min"] == 0)
        hi_seg = next(
            s for s in segs if stats_before[s]["min"] == 100000
        )
        # Corrupt every parquet file in the low-range segment.
        lo_files = glob.glob(os.path.join(t, lo_seg, "*.parquet"))
        assert lo_files
        saved = {}
        for f in lo_files:
            with open(f, "rb") as fh:
                saved[f] = fh.read()
            with open(f, "wb") as fh:
                fh.write(b"corrupted: not parquet")
        updates = spark.createDataFrame(
            [(100000, 999, 0), (100050, 999, 0)],
            "vec_id long, label int, namespace int",
        )
        upsert_by_key(spark, t, updates, key="vec_id")
        after = live_segments(t)
        assert lo_seg in after  # untouched segment left live
        assert hi_seg not in after  # matching segment rewritten
        for f in lo_files:  # and byte-identical on disk
            with open(f, "rb") as fh:
                assert fh.read() == b"corrupted: not parquet"
            with open(f, "wb") as fh:
                fh.write(saved[f])
        got = read_table(spark, t)
        assert got.count() == 200
        assert got.filter(F.col("label") == 999).count() == 2

    def test_delete_prunes_untouched_key_range(self, spark, tmp_path):
        import glob

        from conversation_with_vector_db_spark.sources.snapshot_log import (
            segment_stats,
        )

        t = self._ranged_store(spark, tmp_path)
        segs = live_segments(t)
        stats = segment_stats(t)
        lo_seg = next(s for s in segs if stats[s]["min"] == 0)
        lo_files = glob.glob(os.path.join(t, lo_seg, "*.parquet"))
        saved = {}
        for f in lo_files:
            with open(f, "rb") as fh:
                saved[f] = fh.read()
            with open(f, "wb") as fh:
                fh.write(b"corrupted: not parquet")
        ids = spark.createDataFrame(
            [(100000, 0), (100001, 0)], "vec_id long, namespace int"
        )
        delete_by_key(spark, t, ids, key="vec_id")
        assert lo_seg in live_segments(t)
        for f in lo_files:
            with open(f, "wb") as fh:
                fh.write(saved[f])
        got = read_table(spark, t)
        assert got.count() == 198
        assert got.filter(F.col("vec_id") < 100).count() == 100

    def test_stats_survive_generic_compaction(self, spark, tmp_path):
        """compact_snapshots folds stats from the members' RECORDED
        min/max (no data read), so key-range pruning keeps working on
        a compacted table."""
        from conversation_with_vector_db_spark.sources.snapshot_log import (
            compact_snapshots,
            segment_stats,
        )

        t = self._ranged_store(spark, tmp_path)
        compact_snapshots(spark, t)
        segs = live_segments(t)
        stats = segment_stats(t)
        assert set(stats) == set(segs)
        folded = sorted((s["min"], s["max"]) for s in stats.values())
        # Both source segments were in the same partition and fold into
        # one target-sized output: the folded range spans both.
        assert folded == [(0, 100099)]
        assert all(s["col"] == "vec_id" for s in stats.values())

    def test_pruning_never_skips_a_matching_segment(self, spark, tmp_path):
        """Range-straddling updates touch BOTH segments: stats pruning
        is conservative, identity stays unique."""
        t = self._ranged_store(spark, tmp_path)
        updates = spark.createDataFrame(
            [(50, 999, 0), (100050, 999, 0)],
            "vec_id long, label int, namespace int",
        )
        upsert_by_key(spark, t, updates, key="vec_id")
        got = read_table(spark, t)
        assert got.count() == 200
        assert got.filter(F.col("label") == 999).count() == 2
        assert (
            got.groupBy("namespace", "vec_id").count()
            .filter(F.col("count") > 1).count() == 0
        )


class TestGlobalUpsert:
    def _ranged(self, spark, tmp_path):
        t = str(tmp_path / "glob")
        df = spark.range(0, 30).select(
            F.col("id").alias("vec_id"),
            F.col("id").cast("int").alias("label"),
            (F.col("id") % 3).cast("int").alias("namespace"),
        )
        create_partitioned_table(spark, df, t, key="vec_id")
        return t

    def test_key_moves_partition_without_stale_twin(self, spark, tmp_path):
        """Global identity: an update that changes the row's partition
        value removes the old-partition row in the SAME commit."""
        from conversation_with_vector_db_spark.sources.transactional import (
            upsert_by_key_global,
        )

        t = self._ranged(spark, tmp_path)
        # vec 3 lives in namespace 0; move it to namespace 2.
        upsert_by_key_global(
            spark,
            t,
            spark.createDataFrame(
                [(3, 999, 2), (4242, 1, 1)],
                "vec_id long, label int, namespace int",
            ),
            key="vec_id",
        )
        got = read_table(spark, t)
        rows = got.filter(F.col("vec_id") == 3).collect()
        assert len(rows) == 1
        assert (rows[0]["namespace"], rows[0]["label"]) == (2, 999)
        assert got.count() == 31
        assert (
            got.groupBy("vec_id").count()
            .filter(F.col("count") > 1).count() == 0
        )

    def test_txn_replay_is_skipped(self, spark, tmp_path):
        from conversation_with_vector_db_spark.sources.snapshot_log import (
            last_txn_version,
        )
        from conversation_with_vector_db_spark.sources.transactional import (
            upsert_by_key_global,
        )

        t = self._ranged(spark, tmp_path)
        upd = spark.createDataFrame(
            [(3, 999, 2)], "vec_id long, label int, namespace int"
        )
        v = upsert_by_key_global(
            spark, t, upd, key="vec_id", txn=("sink", 5)
        )
        assert v is not None
        assert last_txn_version(t, "sink") == 5
        assert (
            upsert_by_key_global(
                spark, t, upd, key="vec_id", txn=("sink", 5)
            )
            is None
        )
        assert latest_version(t) == v
        assert read_table(spark, t).count() == 30

    def test_racing_global_upserts_converge(self, spark, tmp_path):
        """Two global upserts racing on overlapping partitions: losers
        re-plan, every update lands exactly once, identities unique."""
        from conversation_with_vector_db_spark.sources.transactional import (
            upsert_by_key_global,
        )

        t = self._ranged(spark, tmp_path)
        errors = []

        def worker(i):
            try:
                upsert_by_key_global(
                    spark,
                    t,
                    spark.createDataFrame(
                        [(i, 100 + i, (i + 1) % 3),
                         (5000 + i, 1, i % 3)],
                        "vec_id long, label int, namespace int",
                    ),
                    key="vec_id",
                    max_replans=16,
                )
            except Exception as e:  # noqa: BLE001 - surfaced below
                errors.append(e)

        threads = [
            threading.Thread(target=worker, args=(i,)) for i in range(4)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert errors == []
        got = read_table(spark, t)
        assert got.count() == 34  # 30 base + 4 new; 4 moved, none doubled
        assert (
            got.groupBy("vec_id").count()
            .filter(F.col("count") > 1).count() == 0
        )
        for i in range(4):
            r = got.filter(F.col("vec_id") == i).first()
            assert (r["label"], r["namespace"]) == (100 + i, (i + 1) % 3)


def test_generic_compaction_preserves_partition_tags(spark, store):
    """compact_snapshots on a TAGGED table folds within each partition
    tag and keeps the tag on the replacement segments — partition
    purity survives, so a later metadata-only drop_partition still
    removes every row of the namespace."""
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        compact_snapshots,
    )

    # Three more appends -> 4 small segments per namespace.
    for i in range(3):
        append_partitioned(
            spark,
            spark.createDataFrame(
                [(1000 + 3 * i + ns, 7, ns) for ns in range(3)],
                "vec_id long, label int, namespace int",
            ),
            store,
        )
    assert len(live_segments(store)) == 12
    compact_snapshots(spark, store)
    after = live_segments(store)
    assert len(after) == 3  # one folded segment per namespace
    tags = sorted(
        os.path.basename(s).split("namespace=")[1] for s in after
    )
    assert tags == ["0", "1", "2"]
    assert read_table(spark, store).count() == 39
    # Partition semantics intact: metadata-only drop removes the lot.
    drop_partition(spark, store, "namespace", 1)
    got = read_table(spark, store)
    assert got.filter(F.col("namespace") == 1).count() == 0
    assert got.count() == 26


def test_append_partitioned_is_one_atomic_version(spark, store):
    v = append_partitioned(
        spark,
        spark.createDataFrame(
            [(100, 1, 0), (101, 1, 1), (102, 1, 2)],
            "vec_id long, label int, namespace int",
        ),
        store,
    )
    assert v == latest_version(store)
    assert read_table(spark, store).count() == 33
    # All three partitions' segments entered in the SAME manifest.
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        _read_manifest,
    )

    m = _read_manifest(store, v)
    assert len(m["added"]) == 3 and m["removed"] == []


def test_distributed_stats_match_footer_walk(spark, tmp_path):
    """The executor-parallel stats path (engaged automatically at >=32
    segments) must emit exactly the footer walk's map — same segments
    present/omitted, same min/max values — on int keys, string keys,
    and all-null-key partitions."""
    from conversation_with_vector_db_spark.sources.transactional import (
        _segment_key_stats,
        _segment_key_stats_distributed,
        create_partitioned_table,
        live_segments,
    )

    t = str(tmp_path / "t")
    rows = [
        (i if i % 37 != 0 else None, f"ns {i % 40}", f"k{i:04d}")
        for i in range(400)
    ]
    # 'ns <i>' tags contain a space: the segment names URL-quote, so
    # this also exercises the url-decoded group identity.
    df = spark.createDataFrame(rows, "id long, namespace string, s string")
    create_partitioned_table(spark, df, t, key="id")
    rels = live_segments(t)
    assert len(rels) == 40  # >= 32: create used the distributed path
    footer = _segment_key_stats(t, rels, "id")  # spark=None: footer walk
    dist = _segment_key_stats_distributed(spark, t, rels, "id")
    assert dist == footer
    assert len(dist) == 40
    # String keys agree too.
    assert _segment_key_stats_distributed(
        spark, t, rels, "s"
    ) == _segment_key_stats(t, rels, "s")
    # A partition whose keys are ALL null yields no entry on either path.
    t2 = str(tmp_path / "t2")
    rows2 = [(None, f"n{i % 3}") for i in range(30)] + [(7, "n0")]
    create_partitioned_table(
        spark,
        spark.createDataFrame(rows2, "id long, namespace string"),
        t2,
        key="id",
    )
    rels2 = live_segments(t2)
    f2 = _segment_key_stats(t2, rels2, "id")
    d2 = _segment_key_stats_distributed(spark, t2, rels2, "id")
    assert d2 == f2
    # Only n0 (the sole partition with a non-null key) has stats.
    assert len(d2) == 1
    # Complex key types: both paths conservatively emit nothing.
    t3 = str(tmp_path / "t3")
    create_partitioned_table(
        spark,
        spark.createDataFrame(
            [([1.0, 2.0], "a")], "v array<double>, namespace string"
        ),
        t3,
        key="v",
    )
    rels3 = live_segments(t3)
    assert _segment_key_stats_distributed(spark, t3, rels3, "v") == {}
    assert _segment_key_stats(t3, rels3, "v") == {}


def test_small_commit_null_key_file_keeps_other_segments_stats(
    spark, tmp_path
):
    """A SMALL (<32-segment) commit takes the serial footer walk; a
    segment containing an all-null-key part file must not lose its
    min/max (the all-null row group contributes nothing — skip it, do
    not poison the segment), and sibling segments keep theirs.
    Regression for VERDICT r7 What's-wrong #1: before the fix, keyed
    rewrites over two layouts of the same table pruned differently."""
    from conversation_with_vector_db_spark.sources.transactional import (
        _segment_key_stats,
        create_partitioned_table,
        live_segments,
    )

    t = str(tmp_path / "small")
    # 3 partitions (< 32 -> footer path). n0 mixes many null-key rows
    # (several all-null part files under local[32]) with one id=7;
    # n1 is clean; n2 is ALL null keys.
    rows = (
        [(None, "n0") for _ in range(40)]
        + [(7, "n0")]
        + [(i, "n1") for i in range(10, 15)]
        + [(None, "n2") for _ in range(5)]
    )
    create_partitioned_table(
        spark,
        spark.createDataFrame(rows, "id long, namespace string"),
        t,
        key="id",
    )
    rels = live_segments(t)
    assert len(rels) == 3
    stats = _segment_key_stats(t, rels, "id")
    by_part = {r.split("/")[-1].split("=")[-1]: s
               for r, s in stats.items()}
    # n0's mixed files yield the lone non-null key's range; n1 is
    # intact; n2 (nothing non-null) is omitted on both paths.
    assert set(by_part) == {"n0", "n1"}
    assert by_part["n0"] == {"col": "id", "min": 7, "max": 7}
    assert by_part["n1"] == {"col": "id", "min": 10, "max": 14}


@pytest.mark.heavy
def test_random_op_sequences_match_dict_model(spark, tmp_path):
    """Model-based randomized exerciser of the transactional table: a
    seeded 24-step walk of append / upsert / scoped-delete /
    drop-partition / compact ops, mirrored in a plain dict model.
    After EVERY op the table must read back exactly the model —
    including null-key filler rows (exercising the all-null-chunk
    stats path under real op sequences) — and at the end, time travel
    at three recorded versions must reproduce the model AS OF each
    commit. Single-op semantics are pinned by the dedicated tests;
    this pins that arbitrary COMPOSITIONS never drift (lost rows,
    resurrections, duplicate identities)."""
    import random

    from conversation_with_vector_db_spark.sources.snapshot_log import (
        compact_snapshots,
    )

    rng = random.Random(20260814)
    t = str(tmp_path / "model_walk")
    ns_of = lambda i: f"n{i % 4}"  # noqa: E731 - one fixed identity map

    # model: (ns, id) -> val for keyed rows; null-key rows as a
    # multiset of (ns, val) markers.
    model: dict[tuple[str, int], str] = {
        (ns_of(i), i): f"v{i}" for i in range(40)
    }
    nulls: list[tuple[str, str]] = []
    next_id = 40

    def df_of(rows):
        return spark.createDataFrame(
            rows, "id long, namespace string, val string"
        )

    create_partitioned_table(
        spark,
        df_of([(i, ns, v) for (ns, i), v in model.items()]),
        t,
        key="id",
    )

    def read_back():
        got = read_table(spark, t).collect()
        keyed = {
            (r["namespace"], r["id"]): r["val"]
            for r in got
            if r["id"] is not None
        }
        got_nulls = sorted(
            (r["namespace"], r["val"]) for r in got if r["id"] is None
        )
        return keyed, got_nulls

    history = []  # (version, keyed-model snapshot, nulls snapshot)
    for step in range(24):
        op = rng.choices(
            ["append", "upsert", "delete", "drop", "compact"],
            weights=[3, 5, 3, 1, 2],
        )[0]
        if op == "append":
            n_new = rng.randint(1, 6)
            rows = []
            for _ in range(n_new):
                i = next_id
                next_id += 1
                rows.append((i, ns_of(i), f"a{step}-{i}"))
                model[(ns_of(i), i)] = f"a{step}-{i}"
            if rng.random() < 0.5:  # null-key filler rides along
                ns = ns_of(rng.randrange(4))
                rows.append((None, ns, f"null-{step}"))
                nulls.append((ns, f"null-{step}"))
            append_partitioned(spark, df_of(rows), t, key="id")
        elif op == "upsert":
            targets = set()
            for _ in range(rng.randint(1, 8)):
                if model and rng.random() < 0.6:
                    targets.add(rng.choice(sorted(model))[1])
                else:
                    targets.add(next_id)
                    next_id += 1
            rows = [
                (i, ns_of(i), f"u{step}-{i}") for i in sorted(targets)
            ]
            for i, ns, v in rows:
                model[(ns, i)] = v
            upsert_by_key(spark, t, df_of(rows), key="id")
        elif op == "delete":
            if len(model) <= 5:
                continue
            picks = rng.sample(sorted(model), rng.randint(1, 4))
            ids = spark.createDataFrame(
                [(i, ns) for ns, i in picks],
                "id long, namespace string",
            )
            for pk in picks:
                del model[pk]
            delete_by_key(spark, t, ids, key="id")
        elif op == "drop":
            # Never drop n0 so the table can't go fully empty.
            ns = f"n{rng.randint(1, 3)}"
            drop_partition(spark, t, "namespace", ns)
            model = {pk: v for pk, v in model.items() if pk[0] != ns}
            nulls = [(n, v) for n, v in nulls if n != ns]
        else:
            compact_snapshots(spark, t)
        keyed, got_nulls = read_back()
        assert keyed == model, f"step {step} ({op}): keyed rows drifted"
        assert got_nulls == sorted(nulls), (
            f"step {step} ({op}): null-key rows drifted"
        )
        history.append((latest_version(t), dict(model), sorted(nulls)))

    # Time travel: three random recorded commits read back AS OF.
    for version, keyed_then, nulls_then in rng.sample(history, 3):
        got = read_table(spark, t, version=version).collect()
        keyed = {
            (r["namespace"], r["id"]): r["val"]
            for r in got
            if r["id"] is not None
        }
        got_nulls = sorted(
            (r["namespace"], r["val"]) for r in got if r["id"] is None
        )
        assert keyed == keyed_then
        assert got_nulls == nulls_then


def test_writers_racing_compactor_lose_nothing(spark, tmp_path):
    """Chaos composition: three writers each landing a stream of keyed
    upserts into their own namespace while a compactor repeatedly
    bin-packs the same table. Every upsert must land exactly once and
    the final table must equal the model — compaction is a rewrite
    commit, so it conflicts with every concurrent writer; the losers
    (either side) must re-plan from the new head, never double-fold,
    drop, or resurrect a row. Writers wrap in the documented
    caller-retry loop for the rare case a commit exhausts its internal
    re-plans under this much contention."""
    import random

    from conversation_with_vector_db_spark.sources.snapshot_log import (
        CommitConflictError,
        compact_snapshots,
    )

    t = str(tmp_path / "chaos")
    model = {(f"n{i % 3}", i): f"v{i}" for i in range(30)}
    create_partitioned_table(
        spark,
        spark.createDataFrame(
            [(i, ns, v) for (ns, i), v in model.items()],
            "id long, namespace string, val string",
        ),
        t,
        key="id",
    )
    errors: list[Exception] = []

    def writer(w):
        rng = random.Random(w)
        try:
            for step in range(3):
                i = 1000 * (w + 1) + step
                rows = [(i, f"n{w}", f"w{w}-{step}")]
                if rng.random() < 0.5 and step > 0:  # overwrite own key
                    j = 1000 * (w + 1)
                    rows.append((j, f"n{w}", f"w{w}-over-{step}"))
                for attempt in range(3):
                    try:
                        upsert_by_key(
                            spark,
                            t,
                            spark.createDataFrame(
                                rows,
                                "id long, namespace string, val string",
                            ),
                            key="id",
                        )
                        break
                    except CommitConflictError:
                        if attempt == 2:
                            raise
                for i2, ns, v in rows:
                    model_updates.append(((ns, i2), v))
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    def compactor():
        try:
            for _ in range(2):
                compact_snapshots(spark, t)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    model_updates: list[tuple[tuple[str, int], str]] = []
    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(3)
    ] + [threading.Thread(target=compactor)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    # Per-writer updates are sequential, so applying each writer's
    # updates in its own order (list order preserves it) is the model.
    for pk, v in model_updates:
        model[pk] = v
    got = {
        (r["namespace"], r["id"]): r["val"]
        for r in read_table(spark, t).collect()
    }
    assert got == model


@pytest.mark.heavy
def test_mor_random_walk_matches_dict_model(spark, tmp_path):
    """Merge-on-read model walk: a seeded sequence of change-log
    upsert/delete batches (monotone _seq) interleaved with
    compact_change_log folds. After every step `read_merge_on_read`
    must equal the dict model (later seq wins, deletes drop the
    identity), compaction must not change the observable state — only
    the physical layout — and a time-travel MOR read at a recorded
    version must reproduce the model as of that commit."""
    import random

    rng = random.Random(88)
    t = str(tmp_path / "mor_walk")
    ns_of = lambda i: f"n{i % 3}"  # noqa: E731

    model = {(ns_of(i), i): i * 10 for i in range(30)}
    create_partitioned_table(
        spark,
        spark.createDataFrame(
            [(i, ns, v) for (ns, i), v in model.items()],
            "id long, namespace string, val long",
        ),
        t,
    )

    def mor_state():
        got = read_merge_on_read(spark, t, key="id").collect()
        return {(r["namespace"], r["id"]): r["val"] for r in got}

    history = []
    next_id, seq = 30, 0
    for step in range(18):
        op = rng.choices(
            ["upsert", "delete", "compact"], weights=[5, 3, 2]
        )[0]
        if op == "upsert":
            seq += 1
            rows = []
            for _ in range(rng.randint(1, 5)):
                if model and rng.random() < 0.5:
                    ns, i = rng.choice(sorted(model))
                else:
                    i = next_id
                    next_id += 1
                    ns = ns_of(i)
                rows.append((i, ns, 1000 * seq + i))
            # Make rows identity-unique within the batch so one seq
            # has one winner per identity and the model is unambiguous.
            rows = list({(r[0], r[1]): r for r in rows}.values())
            for i, ns, v in rows:
                model[(ns, i)] = v
            append_change_segment(
                spark,
                spark.createDataFrame(
                    rows, "id long, namespace string, val long"
                ),
                t,
                op="upsert",
                seq=seq,
            )
        elif op == "delete":
            if len(model) <= 4:
                continue
            seq += 1
            picks = rng.sample(sorted(model), rng.randint(1, 3))
            rows = [(i, ns, None) for ns, i in picks]
            for pk in picks:
                del model[pk]
            append_change_segment(
                spark,
                spark.createDataFrame(
                    rows, "id long, namespace string, val long"
                ),
                t,
                op="delete",
                seq=seq,
            )
        else:
            compact_change_log(spark, t, key="id")
        assert mor_state() == model, f"step {step} ({op}) drifted"
        history.append((latest_version(t), dict(model)))

    for version, model_then in rng.sample(history, 3):
        got = read_merge_on_read(spark, t, key="id", version=version)
        state = {
            (r["namespace"], r["id"]): r["val"] for r in got.collect()
        }
        assert state == model_then


class TestBloomSidecars:
    """Per-segment Bloom sidecars (the Delta bloom-filter-index move
    at segment granularity): point-lookup pruning where min/max
    ranges provably cannot help — interleaved keys put every segment
    inside every other's range."""

    def _interleaved_store(self, spark, tmp_path, bloom_bits=4096):
        """Two same-namespace segments with fully overlapping key
        ranges: evens 0..198 then odds 1..199."""
        t = str(tmp_path / "tb")
        evens = spark.range(0, 100).select(
            (F.col("id") * 2).alias("vec_id"),
            F.lit(0).cast("int").alias("label"),
            F.lit(0).cast("int").alias("namespace"),
        )
        odds = spark.range(0, 100).select(
            (F.col("id") * 2 + 1).alias("vec_id"),
            F.lit(0).cast("int").alias("label"),
            F.lit(0).cast("int").alias("namespace"),
        )
        create_partitioned_table(
            spark, evens, t, key="vec_id", bloom_bits=bloom_bits
        )
        append_partitioned(
            spark, odds, t, key="vec_id", bloom_bits=bloom_bits
        )
        return t

    def test_no_false_negatives_and_range_overlap(self, spark, tmp_path):
        """Every present key probes positive (hash identity between
        the Spark build and the driver probe), and the fixture really
        defeats range pruning (ranges overlap)."""
        from conversation_with_vector_db_spark.sources.snapshot_log import (
            segment_stats,
        )
        from conversation_with_vector_db_spark.sources.transactional import (
            _bloom_contains,
            _stats_may_match,
        )

        t = self._interleaved_store(spark, tmp_path)
        stats = segment_stats(t)
        assert all("bloom" in s for s in stats.values())
        evens_seg = next(s for s, st in stats.items() if st["min"] == 0)
        odds_seg = next(s for s, st in stats.items() if st["min"] == 1)
        # Ranges overlap: min/max alone cannot prune either side.
        assert _stats_may_match(stats[evens_seg], "vec_id", 3, 3)
        assert _stats_may_match(stats[odds_seg], "vec_id", 2, 2)
        for k in range(0, 200, 2):
            assert _bloom_contains(stats[evens_seg]["bloom"], k)
        for k in range(1, 200, 2):
            assert _bloom_contains(stats[odds_seg]["bloom"], k)

    def test_upsert_bloom_prunes_same_range_segment(self, spark, tmp_path):
        """Upserting two EVEN keys must leave the odd segment live,
        unread, and byte-identical — proven by corrupting its files
        first (any read would kill the job)."""
        import glob

        from conversation_with_vector_db_spark.sources.snapshot_log import (
            segment_stats,
        )

        t = self._interleaved_store(spark, tmp_path)
        stats = segment_stats(t)
        odds_seg = next(s for s, st in stats.items() if st["min"] == 1)
        odd_files = glob.glob(os.path.join(t, odds_seg, "*.parquet"))
        assert odd_files
        saved = {}
        for f in odd_files:
            with open(f, "rb") as fh:
                saved[f] = fh.read()
            with open(f, "wb") as fh:
                fh.write(b"corrupted: not parquet")
        updates = spark.createDataFrame(
            [(4, 999, 0), (150, 999, 0)],
            "vec_id long, label int, namespace int",
        )
        upsert_by_key(spark, t, updates, key="vec_id")
        assert odds_seg in live_segments(t)
        for f in odd_files:
            with open(f, "rb") as fh:
                assert fh.read() == b"corrupted: not parquet"
            with open(f, "wb") as fh:
                fh.write(saved[f])
        got = read_table(spark, t)
        assert got.count() == 200
        assert got.filter(F.col("label") == 999).count() == 2

    def test_delete_bloom_prunes_same_range_segment(self, spark, tmp_path):
        import glob

        from conversation_with_vector_db_spark.sources.snapshot_log import (
            segment_stats,
        )

        t = self._interleaved_store(spark, tmp_path)
        stats = segment_stats(t)
        evens_seg = next(s for s, st in stats.items() if st["min"] == 0)
        even_files = glob.glob(os.path.join(t, evens_seg, "*.parquet"))
        saved = {}
        for f in even_files:
            with open(f, "rb") as fh:
                saved[f] = fh.read()
            with open(f, "wb") as fh:
                fh.write(b"corrupted: not parquet")
        ids = spark.createDataFrame(
            [(3, 0), (151, 0)], "vec_id long, namespace int"
        )
        delete_by_key(spark, t, ids, key="vec_id")
        assert evens_seg in live_segments(t)
        for f in even_files:
            with open(f, "wb") as fh:
                fh.write(saved[f])
        got = read_table(spark, t)
        assert got.count() == 198
        assert got.filter(F.col("vec_id").isin(3, 151)).count() == 0

    def test_unbounded_probe_set_disables_bloom_pruning(
        self, spark, tmp_path
    ):
        """A probe set over the cap returns None and every segment
        stays a candidate — a truncated list would prune segments
        holding the uncollected keys (data loss)."""
        from conversation_with_vector_db_spark.sources.transactional import (
            _bloom_any_match,
            _collect_probe_keys,
        )

        df = spark.range(0, 50).select(F.col("id").alias("vec_id"))
        assert _collect_probe_keys(df, "vec_id", cap=10) is None
        keys = _collect_probe_keys(df, "vec_id", cap=64)
        assert sorted(keys) == list(range(50))
        # None (unbounded) is always conservative.
        assert _bloom_any_match(
            {"col": "vec_id", "bloom": {"m": 64, "k": 1, "words": {}}},
            "vec_id",
            None,
        )

    def test_bloom_correct_end_to_end_random_ops(self, spark, tmp_path):
        """Randomized sanity: interleave upserts/deletes of scattered
        keys against a dict model on a bloomed table — pruning must
        never change results."""
        import random

        rng = random.Random(7)
        t = self._interleaved_store(spark, tmp_path)
        model = {k: 0 for k in range(200)}
        for step in range(6):
            ks = rng.sample(range(200), 3)
            if step % 2 == 0:
                upd = spark.createDataFrame(
                    [(k, step + 10, 0) for k in ks],
                    "vec_id long, label int, namespace int",
                )
                upsert_by_key(spark, t, upd, key="vec_id")
                for k in ks:
                    model[k] = step + 10
            else:
                ids = spark.createDataFrame(
                    [(k, 0) for k in ks], "vec_id long, namespace int"
                )
                delete_by_key(spark, t, ids, key="vec_id")
                for k in ks:
                    model.pop(k, None)
        got = {
            r["vec_id"]: r["label"]
            for r in read_table(spark, t).collect()
        }
        assert got == model
