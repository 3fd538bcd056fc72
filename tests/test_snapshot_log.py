"""Transactional snapshot-log table format: multi-writer atomicity,
snapshot isolation, time travel, vacuum retention."""

from __future__ import annotations

import os
import threading

import pytest

from conversation_with_vector_db_spark.sources.snapshot_log import (
    CommitConflictError,
    _write_segment,
    append_snapshot,
    compact_snapshots,
    create_table,
    latest_version,
    live_segments,
    read_snapshot,
    rewrite_snapshot,
    vacuum,
    versions,
)


def _ids(df) -> list[int]:
    return sorted(r["id"] for r in df.collect())


def test_append_read_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    create_table(t)
    v1 = append_snapshot(spark.range(0, 10), t)
    v2 = append_snapshot(spark.range(10, 15), t)
    assert (v1, v2) == (1, 2)
    assert _ids(read_snapshot(spark, t)) == list(range(15))
    assert _ids(read_snapshot(spark, t, version=1)) == list(range(10))
    with pytest.raises(ValueError):
        read_snapshot(spark, t, version=0)  # empty table has no schema


def test_concurrent_appends_land_exactly_once(spark, tmp_path):
    """8 threads race 2 appends each through the CAS loop: every batch
    must land exactly once and the version sequence must be contiguous
    — the multi-writer guarantee bare parquet cannot give."""
    t = str(tmp_path / "t")
    create_table(t)
    errors = []

    def worker(i):
        try:
            append_snapshot(spark.range(i * 100, i * 100 + 10), t)
            append_snapshot(spark.range(i * 100 + 50, i * 100 + 60), t)
        except Exception as e:  # noqa: BLE001 - surfaced via errors
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    assert versions(t) == list(range(17))  # v0 + 16 appends
    expect = sorted(
        x
        for i in range(8)
        for x in (*range(i * 100, i * 100 + 10),
                  *range(i * 100 + 50, i * 100 + 60))
    )
    assert _ids(read_snapshot(spark, t)) == expect


def test_rewrite_conflict_is_detected(spark, tmp_path):
    """Two compactors planning against the same head: the second must
    fail with CommitConflictError, not double-fold the segments the
    first already rewrote."""
    t = str(tmp_path / "t")
    create_table(t)
    append_snapshot(spark.range(0, 5), t)
    append_snapshot(spark.range(5, 10), t)
    stale_plan = live_segments(t)  # both compactors read this head
    folded = read_snapshot(spark, t).coalesce(1)
    rewrite_snapshot(folded, t, remove=stale_plan)  # compactor A wins
    with pytest.raises(CommitConflictError):
        rewrite_snapshot(folded, t, remove=stale_plan)  # B must abort
    assert _ids(read_snapshot(spark, t)) == list(range(10))


def test_appends_survive_compaction(spark, tmp_path):
    """An append landing between a compactor's snapshot and its commit
    stays live: the rewrite's CAS re-derives the live set from the new
    head, removing only its own read set."""
    t = str(tmp_path / "t")
    create_table(t)
    append_snapshot(spark.range(0, 5), t)
    append_snapshot(spark.range(5, 10), t)
    planned = live_segments(t)
    folded = read_snapshot(spark, t).coalesce(1)
    append_snapshot(spark.range(10, 15), t)  # lands mid-compaction
    rewrite_snapshot(folded, t, remove=planned)
    assert _ids(read_snapshot(spark, t)) == list(range(15))
    assert len(live_segments(t)) == 2  # folded + the surviving append


def test_concurrent_compactors_preserve_data(spark, tmp_path):
    """Race two full compactors: at most one folds per head, losers
    re-plan or abort, and the table never loses or duplicates a row."""
    t = str(tmp_path / "t")
    create_table(t)
    for i in range(4):
        append_snapshot(spark.range(i * 10, i * 10 + 10), t)
    outcomes = []

    def compactor():
        try:
            outcomes.append(("ok", compact_snapshots(spark, t)))
        except CommitConflictError:
            outcomes.append(("conflict", None))

    threads = [threading.Thread(target=compactor) for _ in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert any(o[0] == "ok" for o in outcomes)
    assert _ids(read_snapshot(spark, t)) == list(range(40))


def test_compaction_binpacks_to_target_size(spark, tmp_path):
    """Above the size threshold the fold emits MULTIPLE output segments
    (the Iceberg binpack shape), never one coalesce(1) mega-segment:
    8 small appends with a target sized to hold ~2 of them must fold
    into >1 live segment, preserve every row, and leave each output
    under the target."""
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        _segment_bytes,
    )

    t = str(tmp_path / "t")
    create_table(t)
    for i in range(8):
        append_snapshot(spark.range(i * 10, i * 10 + 10).coalesce(1), t)
    sizes = [_segment_bytes(t, s) for s in live_segments(t)]
    target = max(sizes) * 2 + 2  # fits ~2 segments per bin
    compact_snapshots(spark, t, target_bytes=target)
    after = live_segments(t)
    assert 1 < len(after) < 8
    assert _ids(read_snapshot(spark, t)) == list(range(80))
    assert all(_segment_bytes(t, s) <= target for s in after)


def test_compaction_converges_and_spares_target_sized_segments(
    spark, tmp_path
):
    """A second compaction at the same target is a no-op version-wise
    (segments at/above target are never refolded), so repeated
    maintenance converges instead of rewriting the same bytes."""
    t = str(tmp_path / "t")
    create_table(t)
    for i in range(4):
        append_snapshot(spark.range(i * 10, i * 10 + 10).coalesce(1), t)
    big = live_segments(t)
    # Target below every segment's size: nothing is foldable.
    v_before = latest_version(t)
    assert compact_snapshots(spark, t, target_bytes=1) == v_before
    assert live_segments(t) == big
    # Fold-all, then re-run: the folded segment(s) are left alone.
    compact_snapshots(spark, t)
    v_after = latest_version(t)
    folded = live_segments(t)
    assert compact_snapshots(spark, t) == v_after
    assert live_segments(t) == folded
    assert _ids(read_snapshot(spark, t)) == list(range(40))


def test_uncommitted_segment_is_invisible_and_age_gated(spark, tmp_path):
    """A writer dying between its parquet write and its commit leaves
    an orphan: readers never see it, vacuum spares it while it could be
    an in-flight append, and reclaims it once past the age gate."""
    t = str(tmp_path / "t")
    create_table(t)
    append_snapshot(spark.range(0, 5), t)
    orphan = _write_segment(spark.range(100, 200), t)  # no commit
    assert _ids(read_snapshot(spark, t)) == list(range(5))
    assert vacuum(t, keep_versions=1) == []  # younger than the gate
    full = os.path.join(t, orphan)
    os.utime(full, (0, 0))  # forge old mtime on the segment dir
    assert vacuum(t, keep_versions=1) == [orphan]
    assert _ids(read_snapshot(spark, t)) == list(range(5))


def test_vacuum_keeps_time_travel_window(spark, tmp_path):
    t = str(tmp_path / "t")
    create_table(t)
    append_snapshot(spark.range(0, 5), t)       # v1
    append_snapshot(spark.range(5, 10), t)      # v2
    compact_snapshots(spark, t)                 # v3 folds v2's segments
    deleted = vacuum(t, keep_versions=2)
    assert versions(t) == [2, 3]
    assert _ids(read_snapshot(spark, t, version=2)) == list(range(10))
    assert _ids(read_snapshot(spark, t, version=3)) == list(range(10))
    assert deleted == []  # v2 and v3 together still reference all segs
    assert vacuum(t, keep_versions=1) != []  # dropping v2 frees its segs
    assert _ids(read_snapshot(spark, t)) == list(range(10))


def test_pinned_reader_unaffected_by_compaction(spark, tmp_path):
    """Snapshot isolation: a reader pinned before a compaction sees
    identical rows after it commits — segments are immutable and stay
    on disk until vacuumed past the retention window."""
    t = str(tmp_path / "t")
    create_table(t)
    append_snapshot(spark.range(0, 5), t)
    append_snapshot(spark.range(5, 10), t)
    pinned_v = latest_version(t)
    pinned = read_snapshot(spark, t, version=pinned_v)
    before = _ids(pinned)
    compact_snapshots(spark, t)
    append_snapshot(spark.range(10, 12), t)
    assert _ids(read_snapshot(spark, t, version=pinned_v)) == before
    assert _ids(pinned) == before  # the already-resolved plan too


def test_txn_append_is_idempotent_and_crash_safe(spark, tmp_path):
    """Streaming exactly-once through the log: a replayed (app, txn)
    append is skipped; a crash between the segment write and the
    manifest commit leaves an invisible orphan, and the replay lands
    the batch exactly once — no torn or doubled batch is observable at
    any point."""
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        append_snapshot_txn,
        last_txn_version,
    )

    t = str(tmp_path / "t")
    create_table(t)
    assert last_txn_version(t, "sink") is None
    assert append_snapshot_txn(spark.range(0, 5), t, "sink", 0) == 1
    # Replay of a committed batch: skipped, nothing doubled.
    assert append_snapshot_txn(spark.range(0, 5), t, "sink", 0) is None
    assert _ids(read_snapshot(spark, t)) == list(range(5))
    # Crash between data write and commit: the segment is invisible.
    orphan = _write_segment(spark.range(5, 10), t)
    assert _ids(read_snapshot(spark, t)) == list(range(5))
    assert orphan not in live_segments(t)
    # The replayed batch re-writes and commits exactly once.
    assert append_snapshot_txn(spark.range(5, 10), t, "sink", 1) == 2
    assert _ids(read_snapshot(spark, t)) == list(range(10))
    assert last_txn_version(t, "sink") == 1
    # Plain appends and other apps interleave without disturbing it.
    append_snapshot(spark.range(10, 12), t)
    assert append_snapshot_txn(spark.range(12, 14), t, "other", 7) == 4
    assert last_txn_version(t, "sink") == 1
    assert last_txn_version(t, "other") == 7


def test_txn_highwater_survives_checkpoint_and_vacuum(spark, tmp_path):
    """The per-app txn map rides checkpoint sidecars, so replay
    detection keeps working after the manifests that carried the txn
    records are vacuumed away."""
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        append_snapshot_txn,
        last_txn_version,
    )

    t = str(tmp_path / "t")
    create_table(t)
    for b in range(5):
        append_snapshot_txn(
            spark.range(b * 10, b * 10 + 10), t, "sink", b,
            checkpoint_interval=2,
        )
    vacuum(t, keep_versions=1)
    assert versions(t) == [5]
    assert last_txn_version(t, "sink") == 4
    # Replays of vacuumed-away batches are still recognized.
    assert append_snapshot_txn(spark.range(0, 10), t, "sink", 3) is None
    assert _ids(read_snapshot(spark, t)) == list(range(50))


def test_foreign_files_in_commit_log_are_ignored(spark, tmp_path):
    t = str(tmp_path / "t")
    create_table(t)
    append_snapshot(spark.range(0, 3), t)
    cdir = os.path.join(t, "_commits")
    for name in (".tmp-deadbeef", "README", "99999999.json.bak"):
        with open(os.path.join(cdir, name), "w") as f:
            f.write("{not json")
    assert versions(t) == [0, 1]
    assert _ids(read_snapshot(spark, t)) == [0, 1, 2]


def test_vacuum_reaps_aged_commit_tmp_files(spark, tmp_path):
    """A writer dying between its CAS link and tmp unlink leaves a tmp
    manifest: ignored by the version sequence, spared while young,
    reaped once past the age gate."""
    t = str(tmp_path / "t")
    create_table(t)
    append_snapshot(spark.range(0, 3), t)
    cdir = os.path.join(t, "_commits")
    stale = os.path.join(cdir, ".tmp-deadwriter")
    with open(stale, "w") as f:
        f.write('{"version": 99}')
    vacuum(t, keep_versions=1)
    assert os.path.exists(stale)  # younger than the gate
    os.utime(stale, (0, 0))
    vacuum(t, keep_versions=1)
    assert not os.path.exists(stale)
    assert versions(t) == [1]
    assert _ids(read_snapshot(spark, t)) == [0, 1, 2]


@pytest.mark.parametrize("ckpt_interval", [1, 2, 5, 16])
def test_append_survives_concurrent_aggressive_vacuum(
    spark, tmp_path, ckpt_interval
):
    """Appends racing a keep_versions=1 vacuum loop must neither crash
    on a reaped head manifest nor lose a batch — at every checkpoint
    cadence edge (every commit, every other, a prime, the default):
    the vacuum fence and the reconstruction-base walk must hold no
    matter where checkpoints land relative to the reaped window."""
    t = str(tmp_path / "t")
    create_table(t)
    append_snapshot(
        spark.range(0, 5), t, checkpoint_interval=ckpt_interval
    )
    stop = threading.Event()
    errors = []

    def vacuumer():
        while not stop.is_set():
            try:
                vacuum(t, keep_versions=1)
            except Exception as e:  # noqa: BLE001
                errors.append(e)

    th = threading.Thread(target=vacuumer)
    th.start()
    try:
        for i in range(1, 6):
            append_snapshot(
                spark.range(i * 10, i * 10 + 5), t,
                checkpoint_interval=ckpt_interval,
            )
    finally:
        stop.set()
        th.join()
    assert errors == []
    expect = sorted(
        x for i in range(6) for x in range(i * 10, i * 10 + 5)
    )
    assert _ids(read_snapshot(spark, t)) == expect


def test_version_rollover_past_eight_digits(spark, tmp_path):
    """{version:08d} grows to 9 digits at 10^8; the manifest pattern
    must accept it or every writer wedges at head 99999999 forever."""
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        _try_commit,
    )

    t = str(tmp_path / "t")
    create_table(t)
    append_snapshot(spark.range(0, 3), t)
    assert _try_commit(
        t,
        99999999,
        {
            "version": 99999999,
            "op": "append",
            "added": [],
            "removed": [],
            "live": live_segments(t, 1),
        },
    )
    assert latest_version(t) == 99999999
    assert append_snapshot(spark.range(3, 6), t) == 100000000
    assert latest_version(t) == 100000000
    assert _ids(read_snapshot(spark, t)) == [0, 1, 2, 3, 4, 5]


def test_rewrite_conflict_does_not_leak_segment(spark, tmp_path):
    """The loser of a rewrite race must delete its uncommitted
    replacement segment instead of stranding a table-sized orphan."""
    t = str(tmp_path / "t")
    create_table(t)
    append_snapshot(spark.range(0, 5), t)
    append_snapshot(spark.range(5, 10), t)
    stale = live_segments(t)
    folded = read_snapshot(spark, t).coalesce(1)
    rewrite_snapshot(folded, t, remove=stale)
    n_before = len(os.listdir(os.path.join(t, "data")))
    with pytest.raises(CommitConflictError):
        rewrite_snapshot(folded, t, remove=stale)
    assert len(os.listdir(os.path.join(t, "data"))) == n_before


@pytest.mark.parametrize("ckpt_interval", [1, 2, 5, 16])
def test_concurrent_vacuums_and_appends(spark, tmp_path, ckpt_interval):
    """Two vacuum loops racing each other AND a stream of appends:
    nobody may crash on the other's deletions, and no committed row may
    be lost — across checkpoint cadence edges (see the aggressive-
    vacuum test)."""
    t = str(tmp_path / "t")
    create_table(t)
    append_snapshot(
        spark.range(0, 5), t, checkpoint_interval=ckpt_interval
    )
    stop = threading.Event()
    errors = []

    def vacuumer():
        while not stop.is_set():
            try:
                vacuum(t, keep_versions=1)
            except Exception as e:  # noqa: BLE001
                errors.append(e)

    threads = [threading.Thread(target=vacuumer) for _ in range(2)]
    for th in threads:
        th.start()
    try:
        for i in range(1, 5):
            append_snapshot(
                spark.range(i * 10, i * 10 + 5), t,
                checkpoint_interval=ckpt_interval,
            )
    finally:
        stop.set()
        for th in threads:
            th.join()
    assert errors == []
    expect = sorted(
        x for i in range(5) for x in range(i * 10, i * 10 + 5)
    )
    assert _ids(read_snapshot(spark, t)) == expect


def test_stale_vacuum_keeps_segments_of_newer_commits(
    spark, tmp_path, monkeypatch
):
    """A vacuum whose version listing predates the latest commit (an
    append landed after it looked) must not delete that commit's
    segment, even though a newer checkpoint lists it: the race
    test_concurrent_vacuums_and_appends hits at random, made
    deterministic."""
    from conversation_with_vector_db_spark.sources import snapshot_log as sl

    t = str(tmp_path / "t")
    create_table(t)
    for i in range(3):
        append_snapshot(
            spark.range(i * 10, i * 10 + 5), t, checkpoint_interval=1
        )
    stale = sl.versions(t)[:-1]
    assert latest_version(t) in sl._checkpoint_versions(t)
    monkeypatch.setattr(sl, "versions", lambda table_dir: stale)
    vacuum(t, keep_versions=1)
    monkeypatch.undo()
    assert _ids(read_snapshot(spark, t)) == sorted(
        x for i in range(3) for x in range(i * 10, i * 10 + 5)
    )


# ---------------------------------------------------------------------------
# Delta-manifest + checkpoint shape (r5): commit cost is O(change)
# ---------------------------------------------------------------------------


def test_append_manifests_are_deltas_with_periodic_checkpoints(
    spark, tmp_path
):
    """Commit cost must not grow with the live segment count: append
    manifests carry only added/removed (no full live list), and a
    checkpoint sidecar appears exactly at interval multiples to bound
    reconstruction replay."""
    import json

    from conversation_with_vector_db_spark.sources.snapshot_log import (
        _checkpoint_versions,
        _manifest_path,
    )

    t = str(tmp_path / "t")
    create_table(t)
    for i in range(9):
        append_snapshot(spark.range(i * 10, i * 10 + 3), t,
                        checkpoint_interval=4)
    sizes = []
    for v in range(1, 10):
        with open(_manifest_path(t, v)) as f:
            m = json.load(f)
        assert "live" not in m, f"v{v} manifest embeds the full live set"
        assert len(m["added"]) == 1 and m["removed"] == []
        sizes.append(os.path.getsize(_manifest_path(t, v)))
    # Flat, not linear-in-segments: the 9th manifest may not exceed the
    # 1st by more than path-length jitter.
    assert max(sizes) - min(sizes) < 64
    assert _checkpoint_versions(t) == {4, 8}
    assert _ids(read_snapshot(spark, t)) == sorted(
        x for i in range(9) for x in range(i * 10, i * 10 + 3)
    )
    # Time travel reconstructs across a checkpoint boundary too.
    assert _ids(read_snapshot(spark, t, version=5)) == sorted(
        x for i in range(5) for x in range(i * 10, i * 10 + 3)
    )


def test_vacuum_fences_window_floor_with_checkpoint(spark, tmp_path):
    """Vacuum must install a checkpoint at the oldest retained version
    BEFORE reaping older manifests — otherwise the window floor becomes
    unreconstructible the moment its delta chain's tail dies."""
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        _checkpoint_versions,
    )

    t = str(tmp_path / "t")
    create_table(t)
    for i in range(5):
        append_snapshot(spark.range(i * 10, i * 10 + 3), t,
                        checkpoint_interval=0)  # no periodic ckpts
    vacuum(t, keep_versions=2)
    assert versions(t) == [4, 5]
    assert 4 in _checkpoint_versions(t)
    assert _ids(read_snapshot(spark, t, version=4)) == sorted(
        x for i in range(4) for x in range(i * 10, i * 10 + 3)
    )
    assert _ids(read_snapshot(spark, t, version=5)) == sorted(
        x for i in range(5) for x in range(i * 10, i * 10 + 3)
    )
    # A later vacuum reaps checkpoints that fell below the new floor.
    append_snapshot(spark.range(100, 103), t, checkpoint_interval=0)
    vacuum(t, keep_versions=1)
    assert _checkpoint_versions(t) == {6}
    assert versions(t) == [6]
    expect = sorted(
        [x for i in range(5) for x in range(i * 10, i * 10 + 3)]
        + [100, 101, 102]
    )
    assert _ids(read_snapshot(spark, t)) == expect


def test_concurrent_appends_across_checkpoint_boundaries(spark, tmp_path):
    """The 16-append race crossing several checkpoint versions: winners
    of interval versions publish checkpoints while other appends still
    commit; every batch lands exactly once and reconstruction from any
    checkpoint matches."""
    t = str(tmp_path / "t")
    create_table(t)
    errors = []

    def worker(i):
        try:
            for j in range(2):
                append_snapshot(
                    spark.range(i * 100 + j * 50, i * 100 + j * 50 + 5),
                    t,
                    checkpoint_interval=4,
                )
        except Exception as e:  # noqa: BLE001 - surfaced via errors
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    assert versions(t) == list(range(17))
    expect = sorted(
        x
        for i in range(8)
        for j in range(2)
        for x in range(i * 100 + j * 50, i * 100 + j * 50 + 5)
    )
    assert _ids(read_snapshot(spark, t)) == expect
    # Every interval version that got a checkpoint reconstructs to the
    # same rows as delta replay (checkpoint content is authoritative).
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        _checkpoint_versions,
    )

    assert {4, 8, 12, 16} <= _checkpoint_versions(t)
    for v in (4, 8, 12, 16):
        assert len(live_segments(t, v)) == v


def test_checkpoint_never_publishes_incomplete_txn_map(
    spark, tmp_path, monkeypatch
):
    """A checkpoint is a reconstruction BASE that stops the manifest
    walk — publishing one whose txn/stats reconstruction was cut short
    by a concurrent vacuum would permanently erase per-app replay
    high-water marks (a replayed streaming batch would double-append).
    The FileNotFoundError must propagate: _maybe_checkpoint skips,
    vacuum's fence retries its snapshot phase."""
    from conversation_with_vector_db_spark.sources import snapshot_log as sl

    t = str(tmp_path / "t")
    create_table(t)
    for b in range(3):
        sl.append_snapshot_txn(spark.range(b * 5, b * 5 + 5), t, "sink", b)

    def boom(table_dir, version):
        raise FileNotFoundError("vacuum raced the txn walk")

    monkeypatch.setattr(sl, "_collect_txns", boom)
    head = latest_version(t)
    with pytest.raises(FileNotFoundError):
        sl._write_checkpoint(t, head, live_segments(t, head))
    before = sl._checkpoint_versions(t)
    sl._maybe_checkpoint(t, head, interval=1)  # best-effort: skips
    assert sl._checkpoint_versions(t) == before
    monkeypatch.undo()
    # With the reconstruction healthy again the checkpoint publishes
    # and carries the COMPLETE txn map.
    sl._maybe_checkpoint(t, head, interval=1)
    assert head in sl._checkpoint_versions(t)
    assert sl.last_txn_version(t, "sink") == 2


def test_compaction_preserves_rows_with_percent_encoded_tags(
    spark, tmp_path
):
    """Partition tags that URL-quote (space, '=', '%') give segment
    names whose input_file_name() URI form matches NEITHER the raw nor
    the urllib-quoted name (Hadoop encodes '%' but not '='). The fold's
    group join must decode the URI name — an inner join on guessed
    encodings silently dropped these rows from the compacted table."""
    from conversation_with_vector_db_spark.sources.transactional import (
        append_partitioned,
        create_partitioned_table,
        read_table,
    )

    t = str(tmp_path / "t")
    tags = ["a b", "x=y", "100%", "plain"]
    rows = [(i, tags[i % 4]) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, namespace string")
    create_partitioned_table(spark, df, t)
    more = [(100 + i, tags[i % 4]) for i in range(40)]
    append_partitioned(
        spark, spark.createDataFrame(more, "id long, namespace string"), t
    )
    before = sorted(
        (r["id"], r["namespace"]) for r in read_table(spark, t).collect()
    )
    assert len(before) == 80
    live0 = live_segments(t)
    compact_snapshots(spark, t)
    assert len(live_segments(t)) < len(live0)
    after = sorted(
        (r["id"], r["namespace"]) for r in read_table(spark, t).collect()
    )
    assert after == before


def test_table_meta_newest_wins_and_survives_vacuum(spark, tmp_path):
    """Manifest meta (the Delta metaData-action shape): the newest
    commit wins per key, time travel reads the value effective at its
    version, and the map rides checkpoint sidecars so it survives the
    manifests that carried it being vacuumed away."""
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        commit_segments,
        table_meta,
    )

    t = str(tmp_path / "t")
    create_table(t)
    s1 = _write_segment(spark.range(0, 5), t)
    v1 = commit_segments(t, added=[s1], removed=[], meta={"model": "A"})
    s2 = _write_segment(spark.range(5, 10), t)
    v2 = commit_segments(t, added=[s2], removed=[])  # no meta: carries
    s3 = _write_segment(spark.range(10, 15), t)
    v3 = commit_segments(
        t, added=[s3], removed=[], meta={"model": "B", "extra": 1}
    )
    assert table_meta(t, v1) == {"model": "A"}
    assert table_meta(t, v2) == {"model": "A"}
    assert table_meta(t) == {"model": "B", "extra": 1}
    vacuum(t, keep_versions=1)
    assert versions(t) == [v3]
    assert table_meta(t) == {"model": "B", "extra": 1}
    # Another meta-less commit after the vacuum still sees the carry
    # through the fence checkpoint.
    s4 = _write_segment(spark.range(15, 20), t)
    v4 = commit_segments(t, added=[s4], removed=[])
    assert table_meta(t, v4) == {"model": "B", "extra": 1}


def test_table_history_surfaces_txn_meta_and_vacuumed_rows(
    spark, tmp_path
):
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        append_snapshot_txn,
        commit_segments,
        create_table,
        table_history,
        _write_segment,
    )

    t = str(tmp_path / "hist_t")
    create_table(t)
    df = spark.createDataFrame([(1,)], "id: long")
    append_snapshot_txn(df, t, app="etl", txn_version=7)
    rel = _write_segment(df, t)
    commit_segments(
        t, added=[rel], removed=[], op="append", meta={"k": "v"}
    )
    hist = {
        r["version"]: r for r in table_history(spark, t).collect()
    }
    assert hist[1]["txn_app"] == "etl"
    assert hist[1]["txn_version"] == 7
    assert hist[2]["has_meta"] is True
    assert hist[2]["txn_app"] is None
    # A reaped manifest degrades to a NULL-op row, not a failure.
    import os

    from conversation_with_vector_db_spark.sources.snapshot_log import (
        _manifest_path,
    )

    os.unlink(_manifest_path(t, 1))
    hist2 = {
        r["version"]: r for r in table_history(spark, t).collect()
    }
    # A fully reaped version drops out of the listing entirely (the
    # NULL-op row covers only the list-then-read race); the rest of
    # the audit stays intact.
    assert 1 not in hist2
    assert hist2[2]["op"] == "append"
