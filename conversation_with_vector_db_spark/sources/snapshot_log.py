"""Minimal transactional table format on bare parquet — the commit
layer under :mod:`.transactional`, the engine's only table writer
(keyed upserts/deletes, partition drops, the merge-on-read change log
and its compaction all commit here).

Design (the Delta/Iceberg core, re-expressed in ~200 lines):

* A table is a directory of IMMUTABLE data segments (each one Spark
  parquet write to a fresh UUID path) plus a ``_commits/`` log of
  numbered manifest files. Manifest N is a DELTA — only the segments
  this commit ``added``/``removed`` — so commit cost is O(change), not
  O(live segments): at millions of segments (100 TB) an append writes
  a ~200-byte manifest, never a rewrite of the whole segment list.
  The live set at version N is reconstructed by replaying deltas
  forward from the nearest BASE at or below N: version 0's create
  manifest (which embeds ``live: []``), any manifest that embeds a
  full ``live`` list, or a ``NNNNNNNN.ckpt.json`` checkpoint sidecar.
  Checkpoints are written every ``CHECKPOINT_INTERVAL`` commits (and
  by vacuum at the oldest retained version before older manifests are
  dropped), bounding replay length — exactly Delta Lake's
  delta-JSON + periodic-checkpoint shape.
* A segment is VISIBLE only once a committed manifest references it,
  so a writer dying after its parquet write but before its commit
  leaves an invisible orphan, never a torn table.
* Commit = publish manifest ``N+1`` with an atomic compare-and-swap:
  content is fully written to a temp file, then ``os.link``ed to the
  final numbered name. The link either materializes the COMPLETE
  manifest under the final name or fails ``EEXIST`` — no reader can
  observe a half-written manifest, and exactly one of any number of
  racing writers wins each version. (Object stores swap the hard link
  for a conditional put / if-none-match; HDFS for create-exclusive.)
* Losers RETRY against the new head: appends always commute (replay =
  new live set + my segment); rewrites revalidate that every segment
  they intend to remove is still live — if a concurrent rewrite took
  one first, the retry fails with :class:`CommitConflictError` instead
  of resurrecting or double-folding data. Appends that landed during a
  rewrite survive it (they're in the new head's live set).
* Readers pin a version: ``read_snapshot`` resolves the manifest once
  and reads exactly those immutable segments, so a concurrent
  compaction (rewrite + vacuum of UNREFERENCED segments) never changes
  or tears a running query — snapshot isolation by construction.
  Older manifests remain readable (time travel) until vacuumed.

Scale posture: the commit path touches only manifests — and with delta
manifests an APPEND writes O(1) bytes and reads NO prior manifest
(just a directory listing for the head version), so commit cost stays
flat as the table grows; rewrites replay at most
``CHECKPOINT_INTERVAL`` deltas to validate their remove set. Data
movement stays in Spark jobs; nothing here ever reads data rows on the
driver. Concurrency tests in tests/test_snapshot_log.py race real
threads through append/rewrite/vacuum; PLANS.md "Snapshot log: O(1)
commits" records commit bytes vs segment count for the delta vs
full-manifest shapes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "CHECKPOINT_INTERVAL",
    "CommitConflictError",
    "append_snapshot",
    "append_snapshot_txn",
    "commit_segments",
    "compact_snapshots",
    "create_table",
    "last_txn_version",
    "latest_version",
    "live_segments",
    "read_segments",
    "read_snapshot",
    "recorded_schema",
    "restore_table",
    "rewrite_snapshot",
    "segment_path",
    "segment_stats",
    "table_meta",
    "table_state",
    "version_at_timestamp",
    "vacuum",
    "versions",
]

_COMMITS = "_commits"
_DATA = "data"
# 8+ digits, not exactly 8: ``{version:08d}`` grows past 8 digits at
# version 10^8 and an exact-width match would silently wedge the table
# there (every writer re-reading head 99999999 forever). Delta pads to
# 20 for the same reason.
_MANIFEST_RE = re.compile(r"^(\d{8,})\.json$")
_CKPT_RE = re.compile(r"^(\d{8,})\.ckpt\.json$")

#: Write a full-live-set checkpoint sidecar every this many commits.
#: Bounds live-set reconstruction (and a rewrite's validation replay)
#: to at most this many delta reads; appends never replay at all.
#: Delta Lake's equivalent knob defaults to 10.
CHECKPOINT_INTERVAL = 16


class CommitConflictError(RuntimeError):
    """A concurrent commit invalidated this transaction's read set: a
    segment this rewrite meant to remove is no longer live (another
    rewrite folded it first). Retrying blindly would double-fold or
    resurrect rows; the caller must re-plan from the current head."""


def is_missing_file_error(e: BaseException) -> bool:
    """True when ``e`` reports a file or path that no longer exists —
    how a segment vacuumed between a writer's planning and its Spark
    action surfaces: ``FileNotFoundError`` on the driver, an
    AnalysisException (``[PATH_NOT_FOUND]``) while the scan resolves,
    or an executor's ``[FAILED_READ_FILE.FILE_NOT_EXIST]`` inside a
    Py4JJavaError. A writer seeing it re-plans from the new head."""
    msg = str(e)
    return (
        isinstance(e, FileNotFoundError)
        or "AnalysisException" in type(e).__name__
        or any(
            m in msg
            for m in ("PATH_NOT_FOUND", "FILE_NOT_EXIST", "does not exist")
        )
    )


def _commits_dir(table_dir: str) -> str:
    return os.path.join(table_dir, _COMMITS)


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(_commits_dir(table_dir), f"{version:08d}.json")


def _ckpt_path(table_dir: str, version: int) -> str:
    return os.path.join(
        _commits_dir(table_dir), f"{version:08d}.ckpt.json"
    )


def create_table(table_dir: str) -> None:
    """Initialize an empty table (version 0, no segments). Version 0's
    manifest embeds ``live: []`` — the guaranteed reconstruction base
    until the first vacuum installs a younger checkpoint."""
    os.makedirs(_commits_dir(table_dir), exist_ok=True)
    os.makedirs(os.path.join(table_dir, _DATA), exist_ok=True)
    _try_commit(
        table_dir,
        0,
        {"version": 0, "op": "create", "ts": time.time(),
         "added": [], "removed": [], "live": []},
    )


def versions(table_dir: str) -> list[int]:
    """Committed versions, ascending. Ignores foreign files — a torn
    tmp file or editor droppings in _commits/ must not corrupt the
    version sequence."""
    try:
        names = os.listdir(_commits_dir(table_dir))
    except (FileNotFoundError, NotADirectoryError):
        return []  # not a table (or a foreign FILE where a ref dir
        # was expected) — same posture as ignoring foreign files
    out = [int(m.group(1)) for n in names if (m := _MANIFEST_RE.match(n))]
    return sorted(out)


def latest_version(table_dir: str) -> int:
    vs = versions(table_dir)
    if not vs:
        raise FileNotFoundError(f"no snapshot table at {table_dir}")
    return vs[-1]


def _read_manifest(table_dir: str, version: int) -> dict:
    with open(_manifest_path(table_dir, version)) as f:
        return json.load(f)


def _checkpoint_versions(table_dir: str) -> set[int]:
    """Versions with a checkpoint sidecar. Foreign files ignored."""
    try:
        names = os.listdir(_commits_dir(table_dir))
    except FileNotFoundError:
        return set()
    return {int(m.group(1)) for n in names if (m := _CKPT_RE.match(n))}


def _apply_delta(live: list[str], manifest: dict) -> list[str]:
    removed = set(manifest.get("removed", ()))
    return [s for s in live if s not in removed] + list(
        manifest.get("added", ())
    )


def table_state(table_dir: str, version: int | None = None) -> dict:
    """The table at ``version`` (default: head) from ONE walk of its
    log: ``live`` segment paths, per-live-segment ``stats`` (see
    :func:`segment_stats`), the effective ``meta`` map (see
    :func:`table_meta`) and the streaming ``txns`` map (see
    :func:`last_txn_version`).

    Reconstruction: walk committed versions DOWN from ``version`` until
    a base — a checkpoint sidecar, or a manifest embedding a full
    ``live`` list (v0's create; old-format manifests; a branch's fork)
    — then replay the collected deltas UP. Replay length is bounded by
    ``CHECKPOINT_INTERVAL``. A manifest or checkpoint reaped by a
    concurrent vacuum mid-walk surfaces as :class:`FileNotFoundError`,
    which every caller's retry loop already re-resolves from the new
    head (a vacuum only reaps manifests it has fenced with a younger
    checkpoint, so a retry always finds a complete chain)."""
    if version is None:
        version = latest_version(table_dir)
    vs = versions(table_dir)
    if version not in set(vs):
        raise FileNotFoundError(_manifest_path(table_dir, version))
    ckpts = _checkpoint_versions(table_dir)
    deltas: list[dict] = []
    for u in reversed([v for v in vs if v <= version]):
        if u in ckpts:
            try:
                with open(_ckpt_path(table_dir, u)) as f:
                    base = json.load(f)
                break
            except FileNotFoundError:
                pass  # vacuumed between listing and read; use manifest
        m = _read_manifest(table_dir, u)  # FileNotFoundError -> caller
        if "live" in m:
            # A base manifest: its own meta and txn apply on top.
            base = {"live": m["live"], "stats": m.get("stats", {})}
            deltas.append({k: m[k] for k in ("meta", "txn") if k in m})
            break
        deltas.append(m)
    else:
        # The walk ran past the oldest surviving manifest without
        # finding a base: a concurrent vacuum reaped the chain tail
        # under us. Its fence guarantees the NEW head window is
        # complete — report as the retryable condition it is.
        raise FileNotFoundError(
            f"no reconstruction base at or below v{version} "
            f"of {table_dir}"
        )
    live = list(base["live"])
    stats = dict(base.get("stats", {}))
    meta = dict(base.get("meta", {}))
    txns = dict(base.get("txns", {}))
    for d in reversed(deltas):
        live = _apply_delta(live, d)
        for rel in d.get("removed", ()):
            stats.pop(rel, None)
        stats.update(d.get("stats", {}))
        meta.update(d.get("meta", {}))  # newest commit wins per key
        if t := d.get("txn"):
            app, tv = str(t["app"]), int(t["version"])
            txns[app] = max(txns.get(app, tv), tv)
    return {"live": live, "stats": stats, "meta": meta, "txns": txns}


def live_segments(table_dir: str, version: int | None = None) -> list[str]:
    """Relative segment paths live at ``version`` (default: head)."""
    return table_state(table_dir, version)["live"]


def _collect_txns(table_dir: str, version: int) -> dict[str, int]:
    """Latest streaming-transaction version per app id at ``version``
    (Delta's ``txnAppId``/``txnVersion`` idempotent-write map)."""
    return table_state(table_dir, version)["txns"]


def last_txn_version(
    table_dir: str, app: str, version: int | None = None
) -> int | None:
    """Latest committed transaction version for ``app`` (None if the
    app never committed) — the replay-detection read of
    :func:`append_snapshot_txn`."""
    if version is None:
        version = latest_version(table_dir)
    return _collect_txns(table_dir, version).get(app)


def table_meta(table_dir: str, version: int | None = None) -> dict:
    """Effective table metadata at ``version`` — the newest value per
    key across commits carrying a ``meta`` map (Delta's metaData-action
    shape: a commit can atomically publish a pointer, e.g. an ANN
    index's centroid-model sidecar, WITH the data it describes)."""
    return table_state(table_dir, version)["meta"]


#: Meta key holding the table's RECORDED schema: a JSON list of
#: ``{name, type}`` in column order, ``type`` in quoted DDL. Written by
#: the creating commit and by every commit that widens the table;
#: resolved newest-wins like any meta key, so each version reads with
#: the schema it had. Tables that record nothing (bare
#: :func:`create_table` + :func:`append_snapshot`) read by inference.
SCHEMA_KEY = "schema"


class SchemaEvolutionError(ValueError):
    pass


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _ddl(t: T.DataType) -> str:
    """``t`` as DDL that parses back to ``t`` whatever its field names:
    nested names are back-quoted (``simpleString`` leaves them bare)."""
    if isinstance(t, T.StructType):
        return "struct<" + ",".join(
            f"{_quote(f.name)}:{_ddl(f.dataType)}" for f in t.fields
        ) + ">"
    if isinstance(t, T.ArrayType):
        return f"array<{_ddl(t.elementType)}>"
    if isinstance(t, T.MapType):
        return f"map<{_ddl(t.keyType)},{_ddl(t.valueType)}>"
    return t.simpleString()


def _fields_of(schema: T.StructType) -> list[dict]:
    return [{"name": f.name, "type": _ddl(f.dataType)} for f in schema.fields]


def schema_ddl(fields: list[dict]) -> str:
    return ", ".join(f"{_quote(f['name'])} {f['type']}" for f in fields)


def declared_struct(fields: list[dict]) -> T.StructType:
    return T.StructType.fromDDL(schema_ddl(fields))


def recorded_schema(
    table_dir: str, version: int | None = None
) -> list[dict] | None:
    """The [{name, type}] list the table recorded at ``version``, None
    for a table that records none (its schema is its segments')."""
    return fields_in(table_meta(table_dir, version))


def fields_in(meta: dict) -> list[dict] | None:
    """The recorded fields a ``meta`` map carries, if any."""
    raw = meta.get(SCHEMA_KEY)
    return json.loads(raw) if raw is not None else None


def evolve_fields(
    old: list[dict], new: list[dict]
) -> tuple[list[dict], bool]:
    """Merged field list (old order, new columns appended) and
    whether anything changed. A type conflict on an existing column
    fails closed. Records written before types were quoted compare by
    their parsed type."""
    by_name = {f["name"]: f["type"] for f in old}
    for f in new:
        t = by_name.get(f["name"])
        if (
            t is not None
            and t != f["type"]
            and _ddl(declared_struct([{"name": "c", "type": t}])[0].dataType)
            != f["type"]
        ):
            raise SchemaEvolutionError(
                f"column {f['name']!r} is {t}, write carries "
                f"{f['type']} — type changes require an explicit "
                "rewrite, not evolution"
            )
    added = [f for f in new if f["name"] not in by_name]
    return old + added, bool(added)


def segment_stats(
    table_dir: str, version: int | None = None
) -> dict[str, dict]:
    """Per-LIVE-segment column stats at ``version`` — the Iceberg
    manifest-column-stats move: commits may record
    ``{rel: {"col": name, "min": v, "max": v}}`` for their added
    segments, and keyed rewrites use the map to skip segments whose
    key range cannot intersect the mutation (sub-partition pruning at
    the SEGMENT LIST, before any file opens). Segments committed
    without stats are simply absent — callers must treat unknown as
    "may match"; a removed segment drops its stats."""
    return table_state(table_dir, version)["stats"]


def _write_checkpoint(
    table_dir: str, version: int, live: list[str],
) -> None:
    """Publish a full-live-set checkpoint sidecar for ``version`` via
    the same tmp-then-hard-link CAS as manifests: readers never see a
    torn checkpoint, and concurrent writers of the SAME version race
    to identical content (any correct checkpoint at v has the same
    set), so the ``EEXIST`` loser just moves on. The sidecar also
    carries the per-app streaming-txn map so idempotent-replay state
    survives manifest vacuuming.

    A :class:`FileNotFoundError` from the txn/stats reconstruction
    (concurrent vacuum reaped manifests mid-walk) PROPAGATES rather
    than degrading to empty maps: a checkpoint is a reconstruction
    BASE that stops the manifest walk, so publishing one with an
    incomplete txn map would permanently erase per-app high-water
    marks — a replayed streaming batch would then see
    ``last_txn_version() is None`` and double-append, breaking
    exactly-once. Callers either retry the whole snapshot phase
    (vacuum's fence) or skip the best-effort checkpoint
    (:func:`_maybe_checkpoint`); neither may fence on a map that
    could be incomplete."""
    txns = _collect_txns(table_dir, version)
    state = table_state(table_dir, version)
    stats, meta = state["stats"], state["meta"]
    cdir = _commits_dir(table_dir)
    tmp = os.path.join(cdir, f".tmp-{uuid.uuid4().hex}")
    final = _ckpt_path(table_dir, version)
    with open(tmp, "w") as f:
        json.dump(
            {"version": version, "live": sorted(live), "txns": txns,
             "stats": stats, "meta": meta},
            f, sort_keys=True,
        )
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, final)
    except FileExistsError:
        pass
    finally:
        os.unlink(tmp)


def _maybe_checkpoint(
    table_dir: str,
    version: int,
    interval: int,
    live: list[str] | None = None,
) -> None:
    """After winning commit ``version``, publish a checkpoint when the
    interval divides it. Best-effort: the commit is already durable;
    a vacuum racing ahead of us (FileNotFoundError on reconstruction)
    just means a younger checkpoint exists, so ours is moot."""
    if interval <= 0 or version % interval != 0:
        return
    if live is None:
        try:
            live = live_segments(table_dir, version)
        except FileNotFoundError:
            return
    try:
        _write_checkpoint(table_dir, version, live)
    except FileNotFoundError:
        # txn/stats reconstruction raced a vacuum: skip rather than
        # publish a checkpoint with an incomplete txn map (which would
        # erase replay high-water marks — see _write_checkpoint).
        return


def _try_commit(table_dir: str, version: int, manifest: dict) -> bool:
    """Atomically publish ``manifest`` as ``version``. True on win,
    False when the version was already taken (caller re-reads head and
    retries). The temp file is fully written + flushed BEFORE the
    hard-link CAS, so the numbered name never exposes partial JSON."""
    cdir = _commits_dir(table_dir)
    tmp = os.path.join(cdir, f".tmp-{uuid.uuid4().hex}")
    final = _manifest_path(table_dir, version)
    with open(tmp, "w") as f:
        json.dump(manifest, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, final)
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)
    # The commit is acknowledged to the caller once we return True, so
    # the directory entry itself must be durable: fsync the _commits
    # directory, or a power cut after the ack could silently regress
    # the head to the previous version (rename/link durability requires
    # fsyncing the parent directory, not just the file contents).
    dfd = os.open(cdir, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)
    return True


def segment_path(table_dir: str, rel: str) -> str:
    """Absolute path of a segment. Normalized because branch refs
    (sources/branching.py) inherit parent segments through
    ``../../data/...`` relative entries, and Hadoop's ``Path`` does
    not resolve ``..`` components the way the local FS does."""
    return os.path.normpath(os.path.join(table_dir, rel))


def _write_segment(df: DataFrame, table_dir: str) -> str:
    """Write one immutable data segment; returns its relative path.
    Invisible until a committed manifest references it."""
    rel = os.path.join(_DATA, uuid.uuid4().hex)
    df.write.parquet(os.path.join(table_dir, rel))
    return rel


def commit_segments(
    table_dir: str,
    added: list[str],
    removed: list[str],
    op: str = "append",
    max_retries: int = 64,
    checkpoint_interval: int = CHECKPOINT_INTERVAL,
    txn: tuple[str, int] | None = None,
    stats: dict[str, dict] | None = None,
    meta: dict | None = None,
    pre_commit=None,
) -> int:
    """CAS-commit already-written segments as one atomic version: the
    primitive every write path shares (appends, keyed upserts/deletes,
    partition drops, MOR compactions — sources/transactional.py).
    ``stats`` optionally records per-added-segment key-column min/max
    (see :func:`segment_stats`); ``txn`` optionally tags the commit
    with a streaming (app, version) idempotence record; ``meta``
    optionally publishes table-metadata keys atomically with the
    commit (see :func:`table_meta`) — e.g. a centroid-model pointer
    that must never be observable without its assignment or vice
    versa; ``pre_commit(head)`` optionally runs per CAS attempt
    before publishing (write-time CHECK enforcement — see
    sources/transactional.py), so a retry revalidates against rules
    that landed since the previous attempt.

    With an empty ``removed`` this is an append-shaped commit: it
    commutes, so CAS losers replay the same delta blindly and no prior
    manifest is ever read. With a non-empty ``removed`` it is a
    rewrite-shaped commit: every attempt revalidates that the remove
    set is still fully live at the head and raises
    :class:`CommitConflictError` the moment a concurrent rewrite took
    one of its segments (the caller owns cleanup of ``added`` and must
    re-plan from the new head — blind retry would double-fold or
    resurrect rows)."""
    for _ in range(max_retries):
        head = latest_version(table_dir)
        if pre_commit is not None:
            # Per-ATTEMPT validation hook (constraint enforcement):
            # runs against the head this attempt will CAS on, so a
            # rule committed between attempts is seen by the retry —
            # every committed version observes every rule committed
            # before it (the OCC read-set revalidation Delta applies
            # to metadata). The hook must raise to refuse.
            pre_commit(head)
        new_live: list[str] | None = None
        if removed:
            try:
                live = live_segments(table_dir, head)
            except FileNotFoundError:
                continue  # head vacuumed mid-read; re-resolve
            missing = set(removed) - set(live)
            if missing:
                raise CommitConflictError(
                    f"segments no longer live at v{head}: "
                    f"{sorted(missing)}"
                )
            new_live = [s for s in live if s not in set(removed)] + list(
                added
            )
        manifest = {
            "version": head + 1,
            "op": op,
            "ts": time.time(),
            "added": list(added),
            "removed": sorted(removed),
        }
        if txn is not None:
            manifest["txn"] = {"app": txn[0], "version": int(txn[1])}
        if stats:
            added_set = set(added)
            manifest["stats"] = {
                rel: s for rel, s in stats.items() if rel in added_set
            }
        if meta:
            manifest["meta"] = dict(meta)
        if _try_commit(table_dir, head + 1, manifest):
            _maybe_checkpoint(
                table_dir, head + 1, checkpoint_interval, live=new_live
            )
            return head + 1
    raise CommitConflictError(
        f"commit lost {max_retries} straight CAS races at {table_dir}"
    )


def append_snapshot(
    df: DataFrame,
    table_dir: str,
    max_retries: int = 64,
    checkpoint_interval: int = CHECKPOINT_INTERVAL,
) -> int:
    """Transactional append: write a segment, then CAS-commit a DELTA
    manifest onto the head. Appends commute, so losing a race just
    replays the same ~200-byte delta onto the new head — every
    concurrent append lands exactly once, and the commit never reads a
    prior manifest or the live set (O(1) regardless of segment count;
    the old full-manifest shape made every append O(live segments)).
    Every ``checkpoint_interval``-th version also publishes a
    checkpoint sidecar to bound reconstruction replay. Returns the
    committed version."""
    rel = _write_segment(df, table_dir)
    return commit_segments(
        table_dir,
        added=[rel],
        removed=[],
        op="append",
        max_retries=max_retries,
        checkpoint_interval=checkpoint_interval,
    )


def append_snapshot_txn(
    df: DataFrame,
    table_dir: str,
    app: str,
    txn_version: int,
    max_retries: int = 64,
    checkpoint_interval: int = CHECKPOINT_INTERVAL,
) -> int | None:
    """Idempotent transactional append for exactly-once streaming
    sinks (Delta's ``txnAppId``/``txnVersion`` protocol): if ``app``
    has already committed a transaction at or past ``txn_version``,
    the append is a REPLAY and is skipped (returns None) — so a
    foreachBatch sink that crashed between its data write and the
    stream checkpoint advance can re-run its batch without
    double-appending, and a crash between the segment write and the
    manifest commit leaves only an invisible age-gated orphan, never a
    torn or duplicated batch.

    Single-writer-per-app assumption (same as Delta): the streaming
    checkpoint owns the app id; concurrent DIFFERENT apps and plain
    appends interleave freely through the CAS."""
    prev = last_txn_version(table_dir, app)
    if prev is not None and prev >= txn_version:
        return None
    rel = _write_segment(df, table_dir)
    return commit_segments(
        table_dir,
        added=[rel],
        removed=[],
        op="append_txn",
        max_retries=max_retries,
        checkpoint_interval=checkpoint_interval,
        txn=(app, txn_version),
    )


def rewrite_snapshot(
    df: DataFrame | None,
    table_dir: str,
    remove: list[str],
    max_retries: int = 64,
    checkpoint_interval: int = CHECKPOINT_INTERVAL,
) -> int:
    """Transactional rewrite: replace the ``remove`` segments with one
    new segment holding ``df`` (None = pure delete). The remove set is
    revalidated against the head on every CAS attempt — if a concurrent
    rewrite already folded one of them, raises
    :class:`CommitConflictError` (re-plan from the new head); appends
    that landed meanwhile simply stay live. On conflict the
    already-written replacement segment is deleted before raising —
    it is provably uncommitted and owned by this writer, and leaving
    it would leak a table-sized orphan per aborted compaction until an
    age-gated vacuum an hour later. Returns the version."""
    adds = [] if df is None else [_write_segment(df, table_dir)]
    try:
        return commit_segments(
            table_dir,
            added=adds,
            removed=list(remove),
            op="rewrite",
            max_retries=max_retries,
            checkpoint_interval=checkpoint_interval,
        )
    except CommitConflictError:
        for rel in adds:
            shutil.rmtree(os.path.join(table_dir, rel), ignore_errors=True)
        raise


def read_segments(
    spark: SparkSession,
    table_dir: str,
    rels: list[str],
    fields: list[dict] | None,
) -> DataFrame:
    """The one segment reader: a scan of ``rels`` shaped by the
    recorded ``fields`` of the version they belong to. The recorded
    schema goes to the parquet reader, so building the scan runs no
    Spark job; a segment older than a column reads it as typed NULLs,
    and a column newer than the version is not read. ``fields=None``
    (a table that records no schema) infers it from a footer, which
    costs one Spark job."""
    reader = spark.read
    if fields is not None:
        reader = reader.schema(declared_struct(fields))
    return reader.parquet(*[segment_path(table_dir, r) for r in rels])


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Snapshot-isolated read: resolve the manifest once and scan
    exactly its immutable segments with the schema that version
    recorded (:func:`read_segments`). ``version`` pins time travel;
    the default head resolution is the ONLY racy step, and it races
    to a committed version or not at all. An empty live set raises."""
    if version is None:
        version = latest_version(table_dir)
    segs = live_segments(table_dir, version)
    if not segs:
        raise ValueError(
            f"version {version} of {table_dir} has no segments; "
            "schema-less empty reads are undefined on bare parquet"
        )
    return read_segments(
        spark, table_dir, segs, recorded_schema(table_dir, version)
    )


def seg_of_file() -> F.Column:
    """The segment directory name of the row's file: the url-decoded
    ``input_file_name()`` directory (URI encoding is injective with
    ``url_decode`` as its exact inverse)."""
    raw = F.regexp_extract(F.input_file_name(), r"^.*/data/([^/]+)/", 1)
    return F.coalesce(F.try_url_decode(raw), raw)


#: Bin-pack target for :func:`compact_snapshots` output segments —
#: the Iceberg ``rewriteDataFiles`` / Delta ``OPTIMIZE`` default
#: neighborhood. Segments at or above this size are left alone.
COMPACT_TARGET_BYTES = 128 * 1024 * 1024


def _segment_bytes(table_dir: str, rel: str) -> int:
    """Driver-side metadata sizing of one segment directory (O(files)
    stat calls, never reads data rows)."""
    total = 0
    for root, _dirs, files in os.walk(segment_path(table_dir, rel)):
        for name in files:
            if name.startswith((".", "_")):
                continue  # _SUCCESS / checksums / hidden droppings
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total


#: Tagged-segment name shape from sources/transactional.py:
#: ``seg-<32 hex>-<col>=<urlencoded value>``.
_TAG_RE = re.compile(r"^seg-[0-9a-f]{32}-(.+)$")


def _fold_suffix(rel: str) -> str | None:
    """Partition-tag suffix a compacted replacement must carry, or
    None for a plain (untagged) segment."""
    m = _TAG_RE.match(os.path.basename(rel))
    return m.group(1) if m else None


def _binpack_segments(
    sized: list[tuple[str, int]], target_bytes: int
) -> list[list[str]]:
    """First-fit bin-pack (name-sorted, deterministic) into groups of
    cumulative size <= target. Only groups of >= 2 segments are worth
    rewriting: a lone segment — small or already target-sized — is
    left live untouched, so compaction converges instead of eternally
    rewriting the same bytes.

    Segments only bin-pack WITHIN the same partition-tag suffix
    (:func:`_fold_suffix`): folding across tags would mint untagged
    mixed segments that a later metadata-only ``drop_partition``
    cannot remove — partition purity is a correctness invariant of the
    tagged layout, not an optimization."""
    by_suffix: dict[str | None, list[tuple[str, int]]] = {}
    for rel, nbytes in sorted(sized):
        by_suffix.setdefault(_fold_suffix(rel), []).append((rel, nbytes))
    groups: list[list[str]] = []
    for _suffix, items in sorted(
        by_suffix.items(), key=lambda kv: (kv[0] is not None, kv[0] or "")
    ):
        cur: list[str] = []
        cur_bytes = 0
        for rel, nbytes in items:
            if nbytes >= target_bytes:
                continue  # already at target; never refold
            if cur and cur_bytes + nbytes > target_bytes:
                groups.append(cur)
                cur, cur_bytes = [], 0
            cur.append(rel)
            cur_bytes += nbytes
        if cur:
            groups.append(cur)
    return [g for g in groups if len(g) >= 2]


def compact_snapshots(
    spark: SparkSession,
    table_dir: str,
    max_retries: int = 8,
    target_bytes: int = COMPACT_TARGET_BYTES,
) -> int:
    """Transactional small-file compaction: bin-pack the head's live
    segments into ~``target_bytes`` output segments (the Iceberg
    binpack-``rewriteDataFiles`` shape) and swap them in one
    conflict-checked rewrite commit.

    Scale posture: the fold is ONE shuffle-free Spark job — scan the
    to-fold segments, tag each row's output group from its source file
    path (broadcast map, no exchange), write ``partitionBy`` group into
    a staging dir — then per-group directory renames register the new
    segments. No ``coalesce(1)``: task parallelism follows the scan's
    own partitioning, so a terabyte backlog of small segments folds
    wide, and segments already at or above the target are never
    rewritten, so repeated compactions converge to a steady state.

    Runs as a rewrite, so concurrent appends survive (they are in the
    post-CAS live set) and a concurrent compactor loses cleanly with
    :class:`CommitConflictError` instead of double-folding. Retries
    re-plan from the current head. A compactor
    dying mid-stage leaves only invisible staged files for the
    age-gated vacuum.

    Tagged tables (sources/transactional.py layout) fold WITHIN each
    partition tag and the replacements keep the tag; merge-on-read
    ``log-`` segments are never touched (their ``_op``/``_seq``
    protocol belongs to ``compact_change_log``)."""
    last: Exception | None = None
    for _ in range(max_retries):
        head = latest_version(table_dir)
        try:
            segs = [
                s
                for s in live_segments(table_dir, head)
                if not os.path.basename(s).startswith("log-")
            ]
            if len(segs) <= 1:
                return head
            stats_at_head = segment_stats(table_dir, head)
            sized = [(s, _segment_bytes(table_dir, s)) for s in segs]
            groups = _binpack_segments(sized, target_bytes)
            if not groups:
                return head  # steady state: nothing worth folding
            fold = [s for g in groups for s in g]
            # input_file_name() returns the file's URI, whose path
            # percent-encodes exotic characters in the segment name
            # (Hadoop encodes '%' -> '%25' and ' ' -> '%20' but leaves
            # '=' alone; urllib.quote encodes both — so NO pre-computed
            # encoded form is safe to guess). URI encoding is injective
            # with url_decode as its exact inverse, so decoding the
            # extracted directory name ONCE recovers the raw segment
            # name and the map keys on raw names only.
            seg_to_grp: dict[str, int] = {}
            for gi, g in enumerate(groups):
                for s in g:
                    seg_to_grp[os.path.basename(s)] = gi
            # Segments may carry HETEROGENEOUS schemas (a widening
            # write adds columns with zero rewrite): the recorded
            # schema null-fills the columns a segment predates. A
            # table that records none falls back to the mergeSchema
            # footer union — first-file inference would silently DROP
            # younger columns from every folded row.
            fields = recorded_schema(table_dir, head)
            if fields is not None:
                scan = read_segments(spark, table_dir, fold, fields)
            else:
                scan = spark.read.option("mergeSchema", "true").parquet(
                    *[segment_path(table_dir, s) for s in fold]
                )
            grp_map = spark.createDataFrame(
                list(seg_to_grp.items()), "_seg string, _grp int"
            )
            merged = (
                scan.withColumn("_seg", seg_of_file())
                .join(F.broadcast(grp_map), "_seg", "left")
                .drop("_seg")
            )
            # LEFT join + null-group abort, never INNER: should any
            # row's decoded name still miss the map (a malformed or
            # exotic encoding), an inner join would silently DROP it
            # from the compacted table — data loss with no error. With
            # a left join it lands in the null partition and
            # _stage_group_segments aborts before the commit.
        except FileNotFoundError:
            continue  # head vacuumed mid-read; re-plan (see append)
        suffixes = [_fold_suffix(g[0]) for g in groups]
        try:
            rel_by_grp = _stage_group_segments(
                merged, table_dir, suffixes
            )
        except Exception as e:  # noqa: BLE001 - classify below
            # A fold segment vacuumed between planning and the Spark
            # action is the same raced-vacuum condition as a vanished
            # head: re-plan rather than crash the maintenance job.
            if is_missing_file_error(e):
                last = CommitConflictError(
                    f"compaction raced a vacuum at {table_dir}: "
                    f"{str(e)[:120]}"
                )
                continue
            raise
        new_rels = list(rel_by_grp.values())
        try:
            return commit_segments(
                table_dir, added=new_rels, removed=fold, op="compact",
                stats=_folded_stats(stats_at_head, groups, rel_by_grp),
            )
        except CommitConflictError as e:
            for rel in new_rels:
                shutil.rmtree(
                    os.path.join(table_dir, rel), ignore_errors=True
                )
            last = e  # another rewrite moved the head; re-plan
    raise last if last is not None else CommitConflictError(table_dir)


def _folded_stats(
    prior: dict[str, dict],
    groups: list[list[str]],
    rel_by_grp: dict[int, str],
) -> dict[str, dict]:
    """Key stats for compaction outputs, folded from the members'
    RECORDED stats (a fold's min/max is the min/max of its members) —
    no data read. A group where any member lacks stats, or members
    disagree on the stats column, yields no entry (conservative)."""
    out: dict[str, dict] = {}
    for gi, rel in rel_by_grp.items():
        members = [prior.get(s) for s in groups[gi]]
        if any(m is None for m in members):
            continue
        cols = {m["col"] for m in members}
        if len(cols) != 1:
            continue
        out[rel] = {
            "col": cols.pop(),
            "min": min(m["min"] for m in members),
            "max": max(m["max"] for m in members),
        }
    return out


def _stage_group_segments(
    merged: DataFrame, table_dir: str, suffixes: list[str | None]
) -> dict[int, str]:
    """One ``partitionBy("_grp")`` job into a staging dir under
    ``data/`` (a dead writer's droppings are vacuum-reapable), then a
    metadata rename per group registers each ``_grp=N`` directory as a
    fresh immutable segment — carrying group N's partition-tag suffix
    when it had one, so the tagged layout's purity invariant survives
    compaction. The ``_grp`` column rides the directory name only —
    ``partitionBy`` keeps it out of the data files. Group ids are
    PARSED from the directory name (lexical sort would order
    ``_grp=10`` before ``_grp=2``)."""
    stage_rel = os.path.join(_DATA, f".stage-{uuid.uuid4().hex}")
    stage = os.path.join(table_dir, stage_rel)
    merged.write.partitionBy("_grp").parquet(stage)
    rel_by_grp: dict[int, str] = {}
    listing = sorted(os.listdir(stage))
    # Abort BEFORE any rename if rows fell into the null partition:
    # a row whose input_file_name() URI form matched no mapped segment
    # name joined to a null group (compact_snapshots uses a left join
    # exactly so this is detectable). Committing would lose those rows;
    # raising leaves only invisible staged files for the vacuum.
    null_part = [n for n in listing if n.startswith("_grp=__HIVE")]
    if null_part:
        shutil.rmtree(stage, ignore_errors=True)
        raise RuntimeError(
            "compaction fold produced rows with no output group "
            f"(unmapped input_file_name URI encoding) in {stage}; "
            "aborting before commit to avoid data loss"
        )
    for name in listing:
        if not name.startswith("_grp="):
            continue
        gi = int(name.split("=", 1)[1])
        suffix = suffixes[gi]
        seg_name = (
            uuid.uuid4().hex
            if suffix is None
            else f"seg-{uuid.uuid4().hex}-{suffix}"
        )
        rel = os.path.join(_DATA, seg_name)
        os.rename(os.path.join(stage, name), os.path.join(table_dir, rel))
        rel_by_grp[gi] = rel
    shutil.rmtree(stage, ignore_errors=True)  # _SUCCESS droppings
    return rel_by_grp


def vacuum(
    table_dir: str,
    keep_versions: int = 1,
    orphan_min_age_sec: float = 3600.0,
    protect: frozenset[str] | set[str] = frozenset(),
) -> list[str]:
    """Delete segments referenced ONLY by manifests older than the
    last ``keep_versions`` (plus orphans from writers that died before
    committing), then drop those manifests. Time travel remains exact
    within the retained window; pinned readers older than it are the
    retention trade every table format documents.

    An unreferenced segment is indistinguishable from an IN-FLIGHT
    append that hasn't CAS'd its manifest yet, so orphans are only
    reclaimed once older than ``orphan_min_age_sec`` (Delta's retention
    rule); segments dropped by a committed rewrite are safe at any age.
    ``protect`` names segments that must survive regardless of this
    log's references — external refs such as branch forks
    (sources/branching.py's cross-ref GC pass supplies it).
    Returns the deleted relative paths."""
    import time

    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    # Snapshot phase, retried as a whole if a RETAINED manifest
    # vanishes mid-read (a concurrent vacuum with a commit racing ahead
    # chose a newer window): skipping a keep manifest would
    # under-populate `referenced` and delete LIVE segments, so only a
    # consistent read of the keep window may proceed. A missing OLD
    # manifest is fine — the other vacuum owned it; any segment it
    # alone referenced is now covered by the orphan age gate.
    for _ in range(8):
        vs = versions(table_dir)
        keep = vs[-keep_versions:]
        referenced: set[str] = set()
        ever_committed: set[str] = set()
        try:
            # One reconstruction at the window floor, then incremental
            # delta replay across the window — O(window + interval)
            # manifest reads, never O(versions * segments).
            oldest_live = live_segments(table_dir, keep[0])
            referenced.update(oldest_live)
            live = list(oldest_live)
            for v in keep[1:]:
                m = _read_manifest(table_dir, v)
                live = (
                    list(m["live"]) if "live" in m else _apply_delta(live, m)
                )
                referenced.update(live)
            # Fence BEFORE any manifest below the window dies: the
            # oldest retained version must stay reconstructible, so a
            # checkpoint is installed at the window floor first. Racing
            # vacuums write identical content (EEXIST no-op).
            if keep[0] not in _checkpoint_versions(table_dir):
                _write_checkpoint(table_dir, keep[0], oldest_live)
        except FileNotFoundError:
            continue
        # Ever-committed = anything any SURVIVING manifest references:
        # delta `added` lists, embedded `live` lists, checkpoint sets.
        # A segment only older, fully-vacuumed manifests knew about
        # falls back to the orphan age gate — delayed reclamation,
        # never premature.
        ever_committed.update(referenced)
        for v in vs:
            try:
                m = _read_manifest(table_dir, v)
            except FileNotFoundError:
                continue
            ever_committed.update(m.get("added", ()))
            ever_committed.update(m.get("live", ()))
        for cv in _checkpoint_versions(table_dir):
            # A checkpoint newer than this snapshot (a racing commit's,
            # or a racing vacuum's fence) lists segments this vacuum's
            # keep window never saw: they are live, not removed, so
            # they must stay under the orphan age gate.
            if cv > keep[-1]:
                continue
            try:
                with open(_ckpt_path(table_dir, cv)) as f:
                    ever_committed.update(json.load(f)["live"])
            except FileNotFoundError:
                continue
        break
    else:
        raise CommitConflictError(
            f"vacuum lost 8 straight keep-window races at {table_dir}"
        )
    data_dir = os.path.join(table_dir, _DATA)
    now = time.time()
    deleted = []
    for name in sorted(os.listdir(data_dir)):
        rel = os.path.join(_DATA, name)
        if rel in referenced or rel in protect:
            continue
        if rel not in ever_committed:
            try:
                age = now - os.path.getmtime(os.path.join(data_dir, name))
            except OSError:
                continue
            if age < orphan_min_age_sec:
                continue
        try:
            shutil.rmtree(os.path.join(data_dir, name))
        except FileNotFoundError:
            continue  # a concurrent vacuum got there first
        deleted.append(rel)
    for v in vs[:-keep_versions]:
        try:
            os.unlink(_manifest_path(table_dir, v))
        except FileNotFoundError:
            pass  # already dropped by a concurrent vacuum
    # Checkpoint sidecars below the fenced window floor are now
    # unreachable (every retained version reconstructs from keep[0]'s
    # checkpoint or younger) — reap them with the manifests.
    for cv in _checkpoint_versions(table_dir):
        if cv < keep[0]:
            try:
                os.unlink(_ckpt_path(table_dir, cv))
            except FileNotFoundError:
                pass
    # Reap aged commit temp files: a writer dying between its hard-link
    # CAS and the unlink leaves a fully-written orphan tmp that nothing
    # references. Same age gate — a LIVE writer's tmp exists only for
    # the instant between write and link.
    cdir = _commits_dir(table_dir)
    for name in os.listdir(cdir):
        if not name.startswith(".tmp-"):
            continue
        full = os.path.join(cdir, name)
        try:
            if now - os.path.getmtime(full) >= orphan_min_age_sec:
                os.unlink(full)
        except OSError:
            pass  # already reaped by a concurrent vacuum
    return deleted


def commit_timestamp(table_dir: str, version: int) -> float:
    """Commit time of ``version`` (unix seconds): the manifest's
    in-commit ``ts`` stamp, falling back to the manifest FILE's mtime
    for manifests written before stamps existed — the same legacy
    Delta documents (file-mtime timestamps) before in-commit
    timestamps replaced them."""
    m = _read_manifest(table_dir, version)
    ts = m.get("ts")
    if ts is not None:
        return float(ts)
    return os.path.getmtime(_manifest_path(table_dir, version))


def version_at_timestamp(table_dir: str, ts: float) -> int:
    """TIMESTAMP AS OF: the version a reader at wall-clock ``ts``
    would have seen — the largest version whose EFFECTIVE commit time
    is <= ``ts``.

    Effective commit time is the RUNNING MAX of the raw stamps up the
    version chain: raw stamps come from each winning writer's own
    clock, so skew between racing writers can locally regress them,
    and resolving against the running max restores the guarantee that
    matters — the version order and the time order never disagree
    (Delta's in-commit-timestamp monotonicity contract, enforced at
    read rather than by making every O(1) append read its
    predecessor's manifest). Walks the RETAINED manifests (bounded by
    vacuum retention, metadata-sized driver work); raises
    ``ValueError`` for a ``ts`` before the oldest retained commit."""
    best: int | None = None
    running = float("-inf")
    for v in versions(table_dir):
        try:
            running = max(running, commit_timestamp(table_dir, v))
        except FileNotFoundError:
            continue  # reaped under us; later versions still resolve
        if running <= ts:
            best = v
        else:
            break
    if best is None:
        raise ValueError(
            f"no committed version of {table_dir} at or before "
            f"timestamp {ts}"
        )
    return best


def restore_table(table_dir: str, version: int) -> int:
    """RESTORE TABLE ... TO VERSION AS OF ``version`` (Delta Lake's
    RESTORE command; reference parity: the rollback path the Mongoose
    layer lacks entirely — here it falls out of the log): ONE new
    commit whose delta makes the head's live set, per-segment stats,
    and table meta exactly what they were at ``version``. Nothing is
    copied — segments are immutable, so restore re-references the old
    ones (added = target - current, removed = current - target) and
    history moves FORWARD: the restored-away versions remain time-
    travelable and a second restore can undo the first.

    Fail-closed: if any target segment's data file was already
    vacuumed, raises ``ValueError`` before committing anything (the
    same guarantee Delta documents — restore never publishes a head
    that references missing data). Meta keys introduced AFTER
    ``version`` are republished as ``None`` (= cleared: every consumer
    reads via ``.get(key)``, so a None value is indistinguishable from
    absence). The commit is rewrite-shaped, so it conflict-checks
    against concurrent rewrites via the normal CAS revalidation; a
    concurrent APPEND that lands while the restore commits survives it
    (its segment is in neither version's live set — the same
    resolution Delta applies to restore-vs-append races).

    Concurrency shape: the delta is recomputed from the CURRENT head
    inside a re-plan loop and each plan gets exactly ONE CAS attempt
    (``max_retries=1``) — a lost race must never blind-replay an
    append-shaped delta (two racing restores would each re-add the
    same segments, doubling rows); the loser re-plans against the
    winner's head and converges to a no-op. The target-file existence
    check also reruns per attempt, shrinking (not eliminating — the
    same residual window Delta has) the restore-vs-vacuum race."""
    tgt = table_state(table_dir, version)
    target, target_stats, target_meta = tgt["live"], tgt["stats"], tgt["meta"]
    tgt_set = set(target)
    last: Exception | None = None
    for _ in range(8):
        gone = [
            r for r in target
            if not os.path.exists(segment_path(table_dir, r))
        ]
        if gone:
            raise ValueError(
                f"cannot restore {table_dir} to v{version}: "
                f"{len(gone)} segment(s) already vacuumed, "
                f"e.g. {gone[0]}"
            )
        head = latest_version(table_dir)
        try:
            cur = table_state(table_dir, head)
            current, current_meta = cur["live"], cur["meta"]
        except FileNotFoundError:
            continue  # head vacuumed mid-read; re-resolve
        cur_set = set(current)
        added = [r for r in target if r not in cur_set]
        removed = [r for r in current if r not in tgt_set]
        meta_patch: dict = {
            k: v for k, v in target_meta.items()
            if current_meta.get(k) != v
        }
        for k in current_meta:
            if k not in target_meta and current_meta[k] is not None:
                meta_patch[k] = None
        if not added and not removed and not meta_patch:
            return head  # already at the target state: no-op
        try:
            return commit_segments(
                table_dir,
                added=added,
                removed=removed,
                op="restore",
                stats={
                    r: target_stats[r]
                    for r in added
                    if r in target_stats
                }
                or None,
                meta=meta_patch or None,
                max_retries=1,
            )
        except CommitConflictError as e:
            last = e  # someone else committed first; re-plan
    raise last if last is not None else CommitConflictError(table_dir)


def table_history(spark: SparkSession, table_dir: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per committed version — (version,
    op, n_added, n_removed, txn_app, txn_version, has_meta) — read
    straight from the manifests (metadata-sized driver work, like
    every catalog read; the result is a DataFrame so history joins,
    filters and audits compose with everything else). Versions whose
    manifest a concurrent vacuum already reaped surface with NULL op
    rather than failing the whole audit."""
    rows = []
    for v in versions(table_dir):
        try:
            m = _read_manifest(table_dir, v)
        except FileNotFoundError:
            rows.append((v, None, None, None, None, None, None, None))
            continue
        txn = m.get("txn") or {}
        ts = m.get("ts")
        if ts is None:
            try:  # pre-stamp manifest: file mtime (legacy rule)
                ts = os.path.getmtime(_manifest_path(table_dir, v))
            except FileNotFoundError:
                ts = None
        rows.append(
            (
                v,
                m.get("op"),
                len(m.get("added", [])),
                len(m.get("removed", [])),
                txn.get("app"),
                txn.get("version"),
                bool(m.get("meta")),
                ts,
            )
        )
    return spark.createDataFrame(
        rows,
        "version: int, op: string, n_added: int, n_removed: int, "
        "txn_app: string, txn_version: long, has_meta: boolean, "
        "commit_ts: double",
    )
