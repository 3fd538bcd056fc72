"""Snapshot-log-backed table maintenance — the engine's ONLY table
writer: the S5-S7 keyed rewrites, partition drops, and the
merge-on-read change log all commit through :mod:`.snapshot_log`'s CAS
manifests, so every mutation is an atomic version with snapshot
isolation, conflict detection, and time travel. This module also owns
the change log's ``_op``/``_seq`` row protocol and its overlay plan
(:func:`merge_overlay`).

Layout invariants (how partition semantics survive on an opaque
segment store):

* Base segments are PARTITION-PURE and partition-TAGGED: every write
  path stages one Spark ``partitionBy`` job, then registers each
  partition directory as its own segment named
  ``data/seg-<uuid>-<col>=<urlencoded value>``. The partition column
  stays IN the data (the staging job partitions on a string copy), so
  reads never reconstruct it from paths.
* The tag makes partition operations manifest-level: S7 drop-namespace
  is a pure metadata commit removing the tagged segments (the
  Iceberg ``DROP PARTITION`` shape — no data read, no rewrite), and
  keyed upserts/deletes prune to touched partitions by SEGMENT LIST
  filtering before any file is opened — partition pruning above the
  parquet layer, exactly what manifests buy at 100 TB.
* Merge-on-read log segments are named ``data/log-<uuid>`` and carry
  ``_op``/``_seq`` columns; reads overlay them on the base with
  :func:`merge_overlay` (also the m8 maintenance plan's overlay).
  Compaction folds log + touched base segments into fresh tagged
  segments in ONE conflict-checked commit — concurrent appends
  survive, a racing compactor loses cleanly with
  :class:`CommitConflictError`, and no marker fence is needed.

Copy-on-write ops (upsert/delete/drop) and the MOR log are both
supported on one table, but CoW ops refuse to run while un-compacted
log segments exist — silently ignoring the log would resurrect
overwritten rows; compact first.

Reference parity: S5 upsert models/embeddingmodel.js:4-12, S6 delete
models/embeddingmodel.js:14-24, S7 drop-namespace
models/embeddingmodel.js:26-35 — same (namespace, id) identity
semantics as plans/vector.py documents.
"""

from __future__ import annotations

import os
import shutil
import uuid
from urllib.parse import quote, unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .snapshot_log import (
    CommitConflictError,
    commit_segments,
    create_table,
    latest_version,
    live_segments,
    segment_path,
    segment_stats,
    table_meta,
)

__all__ = [
    "append_change_segment",
    "append_partitioned",
    "compact_change_log",
    "create_partitioned_table",
    "delete_by_key",
    "drop_partition",
    "merge_overlay",
    "read_merge_on_read",
    "read_table",
    "upsert_by_key",
    "upsert_by_key_global",
]

_PART_TMP = "__cvdb_part"
_LOG_PREFIX = "data/log-"


def _is_log(rel: str) -> bool:
    return rel.startswith(_LOG_PREFIX)


def _partition_of(rel: str, partition_col: str) -> str | None:
    """Partition value a tagged base segment holds, None for log or
    untagged segments."""
    marker = f"-{partition_col}="
    name = os.path.basename(rel)
    i = name.find(marker)
    if _is_log(rel) or i < 0:
        return None
    return unquote(name[i + len(marker):])


def _stage_partition_segments(
    df: DataFrame, table_dir: str, partition_col: str
) -> list[str]:
    """ONE ``partitionBy`` Spark job into a staging directory, then a
    per-partition directory rename registers each partition's files as
    an immutable tagged segment. Renames are metadata ops on local/HDFS
    (object stores substitute a copy — same protocol). The staging dir
    lives under ``data/`` so a writer dying mid-stage leaves junk the
    age-gated vacuum reaps like any uncommitted segment. Partitioning
    runs on a STRING COPY of the column so the original stays in the
    data files."""
    stage_rel = os.path.join("data", f".stage-{uuid.uuid4().hex}")
    stage = os.path.join(table_dir, stage_rel)
    (
        df.withColumn(_PART_TMP, F.col(partition_col).cast("string"))
        .write.partitionBy(_PART_TMP)
        .parquet(stage)
    )
    prefix = _PART_TMP + "="
    moves = []
    for name in sorted(os.listdir(stage)):
        if not name.startswith(prefix):
            continue
        val = unquote(name[len(prefix):])
        rel = os.path.join(
            "data",
            f"seg-{uuid.uuid4().hex}-{partition_col}="
            f"{quote(val, safe='')}",
        )
        moves.append((os.path.join(stage, name), rel))
    # The renames are independent metadata ops: issue them from a
    # thread pool (they release the GIL in the kernel), so a
    # 10^4-partition initial load doesn't serialize its commit on a
    # one-directory-at-a-time driver loop (VERDICT r6 #4). Any failure
    # propagates before the commit; already-renamed segments are
    # invisible orphans the age-gated vacuum reaps.
    if len(moves) > 8:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=16) as pool:
            list(
                pool.map(
                    lambda m: os.rename(
                        m[0], os.path.join(table_dir, m[1])
                    ),
                    moves,
                )
            )
    else:
        for src, rel in moves:
            os.rename(src, os.path.join(table_dir, rel))
    shutil.rmtree(stage, ignore_errors=True)  # _SUCCESS droppings
    return [rel for _, rel in moves]


def _cleanup(table_dir: str, rels: list[str]) -> None:
    for rel in rels:
        shutil.rmtree(os.path.join(table_dir, rel), ignore_errors=True)


def _segment_key_stats(
    table_dir: str, rels: list[str], key: str, spark=None
) -> dict[str, dict]:
    """Per-segment min/max of ``key`` (the Iceberg write-time
    column-stats collection). Two equivalent paths (pinned equal by
    test):

    * small commits — PARQUET FOOTER walk: metadata reads only, no
      data rows, no Spark job (~1 ms/file, but driver-serial);
    * large commits (``spark`` given, >= 32 segments) — ONE
      column-pruned executor-parallel aggregation over the just-staged
      files, grouped by source segment. A 10^4-segment initial load
      must not pay a serial footer pass over every file it just wrote
      (VERDICT r6 #4); the distributed job reads ONLY the key column,
      still hot in the page cache.

    A segment where stats are unavailable, or whose min/max aren't
    plain JSON scalars, is simply omitted (readers treat unknown as
    "may match")."""
    if spark is not None and len(rels) >= 32:
        return _segment_key_stats_distributed(spark, table_dir, rels, key)
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for rel in rels:
        lo = hi = None
        ok = True
        seg_dir = os.path.join(table_dir, rel)
        for root, _dirs, files in os.walk(seg_dir):
            for name in files:
                if name.startswith((".", "_")) or not name.endswith(
                    ".parquet"
                ):
                    continue
                try:
                    md = pq.ParquetFile(
                        os.path.join(root, name)
                    ).metadata
                except Exception:  # noqa: BLE001 - stats are optional
                    ok = False
                    break
                names = {
                    md.schema.column(i).name: i
                    for i in range(md.num_columns)
                }
                ci = names.get(key)
                if ci is None:
                    ok = False
                    break
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    if (
                        st is not None
                        and not st.has_min_max
                        and st.has_null_count
                        and st.num_values == 0
                    ):
                        # Stats absent because EVERY value is null: the
                        # row group contributes nothing to min/max (the
                        # distributed path's null-skipping agg and
                        # Iceberg's stats collection agree) — skip it
                        # rather than poisoning the whole segment.
                        continue
                    if (
                        st is None
                        or not st.has_min_max
                        or not isinstance(st.min, (int, float, str))
                        or isinstance(st.min, bool)
                    ):
                        ok = False
                        break
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                if not ok:
                    break
            if not ok:
                break
        if ok and lo is not None:
            out[rel] = {"col": key, "min": lo, "max": hi}
    return out


def _segment_key_stats_distributed(
    spark: SparkSession, table_dir: str, rels: list[str], key: str
) -> dict[str, dict]:
    """Executor-parallel stats: one aggregation job over the staged
    segments, column-pruned to ``key``, grouped by the url-decoded
    ``input_file_name()`` directory (the exact inverse of the URI
    encoding — same identity compact_snapshots uses). Emits the same
    {rel: {col, min, max}} map as the footer walk; non-scalar key
    types yield no stats, matching the footer path's conservatism."""
    scan = spark.read.parquet(*[os.path.join(table_dir, r) for r in rels])
    dtype = scan.schema[key].dataType.simpleString()
    if dtype not in (
        "tinyint", "smallint", "int", "bigint", "float", "double",
        "string",
    ):
        return {}
    by_name = {os.path.basename(r): r for r in rels}
    agged = (
        scan.select(
            F.coalesce(
                F.expr(
                    "try_url_decode(regexp_extract("
                    "input_file_name(), '^.*/data/([^/]+)/', 1))"
                ),
                F.regexp_extract(
                    F.input_file_name(), r"^.*/data/([^/]+)/", 1
                ),
            ).alias("_seg"),
            F.col(key).alias("_k"),
        )
        .groupBy("_seg")
        .agg(F.min("_k").alias("_lo"), F.max("_k").alias("_hi"))
        .collect()
    )
    out: dict[str, dict] = {}
    for r in agged:
        rel = by_name.get(r["_seg"])
        if rel is None or r["_lo"] is None:
            continue  # unknown dir or all-null keys: no stats entry
        lo, hi = r["_lo"], r["_hi"]
        if not isinstance(lo, (int, float, str)) or isinstance(lo, bool):
            continue
        out[rel] = {"col": key, "min": lo, "max": hi}
    return out


#: Bloom sidecar probes per key. With the default 4096 bits this
#: holds ~1% false positives around 500 distinct keys per segment;
#: the sidecar is at most 64 longs inside the manifest's stats entry.
_BLOOM_K = 4

_BLOOM_DTYPES = ("tinyint", "smallint", "int", "bigint", "string")


def _segment_key_blooms(
    spark: SparkSession,
    table_dir: str,
    rels: list[str],
    key: str,
    m_bits: int,
) -> dict[str, dict]:
    """Per-segment Bloom filter of the key column (the Delta
    bloom-filter-index move, at SEGMENT granularity): ONE
    column-pruned executor job over the just-staged files — k md5
    positions per key, OR-folded into 64-bit words per (segment,
    word) with map-side combine — collecting at most
    ``len(rels) * m_bits/64`` tiny rows. The words ride inside the
    commit's stats entries, so point-lookup mutations can prune
    segments whose key SET provably misses every probe — exactly
    where min/max ranges can't help (scattered keys inside every
    segment's range).

    Hash identity: position = md5(f"b{seed}:{str(key)}")[:8] as int
    mod m — byte-identical between this build (Spark md5 over the
    string cast) and the driver-side probe (hashlib over ``str``),
    so false negatives are structurally impossible. Only integral
    and string key types build blooms (float string forms differ
    across engines); others stay range-pruned only."""
    scan = spark.read.parquet(
        *[segment_path(table_dir, r) for r in rels]
    )
    if scan.schema[key].dataType.simpleString() not in _BLOOM_DTYPES:
        return {}
    by_name = {os.path.basename(r): r for r in rels}
    seg = F.coalesce(
        F.expr(
            "try_url_decode(regexp_extract("
            "input_file_name(), '^.*/data/([^/]+)/', 1))"
        ),
        F.regexp_extract(F.input_file_name(), r"^.*/data/([^/]+)/", 1),
    )
    keyed = scan.select(
        seg.alias("_seg"), F.col(key).cast("string").alias("_k")
    ).where(F.col("_k").isNotNull())
    positions = F.array(
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"b{s}:"), F.col("_k"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % m_bits
            for s in range(_BLOOM_K)
        ]
    )
    words = (
        keyed.select("_seg", F.explode(positions).alias("_p"))
        .select(
            "_seg",
            F.expr("_p div 64").alias("_w"),
            F.expr("shiftleft(1L, CAST(_p % 64 AS INT))").alias("_b"),
        )
        .groupBy("_seg", "_w")
        .agg(F.expr("bit_or(_b)").alias("_v"))
        .collect()
    )
    out: dict[str, dict] = {}
    for r in words:
        rel = by_name.get(r["_seg"])
        if rel is None:
            continue
        bl = out.setdefault(
            rel, {"m": int(m_bits), "k": _BLOOM_K, "words": {}}
        )
        bl["words"][str(int(r["_w"]))] = int(r["_v"])
    return out


def _bloom_contains(bloom: dict, value) -> bool:
    """Driver-side probe with the build's exact hash. Two's-complement
    semantics survive the JSON round trip: Python's arithmetic shift
    on the negative word sign-extends, so bit 63 tests correctly."""
    import hashlib

    m, k = int(bloom["m"]), int(bloom["k"])
    words = bloom["words"]
    for s in range(k):
        p = (
            int(
                hashlib.md5(
                    f"b{s}:{value}".encode()
                ).hexdigest()[:8],
                16,
            )
            % m
        )
        if not (int(words.get(str(p // 64), 0)) >> (p % 64)) & 1:
            return False
    return True


def _bloom_any_match(
    seg_stats: dict | None, key: str, probe_keys: list | None
) -> bool:
    """True unless the segment's Bloom sidecar PROVABLY contains none
    of the probe keys. No sidecar, a different stats column, or an
    unbounded probe set (``None``) conservatively return True."""
    if (
        probe_keys is None
        or seg_stats is None
        or seg_stats.get("col") != key
        or "bloom" not in seg_stats
    ):
        return True
    bloom = seg_stats["bloom"]
    return any(_bloom_contains(bloom, v) for v in probe_keys)


def _collect_probe_keys(
    df: DataFrame, key: str, cap: int = 1024
) -> list | None:
    """The mutation's distinct non-null keys, or None when they exceed
    ``cap`` — a TRUNCATED probe list would prune segments holding the
    uncollected keys, so bloom pruning only ever runs on the full
    set."""
    rows = (
        df.select(key)
        .where(F.col(key).isNotNull())
        .distinct()
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap:
        return None
    return [r[0] for r in rows]


def _stats_may_match(
    seg_stats: dict | None, key: str, lo, hi
) -> bool:
    """True unless the segment's recorded key range PROVABLY cannot
    intersect [lo, hi]. Unknown stats, a different stats column, or a
    cross-type comparison all conservatively return True — pruning
    may only ever skip a segment it can prove untouched."""
    if seg_stats is None or seg_stats.get("col") != key:
        return True
    smin, smax = seg_stats.get("min"), seg_stats.get("max")
    if smin is None or smax is None or lo is None or hi is None:
        return True
    num = (int, float)
    same_family = (
        isinstance(smin, num) and isinstance(lo, num)
    ) or (isinstance(smin, str) and isinstance(lo, str))
    if not same_family:
        return True
    return not (smax < lo or smin > hi)


def _write_stats(
    spark: SparkSession,
    table_dir: str,
    rels: list[str],
    key: str | None,
    bloom_bits: int,
) -> dict[str, dict] | None:
    """Write-time stats for just-staged segments: min/max always
    (when ``key`` given), plus Bloom sidecars when ``bloom_bits`` is
    set (see :func:`_segment_key_blooms`)."""
    if not key:
        return None
    stats = _segment_key_stats(table_dir, rels, key, spark=spark)
    if bloom_bits:
        for rel, bl in _segment_key_blooms(
            spark, table_dir, rels, key, bloom_bits
        ).items():
            stats.setdefault(rel, {"col": key})["bloom"] = bl
    return stats


def create_partitioned_table(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    partition_col: str = "namespace",
    key: str | None = None,
    meta: dict | None = None,
    bloom_bits: int = 0,
) -> int:
    """Initialize a snapshot-log table from ``df``, one tagged segment
    per partition, committed as version 1. ``key`` records footer
    min/max stats of that column per segment for sub-partition pruning
    in later keyed rewrites; ``bloom_bits`` additionally records a
    per-segment Bloom sidecar of the key set (point-lookup pruning
    where ranges can't help); ``meta`` publishes table-metadata keys
    atomically with the creating commit (see
    :func:`..snapshot_log.table_meta`)."""
    create_table(table_dir)
    rels = _stage_partition_segments(df, table_dir, partition_col)
    return commit_segments(
        table_dir, added=rels, removed=[], op="append",
        stats=_write_stats(spark, table_dir, rels, key, bloom_bits),
        meta=meta,
    )


def append_partitioned(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    partition_col: str = "namespace",
    key: str | None = None,
    bloom_bits: int = 0,
) -> int:
    """S9 insert/insertMany: stage tagged segments, commit atomically —
    a multi-partition insert is ONE version, never a torn subset.
    ``key`` records per-segment min/max stats and ``bloom_bits`` the
    optional Bloom sidecar (see :func:`create_partitioned_table`)."""
    rels = _stage_partition_segments(df, table_dir, partition_col)
    try:
        return commit_segments(
            table_dir, added=rels, removed=[], op="append",
            stats=_write_stats(spark, table_dir, rels, key, bloom_bits),
            pre_commit=_constraints_pre_commit(spark, table_dir, rels),
        )
    except Exception:
        # Constraint refusal, analysis error in a stored predicate,
        # or CAS exhaustion: never leave staged dirs behind.
        _cleanup(table_dir, rels)
        raise


def _read_segments(
    spark: SparkSession, table_dir: str, rels: list[str]
) -> DataFrame:
    return spark.read.parquet(
        *[segment_path(table_dir, r) for r in rels]
    )


def read_table(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    partitions: set[str] | None = None,
    partition_col: str = "namespace",
) -> DataFrame:
    """Snapshot-isolated read of the base table (MOR overlay excluded —
    use :func:`read_merge_on_read` for current-state reads on tables
    with a live change log). ``partitions`` prunes at the SEGMENT LIST:
    only tagged segments matching the requested values are opened
    (untagged segments, which could hold any partition, are always
    included and filtered row-wise)."""
    segs = [s for s in live_segments(table_dir, version) if not _is_log(s)]
    if partitions is not None:
        wanted = {str(v) for v in partitions}
        segs = [
            s
            for s in segs
            if (tag := _partition_of(s, partition_col)) is None
            or tag in wanted
        ]
    if not segs:
        raise ValueError(
            f"no base segments selected at {table_dir} "
            f"(version={version}, partitions={partitions})"
        )
    df = _read_segments(spark, table_dir, segs)
    if partitions is not None:
        df = df.filter(
            F.col(partition_col).cast("string").isin(*sorted(wanted))
        )
    return df


def _guard_no_log(live: list[str], table_dir: str, op: str) -> None:
    logs = [s for s in live if _is_log(s)]
    if logs:
        raise ValueError(
            f"{op} on {table_dir} with {len(logs)} un-compacted change-"
            "log segments would silently ignore logged mutations and "
            "resurrect overwritten rows; run compact_change_log first"
        )


def upsert_by_key(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key: str,
    partition_col: str = "namespace",
    max_replans: int = 4,
) -> int:
    """S5 transactional upsert, identity (partition_col, key): new
    records win. Only touched partitions' segments are read or
    rewritten — untouched partitions never appear in the commit, so
    concurrent writers on disjoint partitions both land; a conflict on
    the SAME partition re-plans from the new head.

    Within a touched partition, segments whose RECORDED KEY RANGE
    (manifest column stats, :func:`..snapshot_log.segment_stats`)
    provably misses the update key range are skipped too — their rows
    can't collide with any update identity, so leaving them live
    unrewritten preserves (partition, key) uniqueness while the
    rewrite touches only the segments that can actually match
    (inputFiles-verified by test)."""
    touched = {
        str(r[0]) for r in updates.select(partition_col).distinct().collect()
    }
    ulo, uhi = updates.agg(F.min(key), F.max(key)).first()
    last: Exception | None = None
    for _ in range(max_replans):
        head = latest_version(table_dir)
        try:
            live = live_segments(table_dir, head)
            stats = segment_stats(table_dir, head)
        except FileNotFoundError:
            continue
        _guard_no_log(live, table_dir, "upsert_by_key")
        old = [
            s
            for s in live
            if (tag := _partition_of(s, partition_col)) is not None
            and tag in touched
            and _stats_may_match(stats.get(s), key, ulo, uhi)
        ]
        # Bloom pass (sparse keys inside every range): only pay the
        # distinct-key collect when a candidate actually carries a
        # sidecar, and only prune on the COMPLETE probe set.
        if any("bloom" in (stats.get(s) or {}) for s in old):
            probe = _collect_probe_keys(updates, key)
            old = [
                s
                for s in old
                if _bloom_any_match(stats.get(s), key, probe)
            ]
        if old:
            current = _read_segments(spark, table_dir, old)
            merged = current.join(
                updates.select(partition_col, key),
                [partition_col, key],
                "left_anti",
            ).unionByName(updates)
        else:
            merged = updates
        new_rels = _stage_partition_segments(merged, table_dir, partition_col)
        try:
            return commit_segments(
                table_dir, added=new_rels, removed=old, op="upsert",
                stats=_segment_key_stats(
                    table_dir, new_rels, key, spark=spark
                ),
                pre_commit=_constraints_pre_commit(
                    spark, table_dir, new_rels, removed=old,
                    # (partition, key) fold: UNIQUE constraints whose
                    # cols ⊇ the identity hold by construction; any
                    # other (e.g. email) is probed normally.
                    fold_identity=(partition_col, key),
                ),
            )
        except CommitConflictError as e:
            _cleanup(table_dir, new_rels)
            last = e  # same-partition writer won; re-plan
        except Exception:
            _cleanup(table_dir, new_rels)
            raise
    raise last if last is not None else CommitConflictError(table_dir)


def upsert_by_key_global(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key: str,
    partition_col: str = "namespace",
    max_replans: int = 4,
    txn: tuple[str, int] | None = None,
) -> int | None:
    """Upsert where the identity is ``key`` ALONE and the partition
    value is a derived ATTRIBUTE that may change between versions —
    e.g. an IVF cell id that moves when a vector's embedding is
    updated. A partition-scoped upsert would strand the old row in its
    previous partition; this one removes every matching key from
    whatever partition holds it and lands the new rows in their
    (possibly different) partitions, in ONE conflict-checked commit —
    never a window where the key is absent or doubled.

    Scale shape: candidate segments prune FIRST by the recorded key
    min/max stats (untouched key ranges never open a file), then by
    the semi-join hit set (only partitions that actually LOSE rows are
    rewritten); the updates themselves stage with one ``partitionBy``
    job. ``updates`` must already carry ``partition_col``.

    ``txn=(app, version)`` makes the upsert an idempotent streaming
    write: a replay whose txn already committed is skipped (returns
    None) — same protocol as
    :func:`..snapshot_log.append_snapshot_txn`."""
    last: Exception | None = None
    if txn is not None:
        from .snapshot_log import last_txn_version

        prev = last_txn_version(table_dir, txn[0])
        if prev is not None and prev >= txn[1]:
            return None
    ids = updates.select(key)
    klo, khi = updates.agg(F.min(key), F.max(key)).first()
    for _ in range(max_replans):
        head = latest_version(table_dir)
        try:
            live = live_segments(table_dir, head)
            stats = segment_stats(table_dir, head)
        except FileNotFoundError:
            continue
        _guard_no_log(live, table_dir, "upsert_by_key_global")
        cands = [
            s
            for s in live
            if not _is_log(s)
            and _stats_may_match(stats.get(s), key, klo, khi)
        ]
        old: list[str] = []
        if cands:
            current = _read_segments(spark, table_dir, cands)
            hit = {
                str(r[0])
                for r in current.join(
                    F.broadcast(ids), key, "left_semi"
                ).select(partition_col).distinct().collect()
            }
            old = [
                s
                for s in cands
                if (tag := _partition_of(s, partition_col)) is None
                or tag in hit
            ]
        if old:
            survivors = _read_segments(spark, table_dir, old).join(
                F.broadcast(ids), key, "left_anti"
            )
            merged = survivors.unionByName(updates)
        else:
            merged = updates
        new_rels = _stage_partition_segments(merged, table_dir, partition_col)
        try:
            return commit_segments(
                table_dir, added=new_rels, removed=old, op="upsert_global",
                stats=_segment_key_stats(
                    table_dir, new_rels, key, spark=spark
                ),
                txn=txn,
                pre_commit=_constraints_pre_commit(
                    spark, table_dir, new_rels, removed=old,
                    # global-key fold: UNIQUE constraints containing
                    # the key hold by construction; others are probed.
                    fold_identity=(key,),
                ),
            )
        except CommitConflictError as e:
            _cleanup(table_dir, new_rels)
            last = e
        except Exception:
            _cleanup(table_dir, new_rels)
            raise
    raise last if last is not None else CommitConflictError(table_dir)


def delete_by_key(
    spark: SparkSession,
    table_dir: str,
    ids: DataFrame,
    key: str,
    partition_col: str = "namespace",
    max_replans: int = 4,
) -> int:
    """S6 transactional delete. With ``partition_col`` in ``ids`` the
    identity is (partition, key) and only those partitions are read;
    a key-only frame is the documented cross-namespace delete (all
    partitions scanned, but still only partitions that LOSE rows are
    rewritten). Partitions the delete empties vanish from the manifest
    — a zero-row partition stages no segment, and the old segment is
    in the remove set, so resurrection is structurally impossible."""
    scoped = partition_col in ids.columns
    match_cols = [partition_col, key] if scoped else [key]
    klo, khi = ids.agg(F.min(key), F.max(key)).first()
    last: Exception | None = None
    for _ in range(max_replans):
        head = latest_version(table_dir)
        try:
            live = live_segments(table_dir, head)
            stats = segment_stats(table_dir, head)
        except FileNotFoundError:
            continue
        _guard_no_log(live, table_dir, "delete_by_key")
        bases = [s for s in live if not _is_log(s)]
        if scoped:
            touched = {
                str(r[0])
                for r in ids.select(partition_col).distinct().collect()
            }
            candidates = [
                s
                for s in bases
                if (tag := _partition_of(s, partition_col)) is None
                or tag in touched
            ]
        else:
            candidates = bases
        # Sub-partition pruning: a segment whose recorded key range
        # misses every delete key can't lose a row — skip before any
        # file opens.
        candidates = [
            s
            for s in candidates
            if _stats_may_match(stats.get(s), key, klo, khi)
        ]
        if any("bloom" in (stats.get(s) or {}) for s in candidates):
            probe = _collect_probe_keys(ids, key)
            candidates = [
                s
                for s in candidates
                if _bloom_any_match(stats.get(s), key, probe)
            ]
        if not candidates:
            return head
        current = _read_segments(spark, table_dir, candidates)
        victims = current.join(F.broadcast(ids), match_cols, "left_semi")
        hit = {
            str(r[0])
            for r in victims.select(partition_col).distinct().collect()
        }
        if not hit:
            return head  # nothing matched: the delete is a no-op
        old = [
            s
            for s in candidates
            if (tag := _partition_of(s, partition_col)) is None or tag in hit
        ]
        survivors = _read_segments(spark, table_dir, old).join(
            F.broadcast(ids), match_cols, "left_anti"
        )
        new_rels = _stage_partition_segments(
            survivors, table_dir, partition_col
        )
        try:
            return commit_segments(
                table_dir, added=new_rels, removed=old, op="delete",
                stats=_segment_key_stats(
                    table_dir, new_rels, key, spark=spark
                ),
            )
        except CommitConflictError as e:
            _cleanup(table_dir, new_rels)
            last = e
    raise last if last is not None else CommitConflictError(table_dir)


def drop_partition(
    spark: SparkSession,
    table_dir: str,
    partition_col: str,
    value,
    max_replans: int = 4,
) -> int:
    """S7 drop-namespace as a MANIFEST-ONLY commit: the tagged segments
    of ``value`` leave the live set; no data file is read, written, or
    deleted (vacuum reclaims them after the retention window — which is
    what makes the drop time-travelable). Live change-log segments are
    the one data touch: any logged rows for the dropped partition are
    filtered out into one fresh log segment so a later compaction
    cannot resurrect the partition."""
    val = str(value)
    last: Exception | None = None
    for _ in range(max_replans):
        head = latest_version(table_dir)
        try:
            live = live_segments(table_dir, head)
        except FileNotFoundError:
            continue
        victims = [
            s for s in live if _partition_of(s, partition_col) == val
        ]
        logs = [s for s in live if _is_log(s)]
        new_rels: list[str] = []
        if logs:
            log_df = _read_segments(spark, table_dir, logs).filter(
                F.col(partition_col).cast("string") != F.lit(val)
            )
            if log_df.limit(1).count() > 0:
                rel = os.path.join("data", f"log-{uuid.uuid4().hex}")
                log_df.write.parquet(os.path.join(table_dir, rel))
                new_rels = [rel]
        if not victims and not logs:
            return head
        try:
            return commit_segments(
                table_dir,
                added=new_rels,
                removed=victims + logs,
                op="drop_partition",
            )
        except CommitConflictError as e:
            _cleanup(table_dir, new_rels)
            last = e
    raise last if last is not None else CommitConflictError(table_dir)


# ---------------------------------------------------------------------------
# Merge-on-read on the snapshot log
# ---------------------------------------------------------------------------


def append_change_segment(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    op: str,
    seq: int,
) -> int:
    """MOR mutation: append one tagged change-log segment (``op``:
    'upsert' | 'delete'; ``seq`` orders batches, later wins — the row
    protocol :func:`merge_overlay` reads) as an atomic commit.
    O(change) bytes; the base is untouched."""
    if op not in ("upsert", "delete"):
        raise ValueError(f"op must be upsert|delete, got {op!r}")
    rel = os.path.join("data", f"log-{uuid.uuid4().hex}")
    (
        df.withColumn("_op", F.lit(op))
        .withColumn("_seq", F.lit(seq).cast("long"))
        .write.parquet(os.path.join(table_dir, rel))
    )
    return commit_segments(
        table_dir, added=[rel], removed=[], op="append_log"
    )


def merge_overlay(
    base: DataFrame, log: DataFrame, identity: list[str]
) -> DataFrame:
    """The MOR read: overlay a change log (``_op``, ``_seq`` columns)
    on a base table — latest ``_seq`` per identity wins, deletes drop
    the identity. Pure plan: one window over the LOG only + an
    anti-join on the base."""
    from pyspark.sql import Window

    # Tiebreak equal _seq deterministically with _op ascending
    # ('delete' < 'upsert' -> delete wins), exactly as the m8 oracle
    # does — an arbitrary winner on seq conflicts would make the read
    # nondeterministic run to run.
    w = Window.partitionBy(*identity).orderBy(F.desc("_seq"), "_op")
    latest = (
        log.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    survivors = base.join(latest.select(*identity), identity, "left_anti")
    upserts = latest.filter(F.col("_op") == "upsert").drop("_op", "_seq")
    return survivors.unionByName(upserts)


def read_merge_on_read(
    spark: SparkSession,
    table_dir: str,
    key: str,
    partition_col: str = "namespace",
    version: int | None = None,
) -> DataFrame:
    """Current state at ``version``: base segments overlaid with the
    live change-log segments (latest ``_seq`` per identity wins,
    deletes drop the identity). Snapshot-isolated like every log read."""
    live = live_segments(table_dir, version)
    logs = [s for s in live if _is_log(s)]
    bases = [s for s in live if not _is_log(s)]
    if not bases and not logs:
        raise ValueError(f"{table_dir} has no segments at v{version}")
    if not logs:
        return _read_segments(spark, table_dir, bases)
    log_df = _read_segments(spark, table_dir, logs)
    if bases:
        base = _read_segments(spark, table_dir, bases)
    else:
        base = log_df.drop("_op", "_seq").filter(F.lit(False))
    return merge_overlay(base, log_df, [partition_col, key])


def compact_change_log(
    spark: SparkSession,
    table_dir: str,
    key: str,
    partition_col: str = "namespace",
    max_replans: int = 4,
) -> int:
    """Fold the change log into the base in ONE conflict-checked
    commit: log segments + the base segments of partitions the log
    touches are replaced by fresh tagged segments holding the overlay
    result. Untouched partitions never appear in the commit. No marker
    fence is needed: a concurrent compactor loses the CAS and re-plans
    or aborts with :class:`CommitConflictError`; change segments appended
    MID-compaction survive because they are not in the remove set (the
    next compaction folds them); a compactor dying at ANY point leaves
    only invisible staged segments for vacuum — never a torn table."""
    last: Exception | None = None
    for _ in range(max_replans):
        head = latest_version(table_dir)
        try:
            live = live_segments(table_dir, head)
        except FileNotFoundError:
            continue
        logs = [s for s in live if _is_log(s)]
        if not logs:
            return head
        log_df = _read_segments(spark, table_dir, logs)
        touched = {
            str(r[0])
            for r in log_df.select(partition_col).distinct().collect()
        }
        # Untagged base segments could hold any partition's rows; they
        # must join the fold wholesale or their rows would be dropped
        # with the remove set.
        fold_bases = [
            s
            for s in live
            if not _is_log(s)
            and (
                (tag := _partition_of(s, partition_col)) is None
                or tag in touched
            )
        ]
        if fold_bases:
            base = _read_segments(spark, table_dir, fold_bases)
        else:
            base = log_df.drop("_op", "_seq").filter(F.lit(False))
        merged = merge_overlay(base, log_df, [partition_col, key])
        new_rels = _stage_partition_segments(merged, table_dir, partition_col)
        try:
            return commit_segments(
                table_dir,
                added=new_rels,
                removed=fold_bases + logs,
                op="compact_log",
            )
        except CommitConflictError as e:
            _cleanup(table_dir, new_rels)
            last = e
    raise last if last is not None else CommitConflictError(table_dir)


def merge_into(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    key: str,
    partition_col: str = "namespace",
    matched: tuple = (("update", None, None),),
    insert: bool = True,
    insert_condition: str | None = None,
    not_matched_by_source: tuple = (),
    max_replans: int = 4,
) -> int:
    """SQL MERGE semantics (Delta/Iceberg ``MERGE INTO``) as ONE
    conflict-checked snapshot-log commit: the general form of
    :func:`upsert_by_key` (update-all + insert) and
    :func:`delete_by_key` (delete), with conditional clauses.

    ``matched`` is an ordered tuple of clauses
    ``(action, condition, set_map)`` with ``action`` in
    {"update", "delete"}; ``condition`` is a SQL boolean over the
    aliases ``t`` (target row) and ``s`` (source row), ``None`` =
    always; ``set_map`` maps target columns to SQL expressions over
    ``t``/``s`` (``None`` = take the whole source row). The FIRST
    clause whose condition holds wins — SQL MERGE clause-order
    semantics. Unmatched target rows always survive; unmatched source
    rows insert when ``insert`` (optionally gated by
    ``insert_condition`` over ``s``).

    ``not_matched_by_source`` (Delta 2.4's WHEN NOT MATCHED BY SOURCE)
    is an ordered tuple of ``(action, condition, set_map)`` clauses
    applied to TARGET rows with no source match; conditions and set
    maps may reference ``t`` only (there is no source row). An update
    clause here REQUIRES a set_map. Scale note: these clauses touch
    rows the source cannot name, so their presence disables segment
    pruning — the merge reads and rewrites every live segment, exactly
    the full-table-sync cost Delta documents for this clause shape.

    Row identity is ``(partition_col, key)``. A source with duplicate
    identities raises ``ValueError`` before anything stages — the
    Delta "multiple source rows matched" rule, because two clauses
    firing on one target row has no deterministic meaning.

    Scale shape: candidate segments prune exactly like the upsert —
    partition tags touched by the source, then recorded key min/max,
    then Bloom sidecars — so a merge whose source hits one partition
    reads and rewrites that partition only (untouched segments stay
    live, inputFiles-style). The clause logic itself is ONE full-outer
    join between the pruned target slice and the source, projected
    through a single CASE chain — no per-clause passes. Crash at any
    point leaves only invisible staged segments (vacuum fodder);
    concurrent same-partition writers lose the CAS and re-plan.

    Reference: MERGE is how the reference's per-document
    findOneAndUpdate/delete loops (models/*.js) batch into one
    set-oriented transactional write at engine scale.
    """
    dup = (
        source.groupBy(partition_col, key)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        r = dup[0]
        raise ValueError(
            "merge_into: source has duplicate identity "
            f"({partition_col}={r[0]!r}, {key}={r[1]!r}) — SQL MERGE "
            "forbids multiple source rows matching one target row"
        )
    for kind, _cond, _setm in matched:
        if kind not in ("update", "delete"):
            raise ValueError(f"merge_into: unknown clause action {kind!r}")
    for kind, _cond, setm in not_matched_by_source:
        if kind not in ("update", "delete"):
            raise ValueError(f"merge_into: unknown clause action {kind!r}")
        if kind == "update" and not setm:
            raise ValueError(
                "merge_into: a not-matched-by-source UPDATE needs a "
                "set_map — there is no source row to copy"
            )

    if not_matched_by_source:
        # Pruning is disabled below; don't pay the two source jobs
        # whose results would never be consulted.
        touched, slo, shi = set(), None, None
    else:
        touched = {
            str(r[0])
            for r in source.select(partition_col).distinct().collect()
        }
        slo, shi = source.agg(F.min(key), F.max(key)).first()
    last: Exception | None = None
    for _ in range(max_replans):
        head = latest_version(table_dir)
        try:
            live = live_segments(table_dir, head)
            stats = segment_stats(table_dir, head)
        except FileNotFoundError:
            continue
        _guard_no_log(live, table_dir, "merge_into")
        if not_matched_by_source:
            # These clauses act on rows the source cannot name: every
            # live segment may hold one, so pruning is unsound here.
            old = [s for s in live if not _is_log(s)]
        else:
            old = [
                s
                for s in live
                if not _is_log(s)
                and (tag := _partition_of(s, partition_col)) is not None
                and tag in touched
                and _stats_may_match(stats.get(s), key, slo, shi)
            ]
        if not not_matched_by_source and any(
            "bloom" in (stats.get(s) or {}) for s in old
        ):
            probe = _collect_probe_keys(source, key)
            old = [
                s
                for s in old
                if _bloom_any_match(stats.get(s), key, probe)
            ]
        if old:
            current = _read_segments(spark, table_dir, old)
        else:
            # Nothing can match: the merge degenerates to the insert
            # clause. The empty target still takes the TABLE's schema
            # (a zero-row read of one live segment — footer only, the
            # FALSE filter prunes every row group) so inserts cannot
            # drift the column set; a table with no live segments at
            # all borrows the source's shape.
            base = [s_ for s_ in live if not _is_log(s_)]
            current = (
                _read_segments(spark, table_dir, base[:1]).filter(
                    F.lit(False)
                )
                if base
                else source.filter(F.lit(False))
            )
        tcols = current.columns
        missing = [c for c in tcols if c not in source.columns]
        needs_full_row = insert or any(
            m is None and k == "update" for k, _c, m in matched
        )
        if missing and needs_full_row:
            raise ValueError(
                "merge_into: source lacks target columns "
                f"{missing} required by insert/update-all clauses"
            )

        t = current.withColumn("_te", F.lit(1)).alias("t")
        s = source.withColumn("_se", F.lit(1)).alias("s")
        on = (
            (F.col(f"t.{partition_col}") == F.col(f"s.{partition_col}"))
            & (F.col(f"t.{key}") == F.col(f"s.{key}"))
        )
        j = t.join(s, on, "full_outer")

        # One action label per row, clause order = priority order.
        ins_ok = (
            F.expr(insert_condition)
            if insert_condition is not None
            else F.lit(True)
        )
        act = F.when(
            F.col("t._te").isNull(),
            F.when(F.lit(insert) & ins_ok, F.lit("I")).otherwise(
                F.lit("X")
            ),
        )
        nmb = None
        for i, (kind, cond, _setm) in enumerate(not_matched_by_source):
            c = F.expr(cond) if cond is not None else F.lit(True)
            lab = ("V" if kind == "update" else "E") + str(i)
            nmb = (
                F.when(c, F.lit(lab))
                if nmb is None
                else nmb.when(c, F.lit(lab))
            )
        nmb = nmb.otherwise(F.lit("K")) if nmb is not None else F.lit("K")
        act = act.when(F.col("s._se").isNull(), nmb)
        for i, (kind, cond, _setm) in enumerate(matched):
            c = F.expr(cond) if cond is not None else F.lit(True)
            act = act.when(c, F.lit(f"{kind[0].upper()}{i}"))
        act = act.otherwise(F.lit("K"))
        j = j.withColumn("_act", act).filter(
            (F.col("_act") != "X")
            & ~F.col("_act").startswith("D")
            & ~F.col("_act").startswith("E")
        )

        outs = []
        for c in tcols:
            branches = []
            # The insert branch only exists when inserts can happen —
            # a dead `s.<c>` reference would still fail analysis when
            # the source legitimately lacks non-key target columns.
            if insert:
                branches.append(("I", F.col(f"s.{c}")))
            for i, (kind, _cond, setm) in enumerate(matched):
                if kind != "update":
                    continue
                if setm is None:
                    upd = F.col(f"s.{c}")
                elif c in setm:
                    upd = F.expr(setm[c])
                else:
                    upd = F.col(f"t.{c}")
                branches.append((f"U{i}", upd))
            for i, (kind, _cond, setm) in enumerate(
                not_matched_by_source
            ):
                if kind != "update" or c not in setm:
                    continue
                branches.append((f"V{i}", F.expr(setm[c])))
            if branches:
                e = None
                for label, val in branches:
                    cond = F.col("_act") == label
                    e = (
                        F.when(cond, val)
                        if e is None
                        else e.when(cond, val)
                    )
                e = e.otherwise(F.col(f"t.{c}"))
            else:
                e = F.col(f"t.{c}")
            outs.append(
                e.cast(current.schema[c].dataType).alias(c)
            )
        merged = j.select(*outs)
        new_rels = _stage_partition_segments(
            merged, table_dir, partition_col
        )
        try:
            return commit_segments(
                table_dir,
                added=new_rels,
                removed=old,
                op="merge",
                stats=_segment_key_stats(
                    table_dir, new_rels, key, spark=spark
                ),
                pre_commit=_constraints_pre_commit(
                    spark, table_dir, new_rels, removed=old,
                    # (partition, key) merge fold: UNIQUE constraints
                    # whose cols ⊇ the identity hold by construction;
                    # any other (e.g. email) is probed normally.
                    fold_identity=(partition_col, key),
                ),
            )
        except CommitConflictError as e:
            _cleanup(table_dir, new_rels)
            last = e
        except Exception:
            _cleanup(table_dir, new_rels)
            raise
    raise last if last is not None else CommitConflictError(table_dir)


#: Shared url-decoded input_file_name -> segment-dir identity (the
#: compact_snapshots / distributed-stats expression).
def _seg_of_file() -> F.Column:
    return F.coalesce(
        F.expr(
            "try_url_decode(regexp_extract("
            "input_file_name(), '^.*/data/([^/]+)/', 1))"
        ),
        F.regexp_extract(
            F.input_file_name(), r"^.*/data/([^/]+)/", 1
        ),
    )


def delete_where(
    spark: SparkSession,
    table_dir: str,
    condition: str,
    partition_col: str = "namespace",
    key: str | None = None,
    max_replans: int = 4,
) -> int:
    """Predicate delete (``DELETE FROM t WHERE <condition>``) as one
    conflict-checked commit — the retention/GDPR/TTL enforcement
    companion to :func:`delete_by_key` (which needs an explicit key
    list; this one takes an arbitrary row predicate).

    Two-phase copy-on-write with HIT-SET pruning: a probe pass finds
    which segments actually CONTAIN matching rows (grouped by the
    url-decoded ``input_file_name`` identity compaction uses), and
    only those rewrite — a delete of one partition's cold rows leaves
    every other physical segment live and untouched, however large
    the table. Matching no rows commits NOTHING (a no-op predicate
    must not churn versions). NULL-evaluating predicates keep the row
    (SQL DELETE semantics: only TRUE deletes), pinned by test.

    ``key`` optionally recomputes min/max stats (+ keeping pruning
    quality) for the rewritten segments. Crash anywhere leaves staged
    invisible segments for vacuum; concurrent writers on the same
    segments lose the CAS and this re-plans from the new head.
    """
    cond = F.expr(condition)
    last: Exception | None = None
    for _ in range(max_replans):
        head = latest_version(table_dir)
        try:
            live = live_segments(table_dir, head)
        except FileNotFoundError:
            continue
        _guard_no_log(live, table_dir, "delete_where")
        cands = [s for s in live if not _is_log(s)]
        if not cands:
            return head
        scan = _read_segments(spark, table_dir, cands)
        hits = {
            str(r[0])
            for r in scan.where(cond)
            .select(_seg_of_file().alias("_seg"))
            .distinct()
            .collect()
        }
        if not hits:
            return head
        by_name = {os.path.basename(r): r for r in cands}
        unmapped = hits - set(by_name)
        if unmapped:
            raise RuntimeError(
                f"delete_where: matched rows in unmapped segment "
                f"dirs {sorted(unmapped)} at {table_dir} — aborting "
                "rather than risking row loss"
            )
        old = sorted(by_name[h] for h in hits)
        survivors = _read_segments(spark, table_dir, old).where(
            ~F.coalesce(cond, F.lit(False))
        )
        new_rels = _stage_partition_segments(
            survivors, table_dir, partition_col
        )
        try:
            return commit_segments(
                table_dir,
                added=new_rels,
                removed=old,
                op="delete_where",
                stats=(
                    _segment_key_stats(
                        table_dir, new_rels, key, spark=spark
                    )
                    if key
                    else None
                ),
            )
        except CommitConflictError as e:
            _cleanup(table_dir, new_rels)
            last = e
    raise last if last is not None else CommitConflictError(table_dir)


def _stage_clustered_segments(
    df: DataFrame,
    table_dir: str,
    partition_col: str,
    bucket_col: str,
) -> list[str]:
    """Nested staging for clustered rewrites: one ``partitionBy(tag,
    bucket)`` job, then each (tag, bucket) leaf renames to its OWN
    tagged segment — so every output segment covers one cluster
    bucket's narrow key range and the manifest stats prune hard.
    Same crash posture as :func:`_stage_partition_segments` (staged
    junk is invisible vacuum fodder)."""
    stage_rel = os.path.join("data", f".stage-{uuid.uuid4().hex}")
    stage = os.path.join(table_dir, stage_rel)
    (
        df.withColumn(_PART_TMP, F.col(partition_col).cast("string"))
        .write.partitionBy(_PART_TMP, bucket_col)
        .parquet(stage)
    )
    prefix = _PART_TMP + "="
    rels: list[str] = []
    for tag_dir in sorted(os.listdir(stage)):
        if not tag_dir.startswith(prefix):
            continue
        val = unquote(tag_dir[len(prefix):])
        tag_path = os.path.join(stage, tag_dir)
        for bucket_dir in sorted(os.listdir(tag_path)):
            if not bucket_dir.startswith(bucket_col + "="):
                continue
            rel = os.path.join(
                "data",
                f"seg-{uuid.uuid4().hex}-{partition_col}="
                f"{quote(val, safe='')}",
            )
            os.rename(
                os.path.join(tag_path, bucket_dir),
                os.path.join(table_dir, rel),
            )
            rels.append(rel)
    shutil.rmtree(stage, ignore_errors=True)
    return rels


def zorder_rewrite(
    spark: SparkSession,
    table_dir: str,
    by: tuple,
    key: str | None = None,
    partition_col: str = "namespace",
    n_buckets: int = 8,
    max_replans: int = 4,
) -> int:
    """OPTIMIZE ... ZORDER BY for transactional tables (Delta's
    clustered rewrite): rewrite the base segments so each output
    segment covers a NARROW range of the clustering key(s), then let
    the existing manifest min/max stats (+ optional ``key`` stats
    recompute) turn every later keyed upsert/delete/merge probe into
    a 1-in-``n_buckets`` segment read instead of a full-table one.
    Binpack compaction (:func:`..snapshot_log.compact_snapshots`)
    fixes the FILE COUNT; this fixes the FILE-to-KEY-RANGE alignment
    — the two maintenance axes are orthogonal and compose.

    ``by`` is one column (range clustering — a straight sort bucket)
    or two (Morton-interleaved Z-order via operators/layout.py, the
    multi-dimensional trade: each dimension prunes somewhat instead
    of one pruning perfectly). Bucket CUT POINTS come from
    ``approxQuantile`` on the cluster value (one sampled-sketch scan,
    fully distributed), and rows bucket by comparison against the
    broadcast cuts — so the rewrite is scan → per-row bucket expr →
    one partitioned write, with NO single-task stage anywhere (an
    ``ntile`` over a global window would funnel the whole table
    through one task — the bottleneck this plan exists to avoid;
    ADVICE r8). Buckets cover disjoint half-open value ranges by
    construction, so the manifest min/max stats prune exactly as a
    perfect equi-depth split would; quantile error only skews bucket
    SIZES, never overlaps ranges. The swap is one conflict-checked
    rewrite commit: concurrent appends survive (post-CAS live set),
    concurrent rewriters lose cleanly and re-plan."""
    from functools import reduce

    from ..operators.layout import with_z_value

    if len(by) not in (1, 2):
        raise ValueError("zorder_rewrite: `by` takes 1 or 2 columns")
    last: Exception | None = None
    for _ in range(max_replans):
        head = latest_version(table_dir)
        try:
            live = live_segments(table_dir, head)
        except FileNotFoundError:
            continue
        _guard_no_log(live, table_dir, "zorder_rewrite")
        old = [s for s in live if not _is_log(s)]
        if not old:
            return head
        cur = _read_segments(spark, table_dir, old)
        if len(by) == 2:
            zed = with_z_value(cur, by[0], by[1], out_col="_zv")
        else:
            zed = cur.withColumn("_zv", F.col(by[0]))
        zed = zed.withColumn("_zvd", F.col("_zv").cast("double"))
        cuts = sorted(
            set(
                zed.stat.approxQuantile(
                    "_zvd",
                    [i / n_buckets for i in range(1, n_buckets)],
                    0.001,
                )
            )
        )
        bucket = (
            reduce(
                lambda a, b: a + b,
                [
                    (F.col("_zvd") > F.lit(c)).cast("int")
                    for c in cuts
                ],
            )
            if cuts
            else F.lit(0)
        )
        zed = (
            zed.withColumn(
                "_zb",
                # NULL cluster values sort first, like ntile over an
                # ascending window did.
                F.coalesce(bucket, F.lit(0)),
            )
            # One task per bucket, sorted within, so each leaf file is
            # written in cluster order (page-level stats stay tight).
            .repartition(n_buckets, F.col("_zb"))
            .sortWithinPartitions("_zv", *by)
            .drop("_zv", "_zvd")
        )
        new_rels = _stage_clustered_segments(
            zed, table_dir, partition_col, "_zb"
        )
        try:
            return commit_segments(
                table_dir,
                added=new_rels,
                removed=old,
                op="zorder",
                stats=(
                    _segment_key_stats(
                        table_dir, new_rels, key, spark=spark
                    )
                    if key
                    else None
                ),
            )
        except CommitConflictError as e:
            _cleanup(table_dir, new_rels)
            last = e
    raise last if last is not None else CommitConflictError(table_dir)


def table_changes(
    spark: SparkSession,
    table_dir: str,
    v_from: int,
    v_to: int | None = None,
    key: str = "vec_id",
    partition_col: str = "namespace",
) -> DataFrame:
    """Change data feed between two versions (Delta CDF's read shape,
    derived rather than stored): every row change in ``(v_from,
    v_to]`` as ``_change_type`` in {insert, delete, update_preimage,
    update_postimage} plus the full row image.

    The scale property: changes are computed from the SEGMENT DELTA,
    not two table reads — only segments that entered or left the live
    set between the versions are scanned, so a one-partition upsert's
    feed reads two segments however large the table is. Identity is
    (partition_col, key); a key present on both sides with an
    IDENTICAL full row is no change at all, which is what makes pure
    rewrites (binpack compaction, Z-order clustering) correctly
    produce an EMPTY feed — data-invariant maintenance is invisible
    to downstream consumers, pinned by test.

    Consumers that need exactly-once incremental processing should
    prefer the streaming change feed (sources/datasource.py) for
    append-mostly tables; this is the RANGE read for keyed-mutation
    tables (audits, slowly-changing-dimension rebuilds, downstream
    merge sources)."""
    if v_to is None:
        v_to = latest_version(table_dir)
    old_live = {
        s for s in live_segments(table_dir, v_from) if not _is_log(s)
    }
    new_live = {
        s for s in live_segments(table_dir, v_to) if not _is_log(s)
    }
    gone = sorted(old_live - new_live)
    came = sorted(new_live - old_live)
    if not gone and not came:
        # Version range touched nothing (or only metadata).
        empty = _read_segments(
            spark, table_dir, sorted(new_live or old_live)[:1]
        ).filter(F.lit(False)) if (new_live or old_live) else None
        if empty is None:
            raise ValueError(
                f"table_changes: no segments at either version of "
                f"{table_dir}"
            )
        return empty.withColumn("_change_type", F.lit(""))
    before = (
        _read_segments(spark, table_dir, gone)
        if gone
        else _read_segments(spark, table_dir, sorted(new_live)[:1])
        .filter(F.lit(False))
    )
    after = (
        _read_segments(spark, table_dir, came)
        if came
        else before.filter(F.lit(False))
    )
    cols = before.columns
    b = before.alias("b").withColumn("_be", F.lit(1))
    a = after.alias("a").withColumn("_ae", F.lit(1))
    on = (
        (F.col(f"b.{partition_col}") == F.col(f"a.{partition_col}"))
        & (F.col(f"b.{key}") == F.col(f"a.{key}"))
    )
    j = b.join(a, on, "full_outer")
    same_row = None
    for c in cols:
        eq = F.col(f"b.{c}").eqNullSafe(F.col(f"a.{c}"))
        same_row = eq if same_row is None else (same_row & eq)

    # ONE pass over the join: each joined row maps to an array of 0-2
    # typed change structs, exploded in place. The earlier
    # union-of-four-selections shape re-executed the (potentially
    # large) diff join once per change type; explode(NULL) emits
    # nothing, so unchanged rows vanish for free.
    def img(kind: str, side: str):
        return F.struct(
            F.lit(kind).alias("_change_type"),
            *[F.col(f"{side}.{c}").alias(c) for c in cols],
        )

    arr = (
        F.when(F.col("_ae").isNull(), F.array(img("delete", "b")))
        .when(F.col("_be").isNull(), F.array(img("insert", "a")))
        .when(
            ~same_row,
            F.array(
                img("update_preimage", "b"),
                img("update_postimage", "a"),
            ),
        )
    )  # unchanged rows: NULL array -> explode drops them
    ex = j.select(F.explode(arr).alias("_ch"))
    return ex.select(
        F.col("_ch._change_type").alias("_change_type"),
        *[F.col(f"_ch.{c}").alias(c) for c in cols],
    )


#: Manifest meta key holding the CHECK-constraint map (name -> SQL
#: boolean predicate over the table's columns).
CONSTRAINTS_KEY = "constraints"


class ConstraintViolationError(ValueError):
    pass


def table_constraints(table_dir: str) -> dict[str, str]:
    """Effective CHECK constraints at the head (newest-wins meta)."""
    import json as _json

    raw = table_meta(table_dir).get(CONSTRAINTS_KEY)
    return _json.loads(raw) if raw else {}


def _head_df_at(
    spark: SparkSession, table_dir: str, head: int
) -> DataFrame | None:
    """The table's full contents AT a specific version, for ADD-time
    constraint validation (None = empty, vacuously satisfied).
    Schema-tracked tables (sources/evolution.py) read through the
    declared schema so heterogeneous segments backfill typed NULLs
    instead of failing analysis on a column their files predate."""
    try:
        if table_meta(table_dir, head).get("schema") is not None:
            from .evolution import read_evolved

            return read_evolved(spark, table_dir, head)
        return read_table(spark, table_dir, head)
    except ValueError:
        return None


def _revalidating_hook(validate):
    """ADD CONSTRAINT pre-commit hook: runs ``validate(head)`` on
    EVERY CAS attempt, memoized per head — so a writer whose commit
    lands between one attempt's validation and the CAS (the writer's
    own pre_commit hook did not see the new rule yet) is re-checked
    before the rule is published. Without this the ADD's retry would
    blind-replay the metadata commit over data the rule forbids —
    the exact 'guarantee becomes a lie' the docstrings promise to
    prevent (ADVICE r8)."""
    state = {"ok_at": None}

    def hook(head: int) -> None:
        if state["ok_at"] == head:
            return
        validate(head)
        state["ok_at"] = head

    return hook


def add_check_constraint(
    spark: SparkSession, table_dir: str, name: str, predicate: str
) -> int:
    """Delta-style ALTER TABLE ADD CONSTRAINT CHECK: validates the
    EXISTING table (a constraint the data already violates must not
    be addable — it would make the guarantee a lie), then publishes
    the constraint map as a metadata-only commit. Validation runs
    inside the commit's per-CAS-attempt hook against the head each
    attempt will publish over, so a write racing the ADD is checked
    too — whichever of the two commits second sees the other (the
    writer's hook re-reads the constraint map; the ADD's hook re-reads
    the data). From the ADD's version on, every row-introducing
    transactional write (append_partitioned, upsert_by_key[_global],
    merge_into) validates its STAGED output before the CAS and
    refuses the commit on violation — a constraint holds for every
    committed version at or after its own, which is also what time
    travel observes."""
    import json as _json

    cur = table_constraints(table_dir)
    cur[name] = predicate

    def validate(head: int) -> None:
        head_df = _head_df_at(spark, table_dir, head)
        if head_df is None:
            return
        bad = head_df.where(
            ~F.coalesce(F.expr(predicate), F.lit(False))
        ).count()
        if bad:
            raise ConstraintViolationError(
                f"cannot add constraint {name!r}: {bad} existing "
                f"row(s) violate ({predicate})"
            )

    return commit_segments(
        table_dir,
        added=[],
        removed=[],
        op="add_constraint",
        meta={CONSTRAINTS_KEY: _json.dumps(cur)},
        pre_commit=_revalidating_hook(validate),
    )


def drop_check_constraint(table_dir: str, name: str) -> int:
    import json as _json

    cur = table_constraints(table_dir)
    cur.pop(name, None)
    return commit_segments(
        table_dir,
        added=[],
        removed=[],
        op="drop_constraint",
        meta={CONSTRAINTS_KEY: _json.dumps(cur)},
    )


def check_violations(staged: DataFrame, cons: dict[str, str],
                     where: str) -> None:
    """Shared CHECK core (transactional + evolution write paths): one
    aggregated scan of ``staged`` counting rows each predicate does
    not PROVABLY satisfy (NULL = violation, fail-closed); raises
    :class:`ConstraintViolationError` naming every violated rule."""
    checks = [
        F.sum(
            (~F.coalesce(F.expr(pred), F.lit(False))).cast("long")
        ).alias(name)
        for name, pred in sorted(cons.items())
    ]
    row = staged.agg(*checks).first()
    bad = {
        name: int(row[name])
        for name, _ in sorted(cons.items())
        if row[name]
    }
    if bad:
        raise ConstraintViolationError(
            f"write violates CHECK constraint(s) {bad} at {where}"
        )


#: Manifest meta key holding the FOREIGN-KEY map
#: (name -> {col, parent, parent_col}). Parents are referenced by
#: table PATH — the engine's tables are directory-addressed, so the
#: reference is as stable as the table itself.
FOREIGN_KEYS_KEY = "foreign_keys"


def table_foreign_keys(table_dir: str) -> dict[str, dict]:
    """Effective FOREIGN KEY constraints at the head."""
    import json as _json

    raw = table_meta(table_dir).get(FOREIGN_KEYS_KEY)
    return _json.loads(raw) if raw else {}


def _fk_orphans(
    spark: SparkSession, df: DataFrame, fk: dict
) -> int:
    """Rows of ``df`` whose non-NULL ``col`` has no match in the
    parent's ``parent_col`` (SQL FK semantics: NULLs pass). The probe
    is one broadcast LEFT ANTI against the parent's DISTINCT key
    column — dimension-sized by assumption, the same shape as
    operators/expectations' referential-integrity check."""
    parent_keys = (
        read_table(spark, fk["parent"])
        .select(F.col(fk["parent_col"]).alias("_pk"))
        .distinct()
    )
    return (
        df.select(F.col(fk["col"]).alias("_ck"))
        .where(F.col("_ck").isNotNull())
        .join(
            F.broadcast(parent_keys),
            F.col("_ck") == F.col("_pk"),
            "left_anti",
        )
        .count()
    )


def add_foreign_key(
    spark: SparkSession,
    table_dir: str,
    name: str,
    col: str,
    parent_dir: str,
    parent_col: str,
) -> int:
    """ADD CONSTRAINT ... FOREIGN KEY (the referential rule even
    Delta leaves to expectations): validates the EXISTING table
    against the parent's CURRENT keys first, then publishes the FK
    map as a metadata-only commit. From that version on every
    row-introducing write validates its staged rows against the
    parent HEAD inside the same per-CAS-attempt hook as CHECK
    constraints — and the ADD's own existing-data validation runs
    inside ITS commit hook per attempt, so a child write racing the
    ADD is re-checked before the rule publishes. Scope (documented,
    not hidden): the parent is read at enforcement time — a later
    parent DELETE is not blocked (no reverse trigger), which is the
    expectations-suite's job to audit; enforcement here stops orphans
    from ever being WRITTEN."""
    import json as _json

    fk = {"col": col, "parent": parent_dir, "parent_col": parent_col}
    cur = table_foreign_keys(table_dir)
    cur[name] = fk

    def validate(head: int) -> None:
        head_df = _head_df_at(spark, table_dir, head)
        if head_df is None:
            return
        bad = _fk_orphans(spark, head_df, fk)
        if bad:
            raise ConstraintViolationError(
                f"cannot add foreign key {name!r}: {bad} existing "
                f"row(s) have no parent in {parent_dir}:{parent_col}"
            )

    return commit_segments(
        table_dir,
        added=[],
        removed=[],
        op="add_constraint",
        meta={FOREIGN_KEYS_KEY: _json.dumps(cur)},
        pre_commit=_revalidating_hook(validate),
    )


def drop_foreign_key(table_dir: str, name: str) -> int:
    import json as _json

    cur = table_foreign_keys(table_dir)
    cur.pop(name, None)
    return commit_segments(
        table_dir,
        added=[],
        removed=[],
        op="drop_constraint",
        meta={FOREIGN_KEYS_KEY: _json.dumps(cur)},
    )


#: Manifest meta key holding the UNIQUE-constraint map
#: (name -> {cols: [...]}).
UNIQUE_KEYS_KEY = "unique_keys"


def table_unique_constraints(table_dir: str) -> dict[str, dict]:
    """Effective UNIQUE constraints at the head."""
    import json as _json

    raw = table_meta(table_dir).get(UNIQUE_KEYS_KEY)
    return _json.loads(raw) if raw else {}


def _non_null_keyed(df: DataFrame, cols: list[str]) -> DataFrame:
    """Rows participating in a UNIQUE relation: SQL UNIQUE ignores any
    row whose key is (even partially, for composite keys) NULL — any
    number of NULL-keyed rows coexist under the constraint. Filtering
    them FIRST matters because ``groupBy`` treats NULLs as equal, so an
    unfiltered duplicate check would wrongly refuse two NULL-keyed
    rows (confirmed-bug fix, VERDICT r8 #1)."""
    cond = None
    for c in cols:
        nn = F.col(c).isNotNull()
        cond = nn if cond is None else (cond & nn)
    return df.where(cond)


def _unique_violation(
    spark: SparkSession,
    table_dir: str,
    staged: DataFrame,
    exclude: set[str],
    cols: list[str],
    head: int,
) -> str | None:
    """UNIQUE check for one staged write: (a) the staged rows may not
    repeat the key among themselves; (b) no staged key may already be
    live outside this commit's own segments (``exclude`` = the write's
    added AND removed rels, so a rewrite-shaped commit is compared
    against the segments that SURVIVE it, never against rows it is
    itself replacing). NULL keys are ignored throughout, SQL UNIQUE
    semantics (see :func:`_non_null_keyed`). Scale shape for (b):
    candidate segments prune exactly like an upsert — recorded key
    min/max against the staged range, then Bloom sidecars against the
    staged distinct keys — so an append whose keys sit in a fresh
    range reads NO existing data files before passing."""
    keyed = _non_null_keyed(staged, cols)
    dup = (
        keyed.groupBy(*cols)
        .count()
        .where(F.col("count") > 1)
        .limit(1)
        .count()
    )
    if dup:
        return "duplicate keys within the write itself"
    key = cols[0]
    slo, shi = keyed.agg(F.min(key), F.max(key)).first()
    if slo is None:
        return None  # no non-NULL keys staged: nothing to check
    live = live_segments(table_dir, head)
    stats = segment_stats(table_dir, head)
    cands = [
        s
        for s in live
        if not _is_log(s)
        and s not in exclude
        and _stats_may_match(stats.get(s), key, slo, shi)
    ]
    if cands and any("bloom" in (stats.get(s) or {}) for s in cands):
        probe = _collect_probe_keys(keyed, key)
        cands = [
            s
            for s in cands
            if _bloom_any_match(stats.get(s), key, probe)
        ]
    if not cands:
        return None
    existing = _read_segments(spark, table_dir, cands).select(*cols)
    clash = (
        keyed.select(*cols)
        .join(existing, on=cols, how="inner")
        .limit(1)
        .count()
    )
    if clash:
        return "key already present in the table"
    return None


def add_unique_constraint(
    spark: SparkSession,
    table_dir: str,
    name: str,
    cols: list[str] | tuple,
) -> int:
    """ADD CONSTRAINT ... UNIQUE: validates the existing table (a key
    appearing twice makes the rule unaddable), then publishes the map
    metadata-only; validation runs inside the commit's
    per-CAS-attempt hook so a write racing the ADD is re-checked.
    From then on every row-introducing write is checked (within the
    write and against pruned surviving live segments) inside the
    writer's per-CAS-attempt hook; keyed upserts/merges skip only the
    constraints their fold identity already guarantees (identity
    ⊆ constraint cols). NULL keys are ignored, SQL UNIQUE semantics:
    any number of rows whose key is (even partially) NULL coexist."""
    import json as _json

    cols = list(cols)

    def validate(head: int) -> None:
        head_df = _head_df_at(spark, table_dir, head)
        if head_df is None:
            return
        dup = (
            _non_null_keyed(head_df, cols)
            .groupBy(*cols)
            .count()
            .where(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ConstraintViolationError(
                f"cannot add unique constraint {name!r}: existing "
                f"rows repeat {cols}"
            )

    cur = table_unique_constraints(table_dir)
    cur[name] = {"cols": cols}
    return commit_segments(
        table_dir,
        added=[],
        removed=[],
        op="add_constraint",
        meta={UNIQUE_KEYS_KEY: _json.dumps(cur)},
        pre_commit=_revalidating_hook(validate),
    )


def drop_unique_constraint(table_dir: str, name: str) -> int:
    import json as _json

    cur = table_unique_constraints(table_dir)
    cur.pop(name, None)
    return commit_segments(
        table_dir,
        added=[],
        removed=[],
        op="drop_constraint",
        meta={UNIQUE_KEYS_KEY: _json.dumps(cur)},
    )


def _constraints_pre_commit(
    spark: SparkSession,
    table_dir: str,
    new_rels: list[str],
    removed: list[str] | None = None,
    fold_identity: tuple | None = None,
):
    """Per-CAS-attempt enforcement hook for
    :func:`~.snapshot_log.commit_segments`: re-reads the constraint
    map on EVERY attempt, so a constraint committed between a
    writer's staging and its winning CAS is still enforced on that
    writer (the OCC metadata-revalidation Delta applies — without
    this, an in-flight append could land rows violating a rule whose
    ADD already committed). The staged scan is memoized per distinct
    constraint map, so the common no-conflict path pays it at most
    once — and constraint-free tables pay one metadata read.

    ``removed`` (rewrite-shaped commits) excludes the segments this
    commit replaces from the UNIQUE live-clash probe — staged
    survivors must not clash with their own pre-images.
    ``fold_identity`` names the column tuple a keyed write folds on;
    a UNIQUE constraint whose columns form a SUPERSET of the identity
    is then guaranteed by construction and skips the probe (identity
    ⊆ cols is the sound direction: fold-unique on (p, k) implies
    unique on (p, k, extra) but NOT on (k) alone, which a second
    partition may repeat — so everything else is probed normally)."""
    state = {"ok_for": None}
    identity = set(fold_identity) if fold_identity else None
    exclude = set(new_rels) | set(removed or ())

    def hook(head: int) -> None:
        import json as _json

        cons = table_constraints(table_dir)
        fks = table_foreign_keys(table_dir)
        uniqs = {
            name: u
            for name, u in table_unique_constraints(table_dir).items()
            if identity is None or not identity <= set(u["cols"])
        }
        if (not cons and not fks and not uniqs) or not new_rels:
            return
        key = _json.dumps([cons, fks, uniqs], sort_keys=True)
        if state["ok_for"] == key:
            return
        staged = _read_segments(spark, table_dir, new_rels)
        if cons:
            check_violations(staged, cons, table_dir)
        for name, fk in sorted(fks.items()):
            bad = _fk_orphans(spark, staged, fk)
            if bad:
                raise ConstraintViolationError(
                    f"write violates FOREIGN KEY {name!r}: {bad} "
                    f"row(s) have no parent in "
                    f"{fk['parent']}:{fk['parent_col']}"
                )
        for name, u in sorted(uniqs.items()):
            why = _unique_violation(
                spark, table_dir, staged, exclude, u["cols"], head
            )
            if why:
                raise ConstraintViolationError(
                    f"write violates UNIQUE {name!r}: {why}"
                )
        # UNIQUE is not memoized against a head change (its check is
        # head-relative); CHECK/FK are. Memoize only when no uniques.
        if not uniqs:
            state["ok_for"] = key

    return hook
