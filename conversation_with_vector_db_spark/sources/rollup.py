"""Continuous aggregate (hypertable rollup): an incrementally
maintained time-bucket rollup TABLE over an append-mostly snapshot-log
source — the TimescaleDB continuous-aggregate / materialized-view
maintenance pattern, built from this engine's own log primitives.

Recomputing a 100 TB table's hourly rollup on every refresh is the
thing this exists to avoid. The snapshot log makes the cheap path
safe: segments are immutable and manifests are deltas, so the rows
added between source versions ``v_done`` and ``v_head`` are EXACTLY
the segments in ``live(v_head) - live(v_done)`` — provided nothing
was removed. Refresh therefore:

* reads ONLY the new segments, folds them to per-bucket PARTIALS
  (count / sum / min / max — the classic mergeable aggregates;
  avg = sum/count at read), and appends one tiny partial segment to
  the rollup table;
* publishes ``rollup_source_version = v_head`` in the SAME commit's
  ``meta`` (atomic: no crash point leaves partials observable
  without their watermark or vice versa) plus a ``txn`` tag so a
  crashed-and-retried refresh replays as a no-op;
* detects ANY removed source segment (compaction, rewrite, delete —
  ``live(v_done) - live(v_head)`` non-empty, or ``v_done`` already
  vacuumed) and falls back to a FULL rebuild in one rewrite-shaped
  commit. Appends commute with the delta trick; removals don't, and
  guessing would double- or under-count.

Reads merge partials with one tiny groupBy (the rollup table holds
buckets, not rows). Repeated refreshes append small partial segments;
``compact_snapshots`` on the rollup table folds them physically —
the read result is invariant (pinned by test).

Single-refresher-per-rollup assumption, same as Delta's
single-writer-per-app txn protocol: concurrent refreshes of one
rollup are not fenced against each other (the txn tag makes crashed
RETRIES idempotent, not parallel writers).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .snapshot_log import (
    _write_segment,
    commit_segments,
    create_table,
    last_txn_version,
    latest_version,
    live_segments,
    read_segments,
    read_snapshot,
    recorded_schema,
    table_meta,
)

TXN_APP = "rollup_refresh"
US_PER_SECOND = 1_000_000


def _partials(
    df: DataFrame, ts_col: str, value_col: str, bucket_seconds: int
) -> DataFrame:
    """Per-bucket mergeable partials. Buckets are integer epoch-bucket
    ids (exact cross-engine arithmetic — no timestamp-type round
    trips in the stored table)."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    bucket = F.floor(
        us / F.lit(bucket_seconds * US_PER_SECOND).cast("long")
    ).cast("long")
    return (
        df.select(bucket.alias("bucket"), F.col(value_col).alias("_v"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_v").alias("total"),
            F.min("_v").alias("vmin"),
            F.max("_v").alias("vmax"),
        )
    )


def rollup_refresh(
    spark: SparkSession,
    source_dir: str,
    rollup_dir: str,
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_seconds: int = 3600,
) -> dict:
    """Bring ``rollup_dir`` up to the source head. Returns a report:
    ``{"mode": "noop"|"incremental"|"full", "source_version": int,
    "segments_read": int}``."""
    v_head = latest_version(source_dir)
    create_table(rollup_dir)

    meta = table_meta(rollup_dir)
    v_done = meta.get("rollup_source_version")
    if v_done is not None and int(v_done) >= v_head:
        return {"mode": "noop", "source_version": v_head,
                "segments_read": 0}
    prev_txn = last_txn_version(rollup_dir, TXN_APP)
    if prev_txn is not None and prev_txn >= v_head:
        return {"mode": "noop", "source_version": v_head,
                "segments_read": 0}

    head_live = live_segments(source_dir, v_head)
    mode = "full"
    new_segs = head_live
    if v_done is not None:
        try:
            old_live = live_segments(source_dir, int(v_done))
            if set(old_live) - set(head_live):
                mode = "full"  # removal: compaction/rewrite/delete
            else:
                mode = "incremental"
                new_segs = sorted(set(head_live) - set(old_live))
        except FileNotFoundError:
            mode = "full"  # v_done vacuumed away: delta unknowable

    rollup_live = live_segments(rollup_dir, latest_version(rollup_dir))
    commit_meta = {"rollup_source_version": v_head}
    if mode == "incremental" and not new_segs:
        # Source advanced by metadata-only commits: move the watermark.
        commit_segments(
            rollup_dir, added=[], removed=[], op="rollup_noop",
            txn=(TXN_APP, v_head), meta=commit_meta,
        )
        return {"mode": "incremental", "source_version": v_head,
                "segments_read": 0}

    if mode == "incremental":
        src = read_segments(
            spark, source_dir, new_segs,
            recorded_schema(source_dir, v_head),
        )
        part = _partials(src, ts_col, value_col, bucket_seconds)
        rel = _write_segment(part, rollup_dir)
        commit_segments(
            rollup_dir, added=[rel], removed=[], op="rollup_delta",
            txn=(TXN_APP, v_head), meta=commit_meta,
        )
        return {"mode": "incremental", "source_version": v_head,
                "segments_read": len(new_segs)}

    part = _partials(
        read_snapshot(spark, source_dir, v_head),
        ts_col, value_col, bucket_seconds,
    )
    rel = _write_segment(part, rollup_dir)
    commit_segments(
        rollup_dir, added=[rel], removed=rollup_live, op="rollup_full",
        txn=(TXN_APP, v_head), meta=commit_meta,
    )
    return {"mode": "full", "source_version": v_head,
            "segments_read": len(head_live)}


def rollup_read(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """Merged rollup: (bucket, n_events, total, vmin, vmax, avg) —
    one tiny groupBy over bucket-level partial rows."""
    p = read_snapshot(spark, rollup_dir)
    return (
        p.groupBy("bucket")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.sum("total").alias("total"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
        )
        .withColumn("avg", F.col("total") / F.col("n_events"))
    )


# ---------------------------------------------------------------------------
# CDC-driven incremental view maintenance: the mutation-tolerant form.
# ---------------------------------------------------------------------------

IVM_TXN_APP = "ivm_refresh"


def _segment_rows(table_dir: str, rel: str) -> int:
    """Row count of a just-written segment from parquet FOOTERS only
    (no Spark job)."""
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(os.path.join(table_dir, rel)):
        for name in files:
            if name.endswith(".parquet") and not name.startswith(
                (".", "_")
            ):
                total += pq.ParquetFile(
                    os.path.join(root, name)
                ).metadata.num_rows
    return total


def ivm_refresh(
    spark: SparkSession,
    source_dir: str,
    view_dir: str,
    group_col: str = "namespace",
    value_col: str = "label",
    key: str = "vec_id",
    partition_col: str = "namespace",
) -> dict:
    """Incremental view maintenance over a KEYED-MUTATION source: a
    grouped count/sum aggregate kept current through upserts, deletes,
    merges and restores WITHOUT the full rebuild :func:`rollup_refresh`
    must fall back to on any removal.

    The classic IVM move (deferred view maintenance with delta
    relations): the change feed between the view's watermark and the
    source head (:func:`~.transactional.table_changes` — computed from
    the SEGMENT DELTA, so only touched segments are read) folds to
    SIGNED per-group partials — insert/update_postimage contribute
    (+1, +v), delete/update_preimage contribute (-1, -v); a row whose
    GROUP moved subtracts from the old group and adds to the new one
    through its pre/post pair. One tiny partial segment appends per
    refresh; the watermark rides the same commit's ``meta`` and a
    ``txn`` tag makes crashed retries no-ops (the
    :func:`rollup_refresh` atomicity contract, unchanged).

    Only LINEAR aggregates can be maintained this way — a deleted
    minimum cannot be retracted from a min partial — which is exactly
    the restriction every IVM system documents; min/max stay with the
    append-only rollup or a full rebuild. Pure rewrites (compaction,
    Z-order) net to an EMPTY feed and move the watermark; a vacuumed
    watermark version falls back to one full rebuild. Groups netted to
    zero rows vanish at read (``HAVING n > 0``). Returns
    ``{"mode": "noop"|"incremental"|"full", "source_version": v}``."""
    from .transactional import table_changes

    v_head = latest_version(source_dir)
    create_table(view_dir)

    meta = table_meta(view_dir)
    v_done = meta.get("ivm_source_version")
    if v_done is not None and int(v_done) >= v_head:
        return {"mode": "noop", "source_version": v_head}
    prev_txn = last_txn_version(view_dir, IVM_TXN_APP)
    if prev_txn is not None and prev_txn >= v_head:
        return {"mode": "noop", "source_version": v_head}

    commit_meta = {"ivm_source_version": v_head}
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"),
        F.lit(1),
    ).otherwise(F.lit(-1))

    if v_done is not None:
        try:
            ch = table_changes(
                spark, source_dir, int(v_done), v_head,
                key=key, partition_col=partition_col,
            )
        except (FileNotFoundError, ValueError):
            v_done = None  # watermark vacuumed: delta unknowable
        else:
            part = (
                ch.where(F.col("_change_type") != "")
                .select(
                    F.col(group_col).alias("grp"),
                    sign.alias("_s"),
                    F.col(value_col).alias("_v"),
                )
                .groupBy("grp")
                .agg(
                    F.sum("_s").cast("long").alias("n"),
                    F.sum(F.col("_s") * F.col("_v")).alias("total"),
                )
                .where((F.col("n") != 0) | (F.col("total") != 0))
            )
            # Write first, probe the FOOTER for emptiness: the diff
            # is the expensive plan here, and a limit(1).count()
            # pre-check would execute it twice (once to test, once
            # to write).
            rel = _write_segment(part, view_dir)
            if _segment_rows(view_dir, rel) == 0:
                import shutil

                shutil.rmtree(
                    os.path.join(view_dir, rel), ignore_errors=True
                )
                commit_segments(
                    view_dir, added=[], removed=[], op="ivm_noop",
                    txn=(IVM_TXN_APP, v_head), meta=commit_meta,
                )
                return {"mode": "incremental",
                        "source_version": v_head}
            commit_segments(
                view_dir, added=[rel], removed=[], op="ivm_delta",
                txn=(IVM_TXN_APP, v_head), meta=commit_meta,
            )
            return {"mode": "incremental", "source_version": v_head}

    view_live = live_segments(view_dir, latest_version(view_dir))
    part = (
        read_snapshot(spark, source_dir, v_head)
        .select(
            F.col(group_col).alias("grp"),
            F.col(value_col).alias("_v"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_v").alias("total"),
        )
    )
    rel = _write_segment(part, view_dir)
    commit_segments(
        view_dir, added=[rel], removed=view_live, op="ivm_full",
        txn=(IVM_TXN_APP, v_head), meta=commit_meta,
    )
    return {"mode": "full", "source_version": v_head}


def ivm_refresh_minmax(
    spark: SparkSession,
    source_dir: str,
    view_dir: str,
    group_col: str = "namespace",
    value_col: str = "label",
    key: str = "vec_id",
    partition_col: str = "namespace",
) -> dict:
    """IVM for the NON-linear aggregates: a consolidated
    (grp, n_rows, total, vmin, vmax) view maintained under keyed
    mutations. count/sum fold linearly from the change feed exactly
    like :func:`ivm_refresh`; min/max cannot retract, so the refresh
    applies the classic bounded-rescan rule (the Materialize /
    view-maintenance-literature treatment):

    * inserts only EXTEND extrema: new_min = min(cur, ins_min) — no
      rescan;
    * a delete whose value is strictly INSIDE the current extrema
      cannot move them — no rescan;
    * only a group whose deleted/preimage value EQUALS its current
      extremum (or whose rows all vanished) is rescanned, and the
      rescan is GROUP-LOCAL: the source read prunes to that group's
      partition at the segment list (``group_col`` ==
      ``partition_col`` is the layout this is designed for), so the
      cost is one partition, not the table.

    The view is a consolidated table (one row per group), rewritten
    whole each refresh — group-sized, so the rewrite is metadata-ish
    next to any source scan. Watermark + txn ride the commit like
    the linear form. Returns ``{"mode": ..., "source_version": v,
    "rescanned_groups": [...]}``."""
    from .transactional import read_table, table_changes

    v_head = latest_version(source_dir)
    create_table(view_dir)

    meta = table_meta(view_dir)
    v_done = meta.get("ivm_source_version")
    if v_done is not None and int(v_done) >= v_head:
        return {"mode": "noop", "source_version": v_head,
                "rescanned_groups": []}
    prev_txn = last_txn_version(view_dir, IVM_TXN_APP)
    if prev_txn is not None and prev_txn >= v_head:
        return {"mode": "noop", "source_version": v_head,
                "rescanned_groups": []}

    commit_meta = {"ivm_source_version": v_head}
    view_live = live_segments(view_dir, latest_version(view_dir))

    def _full() -> dict:
        consolidated = (
            read_table(spark, source_dir, v_head)
            .select(
                F.col(group_col).alias("grp"),
                F.col(value_col).alias("_v"),
            )
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("_v").alias("total"),
                F.min("_v").alias("vmin"),
                F.max("_v").alias("vmax"),
            )
        )
        rel = _write_segment(consolidated, view_dir)
        commit_segments(
            view_dir, added=[rel], removed=view_live, op="ivm_full",
            txn=(IVM_TXN_APP, v_head), meta=commit_meta,
        )
        return {"mode": "full", "source_version": v_head,
                "rescanned_groups": []}

    if v_done is None:
        return _full()
    try:
        ch = table_changes(
            spark, source_dir, int(v_done), v_head,
            key=key, partition_col=partition_col,
        )
    except (FileNotFoundError, ValueError):
        return _full()

    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"),
        F.lit(1),
    ).otherwise(F.lit(-1))
    ins = F.col("_s") == 1
    delta_rows = (
        ch.where(F.col("_change_type") != "")
        .select(
            F.col(group_col).alias("grp"),
            sign.alias("_s"),
            F.col(value_col).alias("_v"),
        )
        .groupBy("grp")
        .agg(
            F.sum("_s").cast("long").alias("dn"),
            F.sum(F.col("_s") * F.col("_v")).alias("dtotal"),
            F.min(F.when(ins, F.col("_v"))).alias("ins_min"),
            F.max(F.when(ins, F.col("_v"))).alias("ins_max"),
            F.min(F.when(~ins, F.col("_v"))).alias("del_min"),
            F.max(F.when(~ins, F.col("_v"))).alias("del_max"),
        )
        .collect()
    )  # group-sized: one row per TOUCHED group
    if not delta_rows:
        commit_segments(
            view_dir, added=[], removed=[], op="ivm_noop",
            txn=(IVM_TXN_APP, v_head), meta=commit_meta,
        )
        return {"mode": "incremental", "source_version": v_head,
                "rescanned_groups": []}

    cur = {
        r["grp"]: r
        for r in read_snapshot(spark, view_dir).collect()
    }  # the view IS group-sized; this is a catalog-scale collect
    out: dict = {
        g: dict(n_rows=r["n_rows"], total=r["total"],
                vmin=r["vmin"], vmax=r["vmax"])
        for g, r in cur.items()
    }
    rescan: list = []
    for d in delta_rows:
        g = d["grp"]
        prev = out.get(
            g, dict(n_rows=0, total=0, vmin=None, vmax=None)
        )
        n = prev["n_rows"] + d["dn"]
        if n <= 0:
            out.pop(g, None)
            continue
        total = (prev["total"] or 0) + (d["dtotal"] or 0)
        vmin, vmax = prev["vmin"], prev["vmax"]
        if prev["n_rows"] == 0:
            # Brand-new group: inserts define the extrema exactly
            # (any deletes in this window had nothing to delete).
            vmin, vmax = d["ins_min"], d["ins_max"]
        else:
            if d["del_min"] is not None and (
                vmin is None
                or d["del_min"] <= vmin
                or d["del_max"] >= vmax
            ):
                rescan.append(g)
                out[g] = dict(n_rows=n, total=total,
                              vmin=None, vmax=None)
                continue
            if d["ins_min"] is not None:
                vmin = (
                    d["ins_min"] if vmin is None
                    else min(vmin, d["ins_min"])
                )
                vmax = (
                    d["ins_max"] if vmax is None
                    else max(vmax, d["ins_max"])
                )
        out[g] = dict(n_rows=n, total=total, vmin=vmin, vmax=vmax)

    if rescan:
        # Segment-list pruning is sound only when groups ARE the
        # partition tags; a rollup grouped on some other column must
        # rescan with a plain (row-filtered) read.
        part_filter = (
            {str(g) for g in rescan}
            if group_col == partition_col
            else None
        )
        nn = [g for g in rescan if g is not None]
        cond = F.col(group_col).isin(nn) if nn else F.lit(False)
        if any(g is None for g in rescan):
            # isin never matches NULL (SQL IN semantics): a NULL
            # group whose extremum was deleted needs its own branch
            # or its exact recompute silently never happens.
            cond = cond | F.col(group_col).isNull()
        exact = (
            read_table(
                spark,
                source_dir,
                v_head,
                partitions=part_filter,
                partition_col=partition_col,
            )
            .where(cond)
            .groupBy(F.col(group_col).alias("grp"))
            .agg(
                F.min(value_col).alias("vmin"),
                F.max(value_col).alias("vmax"),
            )
            .collect()
        )
        for r in exact:
            if r["grp"] in out:
                out[r["grp"]]["vmin"] = r["vmin"]
                out[r["grp"]]["vmax"] = r["vmax"]

    tmpl = read_snapshot(spark, view_dir).schema
    consolidated = spark.createDataFrame(
        [
            (g, v["n_rows"], v["total"], v["vmin"], v["vmax"])
            for g, v in sorted(
                out.items(), key=lambda kv: (kv[0] is None, str(kv[0]))
            )
        ],
        tmpl,
    )
    rel = _write_segment(consolidated, view_dir)
    commit_segments(
        view_dir, added=[rel], removed=view_live, op="ivm_delta",
        txn=(IVM_TXN_APP, v_head), meta=commit_meta,
    )
    return {
        "mode": "incremental",
        "source_version": v_head,
        "rescanned_groups": sorted(
            rescan, key=lambda g: (g is None, str(g))
        ),
    }


def ivm_read_minmax(spark: SparkSession, view_dir: str) -> DataFrame:
    """The consolidated view, as stored (one row per group)."""
    return read_snapshot(spark, view_dir)


def ivm_read(spark: SparkSession, view_dir: str) -> DataFrame:
    """Merged view: (grp, n_rows, total, avg) — one tiny groupBy over
    group-level signed partials; groups netted to zero rows vanish."""
    p = read_snapshot(spark, view_dir)
    return (
        p.groupBy("grp")
        .agg(
            F.sum("n").cast("long").alias("n_rows"),
            F.sum("total").alias("total"),
        )
        .where(F.col("n_rows") > 0)
        .withColumn("avg", F.col("total") / F.col("n_rows"))
    )
