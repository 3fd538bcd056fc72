"""Data-maintenance rewrites (SURVEY §2.12 M1-M7).

Every Mongo update/delete in the reference becomes a pure
read-transform-write job here: the *predicate + assignment* is the
operator, and the write is a keyed rewrite committed through
:mod:`..sources.transactional` (the engine's only table writer).
Queries below return the post-maintenance table state so the
transform itself is oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import query, scratch_dir


@query(
    "m8_merge_on_read",
    doc="""M8 (engine extra — the 100 TB answer to M1-M7's write
    amplification): merge-on-read overlay. Mutations live in a side
    change log (_op, _seq); the read reconstructs the current table —
    latest _seq per key wins, deletes drop the key — via one window
    over the LOG only plus an anti-join on the base. Physical side
    (append_change_segment / compact_change_log rewriting only touched
    partitions) is exercised in tests/test_transactional.py; this query
    oracle-checks the overlay semantics themselves, including an
    upsert-over-delete seq conflict.""",
    oracle="""
WITH base AS (SELECT vec_id, label FROM embeddings),
log AS (
    SELECT vec_id, label + 1000 AS label, 'upsert' AS _op, 2 AS _seq
    FROM base WHERE vec_id % 40 = 0
    UNION ALL
    SELECT vec_id, label, 'delete' AS _op, 1 AS _seq
    FROM base WHERE vec_id % 50 = 0
),
latest AS (
    SELECT vec_id, label, _op FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY _seq DESC, _op) AS _rn
        FROM log
    ) WHERE _rn = 1
),
merged AS (
    SELECT b.vec_id, b.label
    FROM base b ANTI JOIN latest l ON l.vec_id = b.vec_id
    UNION ALL
    SELECT vec_id, label FROM latest WHERE _op = 'upsert'
)
SELECT count(*) AS n_rows,
       CAST(sum(label) AS BIGINT) AS label_sum,
       CAST(sum(CASE WHEN label >= 1000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_patched
FROM merged
""",
)
def m8_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.transactional import merge_overlay

    base = spark.table("embeddings").select("vec_id", "label")
    ups = base.filter(F.col("vec_id") % 40 == 0).select(
        "vec_id",
        (F.col("label") + 1000).alias("label"),
        F.lit("upsert").alias("_op"),
        F.lit(2).alias("_seq"),
    )
    dels = base.filter(F.col("vec_id") % 50 == 0).select(
        "vec_id",
        "label",
        F.lit("delete").alias("_op"),
        F.lit(1).alias("_seq"),
    )
    merged = merge_overlay(base, ups.unionByName(dels), ["vec_id"])
    return merged.agg(
        F.count("*").alias("n_rows"),
        F.sum("label").cast("long").alias("label_sum"),
        F.sum((F.col("label") >= 1000).cast("int"))
        .cast("long")
        .alias("n_patched"),
    )


@query(
    "m1_soft_delete",
    driver=False,
    doc="""M1: updateMany({userid, isDeleted:false}, {$set:
    {isDeleted:true}}) (controllers/promptController.js:314-349) as a
    conditional column rewrite; returns the affected-count summary the
    endpoint reports plus the new flag distribution.""",
    fixtures_used=("prompts",),
    oracle="""
WITH updated AS (
    SELECT prompt_id,
           CASE WHEN userid = 9 AND NOT is_deleted THEN true
                ELSE is_deleted END AS is_deleted,
           (userid = 9 AND NOT is_deleted) AS was_flipped
    FROM prompts
)
SELECT CAST(sum(CASE WHEN was_flipped THEN 1 ELSE 0 END) AS BIGINT)
           AS modified_count,
       CAST(sum(CASE WHEN is_deleted THEN 1 ELSE 0 END) AS BIGINT)
           AS total_deleted,
       count(*) AS total_rows
FROM updated
""",
)
def m1_soft_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = (F.col("userid") == 9) & ~F.col("is_deleted")
    updated = spark.table("prompts").select(
        "prompt_id",
        F.when(pred, F.lit(True)).otherwise(F.col("is_deleted")).alias(
            "is_deleted"
        ),
        pred.alias("was_flipped"),
    )
    return updated.agg(
        F.sum(F.col("was_flipped").cast("int"))
        .cast("long")
        .alias("modified_count"),
        F.sum(F.col("is_deleted").cast("int"))
        .cast("long")
        .alias("total_deleted"),
        F.count("*").alias("total_rows"),
    )


@query(
    "m2_bulk_recover",
    driver=False,
    doc="""M2: updateMany({threadid:{$in:ids}}, {isDeleted:false})
    (controllers/promptController.js:768-781) — inverse of M1 scoped to
    a thread id set.""",
    fixtures_used=("prompts",),
    oracle="""
SELECT threadid,
       CAST(sum(CASE WHEN is_deleted THEN 0 ELSE 1 END) AS BIGINT)
           AS live_after
FROM (
    SELECT threadid,
           CASE WHEN threadid IN ('t0-0', 't20-4') THEN false
                ELSE is_deleted END AS is_deleted
    FROM prompts
)
WHERE threadid IN ('t0-0', 't20-4')
GROUP BY threadid
ORDER BY threadid
""",
)
def m2_bulk_recover(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = ("t0-0", "t20-4")
    recovered = spark.table("prompts").withColumn(
        "is_deleted",
        F.when(F.col("threadid").isin(*ids), F.lit(False)).otherwise(
            F.col("is_deleted")
        ),
    )
    return (
        recovered.filter(F.col("threadid").isin(*ids))
        .groupBy("threadid")
        .agg(
            F.sum(F.when(F.col("is_deleted"), 0).otherwise(1))
            .cast("long")
            .alias("live_after")
        )
        .orderBy("threadid")
    )


@query(
    "m3_hard_delete",
    driver=False,
    doc="""M3: deleteMany({threadid:{$in:ids}})
    (controllers/promptController.js:790-808) as left-anti; returns
    survivor stats.""",
    fixtures_used=("prompts",),
    oracle="""
SELECT count(*) AS n_rows,
       count(DISTINCT threadid) AS n_threads
FROM prompts
WHERE threadid NOT IN ('t0-0', 't1-1', 't2-2')
""",
)
def m3_hard_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    doomed = spark.createDataFrame(
        [("t0-0",), ("t1-1",), ("t2-2",)], ["threadid"]
    )
    return (
        spark.table("prompts")
        .join(F.broadcast(doomed), "threadid", "left_anti")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("threadid").alias("n_threads"),
        )
    )


@query(
    "m4_field_patch",
    driver=False,
    doc="""M4: updateMany({threadid}, {$set:{prompttitle}}) — title
    propagation across a thread (promptController.js:510-525).""",
    fixtures_used=("prompts",),
    oracle="""
SELECT prompt_id, threadid,
       CASE WHEN threadid = 't5-3' THEN 'Renamed thread title'
            ELSE substr(description, 1, 50) END AS prompttitle
FROM prompts
WHERE threadid IN ('t5-3', 't6-2')
ORDER BY prompt_id
""",
)
def m4_field_patch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.table("prompts")
        .filter(F.col("threadid").isin("t5-3", "t6-2"))
        .select(
            "prompt_id",
            "threadid",
            F.when(F.col("threadid") == "t5-3", "Renamed thread title")
            .otherwise(F.substring("description", 1, 50))
            .alias("prompttitle"),
        )
        .orderBy("prompt_id")
    )


@query(
    "m5_upsert_by_key_config",
    # Local tier: the upsert shape is driver-covered by s5_upsert_by_key
    # (same key-wise merge); the freed driver slot showcases
    # dedup_incremental_minhash instead.
    driver=False,
    doc="""M5: findOne-then-update-else-create config upsert (pattern x8,
    controllers/configController.js:27-104) as merge: union + last-
    writer-wins dedup by key.""",
    fixtures_used=("config",),
    oracle="""
WITH incoming AS (
    SELECT 'temperature' AS key, '0.9' AS value, 1 AS gen
    UNION ALL SELECT 'new_setting', 'enabled', 1
),
merged AS (
    SELECT key, value, 0 AS gen FROM config
    UNION ALL
    SELECT key, value, gen FROM incoming
)
SELECT key, value FROM (
    SELECT key, value,
           row_number() OVER (PARTITION BY key ORDER BY gen DESC) AS rn
    FROM merged
) WHERE rn = 1
ORDER BY key
""",
)
def m5_upsert_by_key_config(spark: SparkSession, sf_dir: str) -> DataFrame:
    current = spark.table("config").withColumn("gen", F.lit(0))
    incoming = spark.createDataFrame(
        [("temperature", "0.9", 1), ("new_setting", "enabled", 1)],
        ["key", "value", "gen"],
    )
    w = Window.partitionBy("key").orderBy(F.desc("gen"))
    return (
        current.unionByName(incoming)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("key", "value")
        .orderBy("key")
    )


@query(
    "m6_doc_patch_by_id",
    driver=False,
    doc="""M6: findByIdAndUpdate single-doc patch
    (controllers/templateController.js:151-156) — keyed overwrite of
    one row's fields.""",
    fixtures_used=("assistants",),
    oracle="""
SELECT assistant_id,
       CASE WHEN assistant_id = 'asst_10' THEN 'Patched Name'
            ELSE name END AS name,
       CASE WHEN assistant_id = 'asst_10' THEN false
            ELSE is_active END AS is_active
FROM assistants
WHERE assistant_id IN ('asst_10', 'asst_11')
ORDER BY assistant_id
""",
)
def m6_doc_patch_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    hit = F.col("assistant_id") == "asst_10"
    return (
        spark.table("assistants")
        .filter(F.col("assistant_id").isin("asst_10", "asst_11"))
        .select(
            "assistant_id",
            F.when(hit, "Patched Name").otherwise(F.col("name")).alias(
                "name"
            ),
            F.when(hit, F.lit(False))
            .otherwise(F.col("is_active"))
            .alias("is_active"),
        )
        .orderBy("assistant_id")
    )


@query(
    "m7_ttl_expiry",
    # Local tier since the continuation-session r8 rotation (m13 MERGE
    # lifecycle promoted); the maintenance family keeps driver rows via
    # m8_merge_on_read, s14 and s15.
    driver=False,
    doc="""M7: TTL expiry — reset-token expires:3600
    (models/token.js:15-19) / Redis EX 900
    (conversationController.js:14) as an event-time filter against a
    fixed 'now' (2024-01-30T00:00:00): rows older than the TTL are
    gone.""",
    fixtures_used=("conversations",),
    oracle="""
SELECT conversation_id, count(*) AS live_messages
FROM conversations
WHERE ts > TIMESTAMP '2024-01-30 00:00:00' - INTERVAL 900 SECOND
GROUP BY conversation_id
ORDER BY conversation_id
""",
)
def m7_ttl_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    now = F.lit("2024-01-30 00:00:00").cast("timestamp_ntz")
    return (
        spark.table("conversations")
        .filter(F.col("ts") > now - F.expr("INTERVAL 900 SECOND"))
        .groupBy("conversation_id")
        .agg(F.count("*").alias("live_messages"))
        .orderBy("conversation_id")
    )


@query(
    "m9_snapshot_diff",
    driver=False,
    doc="""M9 (engine extra): dataset-version diff — the audit a data
    pipeline runs between two corpus snapshots before promoting one
    (what entered, what left, what changed in place). v1 = `documents`;
    v2 = `corpus` (superset with planted variants = the 'added' set)
    minus a deterministic slice (doc_id % 97 = 3 — simulated removals)
    with another slice perturbed in place (doc_id % 89 = 5 — simulated
    edits), so ALL FOUR statuses are live and parity-checked, not just
    the easy two. Presence is keyed on per-side markers (NOT hash
    nullness — a NULL-text row present on both sides must read
    'unchanged', never 'added') and change detection is null-safe
    (IS DISTINCT FROM), so NULL-text transitions classify correctly.
    One full-outer join on the key comparing normalized content
    hashes — at 100 TB both sides shuffle once on doc_id (or zero
    times with co-bucketed snapshots, the layout tested in
    test_scale.py); the hash is computed in the scan projection, so
    the join carries (key, 16-byte hash), never document text.""",
    fixtures_used=("corpus",),
    oracle="""
WITH v1 AS (
    SELECT doc_id, TRUE AS p,
           md5(regexp_replace(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS h
    FROM documents
),
v2 AS (
    SELECT doc_id, TRUE AS p,
           md5(regexp_replace(trim(lower(
               CASE WHEN doc_id % 89 = 5 THEN text || ' v2-edit'
                    ELSE text END)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS h
    FROM corpus WHERE doc_id % 97 <> 3
),
diff AS (
    SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN a.p IS NULL THEN 'added'
                WHEN b.p IS NULL THEN 'removed'
                WHEN a.h IS DISTINCT FROM b.h THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM v1 a FULL OUTER JOIN v2 b USING (doc_id)
)
SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM diff GROUP BY status ORDER BY status
""",
)
def m9_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import content_hash

    v1 = spark.table("documents").select(
        "doc_id",
        F.lit(True).alias("p1"),
        content_hash(F.col("text")).alias("h1"),
    )
    v2_text = F.when(
        F.col("doc_id") % 89 == 5, F.concat(F.col("text"), F.lit(" v2-edit"))
    ).otherwise(F.col("text"))
    v2 = (
        spark.table("corpus")
        .filter(F.col("doc_id") % 97 != 3)
        .select(
            "doc_id",
            F.lit(True).alias("p2"),
            content_hash(v2_text).alias("h2"),
        )
    )
    status = (
        F.when(F.col("p1").isNull(), "added")
        .when(F.col("p2").isNull(), "removed")
        .when(~F.col("h1").eqNullSafe(F.col("h2")), "changed")
        .otherwise("unchanged")
    )
    return (
        v1.join(v2, "doc_id", "full_outer")
        .select("doc_id", status.alias("status"))
        .groupBy("status")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("status")
    )


@query(
    "m10_profile_table_stats",
    driver=False,
    doc="""M10 (engine extra): per-column data-quality profile — row
    count, null count, distinct count, min/max — the validation gate a
    pipeline runs on every snapshot before promotion (the Deequ/
    dbt-test shape). One row per profiled column; min/max are computed
    on the native type and stringified afterward so one output schema
    covers heterogeneous columns (profiled columns here are int/string;
    floats would need rendering-stable formatting). Each column's
    profile is a single map-side-combinable aggregate; the union of
    per-column aggregates scans the table once per column group — at
    100 TB you fuse them into one pass with grouping sets or
    first-class sketches, trading exact distincts for HLL (the a15
    sketch query is that variant).""",
    oracle="""
SELECT 'doc_id' AS col, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
       CAST(min(doc_id) AS STRING) AS min_v,
       CAST(max(doc_id) AS STRING) AS max_v
FROM documents
UNION ALL
SELECT 'lang', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT lang) AS BIGINT),
       CAST(min(lang) AS STRING), CAST(max(lang) AS STRING)
FROM documents
UNION ALL
SELECT 'n_chars', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT n_chars) AS BIGINT),
       CAST(min(n_chars) AS STRING), CAST(max(n_chars) AS STRING)
FROM documents
UNION ALL
SELECT 'source', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT source) AS BIGINT),
       CAST(min(source) AS STRING), CAST(max(source) AS STRING)
FROM documents
ORDER BY col
""",
)
def m10_profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.table("documents")

    def profile(col: str) -> DataFrame:
        return docs.agg(
            F.lit(col).alias("col"),
            F.count("*").alias("n_rows"),
            F.sum(F.col(col).isNull().cast("int"))
            .cast("bigint")
            .alias("n_null"),
            F.countDistinct(col).cast("bigint").alias("n_distinct"),
            F.min(col).cast("string").alias("min_v"),
            F.max(col).cast("string").alias("max_v"),
        )

    out = profile("doc_id")
    for c in ("lang", "n_chars", "source"):
        out = out.unionAll(profile(c))
    return out.orderBy("col")


@query(
    "s14_snapshot_log_lifecycle",
    doc="""S14 (engine extra; the unified transactional write path):
    the full Pinecone vector-store lifecycle — upsert
    (models/embeddingmodel.js:4-12), delete-by-id (:14-24), and
    drop-namespace deleteAll (:26-35) — executed PHYSICALLY through
    snapshot-log CAS commits (sources/transactional.py): partition-
    tagged segments, manifest-level partition pruning, a metadata-only
    namespace drop, and a time-traveled read of the pre-drop version.
    Every mutation is an atomic version; the oracle replays the same
    semantics in SQL over the raw fixture.""",
    oracle="""
WITH base AS (
    SELECT vec_id, label, CAST(vec_id % 3 AS INT) AS namespace
    FROM embeddings
),
after_upsert AS (
    SELECT vec_id,
           CASE WHEN vec_id % 40 = 0 THEN label + 1000
                ELSE label END AS label,
           namespace
    FROM base
),
after_delete AS (SELECT * FROM after_upsert WHERE vec_id % 50 <> 0),
after_drop AS (SELECT * FROM after_delete WHERE namespace <> 2)
SELECT (SELECT count(*) FROM after_drop) AS n_rows,
       (SELECT CAST(sum(label) AS BIGINT) FROM after_drop) AS label_sum,
       (SELECT CAST(sum(CASE WHEN label >= 1000 THEN 1 ELSE 0 END)
                    AS BIGINT) FROM after_drop) AS n_patched,
       (SELECT count(*) FROM after_delete) AS predrop_rows
""",
)
def s14_snapshot_log_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import transactional as tx
    from ..sources.snapshot_log import latest_version

    t = scratch_dir("snaplog")

    base = spark.table("embeddings").select(
        "vec_id",
        "label",
        (F.col("vec_id") % 3).cast("int").alias("namespace"),
    )
    tx.create_partitioned_table(spark, base, t)
    tx.upsert_by_key(
        spark,
        t,
        base.filter(F.col("vec_id") % 40 == 0).select(
            "vec_id", (F.col("label") + 1000).alias("label"), "namespace"
        ),
        key="vec_id",
    )
    tx.delete_by_key(
        spark,
        t,
        base.filter(F.col("vec_id") % 50 == 0).select("vec_id"),
        key="vec_id",
    )
    v_predrop = latest_version(t)
    tx.drop_partition(spark, t, "namespace", 2)
    head = tx.read_table(spark, t)
    predrop = tx.read_table(spark, t, version=v_predrop)
    return head.agg(
        F.count("*").alias("n_rows"),
        F.sum("label").cast("long").alias("label_sum"),
        F.sum((F.col("label") >= 1000).cast("int"))
        .cast("long")
        .alias("n_patched"),
    ).crossJoin(predrop.agg(F.count("*").alias("predrop_rows")))


@query(
    "s15_branch_lifecycle",
    # Driver tier since the late-r8 rotation (dedup_exact/j14 out) —
    # sf0.01-parity and hostile-timezone verified at promotion.
    doc="""Branch-ref lifecycle over the snapshot log
    (sources/branching.py — the Nessie/Iceberg-branch working model):
    fork the corpus table zero-copy, run a backfill on the branch
    while the parent keeps ingesting, publish the branch as ONE
    atomic metadata-only merge commit, and verify isolation both ways
    plus time travel to the pre-merge parent. Every mutation is a
    physical CAS commit on a real on-disk table; the oracle replays
    the same set algebra over the raw fixture. The engine-level
    guarantees (conflict detection, cross-ref GC, drop guard,
    crash-repair) are pinned in tests/test_branching.py.""",
    oracle="""
WITH base AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 0),
brch AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 1),
par  AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 2),
fin  AS (SELECT * FROM base UNION ALL SELECT * FROM brch
         UNION ALL SELECT * FROM par)
SELECT (SELECT count(*) FROM fin) AS n_final,
       (SELECT CAST(sum(n_chars) AS BIGINT) FROM fin) AS chars_final,
       (SELECT count(*) FROM base) + (SELECT count(*) FROM par)
           AS n_premerge,
       (SELECT count(*) FROM base) + (SELECT count(*) FROM brch)
           AS n_branch_head,
       (SELECT count(*) FROM base) AS n_fork_snapshot
""",
)
def s15_branch_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import branching as br
    from ..sources.snapshot_log import (
        append_snapshot,
        create_table,
        latest_version,
        read_snapshot,
    )

    t = scratch_dir("branch")

    docs = spark.table("documents").select("doc_id", "n_chars")
    create_table(t)
    append_snapshot(docs.filter(F.col("doc_id") % 3 == 0), t)
    v_fork = latest_version(t)

    b = br.create_branch(t, "backfill")
    append_snapshot(docs.filter(F.col("doc_id") % 3 == 1), b)
    append_snapshot(docs.filter(F.col("doc_id") % 3 == 2), t)
    v_premerge = latest_version(t)

    n_branch_head = read_snapshot(spark, b).count()
    br.merge_branch(t, "backfill")

    final = read_snapshot(spark, t)
    premerge = read_snapshot(spark, t, version=v_premerge)
    fork_view = read_snapshot(spark, b, version=0)
    return (
        final.agg(
            F.count("*").alias("n_final"),
            F.sum("n_chars").cast("long").alias("chars_final"),
        )
        .crossJoin(premerge.agg(F.count("*").alias("n_premerge")))
        .crossJoin(
            spark.range(1).select(
                F.lit(n_branch_head).cast("long").alias("n_branch_head")
            )
        )
        .crossJoin(fork_view.agg(F.count("*").alias("n_fork_snapshot")))
        # pin the fork version as used (plan-time assertion, no output)
        .where(F.lit(v_fork == 1))
    )


@query(
    "s16_python_datasource",
    driver=False,
    doc="""The snapshot log consumed through Spark's REGISTERED data
    source surface (sources/datasource.py, the Spark 4 Python Data
    Source API): build a real on-disk table from the corpus, read it
    back with `spark.read.format("snapshot_log")` — once at the
    pinned creation version (time travel through the format option)
    and once at head after an append — and aggregate both. The oracle
    replays the same set algebra over the raw fixture; the format's
    filter pushdown / change-feed semantics are pinned in
    tests/test_datasource.py.""",
    oracle="""
WITH v1 AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 2 = 0),
v2 AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 2 = 1)
SELECT (SELECT count(*) FROM v1) AS n_v1,
       (SELECT count(*) FROM v1) + (SELECT count(*) FROM v2) AS n_head,
       (SELECT CAST(sum(n_chars) AS BIGINT) FROM v1)
         + (SELECT CAST(sum(n_chars) AS BIGINT) FROM v2) AS chars_head,
       (SELECT count(*) FROM v1 WHERE doc_id > 100) AS n_v1_filtered
""",
)
def s16_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.datasource import register
    from ..sources.snapshot_log import append_snapshot, create_table

    t = scratch_dir("datasource")

    docs = spark.table("documents").select("doc_id", "n_chars")
    create_table(t)
    append_snapshot(docs.filter(F.col("doc_id") % 2 == 0), t)
    append_snapshot(docs.filter(F.col("doc_id") % 2 == 1), t)
    register(spark)
    head = spark.read.format("snapshot_log").option("path", t).load()
    v1 = spark.read.format("snapshot_log").options(
        path=t, version=1
    ).load()
    return (
        v1.agg(F.count("*").alias("n_v1"))
        .crossJoin(
            head.agg(
                F.count("*").alias("n_head"),
                F.sum("n_chars").cast("long").alias("chars_head"),
            )
        )
        .crossJoin(
            v1.filter(F.col("doc_id") > 100).agg(
                F.count("*").alias("n_v1_filtered")
            )
        )
    )


def _z_sql_terms(scol: str, offset: int, bits: int = 16) -> str:
    """The oracle's Morton-interleave arm for one scaled column:
    sum_i ((s >> i) & 1) * 2^(2i + offset) — generated, not
    hand-typed, so Spark (operators/layout.z_interleave) and the SQL
    stay structurally identical."""
    return " + ".join(
        f"(({scol} >> {i}) & 1) * {1 << (2 * i + offset)}"
        for i in range(bits)
    )


_Z_SCALE_A = ("CAST(floor((CAST(l_orderkey AS DOUBLE) - amin) * 65535.0"
              " / (amax - amin)) AS BIGINT)")
_Z_SCALE_B = ("CAST(floor((CAST(l_partkey AS DOUBLE) - bmin) * 65535.0"
              " / (bmax - bmin)) AS BIGINT)")


@query(
    "m11_zorder_pruning",
    driver=False,
    doc="""Z-order (Morton) multi-column layout vs single-key layout,
    measured as file skipping for a 2-d box predicate
    (operators/layout.py — the Delta OPTIMIZE ZORDER BY layout
    technique). Both layouts are modeled as 64 equal-size rank
    buckets (ntile over the respective sort order, unique
    tiebreaks); the box selects the middle quarter of each key
    range. Pure integer/double arithmetic (scale, shift, and,
    multiply), so the ENTIRE layout computation — Morton codes,
    bucket assignment, touched-file counts — is value-checked
    against SQL. The write-path test pins the real thing: parquet
    files whose per-file spans shrink under the z layout.""",
    oracle=(
        """
WITH stats AS (
    SELECT min(l_orderkey) AS amin, max(l_orderkey) AS amax,
           min(l_partkey) AS bmin, max(l_partkey) AS bmax
    FROM lineitem
),
scaled AS (
    SELECT l_orderkey, l_partkey, l_linenumber,
           amin, amax, bmin, bmax,
           """ + _Z_SCALE_A + """ AS sa,
           """ + _Z_SCALE_B + """ AS sb
    FROM lineitem CROSS JOIN stats
),
zt AS (
    SELECT *, (""" + _z_sql_terms("sa", 0) + """)
            + (""" + _z_sql_terms("sb", 1) + """) AS z
    FROM scaled
),
bz AS (
    SELECT l_orderkey, l_partkey, amin, amax, bmin, bmax,
           ntile(64) OVER (ORDER BY z, l_orderkey, l_linenumber)
               AS bucket
    FROM zt
),
bl AS (
    SELECT l_orderkey, l_partkey, amin, amax, bmin, bmax,
           ntile(64) OVER (ORDER BY l_orderkey, l_linenumber)
               AS bucket
    FROM scaled
),
boxed_z AS (
    SELECT * FROM bz
    WHERE l_orderkey >= amin + 0.375 * (amax - amin)
      AND l_orderkey <= amin + 0.625 * (amax - amin)
      AND l_partkey >= bmin + 0.375 * (bmax - bmin)
      AND l_partkey <= bmin + 0.625 * (bmax - bmin)
),
boxed_l AS (
    SELECT * FROM bl
    WHERE l_orderkey >= amin + 0.375 * (amax - amin)
      AND l_orderkey <= amin + 0.625 * (amax - amin)
      AND l_partkey >= bmin + 0.375 * (bmax - bmin)
      AND l_partkey <= bmin + 0.625 * (bmax - bmin)
)
SELECT * FROM (
    SELECT 'zorder' AS layout,
           CAST(count(DISTINCT bucket) AS BIGINT) AS files_touched,
           CAST(64 AS BIGINT) AS files_total,
           CAST(count(*) AS BIGINT) AS rows_matched
    FROM boxed_z
    UNION ALL
    SELECT 'linear', CAST(count(DISTINCT bucket) AS BIGINT),
           CAST(64 AS BIGINT), CAST(count(*) AS BIGINT)
    FROM boxed_l
) ORDER BY layout
"""
    ),
)
def m11_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import with_z_value

    li = spark.table("lineitem")
    zdf = with_z_value(li, "l_orderkey", "l_partkey")
    # Re-attach the range stats for the box bounds (same broadcast
    # one-row agg the z computation used).
    stats = F.broadcast(
        li.agg(
            F.min("l_orderkey").alias("amin"),
            F.max("l_orderkey").alias("amax"),
            F.min("l_partkey").alias("bmin"),
            F.max("l_partkey").alias("bmax"),
        )
    )
    zs = zdf.crossJoin(stats)
    ls = li.crossJoin(stats)
    wz = Window.orderBy("z", "l_orderkey", "l_linenumber")
    wl = Window.orderBy("l_orderkey", "l_linenumber")
    box = (
        (F.col("l_orderkey")
         >= F.col("amin") + 0.375 * (F.col("amax") - F.col("amin")))
        & (F.col("l_orderkey")
           <= F.col("amin") + 0.625 * (F.col("amax") - F.col("amin")))
        & (F.col("l_partkey")
           >= F.col("bmin") + 0.375 * (F.col("bmax") - F.col("bmin")))
        & (F.col("l_partkey")
           <= F.col("bmin") + 0.625 * (F.col("bmax") - F.col("bmin")))
    )

    def layout_row(df, w, name):
        return (
            df.withColumn("bucket", F.ntile(64).over(w))
            .filter(box)
            .agg(
                F.lit(name).alias("layout"),
                F.count_distinct("bucket")
                .cast("long")
                .alias("files_touched"),
                F.lit(64).cast("long").alias("files_total"),
                F.count(F.lit(1)).cast("long").alias("rows_matched"),
            )
        )

    return (
        layout_row(zs, wz, "zorder")
        .unionByName(layout_row(ls, wl, "linear"))
        .orderBy("layout")
    )


@query(
    "a16_hypertable_rollup",
    driver=False,
    doc="""Continuous aggregate / hypertable rollup (engine extra —
    sources/rollup.py): an hourly (count, sum, min, max) rollup TABLE
    over a snapshot-log events table, maintained INCREMENTALLY. The
    lifecycle exercised in-plan: full build from slice 1 ->
    incremental refreshes reading ONLY the appended segments (the
    snapshot log's immutable-segment delta makes 'new rows' =
    live(head) - live(done)) -> source compaction forces the
    documented full-rebuild fallback (removals break the delta
    trick) -> final incremental append. Watermark + partials commit
    atomically (manifest meta + txn tag). The oracle is one plain
    GROUP BY over all of events: however the refresh history
    interleaved, the merged rollup must equal the direct aggregate.""",
    oracle="""
SELECT CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 4) AS total_value,
       min(value) AS vmin,
       max(value) AS vmax
FROM events
GROUP BY 1
ORDER BY bucket
""",
)
def a16_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.rollup import rollup_refresh, rollup_read
    from ..sources.snapshot_log import (
        append_snapshot,
        compact_snapshots,
        create_table,
    )

    src = scratch_dir("rollup")
    rup = src + "-rollup"

    ev = spark.table("events").select("event_id", "ts", "value")
    create_table(src)
    # Slice by event_id thirds to simulate the append history.
    append_snapshot(ev.filter(F.col("event_id") % 3 == 0), src)
    rollup_refresh(spark, src, rup)                    # full build
    append_snapshot(ev.filter(F.col("event_id") % 3 == 1), src)
    rollup_refresh(spark, src, rup)                    # incremental
    compact_snapshots(spark, src)                      # removals...
    rollup_refresh(spark, src, rup)                    # ...full fallback
    append_snapshot(ev.filter(F.col("event_id") % 3 == 2), src)
    rollup_refresh(spark, src, rup)                    # incremental
    return (
        rollup_read(spark, rup)
        .select(
            "bucket",
            "n_events",
            F.round("total", 4).alias("total_value"),
            "vmin",
            "vmax",
        )
        .orderBy("bucket")
    )


@query(
    "a25_ivm_group_aggregate",
    # Driver tier since the r8 third-session rotation (timestamp-free
    # lifecycle; sf0.01 parity verified at promotion).
    doc="""CDC-driven incremental view maintenance (engine extra —
    sources/rollup.ivm_refresh): a grouped count/sum view over a
    KEYED-MUTATION table, maintained through upserts, group-moving
    updates, deletes and inserts WITHOUT the full rebuild the
    append-only rollup needs on any removal. Each refresh folds the
    change feed since the view's watermark (table_changes — only
    touched segments read) to SIGNED per-group partials
    (insert/postimage +1/+v, delete/preimage -1/-v) appended in one
    commit with the watermark in its meta; source compaction nets to
    an empty feed (watermark move, no rebuild). The oracle is the
    direct GROUP BY over the final source state: however the refresh
    history interleaved, the merged view must equal it.""",
    oracle="""
WITH base AS (
    SELECT vec_id, label, CAST(vec_id % 5 AS INT) AS namespace
    FROM embeddings
),
upd AS (
    SELECT vec_id, CAST(label + 10000 AS INT) AS label,
           CAST((vec_id + 1) % 5 AS INT) AS namespace
    FROM base WHERE vec_id % 40 = 0
),
ins AS (
    SELECT vec_id + 1000000 AS vec_id, CAST(label + 3 AS INT) AS label,
           namespace
    FROM base WHERE vec_id % 100 = 0
),
merged AS (
    SELECT b.vec_id,
           coalesce(u.label, b.label) AS label,
           coalesce(u.namespace, b.namespace) AS namespace
    FROM base b LEFT JOIN upd u ON u.vec_id = b.vec_id
),
fin AS (
    SELECT * FROM merged WHERE vec_id % 17 <> 3
    UNION ALL SELECT * FROM ins
)
SELECT namespace AS grp,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(label) AS BIGINT) AS total
FROM fin GROUP BY 1 ORDER BY grp
""",
)
def a25_ivm_group_aggregate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources import transactional as tx
    from ..sources.rollup import ivm_read, ivm_refresh
    from ..sources.snapshot_log import compact_snapshots

    src = scratch_dir("ivm")
    view = src + "-view"

    base = spark.table("embeddings").select(
        "vec_id",
        "label",
        (F.col("vec_id") % 5).cast("int").alias("namespace"),
    )
    tx.create_partitioned_table(spark, base, src, key="vec_id")
    ivm_refresh(spark, src, view)  # full build

    # Group-moving updates (identity crosses partitions).
    tx.upsert_by_key_global(
        spark,
        src,
        base.filter(F.col("vec_id") % 40 == 0).select(
            "vec_id",
            (F.col("label") + 10000).cast("int").alias("label"),
            ((F.col("vec_id") + 1) % 5).cast("int").alias("namespace"),
        ),
        key="vec_id",
    )
    ivm_refresh(spark, src, view)  # incremental: signed partials

    # Deletes (at the rows' CURRENT namespace) + fresh inserts.
    cur_ns = F.when(
        F.col("vec_id") % 40 == 0,
        ((F.col("vec_id") + 1) % 5).cast("int"),
    ).otherwise((F.col("vec_id") % 5).cast("int"))
    tx.merge_into(
        spark,
        src,
        base.filter(F.col("vec_id") % 17 == 3).select(
            "vec_id",
            F.lit(0).cast("int").alias("label"),
            cur_ns.alias("namespace"),
        ),
        key="vec_id",
        matched=(("delete", None, None),),
        insert=False,
    )
    tx.append_partitioned(
        spark,
        base.filter(F.col("vec_id") % 100 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            (F.col("label") + 3).cast("int").alias("label"),
            "namespace",
        ),
        src,
    )
    ivm_refresh(spark, src, view)  # incremental again

    compact_snapshots(spark, src)  # pure rewrite: empty feed
    ivm_refresh(spark, src, view)  # watermark move only

    return (
        ivm_read(spark, view)
        .select(
            "grp",
            "n_rows",
            F.col("total").cast("long").alias("total"),
        )
        .orderBy("grp")
    )


@query(
    "m12_quality_expectations",
    # Driver tier since the continuation-session r8 rotation
    # (ann_ivf_indexed_suite to local parity) — sf0.01-parity and
    # hostile-timezone verified at promotion.
    doc="""Declarative data-quality suite (operators/expectations.py,
    the Deequ/Great-Expectations working model): seven expectations
    over orders compiled into ONE map-side-combined aggregation scan
    (not seven), plus a referential-integrity LEFT ANTI probe of
    o_custkey against the customer dimension (broadcast — the parent
    is dimension-sized), unioned into one (check, column, observed,
    passed) report. The reference validates per-document at write
    time (Mongoose schema validators, models/*.js); this is the
    batch-audit form a 100 TB table needs — full-corpus metrics in
    one scan, not a row-at-a-time gate.""",
    oracle="""
WITH m AS (
    SELECT
        sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nn_ok,
        count(*) - count(DISTINCT o_orderkey) AS uq,
        sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nn_ck,
        sum(CASE WHEN o_orderstatus IS NOT NULL
                  AND o_orderstatus NOT IN ('O', 'F', 'P')
                 THEN 1 ELSE 0 END) AS vi,
        min(o_totalprice) AS mn,
        max(o_totalprice) AS mx,
        count(*) AS rc
    FROM orders
),
ri AS (
    SELECT count(*) AS orphans FROM orders o
    WHERE o.o_custkey IS NOT NULL
      AND NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey)
)
SELECT * FROM (
    SELECT 'not_null' AS "check", 'o_orderkey' AS "column",
           CAST(nn_ok AS DOUBLE) AS observed, nn_ok = 0 AS passed
    FROM m
    UNION ALL
    SELECT 'unique', 'o_orderkey', CAST(uq AS DOUBLE), uq = 0 FROM m
    UNION ALL
    SELECT 'not_null', 'o_custkey', CAST(nn_ck AS DOUBLE), nn_ck = 0
    FROM m
    UNION ALL
    SELECT 'values_in', 'o_orderstatus', CAST(vi AS DOUBLE), vi = 0
    FROM m
    UNION ALL
    SELECT 'min_at_least', 'o_totalprice', CAST(mn AS DOUBLE),
           mn IS NULL OR mn >= 1.0 FROM m
    UNION ALL
    SELECT 'max_at_most', 'o_totalprice', CAST(mx AS DOUBLE),
           mx IS NULL OR mx <= 10000000.0 FROM m
    UNION ALL
    SELECT 'row_count_between', '*', CAST(rc AS DOUBLE),
           rc >= 1 AND rc <= 1000000000000 FROM m
    UNION ALL
    SELECT 'ref_integrity', 'o_custkey', CAST(orphans AS DOUBLE),
           orphans = 0 FROM ri
)
ORDER BY "check", "column"
""",
)
def m12_quality_expectations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.expectations import (
        expectation_report,
        referential_check,
    )

    orders = spark.table("orders")
    report = expectation_report(
        orders,
        [
            ("not_null", "o_orderkey"),
            ("unique", "o_orderkey"),
            ("not_null", "o_custkey"),
            ("values_in", "o_orderstatus", ("O", "F", "P")),
            ("min_at_least", "o_totalprice", 1.0),
            ("max_at_most", "o_totalprice", 10_000_000.0),
            ("row_count_between", 1, 1_000_000_000_000),
        ],
    )
    ri = referential_check(
        orders, "o_custkey", spark.table("customer"), "c_custkey"
    )
    return report.unionByName(ri).orderBy("check", "column")


@query(
    "m13_merge_into_lifecycle",
    # Driver tier since the continuation-session r8 rotation
    # (m7_ttl_expiry to local parity) — sf0.01-parity and
    # hostile-timezone verified at promotion.
    doc="""SQL MERGE lifecycle (sources/transactional.merge_into):
    one conflict-checked commit applies WHEN MATCHED AND t.label even
    THEN UPDATE, WHEN MATCHED AND s.vec_id % 10 = 0 THEN DELETE
    (clause order = priority), WHEN NOT MATCHED THEN INSERT — the
    set-oriented form of the reference's per-document
    findOneAndUpdate/delete loops. Physically: partition + key-range
    + Bloom segment pruning, ONE full-outer join, a single CASE-chain
    projection, staged segments, CAS commit. The oracle replays the
    clause algebra over the raw fixture.""",
    oracle="""
WITH base AS (
    SELECT vec_id, label, CAST(vec_id % 3 AS INT) AS namespace
    FROM embeddings
),
src_m AS (
    SELECT vec_id, CAST(label + 10000 AS INT) AS label, namespace
    FROM base WHERE vec_id % 5 = 0
),
src_i AS (
    SELECT vec_id + 10000000 AS vec_id, label, namespace
    FROM base WHERE vec_id % 7 = 3
),
merged AS (
    SELECT b.vec_id,
           CASE WHEN s.vec_id IS NOT NULL AND b.label % 2 = 0
                THEN s.label ELSE b.label END AS label,
           b.namespace,
           CASE WHEN s.vec_id IS NOT NULL
                 AND NOT (b.label % 2 = 0)
                 AND s.vec_id % 10 = 0
                THEN 1 ELSE 0 END AS del
    FROM base b
    LEFT JOIN src_m s
      ON s.vec_id = b.vec_id AND s.namespace = b.namespace
),
kept AS (SELECT vec_id, label, namespace FROM merged WHERE del = 0),
fin AS (SELECT * FROM kept UNION ALL SELECT * FROM src_i)
SELECT count(*) AS n_rows,
       CAST(sum(label) AS BIGINT) AS label_sum,
       CAST(sum(CASE WHEN label >= 10000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_patched,
       CAST(sum(CASE WHEN vec_id >= 10000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_inserted
FROM fin
""",
)
def m13_merge_into_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources import transactional as tx

    t = scratch_dir("merge")

    base = spark.table("embeddings").select(
        "vec_id",
        "label",
        (F.col("vec_id") % 3).cast("int").alias("namespace"),
    )
    tx.create_partitioned_table(spark, base, t)
    src = (
        base.filter(F.col("vec_id") % 5 == 0)
        .select(
            "vec_id",
            (F.col("label") + 10000).cast("int").alias("label"),
            "namespace",
        )
        .unionByName(
            base.filter(F.col("vec_id") % 7 == 3).select(
                (F.col("vec_id") + 10_000_000).alias("vec_id"),
                "label",
                "namespace",
            )
        )
    )
    tx.merge_into(
        spark,
        t,
        src,
        key="vec_id",
        matched=(
            ("update", "t.label % 2 = 0", None),
            ("delete", "s.vec_id % 10 = 0", None),
        ),
    )
    head = tx.read_table(spark, t)
    return head.agg(
        F.count("*").alias("n_rows"),
        F.sum("label").cast("long").alias("label_sum"),
        F.sum((F.col("label") >= 10000).cast("int"))
        .cast("long")
        .alias("n_patched"),
        F.sum((F.col("vec_id") >= 10_000_000).cast("int"))
        .cast("long")
        .alias("n_inserted"),
    )


@query(
    "s17_schema_evolution_lifecycle",
    driver=False,
    doc="""Schema evolution lifecycle (sources/evolution.py): create a
    schema-tracked snapshot-log table at (doc_id, n_chars), append a
    WIDENED batch carrying lang — the new column publishes in the
    same commit as the rows that need it, zero bytes of old data
    rewritten — then read the head (old rows project typed-NULL lang
    in one declared-schema scan) and time-travel to v1 (the old
    two-column shape). The Delta/Iceberg ADD COLUMN contract on this
    engine's manifest meta channel; fail-closed rules (type change,
    untracked table) are pinned in tests/test_evolution.py.""",
    oracle="""
WITH old_half AS (
    SELECT doc_id, n_chars FROM documents WHERE doc_id % 2 = 0
),
new_half AS (
    SELECT doc_id, n_chars, lang FROM documents WHERE doc_id % 2 = 1
),
head AS (
    SELECT doc_id, n_chars, NULL AS lang FROM old_half
    UNION ALL SELECT doc_id, n_chars, lang FROM new_half
)
SELECT (SELECT count(*) FROM head) AS n_rows,
       (SELECT CAST(sum(n_chars) AS BIGINT) FROM head) AS chars_sum,
       (SELECT count(*) FROM head WHERE lang IS NULL) AS n_lang_null,
       (SELECT count(*) FROM head WHERE lang = 'en') AS n_lang_en,
       2 AS v1_cols,
       (SELECT count(*) FROM old_half) AS v1_rows
""",
)
def s17_schema_evolution_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources import evolution as ev

    t = scratch_dir("evo")

    docs = spark.table("documents")
    v1 = ev.create_evolved_table(
        docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "n_chars"
        ),
        t,
    )
    ev.append_evolved(
        docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "n_chars", "lang"
        ),
        t,
    )
    head = ev.read_evolved(spark, t)
    old = ev.read_evolved(spark, t, version=v1)
    return head.agg(
        F.count("*").alias("n_rows"),
        F.sum("n_chars").cast("long").alias("chars_sum"),
        F.sum(F.col("lang").isNull().cast("int"))
        .cast("long")
        .alias("n_lang_null"),
        F.sum((F.col("lang") == "en").cast("int"))
        .cast("long")
        .alias("n_lang_en"),
    ).crossJoin(
        old.agg(
            F.lit(len(old.columns)).alias("v1_cols"),
            F.count("*").alias("v1_rows"),
        )
    )


@query(
    "m14_delete_where_lifecycle",
    driver=False,
    doc="""Predicate DELETE lifecycle
    (sources/transactional.delete_where): one conflict-checked
    copy-on-write commit removes every row matching an arbitrary
    predicate — the retention/TTL-enforcement write that M7's read
    filter only simulates. Hit-set pruning (probe pass groups matches
    by the url-decoded input_file_name identity) rewrites ONLY
    segments that contain matches; a pre-delete version stays
    time-travelable. NULL-evaluating predicates keep their rows (SQL
    DELETE semantics), no-match predicates commit nothing — both
    pinned in tests/test_merge_into.py.""",
    oracle="""
WITH base AS (
    SELECT vec_id, label, CAST(vec_id % 3 AS INT) AS namespace
    FROM embeddings
),
kept AS (
    SELECT * FROM base
    WHERE NOT (label % 4 = 1 AND namespace <> 2)
)
SELECT (SELECT count(*) FROM kept) AS n_rows,
       (SELECT CAST(sum(label) AS BIGINT) FROM kept) AS label_sum,
       (SELECT count(*) FROM base) AS predelete_rows
""",
)
def m14_delete_where_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources import transactional as tx
    from ..sources.snapshot_log import latest_version

    t = scratch_dir("delw")

    base = spark.table("embeddings").select(
        "vec_id",
        "label",
        (F.col("vec_id") % 3).cast("int").alias("namespace"),
    )
    tx.create_partitioned_table(spark, base, t)
    v_pre = latest_version(t)
    tx.delete_where(
        spark, t, "label % 4 = 1 AND namespace <> 2", key="vec_id"
    )
    head = tx.read_table(spark, t)
    pre = tx.read_table(spark, t, version=v_pre)
    return head.agg(
        F.count("*").alias("n_rows"),
        F.sum("label").cast("long").alias("label_sum"),
    ).crossJoin(pre.agg(F.count("*").alias("predelete_rows")))


@query(
    "m15_table_history",
    driver=False,
    doc="""DESCRIBE HISTORY (sources/snapshot_log.table_history): the
    audit trail of a transactional table as a queryable DataFrame —
    version, op, segment delta counts, txn tag, meta flag, straight
    from the manifests. The lifecycle here runs create (3 tagged
    segments, with the recorded schema in its meta) -> partition-scoped
    upsert (1-for-1 segment swap in the
    touched namespace) -> cross-namespace keyed delete (3-for-3) ->
    metadata-only namespace drop (0 added, 1 removed) and the oracle
    pins the ENTIRE expected history as literals — segment-count
    determinism is itself part of the contract (partition-scoped ops
    must not touch other namespaces' segments).""",
    oracle="""
SELECT * FROM (VALUES
    (0, 'create',  0, 0, false),
    (1, 'append',  3, 0, true),
    (2, 'upsert',  1, 1, false),
    (3, 'delete',  3, 3, false),
    (4, 'drop_partition', 0, 1, false)
) AS t(version, op, n_added, n_removed, has_meta)
ORDER BY version
""",
)
def m15_table_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import transactional as tx
    from ..sources.snapshot_log import table_history

    t = scratch_dir("hist")

    base = spark.table("embeddings").select(
        "vec_id",
        "label",
        (F.col("vec_id") % 3).cast("int").alias("namespace"),
    )
    tx.create_partitioned_table(spark, base, t)
    tx.upsert_by_key(
        spark,
        t,
        base.filter(
            (F.col("vec_id") % 40 == 0) & (F.col("namespace") == 0)
        ).select(
            "vec_id", (F.col("label") + 1000).alias("label"), "namespace"
        ),
        key="vec_id",
    )
    tx.delete_by_key(
        spark,
        t,
        base.filter(F.col("vec_id") % 50 == 0).select("vec_id"),
        key="vec_id",
    )
    tx.drop_partition(spark, t, "namespace", 2)
    return (
        table_history(spark, t)
        .select("version", "op", "n_added", "n_removed", "has_meta")
        .orderBy("version")
    )


@query(
    "m16_table_changes",
    driver=False,
    doc="""Change data feed between versions
    (sources/transactional.table_changes — Delta CDF's read shape,
    DERIVED from the segment delta rather than stored): the lifecycle
    runs create -> keyed upsert (+10000 on vec_id%40) -> keyed delete
    (vec_id%50) -> append of new ids, then reads the feed across the
    whole range. Cross-version collapse falls out of the definition:
    a row updated THEN deleted reports one delete with its ORIGINAL
    before-image; rows merely rewritten (compaction/Z-order) produce
    nothing (full-row identity — pinned in tests). Only segments that
    entered or left the live set are scanned (inputFiles-pinned).""",
    oracle="""
WITH base AS (
    SELECT vec_id, label, CAST(vec_id % 3 AS INT) AS namespace
    FROM embeddings
)
SELECT
    (SELECT count(*) FROM base WHERE vec_id % 7 = 3) AS n_insert,
    (SELECT count(*) FROM base WHERE vec_id % 50 = 0) AS n_delete,
    (SELECT count(*) FROM base
     WHERE vec_id % 40 = 0 AND vec_id % 50 <> 0) AS n_update_pairs,
    (SELECT CAST(coalesce(sum(label + 10000), 0) AS BIGINT) FROM base
     WHERE vec_id % 40 = 0 AND vec_id % 50 <> 0) AS post_label_sum,
    (SELECT CAST(coalesce(sum(label), 0) AS BIGINT) FROM base
     WHERE vec_id % 50 = 0) AS deleted_label_sum
""",
)
def m16_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import transactional as tx
    from ..sources.snapshot_log import latest_version

    t = scratch_dir("cdf")

    base = spark.table("embeddings").select(
        "vec_id",
        "label",
        (F.col("vec_id") % 3).cast("int").alias("namespace"),
    )
    tx.create_partitioned_table(spark, base, t)
    v0 = latest_version(t)
    tx.upsert_by_key(
        spark,
        t,
        base.filter(F.col("vec_id") % 40 == 0).select(
            "vec_id",
            (F.col("label") + 10000).alias("label"),
            "namespace",
        ),
        key="vec_id",
    )
    tx.delete_by_key(
        spark,
        t,
        base.filter(F.col("vec_id") % 50 == 0).select("vec_id"),
        key="vec_id",
    )
    tx.append_partitioned(
        spark,
        base.filter(F.col("vec_id") % 7 == 3).select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"),
            "label",
            "namespace",
        ),
        t,
    )
    ch = tx.table_changes(spark, t, v0, key="vec_id")
    ct = F.col("_change_type")
    return ch.agg(
        F.sum((ct == "insert").cast("int")).cast("long").alias("n_insert"),
        F.sum((ct == "delete").cast("int")).cast("long").alias("n_delete"),
        F.sum((ct == "update_postimage").cast("int"))
        .cast("long")
        .alias("n_update_pairs"),
        F.coalesce(
            F.sum(F.when(ct == "update_postimage", F.col("label"))),
            F.lit(0),
        ).cast("long").alias("post_label_sum"),
        F.coalesce(
            F.sum(F.when(ct == "delete", F.col("label"))), F.lit(0)
        ).cast("long").alias("deleted_label_sum"),
    )


@query(
    "m18_restore_lifecycle",
    # Driver tier since the r8 third-session rotation (timestamp-free
    # lifecycle; sf0.01 parity verified at promotion).
    doc="""RESTORE TABLE lifecycle (snapshot_log.restore_table —
    Delta Lake's RESTORE ... TO VERSION AS OF): build a table, append
    a good batch, land a corrupting upsert, then restore to the
    pre-corruption version. Restore is ONE forward rewrite-shaped
    commit re-referencing the immutable old segments (nothing
    copied; history keeps moving forward, so the corruption stays
    time-travelable and the restore itself is undoable). The query
    returns the head state plus two self-checks: the restore-op count
    from DESCRIBE HISTORY and the row diff between head and the
    restore target (must be 0). The oracle replays the surviving
    state: base rows + the good append, corruption absent.""",
    oracle="""
WITH base AS (
    SELECT vec_id, label, CAST(vec_id % 3 AS INT) AS namespace
    FROM embeddings
),
appended AS (
    SELECT vec_id + 1000000 AS vec_id,
           CAST(label + 5 AS INT) AS label,
           namespace
    FROM base WHERE vec_id % 50 = 0
),
fin AS (
    SELECT * FROM base UNION ALL SELECT * FROM appended
)
SELECT count(*) AS n_rows,
       CAST(sum(label) AS BIGINT) AS label_sum,
       1 AS n_restores,
       0 AS diff_vs_target
FROM fin
""",
)
def m18_restore_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources import transactional as tx
    from ..sources.snapshot_log import (
        latest_version,
        restore_table,
        table_history,
    )

    t = scratch_dir("restore")

    base = spark.table("embeddings").select(
        "vec_id",
        "label",
        (F.col("vec_id") % 3).cast("int").alias("namespace"),
    )
    tx.create_partitioned_table(spark, base, t)
    tx.append_partitioned(
        spark,
        base.filter(F.col("vec_id") % 50 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            (F.col("label") + 5).cast("int").alias("label"),
            "namespace",
        ),
        t,
    )
    v_good = latest_version(t)
    tx.upsert_by_key(
        spark,
        t,
        base.filter(F.col("vec_id") % 25 == 0).select(
            "vec_id",
            (F.col("label") + 777).cast("int").alias("label"),
            "namespace",
        ),
        key="vec_id",
    )
    restore_table(t, v_good)
    head = tx.read_table(spark, t)
    target = tx.read_table(spark, t, version=v_good)
    diff = (
        head.select("vec_id", "label", "namespace")
        .exceptAll(target.select("vec_id", "label", "namespace"))
        .unionAll(
            target.select("vec_id", "label", "namespace").exceptAll(
                head.select("vec_id", "label", "namespace")
            )
        )
        .count()
    )
    n_restores = (
        table_history(spark, t).where(F.col("op") == "restore").count()
    )
    return head.agg(
        F.count("*").alias("n_rows"),
        F.sum("label").cast("long").alias("label_sum"),
        F.lit(n_restores).cast("int").alias("n_restores"),
        F.lit(diff).cast("int").alias("diff_vs_target"),
    )


@query(
    "a26_ivm_minmax_aggregate",
    driver=False,
    doc="""Retraction-aware min/max IVM (sources/rollup.
    ivm_refresh_minmax): the NON-linear aggregates maintained under
    keyed mutations — inserts extend extrema in place, a delete
    strictly inside the current extrema is absorbed with no rescan,
    and only a group whose deleted value EQUALLED its extremum is
    recomputed, with the rescan pruned to that group's partition at
    the segment list (the bounded-rescan rule from the
    view-maintenance literature). Lifecycle in-plan: full build ->
    extremum-moving updates + deletes -> refresh -> the view equals
    the direct aggregate, checked by the oracle.""",
    oracle="""
WITH base AS (
    SELECT vec_id, label, CAST(vec_id % 5 AS INT) AS namespace
    FROM embeddings
),
upd AS (
    SELECT vec_id, CAST(-label AS INT) AS label, namespace
    FROM base WHERE vec_id % 30 = 0
),
merged AS (
    SELECT b.vec_id,
           coalesce(u.label, b.label) AS label,
           b.namespace
    FROM base b LEFT JOIN upd u ON u.vec_id = b.vec_id
),
fin AS (SELECT * FROM merged WHERE vec_id % 13 <> 4)
SELECT namespace AS grp,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(label) AS BIGINT) AS total,
       CAST(min(label) AS INT) AS vmin,
       CAST(max(label) AS INT) AS vmax
FROM fin GROUP BY 1 ORDER BY grp
""",
)
def a26_ivm_minmax_aggregate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources import transactional as tx
    from ..sources.rollup import ivm_read_minmax, ivm_refresh_minmax

    src = scratch_dir("ivmm")
    view = src + "-view"

    base = spark.table("embeddings").select(
        "vec_id",
        "label",
        (F.col("vec_id") % 5).cast("int").alias("namespace"),
    )
    tx.create_partitioned_table(spark, base, src, key="vec_id")
    ivm_refresh_minmax(spark, src, view)  # full build

    # Negating labels moves minima BELOW every current minimum
    # (extremum-class updates) ...
    tx.upsert_by_key(
        spark,
        src,
        base.filter(F.col("vec_id") % 30 == 0).select(
            "vec_id",
            (-F.col("label")).cast("int").alias("label"),
            "namespace",
        ),
        key="vec_id",
    )
    # ... and deletes hit arbitrary positions incl. extrema.
    tx.merge_into(
        spark,
        src,
        base.filter(F.col("vec_id") % 13 == 4).select(
            "vec_id",
            F.lit(0).cast("int").alias("label"),
            "namespace",
        ),
        key="vec_id",
        matched=(("delete", None, None),),
        insert=False,
    )
    ivm_refresh_minmax(spark, src, view)
    return (
        ivm_read_minmax(spark, view)
        .select(
            "grp",
            "n_rows",
            F.col("total").cast("long").alias("total"),
            F.col("vmin").cast("int").alias("vmin"),
            F.col("vmax").cast("int").alias("vmax"),
        )
        .orderBy("grp")
    )


@query(
    "m20_foreign_key_lifecycle",
    driver=False,
    doc="""FOREIGN KEY lifecycle (sources/transactional.
    add_foreign_key — referential integrity enforced at WRITE time,
    the rule Delta itself leaves to audits): add an FK from the
    child's namespace to a parent key table (validated against the
    existing child first), refuse a commit carrying orphans
    atomically (no version, no partial rows; NULL FKs pass — SQL
    semantics), land the conformant batch. Enforcement is one
    broadcast LEFT ANTI of the staged rows' keys against the parent's
    distinct keys, inside the same per-CAS-attempt hook as CHECK
    constraints. The oracle replays the surviving state.""",
    oracle="""
WITH base AS (
    SELECT vec_id, label, CAST(vec_id % 4 AS INT) AS namespace
    FROM embeddings
),
ins AS (
    SELECT vec_id + 3000000 AS vec_id, CAST(label + 2 AS INT) AS label,
           namespace
    FROM base WHERE vec_id % 90 = 0
),
fin AS (SELECT * FROM base UNION ALL SELECT * FROM ins)
SELECT count(*) AS n_rows,
       CAST(sum(label) AS BIGINT) AS label_sum,
       1 AS n_fks,
       1 AS n_refused
FROM fin
""",
)
def m20_foreign_key_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources import transactional as tx

    t = scratch_dir("fk")
    p = t + "-parent"

    base = spark.table("embeddings").select(
        "vec_id",
        "label",
        (F.col("vec_id") % 4).cast("int").alias("namespace"),
    )
    tx.create_partitioned_table(
        spark,
        spark.createDataFrame(
            [(k, k, k) for k in range(4)],
            "vec_id: long, label: int, namespace: int",
        ),
        p,
    )
    tx.create_partitioned_table(spark, base, t, key="vec_id")
    tx.add_foreign_key(spark, t, "fk_ns", "namespace", p, "namespace")
    refused = 0
    try:
        tx.append_partitioned(
            spark,
            base.filter(F.col("vec_id") % 90 == 0).select(
                (F.col("vec_id") + 3000000).alias("vec_id"),
                (F.col("label") + 2).cast("int").alias("label"),
                F.lit(9).cast("int").alias("namespace"),  # orphan
            ),
            t,
        )
    except tx.ConstraintViolationError:
        refused = 1
    tx.append_partitioned(
        spark,
        base.filter(F.col("vec_id") % 90 == 0).select(
            (F.col("vec_id") + 3000000).alias("vec_id"),
            (F.col("label") + 2).cast("int").alias("label"),
            "namespace",
        ),
        t,
    )
    head = tx.read_table(spark, t)
    return head.agg(
        F.count("*").alias("n_rows"),
        F.sum("label").cast("long").alias("label_sum"),
        F.lit(len(tx.table_foreign_keys(t))).alias("n_fks"),
        F.lit(refused).alias("n_refused"),
    )


@query(
    "m19_merge_sync_by_source",
    driver=False,
    doc="""WHEN NOT MATCHED BY SOURCE (Delta 2.4's MERGE extension,
    sources/transactional.merge_into): the full-table-sync shape —
    update-all + insert + not-matched-by-source DELETE makes the
    target exactly the source snapshot, including deletions in
    partitions the source never names (the clause's presence disables
    segment pruning: rows the source cannot name may live anywhere —
    the documented full-sync cost). The oracle computes the synced
    state directly from the source expression.""",
    oracle="""
WITH base AS (
    SELECT vec_id, label, CAST(vec_id % 3 AS INT) AS namespace
    FROM embeddings
),
kept AS (
    SELECT vec_id,
           CASE WHEN vec_id % 4 = 0 THEN CAST(label + 7 AS INT)
                ELSE label END AS label,
           namespace
    FROM base WHERE vec_id % 10 <> 0
),
ins AS (
    SELECT vec_id + 2000000 AS vec_id, CAST(label + 3 AS INT) AS label,
           namespace
    FROM base WHERE vec_id % 100 = 0
),
fin AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
SELECT namespace,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(label) AS BIGINT) AS label_sum
FROM fin GROUP BY 1 ORDER BY namespace
""",
)
def m19_merge_sync_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources import transactional as tx

    t = scratch_dir("sync")

    base = spark.table("embeddings").select(
        "vec_id",
        "label",
        (F.col("vec_id") % 3).cast("int").alias("namespace"),
    )
    tx.create_partitioned_table(spark, base, t, key="vec_id")
    source = (
        base.filter(F.col("vec_id") % 10 != 0)
        .select(
            "vec_id",
            F.when(
                F.col("vec_id") % 4 == 0,
                (F.col("label") + 7).cast("int"),
            )
            .otherwise(F.col("label"))
            .alias("label"),
            "namespace",
        )
        .unionByName(
            base.filter(F.col("vec_id") % 100 == 0).select(
                (F.col("vec_id") + 2000000).alias("vec_id"),
                (F.col("label") + 3).cast("int").alias("label"),
                "namespace",
            )
        )
    )
    tx.merge_into(
        spark,
        t,
        source,
        key="vec_id",
        not_matched_by_source=(("delete", None, None),),
    )
    return (
        tx.read_table(spark, t)
        .groupBy("namespace")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("label").cast("long").alias("label_sum"),
        )
        .orderBy("namespace")
    )


@query(
    "m17_check_constraints",
    driver=False,
    doc="""CHECK-constraint lifecycle
    (sources/transactional.add_check_constraint + write-time
    enforcement): add `label >= 0` (validated against the existing
    table first), attempt an upsert carrying violations — the commit
    is REFUSED atomically (no version, no partial rows; fail-closed:
    NULL predicates count as violations) — then land the conformant
    subset. The Delta ALTER TABLE ADD CONSTRAINT CHECK contract on
    the manifest meta channel; per-path refusal is pinned in
    tests/test_constraints.py. The oracle replays the surviving
    state: base rows plus ONLY the conformant updates.""",
    oracle="""
WITH base AS (
    SELECT vec_id, label, CAST(vec_id % 3 AS INT) AS namespace
    FROM embeddings
),
good AS (
    SELECT vec_id, CAST(label + 10000 AS INT) AS label, namespace
    FROM base WHERE vec_id % 40 = 0
),
fin AS (
    SELECT b.vec_id,
           coalesce(g.label, b.label) AS label,
           b.namespace
    FROM base b
    LEFT JOIN good g
      ON g.vec_id = b.vec_id AND g.namespace = b.namespace
)
SELECT count(*) AS n_rows,
       CAST(sum(label) AS BIGINT) AS label_sum,
       1 AS n_constraints,
       1 AS n_refused
FROM fin
""",
)
def m17_check_constraints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources import transactional as tx

    t = scratch_dir("check")

    base = spark.table("embeddings").select(
        "vec_id",
        "label",
        (F.col("vec_id") % 3).cast("int").alias("namespace"),
    )
    tx.create_partitioned_table(spark, base, t)
    tx.add_check_constraint(spark, t, "nonneg", "label >= 0")
    bad = base.filter(F.col("vec_id") % 40 == 0).select(
        "vec_id",
        (-(F.col("label") + 1)).cast("int").alias("label"),
        "namespace",
    )
    refused = 0
    try:
        tx.upsert_by_key(spark, t, bad, key="vec_id")
    except tx.ConstraintViolationError:
        refused = 1
    tx.upsert_by_key(
        spark,
        t,
        base.filter(F.col("vec_id") % 40 == 0).select(
            "vec_id",
            (F.col("label") + 10000).cast("int").alias("label"),
            "namespace",
        ),
        key="vec_id",
    )
    head = tx.read_table(spark, t)
    return head.agg(
        F.count("*").alias("n_rows"),
        F.sum("label").cast("long").alias("label_sum"),
        F.lit(len(tx.table_constraints(t))).alias("n_constraints"),
        F.lit(refused).alias("n_refused"),
    )
