"""Real Structured Streaming runs converging to the batch-equivalent
results (the streaming-correctness argument for SURVEY §2.13)."""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F

from conversation_with_vector_db_spark import fixtures
from conversation_with_vector_db_spark.plans import load_all, registry
from conversation_with_vector_db_spark.session import load_tables
from conversation_with_vector_db_spark.streaming.sessions import (
    CONVERSATION_SCHEMA,
    running_counts,
    session_accumulator,
    stream_parquet_dir,
)

load_all()


@pytest.fixture(scope="module")
def conv_stream_dir(spark, sf_dir, tmp_path_factory):
    """The conversations fixture split into 4 files so
    maxFilesPerTrigger=1 yields a genuine multi-batch stream."""
    root = tmp_path_factory.mktemp("conv_stream")
    load_tables(spark, sf_dir)
    fixtures.register_derived_views(spark)
    conv = (
        spark.table("conversations")
        .filter(F.col("conversation_id").isin("c5-0", "c5-1", "c9-2"))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    # Time-quartile split: file i holds the i-th quarter of the
    # timeline, so the stream arrives in event-time order and the
    # watermark advances monotonically (like a real ingest feed).
    conv = conv.withColumn(
        "bucket",
        F.ntile(4).over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window
            .orderBy("ts")
        ) - 1,
    )
    for i in range(4):
        (
            conv.filter(F.col("bucket") == i)
            .drop("bucket")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(root / f"part{i}"))
        )
        for f in (root / f"part{i}").glob("*.parquet"):
            shutil.move(str(f), str(root / f"file{i}.parquet"))
        shutil.rmtree(root / f"part{i}")
    return str(root)


def test_running_counts_converge(spark, conv_stream_dir, tmp_path):
    stream = stream_parquet_dir(
        spark, conv_stream_dir, CONVERSATION_SCHEMA
    ).withColumnRenamed("conversation_id", "user_id")
    q = (
        running_counts(stream, key="user_id")
        .writeStream.format("memory")
        .queryName("running_counts_t")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r.user_id: r.n_chunks
        for r in spark.table("running_counts_t").collect()
    }
    expected = {
        r.conversation_id: r.n_chunks
        for r in registry.REGISTRY["x1_stream_accumulation"]
        .fn(spark, spark.conf.get("spark.cvdb.test.sfdir"))
        .collect()
    }
    assert got == expected


def test_session_accumulator_matches_islands(
    spark, sf_dir, conv_stream_dir, tmp_path
):
    """The TTL accumulator must reproduce the gaps-and-islands
    sessionization: one emitted row per closed 900s-gap session. The
    final session of each conversation stays open (the watermark never
    passes end-of-stream), exactly like a live Redis session that
    hasn't expired yet."""
    stream = stream_parquet_dir(spark, conv_stream_dir, CONVERSATION_SCHEMA)
    q = (
        session_accumulator(stream)
        .writeStream.format("memory")
        .queryName("sessions_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    emitted = [
        r
        for r in spark.table("sessions_t").collect()
        if r.conversation_id is not None
    ]
    got_sessions: dict[str, int] = {}
    got_chunks: dict[str, int] = {}
    for r in emitted:
        got_sessions[r.conversation_id] = (
            got_sessions.get(r.conversation_id, 0) + 1
        )
        got_chunks[r.conversation_id] = (
            got_chunks.get(r.conversation_id, 0) + r.n_chunks
        )

    # Batch islands model over the same three conversations.
    from pyspark.sql import Window

    conv = spark.table("conversations").filter(
        F.col("conversation_id").isin("c5-0", "c5-1", "c9-2")
    )
    w = Window.partitionBy("conversation_id").orderBy("ts", "message")
    islands = (
        conv.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "is_new",
            (
                F.col("prev_ts").isNull()
                | (
                    F.col("ts").cast("timestamp").cast("long")
                    - F.col("prev_ts").cast("timestamp").cast("long")
                    >= 900
                )
            ).cast("int"),
        )
        .withColumn(
            "sid",
            F.sum("is_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("conversation_id", "sid")
        .agg(F.count("*").alias("n"), F.max("ts").alias("last_ts"))
    )
    rows = islands.collect()
    # Final watermark = global max event time; a session emits iff its
    # TTL elapsed before that (last_ts + 900s <= watermark). Only the
    # session holding the global max can never expire.
    global_max = max(r.last_ts for r in rows)
    expected_sessions: dict[str, int] = {}
    expected_chunks: dict[str, int] = {}
    last_sid = {}
    for r in rows:
        last_sid[r.conversation_id] = max(
            last_sid.get(r.conversation_id, 0), r.sid
        )
    for r in rows:
        still_open = (
            r.sid == last_sid[r.conversation_id]
            and (global_max - r.last_ts).total_seconds() < 900
        )
        if still_open:
            continue
        expected_sessions[r.conversation_id] = (
            expected_sessions.get(r.conversation_id, 0) + 1
        )
        expected_chunks[r.conversation_id] = (
            expected_chunks.get(r.conversation_id, 0) + r.n
        )
    assert got_sessions == expected_sessions
    assert got_chunks == expected_chunks


def test_snapshot_append_sink_exactly_once(
    spark, conv_stream_dir, tmp_path
):
    """X8 through the snapshot log: micro-batches commit as txn-tagged
    table versions (ONE write path with CoW/MOR), the latest-state
    read is the same max-batch_id window over the batch_id COLUMN, and
    a restart on the same checkpoint with no new data commits nothing
    new."""
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        last_txn_version,
        read_snapshot,
        versions,
    )
    from conversation_with_vector_db_spark.streaming.sessions import (
        snapshot_append_sink_query,
    )

    def counts_stream():
        stream = stream_parquet_dir(
            spark, conv_stream_dir, CONVERSATION_SCHEMA
        )
        return (
            stream.withWatermark("ts", "30 minutes")
            .groupBy("conversation_id")
            .agg(F.count("*").alias("n"))
        )

    out = str(tmp_path / "snap_sink")
    ckpt = str(tmp_path / "snap_ckpt")
    q = snapshot_append_sink_query(counts_stream(), out, ckpt).start()
    q.processAllAvailable()
    q.stop()
    table = read_snapshot(spark, out)
    last = table.agg(F.max("batch_id")).first()[0]
    final = {
        r.conversation_id: r.n
        for r in table.filter(F.col("batch_id") == last).collect()
    }
    assert sum(final.values()) > 0
    assert set(final) == {"c5-0", "c5-1", "c9-2"}
    # >= not ==: a trailing EMPTY update batch commits its txn (zero
    # rows), so the txn high-water mark can outrun the max batch_id
    # visible in the data.
    assert last_txn_version(out, "stream-sink") >= last
    # Restart on the same checkpoint, no new data: no new commits.
    before = versions(out)
    q = snapshot_append_sink_query(counts_stream(), out, ckpt).start()
    q.processAllAvailable()
    q.stop()
    assert versions(out) == before
    assert _collect_sorted(read_snapshot(spark, out)) == _collect_sorted(
        table
    )


def _collect_sorted(df):
    return sorted(map(tuple, df.collect()))


_REPLAY_DOCS = [
    [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "one two three four five six seven eight nine"),
    ],
    [
        (3, "alpha beta gamma delta epsilon zeta eta theta"),
        (4, "spark streams replay batches through the sink exactly once"),
    ],
    [
        (5, "one two three four five six seven eight nine"),
        (6, "a fresh document about vector stores and retrieval here"),
    ],
]


_REPLAY_CHANGES = [
    [(1, "2026-01-01 00:00:00", "a", 5, "insert"),
     (2, "2026-01-01 00:01:00", "b", 7, "insert")],
    [(3, "2026-01-01 00:02:00", "a", 5, "delete"),
     (1, "2026-01-01 00:02:30", "a", 5, "insert")],
    [(4, "2026-01-01 00:03:00", "b", 2, "update_postimage"),
     (5, "2026-01-01 00:04:00", "c", 1, "insert")],
]


def _replay_vectors(i: int, cell: int) -> list[float]:
    """A 4-d vector near one of two fixed directions."""
    base = [1.0, 0.0, 0.0, 0.0] if cell == 0 else [0.0, 0.0, 1.0, 0.0]
    return [x + 0.01 * ((i * 7 + j) % 5) for j, x in enumerate(base)]


@pytest.mark.parametrize(
    "sink",
    [
        "snapshot_append",
        "cms",
        "expectations",
        "minhash_gate",
        "ivm",
        "index_upsert",
    ],
)
def test_sink_replayed_batch_changes_nothing(
    spark, conv_stream_dir, tmp_path, sink
):
    """A true replay: the last micro-batch's commit marker is lost (a
    crash after the sink wrote but before the checkpoint commit), so
    the restart re-runs that batch id with the same offsets. Every
    store must keep the clean run's versions and rows: the batch's txn
    is already committed, so the sink publishes nothing. The ivm and
    index_upsert cases read through a stateful upstream
    (dropDuplicatesWithinWatermark), whose state stores only commit if
    the skipped batch's plan still runs."""
    import os

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from conversation_with_vector_db_spark.functions.embedding import (
        tokens_expr,
    )
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        read_snapshot,
        versions,
    )
    from conversation_with_vector_db_spark.streaming import sessions as ss

    docs_schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = tmp_path / "src"
    _flat_parquet_files(spark, src, _REPLAY_DOCS, docs_schema)
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    stores = [store]

    def docs():
        return stream_parquet_dir(spark, str(src), docs_schema)

    if sink == "snapshot_append":

        def start():
            counts = (
                stream_parquet_dir(
                    spark, conv_stream_dir, CONVERSATION_SCHEMA
                )
                .withWatermark("ts", "30 minutes")
                .groupBy("conversation_id")
                .agg(F.count("*").alias("n"))
            )
            return ss.snapshot_append_sink_query(counts, store, ckpt)

    elif sink == "cms":

        def start():
            tokens = docs().select(
                F.explode(tokens_expr(F.col("text"))).alias("token")
            )
            return ss.streaming_cms_sink(tokens, store, ckpt)

    elif sink == "expectations":
        specs = [("not_null", "text"), ("min_at_least", "doc_id", 2)]

        def start():
            return ss.streaming_expectations_sink(docs(), store, ckpt, specs)

    elif sink == "minhash_gate":
        stores = [f"{store}/{n}" for n in ("accepted", "bands", "decisions")]

        def start():
            return ss.streaming_minhash_dedup_sink(docs(), store, ckpt)

    elif sink == "ivm":
        changes = tmp_path / "changes"
        _flat_parquet_files(
            spark, changes, _REPLAY_CHANGES,
            "id long, ts string, namespace string, label long, "
            "_change_type string",
        )
        changes_schema = StructType(
            [
                StructField("id", LongType()),
                StructField("ts", StringType()),
                StructField("namespace", StringType()),
                StructField("label", LongType()),
                StructField("_change_type", StringType()),
            ]
        )

        def start():
            stream = (
                stream_parquet_dir(spark, str(changes), changes_schema)
                .withColumn("ts", F.to_timestamp("ts"))
                .withWatermark("ts", "1 hour")
                .dropDuplicatesWithinWatermark(["id"])
            )
            return ss.streaming_ivm_sink(stream, store, ckpt)

    else:
        from pyspark.sql.types import ArrayType, DoubleType

        from conversation_with_vector_db_spark.operators.ann import (
            ivf_table_create,
        )

        ivf_table_create(
            spark,
            spark.createDataFrame(
                [(i, _replay_vectors(i, i % 2)) for i in range(20)],
                "vec_id long, embedding array<double>",
            ),
            store,
            nlist=2,
        )
        vecs = tmp_path / "vecs"
        _flat_parquet_files(
            spark,
            vecs,
            [
                [(0, "2026-01-01 00:00:00", _replay_vectors(0, 1)),
                 (100, "2026-01-01 00:01:00", _replay_vectors(100, 0))],
                [(101, "2026-01-01 00:02:00", _replay_vectors(101, 1))],
                [(3, "2026-01-01 00:03:00", _replay_vectors(3, 0)),
                 (102, "2026-01-01 00:04:00", _replay_vectors(102, 1))],
            ],
            "vec_id long, ts string, embedding array<double>",
        )
        vecs_schema = StructType(
            [
                StructField("vec_id", LongType()),
                StructField("ts", StringType()),
                StructField("embedding", ArrayType(DoubleType())),
            ]
        )

        def start():
            stream = (
                stream_parquet_dir(spark, str(vecs), vecs_schema)
                .withColumn("ts", F.to_timestamp("ts"))
                .withWatermark("ts", "1 hour")
                .dropDuplicatesWithinWatermark(["vec_id"])
                .select("vec_id", "embedding")
            )
            return ss.streaming_index_upsert_sink(stream, store, ckpt)

    def run() -> list[int]:
        q = start().start()
        try:
            q.processAllAvailable()
            return [p["batchId"] for p in q.recentProgress]
        finally:
            q.stop()

    def state():
        return [
            (versions(s), sorted(map(repr, read_snapshot(spark, s).collect())))
            for s in stores
        ]

    run()
    clean = state()
    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    assert last >= 1  # a multi-batch stream, so the replay reads a store
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    assert last in run()  # Spark re-ran the uncommitted batch id
    assert os.path.exists(os.path.join(commits, str(last)))
    assert state() == clean


def test_streaming_index_upsert_exactly_once(spark, tmp_path):
    """Vector-ingest stream into the transactional IVF index: batches
    upsert atomically (a moved embedding leaves no stale twin), and a
    checkpoint restart with no new data commits nothing."""
    import numpy as np

    from conversation_with_vector_db_spark.operators.ann import (
        ivf_table_create,
        ivf_table_topk,
    )
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        versions,
    )
    from conversation_with_vector_db_spark.sources.transactional import (
        read_table,
    )
    from conversation_with_vector_db_spark.streaming.sessions import (
        stream_parquet_dir,
        streaming_index_upsert_sink,
    )
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    rng = np.random.default_rng(5)
    cents = rng.normal(size=(4, 16))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    def vec(c, eps):
        return [float(x) for x in cents[c] + eps]

    base = [
        (int(i), vec(i % 4, rng.normal(size=16) * 0.05))
        for i in range(40)
    ]
    corpus = spark.createDataFrame(
        base, "vec_id long, embedding array<double>"
    )
    t = str(tmp_path / "stream_index")
    ivf_table_create(spark, corpus, t, nlist=4)

    # Two stream files: batch A moves vec 0 onto cluster 2 and adds
    # vec 100; batch B adds vec 101 on cluster 3.
    root = tmp_path / "vecs"
    root.mkdir()
    import shutil as _sh

    batches = [
        [(0, vec(2, rng.normal(size=16) * 0.01)),
         (100, vec(2, rng.normal(size=16) * 0.01))],
        [(101, vec(3, rng.normal(size=16) * 0.01))],
    ]
    for i, rows in enumerate(batches):
        part = root / f"stage{i}"
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(str(part))
        for f in part.glob("*.parquet"):
            _sh.move(str(f), str(root / f"file{i}.parquet"))
        _sh.rmtree(part)

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])
    ckpt = str(tmp_path / "ckpt_idx")
    q = streaming_index_upsert_sink(
        stream_parquet_dir(spark, str(root), schema), t, ckpt
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    tbl = read_table(spark, t)
    assert tbl.count() == 42  # 40 base + 2 new, moved id not doubled
    assert tbl.filter(F.col("vec_id") == 0).count() == 1
    # The moved vector is found by a cluster-2 probe.
    probe = spark.createDataFrame(
        [(-1, vec(2, np.zeros(16)))], "vec_id long, embedding array<double>"
    )
    top = {
        r["vec_id"]
        for r in ivf_table_topk(spark, t, probe, k=3, nprobe=1).collect()
    }
    assert {0, 100} <= top

    # Restart on the same checkpoint: no new data -> no new commits.
    before = versions(t)
    q = streaming_index_upsert_sink(
        stream_parquet_dir(spark, str(root), schema), t, ckpt
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert versions(t) == before


@pytest.mark.heavy
def test_streaming_index_steady_state_compaction_loop(spark, tmp_path):
    """The live serving-index steady state (VERDICT r6 #5 / r7 next #4):
    N streaming upsert micro-batches accumulate small per-cell
    segments; `compact_snapshots` folds them within their cell tags;
    a probe afterward still prunes its scan to the probed cells, ranks
    exactly what it ranked before compaction, and a checkpoint restart
    still replays nothing. This composition — ingest, maintain, serve
    on ONE table — is the claim a 100 TB serving index relies on."""
    import numpy as np

    from conversation_with_vector_db_spark.operators.ann import (
        _load_centroids,
        ivf_probe,
        ivf_table_create,
        ivf_table_topk,
    )
    from conversation_with_vector_db_spark.operators.vector import (
        collect_query_vectors,
    )
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        compact_snapshots,
        versions,
    )
    from conversation_with_vector_db_spark.sources.transactional import (
        live_segments,
        read_table,
    )
    from conversation_with_vector_db_spark.streaming.sessions import (
        stream_parquet_dir,
        streaming_index_upsert_sink,
    )
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    rng = np.random.default_rng(11)
    cents = rng.normal(size=(4, 16))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    def vec(c, scale=0.05):
        return [float(x) for x in cents[c] + rng.normal(size=16) * scale]

    corpus = spark.createDataFrame(
        [(int(i), vec(i % 4)) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    t = str(tmp_path / "steady_index")
    ivf_table_create(spark, corpus, t, nlist=4)

    # 5 micro-batches: new vectors on rotating cells plus an update to
    # an existing id each batch (vector moved within its cell).
    import shutil as _sh

    root = tmp_path / "vecs"
    root.mkdir()
    for b in range(5):
        rows = [
            (int(1000 + 10 * b + j), vec((b + j) % 4, 0.02))
            for j in range(3)
        ] + [(b, vec(b % 4, 0.02))]
        part = root / f"stage{b}"
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(str(part))
        for f in part.glob("*.parquet"):
            _sh.move(str(f), str(root / f"file{b}.parquet"))
        _sh.rmtree(part)

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])
    ckpt = str(tmp_path / "ckpt_steady")
    q = streaming_index_upsert_sink(
        stream_parquet_dir(spark, str(root), schema), t, ckpt
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    n_rows = read_table(spark, t).count()
    assert n_rows == 40 + 15  # 15 new ids; 5 moved ids not doubled
    segs_before = live_segments(t)
    # 5 upsert commits over a 4-cell table leave a small-file backlog
    # (more live segments than cells).
    assert len(segs_before) > 4

    probes = spark.createDataFrame(
        [(-1, [float(x) for x in cents[2]]),
         (-2, [float(x) for x in cents[3]])],
        "vec_id long, embedding array<double>",
    )
    pre = _collect_sorted(
        ivf_table_topk(spark, t, probes, k=5, nprobe=1)
    )

    compact_snapshots(spark, t)

    segs_after = live_segments(t)
    assert len(segs_after) < len(segs_before)  # backlog folded
    assert read_table(spark, t).count() == n_rows  # no row lost/duped
    # Every compacted segment keeps its cell tag.
    assert all("-cell=" in s for s in segs_after)

    # Serving is unchanged: same ranking, and the probe's scan is
    # still confined to the probed cells' segments (manifest-level
    # pruning survives the rewrite).
    post_df = ivf_table_topk(spark, t, probes, k=5, nprobe=1)
    assert _collect_sorted(post_df) == pre
    probed_cells = {
        str(cell)
        for _, _, cell in ivf_probe(
            _load_centroids(t), collect_query_vectors(probes), 1
        )
    }
    pruned = read_table(
        spark, t, partitions=probed_cells, partition_col="cell"
    )
    files = pruned.inputFiles()
    assert files
    assert all(
        any(f"-cell={c}/" in f or f"-cell={c}%" in f for c in probed_cells)
        for f in files
    )
    # And the pruned scan reads strictly fewer segments than the table.
    assert len(files) < len(read_table(spark, t).inputFiles())

    # Exactly-once still holds on the compacted table: a checkpoint
    # restart with no new files replays nothing.
    before = versions(t)
    q = streaming_index_upsert_sink(
        stream_parquet_dir(spark, str(root), schema), t, ckpt
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert versions(t) == before


def test_continuation_loop_converges_to_batch_fixpoint(
    spark, sf_dir, tmp_path
):
    """X5/X6: a LIVE stream whose sink feeds tool results back into its
    own source must converge to exactly the x5_stream_continuation
    batch fixpoint (re-entrant assistant runs,
    sockets/assistants/assistantHandler.js:89-137)."""
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        read_snapshot,
    )
    from conversation_with_vector_db_spark.streaming.sessions import (
        CONTINUATION_SCHEMA,
        continuation_sink,
    )

    load_tables(spark, sf_dir)
    fixtures.register_derived_views(spark)
    runs = (
        spark.table("prompts")
        .filter(~F.col("is_deleted") & (F.col("prompt_id") < 1000))
        .select(
            F.col("prompt_id").alias("run_id"),
            F.coalesce("tokenused", F.lit(0)).alias("base"),
            (F.col("prompt_id") % 3).cast("long").alias("depth"),
        )
    )
    # Seed: the initial token chunk per run, plus the first tool call
    # for runs that need continuation rounds.
    text = runs.select(
        "run_id",
        F.lit("text").alias("kind"),
        F.lit(0).cast("long").alias("round"),
        "base",
        F.col("base").alias("tokens"),
        "depth",
    )
    first_calls = runs.filter(F.col("depth") > 0).select(
        "run_id",
        F.lit("tool_call").alias("kind"),
        F.lit(0).cast("long").alias("round"),
        "base",
        F.lit(0).cast("long").alias("tokens"),
        "depth",
    )
    input_dir = str(tmp_path / "chunks")
    out_dir = str(tmp_path / "runs_out")
    text.unionByName(first_calls).write.mode("append").parquet(input_dir)

    stream = stream_parquet_dir(
        spark, input_dir, CONTINUATION_SCHEMA, max_files_per_trigger=8
    )
    q = continuation_sink(
        stream, input_dir, out_dir, str(tmp_path / "ckpt_cont")
    ).start()
    # X6 poll-to-completion: the feedback loop adds source files DURING
    # processing, so poll until the accumulated output stabilizes.
    prev = -1
    for _ in range(20):
        q.processAllAvailable()
        n = read_snapshot(spark, out_dir).count()
        if n == prev:
            break
        prev = n
    q.stop()

    streamed = (
        read_snapshot(spark, out_dir)
        .groupBy("run_id")
        .agg(
            F.sum("tokens").alias("total_tokens"),
            F.max("round").cast("int").alias("n_rounds"),
        )
    )
    got = {
        r.run_id: (r.n_rounds, r.total_tokens) for r in streamed.collect()
    }
    expected = {
        r.run_id: (r.n_rounds, r.total_tokens)
        for r in registry.REGISTRY["x5_stream_continuation"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert got == expected


@pytest.fixture(autouse=True)
def _stash_sfdir(spark, sf_dir):
    spark.conf.set("spark.cvdb.test.sfdir", sf_dir)


def test_streaming_exact_dedup_converges(spark, conv_stream_dir, tmp_path):
    """Ingest-time exact dedup: the multi-batch stream emits exactly one
    row per distinct normalized message content, matching the batch
    distinct; state is watermark-bounded."""
    from conversation_with_vector_db_spark.operators.dedup import (
        content_hash,
    )
    from conversation_with_vector_db_spark.streaming.sessions import (
        streaming_exact_dedup,
    )

    stream = stream_parquet_dir(
        spark, conv_stream_dir, CONVERSATION_SCHEMA
    )
    q = (
        streaming_exact_dedup(stream, text_col="message", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("dedup_stream")
    batch = (
        spark.read.parquet(conv_stream_dir)
        .withColumn("chash", content_hash(F.col("message")))
    )
    n_distinct = batch.select("chash").distinct().count()
    # One emit per distinct content, and it IS a subset of the input.
    assert got.count() == n_distinct
    assert got.select("chash").distinct().count() == n_distinct
    assert (
        got.join(batch, ["conversation_id", "ts", "sender", "chash"])
        .count()
        == n_distinct
    )


def test_streaming_minhash_dedup_gate(spark, sf_dir, tmp_path):
    """Streaming NEAR-dup ingest: base docs arrive first, then the
    planted variants batch by batch; every exact plant must be rejected
    against the store, matches must point at accepted docs only, and
    accepted + rejected must partition the stream."""
    import shutil as _sh

    from conversation_with_vector_db_spark.streaming.sessions import (
        DOCUMENT_SCHEMA,
        stream_parquet_dir,
        streaming_minhash_dedup_sink,
    )

    load_tables(spark, sf_dir)
    fixtures.register_derived_views(spark)
    corpus = spark.table("corpus")
    root = tmp_path / "doc_stream"
    root.mkdir()
    # One file per id range, written in arrival order (mtime order =
    # FileStreamSource order): base corpus, then the planted variants.
    for i, (lo, hi) in enumerate(
        [(0, 500000000), (500000000, 1000000000), (1000000000, 1500000000), (1500000000, 2000000000)]
    ):
        part = root / f"part{i}"
        (
            corpus.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(part))
        )
        for f in part.glob("*.parquet"):
            _sh.move(str(f), str(root / f"file{i}.parquet"))
        _sh.rmtree(part)

    store = str(tmp_path / "store")
    q = streaming_minhash_dedup_sink(
        stream_parquet_dir(spark, str(root), DOCUMENT_SCHEMA),
        store,
        str(tmp_path / "ckpt_gate"),
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    from conversation_with_vector_db_spark.sources.snapshot_log import (
        read_snapshot,
    )

    dec = read_snapshot(spark, store + "/decisions")
    n_corpus = corpus.count()
    assert dec.count() == n_corpus
    by_id = {r["doc_id"]: r for r in dec.collect()}
    base = [i for i in by_id if i < 500000000]
    exact = [i for i in by_id if 500000000 <= i < 1000000000]
    # Base batch: nothing in the store yet -> all accepted.
    assert all(not by_id[i]["is_dup"] for i in base)
    # Exact plants: all rejected with jaccard 1.0 against their source.
    assert exact
    for i in exact:
        assert by_id[i]["is_dup"], i
        assert by_id[i]["matched_id"] == i - 500000000
        assert by_id[i]["best_jaccard"] == 1.0
    # Perturbed plants: the near-dup signal must fire broadly.
    tails = [i for i in by_id if 1000000000 <= i < 1500000000]
    assert tails
    n_tail_dups = sum(bool(by_id[i]["is_dup"]) for i in tails)
    assert n_tail_dups >= 0.8 * len(tails)
    # Accepted store + rejected decisions partition the stream, and
    # every match points at an ACCEPTED doc.
    accepted_ids = {
        r["doc_id"]
        for r in read_snapshot(spark, store + "/accepted")
        .select("doc_id")
        .collect()
    }
    rejected_ids = {i for i in by_id if by_id[i]["is_dup"]}
    assert accepted_ids | rejected_ids == set(by_id)
    assert not (accepted_ids & rejected_ids)
    assert all(
        by_id[i]["matched_id"] in accepted_ids for i in rejected_ids
    )
    # The band index holds exactly 4 keys per accepted doc.
    bands = read_snapshot(spark, store + "/bands")
    assert bands.count() == 4 * len(accepted_ids)


def test_streaming_minhash_gate_redelivery_is_noop(spark, tmp_path):
    """At-least-once sources re-deliver docs: a doc_id already in the
    accepted corpus must be a no-op — not a self-pair that NULLs its
    own Jaccard and re-enters the corpus as a permanent duplicate."""
    from conversation_with_vector_db_spark.streaming.sessions import (
        DOCUMENT_SCHEMA,
        stream_parquet_dir,
        streaming_minhash_dedup_sink,
    )

    root = tmp_path / "redeliver"
    root.mkdir()
    batch0 = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "one two three four five six seven eight nine"),
    ]
    batch1 = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),  # again
        (3, "totally different content about spark streams here"),
    ]
    for i, rows in enumerate((batch0, batch1)):
        df = spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1)
        part = root / f"stage{i}"
        df.write.mode("overwrite").parquet(str(part))
        import shutil as _sh

        for f in part.glob("*.parquet"):
            _sh.move(str(f), str(root / f"file{i}.parquet"))
        _sh.rmtree(part)

    store = str(tmp_path / "store_rd")
    q = streaming_minhash_dedup_sink(
        stream_parquet_dir(spark, str(root), DOCUMENT_SCHEMA),
        store,
        str(tmp_path / "ckpt_rd"),
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    from conversation_with_vector_db_spark.sources.snapshot_log import (
        read_snapshot,
    )

    accepted = read_snapshot(spark, store + "/accepted")
    rows = accepted.select("doc_id").collect()
    ids = [r["doc_id"] for r in rows]
    assert sorted(ids) == [1, 2, 3]  # doc 1 exactly once, no duplicate
    bands = read_snapshot(spark, store + "/bands")
    assert bands.count() == 4 * 3


def test_streaming_minhash_gate_refuses_foreign_store(spark, tmp_path):
    """A FRESH checkpoint pointed at an existing store restarts batch
    ids at 0 — which would both hide the accepted corpus (reads filter
    batch_id < N) and overwrite stored batches. The pairing guard must
    refuse loudly, and it must compute the stored max from the
    UNFILTERED store: the batch_id < 0 view of batch 0 is empty and
    would blind a guard that reads through it (the r4 review's dead-
    guard finding)."""
    import pytest

    from conversation_with_vector_db_spark.streaming.sessions import (
        DOCUMENT_SCHEMA,
        stream_parquet_dir,
        streaming_minhash_dedup_sink,
    )

    root = tmp_path / "foreign"
    root.mkdir()
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        ["doc_id", "text"],
    ).coalesce(1)
    part = root / "stage"
    df.write.mode("overwrite").parquet(str(part))
    import shutil as _sh

    for f in part.glob("*.parquet"):
        _sh.move(str(f), str(root / "file0.parquet"))
    _sh.rmtree(part)

    store = str(tmp_path / "store_foreign")
    # First owner processes batches 0..1 (two files -> maxFilesPerTrigger
    # default processes availables; run once, then add a file and run
    # again so the store's max batch_id reaches >= 1).
    q = streaming_minhash_dedup_sink(
        stream_parquet_dir(spark, str(root), DOCUMENT_SCHEMA),
        store,
        str(tmp_path / "ckpt_owner"),
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    df2 = spark.createDataFrame(
        [(2, "one two three four five six seven eight nine")],
        ["doc_id", "text"],
    ).coalesce(1)
    part2 = root / "stage2"
    df2.write.mode("overwrite").parquet(str(part2))
    for f in part2.glob("*.parquet"):
        _sh.move(str(f), str(root / "file1.parquet"))
    _sh.rmtree(part2)
    q = streaming_minhash_dedup_sink(
        stream_parquet_dir(spark, str(root), DOCUMENT_SCHEMA),
        store,
        str(tmp_path / "ckpt_owner"),
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        last_txn_version,
        read_snapshot,
    )

    stored_max = last_txn_version(store + "/accepted", "minhash-gate")
    assert stored_max >= 1  # precondition: store outran a fresh ckpt

    # Fresh checkpoint, same store: batch 0 < stored max -> refuse.
    q = streaming_minhash_dedup_sink(
        stream_parquet_dir(spark, str(root), DOCUMENT_SCHEMA),
        store,
        str(tmp_path / "ckpt_fresh"),
    ).start()
    try:
        with pytest.raises(Exception, match="does not own store"):
            q.processAllAvailable()
            if q.exception() is not None:
                raise q.exception()
    finally:
        q.stop()
    # The store survives untouched: doc ids 1 and 2 still accepted.
    ids = sorted(
        r["doc_id"]
        for r in read_snapshot(spark, store + "/accepted")
        .select("doc_id")
        .collect()
    )
    assert ids == [1, 2]


@pytest.mark.heavy
def test_streaming_dedup_gate_survives_store_compaction(spark, tmp_path):
    """Steady-state maintenance of the streaming near-dup gate's THREE
    snapshot-log stores (bands/accepted/decisions): compact them while
    the stream is stopped, then continue on the same checkpoint — new
    duplicates must still match the PRE-compaction accepted docs, new
    originals must still be accepted, segment counts must have
    dropped, and a no-new-data restart must commit nothing. The
    dedup-gate sibling of the serving-index steady-state test: state
    stores that cannot be compacted mid-stream are not operable at
    100 TB."""
    import shutil as _sh

    from conversation_with_vector_db_spark.sources.snapshot_log import (
        compact_snapshots,
        live_segments as sl_live,
        read_snapshot,
        versions,
    )
    from conversation_with_vector_db_spark.streaming.sessions import (
        DOCUMENT_SCHEMA,
        stream_parquet_dir,
        streaming_minhash_dedup_sink,
    )

    def text_of(i):
        return " ".join(f"w{i}x{j}" for j in range(30))

    root = tmp_path / "docs"
    root.mkdir()

    def write_file(n, rows):
        part = root / f"part{n}"
        spark.createDataFrame(rows, DOCUMENT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(part))
        for f in part.glob("*.parquet"):
            _sh.move(str(f), str(root / f"file{n}.parquet"))
        _sh.rmtree(part)

    # Phase 1: 10 originals, then 5 exact copies (ids 100-104).
    write_file(0, [(i, text_of(i)) for i in range(10)])
    write_file(1, [(100 + i, text_of(i)) for i in range(5)])
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    q = streaming_minhash_dedup_sink(
        stream_parquet_dir(spark, str(root), DOCUMENT_SCHEMA), store, ckpt
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    segs_before = {
        s: len(sl_live(f"{store}/{s}"))
        for s in ("bands", "accepted", "decisions")
    }
    for s in ("bands", "accepted", "decisions"):
        compact_snapshots(spark, f"{store}/{s}")
    for s in ("bands", "accepted", "decisions"):
        assert len(sl_live(f"{store}/{s}")) <= segs_before[s]
    assert sum(len(sl_live(f"{store}/{s}"))
               for s in ("bands", "accepted", "decisions")) < sum(
        segs_before.values()
    )

    # Phase 2 on the SAME checkpoint: copies of docs 5-9 (must match
    # the pre-compaction accepted set) + 3 new originals.
    write_file(2, [(200 + i, text_of(5 + i)) for i in range(5)]
               + [(300 + i, text_of(300 + i)) for i in range(3)])
    q = streaming_minhash_dedup_sink(
        stream_parquet_dir(spark, str(root), DOCUMENT_SCHEMA), store, ckpt
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    dec = {
        r["doc_id"]: r
        for r in read_snapshot(spark, f"{store}/decisions").collect()
    }
    assert len(dec) == 23
    for i in range(5):
        r = dec[200 + i]
        assert r["is_dup"] and r["matched_id"] == 5 + i
        assert r["best_jaccard"] == 1.0
    for i in range(3):
        assert not dec[300 + i]["is_dup"]
    accepted = {
        r["doc_id"]
        for r in read_snapshot(spark, f"{store}/accepted").collect()
    }
    assert accepted == set(range(10)) | {300, 301, 302}

    # Exactly-once still holds post-compaction: a restart with no new
    # files commits nothing to any store.
    before = {s: versions(f"{store}/{s}")
              for s in ("bands", "accepted", "decisions")}
    q = streaming_minhash_dedup_sink(
        stream_parquet_dir(spark, str(root), DOCUMENT_SCHEMA), store, ckpt
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    for s in ("bands", "accepted", "decisions"):
        assert versions(f"{store}/{s}") == before[s]


def test_streaming_rollup_refresh_converges(spark, tmp_path):
    """Streaming ingest feeding the continuous aggregate: each
    micro-batch commits to the snapshot-log source exactly-once
    (txn-tagged) and refreshes the rollup; the final merged rollup
    equals a direct aggregate over everything streamed, and a
    restart on the same checkpoint commits nothing and leaves the
    rollup untouched."""
    from conversation_with_vector_db_spark.sources.rollup import (
        rollup_read,
        rollup_refresh,
    )
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        append_snapshot_txn,
        create_table,
        read_snapshot,
        versions,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    all_events = spark.range(0, 400).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.col("id") * 527).alias("ts"),
        (F.col("id") % 11).cast("double").alias("value"),
    )
    for i in range(4):
        (
            all_events.filter(F.col("event_id") % 4 == i)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(tmp_path / f"_p{i}"))
        )
        for f in (tmp_path / f"_p{i}").glob("*.parquet"):
            shutil.move(str(f), str(feed / f"file{i}.parquet"))
        shutil.rmtree(tmp_path / f"_p{i}")

    src = str(tmp_path / "src")
    rup = str(tmp_path / "rup")
    create_table(src)
    ckpt = str(tmp_path / "ckpt")

    def sink(batch_df, batch_id):
        committed = append_snapshot_txn(
            batch_df, src, app="ev-sink", txn_version=batch_id
        )
        if committed is not None:
            rollup_refresh(batch_df.sparkSession, src, rup)

    def start():
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
        )
        return (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()

    assert read_snapshot(spark, src).count() == 400
    merged = {
        r["bucket"]: (r["n_events"], round(r["total"], 6))
        for r in rollup_read(spark, rup).collect()
    }
    direct = {
        r["bucket"]: (r["n"], round(r["t"], 6))
        for r in all_events.select(
            F.floor(
                F.unix_micros(F.col("ts").cast("timestamp"))
                / F.lit(3_600_000_000).cast("long")
            ).alias("bucket"),
            "value",
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert merged == direct
    # Restart on the same checkpoint with no new files: no new source
    # commits, no rollup movement.
    src_before, rup_before = versions(src), versions(rup)
    q = start()
    q.processAllAvailable()
    q.stop()
    assert versions(src) == src_before
    assert versions(rup) == rup_before


@pytest.mark.heavy
def test_streaming_semantic_dedup_gate(spark, tmp_path):
    """Streaming semantic ingest: base vectors arrive first (fit +
    accept), then exact copies (rejected at sim 1.0 against their
    source), novel vectors (accepted), a copy of a LATER-accepted
    vector (rejected against it), and a ragged vector (accepted with a
    NULL match). Restarting on the same checkpoint commits nothing."""
    import random
    import shutil as _sh

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from conversation_with_vector_db_spark.sources.snapshot_log import (
        read_snapshot,
        versions,
    )
    from conversation_with_vector_db_spark.streaming.sessions import (
        stream_parquet_dir,
        streaming_semantic_dedup_sink,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    rng = random.Random(23)

    def blob(center, n, start_id):
        return [
            (
                start_id + i,
                [c + rng.uniform(-0.03, 0.03) for c in center],
            )
            for i in range(n)
        ]

    base = blob([1.0] * 8, 15, 0) + blob([-1.0] + [0.0] * 7, 15, 100)
    copies = [(1000 + i, list(base[i][1])) for i in range(5)]
    novel = blob([0.0] * 7 + [5.0], 5, 2000)
    late_copy = [(3000, list(novel[0][1]))]
    ragged = [(3001, [1.0, 2.0])]
    another_copy = [(3002, list(base[20][1]))]

    root = tmp_path / "vec_stream"
    root.mkdir()
    for i, rows in enumerate(
        [base, copies + novel, late_copy + ragged + another_copy]
    ):
        part = root / f"part{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(part))
        for f in part.glob("*.parquet"):
            _sh.move(str(f), str(root / f"file{i}.parquet"))
        _sh.rmtree(part)

    store = str(tmp_path / "sem_store")
    ckpt = str(tmp_path / "ckpt_sem")
    q = streaming_semantic_dedup_sink(
        stream_parquet_dir(spark, str(root), schema), store, ckpt
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    dec = {r["vec_id"]: r for r in read_snapshot(spark, store + "/decisions").collect()}
    assert len(dec) == len(base) + 5 + 5 + 3
    # Base batch all accepted.
    for i, _ in base:
        assert not dec[i]["is_dup"], i
    # Exact copies rejected at 1.0 against their base source.
    for i in range(5):
        assert dec[1000 + i]["is_dup"]
        assert dec[1000 + i]["best_sim"] == 1.0
        assert dec[1000 + i]["matched_id"] == i
    # Novel cluster accepted (first arrivals).
    for i, _ in novel:
        assert not dec[i]["is_dup"], i
    # Copy of a batch-2-accepted vector is rejected AGAINST it.
    assert dec[3000]["is_dup"] and dec[3000]["matched_id"] == 2000
    assert dec[3000]["best_sim"] == 1.0
    # Ragged vector cannot block -> accepted, NULL match.
    assert not dec[3001]["is_dup"] and dec[3001]["matched_id"] is None
    assert dec[3002]["is_dup"] and dec[3002]["matched_id"] == base[20][0]
    # accepted/rejected partition; assign excludes rejected AND ragged.
    accepted_ids = {
        r["vec_id"]
        for r in read_snapshot(spark, store + "/accepted").collect()
    }
    rejected_ids = {i for i in dec if dec[i]["is_dup"]}
    assert accepted_ids | rejected_ids == set(dec)
    assert not (accepted_ids & rejected_ids)
    assign_ids = {
        r["vec_id"]
        for r in read_snapshot(spark, store + "/assign").collect()
    }
    assert assign_ids == accepted_ids - {3001}
    # Restart on the same checkpoint: no new commits anywhere.
    before = {
        s: len(versions(f"{store}/{s}"))
        for s in ("model", "accepted", "assign", "decisions")
    }
    q2 = streaming_semantic_dedup_sink(
        stream_parquet_dir(spark, str(root), schema), store, ckpt
    ).start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    after = {
        s: len(versions(f"{store}/{s}"))
        for s in ("model", "accepted", "assign", "decisions")
    }
    assert after == before


@pytest.mark.heavy
def test_streaming_semantic_gate_crash_mid_commit_sequence(
    spark, tmp_path, monkeypatch
):
    """Crash between the per-store txn commits (accepted landed, assign
    and decisions did not): the restart replays the batch, the
    already-committed store is skipped by its txn version, the missing
    stores land exactly once, and the final state equals a crash-free
    run's."""
    import random
    import shutil as _sh

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from conversation_with_vector_db_spark.sources import snapshot_log as sl
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        read_snapshot,
    )
    from conversation_with_vector_db_spark.streaming.sessions import (
        stream_parquet_dir,
        streaming_semantic_dedup_sink,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    rng = random.Random(31)
    base = [
        (i, [1.0 + rng.uniform(-0.03, 0.03) for _ in range(8)])
        for i in range(20)
    ]
    second = [(500, list(base[3][1])), (501, [0.0] * 7 + [4.0])]

    root = tmp_path / "vs"
    root.mkdir()

    def land(rows, name):
        part = root / "part"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(part))
        for f in part.glob("*.parquet"):
            _sh.move(str(f), str(root / name))
        _sh.rmtree(part)

    land(base, "f0.parquet")
    store, ckpt = str(tmp_path / "st"), str(tmp_path / "ck")

    def run():
        q = streaming_semantic_dedup_sink(
            stream_parquet_dir(spark, str(root), schema), store, ckpt
        ).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run()  # batch 0: fit + accept base
    land(second, "f1.parquet")

    real_append = sl.append_snapshot_txn
    state = {"calls": 0, "armed": True}

    def dying_append(*a, **kw):
        state["calls"] += 1
        if state["armed"] and state["calls"] == 2:
            state["armed"] = False
            raise RuntimeError("injected crash between store commits")
        return real_append(*a, **kw)

    monkeypatch.setattr(sl, "append_snapshot_txn", dying_append)
    try:
        run()
        raise AssertionError("stream should have died mid-sequence")
    except Exception:
        pass
    monkeypatch.setattr(sl, "append_snapshot_txn", real_append)

    # Torn state: accepted committed for batch 1, assign/decisions not.
    acc = read_snapshot(spark, store + "/accepted")
    assert acc.filter("batch_id = 1").count() == 1  # 501 only
    dec = read_snapshot(spark, store + "/decisions")
    assert dec.filter("batch_id = 1").count() == 0

    run()  # replay: skip accepted, land assign + decisions
    dec = {
        r["vec_id"]: r
        for r in read_snapshot(spark, store + "/decisions").collect()
    }
    assert len(dec) == len(base) + 2
    assert dec[500]["is_dup"] and dec[500]["matched_id"] == 3
    assert not dec[501]["is_dup"]
    acc = read_snapshot(spark, store + "/accepted")
    # No doubled rows anywhere: 20 base + 501, each exactly once.
    assert acc.count() == 21
    assert acc.filter("vec_id = 501").count() == 1
    asg = read_snapshot(spark, store + "/assign")
    assert asg.count() == 21


def test_streaming_semantic_gate_refuses_foreign_store(spark, tmp_path):
    """A FRESH checkpoint pointed at an existing store would restart
    batch ids at 0 and blind the store reads (batch_id < N): the gate
    must refuse loudly rather than silently re-accept the corpus."""
    import random
    import shutil as _sh

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from conversation_with_vector_db_spark.streaming.sessions import (
        stream_parquet_dir,
        streaming_semantic_dedup_sink,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    rng = random.Random(41)
    root = tmp_path / "vs2"
    root.mkdir()

    def land(rows, name):
        part = root / "part"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(part))
        for f in part.glob("*.parquet"):
            _sh.move(str(f), str(root / name))
        _sh.rmtree(part)

    land([(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(10)],
         "f0.parquet")
    land([(100 + i, [rng.uniform(-1, 1) for _ in range(8)])
          for i in range(5)], "f1.parquet")
    store = str(tmp_path / "st2")
    q = streaming_semantic_dedup_sink(
        stream_parquet_dir(spark, str(root), schema),
        store,
        str(tmp_path / "ck_a"),
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # Fresh checkpoint, same store: ids restart at 0 < stored txn 1.
    q2 = streaming_semantic_dedup_sink(
        stream_parquet_dir(spark, str(root), schema),
        store,
        str(tmp_path / "ck_b"),
    ).start()
    import pytest as _pytest

    with _pytest.raises(Exception, match="does not own store"):
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()


def test_streaming_cms_sketch_converges_and_replays_nothing(
    spark, tmp_path
):
    """The streamed count-min sketch (per-batch partials, cell-wise
    txn-committed) must equal the BATCH sketch over the same corpus —
    counter linearity end to end — and a checkpoint restart with no
    new data must commit nothing (no double-counting)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from conversation_with_vector_db_spark.functions.embedding import (
        tokens_expr,
    )
    from conversation_with_vector_db_spark.operators.sketch import (
        cms_counters,
    )
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        versions,
    )
    from conversation_with_vector_db_spark.streaming.sessions import (
        read_cms_store,
        stream_parquet_dir,
        streaming_cms_sink,
    )

    schema = StructType(
        [StructField("doc_id", LongType()),
         StructField("text", StringType())]
    )
    root = tmp_path / "cms_src"
    root.mkdir()
    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick quick fox"),
        (3, "lorem ipsum dolor sit amet the end"),
        (4, "fox fox fox dog dog the"),
        (5, "a b c a b a"),
        (6, "the final batch closes the stream"),
    ]
    import shutil as _sh

    for i in range(3):
        part = root / f"stage{i}"
        spark.createDataFrame(
            docs[2 * i : 2 * i + 2], schema
        ).coalesce(1).write.parquet(str(part))
        for f in part.glob("*.parquet"):
            _sh.move(str(f), str(root / f"file{i}.parquet"))
        _sh.rmtree(part)

    store = str(tmp_path / "cms_store")
    ckpt = str(tmp_path / "cms_ckpt")

    def tokens_stream():
        return (
            stream_parquet_dir(
                spark, str(root), schema, max_files_per_trigger=1
            )
            .select(F.explode(tokens_expr(F.col("text"))).alias("token"))
        )

    q = streaming_cms_sink(tokens_stream(), store, ckpt).start()
    q.processAllAvailable()
    q.stop()

    all_tokens = spark.createDataFrame(docs, schema).select(
        F.explode(tokens_expr(F.col("text"))).alias("token")
    )
    want = {
        (r["r"], r["b"]): r["c"]
        for r in cms_counters(all_tokens, "token").collect()
    }
    got = {
        (r["r"], r["b"]): r["c"]
        for r in read_cms_store(spark, store).collect()
    }
    assert got == want

    before = versions(store)
    q = streaming_cms_sink(tokens_stream(), store, ckpt).start()
    q.processAllAvailable()
    q.stop()
    assert versions(store) == before
    got2 = {
        (r["r"], r["b"]): r["c"]
        for r in read_cms_store(spark, store).collect()
    }
    assert got2 == want

    # Lane-scheme guard (ADVICE r10): the stamped partials carry the
    # current marker; a store holding a FOREIGN-scheme partial (e.g.
    # pre-r10 hex-digit lanes) must refuse to estimate, not sum
    # incompatible buckets silently.
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        append_snapshot_txn,
    )

    # An UNSTAMPED partial (NULL marker) in a stamped store is
    # same-scheme by construction (the stamp postdates the scheme) —
    # must still read, and must not TypeError the distinct-scheme sort.
    r0, b0 = next(iter(want))  # an existing cell: c=0 adds nothing
    append_snapshot_txn(
        spark.createDataFrame(
            [(r0, b0, 0, 998, None)],
            "r int, b long, c long, batch_id long, lane_scheme string",
        ),
        store,
        app="cms-sketch-prestamp",
        txn_version=0,
    )
    got3 = {
        (r["r"], r["b"]): r["c"]
        for r in read_cms_store(spark, store).collect()
    }
    assert got3 == want  # the c=0 partial changes no counter

    append_snapshot_txn(
        spark.createDataFrame(
            [(0, 1, 1, 999, "cms-lanes-v1-hexdigit")],
            "r int, b long, c long, batch_id long, lane_scheme string",
        ),
        store,
        app="cms-sketch-legacy",
        txn_version=0,
    )
    with pytest.raises(ValueError, match="lane scheme"):
        read_cms_store(spark, store).collect()


def test_streaming_cms_sink_validates_width_at_the_gate(
    spark, tmp_path
):
    """ADVICE r10: the CMS_MAX_WIDTH contract (width <= 2^15, each
    lane is a 15-bit window) used to be enforced only inside
    cms_counters — i.e. on the FIRST MICRO-BATCH, hours into a
    stream. The sink must refuse at construction time."""
    from conversation_with_vector_db_spark.streaming.sessions import (
        streaming_cms_sink,
    )

    ratestream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    with pytest.raises(ValueError, match="width"):
        streaming_cms_sink(
            ratestream, str(tmp_path / "s"), str(tmp_path / "c"),
            col="value", width=(1 << 15) + 1,
        )
    with pytest.raises(ValueError, match="depth"):
        streaming_cms_sink(
            ratestream, str(tmp_path / "s"), str(tmp_path / "c"),
            col="value", depth=0,
        )


def _flat_parquet_files(spark, root, batches, schema_ddl):
    """Write each batch as one flat parquet FILE under root (the file
    source does not recurse into subdirectories)."""
    import glob
    import shutil as sh

    root.mkdir(exist_ok=True)
    for i, rows in enumerate(batches):
        part = root / f"s{i}"
        spark.createDataFrame(rows, schema_ddl).coalesce(
            1
        ).write.parquet(str(part))
        for f in glob.glob(str(part / "*.parquet")):
            sh.move(f, str(root / f"file{i}.parquet"))
        sh.rmtree(part)


def test_stream_stream_interval_join_converges(spark, tmp_path):
    """Stream-stream inner join with an event-time range condition
    (the ad-attribution shape): both sides watermarked, clicks join
    impressions of the same ad within 30 minutes AFTER the
    impression. The converged result must equal the batch join —
    including the click that arrives in a LATER micro-batch than its
    impression (cross-batch state retention is the point of the
    operator)."""
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    def ts(minute):
        import datetime

        return datetime.datetime(2024, 1, 1, 10, minute)

    imp_schema = StructType([
        StructField("ad_id", LongType()),
        StructField("imp_ts", TimestampType()),
        StructField("cost", LongType()),
    ])
    clk_schema = StructType([
        StructField("ad_id", LongType()),
        StructField("clk_ts", TimestampType()),
    ])
    _flat_parquet_files(
        spark,
        tmp_path / "imps",
        [
            [(1, ts(0), 10), (2, ts(5), 20)],
            [(3, ts(10), 30)],
        ],
        imp_schema,
    )
    _flat_parquet_files(
        spark,
        tmp_path / "clks",
        [
            [(1, ts(20))],          # in-window click, later batch
            [(2, ts(50)), (3, ts(15))],  # ad 2: 45 min later — OUT
        ],
        clk_schema,
    )

    imps = stream_parquet_dir(
        spark, str(tmp_path / "imps"), imp_schema
    ).withWatermark("imp_ts", "1 hour")
    clks = stream_parquet_dir(
        spark, str(tmp_path / "clks"), clk_schema
    ).withWatermark("clk_ts", "1 hour")
    joined = imps.alias("i").join(
        clks.alias("c"),
        (F.col("i.ad_id") == F.col("c.ad_id"))
        & (F.col("c.clk_ts") >= F.col("i.imp_ts"))
        & (
            F.col("c.clk_ts")
            <= F.col("i.imp_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
    )
    q = (
        joined.select("i.ad_id", "cost", "clk_ts")
        .writeStream.format("memory")
        .queryName("ss_join")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r.ad_id, r.cost) for r in spark.table("ss_join").collect()
    )
    assert got == [(1, 10), (3, 30)]  # ad 2's click fell outside


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """Spark's built-in dropDuplicatesWithinWatermark: duplicates of
    a key arriving in LATER micro-batches (within the watermark
    delay) are suppressed; the converged output has exactly one row
    per key."""
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    def ts(minute):
        import datetime

        return datetime.datetime(2024, 1, 1, 12, minute)

    schema = StructType([
        StructField("k", LongType()),
        StructField("ts", TimestampType()),
    ])
    _flat_parquet_files(
        spark,
        tmp_path / "dups",
        [
            [(1, ts(0)), (2, ts(1))],
            [(1, ts(5)), (3, ts(6))],   # 1 is a cross-batch dup
            [(2, ts(9)), (1, ts(10))],  # more dups of 1 and 2
        ],
        schema,
    )
    stream = stream_parquet_dir(
        spark, str(tmp_path / "dups"), schema
    ).withWatermark("ts", "1 hour")
    q = (
        stream.dropDuplicatesWithinWatermark(["k"])
        .writeStream.format("memory")
        .queryName("ddww")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r.k for r in spark.table("ddww").collect())
    assert got == [1, 2, 3]


def test_streaming_expectations_sink(spark, tmp_path):
    """Per-batch quality metrics commit exactly once; count-shaped
    checks fold linearly to the batch-union truth; restart commits
    nothing."""
    from conversation_with_vector_db_spark.operators.expectations import (
        expectation_report,
    )
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        versions,
    )
    from conversation_with_vector_db_spark.streaming.sessions import (
        read_expectations_store,
        stream_parquet_dir,
        streaming_expectations_sink,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema_ddl = "k: long, status: string, price: double"
    batches = [
        [(1, "O", 10.0), (2, "F", 20.0)],
        [(3, None, -4.0), (4, "X", 5.0)],   # violations arrive
        [(5, "P", 7.5), (None, "O", 1.0)],  # null key
    ]
    root = tmp_path / "exp_src"
    _flat_parquet_files(spark, root, batches, schema_ddl)

    specs = [
        ("not_null", "k"),
        ("not_null", "status"),
        ("values_in", "status", ("O", "F", "P")),
        ("min_at_least", "price", 0.0),
    ]
    store = str(tmp_path / "exp_store")
    ckpt = str(tmp_path / "exp_ckpt")
    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("status", StringType()),
            StructField("price", DoubleType()),
        ]
    )

    def stream():
        return stream_parquet_dir(
            spark, str(root), schema, max_files_per_trigger=1
        )

    q = streaming_expectations_sink(stream(), store, ckpt, specs).start()
    q.processAllAvailable()
    q.stop()

    got = {
        (r["check"], r["column"]): r
        for r in read_expectations_store(spark, store).collect()
    }
    # Linear count checks match the batch-union truth.
    union = spark.createDataFrame(
        [r for b in batches for r in b], schema_ddl
    )
    batch_truth = {
        (r["check"], r["column"]): r["observed"]
        for r in expectation_report(union, specs).collect()
    }
    for key in [
        ("not_null", "k"),
        ("not_null", "status"),
        ("values_in", "status"),
    ]:
        assert got[key]["sum_observed"] == batch_truth[key]
    # min fold is the corpus minimum.
    assert got[("min_at_least", "price")]["min_observed"] == -4.0
    # Each check saw all 3 batches; failures counted per batch.
    assert all(r["n_batches"] == 3 for r in got.values())
    assert got[("not_null", "k")]["n_failed"] == 1
    assert got[("values_in", "status")]["n_failed"] == 1

    before = versions(store)
    q = streaming_expectations_sink(stream(), store, ckpt, specs).start()
    q.processAllAvailable()
    q.stop()
    assert versions(store) == before
