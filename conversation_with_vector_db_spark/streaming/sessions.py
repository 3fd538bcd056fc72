"""Structured Streaming operators (SURVEY §2.13).

Note: watermarks require TIMESTAMP (not NTZ); with the engine's UTC
session timezone the cast from the fixtures' NTZ values is the
identity.

The reference's streaming is socket-level token delivery plus Redis
TTL session state. The Spark-native equivalents:

* :func:`stream_parquet_dir` — file-source stream over parquet (tests
  split the fixture into multiple files so maxFilesPerTrigger=1
  produces a real multi-batch stream; in production this is the
  object-store drop directory or Kafka).
* :func:`running_counts` — X2: running per-key counters (state is one
  row per key — see its docstring for the boundedness caveat).
* :func:`session_accumulator` — X1+X3: per-conversation accumulation
  with a 15-minute idle TTL via ``applyInPandasWithState`` and
  event-time timeout — the faithful port of the Redis ``EX 900``
  session (controllers/conversationController.js:14,57): state resets
  on activity, expires when the watermark passes last-activity + TTL,
  and the expired session is emitted exactly once (the final answer
  emit).
* :func:`snapshot_append_sink_query` — X8/S9/S11: foreachBatch writer
  committing each micro-batch to a snapshot-log table exactly once.
* :func:`streaming_minhash_dedup_sink` — ingest-time NEAR-dup gate:
  each micro-batch is checked against the accepted corpus through a
  persistent MinHash band index (snapshot-log stores, not stream state
  — the index grows with the corpus, not a watermark horizon).

Exactly-once: every foreachBatch sink here writes a micro-batch through
ONE commit, :func:`_commit_batch` (the snapshot log's txn append with
the sink as the app id and the micro-batch id as the txn version), and
the dedup gates read their stores through :func:`_read_store` (rows of
earlier batches only). The exceptions are :func:`streaming_ivm_sink`,
which skips the segment of a batch that nets to zero, and
:func:`streaming_index_upsert_sink`, which commits through
``ivf_table_upsert``.

tests/test_streaming.py drives each against the batch equivalents in
plans/streaming_batch.py.
"""

from __future__ import annotations

import os as _os

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

CONVERSATION_SCHEMA = StructType(
    [
        StructField("conversation_id", StringType()),
        StructField("ts", TimestampType()),
        StructField("sender", StringType()),
        StructField("message", StringType()),
    ]
)

SESSION_TTL_SECONDS = 900  # Redis EX 900


def stream_parquet_dir(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "message",
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exact dedup: emit only the first arrival of each
    normalized content hash — the ingest-time dedup gate of a
    training-data pipeline (drop exact re-crawls as they arrive rather
    than paying a batch dedup later).

    ``dropDuplicatesWithinWatermark`` keys state by the content hash
    and expires entries once the watermark passes, so state is bounded
    by the dedup horizon, not the stream's lifetime — the only sound
    shape for an unbounded feed (an unwatermarked dropDuplicates grows
    state forever).
    """
    from ..operators.dedup import content_hash

    return (
        stream.withColumn("chash", content_hash(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["chash"])
    )


def running_counts(
    stream: DataFrame, key: str = "user_id", watermark: str = "30 minutes"
) -> DataFrame:
    """X2: per-key running counter (tokenCount++ per chunk).

    Boundedness caveat: a NON-windowed grouped aggregate keeps one
    state row per distinct key forever — the watermark does not evict
    it (watermark eviction applies to event-time-windowed aggregates,
    dropDuplicates*, and stream-stream joins), and complete-mode
    output ignores watermarks entirely. That matches X2's semantics
    (the reference's per-user lifetime counter over a bounded user
    population); for an unbounded key domain use a windowed aggregate
    (`F.window("ts", ...)`) so state expires with the watermark.
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(key)
        .agg(F.count("*").alias("n_chunks"))
    )


_SESSION_STATE = StructType(
    [
        StructField("transcript", StringType()),
        StructField("n_chunks", LongType()),
        StructField("last_ts_micros", LongType()),
    ]
)

SESSION_OUTPUT = StructType(
    [
        StructField("conversation_id", StringType()),
        StructField("transcript", StringType()),
        StructField("n_chunks", LongType()),
    ]
)


def _accumulate_session(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold arriving chunks into the session transcript; on TTL expiry
    emit the final accumulated row exactly once (the terminal emit the
    reference sends on stream end)."""
    (conversation_id,) = key
    if state.hasTimedOut:
        transcript, n_chunks, _ = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "conversation_id": [conversation_id],
                "transcript": [transcript],
                "n_chunks": [n_chunks],
            }
        )
        return

    rows: list[tuple] = []
    for pdf in pdfs:
        rows.extend(
            (r.ts, r.message) for r in pdf.itertuples(index=False)
        )
    rows.sort(key=lambda r: (r[0], r[1]))
    transcript, n_chunks, last_micros = (
        state.get if state.exists else ("", 0, 0)
    )
    # A micro-batch may span many idle gaps (coarse triggers replaying
    # a long feed), so the gap check runs per arriving chunk — a gap
    # >= TTL closes the current session and emits it immediately; only
    # the still-open tail session lives in state.
    ttl_micros = SESSION_TTL_SECONDS * 1_000_000
    closed: list[tuple[str, str, int]] = []
    for ts, message in rows:
        t_us = int(ts.value // 1000)
        if n_chunks and t_us - last_micros >= ttl_micros:
            closed.append((conversation_id, transcript, n_chunks))
            transcript, n_chunks = "", 0
        transcript = f"{transcript} {message}".strip()
        n_chunks += 1
        # Out-of-order delivery across batches (rows within a batch are
        # sorted above): a not-late row older than stored last activity
        # must NOT rewind the idle clock — rewinding would fire the TTL
        # early and split one real session into two.
        last_micros = max(last_micros, t_us)
    state.update((transcript, n_chunks, last_micros))
    # TTL: expire when event time passes last activity + 900 s —
    # activity resets the clock exactly like Redis SET ... EX 900.
    state.setTimeoutTimestamp(last_micros // 1000 + SESSION_TTL_SECONDS * 1000)
    yield pd.DataFrame(
        closed, columns=["conversation_id", "transcript", "n_chunks"]
    ).astype({"n_chunks": "int64"})


def session_accumulator(
    stream: DataFrame, watermark: str = "0 seconds"
) -> DataFrame:
    """X1+X3: TTL-bounded per-conversation accumulation."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("conversation_id")
        .applyInPandasWithState(
            _accumulate_session,
            outputStructType=SESSION_OUTPUT,
            stateStructType=_SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _commit_batch(
    df: DataFrame,
    table_dir: str,
    app: str,
    batch_id: int,
    stamps: dict | None = None,
) -> None:
    """THE exactly-once micro-batch commit: create the snapshot-log
    table if absent, stamp ``batch_id`` (then any ``stamps``) as
    columns, and append with the txn protocol — app id = the sink,
    txn version = the batch id.

    * Replay: a batch whose txn already committed (crash after this
      commit, before the stream checkpoint advanced) is skipped and
      drained by :func:`_drain_replayed`.
    * Crash between the segment write and the manifest commit: only an
      invisible age-gated orphan is left.
    * Ownership: a batch id below the stored txn means a FRESH
      checkpoint restarted ids at 0 against an existing store. Its
      batches would be skipped as replays (and a gate's before-batch
      reads would hide the stored corpus), so it raises. A crash
      replay re-runs only the last batch (``batch_id == stored``).

    ``append_snapshot_txn`` is looked up on the module at call time,
    so a test can intercept it."""
    from ..sources import snapshot_log as sl

    if not sl.versions(table_dir):
        sl.create_table(table_dir)
    stored = sl.last_txn_version(table_dir, app)
    if stored is not None and batch_id < stored:
        raise ValueError(
            f"{app}: batch_id {batch_id} < stored txn {stored} — this "
            f"checkpoint does not own store {table_dir!r}; reuse the "
            f"original checkpoint dir or start a fresh store"
        )
    stamped = df.withColumns(
        {"batch_id": F.lit(batch_id).cast("long"), **(stamps or {})}
    )
    if sl.append_snapshot_txn(
        stamped, table_dir, app=app, txn_version=batch_id
    ) is None:
        _drain_replayed(df)


def _drain_replayed(batch_df: DataFrame) -> None:
    """Run a skipped replayed batch's plan through a no-op write:
    publishing nothing is not enough, because Spark fails a batch
    whose stateful upstream's state stores did not commit."""
    batch_df.write.format("noop").mode("overwrite").save()


def _read_store(
    spark: SparkSession, table_dir: str, before_batch: int | None = None
) -> DataFrame | None:
    """A store's rows committed by batches before ``before_batch`` (all
    rows when None), or None while it has no committed segment. The
    filter keeps a replayed batch from reading its own output, so its
    recompute matches the original run."""
    from ..sources.snapshot_log import read_snapshot

    try:
        df = read_snapshot(spark, table_dir)
    except (FileNotFoundError, ValueError):
        return None  # table absent or no committed segments yet
    if before_batch is None:
        return df
    return df.filter(F.col("batch_id") < before_batch)


CONTINUATION_SCHEMA = StructType(
    [
        StructField("run_id", LongType()),
        StructField("kind", StringType()),
        StructField("round", LongType()),
        StructField("base", LongType()),
        StructField("tokens", LongType()),
        StructField("depth", LongType()),
    ]
)


def continuation_sink(
    stream: DataFrame, input_dir: str, out_dir: str, checkpoint_dir: str
):
    """X5/X6: re-entrant tool-call continuation as a stream feedback
    loop (sockets/assistants/assistantHandler.js:89-137 — the assistant
    recursively re-enters the model stream with each tool result until
    the run completes; controllers/assistantController.js:206-233 polls
    the run to completion).

    Arriving ``tool_call`` chunks are answered IN the sink: the handler
    derives the deterministic tool result (DataFrame ops only — the
    reference's tool execution is the external call here) and appends
    it, plus the next ``tool_call`` while rounds remain, back into the
    SOURCE directory — the stream consumes its own continuations until
    every run reaches its depth and the loop drains. Token-bearing
    chunks commit to the snapshot-log table ``out_dir`` exactly once
    (:func:`_commit_batch`, app id ``continuation``). The feedback
    append into the source directory is plain parquet, because that
    directory is the file-source input, not a table: it is
    at-least-once on crash-replay (a replayed batch appends again),
    deduplicable downstream by the (run_id, kind, round) natural key.
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # Three actions consume this batch (out_dir write, the
        # feedback emptiness probe, the feedback append) — without a
        # persist each re-scans the batch's source files and re-derives
        # the plan, tripling per-batch work (same pattern as the dedup
        # sink's rejected.cache()).
        batch_df = batch_df.persist()
        calls = batch_df.filter(F.col("kind") == "tool_call")
        results = calls.select(
            "run_id",
            F.lit("tool_result").alias("kind"),
            (F.col("round") + 1).alias("round"),
            "base",
            F.expr("base div (round + 2)").alias("tokens"),
            "depth",
        )
        next_calls = calls.filter(
            F.col("round") + 1 < F.col("depth")
        ).select(
            "run_id",
            F.lit("tool_call").alias("kind"),
            (F.col("round") + 1).alias("round"),
            "base",
            F.lit(0).cast("long").alias("tokens"),
            "depth",
        )
        try:
            _commit_batch(
                batch_df.filter(F.col("kind") != "tool_call"),
                out_dir,
                "continuation",
                batch_id,
            )
            feedback = results.unionByName(next_calls)
            if not feedback.isEmpty():
                feedback.write.mode("append").parquet(input_dir)
        finally:
            batch_df.unpersist(False)

    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )


def snapshot_append_sink_query(
    result_stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    output_mode: str = "update",
    app_id: str = "stream-sink",
):
    """X8/S9: each micro-batch commits to the snapshot-log table
    ``table_dir`` exactly once through :func:`_commit_batch`, so batch
    writes share atomicity, time travel and vacuum with the CoW and
    MOR paths.

    ``batch_id`` rides as a COLUMN. With the default
    ``output_mode="update"`` over an AGGREGATING upstream, the table
    is versioned by batch, not an append log: each batch commits its
    current per-key values, and the latest state of a key is its row
    with the max ``batch_id``. Pass ``output_mode="append"`` for
    finalized-rows upstreams (watermark-expired windows, append-only
    streams), where the batches together form a true append log."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        _commit_batch(batch_df, table_dir, app_id, batch_id)

    return (
        result_stream.writeStream.outputMode(output_mode)
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )


DOCUMENT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)


def streaming_index_upsert_sink(
    vec_stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    app_id: str = "index-upsert",
):
    """The reference's ingest flow (customTrainDataController.js:
    upload -> chunk -> embed -> upsert to the vector store) as a
    stream: each micro-batch of (vec_id, embedding) rows upserts into
    the TRANSACTIONAL IVF index table (operators/ann.ivf_table_*) in
    one conflict-checked commit, txn-tagged with the batch id —
    replayed batches are detected and skipped, and a vector whose
    embedding moved cells never leaves a stale twin. The index table
    must already exist (``ivf_table_create``); queries against it are
    snapshot-isolated from in-flight batches."""

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.ann import ivf_table_upsert

        docs = batch_df.dropDuplicates(["vec_id"])
        if ivf_table_upsert(
            batch_df.sparkSession, table_dir, docs,
            txn=(app_id, batch_id),
        ) is None:
            _drain_replayed(batch_df)

    return (
        vec_stream.writeStream.outputMode("update")
        .foreachBatch(upsert_batch)
        .option("checkpointLocation", checkpoint_dir)
    )


def streaming_minhash_dedup_sink(
    doc_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
):
    """Streaming NEAR-dup ingest gate: each arriving micro-batch of
    documents is checked against every previously-accepted document via
    the MinHash band index, and only non-duplicates enter the corpus.

    The exact-dup gate (:func:`streaming_exact_dedup`) keys stream
    state by content hash; near-dup state cannot live in stream state
    (the index grows with the corpus, not a watermark horizon), so the
    index is an external store — the same
    persisted-signature-index design as the batch
    ``dedup_incremental_minhash`` query, fed incrementally:

    * ``store_dir/bands``     — (doc_id, band, band_key) of accepted docs
    * ``store_dir/accepted``  — (doc_id, text) of accepted docs
    * ``store_dir/decisions`` — per-doc verdicts with provenance

    Each store is a snapshot-log table written by :func:`_commit_batch`
    (app id ``minhash-gate``) and read by :func:`_read_store`, which
    keeps a replaying batch from seeing its own partial output — never
    a torn or doubled batch.

    Per batch: band keys of the new docs hash-join the stored index
    (directional — the store never self-pairs), candidates get exact
    word-3-gram Jaccard verification (uncapped shingles: the pairwise
    score is corpus-independent, so verdicts don't depend on arrival
    order beyond which side is "already in"), and the accepted
    remainder appends to all three stores. Batch-internal near-dups
    are NOT cross-checked here (each doc is judged against the
    accepted corpus only); at 100 TB the arriving shard is deduped by
    the batch operators before ingest, and the gate's job is
    shard-vs-corpus.
    """
    from ..operators.dedup import (
        df_capped_shingles,
        jaccard_verify,
        lsh_band_keys,
        minhash_signatures,
    )
    from pyspark.sql import Window

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = batch_df.select("doc_id", "text").dropDuplicates(
            ["doc_id"]
        )
        accepted_prev = _read_store(spark, f"{store_dir}/accepted", batch_id)
        if accepted_prev is not None:
            # At-least-once re-delivery guard: a doc_id already in the
            # accepted corpus is a no-op — without this, its band keys
            # match its own stored keys and the degenerate self-pair
            # (union=0 -> NULL jaccard; DIVIDE_BY_ZERO under ANSI)
            # would re-accept it as a permanent duplicate.
            docs = docs.join(
                accepted_prev.select("doc_id"), "doc_id", "left_anti"
            )
        sh_new = df_capped_shingles(docs)
        keys_new = lsh_band_keys(minhash_signatures(docs, shingles=sh_new))
        old_keys = _read_store(spark, f"{store_dir}/bands", batch_id)
        rejected = None
        if old_keys is not None:
            cands = (
                old_keys.select(F.col("doc_id").alias("a"), "band", "band_key")
                .join(
                    keys_new.select(
                        F.col("doc_id").alias("b"), "band", "band_key"
                    ).hint("shuffle_hash"),
                    ["band", "band_key"],
                )
                .select("a", "b")
                .distinct()
            )
            accepted_docs = accepted_prev.select("doc_id", "text")
            # Only candidate-matched accepted docs are re-shingled: the
            # semi-join pushes the candidate id set into the store scan.
            old_cand = accepted_docs.join(
                cands.select(F.col("a").alias("doc_id")).distinct(),
                "doc_id",
                "left_semi",
            )
            verified = jaccard_verify(
                old_cand.unionByName(docs),
                cands,
                threshold=threshold,
                # Reuse the batch's already-computed shingles: shingling
                # (tokenize + per-n-gram md5) is the dominant per-doc
                # cost, and without this hook the union side re-pays it
                # for every new doc.
                shingles=df_capped_shingles(old_cand).unionByName(sh_new),
            )
            w = Window.partitionBy("b").orderBy(F.desc("jaccard"), "a")
            rejected = (
                verified.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(
                    F.col("b").alias("doc_id"),
                    F.col("a").alias("matched_id"),
                    F.col("jaccard").alias("best_jaccard"),
                )
            )
        if rejected is None:
            rejected = spark.createDataFrame(
                [],
                "doc_id long, matched_id long, best_jaccard double",
            )
        rejected = rejected.cache()
        accepted = docs.join(rejected, "doc_id", "left_anti")
        decisions = docs.select("doc_id").join(
            rejected, "doc_id", "left"
        ).select(
            "doc_id",
            F.col("matched_id").isNotNull().alias("is_dup"),
            "matched_id",
            "best_jaccard",
        )
        for name, df in (
            ("accepted", accepted),
            (
                "bands",
                keys_new.join(
                    rejected.select("doc_id"), "doc_id", "left_anti"
                ),
            ),
            ("decisions", decisions),
        ):
            # Sequential per-store txn commits: a crash mid-sequence
            # replays the batch, skips the stores whose txn already
            # committed, and lands only the missing ones — the
            # recompute is deterministic because every read above
            # filters batch_id < N.
            _commit_batch(
                df, f"{store_dir}/{name}", "minhash-gate", batch_id
            )
        rejected.unpersist()

    return (
        doc_stream.writeStream.outputMode("update")
        .foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
    )


def streaming_semantic_dedup_sink(
    vec_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.92,
    k: int = 8,
    iters: int = 3,
):
    """Streaming SEMANTIC near-dup ingest gate — the embedding twin of
    :func:`streaming_minhash_dedup_sink`: each arriving micro-batch of
    (vec_id, embedding) rows is classified against every
    previously-accepted vector under a FROZEN centroid model, and only
    non-duplicates enter the corpus.

    Stores (all snapshot-log tables written by :func:`_commit_batch`,
    app id ``semantic-gate`` — replays skip, crashes leave invisible
    orphans):

    * ``store_dir/model``     — the centroid model (cluster, q), fitted
      ONCE on the first non-empty batch (`quantized_lloyd_fit`) and
      frozen; at 100 TB the model refreshes on corpus maintenance, not
      per shard (the IVF-table contract), so later batches pay only a
      stateless assignment map.
    * ``store_dir/accepted``  — (vec_id, embedding) of accepted rows
    * ``store_dir/assign``    — (vec_id, cluster) of accepted rows the
      model could assign (the persisted blocking index)
    * ``store_dir/decisions`` — per-vector verdicts with provenance

    Per batch: assign the new vectors under the stored model (a
    literal-folded map — no join), candidates = same-cluster pairs
    against the stored assignment (directional: the store never
    self-pairs), exact cosine rescore (4dp) against accepted vectors,
    best match per new id, ``is_dup = best_sim >= threshold``. Vectors
    whose length differs from the model dim cannot block — they are
    accepted with a NULL match (and excluded from the assign store),
    mirroring the batch operator's drop semantics without losing rows.
    Batch-internal near-dups are not cross-checked (shard-vs-corpus is
    the gate's job; dedupe the shard with `semdedup_prune` upstream).
    """
    from ..operators.clustering import (
        assign_clusters,
        quantize_vectors,
        quantized_lloyd_fit,
    )
    from ..operators.vector import rescore_candidates
    from pyspark.sql import Window

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = batch_df.select("vec_id", "embedding").dropDuplicates(
            ["vec_id"]
        )
        accepted_prev = _read_store(spark, f"{store_dir}/accepted", batch_id)
        if accepted_prev is not None:
            docs = docs.join(
                accepted_prev.select("vec_id"), "vec_id", "left_anti"
            )
        docs = docs.cache()
        # Model: read the frozen centroids, or fit-and-commit on the
        # first non-empty batch. The replayed fit commit is skipped by
        # its txn version; the model READ always comes from the store,
        # so a replay classifies under the exact same centroids.
        model = _read_store(spark, f"{store_dir}/model")
        model_rows = [] if model is None else model.collect()
        if not model_rows:
            if docs.isEmpty():
                return
            centroids, dim = quantized_lloyd_fit(
                docs, k=k, iters=iters
            )
            _commit_batch(
                spark.createDataFrame(
                    [(c, list(q)) for c, q in centroids],
                    "cluster int, q array<bigint>",
                ).withColumn("dim", F.lit(dim).cast("int")),
                f"{store_dir}/model",
                "semantic-gate",
                batch_id,
            )
        else:
            centroids = sorted(
                (int(r["cluster"]), [int(v) for v in r["q"]])
                for r in model_rows
            )
            dim = int(model_rows[0]["dim"])
        inc_q = quantize_vectors(docs).select("vec_id", "q").filter(
            F.size("q") == dim
        )
        inc_assign = assign_clusters(inc_q, centroids, k).select(
            F.col("vec_id").alias("a"), "cluster"
        )
        rejected = None
        old_assign = _read_store(spark, f"{store_dir}/assign", batch_id)
        if old_assign is not None:
            cands = (
                inc_assign.join(
                    old_assign.select(
                        F.col("vec_id").alias("b"), "cluster"
                    ).hint("shuffle_hash"),
                    "cluster",
                )
                .select("a", "b")
            )
            vectors = accepted_prev.select(
                "vec_id", "embedding"
            ).unionByName(docs)
            scored = rescore_candidates(cands, vectors, dim=dim)
            w = Window.partitionBy("a").orderBy(F.desc("sim"), "b")
            best = (
                scored.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(
                    F.col("a").alias("vec_id"),
                    F.col("b").alias("matched_id"),
                    F.col("sim").alias("best_sim"),
                )
            )
            rejected = best.filter(
                F.col("best_sim") >= F.lit(threshold)
            )
        if rejected is None:
            rejected = spark.createDataFrame(
                [], "vec_id long, matched_id long, best_sim double"
            )
        rejected = rejected.cache()
        accepted = docs.join(rejected, "vec_id", "left_anti")
        decisions = docs.select("vec_id").join(
            rejected, "vec_id", "left"
        ).select(
            "vec_id",
            F.col("matched_id").isNotNull().alias("is_dup"),
            "matched_id",
            "best_sim",
        )
        for name, df in (
            ("accepted", accepted),
            (
                "assign",
                inc_assign.select(
                    F.col("a").alias("vec_id"), "cluster"
                ).join(rejected.select("vec_id"), "vec_id", "left_anti"),
            ),
            ("decisions", decisions),
        ):
            # Sequential per-store txn commits — crash mid-sequence
            # replays deterministically (reads filter batch_id < N).
            _commit_batch(
                df, f"{store_dir}/{name}", "semantic-gate", batch_id
            )
        rejected.unpersist()
        docs.unpersist()

    return (
        vec_stream.writeStream.outputMode("update")
        .foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
    )


def streaming_cms_sink(
    item_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    col: str = "token",
    depth: int = 4,
    width: int = 512,
    app_id: str = "cms-sketch",
):
    """Continuously maintained count-min sketch: each micro-batch is
    reduced to its OWN tiny (r, b, c) partial sketch
    (operators/sketch.cms_counters — at most depth*width rows per
    batch regardless of batch size) and committed to a snapshot-log
    store txn-tagged with the batch id. Counters are linear, so the
    effective sketch is just the cell-wise SUM of committed partials
    (:func:`read_cms_store`) — no read-modify-write, no state store,
    and a replayed batch (crash between data write and checkpoint
    advance) is skipped by the txn high-water mark, so no item is
    ever double-counted. This is the streaming form of the batch
    `text_cms_freq` plan: per-term frequency monitoring over an
    unbounded ingest without ever holding the vocabulary.

    Each committed partial is stamped with the lane-scheme marker
    (:data:`~..operators.sketch.CMS_LANE_SCHEME`); ``read_cms_store``
    refuses a store whose partials mix schemes, so a store written
    before a lane rederivation fails LOUDLY instead of estimating
    garbage. Width/depth are validated HERE, at the gate — not on the
    first micro-batch, hours into a stream."""
    from ..operators.sketch import CMS_LANE_SCHEME, CMS_MAX_WIDTH

    if not 1 <= width <= CMS_MAX_WIDTH:
        raise ValueError(
            f"streaming_cms_sink: width {width} outside "
            f"[1, {CMS_MAX_WIDTH}] (each lane is a 15-bit window of "
            "the block hash); raise depth instead of width"
        )
    if depth < 1:
        raise ValueError(f"streaming_cms_sink: depth {depth} < 1")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.sketch import cms_counters

        _commit_batch(
            cms_counters(batch_df, col, depth, width),
            store_dir,
            app_id,
            batch_id,
            stamps={"lane_scheme": F.lit(CMS_LANE_SCHEME)},
        )

    return (
        item_stream.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )


def streaming_ivm_sink(
    change_stream: DataFrame,
    view_dir: str,
    checkpoint_dir: str,
    group_col: str = "namespace",
    value_col: str = "label",
    app_id: str = "ivm-view",
    auto_compact_every: int = 0,
):
    """Streaming incremental view maintenance: the CDC stream
    (sources/datasource.py ``readChangeFeed=true``) folded per
    micro-batch to SIGNED per-group (count, sum) partials —
    insert/postimage +1/+v, delete/preimage -1/-v, exactly
    :func:`~..sources.rollup.ivm_refresh`'s delta algebra — and
    committed to a snapshot-log view store txn-tagged with the batch
    id. Signed partials are linear, so the effective view is the
    group-wise sum of committed partials
    (:func:`~..sources.rollup.ivm_read`), a replayed batch is skipped
    by the txn high-water mark, and the stream checkpoint carries the
    watermark the batch refresher keeps in table meta. Started from
    ``startingVersion=1`` the feed delivers the initial rows as
    inserts, so no separate full build exists to race the stream."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..sources.snapshot_log import create_table, versions

        if not versions(view_dir):
            create_table(view_dir)
        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"),
            F.lit(1),
        ).otherwise(F.lit(-1))
        part = (
            batch_df.where(F.col("_change_type") != "")
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
        # Stage + footer-probe (the ivm_refresh shape): a batch whose
        # changes net to zero commits its txn WITHOUT a zero-row
        # segment, so quiet stretches don't inflate the view's
        # segment list. This is why the sink commits through
        # commit_segments itself rather than _commit_batch, which
        # always publishes the batch's segment.
        from ..sources.rollup import _segment_rows
        from ..sources.snapshot_log import (
            _write_segment,
            commit_segments,
            last_txn_version,
        )

        prev = last_txn_version(view_dir, app_id)
        if prev is not None and prev >= batch_id:
            _drain_replayed(batch_df)  # replay: publish nothing
            return
        rel = _write_segment(part, view_dir)
        if _segment_rows(view_dir, rel) == 0:
            import shutil

            shutil.rmtree(
                _os.path.join(view_dir, rel), ignore_errors=True
            )
            commit_segments(
                view_dir, added=[], removed=[], op="ivm_noop",
                txn=(app_id, int(batch_id)),
            )
            return
        commit_segments(
            view_dir, added=[rel], removed=[], op="ivm_delta",
            txn=(app_id, int(batch_id)),
        )
        if auto_compact_every and (
            (batch_id + 1) % auto_compact_every == 0
        ):
            # Fold the partial backlog in place (best-effort — a lost
            # race leaves the fold to a later window); the view read
            # is compaction-invariant by the partials' linearity.
            from ..sources.snapshot_log import compact_snapshots

            try:
                compact_snapshots(batch_df.sparkSession, view_dir)
            except Exception:  # noqa: BLE001 - best-effort fold
                pass  # partials already committed; fold later

    return (
        change_stream.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )


def read_cms_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """The effective sketch at the store's head: cell-wise sum of the
    committed per-batch partials (counter linearity). Compatible with
    :func:`~..operators.sketch.cms_estimate`.

    Refuses a store whose partials carry more than one lane-scheme
    marker, or a marker other than the CURRENT scheme — the r10 lane
    rederivation remapped every bucket, so summing cross-scheme
    partials estimates garbage silently (ADVICE r10). A store with no
    marker column predates the stamp and is summed as-is (its
    partials are scheme-homogeneous by construction: one sink, one
    code version)."""
    from ..operators.sketch import CMS_LANE_SCHEME
    from ..sources.snapshot_log import read_snapshot

    snap = read_snapshot(spark, store_dir)
    if "lane_scheme" in snap.columns:
        # NULL markers are pre-stamp partials (the stamp postdates the
        # current lane scheme, so unstamped rows in a stamped store
        # are same-scheme by construction) — and sorting None against
        # str would TypeError, masking the real verdict.
        schemes = sorted(
            r["lane_scheme"]
            for r in snap.select("lane_scheme").distinct().collect()
            if r["lane_scheme"] is not None
        )
        if schemes and schemes != [CMS_LANE_SCHEME]:
            raise ValueError(
                f"read_cms_store: store {store_dir} carries lane "
                f"scheme(s) {schemes} but this build estimates under "
                f"{CMS_LANE_SCHEME!r} — cross-scheme counters are not "
                "mergeable; rebuild the store"
            )
    return snap.groupBy("r", "b").agg(F.sum("c").alias("c"))


def streaming_expectations_sink(
    row_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    specs,
    app_id: str = "expectations",
):
    """Continuous data-quality monitoring: every micro-batch runs the
    ONE-scan expectation suite (operators/expectations.py) and commits
    its per-batch metric rows — (check, column, observed, passed,
    batch_id) — txn-tagged to a snapshot-log metrics store. This is
    Deequ's metrics-repository pattern on the engine's own
    transactional substrate: the store is itself a queryable table
    (alert = a filter on passed = false), a replayed batch publishes
    nothing (txn high-water mark), and the per-batch report is
    spec-count rows however large the batch — the store grows with
    TIME, not data volume.

    Count-shaped checks (not_null / unique / values_in / ref checks
    appended by the caller) are LINEAR: the corpus-level violation
    count is the sum of per-batch observed, exactly like the CMS
    partials one function up. min/max-shaped checks fold with min/max.
    ``uniqueness`` is the one check that does NOT distribute across
    batches (per-batch unique does not imply corpus unique); the
    reader surfaces per-batch values and the docstring of
    :func:`read_expectations_store` says which folds are sound.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.expectations import expectation_report

        _commit_batch(
            expectation_report(batch_df, specs), store_dir, app_id, batch_id
        )

    return (
        row_stream.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )


def read_expectations_store(
    spark: SparkSession, store_dir: str
) -> DataFrame:
    """Per-check fold of the metrics store: (check, column,
    n_batches, n_failed, sum_observed, min_observed, max_observed).
    ``sum_observed`` is the corpus-level violation count for the
    count-shaped checks (they are linear across batches);
    ``min_observed``/``max_observed`` fold the bound checks soundly
    (min of per-batch minima IS the corpus minimum). Per-batch
    uniqueness does NOT imply corpus uniqueness — for a corpus-level
    unique gate, run the batch suite over the table itself."""
    from ..sources.snapshot_log import read_snapshot

    return (
        read_snapshot(spark, store_dir)
        .groupBy("check", "column")
        .agg(
            F.count("*").alias("n_batches"),
            F.sum((~F.col("passed")).cast("int")).alias("n_failed"),
            F.sum("observed").alias("sum_observed"),
            F.min("observed").alias("min_observed"),
            F.max("observed").alias("max_observed"),
        )
    )
