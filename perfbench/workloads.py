"""The benchmark workloads. Each drives the engine only through its
public functions, from one closed-loop client, and checks every output.

A workload function takes a :class:`Run` (session, tracer, probe,
work directory, seed, time budget) and returns a :class:`Result`:
end-to-end metrics, per-layer metrics and the attempted/failed counts.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

from . import gen
from .trace import OpStats, SparkProbe, Tracer

#: The headline registry queries report-refresh runs: the flagship
#: usage rollup (plan build, codegen, joins and aggregates) and the
#: embedding dedup (operators.dedup). The other sixteen headliners are
#: left out to keep a run inside the benchmark's time budget: at this
#: scale a query costs 2-5 s in the cold pass and 0.3-2.5 s per warm
#: pass, on top of about 20 s of session start and table load.
REPORT_QUERIES = (
    "flagship_usage_daily_by_user",
    "dedup_embedding_cosine",
)

#: Star-schema scale factor of report-refresh's generated tables.
REPORT_SF = 0.001
#: Warm passes (report-refresh) or cycles (index-churn) every run
#: measures, however short its time budget: each warm figure is taken
#: over at least this many samples. Passes and cycles start while the
#: budget lasts and always run whole.
MIN_WARM = 2
#: index-churn: initial corpus documents, IVF lists, probes and k.
CHURN_DOCS = 120
CHURN_NLIST = 8
CHURN_NPROBE = 2
TOPK = 10
#: Questions scored against exact top-k after the run (untimed).
RECALL_QUESTIONS = 16
#: Reads issued after each write in the churn mix.
READS_PER_WRITE = 1
#: Inline vacuum after every this many commits.
VACUUM_EVERY = 2


@dataclass
class Run:
    spark: object
    tracer: Tracer
    probe: SparkProbe
    work: str
    seed: int
    seconds: float
    setup_s: float = 0.0
    layer: dict[str, float] = field(default_factory=dict)
    sizes: dict[str, object] = field(default_factory=dict)


@dataclass
class Result:
    e2e: dict[str, float]
    layer: dict[str, float]
    attempted: int
    failed: int
    notes: dict[str, object]


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _engine_layer(ops: list[OpStats], n_ops: int, n_cycles: int) -> dict[str, float]:
    """Engine counters of the warm window: per operation, except
    failed tasks (a total) and warm codegen compiles (per cycle)."""
    n, c = max(n_ops, 1), max(n_cycles, 1)
    return {
        "spark.jobs_per_op": sum(o.jobs for o in ops) / n,
        "spark.tasks_per_op": sum(o.tasks for o in ops) / n,
        "spark.failed_tasks": float(sum(o.failed_tasks for o in ops)),
        "spark.python_init_ms": sum(o.python_init_ms for o in ops) / n,
        "spark.python_run_ms": sum(o.python_run_ms for o in ops) / n,
        "spark.shuffle_write_bytes": sum(o.shuffle_write_bytes for o in ops) / n,
        "spark.spill_bytes": sum(o.spill_bytes for o in ops) / n,
        "spark.codegen_compiles_warm": sum(o.codegen_compiles for o in ops) / c,
    }


def _cold_codegen(cold: list[OpStats]) -> dict[str, float]:
    return {
        "spark.codegen_compiles": float(sum(o.codegen_compiles for o in cold)),
        "spark.codegen_compile_ms": sum(o.codegen_compile_ms for o in cold),
    }


# --------------------------------------------------------------------------
# report-refresh
# --------------------------------------------------------------------------


def report_refresh(run: Run) -> Result:
    """Refresh a fixed report of headline registry queries in a cycle:
    every call builds a fresh DataFrame through the registry and
    collects it. The first pass is cold; the warm passes after it are
    measured (at least :data:`MIN_WARM` of them)."""
    import duckdb

    from conversation_with_vector_db_spark import plans
    from conversation_with_vector_db_spark.plans import registry
    from conversation_with_vector_db_spark.session import BASE_TABLES, load_tables
    from conversation_with_vector_db_spark.testing import normalize, rows_match

    spark, tr, probe = run.spark, run.tracer, run.probe
    sf_dir = os.path.join(run.work, "tables")
    t0 = time.perf_counter()
    with tr.span("session.load"):
        rows = gen.write_star_schema(sf_dir, REPORT_SF, run.seed)
        plans.load_all()
        load_tables(spark, sf_dir)
    run.layer["session.load_s"] = time.perf_counter() - t0
    run.setup_s += run.layer["session.load_s"]
    run.sizes.update(sf=REPORT_SF, table_rows=rows,
                     queries=len(REPORT_QUERIES))
    qs = registry.all_queries()
    missing = [q for q in REPORT_QUERIES if q not in qs]
    if missing:
        raise SystemExit(f"headline queries missing from registry: {missing}")

    def call(name: str):
        tr.op_id = name
        with tr.span("op.query"):
            with probe.op("build"), tr.span("plans.build"):
                df, build_s = _timed(lambda: qs[name](spark, sf_dir))
            with probe.op("query"), tr.span("spark.collect"):
                out, exec_s = _timed(df.collect)
        return [c.lower() for c in df.columns], out, build_s, build_s + exec_s

    first: dict[str, list] = {}
    lat: dict[str, list[float]] = defaultdict(list)
    builds: dict[str, list[float]] = defaultdict(list)
    attempted = failed = 0
    passes: list[float] = []
    deadline = None
    cold_stats = None
    while len(passes) <= MIN_WARM or time.perf_counter() < deadline:
        n_pass = len(passes)
        pass_t0 = time.perf_counter()
        for name in REPORT_QUERIES:
            attempted += 1
            try:
                cols, out, build_s, wall = call(name)
            except Exception as exc:  # a failed query is counted, not fatal
                print(f"query {name} failed: {exc!r}")
                failed += 1
                continue
            got = [tuple(normalize(v) for v in r) for r in out]
            if n_pass == 0:
                first[name] = (cols, got)
                continue
            lat[name].append(wall)
            builds[name].append(build_s)
            if name in first and not rows_match(got, first[name][1])[0]:
                print(f"query {name}: warm result differs from cold")
                failed += 1
        passes.append(time.perf_counter() - pass_t0)
        if n_pass == 0:
            cold_stats = list(probe.history)
            probe.history.clear()
            window_t0 = time.perf_counter()
            deadline = window_t0 + run.seconds
    window_s = time.perf_counter() - window_t0

    if tr.enabled:
        attempted += 1
        ok, stream_layer = chat_stream(run)
        failed += not ok

    # Oracle check of every cold-pass result, order-insensitive.
    oracles = registry.all_oracles()
    con = duckdb.connect()
    try:
        for t in BASE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(sf_dir, t + '.parquet')}'")
        for name, (cols, got) in first.items():
            if name not in oracles:
                continue
            cur = con.execute(oracles[name])
            dcols = [d[0].lower() for d in cur.description]
            idx = [dcols.index(c) for c in cols] if set(cols) == set(dcols) else None
            if idx is None:
                print(f"query {name}: columns {cols} vs oracle {dcols}")
                failed += 1
                continue
            want = [tuple(normalize(r[i]) for i in idx) for r in cur.fetchall()]
            ok, why = rows_match(got, want)
            if not ok:
                print(f"query {name}: oracle mismatch: {why}")
                failed += 1
    finally:
        con.close()

    warm = [x for q in REPORT_QUERIES for x in lat[q]]
    n_warm_passes = len(passes) - 1
    e2e = {
        "cold_pass_s": passes[0],
        # One warm pass assembled from each query's fastest warm call:
        # a call that shared the machine with a burst of other work
        # (or ran while the JIT was still compiling) does not move it.
        "warm_pass_s": sum(min(lat[q], default=0.0) for q in REPORT_QUERIES),
        # The median query's fastest warm latency: every query counts
        # once, however many passes the run fitted.
        "read_p50_ms": median(min(lat[q], default=0.0) for q in REPORT_QUERIES) * 1e3,
    }
    notes = {"passes_s": passes, "reads": len(warm),
             "ops_per_s": len(warm) / window_s}

    layer = dict(run.layer)
    if tr.enabled:
        warm_builds = probe.ops({"build"})
        layer.update(_engine_layer(probe.ops(), len(warm), n_warm_passes))
        layer.update(_cold_codegen([st for _, st in cold_stats]))
        layer.update({
            "plans.build_ms": sum(min(builds[q], default=0.0)
                                  for q in REPORT_QUERIES) * 1e3,
            "plans.build_jobs": sum(st.jobs for st in warm_builds) / max(n_warm_passes, 1),
            "plans.cold_build_jobs": float(
                sum(st.jobs for k, st in cold_stats if k == "build")
            ),
        })
        for q in REPORT_QUERIES:
            layer[f"plans.{q}_ms"] = min(lat[q], default=0.0) * 1e3
        layer.update(stream_layer)
    return Result(e2e, layer, attempted, failed, notes)


def chat_stream(run: Run) -> tuple[bool, dict[str, float]]:
    """One drop of seeded chat messages through the streaming layer: a
    parquet file-source stream, per-conversation running counters, and
    the transactional sink, drained with ``processAllAvailable``.
    Returns whether every conversation's count in the sink is the
    generator's, and the stream's per-layer metrics.

    Traced runs only: a micro-batch of a stateful query costs 12-25 s
    on 4 cores at the engine's default 200 state partitions, more than
    the untraced runs can spend. The TTL session accumulator
    (``session_accumulator``) is not driven: its Python state function
    made one drop cost about 100 s on the same machine."""
    from conversation_with_vector_db_spark.sources.snapshot_log import read_snapshot
    from conversation_with_vector_db_spark.streaming.sessions import (
        CONVERSATION_SCHEMA,
        running_counts,
        snapshot_append_sink_query,
        stream_parquet_dir,
    )

    spark, tr = run.spark, run.tracer
    root = os.path.join(run.work, "chat")
    msgs, counts = gen.conversations(run.seed)
    gen.write_messages(os.path.join(root, "in", "drop-0.parquet"), msgs)
    run.sizes.update(chat_messages=len(msgs), chat_conversations=len(counts))
    with tr.span("stream.process"):
        stream = stream_parquet_dir(spark, os.path.join(root, "in"),
                                    CONVERSATION_SCHEMA)
        q = snapshot_append_sink_query(
            running_counts(stream, key="conversation_id"),
            os.path.join(root, "out"), os.path.join(root, "ckpt"),
        ).start()
        try:
            q.processAllAvailable()
            progress = q.recentProgress
        finally:
            q.stop()
    # The sink is versioned by batch: a conversation's count is its row
    # of the highest batch id.
    latest: dict[str, tuple[int, int]] = {}
    for r in read_snapshot(spark, os.path.join(root, "out")).collect():
        if r.batch_id >= latest.get(r.conversation_id, (-1, 0))[0]:
            latest[r.conversation_id] = (r.batch_id, r.n_chunks)
    got = {c: n for c, (_, n) in latest.items()}
    if got != counts:
        print(f"stream counts differ: {len(got)} conversations, "
              f"{len(counts)} expected")
    data = [p for p in progress if p["numInputRows"]]
    return got == counts, {
        "stream.batch_ms": median(p["durationMs"]["triggerExecution"] for p in data),
        "stream.input_rows": float(sum(p["numInputRows"] for p in progress)),
        "stream.state_rows": float(progress[-1]["stateOperators"][0]["numRowsTotal"]),
    }


# --------------------------------------------------------------------------
# index-churn
# --------------------------------------------------------------------------


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def index_churn(run: Run) -> Result:
    """Serve RAG reads from a transactional IVF index while a seeded
    stream of upserts (new and re-embedded documents) and deletes lands
    on it, with an inline vacuum every few commits. A read is the chat
    RAG request: embed the question, probe the index for the top k
    chunks, join them to their text, collect. One cycle is one write
    followed by its reads; writes alternate between upserts and deletes.
    The first cycle is cold; the warm cycles after it are measured (at
    least :data:`MIN_WARM` of them, so one upsert and one delete).

    Documents reach the engine as in-memory frames of the generator's
    rows. An operation's latency is the wall time of its calls into
    the engine: the probe's reads after it in traced runs are outside
    it."""
    from pyspark.sql import functions as F

    from conversation_with_vector_db_spark.functions.embedding import featurize_dense
    from conversation_with_vector_db_spark.operators import ann
    from conversation_with_vector_db_spark.operators.chunking import chunk_fixed
    from conversation_with_vector_db_spark.operators.vector import exact_topk
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        live_segments,
        versions,
    )
    from conversation_with_vector_db_spark.sources.transactional import read_table

    spark, tr, probe = run.spark, run.tracer, run.probe
    table = os.path.join(run.work, "index")

    def embed_chunks(rows: list[tuple[int, str]]):
        """(doc_id, text) rows -> (vec_id, embedding, doc_id, text) chunk rows."""
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        with tr.span("chunking.chunk"):
            chunks = chunk_fixed(docs, "text", "doc_id", size=gen.CHUNK_SIZE)
            chunks = chunks.select(
                (F.col("doc_id") * gen.CHUNK_SLOTS + F.col("chunk_id")).alias("vec_id"),
                "doc_id", "text",
            )
        with tr.span("embedding.featurize"):
            emb = featurize_dense(chunks, "text", "vec_id")
        return emb.join(chunks, "vec_id")

    t0 = time.perf_counter()
    with tr.span("session.load"):
        corpus = gen.Corpus(seed=run.seed, n_docs=CHURN_DOCS)
        eval_questions = corpus.questions(RECALL_QUESTIONS, first_qid=1 << 40)
    run.layer["session.load_s"] = time.perf_counter() - t0
    # The corpus is embedded once and the index is built from the
    # collected rows: every job of the build (the k-means fits, the
    # cell assignment, the write) then rescans a small local frame
    # instead of re-running the chunk/embed/join plan.
    t0 = time.perf_counter()
    with tr.span("embedding.corpus"):
        emb = embed_chunks(corpus.initial)
        corpus_rows = emb.collect()
    embed_s = time.perf_counter() - t0
    with tr.span("ann.create"):
        _, create_s = _timed(lambda: ann.ivf_table_create(
            spark, spark.createDataFrame(corpus_rows, emb.schema), table,
            nlist=CHURN_NLIST, seed=run.seed, extra_cols=("doc_id", "text"),
        ))
    run.layer["embedding.corpus_s"] = embed_s
    run.layer["ann.create_s"] = create_s
    run.setup_s += run.layer["session.load_s"] + embed_s + create_s
    run.sizes.update(docs=CHURN_DOCS, chunks=len(corpus.live_ids()),
                     nlist=CHURN_NLIST, nprobe=CHURN_NPROBE, k=TOPK,
                     batch_docs=gen.BATCH_DOCS,
                     reembed_share=gen.REEMBED_SHARE,
                     delete_every=gen.DELETE_EVERY,
                     delete_docs=gen.DELETE_DOCS)

    def question_frame(reads: list[gen.Read]):
        q = spark.createDataFrame([(r.qid, r.text) for r in reads],
                                  "vec_id long, text string")
        with tr.span("embedding.featurize"):
            return featurize_dense(q, "text", "vec_id")

    def read(q: gen.Read, live: set[int]) -> tuple[bool, float]:
        with probe.op("read"), tr.span("op.read"):
            t0 = time.perf_counter()
            qe = question_frame([q])
            with tr.span("ann.topk_call"):
                top = ann.ivf_table_topk(spark, table, qe, k=TOPK,
                                         nprobe=CHURN_NPROBE)
            with tr.span("rag.context"):
                ctx = top.join(
                    read_table(spark, table).select("vec_id", "text"), "vec_id"
                ).select("vec_id", "rank", "text").collect()
            dt = time.perf_counter() - t0
        ids = [r.vec_id for r in ctx]
        ok = (len(ids) == TOPK and len(set(ids)) == TOPK
              and set(ids) <= live and all(r.text for r in ctx))
        return ok, dt

    def write(w) -> float:
        if isinstance(w, gen.Delete):
            ids = [vid for d in w.doc_ids for vid in corpus.chunk_ids(d)]
            with probe.op("delete"), tr.span("op.delete"):
                t0 = time.perf_counter()
                frame = spark.createDataFrame([(i,) for i in ids], "vec_id long")
                with tr.span("ann.delete"):
                    ann.ivf_table_delete(spark, table, frame)
                return time.perf_counter() - t0
        before = _dir_bytes(table) if tr.enabled else 0
        with probe.op("upsert"), tr.span("op.upsert"):
            t0 = time.perf_counter()
            updates = embed_chunks(w.docs)
            with tr.span("ann.upsert"):
                ann.ivf_table_upsert(spark, table, updates)
            dt = time.perf_counter() - t0
        if tr.enabled:
            written["table"] += _dir_bytes(table) - before
            written["user"] += sum(8 + len(t.encode()) for _, t in w.docs)
            written["chunks"] += sum(corpus.n_chunks(d) for d, _ in w.docs)
            written["docs"] += len(w.docs)
        return dt

    written: dict[str, int] = defaultdict(int)
    lat: dict[str, list[float]] = defaultdict(list)
    cycles: list[float] = []
    rows_ingested = 0
    attempted = failed = 0
    commits = 0
    deadline = None
    live = corpus.live_ids()
    cold_stats = None
    qid = 0
    while len(cycles) <= MIN_WARM or time.perf_counter() < deadline:
        n_cycle = len(cycles)
        cycle_t0 = time.perf_counter()
        w = corpus.next_write()
        tr.op_id = f"write-{corpus.n_writes}"
        attempted += 1
        try:
            dt = write(w)
            lat["upsert" if isinstance(w, gen.Upsert) else "delete"].append(dt)
            if isinstance(w, gen.Upsert):
                rows_ingested += sum(corpus.n_chunks(d) for d, _ in w.docs)
            commits += 1
        except Exception as exc:  # counted, and the id check will fail too
            print(f"write {corpus.n_writes} failed: {exc!r}")
            failed += 1
        live = corpus.live_ids()
        if commits and commits % VACUUM_EVERY == 0:
            with tr.span("txn.vacuum"):
                ann.ivf_table_vacuum(table)
        for q in corpus.questions(READS_PER_WRITE, qid):
            qid += 1
            tr.op_id = f"read-{q.qid}"
            attempted += 1
            try:
                ok, dt = read(q, live)
                lat["read"].append(dt)
                if not ok:
                    print(f"read {q.qid}: wrong top-{TOPK} result")
                    failed += 1
            except Exception as exc:
                print(f"read {q.qid} failed: {exc!r}")
                failed += 1
        cycles.append(time.perf_counter() - cycle_t0)
        if n_cycle == 0:
            cold_stats = list(probe.history)
            probe.history.clear()
            lat.clear()
            window_t0 = time.perf_counter()
            deadline = window_t0 + run.seconds
            window_rows = rows_ingested
            window_probe_s = probe.overhead_s
    # The window's wall time without the probe's reads (traced runs).
    window_s = time.perf_counter() - window_t0 - (probe.overhead_s - window_probe_s)
    window_ops = sum(len(lat[k]) for k in ("read", "upsert", "delete"))

    # The index must hold exactly the generator's live chunk ids.
    attempted += 1
    ids = [r.vec_id for r in read_table(spark, table).select("vec_id").collect()]
    if len(ids) != len(set(ids)) or set(ids) != live or set(ids) & {
        vid for d in corpus.deleted for vid in corpus.chunk_ids(d)
    }:
        print(f"index ids differ from the expected set: {len(ids)} rows, "
              f"{len(set(ids))} distinct, {len(live)} expected")
        failed += 1

    # Recall of the probe against exact top-k, in traced runs only (it
    # is a per-layer metric, and costs a run seconds it need not pay).
    recall = None
    if tr.enabled:
        qe = question_frame(eval_questions).cache()
        approx = {(r.qid, r.vec_id) for r in ann.ivf_table_topk(
            spark, table, qe, k=TOPK, nprobe=CHURN_NPROBE).collect()}
        exact = {(r.qid, r.vec_id) for r in exact_topk(
            read_table(spark, table).select("vec_id", "embedding"), qe,
            k=TOPK).collect()}
        qe.unpersist()
        recall = len(approx & exact) / max(len(exact), 1)

    disk = _dir_bytes(table)
    live_bytes = sum(
        _dir_bytes(os.path.join(table, s)) for s in live_segments(table)
    )
    reads = lat["read"]
    writes = lat["upsert"] + lat["delete"]
    e2e = {
        "cold_pass_s": cycles[0],
        "warm_pass_s": median(cycles[1:]),
        "read_p50_ms": median(reads) * 1e3,
    }
    notes = {
        "cycles_s": cycles, "reads": len(reads), "writes": len(writes),
        "ops_per_s": window_ops / window_s,
        "write_p50_ms": median(writes) * 1e3,
        "rows_per_s": (rows_ingested - window_rows) / window_s,
        "recall_at_10": recall,
        "space_amp": disk / live_bytes,
    }
    layer = dict(run.layer)
    if tr.enabled:
        window = probe.ops({"read", "upsert", "delete"})
        layer.update(_engine_layer(window, len(window),
                                   len(cycles) - 1))
        layer.update(_cold_codegen([st for _, st in cold_stats]))
        reads_stats = probe.ops({"read"})
        scanned = [st.python_scan_rows for st in reads_stats]
        layer.update({
            "embedding.featurize_ms": median(tr.durations("embedding.featurize")) * 1e3,
            "ann.topk_call_ms": median(tr.durations("ann.topk_call")) * 1e3,
            "ann.rescore_ms": median(st.python_run_ms for st in reads_stats),
            "ann.scan_fraction": median(scanned) / len(live),
            "rag.context_ms": median(tr.durations("rag.context")) * 1e3,
            "ann.upsert_ms": median(tr.durations("ann.upsert")) * 1e3,
            "ann.delete_ms": median(tr.durations("ann.delete")) * 1e3,
            "chunking.chunk_ms": median(tr.durations("chunking.chunk")) * 1e3,
            "chunking.chunks_per_doc": written["chunks"] / max(written["docs"], 1),
            "txn.live_segments": float(len(live_segments(table))),
            "txn.files_per_read": median(st.python_scan_files for st in reads_stats),
            "txn.versions": float(len(versions(table))),
            "txn.bytes_written_per_user_byte": written["table"] / max(written["user"], 1),
            "txn.vacuum_ms": median(tr.durations("txn.vacuum")) * 1e3,
        })
        for k, v in notes.items():
            if k in ("write_p50_ms", "rows_per_s", "recall_at_10", "space_amp"):
                layer[f"churn.{k}"] = float(v)
    return Result(e2e, layer, attempted, failed, notes)


WORKLOADS = {
    "report-refresh": report_refresh,
    "index-churn": index_churn,
}
