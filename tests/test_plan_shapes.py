"""Physical-plan regression tests: lock in the plan shapes the 100 TB
posture depends on, so a refactor that silently reintroduces a global
window, loses a pushed range, or falls back to sort-merge where hash
was chosen fails CI — not a bench run three rounds later.

These assert on ``sparkPlan`` (pre-AQE physical plan): it shows join
strategy choices, pushed filters, and exchange placement
deterministically, without executing the query.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from conversation_with_vector_db_spark import fixtures
from conversation_with_vector_db_spark.plans import load_all, registry
from conversation_with_vector_db_spark.session import load_tables

load_all()


def _spark_plan(spark, sf_dir: str, name: str) -> str:
    df = registry.all_queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().sparkPlan().toString()


def test_t5_topk_is_take_ordered_not_global_window(spark, sf_dir):
    """VERDICT r1 #2: the RAG top-k must lower to TakeOrderedAndProject,
    never a single-partition global-window rank over every scored doc."""
    plan = _spark_plan(spark, sf_dir, "t5_rag_query_end_to_end")
    assert "TakeOrderedAndProject" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_flagship_time_range_is_pushed_to_scan(spark, sf_dir):
    """VERDICT r1 #4: the month range must reach the events parquet scan
    as raw-nanos bounds (row-group pruning), not evaluate post-cast."""
    plan = _spark_plan(spark, sf_dir, "flagship_usage_daily_by_user")
    assert "GreaterThanOrEqual(ts," in plan, plan
    assert "LessThan(ts," in plan, plan


def test_ngram_jaccard_join_strategy(spark, sf_dir):
    """Branch shapes of the size-gated Jaccard pairing (r4). Under the
    fused-cap gate (fixture scale): ONE collect_list aggregation builds
    cap+postings — no shingle self-join, no anti-join — and the
    per-doc sizes broadcast into the pair join. Above the gate (forced
    via unknown src_bytes): the two-pass scale shape — shuffled hash
    self-join (no wasted sort before a groupBy) with the DF cap as a
    broadcast anti-join, never a second full-shingle shuffle."""
    plan = _spark_plan(spark, sf_dir, "dedup_ngram_jaccard")
    assert "collect_list" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "LeftAnti" not in plan, plan

    from conversation_with_vector_db_spark.operators.dedup import (
        jaccard_pairs,
    )
    from conversation_with_vector_db_spark import fixtures
    from conversation_with_vector_db_spark.session import load_tables

    load_tables(spark, sf_dir)
    fixtures.register_derived_views(spark)
    scale = jaccard_pairs(
        spark.table("corpus"), threshold=0.5, max_df=64, src_bytes=None
    )
    plan2 = scale._jdf.queryExecution().sparkPlan().toString()
    assert "ShuffledHashJoin" in plan2, plan2
    assert "BroadcastHashJoin" in plan2 and "LeftAnti" in plan2, plan2


def test_minhash_verify_scale_arm_never_broadcasts_corpus(
    spark, sf_dir, monkeypatch
):
    """VERDICT r11 #6: the forward-index broadcast verify
    (jaccard_verify_from_lists — inline array_intersect over two
    broadcast corpus lookups) is the fused-cap regime's privilege.
    Above FUSED_CAP_MAX_BYTES the gate must select the join-based
    jaccard_verify that shuffles CANDIDATES, never a broadcast of a
    corpus-sized forward index. array_intersect is the broadcast
    arm's plan fingerprint: present under the gate, absent above it."""
    from conversation_with_vector_db_spark.operators.dedup import (
        FUSED_CAP_MAX_BYTES,
    )
    from conversation_with_vector_db_spark.plans import dedup as plans_dedup

    fused = _spark_plan(spark, sf_dir, "dedup_minhash_lsh")
    assert "array_intersect" in fused, fused

    monkeypatch.setattr(
        plans_dedup, "_docs_bytes", lambda _sf: FUSED_CAP_MAX_BYTES + 1
    )
    scale = _spark_plan(spark, sf_dir, "dedup_minhash_lsh")
    assert "array_intersect" not in scale, scale
    # The scale verify engages: candidate pairs hash-join back to the
    # (df-capped) shingle table instead of broadcasting per-doc arrays.
    assert "ShuffledHashJoin" in scale, scale


def test_rescore_join_is_size_aware(spark, sf_dir):
    """VERDICT r2 #3: candidate rescoring must broadcast the vector
    table only under the size threshold; past it the vector sides flip
    to shuffle-hash joins (a 100 TB embedding table can never ship to
    every executor)."""
    from pyspark.sql import functions as F

    from conversation_with_vector_db_spark.operators.vector import (
        rescore_candidates,
    )
    from conversation_with_vector_db_spark.session import load_tables

    tables = load_tables(spark, sf_dir)
    emb = tables["embeddings"].select("vec_id", "embedding")
    cands = emb.select(F.col("vec_id").alias("a")).crossJoin(
        emb.select(F.col("vec_id").alias("b"))
    ).filter(F.col("a") + 1 == F.col("b")).limit(10)

    small = rescore_candidates(cands, emb, vec_bytes=1 << 20)
    plan_small = small._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" in plan_small, plan_small

    big = rescore_candidates(cands, emb, vec_bytes=1 << 40)
    plan_big = big._jdf.queryExecution().sparkPlan().toString()
    # BOTH vector-side lookups must flip to shuffle-hash joins (the
    # candidate-building cross join above may still broadcast — it is
    # not part of the operator under test).
    assert plan_big.count("ShuffledHashJoin") == 2, plan_big


def test_pack_sequences_window_is_sharded(spark, sf_dir):
    """t13's running token count must stay partitioned by shard — a
    global (single-partition) window would serialize packing."""
    df = registry.all_queries()["t13_pack_sequences"](spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_v1_topk_shuffle_is_group_limited(spark, sf_dir):
    """topk_per_query relies on Spark's WindowGroupLimit rewrite for its
    bounded-shuffle shape: a *Partial* group-limit must sit on the map
    side of the per-query rank window (each map partition forwards at
    most k rows per query), and the corpus must cross exactly one
    hash exchange on the way to the rank."""
    plan = _spark_plan(spark, sf_dir, "v1_topk_cosine")
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan
    # Exchanges only materialize after EnsureRequirements, so count them
    # on the executed plan: one hash exchange (the rank window), and no
    # second one from a hand-rolled per-partition pre-rank.
    df = registry.all_queries()["v1_topk_cosine"](spark, sf_dir)
    executed = df._jdf.queryExecution().executedPlan().toString()
    hash_exchanges = [
        ln
        for ln in executed.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 1, executed


def test_v1_scan_prunes_to_needed_columns(spark, sf_dir):
    """V1's corpus scan must read only the columns the query needs —
    a scan materializing the full row defeats column pruning at 100 TB."""
    load_tables(spark, sf_dir)
    plan = _spark_plan(spark, sf_dir, "v1_topk_cosine")
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    emb_scans = [ln for ln in scans if "embeddings.parquet" in ln]
    assert emb_scans, plan
    assert all("ReadSchema" in ln for ln in emb_scans)
    # The embeddings table also carries a label column the query never
    # touches; a pruned ReadSchema must not include it.
    assert all("label" not in ln.split("ReadSchema")[1] for ln in emb_scans)


def test_substring_spans_plan_shape(spark, sf_dir):
    """The duplicated-span plan must keep its scale posture: the
    survivor rejoin is a shuffled hash join on the window-hash key
    (never broadcast — the duplicated-window set is data-sized), and
    span merging partitions by doc_id, never a global window."""
    plan = _spark_plan(spark, sf_dir, "dedup_substring_spans")
    assert "ShuffledHashJoin [whash" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_perplexity_scoring_joins_are_shuffle_hash(spark, sf_dir):
    """Under the dictionary-encode gate (fixture vocab << 1M types) the
    token dim broadcasts onto the instance stream, but the
    instance-sized SCORING join must stay a shuffled hash join on the
    encoded long keys — the bigram model table is data-sized and
    broadcasting IT would be the 100 TB scale-killer."""
    plan = _spark_plan(spark, sf_dir, "text_perplexity_bigram")
    # Encode joins: vocab-dim broadcasts keyed on the token string
    # (the cached encode subtree prints once per InMemoryTableScan, so
    # count >= 2 rather than == 2).
    assert plan.count("BroadcastHashJoin [prev") >= 1, plan
    assert plan.count("BroadcastHashJoin [cur") >= 1, plan
    # Scoring join on (pid, cid) longs: shuffled, never broadcast.
    assert "ShuffledHashJoin [pid" in plan, plan
    assert "BroadcastHashJoin [pid" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_perplexity_encoded_and_string_paths_agree(spark, sf_dir):
    """The dictionary-encoded fast path and the web-scale string path
    must be numerically identical — ids are internal relabelings, so
    any divergence is a bug, not a tolerance."""
    import conversation_with_vector_db_spark.operators.text as T
    from conversation_with_vector_db_spark.session import load_tables

    load_tables(spark, sf_dir)
    fixtures.register_derived_views(spark)
    docs = spark.table("corpus").filter(F.col("doc_id") % 3 == 0)
    fast = {
        r.doc_id: (r.n_bigrams, r.avg_nll)
        for r in T.bigram_nll_scores(docs).collect()
    }
    old = T.VOCAB_BROADCAST_MAX
    T.VOCAB_BROADCAST_MAX = 0
    try:
        slow = {
            r.doc_id: (r.n_bigrams, r.avg_nll)
            for r in T.bigram_nll_scores(docs).collect()
        }
    finally:
        T.VOCAB_BROADCAST_MAX = old
    assert fast == slow


def test_ivf_table_probe_prunes_at_segment_list(spark, tmp_path):
    """The TRANSACTIONAL index's probe prunes at the MANIFEST segment
    list: the scan's inputFiles must live only under probed-cell
    segments — unprobed cells' directories are never even listed."""
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

    rng = np.random.default_rng(29)
    cents = rng.normal(size=(8, 16))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    rows = [
        (i, [float(x) for x in cents[i % 8] + 0.05 * rng.normal(size=16)])
        for i in range(240)
    ]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    t = str(tmp_path / "ivf_table_plan")
    ivf_table_create(spark, corpus, t, nlist=8)

    queries = corpus.filter(F.col("vec_id") < 2)
    probed = {
        cell
        for _, _, cell in ivf_probe(
            _load_centroids(t), collect_query_vectors(queries), nprobe=3
        )
    }
    assert 0 < len(probed) < 8
    df = ivf_table_topk(spark, t, queries, k=5, nprobe=3)
    files = df.inputFiles()
    assert files
    import re

    for f in files:
        m = re.search(r"-cell=(\d+)/", f)
        assert m, f
        assert int(m.group(1)) in probed, (f, probed)


def test_semdedup_assignment_is_sort_free(spark, sf_dir):
    """The SemDeDup assignment is a stateless map under centroid
    literals feeding cluster-keyed consumers: the plan must carry
    exactly ONE range exchange (the final output ORDER BY) — the
    pre-fix shape ran quantized_lloyd's contractual sort under both
    pair sides and the size histogram. The cluster-size join must stay
    broadcast, the pair self-join shuffled-hash. Exchanges only exist
    after EnsureRequirements, so this one asserts on executedPlan."""
    df = registry.all_queries()["dedup_semantic_semdedup"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("rangepartitioning") == 1, plan
    assert "ShuffledHashJoin [cluster" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_gapfill_windows_are_per_series(spark, sf_dir):
    """Both gap-fill passes window per event_type — a global
    (single-partition) window over the dense grid would serialize the
    fill on one task at any scale."""
    plan = _spark_plan(spark, sf_dir, "a17_gapfill_locf")
    assert "SinglePartition" not in plan, plan


def test_sessionization_single_data_shuffle(spark, sf_dir):
    """a18: ONE hashpartitioning(user_id) exchange feeds both ordered
    windows AND the (user_id, session_id) rollup — hashing by user_id
    alone satisfies the aggregate's clustered distribution, so no
    second data shuffle appears (the only other exchange is the
    presentation ORDER BY's range partitioning)."""
    # Exchanges are placed by EnsureRequirements, so this one asserts
    # on the executed plan (sparkPlan predates exchange insertion).
    df = registry.all_queries()["a18_sessionization"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    hash_ex = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_ex) == 1, plan
    assert "user_id" in hash_ex[0], plan
    # Both windows share one sort: exactly one Sort below the windows
    # carries (user_id, us, event_id).
    assert plan.count("Window") == 2, plan


def test_cms_sketch_is_partial_aggregated(spark, sf_dir):
    """text_cms_freq: the counter build must be a map-side-combined
    hash aggregate over (r, b) — every partition emits at most
    depth*width partial rows — and the estimate join must broadcast
    the tiny sketch, never shuffle the probe stream."""
    plan = _spark_plan(spark, sf_dir, "text_cms_freq")
    assert "partial_count" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_exact_percentiles_rank_window_is_bucket_partitioned(
    spark, sf_dir
):
    """a19: the only corpus-row window must partition by bucket —
    the global (empty-partition) windows may run over the bounded
    histogram frame only, never over lineitem rows."""
    plan = _spark_plan(spark, sf_dir, "a19_exact_percentiles")
    assert "windowspecdefinition(b" in plan, plan
    # The selected-bucket filter reaches phase 2 via a broadcast join,
    # not a shuffle of the corpus.
    assert "BroadcastHashJoin" in plan, plan


def test_retention_cohorts_single_user_exchange_no_distinct_expand(
    spark, sf_dir
):
    """a21 (rewritten after the sf100 sweep caught 5.28x): ONE
    groupBy(user_id) computes first-touch AND the distinct active
    weeks together — the plan must carry no join at all and no
    count(DISTINCT) Expand (the old second wide exchange over the
    joined activity frame)."""
    plan = _spark_plan(spark, sf_dir, "a21_retention_cohorts")
    assert "Expand" not in plan, plan
    assert "Join" not in plan, plan
    assert "collect_set" in plan, plan
    # exactly one aggregate keyed on user_id (partial + final pair)
    assert plan.count("ObjectHashAggregate(keys=[user_id") == 2, plan


def test_rolling_anomaly_windows_are_incremental(spark, sf_dir):
    """a23 (rewritten after the sf100 sweep caught 4.39x): the naive
    ROWS BETWEEN 20 PRECEDING sliding frame re-aggregates all 20
    frame rows per output row per function; the rewritten plan must
    carry only O(1)/row frames — running totals
    (unboundedpreceding..currentrow) and lag offsets — in windows
    sharing ONE user_id sort, with no sliding aggregate frame and no
    final presentation sort re-executing the pipeline."""
    plan = _spark_plan(spark, sf_dir, "a23_rolling_anomaly")
    assert "RowFrame, -20" not in plan, plan
    assert "stddev" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    # both Window nodes share the identical partition/order, so
    # EnsureRequirements inserts a single user_id exchange + sort
    df = registry.all_queries()["a23_rolling_anomaly"](spark, sf_dir)
    executed = (
        df._jdf.queryExecution().executedPlan().toString()
    )
    assert executed.count("Exchange") == 1, executed
    assert executed.count("+- Sort") == 1, executed


def test_graph_rounds_are_exchange_free_off_the_cached_index(spark):
    """r10: both graph loops persist the deduplicated edge list
    PRE-PARTITIONED BY dst, so each round is a broadcast label/rank
    join (preserving the streamed partitioning) + aggregates whose
    clustered distribution HashPartitioning(dst) already satisfies —
    the final round's executed plan must contain NO Exchange (earlier
    rounds hide behind localCheckpoint; without the cached index each
    round re-ran the edge-dedup shuffle — 48.9 s at sf1)."""
    from conversation_with_vector_db_spark.operators.graph import (
        label_propagation,
        pagerank,
    )

    edges = spark.range(0, 5000).select(
        (F.col("id") % 97).cast("string").alias("src"),
        (F.col("id") % 53).cast("string").alias("dst"),
    )
    for op in (label_propagation, pagerank):
        out = op(edges, iters=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 0, (op.__name__, plan)


def test_window_family_runs_identically_on_partitioned_layout(
    spark, sf_dir, tmp_path
):
    """End-to-end companion to the pruning pin below: the REAL
    registered month/day-window queries (flagship, f3, f15, x7, a8)
    run over a fully partitioned fixture and must return row-identical
    results to the flat fixture — this is the test that would catch a
    `dt` column leaking through a select("*"), a schema drift between
    layouts, or a boundary slip in the injected partition predicate,
    through actual query plans rather than the chokepoint alone."""
    import os
    import subprocess
    import sys

    from conversation_with_vector_db_spark.session import load_tables

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    flat, part = str(tmp_path / "flat"), str(tmp_path / "part")
    for out, extra in ((flat, []), (part, ["--partition-events"])):
        subprocess.run(
            [sys.executable, os.path.join(root, "tools", "gen_sf.py"),
             "--sf", "0.001", "--out", out, *extra],
            check=True, capture_output=True,
        )
    names = [
        "flagship_usage_daily_by_user",
        "f3_month_window",
        "f15_recency_filter",
        "x7_daily_cron_digest",
        "a8_per_model_period_usage",
    ]
    try:
        for name in names:
            q = registry.REGISTRY[name]
            a = sorted(map(str, (tuple(r) for r in q.fn(spark, flat).collect())))
            b = sorted(map(str, (tuple(r) for r in q.fn(spark, part).collect())))
            assert a == b and len(a) > 0, name
    finally:
        load_tables(spark, sf_dir)  # point the session back at fixtures


def test_flat_file_with_real_dt_column_is_not_touched(spark, tmp_path):
    """Name-collision guard: `dt` is the partitioned LAYOUT's hive
    column only when the table path is a directory dataset. A flat
    file whose DATA legitimately carries a `dt` column must keep it
    (no silent drop) and must not be range-FILTERED on it (it isn't
    date(ts)-derived there — out-of-window dt values on in-window ts
    rows would silently vanish)."""
    import os

    from conversation_with_vector_db_spark.session import (
        load_table,
        load_table_in_range,
    )

    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        [(1, "2024-01-05 10:00:00", "z-9999")],  # dt NOT a date of ts
        "event_id long, _ts string, dt string",
    ).selectExpr(
        "event_id", "cast(_ts as timestamp_ntz) AS ts", "dt"
    ).coalesce(1).write.parquet(str(sf / "events.parquet"))
    # directory vs file: Spark writes a dir — flatten to ONE file
    import glob
    import shutil

    part_file = glob.glob(str(sf / "events.parquet" / "*.parquet"))[0]
    flat = str(sf / "flat.parquet")
    shutil.move(part_file, flat)
    shutil.rmtree(str(sf / "events.parquet"))
    os.rename(flat, str(sf / "events.parquet"))
    assert os.path.isfile(str(sf / "events.parquet"))

    full = load_table(spark, str(sf), "events")
    assert "dt" in full.columns  # kept: it's user data here
    rows = load_table_in_range(
        spark, str(sf), "events", "ts", "2024-01-01", "2024-02-01"
    ).collect()
    assert len(rows) == 1 and rows[0]["dt"] == "z-9999"


def test_partitioned_events_layout_prunes_window_scans(
    spark, tmp_path
):
    """VERDICT r10 #1 / SURVEY §7's 100 TB posture, made measurable:
    on the date-partitioned events layout (gen_sf --partition-events,
    dt=YYYY-MM-DD hive dirs) a ts-window read must (a) carry dt
    bounds as PARTITION filters, (b) list ONLY in-window partition
    directories, (c) present the identical logical schema, and (d)
    return the identical rows as the flat single-file layout. At
    100 TB this is the difference between scanning a month and
    scanning two days."""
    import os
    import re
    import subprocess
    import sys

    from conversation_with_vector_db_spark.session import (
        load_table,
        load_table_in_range,
    )

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    flat, part = str(tmp_path / "flat"), str(tmp_path / "part")
    for out, extra in ((flat, []), (part, ["--partition-events"])):
        subprocess.run(
            [sys.executable, os.path.join(root, "tools", "gen_sf.py"),
             "--sf", "0.001", "--out", out, "--tables", "events",
             *extra],
            check=True, capture_output=True,
        )
    assert os.path.isdir(os.path.join(part, "events.parquet"))

    lo, hi = "2024-01-03", "2024-01-05"
    pruned = load_table_in_range(spark, part, "events", "ts", lo, hi)
    baseline = load_table_in_range(spark, flat, "events", "ts", lo, hi)

    # (a) dt bounds land as PartitionFilters on the scan
    old = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = pruned._jdf.queryExecution().sparkPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "dt" in m.group(1), plan
    assert ">=" in m.group(1) and "<" in m.group(1), plan

    # (c) the hive column is a layout detail, not schema
    assert pruned.columns == baseline.columns
    assert "dt" not in load_table(spark, part, "events").columns

    # (d) value parity between layouts (same seed => same draws)
    key = lambda r: r["event_id"]
    want = sorted(baseline.collect(), key=key)
    assert sorted(pruned.collect(), key=key) == want
    assert len(want) > 0

    # mid-day upper bound: the boundary day's partition is kept
    # (dt <= hi date) but rows past the ts bound are filtered out
    half = load_table_in_range(
        spark, part, "events", "ts", "2024-01-03", "2024-01-04 12:00:00"
    )
    assert half.count() == baseline.filter(
        "ts < timestamp '2024-01-04 12:00:00'"
    ).count()

    # (b) the scan OPENS only in-window partitions — proven the way
    # the FK-pruning test proves it: build an unpruned control over
    # the same (already-listed) file index, DELETE every out-of-window
    # partition's data files from disk, and re-execute. A pruning scan
    # never touches the deleted files; the control, whose only
    # predicate is the ts range (row-group stats still require opening
    # each footer), must fail. inputFiles() can't show this — it
    # reports the relation's full listing, pre-pruning.
    import glob

    unpruned_ctrl = spark.read.parquet(
        os.path.join(part, "events.parquet")
    ).filter(
        f"ts >= timestamp '{lo}' and ts < timestamp '{hi}'"
    )
    unpruned_ctrl.count()  # file index built (and readable) pre-delete
    for d in glob.glob(os.path.join(part, "events.parquet", "dt=*")):
        day = d.rsplit("dt=", 1)[1]
        if not (lo <= day < hi):
            for f in glob.glob(os.path.join(d, "*.parquet")):
                os.remove(f)
    assert sorted(pruned.collect(), key=key) == want
    import pytest as _pytest

    with _pytest.raises(Exception, match="(?i)file|exist|FileNotFound"):
        unpruned_ctrl.count()
