"""Scale-technique verification: bucketed co-located joins (no
exchange), skew salting equivalence, MLlib LSH recall."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from conversation_with_vector_db_spark.plans import load_all, registry
from conversation_with_vector_db_spark.session import load_tables

load_all()


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Bucketing both sides on the join key (write-time co-location)
    removes the shuffle: the sort-merge join reads pre-bucketed files
    directly — the pattern for repeatedly-joined 100 TB fact tables."""
    load_tables(spark, sf_dir)
    warehouse = spark.conf.get("spark.sql.warehouse.dir", None)
    events = spark.table("events").select("event_id", "user_id", "value")
    users = spark.table("customer").select("c_custkey", "c_mktsegment")
    (
        events.write.mode("overwrite")
        .bucketBy(8, "user_id")
        .sortBy("user_id")
        .saveAsTable("bk_events")
    )
    (
        users.withColumnRenamed("c_custkey", "user_id")
        .write.mode("overwrite")
        .bucketBy(8, "user_id")
        .sortBy("user_id")
        .saveAsTable("bk_users")
    )
    # Disable broadcast so the join would otherwise shuffle both sides.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bk_events").join(
            spark.table("bk_users"), "user_id"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # And it still computes the right thing.
        n = joined.count()
        expected = (
            spark.table("events")
            .join(
                spark.table("customer"),
                F.col("user_id") == F.col("c_custkey"),
            )
            .count()
        )
        assert n == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS bk_events")
        spark.sql("DROP TABLE IF EXISTS bk_users")


def test_salted_aggregate_matches_plain(spark, sf_dir):
    load_tables(spark, sf_dir)
    got = registry.REGISTRY["scale_salted_aggregate"].fn(spark, sf_dir)
    plain = (
        spark.table("events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total"),
            F.round(F.min("value"), 4).alias("vmin"),
            F.round(F.max("value"), 4).alias("vmax"),
        )
        .orderBy("event_type")
    )
    # Sorted compare: the registered query's presentation sort was
    # dropped in r11 (the result SET is the contract).
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in plain.collect()
    )


def test_salted_join_matches_plain(spark, sf_dir):
    load_tables(spark, sf_dir)
    got = {
        (r.event_type, r.segment): r.n
        for r in registry.REGISTRY["scale_salted_join"]
        .fn(spark, sf_dir)
        .collect()
    }
    plain = {
        (r.event_type, r.c_mktsegment): r.n
        for r in spark.table("events")
        .join(
            spark.table("customer"), F.col("user_id") == F.col("c_custkey")
        )
        .groupBy("event_type", "c_mktsegment")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == plain


def test_brp_lsh_recall_floor(spark, sf_dir):
    row = registry.REGISTRY["ann_brp_lsh_recall"].fn(spark, sf_dir).first()
    assert row.recall >= 0.9, row


def test_domain_mixture_tracks_target_shares(spark, sf_dir):
    """The achieved mix must track the target permille shares within
    sampling noise, and per-domain keeps must respect the computed
    rates (n_kept ~ cnt * keep_permille / 1000)."""
    from conversation_with_vector_db_spark.plans import load_all, registry

    load_all()
    rows = registry.all_queries()["scale_domain_mixture"](
        spark, sf_dir
    ).collect()
    targets = {"en": 400, "zh": 200, "de": 150, "fr": 150, "es": 100}
    assert {r["lang"] for r in rows} == set(targets)
    total_kept = sum(r["n_kept"] for r in rows)
    for r in rows:
        # Rate application: binomial(cnt, p) stays within 5 sigma.
        exp = r["n_before"] * r["keep_permille"] / 1000
        sd = max((exp * (1 - r["keep_permille"] / 1000)) ** 0.5, 1.0)
        assert abs(r["n_kept"] - exp) <= 5 * sd, (r, exp)
        # Un-capped domains must land near their target share of the
        # achieved total (capped ones keep everything they have).
        if r["keep_permille"] < 1000:
            share = r["n_kept"] / total_kept
            assert abs(share - targets[r["lang"]] / 1000) < 0.1, r


def test_deterministic_split_is_stable_and_partitioning(spark, sf_dir):
    """80/10/10 split invariants: the three splits partition the corpus
    exactly (counts and id-checksums sum to the whole), proportions
    hold within binomial noise, and re-running yields the identical
    assignment (append-stable hashing, no rand())."""
    from pyspark.sql import functions as F

    from conversation_with_vector_db_spark.plans import load_all, registry

    load_all()
    q = registry.all_queries()["scale_deterministic_split"]
    a = q(spark, sf_dir).collect()
    b = q(spark, sf_dir).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    docs = spark.table("documents").agg(
        F.count("*").alias("n"), F.sum("doc_id").alias("ids")
    ).collect()[0]
    by = {r["split"]: r for r in a}
    assert set(by) == {"train", "val", "test"}
    assert sum(r["n_docs"] for r in a) == docs["n"]
    assert sum(r["id_checksum"] for r in a) == docs["ids"]
    for split, frac in (("train", 0.8), ("val", 0.1), ("test", 0.1)):
        exp = docs["n"] * frac
        sd = max((docs["n"] * frac * (1 - frac)) ** 0.5, 1.0)
        assert abs(by[split]["n_docs"] - exp) <= 5 * sd, (split, exp)


def test_stratified_sample_rate_per_stratum(spark, sf_dir):
    """~20% of every label stratum survives (binomial noise bound) and
    the assignment is rerun-stable."""
    from pyspark.sql import functions as F

    from conversation_with_vector_db_spark.plans import load_all, registry

    load_all()
    q = registry.all_queries()["scale_stratified_sample"]
    a = q(spark, sf_dir).collect()
    assert a == q(spark, sf_dir).collect()
    full = {
        r["label"]: r["n"]
        for r in spark.table("embeddings")
        .groupBy("label")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    sampled = {r["label"]: r["n_sampled"] for r in a}
    for label, n in full.items():
        exp, sd = n * 0.2, max((n * 0.2 * 0.8) ** 0.5, 1.0)
        assert abs(sampled.get(label, 0) - exp) <= 5 * sd, (label, exp)


def test_quantized_lloyd_recovers_planted_clusters(spark):
    """Three well-separated synthetic clusters must come out as three
    assignment groups aligned with the plant, regardless of which ids
    seeded the centroids."""
    import numpy as np

    from conversation_with_vector_db_spark.operators.clustering import (
        quantized_lloyd,
    )

    rng = np.random.default_rng(3)
    centers = np.array(
        [[5.0, 0.0, 0.0, 0.0], [0.0, 5.0, 0.0, 0.0], [0.0, 0.0, 5.0, 0.0]]
    )
    rows = []
    for i in range(90):
        c = i % 3
        v = centers[c] + rng.normal(scale=0.05, size=4)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = quantized_lloyd(df, k=3, iters=4).collect()
    by_plant: dict[int, set[int]] = {}
    for r in got:
        by_plant.setdefault(r["vec_id"] % 3, set()).add(r["cluster"])
    # every planted cluster maps to exactly one assignment id, and the
    # three assignment ids are distinct
    assert all(len(s) == 1 for s in by_plant.values())
    assert len({next(iter(s)) for s in by_plant.values()}) == 3


def test_quantized_lloyd_is_deterministic_across_runs(spark, sf_dir):
    from conversation_with_vector_db_spark.operators.clustering import (
        quantized_lloyd,
    )
    from conversation_with_vector_db_spark.session import load_tables

    load_tables(spark, sf_dir)
    emb = spark.table("embeddings").select("vec_id", "embedding")
    a = [tuple(r) for r in quantized_lloyd(emb, k=8, iters=3).collect()]
    # different partitioning must not change a single assignment
    b = [
        tuple(r)
        for r in quantized_lloyd(
            emb.repartition(13), k=8, iters=3
        ).collect()
    ]
    assert a == b
    assert len({c for _, c, _ in a}) > 1


def test_quantized_lloyd_drops_ragged_vectors(spark):
    """Rows whose embedding dimension differs from the model's are
    dropped up front, never silently assigned NULL clusters."""
    from conversation_with_vector_db_spark.operators.clustering import (
        quantized_lloyd,
    )

    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
        (3, [0.1, 0.9]),
        (4, [1.0]),          # ragged: wrong dim
        (5, []),             # ragged: empty
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = quantized_lloyd(df, k=2, iters=2).collect()
    assert {r["vec_id"] for r in got} == {0, 1, 2, 3}
    assert all(r["cluster"] is not None for r in got)


def test_quantized_lloyd_seeds_after_ragged_filter(spark):
    """A ragged/empty vector among the k smallest ids must not become a
    seed centroid: the model dimension is fixed from the modal length
    BEFORE seeding, so an empty FIRST row cannot define dim=0 (which
    would drop every well-formed row) and a wrong-dim row cannot turn
    into a dead centroid."""
    from conversation_with_vector_db_spark.operators.clustering import (
        quantized_lloyd,
    )

    rows = [
        (0, []),             # empty at the FIRST seed slot
        (1, [9.0]),          # wrong dim at the second seed slot
        (2, [1.0, 0.0]), (3, [0.9, 0.1]),
        (4, [0.0, 1.0]), (5, [0.1, 0.9]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = quantized_lloyd(df, k=2, iters=2).collect()
    assert {r["vec_id"] for r in got} == {2, 3, 4, 5}
    # both seeds came from well-formed rows, so the two planted pairs
    # separate into two distinct clusters
    assert {r["cluster"] for r in got} == {0, 1}


def test_quantized_lloyd_arrow_path_partitioning_independent(
    spark, sf_dir
):
    """End-to-end pin for the large-k regime: a full fit+assign at
    k >= ARROW_ASSIGN_MIN_K (every assignment pass inside the fit loop
    rides the Arrow matmul path) must produce the identical model and
    assignment regardless of input partitioning — the determinism
    contract the module promises is path-independent."""
    from conversation_with_vector_db_spark.operators.clustering import (
        ARROW_ASSIGN_MIN_K,
        quantized_lloyd,
    )
    from conversation_with_vector_db_spark.session import load_tables

    load_tables(spark, sf_dir)
    emb = spark.table("embeddings").select("vec_id", "embedding")
    k = ARROW_ASSIGN_MIN_K + 4
    a = [tuple(r) for r in quantized_lloyd(emb, k=k, iters=3).collect()]
    b = [
        tuple(r)
        for r in quantized_lloyd(
            emb.repartition(17), k=k, iters=3
        ).collect()
    ]
    assert a == b
    assert len({c for _, c, _ in a}) > ARROW_ASSIGN_MIN_K // 2


def test_assign_clusters_arrow_matches_expression_path(spark, sf_dir):
    """The large-k Arrow matmul assignment must agree with the
    expression-tree argmin value-for-value — same cluster, same
    sq_dist, same smallest-id tie rule — on a real fitted model big
    enough to cross ARROW_ASSIGN_MIN_K (the cost gate picks a path,
    never the answer)."""
    from conversation_with_vector_db_spark.operators.clustering import (
        ARROW_ASSIGN_MIN_K,
        _assign_arrow,
        _packed_argmin,
        quantize_vectors,
        quantized_lloyd_fit,
    )
    from conversation_with_vector_db_spark.session import load_tables

    load_tables(spark, sf_dir)
    emb = spark.table("embeddings").select("vec_id", "embedding")
    k = ARROW_ASSIGN_MIN_K + 8
    centroids, dim = quantized_lloyd_fit(emb, k=k, iters=2)
    assert len(centroids) > ARROW_ASSIGN_MIN_K
    q = quantize_vectors(emb).select("vec_id", "q").filter(
        F.size("q") == dim
    )
    via_arrow = {
        r["vec_id"]: (r["cluster"], r["sq_dist"])
        for r in _assign_arrow(q, centroids, k, "vec_id").collect()
    }
    packed = _packed_argmin(centroids, k)
    via_expr = {
        r["vec_id"]: (r["cluster"], r["sq_dist"])
        for r in q.withColumn("_p", packed)
        .select(
            "vec_id",
            (F.col("_p") % k).cast("int").alias("cluster"),
            F.expr(f"_p div {k}").alias("sq_dist"),
        )
        .collect()
    }
    assert via_arrow == via_expr
    assert len({c for c, _ in via_arrow.values()}) > 1


def test_assign_clusters_arrow_path_preserves_string_id_type(
    spark, sf_dir
):
    """assign_clusters is a public API taking arbitrary id_col; the
    Arrow path must emit the CALLER's id type (here a string doc id),
    not a hardcoded bigint — the cost gate picks a physical path,
    never the output schema."""
    from conversation_with_vector_db_spark.operators.clustering import (
        ARROW_ASSIGN_MIN_K,
        assign_clusters,
        quantize_vectors,
        quantized_lloyd_fit,
    )
    from conversation_with_vector_db_spark.session import load_tables

    load_tables(spark, sf_dir)
    emb = spark.table("embeddings").select(
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias(
            "doc_id"
        ),
        "embedding",
    )
    k = ARROW_ASSIGN_MIN_K + 8
    centroids, dim = quantized_lloyd_fit(
        emb, k=k, iters=1, id_col="doc_id"
    )
    assert len(centroids) >= ARROW_ASSIGN_MIN_K
    q = quantize_vectors(emb).select("doc_id", "q").filter(
        F.size("q") == dim
    )
    big = assign_clusters(q, centroids, k, id_col="doc_id")
    small = assign_clusters(q, centroids[:4], 4, id_col="doc_id")
    # identical schema either side of the gate, caller's string id kept
    assert big.schema["doc_id"].dataType.simpleString() == "string"
    assert [f.name for f in big.schema] == [f.name for f in small.schema]
    assert {
        f.name: f.dataType.simpleString() for f in big.schema
    } == {f.name: f.dataType.simpleString() for f in small.schema}
    got = big.limit(5).collect()
    assert all(r["doc_id"].startswith("doc-") for r in got)


def test_assign_clusters_arrow_int64_fallback_raises_on_overflow(spark):
    """Past the float64-exactness gate the int64 fallback must ENFORCE
    the BIGINT distance contract — raise on would-wrap inputs rather
    than return a silently wrapped argmin."""
    from conversation_with_vector_db_spark.operators.clustering import (
        ARROW_ASSIGN_MIN_K,
        _assign_arrow,
    )

    big = 2**33  # dim * (max_q + max_c)^2 = 4 * (2^34)^2 = 2^70 >= 2^63
    k = ARROW_ASSIGN_MIN_K
    centroids = [(c, [big, -big, big, -big]) for c in range(k)]
    q = spark.createDataFrame(
        [(1, [big, big, big, big])], "vec_id bigint, q array<bigint>"
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="BIGINT distance contract"):
        _assign_arrow(q, centroids, k, "vec_id").collect()


def test_topic_mixture_flattens_to_smallest_topic(spark, sf_dir):
    """Every topic's kept share must land near the smallest topic's
    size (floor-permille sampling: n_kept <= n_before, and the implied
    rate matches the formula); the smallest topic keeps everything."""
    from conversation_with_vector_db_spark import plans
    from conversation_with_vector_db_spark.plans.registry import REGISTRY

    plans.load_all()
    rows = REGISTRY["scale_topic_mixture"].fn(spark, sf_dir).collect()
    assert rows
    m = min(r["n_before"] for r in rows)
    for r in rows:
        assert r["keep_permille"] == min(1000, m * 1000 // r["n_before"])
        assert r["n_kept"] <= r["n_before"]
        if r["n_before"] == m:
            assert r["keep_permille"] == 1000
            assert r["n_kept"] == m


def test_alpha_mixture_damps_head_languages(spark, sf_dir):
    """Temperature sampling with alpha=1/2: every language's keep rate
    is floor-permille of sqrt(min/n) (integer-exact), the smallest
    language keeps everything, and — unlike the flatten-to-smallest
    policy — head languages keep MORE than min (effective sizes
    ~ sqrt-flattened, not equalized)."""
    import math

    from conversation_with_vector_db_spark import plans
    from conversation_with_vector_db_spark.plans.registry import REGISTRY

    plans.load_all()
    rows = REGISTRY["scale_alpha_mixture"].fn(spark, sf_dir).collect()
    assert len(rows) == 5  # en/de/es/fr/zh
    m = min(r["n_before"] for r in rows)
    for r in rows:
        want = math.isqrt(1_000_000 * m // r["n_before"])
        assert r["keep_permille"] == want
        assert r["n_kept"] <= r["n_before"]
        # binomial tolerance around the permille rate
        exp = r["n_before"] * want / 1000
        sd = max(math.sqrt(exp), 1.0)
        assert abs(r["n_kept"] - exp) <= 5 * sd
        if r["n_before"] == m:
            assert r["keep_permille"] == 1000
            assert r["n_kept"] == m
    head = max(rows, key=lambda r: r["n_before"])
    if head["n_before"] > 2 * m:
        # alpha=1/2 keeps ~sqrt(m*n) > m docs from the head language
        assert head["n_kept"] > m


def test_aqe_skew_join_split_triggers(spark):
    """AQE's runtime skew-join handling — the engine-level answer to
    join skew that complements the explicit salting operators: with
    skew thresholds tuned down, a sort-merge join against one hot key
    must show skew-split partitions in the final adaptive plan."""
    from pyspark.sql import functions as F

    s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    s.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "64KB",
    )
    s.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB"
    )
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "8")

    # 200k rows on ONE key vs a uniform right side.
    left = s.range(0, 200_000).select(
        F.lit(7).alias("k"), F.col("id").alias("payload")
    ).unionAll(
        s.range(0, 1_000).select(
            (F.col("id") % 97).alias("k"), F.col("id").alias("payload")
        )
    )
    right = s.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    joined = left.join(right, "k")
    # Execute THIS DataFrame's own plan (count() would plan a separate
    # aggregate query), then read the finalized adaptive plan.
    assert len(joined.collect()) == 200_000 + 1_000
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    assert "skew=true" in plan, plan
