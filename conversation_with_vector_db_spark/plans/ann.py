"""ANN similarity-search queries with recall self-certification
(SURVEY §7 Phase 1 scale path; BASELINE.md 'ANN recall' target).

Approximate results depend on LSH banding / k-means internals that ANSI
SQL can't express, so these are rows-only for the driver — but each
query RETURNS its own recall@10 against the exact brute force computed
in the same plan, plus a ``meets_floor`` self-assertion, making the
quality measurable anyway; pytest asserts floors on those numbers.

Measured at sf0.01 (uniform 64-d fixture — the ANN-hardest case: pair
sims concentrate at 0 +- 1/sqrt(64), so candidate pruning is weak for
EVERY cosine-LSH family; on clustered real embeddings the same configs
prune far better):

* hyperplane LSH 24 bits / 6 bands + 1-bit multi-probe: recall 0.98
  (0.60 before multi-probe), candidate fraction 0.88.
* IVF spherical k-means 16 cells / nprobe 6 (the transactional IVF
  table, :func:`..operators.ann.ivf_table_topk`): recall 0.80, scans
  6/16 of the corpus.
* MLlib BRP-LSH 4 tables: recall 0.98 (stock-library scale path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ann import (
    exact_baseline,
    hyperplane_lsh_topk,
    ivf_table_create,
    ivf_table_topk,
    recall_at_k,
)
from ..operators.vector import majority_dim
from .registry import query, scratch_dir

K = 10

#: Fixture contract (TESTDATA.md): embeddings.embedding is array<64>.
EMB_DIM = 64

#: Per-method recall@10 floors asserted by ann_recall_suite.
FLOORS = {
    "hyperplane_lsh_24b6band_mp1": 0.90,
    # 0.80 at sf0.01; 0.76 at sf0.001 (where 16 cells over-fragment
    # the 50-vector corpus) and at sf0.1.
    "ivf_kmeans_16c6probe": 0.65,
    "mllib_brp_lsh_4tables": 0.95,
}


def _queries(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") < 5)


def lsh_recall_report(
    spark: SparkSession, exact: DataFrame | None = None
) -> DataFrame:
    """Multi-probe hyperplane LSH vs exact brute force. ``exact`` lets
    the suite pass ONE shared baseline into all three reports."""
    emb = spark.table("embeddings")
    q = _queries(emb)
    approx = hyperplane_lsh_topk(
        emb, q, k=K, n_bits=24, n_bands=6, dim=EMB_DIM, probe_bits=1
    )
    if exact is None:
        exact = exact_baseline(emb, q, k=K)
    return recall_at_k(approx, exact, k=K).withColumn(
        "method", F.lit("hyperplane_lsh_24b6band_mp1")
    )


def ivf_recall_report(
    spark: SparkSession, exact: DataFrame | None = None
) -> DataFrame:
    """IVF (seeded spherical k-means cells, centroid probing) vs exact:
    the index is an IVF table in a per-process scratch dir (the returned
    frame reads it lazily)."""
    emb = spark.table("embeddings")
    q = _queries(emb)
    table = scratch_dir("ivfrecall")
    ivf_table_create(spark, emb, table, nlist=16)
    approx = ivf_table_topk(spark, table, q, k=K, nprobe=6)
    if exact is None:
        exact = exact_baseline(emb, q, k=K)
    return recall_at_k(approx, exact, k=K).withColumn(
        "method", F.lit("ivf_kmeans_16c6probe")
    )


def brp_recall_report(
    spark: SparkSession, exact: DataFrame | None = None
) -> DataFrame:
    """T6 (MLlib fidelity): BucketedRandomProjectionLSH over
    L2-normalized vectors (Euclidean NN on the unit sphere == cosine
    NN), approxSimilarityJoin against the 5 query vectors, exact
    rescoring, recall@10 vs brute force — the stock-MLlib counterpart
    of the hand-rolled hyperplane LSH."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH, Normalizer
    from pyspark.ml.functions import array_to_vector

    from ..operators.vector import (
        cosine_with_norms,
        l2_norm,
        topk_per_query,
    )

    emb = spark.table("embeddings")
    # Exclude NULL/ragged embeddings (unindexable; raw JVM error from
    # MLlib otherwise) — the hand-rolled families' size(q)==dim
    # contract, applied to the stock-MLlib path. Dimension is the
    # MODE of sizes (majority_dim), not an arbitrary first() row —
    # partition-order independent on a mixed-dim corpus (ADVICE r10).
    dim = majority_dim(emb, "embedding")
    if dim is None:
        raise ValueError(
            "ann_brp_lsh_recall: no non-NULL embeddings — cannot "
            "fit the LSH model"
        )
    emb = emb.where(
        F.col("embedding").isNotNull()
        & (F.size("embedding") == dim)
    )
    vecs = emb.withColumn("_raw", array_to_vector("embedding"))
    normed = Normalizer(
        inputCol="_raw", outputCol="_features", p=2.0
    ).transform(vecs)
    # Precompute each vector's norm ONCE (carried through the LSH
    # transform into both join sides): the candidate list is the
    # bulk-pair stage (~0.88 of the corpus per query on the uniform
    # fixture), and the per-pair cosine_similarity fold recomputed
    # three HOF folds per pair — the exact pattern the unrolled pair
    # kernel exists to avoid. Bit-identical values per
    # cosine_with_norms' contract.
    normed = normed.withColumn("_norm", l2_norm(F.col("embedding")))
    lsh = BucketedRandomProjectionLSH(
        inputCol="_features",
        outputCol="_hashes",
        bucketLength=0.5,
        numHashTables=4,
        seed=42,
    )
    model = lsh.fit(normed)
    queries_df = normed.filter(F.col("vec_id") < 5)
    # approxSimilarityJoin on unit vectors: euclid^2 = 2 - 2*cosine,
    # so distance 1.3 ~ cosine 0.155 — the net must reach past the
    # top-10 sims of UNIFORM vectors (~0.3), the ANN-hardest case.
    joined = model.approxSimilarityJoin(
        queries_df, normed, 1.3, distCol="_dist"
    ).select(
        F.col("datasetA.vec_id").alias("qid"),
        F.col("datasetB.vec_id").alias("vec_id"),
        F.round(
            cosine_with_norms(
                F.col("datasetA.embedding"),
                F.col("datasetB.embedding"),
                F.col("datasetA._norm"),
                F.col("datasetB._norm"),
                dim,
            ),
            4,
        ).alias("sim"),
    )
    approx = topk_per_query(joined, K, tiebreak_col="vec_id")
    if exact is None:
        exact = exact_baseline(emb, _queries(emb), k=K)
    return recall_at_k(approx, exact, k=K).withColumn(
        "method", F.lit("mllib_brp_lsh_4tables")
    )


def _with_floor(report: DataFrame) -> DataFrame:
    floor = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in FLOORS.items() for x in kv]
        ),
        F.col("method"),
    )
    return report.withColumn("floor", floor).withColumn(
        "meets_floor", F.col("recall") >= F.col("floor")
    )


@query(
    "ann_recall_suite",
    doc="""All three ANN strategies (multi-probe hyperplane LSH, IVF,
    MLlib BRP-LSH) recall-certified against exact brute force. LSH
    banding / k-means internals aren't ANSI-SQL, so the driver-checked
    result is the self-asserting form: one (method, meets_floor) row
    per strategy, hash-compared against the expected all-true VALUES —
    a recall regression flips a boolean and fails the gate. The full
    numeric report (recall, floor, candidate economics) is
    ``ann_recall_detail``. The sublinear stand-ins for Pinecone's HNSW
    read path (controllers/conversationController.js:32-36).""",
    oracle="""
SELECT * FROM (VALUES
    ('hyperplane_lsh_24b6band_mp1', TRUE),
    ('ivf_kmeans_16c6probe', TRUE),
    ('mllib_brp_lsh_4tables', TRUE)
) AS t(method, meets_floor)
ORDER BY method
""",
)
def ann_recall_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _recall_report(spark)
        .select("method", "meets_floor")
        .orderBy("method")
    )


def _recall_report(spark: SparkSession) -> DataFrame:
    from ..operators.cache import scoped_cache

    # ONE exact brute-force baseline shared (and cached — union
    # branches don't dedupe identical subplans) across all three
    # method reports: the suite previously executed three full
    # corpus-scan baselines per run.
    emb = spark.table("embeddings")
    exact = scoped_cache(exact_baseline(emb, _queries(emb), k=K))
    report = (
        lsh_recall_report(spark, exact)
        .unionByName(ivf_recall_report(spark, exact))
        .unionByName(brp_recall_report(spark, exact))
    )
    return _with_floor(report)


@query(
    "ann_recall_detail",
    driver=False,
    doc="""The numeric form of ``ann_recall_suite``: (method, recall@10,
    floor, meets_floor) per strategy. Rows-only — the recall values are
    Spark-side measurements, not SQL-derivable.""",
    oracle=None,
)
def ann_recall_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_report(spark).orderBy("method")


@query(
    "ann_lsh_recall",
    driver=False,
    doc="""Random-hyperplane LSH ANN (24 bits, 6 bands, md5-seeded
    planes, 1-bit multi-probe) vs exact brute force: returns recall@10
    + candidate-set economics. The sublinear stand-in for Pinecone's
    HNSW (controllers/conversationController.js:32-36).""",
    oracle=None,
)
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_recall_report(spark)


#: ann_ivf_indexed_suite config: 2 queries x nprobe 6 probes at most 12
#: of the 16 cells, so `partitions_pruned` is TRUE by construction at
#: every fixture scale (and the per-query economics match the
#: `ivf_kmeans_16c6probe` recall family). Recall floor from
#: measurement on the uniform fixtures — the ANN-hardest case — with
#: the MLlib fit it replaced, sf0.001: 0.50, sf0.01: 0.95; floor =
#: smallest-fixture value minus a 0.10 margin. The driver k-means
#: measures 0.70 / 0.85 / 0.70 at sf0.001 / sf0.01 / sf0.1.
IDX_NLIST, IDX_NPROBE, IDX_FLOOR = 16, 6, 0.40


@query(
    "ann_ivf_indexed_suite",
    # Local tier since the continuation-session r8 rotation
    # (m12_quality_expectations promoted); the ANN family keeps driver
    # rows via ann_ivf_table_lifecycle (which exercises the same
    # indexed probe), ann_recall_suite, ann_pq_recall_suite and
    # ann_bq_hamming_topk.
    driver=False,
    doc="""IVF index + cell-pruned probe — the 100 TB read path
    (VERDICT r4 #3). Builds the IVF table (cell-tagged snapshot-log
    segments + centroid sidecar) in a scratch dir, then self-certifies
    three invariants as booleans the VALUES oracle pins: (a) recall@10
    of the pruned probe vs exact brute force meets the floor, (b) the
    pruned scan returns EXACTLY the rows an unpruned scan of the same
    index rescoring the same probe set returns (pruning loses nothing),
    and (c) the probe touched strictly fewer cells than nlist (pruning
    happened; 2 queries x nprobe 6 <= 12 < 16 cells by construction).
    The sublinear stand-in for Pinecone's serving index
    (controllers/conversationController.js:32-36) with the index
    server replaced by the table's cell-tagged segment list.""",
    oracle="""
SELECT 'ivf_indexed_16c6probe' AS method, TRUE AS meets_floor,
       TRUE AS pruned_matches_full, TRUE AS partitions_pruned
""",
)
def ann_ivf_indexed_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.ann import (
        _load_centroids,
        _matmul_rescore_probed,
        ivf_probe,
    )
    from ..operators.vector import collect_query_vectors
    from ..sources.transactional import read_table

    emb = spark.table("embeddings")
    q = emb.filter(F.col("vec_id") < 2)
    # Per-invocation scratch dir: concurrent runs on the same fixture
    # (pytest-xdist, parallel parity + bench) must never race a
    # delete against another run's scan.
    path = tempfile.mkdtemp(prefix="cvdb_ivf_index_")
    try:
        ivf_table_create(spark, emb, path, nlist=IDX_NLIST)

        pruned = ivf_table_topk(spark, path, q, k=K, nprobe=IDX_NPROBE)
        # Unpruned control: same index, same probe set, every cell's
        # segments scanned — identical rows prove pruning is lossless.
        probes = ivf_probe(
            _load_centroids(path), collect_query_vectors(q), IDX_NPROBE
        )
        full = _matmul_rescore_probed(
            read_table(spark, path), probes, K, "vec_id", "embedding"
        )
        n_diff = (
            full.exceptAll(pruned)
            .unionByName(pruned.exceptAll(full))
            .agg(F.count(F.lit(1)).alias("n_diff"))
        )
        n_probed_cells = len({cell for _, _, cell in probes})
        exact = exact_baseline(emb, q, k=K)
        report = recall_at_k(pruned, exact, k=K)
        rows = (
            report.crossJoin(n_diff)
            .select(
                F.lit("ivf_indexed_16c6probe").alias("method"),
                (F.col("recall") >= IDX_FLOOR).alias("meets_floor"),
                (F.col("n_diff") == 0).alias("pruned_matches_full"),
                F.lit(n_probed_cells < IDX_NLIST).alias(
                    "partitions_pruned"
                ),
            )
            .collect()
        )
    finally:
        # The report is evaluated eagerly above (1 row), so the scratch
        # index can be reclaimed before returning — the returned frame
        # is a literal and never re-reads the deleted files.
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        schema="method string, meets_floor boolean, "
        "pruned_matches_full boolean, partitions_pruned boolean",
    )


@query(
    "ann_ivf_table_lifecycle",
    doc="""The IVF index as a TRANSACTIONAL snapshot-log table
    (r6): create (cell-tagged segments + centroid sidecar) -> probe ->
    atomic global-identity upsert (vec 0's embedding MOVES to vec 7's
    neighborhood, vec 900000001 is new) -> re-probe -> time-travel.
    Self-certifies via a VALUES oracle: (a) the moved + new vectors
    rank at sim 1.0 under a probe of the moved vector, (b) no stale
    twin of the moved identity survives anywhere (global upsert, not
    cell-scoped), (c) the pre-upsert version still answers the
    original probe identically (snapshot isolation / time travel on
    the serving index). The Pinecone upsert-then-query lifecycle
    (models/embeddingmodel.js:4-12; conversationController.js:32-36)
    run ON the index, not beside it.""",
    oracle="""
SELECT 'ivf_table_8c2p' AS method, TRUE AS upsert_visible,
       TRUE AS no_stale_twin, TRUE AS time_travel_stable
""",
)
def ann_ivf_table_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.ann import ivf_table_upsert
    from ..sources.snapshot_log import latest_version
    from ..sources.transactional import read_table

    emb = spark.table("embeddings").select("vec_id", "embedding")
    t = tempfile.mkdtemp(prefix="cvdb_ivf_table_")
    try:
        ivf_table_create(spark, emb, t, nlist=8)
        v0 = latest_version(t)
        probe = emb.filter(F.col("vec_id") == 0)
        before = sorted(
            r["vec_id"]
            for r in ivf_table_topk(spark, t, probe, k=5, nprobe=2)
            .collect()
        )
        # The lifecycle demo moves fixture row vec_id=7; guard its
        # absence (degenerate corpora) with a named error instead of
        # a NoneType subscript.
        moved_row = emb.filter(F.col("vec_id") == 7).first()
        if moved_row is None or moved_row["embedding"] is None:
            raise ValueError(
                "ann_ivf_table_lifecycle: fixture row vec_id=7 with a "
                "non-NULL embedding is required by the lifecycle demo"
            )
        moved = [float(x) for x in moved_row["embedding"]]
        new_id = 900000001  # clear of every fixture id range
        ivf_table_upsert(
            spark,
            t,
            spark.createDataFrame(
                [(0, moved), (new_id, moved)],
                "vec_id long, embedding array<double>",
            ),
        )
        q = spark.createDataFrame(
            [(-1, moved)], "vec_id long, embedding array<double>"
        )
        top = ivf_table_topk(spark, t, q, k=3, nprobe=2).collect()
        upsert_visible = (
            [r["vec_id"] for r in top] == [0, 7, new_id]
            and all(r["sim"] == 1.0 for r in top)
        )
        tbl = read_table(spark, t)
        no_stale_twin = (
            tbl.filter(F.col("vec_id") == 0).count() == 1
            and tbl.filter(F.col("vec_id") == new_id).count() == 1
        )
        after_pinned = sorted(
            r["vec_id"]
            for r in ivf_table_topk(
                spark, t, probe, k=5, nprobe=2, version=v0
            ).collect()
        )
        time_travel_stable = after_pinned == before
    finally:
        shutil.rmtree(t, ignore_errors=True)
    return spark.createDataFrame(
        [("ivf_table_8c2p", upsert_visible, no_stale_twin,
          time_travel_stable)],
        "method string, upsert_visible boolean, no_stale_twin boolean, "
        "time_travel_stable boolean",
    )


@query(
    "ann_ivf_table_rag_e2e",
    driver=False,
    doc="""The reference's FULL loop on the transactional index:
    ingest (documents -> deterministic dense featurization, the
    engine's embed stand-in) -> ivf_table_create -> RAG-style top-k
    for a constant question vector -> live upsert of a new best-match
    document -> re-query. Self-certified booleans: (a) with
    nprobe=nlist the indexed read returns EXACTLY the brute-force
    top-k over the same features (the index layout loses nothing),
    (b) the upserted document becomes top-1 at sim 1.0 immediately
    (customTrainDataController.js ingest + conversationController.js
    query, one engine).""",
    oracle="""
SELECT TRUE AS index_matches_exact, TRUE AS upsert_becomes_top1
""",
)
def ann_ivf_table_rag_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import math
    import re as _re
    import shutil
    import tempfile
    from collections import Counter

    from ..functions.embedding import DEFAULT_DIM, featurize_dense
    from ..operators.ann import ivf_table_upsert
    from ..operators.vector import collect_query_vectors, matmul_topk

    docs = spark.table("documents").filter(F.col("doc_id") < 500)
    emb = featurize_dense(docs, id_col="doc_id")
    question = "spark query join filter window data"
    qtf = Counter(
        int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % DEFAULT_DIM
        for t in _re.findall("[a-z0-9]+", question.lower())
    )
    qnorm = math.sqrt(sum(v * v for v in qtf.values()))
    qvec = [
        qtf.get(i, 0) / qnorm if qnorm else 0.0
        for i in range(DEFAULT_DIM)
    ]
    q_df = spark.createDataFrame(
        [(-1, qvec)], "doc_id long, embedding array<double>"
    )
    t = tempfile.mkdtemp(prefix="cvdb_ivf_rag_")
    try:
        ivf_table_create(spark, emb, t, nlist=8, id_col="doc_id")
        approx = sorted(
            (r["doc_id"], r["sim"])
            for r in ivf_table_topk(
                spark, t, q_df, k=5, nprobe=8, id_col="doc_id"
            ).collect()
        )
        exact = sorted(
            (r["doc_id"], r["sim"])
            for r in matmul_topk(
                emb, collect_query_vectors(q_df, id_col="doc_id"),
                k=5, id_col="doc_id",
            ).collect()
        )
        index_matches_exact = approx == exact
        new_id = 900000002
        ivf_table_upsert(
            spark,
            t,
            spark.createDataFrame(
                [(new_id, qvec)], "doc_id long, embedding array<double>"
            ),
            id_col="doc_id",
        )
        top1 = ivf_table_topk(
            spark, t, q_df, k=1, nprobe=8, id_col="doc_id"
        ).first()
        upsert_becomes_top1 = (
            top1["doc_id"] == new_id and top1["sim"] == 1.0
        )
    finally:
        shutil.rmtree(t, ignore_errors=True)
    return spark.createDataFrame(
        [(index_matches_exact, upsert_becomes_top1)],
        "index_matches_exact boolean, upsert_becomes_top1 boolean",
    )


@query(
    "ann_ivf_recall",
    driver=False,
    doc="""IVF ANN (k-means nlist=16 cells, nprobe=6, seed 42) vs exact:
    returns recall@10. The index is the transactional IVF table, whose
    segments are tagged by cell, so probing prunes the segment list.""",
    oracle=None,
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_recall_report(spark)


#: ann_pq_recall_suite config. Uniform fixtures are the PQ-hardest
#: case (no cluster structure, quantization error dominates);
#: measured recall@10 with m=16 subspaces x 32 centroids + exact
#: refine of the ADC top-100: sf0.001 1.0, sf0.01 1.0, sf0.1 0.94.
#: Floor = worst measurement minus a 0.14 margin (the IDX_FLOOR
#: convention). The
#: 64-d float64 fixture vector is 512 B; its code is 16 B -> 32x.
PQ_M, PQ_KSUB, PQ_REFINE, PQ_FLOOR = 16, 32, 100, 0.80


@query(
    "ann_pq_recall_suite",
    # Driver tier since r8 (rotation: u6_intersect_except to local) —
    # the PQ family's gate row.
    doc="""Product-quantization search (operators/pq.py: per-subspace
    codebooks, ADC lookup-table scan over m-byte codes, exact-cosine
    refine of the ADC top-100) recall-certified against exact brute
    force — the memory-side scale path: IVF bounds what a query READS,
    PQ bounds what the index WEIGHS (the 64-d fixture vector is 512 B
    raw, 16 B coded — 32x; at the reference's 1536-d it is 12 KB vs
    ~100 B). Codebook/k-means internals aren't ANSI-SQL, so like
    ann_recall_suite the driver-checked form is self-asserting
    (method, meets_floor) rows against all-true VALUES; the
    compression row pins the static size arithmetic.""",
    oracle="""
SELECT * FROM (VALUES
    ('pq_adc_m16x32_refine100', TRUE),
    ('pq_code_32x_smaller', TRUE)
) AS t(method, meets_floor)
ORDER BY method
""",
)
def ann_pq_recall_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import pq_encode, pq_fit, pq_topk

    emb = spark.table("embeddings")
    q = _queries(emb)
    books = pq_fit(emb, m=PQ_M, k=PQ_KSUB, seed=42)
    codes = pq_encode(emb, books)
    approx = pq_topk(
        emb, codes, books, q, k=K, refine=PQ_REFINE
    )
    exact = exact_baseline(emb, q, k=K)
    rec = recall_at_k(approx, exact, k=K).select(
        F.lit("pq_adc_m16x32_refine100").alias("method"),
        (F.col("recall") >= PQ_FLOOR).alias("meets_floor"),
    )
    dim = majority_dim(emb, "embedding")
    compress = spark.createDataFrame(
        [("pq_code_32x_smaller", (dim * 8) // PQ_M == 32)],
        "method string, meets_floor boolean",
    )
    return rec.unionByName(compress).orderBy("method")


@query(
    "ann_bq_hamming_topk",
    # Driver tier since r8 (rotation: f12 to local): the one
    # approximate-search row whose WHOLE pipeline is value-parity
    # checked, not self-certified.
    doc="""Binary (sign) quantization search (operators/bq.py): 1-bit
    codes packed into longs JVM-side, Hamming candidate cut at
    k*oversample via bit_count(xor), exact cosine refine — the
    compressed-SCAN family member next to IVF (read pruning) and PQ
    (memory compression); same serving surface as Pinecone's read
    path (controllers/conversationController.js:32-36). Encoding is
    stateless (no trained model), so unlike the LSH/k-means variants
    the FULL approximate pipeline is value-parity checked: the oracle
    replicates sign-bit Hamming rank, the deterministic candidate
    cut, and the rounded cosine refine in ANSI SQL.""",
    oracle="""
WITH q AS (
    SELECT vec_id AS qid, embedding AS qe
    FROM embeddings WHERE vec_id < 5
),
ham AS (
    SELECT q.qid, c.vec_id,
           len(list_filter(list_zip(q.qe, c.embedding),
               p -> (p[1] > 0) != (p[2] > 0))) AS ham
    FROM q CROSS JOIN embeddings c
),
cand AS (
    SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY ham ASC, vec_id) AS rn
        FROM ham
    ) WHERE rn <= 40
),
resc AS (
    SELECT cand.qid, cand.vec_id,
           round(CASE WHEN list_inner_product(q.qe::DOUBLE[], q.qe::DOUBLE[]) = 0
                 OR list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]) = 0 THEN 0.0
            ELSE list_cosine_similarity(q.qe::DOUBLE[], c.embedding::DOUBLE[]) END, 4) + 0 AS sim
    FROM cand
    JOIN q ON q.qid = cand.qid
    JOIN embeddings c ON c.vec_id = cand.vec_id
)
SELECT qid, vec_id, sim, rn AS rank FROM (
    SELECT qid, vec_id, sim,
           row_number() OVER (PARTITION BY qid
                              ORDER BY sim DESC, vec_id) AS rn
    FROM resc
) WHERE rn <= 10
ORDER BY qid, rank
""",
)
def ann_bq_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bq import bq_topk

    emb = spark.table("embeddings")
    return bq_topk(
        emb, _queries(emb), k=K, dim=EMB_DIM, oversample=4
    ).orderBy("qid", "rank")
