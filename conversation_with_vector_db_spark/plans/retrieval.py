"""Hybrid retrieval queries: BM25 lexical ranking and reciprocal-rank
fusion with the cosine ranking — the production-RAG read path the
reference's embedding-only retrieval (reference:
controllers/conversationController.js:32-36) is the vector half of.

Both queries are pure DataFrame algebra over the fixture tables
(documents for the lexical half, embeddings for the vector half —
ids align 1:1 by fixture contract) and carry full value-parity
DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from .registry import query, scratch_dir

#: Fixed query terms for the lexical half — present at mid-range
#: document frequency in the fixture vocabulary, so idf is
#: discriminative at every sf.
QUERY_TERMS = ("hash", "merge", "window")

_BM25_CTE = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term,
           len(string_split(text, ' ')) AS dl
    FROM documents
),
stats AS (
    SELECT count(*) AS n_docs, avg(dl) AS avgdl
    FROM (SELECT doc_id, any_value(dl) AS dl FROM tok GROUP BY doc_id)
),
tf AS (
    SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
    FROM tok WHERE term IN ('hash', 'merge', 'window')
    GROUP BY doc_id, term
),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
bm AS (
    SELECT tf.doc_id,
           sum(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))
           ) AS bm25
    FROM tf JOIN df USING (term) CROSS JOIN stats
    GROUP BY tf.doc_id
)
"""


def _bm25_ranked(spark: SparkSession) -> DataFrame:
    from ..operators.retrieval import bm25_scores

    docs = spark.table("documents")
    scored = bm25_scores(docs, QUERY_TERMS)
    w = Window.orderBy(F.desc(F.round("bm25", 4)), "doc_id")
    return scored.select(
        "doc_id",
        F.round("bm25", 4).alias("bm25"),
        F.row_number().over(w).alias("rank"),
    )


@query(
    "text_bm25_topk",
    driver=False,
    doc="""Okapi BM25 top-15 for a fixed 3-term query over the
    documents table — the lexical ranker of hybrid search
    (operators/retrieval.py). Tokenize-explode with the term filter
    pushed against the explode (only query-term rows ever shuffle),
    one (doc, term) tf groupBy, broadcast df + corpus stats. Pure
    built-in functions; the oracle recomputes the identical formula.""",
    oracle=_BM25_CTE
    + """
SELECT doc_id, round(bm25, 4) AS bm25, rn AS rank FROM (
    SELECT doc_id, bm25,
           row_number() OVER (ORDER BY round(bm25, 4) DESC, doc_id) AS rn
    FROM bm
) WHERE rn <= 15
ORDER BY rank
""",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _bm25_ranked(spark)
        .filter(F.col("rank") <= 15)
        .orderBy("rank")
    )


@query(
    "v8_hybrid_rrf",
    # Driver tier since r8 (rotation: x5 to local): the composed
    # two-ranker hybrid read path.
    doc="""Hybrid search: reciprocal-rank fusion (Cormack et al. 2009,
    k=60) of the BM25 top-50 over documents and the cosine top-50 of
    embedding 0 over the embeddings table (ids align 1:1 by fixture
    contract) — what production RAG runs where the reference runs
    cosine alone. Fusion is integer-rank arithmetic
    (sum 1/(60+rank)), bit-exact across engines; the oracle re-runs
    both rankers and the fusion in ANSI SQL.""",
    oracle=_BM25_CTE
    + """,
bm_rank AS (
    SELECT doc_id, row_number() OVER (
        ORDER BY round(bm25, 4) DESC, doc_id) AS rank
    FROM bm QUALIFY rank <= 50
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
cos_rank AS (
    SELECT vec_id AS doc_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS rank
    FROM (
        SELECT c.vec_id,
               round(CASE WHEN list_inner_product(q.qe::DOUBLE[], q.qe::DOUBLE[]) = 0
                 OR list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]) = 0 THEN 0.0
            ELSE list_cosine_similarity(q.qe::DOUBLE[], c.embedding::DOUBLE[]) END, 4) + 0 AS sim
        FROM embeddings c CROSS JOIN q
    ) QUALIFY rank <= 50
),
fused AS (
    SELECT doc_id, sum(1.0 / (60.0 + CAST(rank AS DOUBLE))) AS rrf
    FROM (SELECT * FROM bm_rank UNION ALL SELECT * FROM cos_rank)
    GROUP BY doc_id
)
SELECT doc_id, round(rrf, 6) AS rrf, rn AS rank FROM (
    SELECT doc_id, rrf,
           row_number() OVER (ORDER BY rrf DESC, doc_id) AS rn
    FROM fused
) WHERE rn <= 10
ORDER BY rank
""",
)
def v8_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import rrf_fuse
    from ..operators.vector import exact_topk
    from .vector import _vec_bytes

    bm = _bm25_ranked(spark).filter(F.col("rank") <= 50)
    emb = spark.table("embeddings")
    cos = (
        exact_topk(
            emb,
            emb.filter(F.col("vec_id") == 0),
            k=50,
            corpus_bytes=_vec_bytes(sf_dir),
        )
        .select(F.col("vec_id").alias("doc_id"), "rank")
    )
    fused = rrf_fuse([bm.select("doc_id", "rank"), cos])
    w = Window.orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.select(
            "doc_id",
            F.round("rrf", 6).alias("rrf"),
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= 10)
        .orderBy("rank")
    )


@query(
    "v9_hybrid_mmr_pipeline",
    driver=False,
    doc="""The COMPOSED production read path: hybrid retrieval
    (BM25 + cosine fused by RRF) feeding MMR context
    diversification — retrieve top-50 each way, fuse, keep the
    fused top-20, re-rank to 5 diverse context chunks. Every stage
    reuses an independently parity-verified operator
    (text_bm25_topk / v8_hybrid_rrf / v6_mmr_rerank); this query
    checks their COMPOSITION end to end against one oracle that
    re-runs the whole pipeline in SQL (BM25 CTEs + rank fusion +
    recursive-CTE greedy MMR over the fused candidates' embeddings,
    relevance = the fused RRF score).""",
    # The greedy-selection CTE is recursive; DuckDB requires the
    # RECURSIVE keyword on the WITH that introduces the chain.
    oracle=_BM25_CTE.replace("WITH tok", "WITH RECURSIVE tok", 1)
    + """,
bm_rank AS (
    SELECT doc_id, row_number() OVER (
        ORDER BY round(bm25, 4) DESC, doc_id) AS rank
    FROM bm QUALIFY rank <= 50
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
cos_rank AS (
    SELECT vec_id AS doc_id,
           row_number() OVER (ORDER BY sim DESC, vec_id) AS rank
    FROM (
        SELECT c.vec_id,
               round(CASE WHEN list_inner_product(q.qe::DOUBLE[], q.qe::DOUBLE[]) = 0
                 OR list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]) = 0 THEN 0.0
            ELSE list_cosine_similarity(q.qe::DOUBLE[], c.embedding::DOUBLE[]) END, 4) + 0 AS sim
        FROM embeddings c CROSS JOIN q
    ) QUALIFY rank <= 50
),
fused AS (
    SELECT doc_id, sum(1.0 / (60.0 + CAST(rank AS DOUBLE))) AS rrf
    FROM (SELECT * FROM bm_rank UNION ALL SELECT * FROM cos_rank)
    GROUP BY doc_id
),
cand AS (
    SELECT f.doc_id, round(f.rrf, 6) AS rel, e.embedding AS ce
    FROM (
        SELECT doc_id, rrf, row_number() OVER (
            ORDER BY rrf DESC, doc_id) AS rn
        FROM fused
    ) f JOIN embeddings e ON e.vec_id = f.doc_id
    WHERE f.rn <= 20
),
dd AS (
    SELECT a.doc_id AS a, b.doc_id AS b,
           round(CASE WHEN list_inner_product(a.ce::DOUBLE[], a.ce::DOUBLE[]) = 0
                 OR list_inner_product(b.ce::DOUBLE[], b.ce::DOUBLE[]) = 0 THEN 0.0
            ELSE list_cosine_similarity(a.ce::DOUBLE[], b.ce::DOUBLE[]) END, 4) + 0 AS sim
    FROM cand a JOIN cand b ON a.doc_id <> b.doc_id
),
sel AS (
    SELECT [doc_id] AS picked, 1 AS step
    FROM (SELECT doc_id, row_number() OVER (
              ORDER BY rel DESC, doc_id) rn FROM cand) t
    WHERE rn = 1
    UNION ALL
    SELECT list_append(s.picked, p.doc_id), s.step + 1
    FROM sel s JOIN LATERAL (
        SELECT c.doc_id
        FROM cand c
        WHERE NOT list_contains(s.picked, c.doc_id)
        ORDER BY 0.7 * c.rel - 0.3 * (
            SELECT max(dd.sim) FROM dd
            WHERE dd.a = c.doc_id AND list_contains(s.picked, dd.b)
        ) DESC, c.doc_id
        LIMIT 1
    ) p ON TRUE
    WHERE s.step < 5
)
SELECT CAST(u.x AS BIGINT) AS doc_id, CAST(u.i AS INT) AS mmr_rank
FROM (SELECT picked FROM sel WHERE step = 5) f,
     LATERAL (SELECT unnest(picked) AS x,
                     generate_subscripts(picked, 1) AS i) u
ORDER BY mmr_rank
""",
)
def v9_hybrid_mmr_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rerank import mmr_rerank
    from ..operators.retrieval import rrf_fuse
    from ..operators.vector import exact_topk
    from .vector import _vec_bytes

    bm = _bm25_ranked(spark).filter(F.col("rank") <= 50)
    emb = spark.table("embeddings")
    cos = exact_topk(
        emb,
        emb.filter(F.col("vec_id") == 0),
        k=50,
        corpus_bytes=_vec_bytes(sf_dir),
    ).select(F.col("vec_id").alias("doc_id"), "rank")
    fused = rrf_fuse([bm.select("doc_id", "rank"), cos])
    w = Window.orderBy(F.desc("rrf"), "doc_id")
    cand = (
        fused.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", F.round("rrf", 6).alias("rel"))
        .join(
            emb.select(
                F.col("vec_id").alias("doc_id"), "embedding"
            ),
            "doc_id",
        )
        .select(F.lit(0).cast("long").alias("qid"), "doc_id",
                "rel", "embedding")
    )
    return (
        mmr_rerank(cand, k=5, lambda_=0.7, id_col="doc_id",
                   rel_col="rel")
        .select("doc_id", "mmr_rank")
        .orderBy("mmr_rank")
    )


@query(
    "text_bm25_indexed_suite",
    driver=False,
    doc="""Write-time inverted index for the lexical ranker
    (operators/retrieval.bm25_write_index): posting lists partitioned
    by crc32 term bucket, so a q-term query PLAN-time-prunes the scan
    to at most q of the 64 bucket directories — the 100 TB lexical
    read path (the IVF table's pay-once, probe-pruned discipline
    applied to text).
    Self-certifies two invariants as booleans the VALUES oracle pins:
    (a) the indexed scores equal the inline bm25_scores on the same
    corpus (to 1e-9; the integer tf/df/dl are identical by
    construction, the double folds differ only in partition order),
    (b) the postings scan carries the exact bucket IN-list as a
    parquet PartitionFilter.""",
    oracle="""
SELECT * FROM (VALUES
    ('bm25_indexed_matches_inline', TRUE),
    ('postings_scan_partition_pruned', TRUE)
) AS t(invariant, ok)
ORDER BY invariant
""",
)
def text_bm25_indexed_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    import zlib

    from ..operators.retrieval import (
        N_TERM_BUCKETS,
        bm25_scores,
        bm25_scores_indexed,
        bm25_write_index,
    )

    path = scratch_dir("lexidx")

    docs = spark.table("documents")
    bm25_write_index(docs, path)
    indexed_df = bm25_scores_indexed(spark, path, QUERY_TERMS)

    # 9-decimal comparison: tf/df/dl are integer-identical by
    # construction, but avgdl and the per-doc term sum are double
    # folds whose partition order differs between the write run and
    # the query run — equal to 1e-9, not to the last ulp.
    inline = {
        r["doc_id"]: round(r["bm25"], 9)
        for r in bm25_scores(docs, QUERY_TERMS).collect()
    }
    indexed = {
        r["doc_id"]: round(r["bm25"], 9) for r in indexed_df.collect()
    }
    matches = indexed == inline

    want = sorted(
        zlib.crc32(t.encode()) % N_TERM_BUCKETS for t in QUERY_TERMS
    )
    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    pruned = f"IN ({','.join(str(b) for b in want)})" in plan

    return spark.createDataFrame(
        [
            ("bm25_indexed_matches_inline", bool(matches)),
            ("postings_scan_partition_pruned", bool(pruned)),
        ],
        "invariant string, ok boolean",
    ).orderBy("invariant")
