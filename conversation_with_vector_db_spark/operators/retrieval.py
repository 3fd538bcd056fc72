"""Keyword retrieval (BM25) and rank fusion (RRF) — the lexical half
of hybrid search.

The reference retrieves context purely by embedding cosine
(reference: controllers/conversationController.js:32-36); production
RAG pairs that with a lexical ranker and fuses the two lists, because
embeddings miss exact identifiers/rare terms and BM25 misses
paraphrase. Both halves here are pure DataFrame algebra — no UDFs of
any kind — and deterministic, so the registry queries carry full
value-parity oracles.

**BM25** (Robertson & Spärck Jones; the Okapi form):

    score(d, q) = sum_t idf(t) * tf * (k1+1)
                  / (tf + k1 * (1 - b + b * dl/avgdl))
    idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)

Plan shape at scale: tokenize-explode, filter to the query's terms
IMMEDIATELY (the explode's output never shuffles at corpus width —
only rows matching query terms survive, ~|terms|/|vocab| of the
stream), one groupBy (doc, term) for tf, a tiny |terms|-row df
aggregate broadcast back, map-side sum per doc. Corpus statistics
(N, avgdl) are one agg row riding a broadcast 1 x 1 cross join.

**RRF** (Cormack et al. 2009): fused = sum_r 1/(rrf_k + rank_r),
computed over the outer union of the input rankings. Rank arithmetic
only — integer ranks into exact double reciprocals — so fusion parity
is bit-exact across engines.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75
RRF_K = 60


def bm25_scores(
    docs: DataFrame,
    terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """(id, bm25) for every document matching >=1 query term.
    Whitespace tokenization (the fixture contract; swap the split
    pattern for a real analyzer upstream)."""
    toks = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col), toks.alias("_toks"), F.size(toks).alias("dl")
    )
    stats = F.broadcast(
        base.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("dl").alias("avgdl"),
        )
    )
    tf = (
        base.select(
            id_col, "dl", F.explode("_toks").alias("term")
        )
        .filter(F.col("term").isin(list(terms)))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    df = F.broadcast(
        tf.groupBy("term").agg(
            F.count_distinct(id_col).alias("df")
        )
    )
    scored = (
        tf.join(df, "term")
        .crossJoin(stats)
        .select(
            id_col,
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * F.col("tf")
                * F.lit(k1 + 1.0)
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * F.col("dl") / F.col("avgdl")
                    )
                )
            ).alias("_part"),
        )
    )
    return scored.groupBy(id_col).agg(F.sum("_part").alias("bm25"))


def rrf_fuse(
    rankings: Sequence[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Reciprocal-rank fusion over any number of (id, rank) lists:
    ``sum(1 / (rrf_k + rank))`` across the lists each id appears in
    (absent list contributes 0 — the standard union semantics).
    Returns (id, rrf) — exact rational-in-double arithmetic."""
    contribs = [
        r.select(
            F.col(id_col),
            (
                F.lit(1.0)
                / (F.lit(float(rrf_k)) + F.col(rank_col).cast("double"))
            ).alias("_c"),
        )
        for r in rankings
    ]
    unioned = contribs[0]
    for c in contribs[1:]:
        unioned = unioned.unionByName(c)
    return unioned.groupBy(id_col).agg(F.sum("_c").alias("rrf"))


#: Term-hash partition count for the write-time inverted index. At
#: 100 TB this is the pruning unit: a q-term query opens at most q
#: bucket directories regardless of vocabulary size.
N_TERM_BUCKETS = 64


def _term_bucket(term: Column) -> Column:
    """crc32(term) % N_TERM_BUCKETS — deterministic across sessions
    (and identical to zlib.crc32 driver-side, so the query planner can
    name the buckets to prune without touching the index)."""
    return F.pmod(
        F.crc32(term.cast("binary")), F.lit(N_TERM_BUCKETS)
    ).cast("int")


def bm25_write_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Write-time inverted index, paid once so that each query's scan
    prunes to its own terms (the IVF table's read discipline applied
    to text):

    * ``<path>/postings/bucket=<b>/`` — (term, id, tf, dl) posting
      rows, partitioned by term hash bucket: a query reads ONLY its
      terms' buckets (parquet partition pruning), never the corpus;
    * ``<path>/df/bucket=<b>/``       — (term, df) per term, same
      pruning;
    * ``<path>/stats/``               — the 1-row (n_docs, avgdl).

    One tokenize scan feeds everything; df folds from the postings
    aggregate, not a second pass over text.
    """
    # Explicit empty guard: writing a 0-row partitioned index leaves
    # schema-less parquet dirs the query side cannot re-read
    # (UNABLE_TO_INFER_SCHEMA) — fail at build time with the real
    # reason instead.
    if docs.isEmpty():
        raise ValueError(
            "bm25_write_index: empty corpus — refusing to write an "
            "unreadable empty index; callers should short-circuit "
            "the no-data case"
        )
    toks = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col), toks.alias("_toks"), F.size(toks).alias("dl")
    )
    postings = (
        base.select(id_col, "dl", F.explode("_toks").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
        .withColumn("bucket", _term_bucket(F.col("term")))
    )
    postings.write.partitionBy("bucket").mode("overwrite").parquet(
        f"{path}/postings"
    )
    # df folds from the just-written postings (re-read: cheaper than
    # recomputing the tokenize, and the fold prunes to nothing).
    (
        postings.sparkSession.read.parquet(f"{path}/postings")
        .groupBy("term")
        .agg(F.count_distinct(id_col).alias("df"))
        .withColumn("bucket", _term_bucket(F.col("term")))
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(f"{path}/df")
    )
    base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    ).write.mode("overwrite").parquet(f"{path}/stats")


def bm25_scores_indexed(
    spark,
    path: str,
    terms: Sequence[str],
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """BM25 over the :func:`bm25_write_index` layout. The bucket set
    is computed driver-side (zlib.crc32 == Spark crc32, pinned by the
    write path), so partition pruning happens at PLAN time: the scan
    lists at most ``len(terms)`` bucket directories. Scores are
    bit-identical to :func:`bm25_scores` on the same corpus (same
    formula over the same tf/df/dl numbers; pinned by test)."""
    import zlib

    buckets = sorted(
        {zlib.crc32(t.encode("utf-8")) % N_TERM_BUCKETS for t in terms}
    )
    postings = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(list(terms)))
    )
    df = F.broadcast(
        spark.read.parquet(f"{path}/df")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(list(terms)))
        .select("term", "df")
    )
    stats = F.broadcast(spark.read.parquet(f"{path}/stats"))
    scored = (
        postings.join(df, "term")
        .crossJoin(stats)
        .select(
            id_col,
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * F.col("tf")
                * F.lit(k1 + 1.0)
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * F.col("dl") / F.col("avgdl")
                    )
                )
            ).alias("_part"),
        )
    )
    return scored.groupBy(id_col).agg(F.sum("_part").alias("bm25"))
