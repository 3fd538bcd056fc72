"""Binary (sign) quantization: 1-bit-per-dimension compressed cosine
search, entirely JVM-side.

The reference serves cosine top-k through a managed vector index
(reference: controllers/conversationController.js:32-36); this is the
1-bit compressed-scan family member alongside IVF (:mod:`.ann`) and
product quantization (:mod:`.pq`):

* **Encode**: bit ``i`` of a vector's code is ``v[i] > 0`` — sign
  quantization, i.e. SimHash (Charikar 2002) with axis-aligned
  hyperplanes. A ``dim``-d float vector becomes ``ceil(dim/63)``
  longs: 64-d -> 2 words (16 bytes vs 256, 16x), 1536-d -> 25 words
  (200 bytes vs 6 KB, ~30x).
* **Scan**: Hamming distance = ``sum(bit_count(xor(word pairs)))`` —
  built-in long arithmetic, no Python anywhere in the candidate
  stage. ``E[hamming] = dim * theta / pi`` for angle theta, so
  Hamming rank order estimates cosine rank order.
* **Refine**: exact cosine (the unrolled pair kernel,
  :func:`.vector.dot_unrolled`) over the oversampled candidate set
  only.

Packing uses 63 bits per word with a multiply-accumulate fold
(``acc*2 + bit``) instead of 64-bit shifts: the fold peaks at
``2^63 - 1 == Long.MAX``, so it can never overflow — the driver's
session may run with ``spark.sql.ansi.enabled=true`` (Spark 4's
default), where a 64-bit top-bit overflow would THROW rather than
wrap. Everything here is higher-order functions over arrays: JVM
expression eval, no serialization boundary, scan cost proportional to
code bytes (1/32 of the raw column) not vector bytes.

Unlike IVF/PQ there is NO trained model — encoding is stateless and
deterministic — so the whole pipeline is reproducible in ANSI SQL and
the registry query carries a full value-parity DuckDB oracle (rare
for an approximate method; LSH/KMeans variants self-certify recall
instead).

At cluster scale the candidate stage composes with the IVF layouts in
:mod:`.ann`: store codes cell-partitioned next to the vectors and the
Hamming scan prunes to probed cells like the PQ code scan does.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .vector import (
    cosine_with_norms,
    l2_norm,
    majority_dim,
    topk_per_query,
)

#: Bits packed per long word — 63, not 64: the MSB-first fold
#: ``acc*2 + bit`` stays within signed-long range (max 2^63 - 1) so it
#: is ANSI-overflow-safe. One extra word per 1536-d vector is noise.
WORD_BITS = 63


def bq_nwords(dim: int) -> int:
    return math.ceil(dim / WORD_BITS)


def bq_code(vec_col: Column, dim: int) -> Column:
    """Sign-quantization code: array of ``bq_nwords(dim)`` longs.

    Word ``w`` folds elements ``[w*63, w*63+63)`` MSB-first; a short
    tail slice just folds fewer bits (codes compare equal-length
    because every row of a column shares ``dim``).
    """

    def word(w: int) -> Column:
        return F.aggregate(
            F.slice(vec_col, w * WORD_BITS + 1, WORD_BITS),
            F.lit(0).cast("long"),
            lambda acc, x: acc * F.lit(2).cast("long")
            + F.when(x > F.lit(0.0), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long"),
        )

    return F.array(*[word(w) for w in range(bq_nwords(dim))])


def bq_hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two packed codes: popcount of the
    wordwise XOR, folded to one long. Pure JVM long arithmetic."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def bq_encode(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "bq_code",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, code) projection — what a write-time layout would persist
    next to (or instead of) the raw vectors."""
    return df.select(
        id_col, *keep_cols, bq_code(F.col(vec_col), dim).alias(out_col)
    )


def bq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int | None = None,
    oversample: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Compressed-scan cosine top-k: Hamming-ranked candidate cut at
    ``k*oversample`` per query, exact cosine refine, top-k.
    Returns (qid, vec_id, sim, rank) — deterministic (Hamming ties cut
    by id), hence oracle-reproducible.

    Shape notes for the 100 TB read path:

    * the scan touches ONLY the packed code column (1/32 of the raw
      vector bytes); with column pruning the parquet reader never
      materializes the float arrays for non-candidates;
    * the query side is broadcast (tiny by contract), so the
      candidate stage is scan + broadcast-join + map-side
      WindowGroupLimit — the shuffle carries ~partitions * k'
      candidate ids per query, never the corpus;
    * vectors re-attach AFTER the cut (semi-join-then-fetch, the
      :func:`..ann.hyperplane_lsh_topk` discipline): only
      ``k*oversample`` rows per query ever carry a float array.

    ``oversample`` trades recall for refine cost; the fixed cut means
    recall decays as the corpus outgrows it — at scale pair it with
    IVF cell pruning (codes partitioned by cell) rather than a global
    cut, exactly like the PQ composition in :mod:`.pq`.

    ``dim`` defaults to the corpus's :func:`..vector.majority_dim`.
    """
    if dim is None:
        dim = majority_dim(corpus, vec_col)
    if dim is None:
        raise ValueError("bq_topk: empty corpus")
    n_cand = k * oversample

    codes = bq_encode(corpus, dim, vec_col, id_col)
    qcodes = bq_encode(queries, dim, vec_col, id_col).select(
        F.col(id_col).alias("qid"), F.col("bq_code").alias("_qcode")
    )
    scored = codes.join(F.broadcast(qcodes)).select(
        "qid",
        id_col,
        (
            -bq_hamming(F.col("bq_code"), F.col("_qcode"))
        ).alias("_nham"),
    )
    cands = topk_per_query(
        scored, n_cand, score_col="_nham", tiebreak_col=id_col
    ).select("qid", id_col)

    q_vecs = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    c_vecs = corpus.select(
        id_col, vec_col, l2_norm(F.col(vec_col)).alias("_cn")
    )
    rescored = (
        cands.join(c_vecs, id_col)
        .join(F.broadcast(q_vecs), "qid")
        .select(
            "qid",
            id_col,
            F.round(
                cosine_with_norms(
                    F.col("_qvec"),
                    F.col(vec_col),
                    F.col("_qn"),
                    F.col("_cn"),
                    dim,
                ),
                4,
            ).alias("sim"),
        )
    )
    return topk_per_query(rescored, k, tiebreak_col=id_col).select(
        "qid", id_col, "sim", "rank"
    )


def bq_write_index(
    corpus: DataFrame,
    path: str,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """The production layout: persist the packed codes NEXT TO the raw
    vectors so the Hamming scan never re-encodes —

    * ``<path>/data/``  — (id, vector): touched only by the refine
      join (~k*oversample rows per query);
    * ``<path>/codes/`` — (id, code): the scan path, ~1/32 of the
      data bytes at 1536-d.

    No fit, no model, no sidecar: unlike IVF/PQ the write is two
    projections of one scan (measured in BENCH_ANN_1536D.json —
    the in-plan encode dominated bq_topk's wall at 10^6; this
    removes it). Composes with cell partitioning exactly like
    :func:`..pq.pq_write_index` when IVF pruning is also wanted.
    ``dim`` defaults to the corpus's :func:`..vector.majority_dim`.
    """
    if dim is None:
        dim = majority_dim(corpus, vec_col)
    if dim is None:
        raise ValueError("bq_write_index: empty corpus")
    corpus.select(id_col, vec_col).write.mode("overwrite").parquet(
        f"{path}/data"
    )
    bq_encode(corpus, dim, vec_col, id_col).write.mode(
        "overwrite"
    ).parquet(f"{path}/codes")


def bq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    oversample: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Compressed-scan top-k over a :func:`bq_write_index` layout:
    identical semantics (and results — pinned by test) to
    :func:`bq_topk`, but the candidate stage reads the persisted
    code column only; raw vectors load solely for the refine join.
    The dimension is the stored vectors' :func:`..vector.majority_dim`
    — the rule :func:`bq_write_index` encoded the codes with."""
    codes = spark.read.parquet(f"{path}/codes")
    data = spark.read.parquet(f"{path}/data")
    dim = majority_dim(data, vec_col)
    if dim is None:
        raise ValueError(f"bq_topk_indexed: empty index at {path}")
    n_cand = k * oversample

    qcodes = bq_encode(queries, dim, vec_col, id_col).select(
        F.col(id_col).alias("qid"), F.col("bq_code").alias("_qcode")
    )
    scored = codes.join(F.broadcast(qcodes)).select(
        "qid",
        id_col,
        (-bq_hamming(F.col("bq_code"), F.col("_qcode"))).alias("_nham"),
    )
    cands = topk_per_query(
        scored, n_cand, score_col="_nham", tiebreak_col=id_col
    ).select("qid", id_col)
    q_vecs = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    c_vecs = data.select(
        id_col, vec_col, l2_norm(F.col(vec_col)).alias("_cn")
    )
    rescored = (
        cands.join(c_vecs, id_col)
        .join(F.broadcast(q_vecs), "qid")
        .select(
            "qid",
            id_col,
            F.round(
                cosine_with_norms(
                    F.col("_qvec"),
                    F.col(vec_col),
                    F.col("_qn"),
                    F.col("_cn"),
                    dim,
                ),
                4,
            ).alias("sim"),
        )
    )
    return topk_per_query(rescored, k, tiebreak_col=id_col).select(
        "qid", id_col, "sim", "rank"
    )
