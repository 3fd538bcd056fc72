"""Scalar quantization (SQ8): per-dimension symmetric int8 compression
of embedding columns, fully JVM-side and exactly SQL-reproducible.

The third member of the quantization family (:mod:`.pq` trains
codebooks, :mod:`.bq` keeps one bit): SQ8 keeps 8 bits per dimension
scaled by the corpus' per-dimension dynamic range — 4x smaller than
float32 at ~0.99+ rank fidelity, the FAISS ``SQ8`` / Lucene
``int8_hnsw`` storage trade.

* **Fit** = one aggregation pass: ``s_i = max(abs(v_i))`` per
  dimension — partial-aggregated map-side, no shuffle of data rows,
  one tiny (1 x dim) result. No training, no iteration.
* **Encode**: ``code_i = floor(127 * v_i / s_i + 0.5)`` (round-half-up
  in exact double arithmetic; NOT engine-dependent banker's
  ``round``), clamped implicitly by construction since
  ``|v_i| <= s_i``. All higher-order array functions — no Python.
* **Score**: cosine over the RECONSTRUCTED vectors
  ``code_i * s_i / 127``; reconstruction error is bounded by
  ``s_i/254`` per coordinate.

Every step is deterministic arithmetic over the data (max, divide,
floor), so unlike PQ the whole pipeline carries a full value-parity
DuckDB oracle — quantized search checked at hash level.

Scale notes: the fit is one map-side-combined agg over the corpus;
codes store as ``array<smallint>`` (parquet dictionary/RLE-friendly);
search = broadcast tiny query side x compressed scan + the usual
WindowGroupLimit top-k. The scales row rides a broadcast 1 x 1 cross
join, never a shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .vector import topk_per_query

LEVELS = 127


def sq8_scales(
    corpus: DataFrame, dim: int, vec_col: str = "embedding"
) -> DataFrame:
    """One-row DataFrame (``scales: array<double>``): per-dimension
    max-abs over the corpus. ``dim`` aggregate expressions in ONE scan
    — elementwise max has no array-native aggregate, and exploding
    n x dim rows through a shuffle to group by position would cost
    more than the whole downstream search."""
    aggs = [
        F.max(
            F.abs(F.element_at(F.col(vec_col), i + 1).cast("double"))
        ).alias(f"_s{i}")
        for i in range(dim)
    ]
    return corpus.agg(*aggs).select(
        F.array(*[F.col(f"_s{i}") for i in range(dim)]).alias("scales")
    )


def sq8_quantize(vec_col: Column, scales_col: Column) -> Column:
    """int8 codes: ``floor(127*x/s + 0.5)`` per element (0 where the
    dimension is constant-zero). floor(x+0.5) because SQL ``round``
    semantics differ across engines (half-even vs half-away); floor on
    doubles is identical everywhere."""
    return F.zip_with(
        vec_col.cast("array<double>"),
        scales_col,
        lambda x, s: F.when(
            s > F.lit(0.0),
            F.floor(F.lit(float(LEVELS)) * x / s + F.lit(0.5)),
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )


def sq8_reconstruct(code_col: Column, scales_col: Column) -> Column:
    return F.zip_with(
        code_col,
        scales_col,
        lambda c, s: c.cast("double") * s / F.lit(float(LEVELS)),
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric quantized search: BOTH sides encode with the corpus
    scales (what a serving index stores), cosine over reconstructions,
    top-k. Returns (qid, id, sim, rank) — deterministic, hence
    oracle-reproducible at hash level."""
    from .vector import cosine_with_norms, l2_norm

    scales = sq8_scales(corpus, dim, vec_col)
    c_hat = corpus.crossJoin(F.broadcast(scales)).select(
        id_col,
        sq8_reconstruct(
            sq8_quantize(F.col(vec_col), F.col("scales")),
            F.col("scales"),
        ).alias("_chat"),
    )
    q_hat = queries.crossJoin(F.broadcast(scales)).select(
        F.col(id_col).alias("qid"),
        sq8_reconstruct(
            sq8_quantize(F.col(vec_col), F.col("scales")),
            F.col("scales"),
        ).alias("_qhat"),
    )
    scored = c_hat.join(
        F.broadcast(
            q_hat.select(
                "qid", "_qhat", l2_norm(F.col("_qhat")).alias("_qn")
            )
        )
    ).select(
        "qid",
        id_col,
        F.round(
            cosine_with_norms(
                F.col("_qhat"),
                F.col("_chat"),
                F.col("_qn"),
                l2_norm(F.col("_chat")),
                dim,
            ),
            4,
        ).alias("sim"),
    )
    return topk_per_query(scored, k, tiebreak_col=id_col).select(
        "qid", id_col, "sim", "rank"
    )
