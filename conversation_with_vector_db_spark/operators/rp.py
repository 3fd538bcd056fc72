"""Random projection (Johnson-Lindenstrauss) dimensionality reduction
for similarity search: the fourth member of the vector-compression
family (PQ trains codebooks, SQ8 scales to int8, BQ keeps sign bits;
RP keeps a LINEAR sketch).

Achlioptas (2003) sparse projection: entry ``r[i][j]`` for input dim
``i``, output dim ``j`` is ``+1`` with probability 1/6, ``-1`` with
1/6, ``0`` with 2/3 (the constant sqrt(3) scale is dropped — cosine
is scale-invariant). Randomness is md5-seeded per (i, j) cell, so the
matrix is a pure function of the seed string: the SAME matrix is
re-derivable in ANSI SQL, which is what lets an approximate search
carry a full value-parity DuckDB oracle (the BQ discipline).

Search = project corpus and queries (stateless JVM fold per output
dim — no fit pass, no model state, unlike PQ/SQ), take the top-C
candidates per query by cosine in the 4x-smaller projected space,
then rescore the C candidates exactly. With C a small multiple of k,
the projected scan reads dim_out/dim_in of the bytes the exact scan
reads — the JL lemma bounds the rank distortion.

Scale shape: the projection is a per-row map (zip-with + fold over
literal sign rows; whole-stage codegen, no shuffle, no Python); the
candidate cut is the usual WindowGroupLimit top-k; the exact rescore
touches C rows per query via a broadcast of the (tiny) candidate
list against the raw vector table. For 1536-d corpora the literal
fold still compiles (1536 * dim_out multiply-adds), but the numpy
projection over Arrow batches (:func:`rp_project_arrow`, the
query-against-corpus shape of operators/vector.py) is the better
projection kernel past ~256 output dims — same gate the exact scan
uses.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .vector import cosine_similarity, topk_per_query


def rp_signs(
    dim_in: int, dim_out: int, seed: str = "rp"
) -> list[list[float]]:
    """``signs[j][i]`` in {-1.0, 0.0, +1.0}: md5(f"{seed}:{i}:{j}")'s
    first 8 hex digits mod 6 -> 0:+1, 1:-1, else 0 (1-based i, j —
    matching SQL's generate_series). Pure function of the seed: the
    oracle re-derives the identical matrix with the engine's md5."""
    out = []
    for j in range(1, dim_out + 1):
        row = []
        for i in range(1, dim_in + 1):
            u = (
                int(
                    hashlib.md5(
                        f"{seed}:{i}:{j}".encode()
                    ).hexdigest()[:8],
                    16,
                )
                % 6
            )
            row.append(1.0 if u == 0 else (-1.0 if u == 1 else 0.0))
        out.append(row)
    return out


def rp_project(vec_col: Column, signs: list[list[float]]) -> Column:
    """``array<double>`` of ``len(signs)`` projected coordinates:
    ``y[j] = sum_i v[i] * signs[j][i]``, folded left-to-right in input
    order (the same order the oracle's list fold uses)."""
    outs = []
    for row in signs:
        lit = F.array(*[F.lit(x) for x in row])
        outs.append(
            F.aggregate(
                F.zip_with(
                    vec_col.cast("array<double>"),
                    lit,
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    return F.array(*outs)


def rp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim_in: int,
    dim_out: int = 16,
    k: int = 10,
    cand: int = 30,
    seed: str = "rp",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project -> candidate top-``cand`` in projected space -> exact
    rescore -> top-``k``. Returns (qid, id, sim, rank); every stage is
    deterministic (4dp-rounded scores, id tiebreaks), so the whole
    approximate pipeline is value-parity reproducible in SQL."""
    signs = rp_signs(dim_in, dim_out, seed)
    c_proj = corpus.select(
        id_col, rp_project(F.col(vec_col), signs).alias("_cy")
    )
    q_proj = queries.select(
        F.col(id_col).alias("qid"),
        rp_project(F.col(vec_col), signs).alias("_qy"),
    )
    scored = c_proj.join(F.broadcast(q_proj)).select(
        "qid",
        id_col,
        F.round(
            cosine_similarity(F.col("_qy"), F.col("_cy")), 4
        ).alias("psim"),
    )
    cands = (
        topk_per_query(scored, cand, score_col="psim")
        .select("qid", id_col)
    )
    # Exact rescore: the candidate list is q*cand rows — broadcast it
    # against the raw vector table (the big side streams), and the
    # query raw vectors ride a tiny broadcast too.
    q_raw = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("_qe")
    )
    refined = (
        corpus.select(id_col, F.col(vec_col).alias("_ce"))
        .join(F.broadcast(cands), id_col)
        .join(F.broadcast(q_raw), "qid")
        .select(
            "qid",
            id_col,
            F.round(
                cosine_similarity(
                    F.col("_qe").cast("array<double>"),
                    F.col("_ce").cast("array<double>"),
                ),
                4,
            ).alias("sim"),
        )
    )
    return topk_per_query(refined, k)


def rp_project_arrow(
    df: DataFrame,
    signs: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """High-dim projection kernel: one numpy matmul per Arrow batch
    (``mapInPandas``). ``rp_project``'s literal fold compiles a
    dim_in * dim_out expression tree — fine at 64x32, hopeless at
    1536x128 — so past the codegen regime the projection becomes the
    same batched-matmul physics as :func:`..vector.matmul_topk`.
    Output: (id, y: array<double>)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    R = np.asarray(signs, dtype=np.float64)  # [dim_out, dim_in]
    dim_in = R.shape[1]
    in_fields = {f.name: f for f in df.schema.fields}
    schema = StructType(
        [
            in_fields[id_col],
            StructField("y", ArrayType(DoubleType())),
        ]
    )

    def project(it):
        for pdf in it:
            vecs = pdf[vec_col].to_numpy()
            n = len(pdf)
            ys: list = [None] * n
            valid = [
                i
                for i, v in enumerate(vecs)
                if v is not None and len(v) == dim_in
            ]
            if valid:
                m = np.stack(
                    [np.asarray(vecs[i], dtype=np.float64) for i in valid]
                )
                proj = m @ R.T
                for row, i in enumerate(valid):
                    ys[i] = proj[row].tolist()
            yield pd.DataFrame({id_col: pdf[id_col], "y": ys})

    return df.select(id_col, vec_col).mapInPandas(project, schema)


def rp_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    dim_in: int,
    dim_out: int = 128,
    k: int = 10,
    cand: int = 80,
    seed: str = "rp",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The scale form of :func:`rp_topk`: Arrow-matmul projection,
    candidate cut in the dim_out-sized sketch space (reads
    dim_out/dim_in of the exact scan's bytes), exact Arrow rescore of
    the ``cand`` survivors per query. Same semantics and the same
    sign matrix; the projection accumulates via BLAS matmul rather
    than the JVM left fold, so projected doubles can differ in the
    last ulps — the 4dp-rounded candidate cut and exact rescore make
    the RESULT agree with :func:`rp_topk` away from rounding-boundary
    ties (pinned by test on the fixture)."""
    import numpy as np

    from .vector import (
        collect_query_vectors,
        cosine_with_norms,
        l2_norm,
        matmul_topk,
    )

    signs = rp_signs(dim_in, dim_out, seed)
    R = np.asarray(signs, dtype=np.float64)
    proj = rp_project_arrow(corpus, signs, id_col, vec_col)
    qproj = [
        (qid, list(R @ np.asarray(v, dtype=np.float64)))
        for qid, v in collect_query_vectors(queries, id_col, vec_col)
    ]
    cands = matmul_topk(proj, qproj, k=cand, vec_col="y").select(
        "qid", id_col
    )
    q_raw = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).cast("array<double>").alias("_qe"),
    ).withColumn("_qn", l2_norm(F.col("_qe")))
    refined = (
        corpus.select(
            id_col, F.col(vec_col).cast("array<double>").alias("_ce")
        )
        .join(F.broadcast(cands), id_col)
        .join(F.broadcast(q_raw), "qid")
        .select(
            "qid",
            id_col,
            F.round(
                cosine_with_norms(
                    F.col("_qe"),
                    F.col("_ce"),
                    F.col("_qn"),
                    l2_norm(F.col("_ce")),
                    dim_in,
                ),
                4,
            ).alias("sim"),
        )
    )
    return topk_per_query(refined, k)
