"""Product quantization: vector search when the VECTORS don't fit.

IVF (operators/ann.py) bounds how much of the corpus a query READS;
PQ bounds how much the index WEIGHS. A 1536-d float64 embedding is
12 KB — 10^9 vectors is 12 TB of raw arrays; a PQ code with m
sub-quantizers is m bytes (m=96 -> 96 GB, a 128x compression). PQ
splits each vector into m contiguous subvectors, learns a
k<=256-centroid codebook per subspace on a deterministic sample
(Jegou, Douze, Schmid — "Product Quantization for Nearest Neighbor
Search", TPAMI 2011; the same public design FAISS implements), and
stores each vector as its m nearest-centroid ids.

Queries score with ASYMMETRIC DISTANCE COMPUTATION (ADC): the query
stays exact; per query ONE (m x k) table of
query-subvector . centroid inner products is built driver-side
(m*k*8 bytes — broadcast-tiny), and every corpus code scores as m
table LOOKUPS, no decompression and no per-pair float math. The scan
is Arrow-batched numpy `take`s — the PQ analogue of matmul_topk's
batch discipline.

Exactness discipline (matching this engine's sketch/bloom/band
operators): ADC ranks approximately, so `pq_topk` REFINES — the ADC
top-`refine` candidate ids join back to the raw vectors and the final
top-k is exact cosine over that candidate set. The code table prunes
the work; recall is certified by test and by the `ann_pq_recall_suite`
floor row, exactly like the LSH/IVF suites.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .clustering import (
    FIT_ROWS_PER_CELL,
    FIT_SAMPLE_VALUES,
    hash_sample,
    lloyd,
)


def pq_fit(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 256,
    seed: int = 42,
    iters: int = 15,
):
    """Train per-subspace codebooks; returns a numpy array of shape
    (m, k, dsub). Deterministic: seeded sample, seeded init, fixed
    Lloyd iteration count — two fits of the same corpus are
    bit-identical (the same contract as the seeded IVF fit).

    Driver-side on a SAMPLE by design (FAISS trains PQ on ~10-100k
    points regardless of corpus size): the codebook is m*k*dsub
    floats; the training set is the only thing collected, at most
    :data:`..clustering.FIT_ROWS_PER_CELL` x k vectors and
    :data:`..clustering.FIT_SAMPLE_VALUES` elements
    (:func:`..clustering.hash_sample`). The dimension must divide by
    ``m`` (loud refusal beats silent padding)."""
    import numpy as np

    # Drop NULL vectors and refuse ragged lengths LOUDLY: a None (or a
    # short row) in the collected list makes np.asarray build an
    # inhomogeneous object array whose error names numpy, not the
    # caller's data problem. The first vector's size sets the sample
    # cap; a ragged sample is refused below.
    corpus = corpus.where(F.col(vec_col).isNotNull())
    first = corpus.select(F.size(vec_col)).first()
    if first is None:
        raise ValueError("pq_fit: no non-NULL vectors to train on")
    cap = min(FIT_ROWS_PER_CELL * k, FIT_SAMPLE_VALUES // max(first[0], 1))
    # (The collected row ORDER is layout-invariant: splits collect in
    # file-offset order whatever their size.)
    sample = hash_sample(corpus, vec_col, seed, cap).select(vec_col)
    rows = [r[0] for r in sample.collect()]
    dims = {len(v) for v in rows}
    if len(dims) != 1:
        raise ValueError(
            f"pq_fit: ragged vector lengths {sorted(dims)[:5]} — "
            "filter the corpus to a single dimension first"
        )
    vecs = np.asarray(rows, dtype=np.float64)
    n, dim = vecs.shape
    if dim % m != 0:
        raise ValueError(f"pq_fit: dim {dim} not divisible by m={m}")
    dsub = dim // m
    k_eff = min(k, n)
    rng = np.random.default_rng(seed)
    books = np.empty((m, k_eff, dsub), dtype=np.float64)
    for j in range(m):
        sub = vecs[:, j * dsub:(j + 1) * dsub]
        start = sub[rng.choice(n, size=k_eff, replace=False)]
        books[j] = lloyd(sub, start, iters)
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: tuple[str, ...] = (),
    strict: bool = False,
) -> DataFrame:
    """(id, code array<int>[, keep_cols]) — each vector's per-subspace
    nearest centroid ids. One Arrow-batched pass; per batch the
    assignment is an (n, k) matmul per subspace, no Python per-row
    work. This is the table a 100 TB deployment PERSISTS
    (m bytes/vector) while the raw arrays stay cold in object storage
    for the refine reads. ``keep_cols`` ride through unchanged (e.g.
    the IVF cell tag, so IVF-PQ stores ONE code table partitioned by
    cell).

    MALFORMED-ROW CONTRACT (ADVICE r10): NULL/ragged vectors are
    SILENTLY DROPPED from the encoded index by default — the same
    size(q) == dim filter every quantized family applies, documented
    here because ``pq_fit`` raises loudly on the same input while the
    default encode path does not; corruption introduced between fit
    and encode therefore shrinks the index without a signal unless
    ``strict=True``, which counts the malformed rows (one cheap
    boolean aggregate) and raises a named error instead."""
    import numpy as np
    import pandas as pd

    from .cache import scoped_broadcast

    mm, k_eff, dsub = codebooks.shape
    # NULL/ragged vectors cannot be encoded (np.asarray would build an
    # inhomogeneous object array inside the Arrow batch) — exclude
    # them, the same malformed-row contract as the quantized families'
    # size(q) == dim filter.
    _ok = F.col(vec_col).isNotNull() & (F.size(vec_col) == mm * dsub)
    if strict:
        n_bad = corpus.where(~F.coalesce(_ok, F.lit(False))).count()
        if n_bad:
            raise ValueError(
                f"pq_encode: {n_bad} NULL/ragged vector(s) (expected "
                f"dim {mm * dsub}) in a strict encode — the index "
                "would silently shrink; clean the corpus or encode "
                "with strict=False to drop them"
            )
    corpus = corpus.where(_ok)
    bc = scoped_broadcast(
        corpus.sparkSession.sparkContext.broadcast(codebooks)
    )

    def encode(batches):
        books = bc.value
        for pdf in batches:
            vecs = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            if vecs.size == 0:
                continue
            codes = np.empty((len(vecs), mm), dtype=np.int32)
            for j in range(mm):
                sub = vecs[:, j * dsub:(j + 1) * dsub]
                cent = books[j]
                d2 = (
                    -2.0 * sub @ cent.T + (cent * cent).sum(1)[None, :]
                )  # (sub*sub).sum is constant per row: argmin-safe to drop
                codes[:, j] = d2.argmin(1)
            out = {id_col: pdf[id_col].values, "code": list(codes)}
            for c in keep_cols:
                out[c] = pdf[c].values
            yield pd.DataFrame(out)

    keep_schema = "".join(
        f", {c} {corpus.schema[c].dataType.simpleString()}"
        for c in keep_cols
    )
    return corpus.select(id_col, vec_col, *keep_cols).mapInPandas(
        encode, f"{id_col} long, code array<int>{keep_schema}"
    )


def _luts(codebooks, query_vectors: list):
    """ADC lookup tables: ``luts[q, j, c]`` = <query q's subvector j,
    centroid c of subspace j>, shape (n_queries, m, k)."""
    import numpy as np

    qmat = np.asarray(query_vectors, dtype=np.float64)
    dsub = codebooks.shape[2]
    return np.stack(
        [qmat[:, j * dsub:(j + 1) * dsub] @ book.T
         for j, book in enumerate(codebooks)],
        axis=1,
    )


def pq_adc_scores(
    codes: DataFrame,
    codebooks,
    query_vectors: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
) -> DataFrame:
    """(qid, id, ascore) — approximate inner-product scores via ADC
    lookup tables, for every (query, code) pair. The tables are
    (n_queries, m, k) floats built once driver-side from the exact
    query vectors; each Arrow batch scores with m vectorized `take`s
    per query — no decompression, no per-pair arithmetic."""
    import numpy as np
    import pandas as pd

    from .cache import scoped_broadcast

    qids = [q for q, _ in query_vectors]
    luts = _luts(codebooks, [v for _, v in query_vectors])
    bc = scoped_broadcast(
        codes.sparkSession.sparkContext.broadcast((qids, luts))
    )

    def score(batches):
        q_ids, tables = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = np.asarray(list(pdf["code"]), dtype=np.int64)
            n = len(cm)
            out_scores = np.zeros((len(q_ids), n), dtype=np.float64)
            for j in range(cm.shape[1]):
                out_scores += tables[:, j, :][:, cm[:, j]]
            ids = pdf[id_col].values
            yield pd.DataFrame(
                {
                    "qid": np.repeat(q_ids, n),
                    id_col: np.tile(ids, len(q_ids)),
                    "ascore": out_scores.reshape(-1),
                }
            )

    return codes.mapInPandas(
        score, f"qid long, {id_col} long, ascore double"
    )


def pq_topk(
    corpus: DataFrame,
    codes: DataFrame,
    codebooks,
    queries: DataFrame,
    k: int = 10,
    refine: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-cosine top-k over the ADC top-``refine`` candidate set:
    the compressed scan ranks, the refine join reads only
    ~refine raw vectors per query, and the output ordering is exact
    cosine (same shape/rounding as the other vector plans). Recall
    depends on (m, refine) and is floor-certified by the recall
    suite."""
    from .vector import collect_query_vectors

    qvecs = collect_query_vectors(queries, id_col, vec_col)
    return _exact_refine(
        corpus, pq_adc_scores(codes, codebooks, qvecs, id_col), qvecs,
        k, refine, id_col, vec_col,
    )


def _exact_refine(
    raw: DataFrame, ascores: DataFrame, qvecs: list, k: int, refine: int,
    id_col: str, vec_col: str,
) -> DataFrame:
    """Exact-cosine top-k of each query's ADC top-``refine``
    candidates (``ascores``: qid, id, ascore), read from ``raw``."""
    from .vector import matmul_topk, topk_per_query

    cands = topk_per_query(
        ascores, refine, query_col="qid", score_col="ascore",
        tiebreak_col=id_col,
    ).select("qid", id_col)
    # Refine: exact cosine over candidates only. The per-query exact
    # rescore reuses matmul_topk against the candidate-pruned corpus;
    # the semi join is what a 100 TB serving path does to fetch raw
    # vectors for refinement (candidate ids are ~refine * n_queries).
    cand_ids = cands.select(id_col).distinct()
    pruned = raw.join(F.broadcast(cand_ids), id_col)
    # The exact pass ranks over the UNION of all queries' candidates,
    # so its per-query window limit must admit every candidate (another
    # query's vector may outscore this query's own) — the join back to
    # `cands` then keeps only each query's own refine set.
    scored = matmul_topk(
        pruned, qvecs, k=max(k, refine) * max(1, len(qvecs)),
        id_col=id_col, vec_col=vec_col,
    ).join(cands, ["qid", id_col])
    return topk_per_query(
        scored.select("qid", id_col, "sim"), k,
        query_col="qid", score_col="sim", tiebreak_col=id_col,
    ).select("qid", id_col, "sim", "rank")


def pq_adc_pair_scores(
    pairs: DataFrame,
    codebooks,
    query_vectors: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
) -> DataFrame:
    """(qid, id, ascore) for an EXPLICIT (qid, id, code, _bias) pair
    table (``_bias`` = q . coarse centroid of the pair's cell) — the
    cell-pruned form of :func:`pq_adc_scores`: the caller joins
    codes to each query's probed cells first, so only probed pairs are
    ever scored. Batches hold mixed qids; the lookup stays fully
    vectorized via fancy indexing (qid -> table row, code -> column)."""
    import numpy as np
    import pandas as pd

    from .cache import scoped_broadcast

    qids = np.asarray(sorted(q for q, _ in query_vectors), dtype=np.int64)
    by_id = dict(query_vectors)
    luts = _luts(codebooks, [by_id[q] for q in qids])
    bc = scoped_broadcast(
        pairs.sparkSession.sparkContext.broadcast((qids, luts))
    )

    def score(batches):
        q_sorted, tables = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = np.asarray(list(pdf["code"]), dtype=np.int64)
            qi = np.searchsorted(
                q_sorted, pdf["qid"].to_numpy(dtype=np.int64)
            )
            acc = np.zeros(len(cm), dtype=np.float64)
            for j in range(cm.shape[1]):
                acc += tables[qi, j, cm[:, j]]
            # Residual encoding (IVFADC): score = q . coarse[cell]
            # + q . (residual reconstruction); the first term rides
            # in as a per-(qid, cell) column.
            acc += pdf["_bias"].to_numpy(dtype=np.float64)
            yield pd.DataFrame(
                {
                    "qid": pdf["qid"].values,
                    id_col: pdf[id_col].values,
                    "ascore": acc,
                }
            )

    return pairs.select("qid", id_col, "code", "_bias").mapInPandas(
        score, f"qid long, {id_col} long, ascore double"
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 32,
    refine: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ: the composed 100 TB serving architecture (the
    public FAISS IVFPQ design). IVF bounds what a query READS — only
    nprobe/nlist of the code table's cells join into the scan; PQ
    bounds what the index WEIGHS — the scanned cells are m-byte codes,
    not raw vectors; the exact-cosine refine touches raw vectors for
    only ~refine candidates per query. One code table partitioned by
    cell serves everything; the raw arrays stay cold until refine.
    Codes encode cell RESIDUALS (IVFADC; see :func:`_with_residual`)."""
    from .ann import ivf_fit_cells, ivf_probe
    from .vector import collect_query_vectors

    assigned, cents = ivf_fit_cells(
        corpus, nlist, vec_col, seed, id_col=id_col
    )
    resid = _with_residual(assigned, cents, vec_col)
    books = pq_fit(resid, "_resid", m=m, k=ksub, seed=seed)
    codes = pq_encode(resid, books, "_resid", id_col, keep_cols=("cell",))
    qvecs = collect_query_vectors(queries, id_col, vec_col)
    probed = _probe_bias(
        corpus.sparkSession, cents, ivf_probe(cents, qvecs, nprobe)
    )
    pairs = codes.join(probed, "cell")
    return _exact_refine(
        corpus, pq_adc_pair_scores(pairs, books, qvecs, id_col), qvecs,
        k, refine, id_col, vec_col,
    )


def _probe_bias(spark, cents, probes: list) -> DataFrame:
    """Broadcast ``(qid, cell, _bias)`` rows for the probed pairs
    (:func:`..ann.ivf_probe` triples): ``_bias`` = q . coarse[cell],
    the IVFADC term the residual-encoded ADC scores add back."""
    import numpy as np

    return F.broadcast(
        spark.createDataFrame(
            [
                (int(qid), cell, float(np.asarray(vec) @ cents[cell]))
                for qid, vec, cell in probes
            ],
            "qid long, cell int, _bias double",
        )
    )


def _with_residual(assigned: DataFrame, cents, vec_col: str):
    """Attach ``_resid`` = vector - coarse centroid of its cell (the
    IVFADC residual; Jegou et al. 2011 §IV): residuals concentrate
    around zero at the intra-cell noise scale, so the PQ codebooks
    spend their resolution where the ranking signal lives. Raw-vector
    PQ on clustered data wastes codebook entries separating clusters
    the IVF probe already separated — measured A/B at 10^5 x 1536-d,
    m=96 (BENCH_ANN_1536D.json `pq_1536d`): recall@10 0.72 -> 0.856
    on the realistic low-intrinsic-dimension corpus (noise rank 64)
    and 0.22 -> 0.355 on full-rank isotropic noise (the PQ worst
    case: quantization error spread over every coordinate), at
    identical code size."""
    cent = assigned.sparkSession.createDataFrame(
        [(i, c.tolist()) for i, c in enumerate(cents)],
        "cell int, centroid array<double>",
    )
    return assigned.join(F.broadcast(cent), "cell").withColumn(
        "_resid",
        F.zip_with(
            F.col(vec_col), F.col("centroid"), lambda a, b: a - b
        ),
    )


def pq_write_index(
    corpus: DataFrame,
    path: str,
    nlist: int = 16,
    m: int = 8,
    ksub: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Materialize an IVF-PQ index next to the raw vectors:

    * ``<path>/data/cell=<i>/``  — raw vectors, partitioned by IVF cell
      (refine reads live here);
    * ``<path>/codes/cell=<i>/`` — the m-byte PQ codes of the CELL
      RESIDUALS (IVFADC; see :func:`_with_residual`), SAME
      partitioning (the scan path — ~dim*8/m times smaller);
    * ``<path>/centroids``       — the nlist-row IVF sidecar;
    * ``<path>/pq_books``        — (subspace, code, centroid) rows.

    Everything expensive (cell fit + assignment, codebook fit, encode)
    is paid once at write time; a query then partition-prunes the CODE
    table to nprobe cells, ADC-scans bytes, and touches the raw table
    only for ~refine candidate rows."""
    from .ann import _write_centroids, ivf_fit_cells

    assigned, cents = ivf_fit_cells(
        corpus, nlist, vec_col, seed, id_col=id_col
    )
    resid = _with_residual(assigned, cents, vec_col)
    books = pq_fit(resid, "_resid", m=m, k=ksub, seed=seed)
    assigned.select(id_col, vec_col, "cell").write.partitionBy(
        "cell"
    ).mode("overwrite").parquet(f"{path}/data")
    pq_encode(
        resid, books, "_resid", id_col, keep_cols=("cell",)
    ).write.partitionBy("cell").mode("overwrite").parquet(
        f"{path}/codes"
    )
    _write_centroids(cents, f"{path}/centroids")
    mm, k_eff, dsub = books.shape
    rows = [
        (j, c, [float(x) for x in books[j, c]])
        for j in range(mm)
        for c in range(k_eff)
    ]
    corpus.sparkSession.createDataFrame(
        rows, "subspace int, code int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/pq_books")


def _load_books(spark, path: str):
    import numpy as np

    rows = spark.read.parquet(f"{path}/pq_books").collect()
    mm = 1 + max(r["subspace"] for r in rows)
    kk = 1 + max(r["code"] for r in rows)
    dsub = len(rows[0]["centroid"])
    books = np.zeros((mm, kk, dsub), dtype=np.float64)
    for r in rows:
        books[r["subspace"], r["code"]] = r["centroid"]
    return books


def pq_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    refine: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k over a :func:`pq_write_index` layout: probed cells fold
    to PARTITION FILTERS on the CODE table (file listing prunes to
    nprobe/nlist of the m-byte-code files — the double win: fewer
    files AND ~dim*8/m smaller ones), qid-aware ADC scores the pruned
    pairs, and the exact refine reads raw vectors only from the probed
    cells' data partitions, semi-joined to the ~refine candidates per
    query. Same one-probe-evaluation discipline as
    :func:`..ann.ivf_table_topk`: partition filter and pair join are
    rebuilt from ONE collected probe row set."""
    from .ann import _read_centroids, ivf_probe
    from .vector import collect_query_vectors

    cents = _read_centroids(f"{index_path}/centroids")
    books = _load_books(spark, index_path)
    qvecs = collect_query_vectors(queries, id_col, vec_col)
    probes = ivf_probe(cents, qvecs, nprobe)
    codes_scan = spark.read.parquet(f"{index_path}/codes")
    if not probes:
        return (
            codes_scan.filter(F.lit(False))
            .select(
                F.col(id_col).alias("qid"),
                id_col,
                F.lit(0.0).alias("sim"),
                F.lit(0).alias("rank"),
            )
        )
    cells = sorted({cell for _, _, cell in probes})
    probed_df = _probe_bias(spark, cents, probes)
    pairs = codes_scan.filter(F.col("cell").isin(cells)).join(
        probed_df, "cell"
    )
    raw = spark.read.parquet(f"{index_path}/data").filter(
        F.col("cell").isin(cells)
    )
    return _exact_refine(
        raw, pq_adc_pair_scores(pairs, books, qvecs, id_col), qvecs,
        k, refine, id_col, vec_col,
    )
