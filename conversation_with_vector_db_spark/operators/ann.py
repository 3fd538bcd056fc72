"""Approximate nearest-neighbor search — the 100 TB path for V1/V2.

The reference's ANN is remote (Pinecone HNSW) or in-process C++
(hnswlib, controllers/customTrainDataController.js:63). Neither model
fits a data-parallel engine; the Spark-native strategies are:

* :func:`hyperplane_lsh_topk` — random-hyperplane (sign) LSH for cosine:
  signature bits are sign(v . plane_b) computed as pure column
  expressions over plane literals (no shuffle, no UDF); candidates are
  an equality join on band keys; survivors are exactly rescored. The
  plane matrix is deterministic (md5-seeded), so results are stable.
* :func:`ivf_topk` — inverted-file index: MLlib KMeans (fixed seed)
  partitions the corpus into nlist cells; a query probes the nprobe
  nearest centroids and rescans only those cells. This is the
  partition-pruning pattern: at scale, write the corpus parquet
  partitioned by cell id and the probe becomes a partition-pruned scan.

Both are recall-measured against the exact brute force
(:func:`..vector.brute_force_topk`) — an approximate operator without a
recall number is not done.
"""

from __future__ import annotations

import hashlib
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import scoped_cache
from .vector import (
    brute_force_topk,
    cosine_similarity,
    cosine_with_norms,
    l2_norm,
    majority_dim,
    query_matrix,
    score_batch,
    topk_per_query,
)


def _plane_value(seed: int, bit: int, dim: int) -> float:
    """Deterministic pseudo-uniform value in [-1, 1] from md5."""
    h = hashlib.md5(f"{seed}:{bit}:{dim}".encode()).hexdigest()
    return int(h[:8], 16) / 0x7FFFFFFF - 1.0


def hyperplane_planes(
    n_bits: int, dim: int, seed: int = 42
) -> list[list[float]]:
    return [
        [_plane_value(seed, b, d) for d in range(dim)]
        for b in range(n_bits)
    ]


def _signature_bits(vec_col: str, planes: list[list[float]]) -> list:
    """One 0/1 int column per plane: sign of the projection.

    Each projection is ONE server-side-parsed SQL expression: building
    the plane literals as F.lit() columns costs a py4j round-trip per
    literal (48 planes x 64 dims ~ 3000 calls ~ 3s of plan-BUILD time,
    measured); a generated expr string parses in the JVM in one call.
    ``repr`` round-trips doubles exactly, so the expression — and the
    oracle parity — is bit-identical to the F.lit form.

    A NULL embedding propagates to NULL bits (the aggregate fold
    yields a NULL projection, and the when-chain passes it through
    rather than defaulting to 0) — matching :func:`_signature_udf`'s
    null signature. An ``otherwise(0)`` here would instead emit an
    all-zero signature that equality-joins against REAL vectors whose
    band bits are genuinely zero: spurious candidates from data that
    should match nothing.
    """
    bits = []
    for plane in planes:
        arr = ",".join(f"{w!r}D" for w in plane)
        proj = F.expr(
            f"aggregate(zip_with({vec_col}, array({arr}),"
            " (x, y) -> cast(x as double) * y),"
            " 0D, (acc, x) -> acc + x)"
        )
        bits.append(
            F.when(proj > 0, 1).when(proj.isNotNull(), 0)
        )
    return bits


def _signature_udf(planes: list[list[float]]):
    """Arrow-batched signature: all n_bits projections of a vector batch
    in one vectorized pass, returning the concatenated bit string.

    Dense matrix x matrix is where interpreted per-row expressions lose
    by orders of magnitude (the HOF-fold form above costs ~0.5 ms/row
    for 48x64 — untenable at corpus scale); numpy over Arrow batches is
    the idiomatic Spark answer. Summation accumulates DIMENSION BY
    DIMENSION (64 vectorized adds), which is exactly the left-fold
    order of the SQL ``aggregate`` form — bit-identical doubles, so the
    sign bits and the oracle parity are unchanged, not merely close.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # planes as a dim x n_bits weight matrix; row d = every plane's
    # weight for vector dimension d.
    wt = np.array(planes, dtype=np.float64).T.copy()

    # no parameter annotations: PEP 563 (future annotations) stringifies
    # them, which pandas_udf's signature inference rejects.
    @pandas_udf("string")
    def sig(vecs):
        if len(vecs) == 0:  # empty Arrow batch (empty partition)
            return pd.Series([], dtype="object")
        arr = vecs.to_numpy()
        # Null AND dim-mismatched embeddings yield a null signature
        # (the behavior of the expression form, whose zip_with
        # truncates/null-pads a ragged vector into a NULL fold)
        # instead of crashing np.stack / the accumulate broadcast and
        # killing the stage — same masking contract as
        # vector.score_batch.
        dim = wt.shape[0]
        mask = np.array(
            [v is not None and len(v) == dim for v in arr]
        )
        out = np.full(len(arr), None, dtype=object)
        if mask.any():
            mat = np.stack(arr[mask]).astype(np.float64, copy=False)
            acc = np.zeros((mat.shape[0], wt.shape[1]), dtype=np.float64)
            for d in range(wt.shape[0]):
                acc += mat[:, d : d + 1] * wt[d]
            bits = np.where(acc > 0, "1", "0")
            out[mask] = ["".join(row) for row in bits]
        return pd.Series(out)

    return sig


def with_lsh_bands(
    df: DataFrame,
    vec_col: str = "embedding",
    n_bits: int = 16,
    n_bands: int = 4,
    seed: int = 42,
    dim: int | None = None,
    probe_bits: int = 0,
) -> DataFrame:
    """Explode each row into (row, band, band_key) — band_key is the
    band's bit substring; equality on it is the candidate filter.

    ``dim`` is the vector dimensionality; pass it explicitly (table
    metadata / fixture contract) so plan construction stays action-free
    — when omitted it is :func:`..vector.majority_dim` of ``df``.
    ``probe_bits=1`` additionally emits every single-bit flip of each
    band key (multi-probe LSH, query side only): a near neighbor whose
    band signature differs by one bit still collides, raising recall
    without touching the corpus-side index.
    """
    if dim is None:
        dim = majority_dim(df, vec_col)
    if dim is None:
        raise ValueError(
            "with_lsh_bands: no non-empty vectors to derive a dimension"
        )
    if n_bands <= 0 or n_bits % n_bands != 0:
        # A silent non-divisible split would ignore trailing signature
        # bits (stats no longer match the stated config); n_bands >
        # n_bits would make every band_key '' and degenerate the band
        # join into a cross join.
        raise ValueError(
            f"n_bands ({n_bands}) must evenly divide n_bits ({n_bits})"
        )
    planes = hyperplane_planes(n_bits, dim, seed)
    sig = _signature_udf(planes)(F.col(vec_col))
    per_band = n_bits // n_bands
    banded = df.withColumn("_sig", sig).select(
        "*",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    )
    banded = banded.withColumn(
        "band_key",
        F.substring(
            F.col("_sig"), F.col("band") * per_band + 1, per_band
        ),
    ).drop("_sig")
    if probe_bits == 0:
        return banded
    if probe_bits != 1:
        raise ValueError("probe_bits must be 0 or 1")
    key = F.col("band_key")
    probes = [key]
    for i in range(1, per_band + 1):
        flipped = (
            F.lit(1) - F.substring(key, i, 1).cast("int")
        ).cast("string")
        probes.append(
            F.concat(
                F.substring(key, 1, i - 1),
                flipped,
                F.substring(key, i + 1, per_band - i),
            )
        )
    return (
        banded.withColumn("_probes", F.array(*probes))
        .drop("band_key")
        .select("*", F.explode("_probes").alias("band_key"))
        .drop("_probes")
    )


def hyperplane_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 16,
    n_bands: int = 4,
    seed: int = 42,
    dim: int | None = None,
    probe_bits: int = 0,
) -> DataFrame:
    """Approximate cosine top-k: candidates share >=1 LSH band with the
    query (optionally multi-probed with ``probe_bits`` single-bit
    flips on the query side), exact-rescored, ranked.
    Returns (qid, vec_id, sim, rank).

    Vectors NEVER ride the band shuffle (semi-join-then-fetch): the
    band join carries ids only, the (qid, id) pair set is deduped
    while still narrow, and each side's vector + precomputed norm is
    re-attached ONCE per distinct pair — the query side by broadcast,
    the corpus side by an id join. A near pair collides in ~every band
    on clustered data, so a join that carries the embeddings fans each
    pair's payload out n_bands(+probes) times; at the reference's
    1536-d (24 KB of arrays per pair) that shape measured 13x slower
    than this one on a 20k-corpus sweep. Rescoring is the unrolled
    pair kernel (:func:`..vector.dot_unrolled`).

    ``dim`` defaults to the corpus's :func:`..vector.majority_dim`,
    derived ONCE and used for both sides' planes and the rescore."""
    if dim is None:
        dim = majority_dim(corpus, vec_col)
    c_keys = with_lsh_bands(
        corpus, vec_col, n_bits, n_bands, seed, dim
    ).select(F.col(id_col), "band", "band_key")
    q_keys = with_lsh_bands(
        queries, vec_col, n_bits, n_bands, seed, dim, probe_bits
    ).select(F.col(id_col).alias("qid"), "band", "band_key")
    pairs = (
        c_keys.join(F.broadcast(q_keys), ["band", "band_key"])
        .select("qid", id_col)
        .distinct()
    )
    q_vecs = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    c_vecs = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        l2_norm(F.col(vec_col)).alias("_cn"),
    )
    cands = pairs.join(c_vecs, id_col).join(F.broadcast(q_vecs), "qid")
    scored = cands.select(
        "qid",
        id_col,
        F.round(
            cosine_with_norms(
                F.col("_qvec"), F.col(vec_col), F.col("_qn"), F.col("_cn"),
                dim,
            ),
            4,
        ).alias("sim"),
    )
    return topk_per_query(scored, k, tiebreak_col=id_col)


def ivf_fit_cells(
    corpus: DataFrame,
    nlist: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    fit_fraction: float | None = None,
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Seeded-KMeans cell model: ``(corpus + cell column, centroids)``.

    ``fit_fraction`` trains the centroids on a deterministic sample
    (the standard IVF practice at corpus scale — FAISS trains on ~30x
    nlist points, not the full set); the ASSIGNMENT transform still
    covers every corpus row, so the index is always complete.

    ``dim`` pins the indexed dimension explicitly; when omitted it is
    the MODE of non-NULL vector sizes (:func:`majority_dim`), never an
    arbitrary first() row — on a mixed-dimension corpus the first-row
    derivation depended on partition order and a minority-dim row
    could silently drop the majority of the corpus (ADVICE r10).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # NULL/ragged embeddings cannot be indexed (they could never be
    # scored) and crash MLlib's fit/transform with a raw JVM error —
    # exclude them up front, the same malformed-row contract the
    # hand-rolled vector families enforce via size(q) == dim.
    if dim is None:
        dim = majority_dim(corpus, vec_col)
    if dim is None:
        raise ValueError(
            "ivf_fit_cells: no non-NULL vectors — cannot fit an IVF "
            "cell model; callers should short-circuit the no-data case"
        )
    corpus = corpus.where(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    )
    corpus_v = corpus.withColumn("_features", array_to_vector(vec_col))
    # Hash-stratified fit sample (clustering.py's stated at-scale
    # posture), NOT df.sample: Bernoulli sampling draws from a
    # per-partition RNG, so the sample MEMBERSHIP — and with it the
    # fitted centroids — would depend on the scan layout
    # (maxPartitionBytes, file count). xxhash64 over the vector is a
    # pure function of the DATA; no shuffle, layout-invariant.
    fit_on = (
        corpus_v
        if fit_fraction is None
        else corpus_v.where(
            F.pmod(
                F.xxhash64(F.col(vec_col), F.lit(seed)), F.lit(1_000_000)
            )
            < F.lit(int(fit_fraction * 1_000_000))
        )
    )
    # Canonical physical layout for the fit: MLlib's kmeans|| init
    # seeds its RNG per (seed, partition) and scans rows in partition
    # order, so the SAME multiset of vectors under a different
    # partitioning yields different centroids — the one
    # layout-dependence the determinism sweep (tools/
    # determinism_sweep.py) found across the registry. A FIXED-width
    # repartition hashed on the vector plus an in-partition sort
    # makes the fit a pure function of the data (measured: identical
    # results across 64 KB vs 128 MB scan splits and 8 vs 13 shuffle
    # partitions) while keeping the fit parallel — 16 partitions is
    # plenty for a model-sized fit input (FAISS trains on ~30x nlist
    # points; pass fit_fraction at corpus scale).
    fit_on = fit_on.repartition(16, F.col(vec_col)).sortWithinPartitions(
        vec_col
    )
    fit_on = scoped_cache(fit_on)
    # Degenerate-k guard: MLlib's block KMeans aggregator hits an
    # ArrayIndexOutOfBounds when k exceeds the number of DISTINCT
    # training points (reproduced: 3 distinct x dim 64, k=16). Cap k
    # at the distinct count — the fit sample is small by design
    # (FAISS-style ~30x nlist points), so the distinct() is a
    # model-sized job, and on any real corpus distinct >> nlist makes
    # this a no-op. Also covers the empty case with a named error.
    n_distinct = fit_on.select(vec_col).distinct().count()
    if n_distinct == 0:
        raise ValueError(
            "ivf_fit_cells: empty corpus (or empty fit sample) — "
            "cannot fit an IVF cell model; callers should "
            "short-circuit the no-data case"
        )
    k_eff = min(nlist, n_distinct)
    # Best-of-3 seeded fits by training cost (WSSSE): kmeans|| is a
    # local-optimum roulette — any single canonical layout that wins
    # on one fixture loses on another (measured: one layout scored
    # recall 0.70/0.60 across sf0.001/sf0.01, another 0.62/0.82).
    # Three deterministic restarts chosen by the objective are the
    # standard remedy, stay a pure function of the data, and cost 3x
    # a model-sized fit. Tie-break: lowest cost, then lowest seed.
    model = min(
        (
            KMeans(
                k=k_eff, seed=seed + i, featuresCol="_features"
            ).fit(fit_on)
            for i in range(3)
        ),
        key=lambda m: m.summary.trainingCost,
    )
    assigned = (
        model.transform(corpus_v)
        .withColumnRenamed("prediction", "cell")
        .drop("_features")
    )
    centroids = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    cent_df = corpus.sparkSession.createDataFrame(
        centroids, ["cell", "centroid"]
    )
    return assigned, cent_df


def ivf_probed_cells(
    cent_df: DataFrame,
    queries: DataFrame,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(qid, _qvec, cell) — the nprobe nearest centroids per query.

    The centroid table is nlist rows (broadcast-tiny by construction);
    the crossJoin is query x nlist, never query x corpus.
    """
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("_qvec")
    )
    probe = q.crossJoin(F.broadcast(cent_df)).select(
        "qid",
        "_qvec",
        "cell",
        cosine_similarity(F.col("_qvec"), F.col("centroid")).alias("_csim"),
    )
    return topk_per_query(
        probe, nprobe, query_col="qid", score_col="_csim",
        tiebreak_col="cell",
    ).select("qid", "_qvec", "cell")


def _rescore_probed(
    assigned: DataFrame,
    probed: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    dim: int | None = None,
) -> DataFrame:
    """Shared IVF rescoring tail: candidates = probed cells' vectors,
    cosine over precomputed norms (bit-identical to the HOF fold),
    top-k via the WindowGroupLimit shape. Both the query-time and the
    write-time index paths end here, so their scores are identical by
    construction. ``dim`` is the fit's indexed dimension; when the
    caller does not have it, :func:`..vector.majority_dim` of
    ``assigned`` supplies it."""
    if dim is None:
        dim = majority_dim(assigned, vec_col)
    cands = assigned.withColumn(
        "_cn", l2_norm(F.col(vec_col))
    ).join(F.broadcast(probed.withColumn("_qn", l2_norm("_qvec"))), "cell")
    scored = cands.select(
        "qid",
        id_col,
        F.round(
            # The probe fan-out makes this the bulk-pair stage: the
            # unrolled pair kernel. Bit-identical to the cell-aware
            # numpy tail (_matmul_rescore_probed) on NULL/ragged/
            # finite/inf-overflow rows (pinned); the one documented
            # divergence is a genuine NaN ELEMENT inside a dim-length
            # vector — folded here to sim=NaN (HOF-faithful, sorts
            # above every real double in the descending top-k), NULL
            # in the numpy tail (the Arrow boundary erases the
            # NaN/NULL-element distinction; vector.score_batch).
            cosine_with_norms(
                F.col("_qvec"), F.col(vec_col), F.col("_qn"), F.col("_cn"),
                dim,
            ),
            4,
        ).alias("sim"),
    )
    return topk_per_query(scored, k, tiebreak_col=id_col)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    fit_fraction: float | None = None,
) -> DataFrame:
    """IVF approximate top-k via seeded KMeans cells + centroid probing.

    Query-time form: fits and assigns in the same plan. At production
    scale use :func:`ivf_write_index` + :func:`ivf_topk_indexed`, where
    the cell is a write-time partition column and probing becomes
    partition pruning at the scan. ``fit_fraction`` samples the KMeans
    training set (FAISS-style) — essential at high dimension where a
    full-corpus fit dominates the query itself.
    """
    # Derive the indexed dimension ONCE here (the same majority-of-sizes
    # rule ivf_fit_cells would apply) so the rescore tail can take the
    # unrolled zero-Python scoring chain — the fit consumes the value
    # instead of re-deriving it, so the job count is unchanged (r11).
    dim = majority_dim(corpus, vec_col)
    assigned, cent_df = ivf_fit_cells(
        corpus, nlist, vec_col, seed, fit_fraction, dim=dim
    )
    probed = ivf_probed_cells(cent_df, queries, nprobe, id_col, vec_col)
    return _rescore_probed(assigned, probed, k, id_col, vec_col, dim=dim)


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_fraction: float | None = None,
    extra_cols: tuple[str, ...] = (),
) -> None:
    """Materialize an IVF index: corpus parquet PARTITIONED BY cell id
    (``<path>/data/cell=<i>/``) plus an nlist-row centroid sidecar
    (``<path>/centroids``).

    This is the 100 TB read path the reference's remote HNSW
    (controllers/conversationController.js:32-36) maps to in a
    data-parallel engine: the expensive structure (centroid fit +
    cell assignment) is paid ONCE at write time, and every query's
    nprobe cell set becomes a partition-pruning predicate — the scan
    opens nprobe/nlist of the files, no index server required.
    """
    assigned, cent_df = ivf_fit_cells(
        corpus, nlist, vec_col, seed, fit_fraction
    )
    assigned.select(id_col, vec_col, *extra_cols, "cell").write.partitionBy(
        "cell"
    ).mode("overwrite").parquet(f"{path}/data")
    cent_df.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k over a :func:`ivf_write_index` layout with the
    probed cells pushed into the scan as PARTITION FILTERS.

    The probe runs first (queries x nlist centroids — tiny) and its
    cell ids are folded to plan literals, exactly like
    :func:`..vector.collect_query_vectors` folds the query matrix: the
    collect is bounded by n_queries x nprobe rows, never corpus-sized.
    The data scan then carries ``cell IN (<literals>)`` on the
    partition column, so file listing prunes to the probed
    directories before a single row is read (asserted by the
    plan-shape and inputFiles tests in tests/test_plan_shapes.py /
    tests/test_text_vector.py).

    The probe plan is evaluated exactly ONCE: its rows are collected
    and the rescore's broadcast side is rebuilt from the collected
    rows, so a nondeterministic query set (sample, unordered limit)
    cannot make the partition filter and the join side disagree."""
    cent_df = spark.read.parquet(f"{index_path}/centroids")
    probed_plan = ivf_probed_cells(cent_df, queries, nprobe, id_col, vec_col)
    probed_rows = probed_plan.collect()
    scan = spark.read.parquet(f"{index_path}/data")
    if not probed_rows:
        # No queries -> no probed cells. Never scan the corpus just to
        # join against an empty broadcast: return an empty top-k frame
        # with the standard (qid, id, sim, rank) shape.
        empty = _rescore_probed(
            scan.filter(F.lit(False)),
            probed_plan.filter(F.lit(False)),
            k, id_col, vec_col,
        )
        return empty
    _reject_null_query_probes(probed_rows)
    cells = sorted({int(r["cell"]) for r in probed_rows})
    scan = scan.filter(F.col("cell").isin(cells))
    return _matmul_rescore_probed(scan, probed_rows, k, id_col, vec_col)


def _reject_null_query_probes(probed_rows: list) -> None:
    """NULL query vectors are a caller bug surfaced at plan time —
    the same contract as :func:`..vector.collect_query_vectors`.
    Without this, the two rescore paths would diverge on them (the
    matmul path emits nothing for a null query, the pair-join path
    emits null-sim rows), breaking the pruned==unpruned equality the
    indexed suites assert."""
    if any(r["_qvec"] is None for r in probed_rows):
        raise ValueError(
            "indexed top-k: NULL query embedding — filter or fix the "
            "query side before probing"
        )


def _matmul_rescore_probed(
    scan: DataFrame,
    probed_rows: list,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Cell-aware numpy rescore for the write-time index: each Arrow
    batch of the (partition-pruned) scan is scored ONLY against the
    queries that probed its cell, one :func:`..vector.score_batch` call
    per cell group — bit-identical values to the pair-join
    `_rescore_probed` shape (asserted by the pruned==unpruned equality
    in ann_ivf_indexed_suite), but the 1536-d embeddings never fan out
    into per-pair rows: the candidate stream stays (qid, id, sim)
    narrow. Probed rows are already collected (n_queries x nprobe —
    tiny), so the per-cell query matrices fold into the closure like
    matmul_topk's query matrix."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    by_cell: dict[int, list] = {}
    for r in probed_rows:
        if r["_qvec"] is None:
            continue
        by_cell.setdefault(int(r["cell"]), []).append(r)
    cell_mats = {
        cell: (
            [r["qid"] for r in rows],
            *query_matrix([[float(x) for x in r["_qvec"]] for r in rows]),
        )
        for cell, rows in by_cell.items()
    }

    in_fields = {f.name: f for f in scan.schema.fields}
    schema = StructType(
        [
            StructField("qid", in_fields[id_col].dataType),
            in_fields[id_col],
            StructField("sim", DoubleType()),
        ]
    )

    def score(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            for cell_val, grp in pdf.groupby("cell"):
                entry = cell_mats.get(int(cell_val))
                if entry is None:
                    continue
                qids, qmat, qn = entry
                # .to_numpy(): grp keeps the parent frame's index
                # after groupby; mixing it with the fresh RangeIndex
                # sim series would misalign rows to NaN.
                ids = grp[id_col].to_numpy()
                sims = score_batch(grp[vec_col].to_numpy(), qmat, qn)
                for qid, sim in zip(qids, sims):
                    yield pd.DataFrame({"qid": qid, id_col: ids, "sim": sim})

    scored = (
        scan.select(id_col, vec_col, "cell")
        .mapInPandas(score, schema)
        .withColumn("sim", F.round("sim", 4))
    )
    return topk_per_query(scored, k, tiebreak_col=id_col)


def ivf_table_create(
    spark,
    corpus: DataFrame,
    table_dir: str,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_fraction: float | None = None,
    extra_cols: tuple[str, ...] = (),
) -> int:
    """The IVF index as a TRANSACTIONAL snapshot-log table: cell-tagged
    segments (partition purity via sources/transactional.py) + an
    nlist-row centroid sidecar. Unlike :func:`ivf_write_index`'s bare
    parquet layout, this index supports atomic upserts/deletes with
    snapshot isolation and time travel — the engine's Pinecone-upsert
    lifecycle (models/embeddingmodel.js:4-12) ON the serving index,
    not beside it. Per-segment ``id`` min/max stats are recorded at
    every commit, so keyed mutations prune inside probed cells too.
    ``extra_cols`` ride along as metadata for filtered queries
    (:func:`ivf_table_topk`'s ``where``)."""
    from ..sources.transactional import create_partitioned_table

    assigned, cent_df = ivf_fit_cells(
        corpus, nlist, vec_col, seed, fit_fraction
    )
    rel = _stage_centroids(cent_df, table_dir)
    return create_partitioned_table(
        spark,
        assigned.select(id_col, vec_col, *extra_cols, "cell"),
        table_dir,
        partition_col="cell",
        key=id_col,
        meta={"centroids": rel},
    )


def _stage_centroids(cent_df: DataFrame, table_dir: str) -> str:
    """Write a centroid-model sidecar under a fresh content-addressed
    name (``centroids/m-<uuid>``) and return its table-relative path.
    Invisible until a commit's ``meta["centroids"]`` references it —
    the sidecar is staged BEFORE the commit and the manifest publishes
    the pointer atomically with the assignment, so no crash point can
    leave an assignment probing a model it wasn't built with. A writer
    dying after staging leaves an unreferenced sidecar the age-gated
    :func:`ivf_table_vacuum` reaps like any uncommitted segment."""
    rel = f"centroids/m-{uuid.uuid4().hex}"
    cent_df.coalesce(1).write.parquet(f"{table_dir}/{rel}")
    return rel


def _load_centroids(spark, table_dir: str, version: int | None = None):
    """Centroid model effective at ``version``: the manifest-published
    ``meta["centroids"]`` pointer (atomic with its assignment — time
    travel gets the exact model its version committed with). Every IVF
    writer commits that pointer; a version without one raises."""
    from ..sources.snapshot_log import latest_version, table_meta

    if version is None:
        version = latest_version(table_dir)
    rel = table_meta(table_dir, version).get("centroids")
    if rel is None:
        raise ValueError(
            f"{table_dir} has no centroid model at v{version}: its "
            'manifest meta carries no "centroids" pointer'
        )
    return spark.read.parquet(f"{table_dir}/{rel}")


def ivf_assign_cells(
    updates: DataFrame,
    cent_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``updates`` + a ``cell`` column: nearest centroid by cosine —
    the PROBE's metric, so an upserted vector is found whenever its
    cell is probed. query x nlist crossJoin (broadcast-tiny),
    ``max_by`` argmax — no window, no shuffle beyond the final
    aggregation on the update batch.

    A NULL vector, or one whose size differs from the centroids', can
    never be scored against the index: it raises (per row, inside the
    job that assigns it — no extra Spark job) instead of landing in
    cell 0 with a NULL similarity forever."""
    vec = F.col(vec_col)
    sims = updates.crossJoin(F.broadcast(cent_df)).select(
        F.col(id_col),
        "cell",
        F.when(
            F.size(vec) == F.size("centroid"),
            cosine_similarity(vec, F.col("centroid")),
        )
        .otherwise(
            F.raise_error(
                F.format_string(
                    "ivf_assign_cells: vector of %s=%s has size %s, the "
                    "index centroids have size %s",
                    F.lit(id_col),
                    F.col(id_col).cast("string"),
                    F.size(vec).cast("string"),
                    F.size("centroid").cast("string"),
                )
            )
        )
        .alias("_csim"),
    )
    best = sims.groupBy(id_col).agg(
        F.expr(
            # Ties break to the LOWEST cell id (negate in the struct),
            # matching ivf_probed_cells' deterministic ordering.
            "max_by(cell, named_struct('s', _csim, 'c', -cell)) AS cell"
        )
    )
    # INT to match ivf_fit_cells' KMeans prediction dtype — mixed
    # int/long cell columns across segments break the parquet read.
    best = best.withColumn("cell", F.col("cell").cast("int"))
    return updates.join(best, id_col)


def ivf_table_upsert(
    spark,
    table_dir: str,
    updates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    txn: tuple[str, int] | None = None,
    max_replans: int = 4,
) -> int | None:
    """Atomic index maintenance: assign each update to its nearest
    cell, then a GLOBAL-identity upsert — an updated embedding that
    moves to a different cell removes its old row from the previous
    cell and lands in the new one in the SAME commit (a cell-scoped
    upsert would strand a stale twin the probe could still find).
    Old-row lookup prunes by the recorded id min/max before opening
    any cell's files.

    Conflict retries happen HERE, not inside the upsert: when the
    writer that won the race was :func:`ivf_table_rebalance`, the
    centroid model changed, and retrying with the cells assigned under
    the OLD model would land vectors in cells the new model's probes
    may never select — a permanent recall hole, not the documented
    transient dip. Each retry reloads the head's centroids and
    re-assigns before re-planning the upsert."""
    from ..sources.snapshot_log import CommitConflictError
    from ..sources.transactional import read_table, upsert_by_key_global

    table_schema = read_table(spark, table_dir).schema
    # Updates must carry every index column (id, vector, metadata):
    # a staged segment missing a metadata column would give the table
    # mixed per-file schemas — a nondeterministic read.
    table_cols = [f.name for f in table_schema.fields if f.name != "cell"]
    missing = set(table_cols) - set(updates.columns)
    if missing:
        raise ValueError(
            f"ivf_table_upsert: updates missing index columns "
            f"{sorted(missing)} (table carries {table_cols})"
        )
    # Conform the update vectors to the TABLE's element type (fixture
    # embeddings are float32): mixed float/double segments break the
    # vectorized parquet read.
    updates = updates.withColumn(
        vec_col, F.col(vec_col).cast(table_schema[vec_col].dataType)
    )
    last: Exception | None = None
    for _ in range(max_replans):
        cent_df = _load_centroids(spark, table_dir)
        assigned = ivf_assign_cells(updates, cent_df, id_col, vec_col)
        try:
            return upsert_by_key_global(
                spark,
                table_dir,
                assigned.select(*table_cols, "cell"),
                key=id_col,
                partition_col="cell",
                txn=txn,
                max_replans=1,  # replan here: assignment must refresh
            )
        except CommitConflictError as e:
            last = e
    raise last if last is not None else CommitConflictError(table_dir)


def ivf_table_delete(
    spark, table_dir: str, ids: DataFrame, id_col: str = "vec_id"
) -> int:
    """S6 on the serving index: cross-cell delete by id. Only cells
    that actually lose rows are rewritten, and the recorded id
    min/max stats skip untouched cells before any file opens."""
    from ..sources.transactional import delete_by_key

    return delete_by_key(
        spark, table_dir, ids, key=id_col, partition_col="cell"
    )


def ivf_table_rebalance(
    spark,
    table_dir: str,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_fraction: float | None = None,
    max_replans: int = 4,
) -> int:
    """Atomic index REBUILD: re-fit the centroid model on the current
    rows and reassign every vector, swapping all base segments in ONE
    conflict-checked commit — the answer to cell skew after many
    upserts. Pinned readers keep probing their own version with its
    own centroid model (content-addressed sidecars resolved through
    each version's manifest ``meta``); a concurrent writer on the same
    table costs this rebalance a re-plan, never a torn index. The new
    model's sidecar is STAGED before the commit and the commit's
    ``meta["centroids"]`` pointer publishes it atomically with the
    assignment — there is no crash point at which the new assignment
    probes with the old model (r6 published the sidecar after the
    commit; a crash in that window stranded the table on the previous
    model permanently)."""
    from ..sources.snapshot_log import CommitConflictError
    from ..sources.transactional import (
        _guard_no_log,
        _is_log,
        _read_segments,
        _segment_key_stats,
        _stage_partition_segments,
        commit_segments,
        latest_version,
        live_segments,
    )

    last: Exception | None = None
    for _ in range(max_replans):
        head = latest_version(table_dir)
        try:
            live = live_segments(table_dir, head)
        except FileNotFoundError:
            continue
        _guard_no_log(live, table_dir, "ivf_table_rebalance")
        bases = [s for s in live if not _is_log(s)]
        if not bases:
            return head
        current = _read_segments(spark, table_dir, bases).drop("cell")
        keep_cols = current.columns  # id + vector + metadata ride along
        assigned, cent_df = ivf_fit_cells(
            current, nlist, vec_col, seed, fit_fraction
        )
        new_rels = _stage_partition_segments(
            assigned.select(*keep_cols, "cell"), table_dir, "cell"
        )
        cent_rel = _stage_centroids(cent_df, table_dir)
        try:
            return commit_segments(
                table_dir, added=new_rels, removed=bases, op="rebalance",
                stats=_segment_key_stats(
                    table_dir, new_rels, id_col, spark=spark
                ),
                meta={"centroids": cent_rel},
            )
        except CommitConflictError as e:
            import shutil as _sh

            for rel in [*new_rels, cent_rel]:
                _sh.rmtree(f"{table_dir}/{rel}", ignore_errors=True)
            last = e
            continue
    raise last if last is not None else CommitConflictError(table_dir)


def ivf_table_vacuum(
    table_dir: str, keep_versions: int = 1, **vacuum_kwargs
) -> list[str]:
    """Table vacuum + centroid-model reaping. A sidecar survives iff
    some RETAINED version's manifest ``meta`` resolves to it (every
    retained version keeps probing with its exact model). A sidecar
    that was committed but rotated out of the window (known from the
    pre-vacuum meta walk) deletes immediately, like segments dropped by
    a committed rewrite; an UNREFERENCED sidecar is indistinguishable
    from an in-flight rebalance's staged model, so it only reaps past
    ``orphan_min_age_sec`` (same rule as uncommitted segments)."""
    import os as _os
    import shutil as _sh
    import time as _time

    from ..sources.snapshot_log import table_meta, vacuum, versions

    def _models_at(vs: list[int]) -> tuple[set[str], bool]:
        """Referenced sidecars at ``vs``, plus whether EVERY version's
        meta resolved. An incomplete walk (a version's manifest
        vanished under us — raced a concurrent vacuum) must disable
        reaping entirely: a sidecar referenced only by the unreadable
        version would land in neither set, and the age gate only
        protects YOUNG sidecars — any committed model older than
        orphan_min_age_sec would be deleted while still referenced."""
        out: set[str] = set()
        complete = True
        for v in vs:
            try:
                rel = table_meta(table_dir, v).get("centroids")
            except FileNotFoundError:
                complete = False
                continue
            if rel is not None:
                out.add(rel)
        return out, complete

    ever, ever_ok = _models_at(versions(table_dir))
    deleted = vacuum(table_dir, keep_versions, **vacuum_kwargs)
    vs = versions(table_dir)
    if not vs:
        return deleted
    reachable, reach_ok = _models_at(vs)
    root = f"{table_dir}/centroids"
    try:
        names = _os.listdir(root)
    except FileNotFoundError:
        return deleted
    min_age = vacuum_kwargs.get("orphan_min_age_sec", 3600.0)
    now = _time.time()
    if ever_ok and reach_ok:  # only reap with a COMPLETE reachable set
        for n in sorted(names):
            if not n.startswith("m-"):
                continue
            rel = f"centroids/{n}"
            if rel in reachable:
                continue
            if rel not in ever:
                try:
                    age = now - _os.path.getmtime(
                        _os.path.join(root, n)
                    )
                except OSError:
                    continue
                if age < min_age:
                    continue  # possibly in-flight rebalance staging
            _sh.rmtree(_os.path.join(root, n), ignore_errors=True)
            deleted.append(rel)
    return deleted


def ivf_table_topk(
    spark,
    table_dir: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    version: int | None = None,
    where=None,
) -> DataFrame:
    """Partition-pruned probe over the transactional index: probed
    cells prune at the SEGMENT LIST (manifest level — no directory
    listing of unprobed cells, the step object stores make expensive),
    then the cell-aware matmul rescore. ``version`` pins time travel:
    top-k as of any retained index version.

    ``where`` (a Column or SQL string over the index's metadata
    columns) is the Pinecone filtered query
    (conversationController.js:32-36 filter semantics): applied INSIDE
    the probed cells before scoring, so the filter rides the pruned
    scan — never a post-top-k filter that could return < k survivors
    of an unfiltered ranking."""
    from ..sources.transactional import read_table

    cent_df = _load_centroids(spark, table_dir, version)
    probed_plan = ivf_probed_cells(cent_df, queries, nprobe, id_col, vec_col)
    probed_rows = probed_plan.collect()
    if not probed_rows:
        scan = read_table(spark, table_dir, version=version).filter(
            F.lit(False)
        )
        return _rescore_probed(
            scan, probed_plan.filter(F.lit(False)), k, id_col, vec_col
        )
    _reject_null_query_probes(probed_rows)
    cells = {str(int(r["cell"])) for r in probed_rows}
    scan = read_table(
        spark, table_dir, version=version, partitions=cells,
        partition_col="cell",
    )
    if where is not None:
        scan = scan.filter(
            F.expr(where) if isinstance(where, str) else where
        )
    return _matmul_rescore_probed(scan, probed_rows, k, id_col, vec_col)


def recall_at_k(
    approx: DataFrame, exact: DataFrame, k: int = 10
) -> DataFrame:
    """One-row recall report: |approx ∩ exact| / |exact| over all
    queries (both inputs shaped (qid, vec_id, ...rank<=k)).

    Pure plan — a left join + one aggregate, no driver-side actions —
    so it composes into larger plans and runs as a single Spark job.
    """
    # Dedupe defensively: a duplicate (qid, vec_id) in approx (e.g.
    # multi-probe candidates ranked without a prior distinct) would fan
    # out the join and inflate both n_hits and n_exact.
    marked = (
        approx.select("qid", "vec_id").distinct().withColumn(
            "_hit", F.lit(1)
        )
    )
    joined = exact.select("qid", "vec_id").join(
        marked, ["qid", "vec_id"], "left"
    )
    return joined.agg(
        F.count_distinct("qid").alias("n_queries"),
        F.count("_hit").alias("n_hits"),
        F.count(F.lit(1)).alias("n_exact"),
    ).select(
        F.lit(k).cast("int").alias("k"),
        "n_queries",
        "n_hits",
        "n_exact",
        F.when(
            F.col("n_exact") > 0,
            F.round(F.col("n_hits") / F.col("n_exact"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("recall"),
    )


def exact_baseline(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    return brute_force_topk(corpus, queries, k, id_col, vec_col)
