"""Deterministic embedding clustering for corpus organization.

A training-data pipeline clusters document embeddings to drive topic
balancing, mixture weighting, and diversity-aware sampling. Models
fitted on a bounded collected sample (the IVF cells of :mod:`.ann`,
the PQ codebooks of :mod:`.pq`) run :func:`lloyd`, the one driver-side
numpy Lloyd loop; float sums there are exact for a given sample but
not portable across engines.

:func:`quantized_lloyd` is the distributed, reproducible form:
embeddings are quantized to integers (``floor(x * scale + 0.5)``) and
every Lloyd step — distances, argmin, centroid means — is exact integer
or integer-derived arithmetic with a fixed tie rule, so the assignment
is a pure function of the input set, independent of partitioning, task
order, or engine. That makes it oracle-checkable value-for-value in
SQL (``scale_kmeans_topics``) and stable across pipeline reruns.

Scale shape (100 TB corpus, k in the hundreds):
* Assignment is a stateless map over the corpus: centroids are a
  driver-held model (k x dim integers — KBs) folded into the plan as
  literals; no join, no shuffle of vectors.
* Each update is one map-side-combined ``groupBy(cluster, pos)`` over
  the exploded quantized vectors: the shuffle carries k x dim partial
  (sum, count) rows per map partition, never the corpus.
* The driver collects k x dim aggregates per round (the model, not
  data) — the same Pregel-lite loop as
  :func:`~..operators.dedup.connected_components`.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import scoped_cache
from .vector import majority_dim

#: Fixed-point scale for embedding quantization: 6 decimal digits keeps
#: full float32 precision (~7 significant digits) while bounding the
#: integer range so squared distances stay in BIGINT.
QUANT_SCALE = 1_000_000

#: Driver-side fits read at most this many vectors per centroid (FAISS's
#: upper training guideline) and this many vector elements in all (256
#: MiB of float64, well inside the driver's default 1 GiB result limit).
FIT_ROWS_PER_CELL = 256
FIT_SAMPLE_VALUES = 1 << 25


def hash_sample(df: DataFrame, vec_col: str, seed: int, rows: int):
    """The first ``rows`` rows of ``df`` in ``xxhash64(vec_col, seed)``
    order, as a filter of ``df`` that keeps its row order: a pure
    function of the data, the same under any scan layout. One job cuts
    it from the hash column alone (a top ``rows + 1`` of 8-byte hashes),
    so the driver receives the sample and nothing more, where
    ``orderBy(hash).limit(rows).collect()`` ships every partition's own
    top ``rows`` vectors. Rows sharing the cutoff hash are copies of one
    vector; a cap that splits them keeps as many as the top holds."""
    h = F.xxhash64(F.col(vec_col), F.lit(seed))
    top = df.select(h.alias("_h")).orderBy("_h").limit(rows + 1)
    taken = 0
    for cut, c in sorted(map(tuple, top.groupBy("_h").count().collect())):
        if taken + c > rows:  # copies of the cutoff vector straddle it
            return df.where(h < cut).unionByName(
                df.where(h == cut).limit(rows - taken)
            )
        taken += c
        if taken == rows:
            return df.where(h <= cut)
    return df  # no more than ``rows`` rows


def lloyd(x, cent, iters: int, spherical: bool = False):
    """``iters`` Lloyd steps over the rows of ``x`` from the centroids
    ``cent``, in numpy on the driver: every row joins its nearest
    centroid (lowest index on ties), every centroid moves to its
    members' mean. ``spherical`` is cosine k-means over unit rows:
    nearest is the largest inner product, and means are renormalized.
    A centroid left without members, or with a zero mean, stays put."""
    import numpy as np

    cent = np.array(cent, dtype=np.float64)
    for _ in range(iters):
        if spherical:
            assign = (x @ cent.T).argmax(1)
        else:  # squared distances via the expanded dot form
            assign = (
                (x * x).sum(1)[:, None]
                - 2.0 * x @ cent.T
                + (cent * cent).sum(1)[None, :]
            ).argmin(1)
        for c in np.unique(assign):
            mean = x[assign == c].mean(0)
            norm = np.linalg.norm(mean) if spherical else 1.0
            if norm > 0:
                cent[c] = mean / norm
    return cent


def _half_up(x: float) -> int:
    """``floor(x + 0.5)`` — the one rounding rule used everywhere in
    this module (quantization, centroid means). Identical across
    Python, Spark, and DuckDB as long as ``x`` is the same IEEE
    double; centroid means therefore mirror the oracle's exact
    evaluation path (see :func:`quantized_lloyd`)."""
    return math.floor(x + 0.5)


def quantize_vectors(
    df: DataFrame, vec_col: str = "embedding", scale: int = QUANT_SCALE
) -> DataFrame:
    """Add ``q``: the vector as ``array<bigint>`` fixed-point values,
    ``q[i] = floor(v[i] * scale + 0.5)``."""
    return df.withColumn(
        "q",
        F.transform(
            vec_col,
            lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)),
        ),
    )


def _packed_argmin(centroids: list[tuple[int, list[int]]], k: int):
    """``min(sq_dist * k + c)`` over the centroid set: one BIGINT whose
    ``% k`` is the best cluster and ``div k`` the best squared
    distance, with distance ties breaking to the smallest cluster id —
    a total order, so the argmin is deterministic. Range check: with
    |q| <= ~scale * |v|max and dim d, sq_dist <= d * (2 * scale *
    |v|max)^2; at d=64, scale=1e6, |v|max~4 that is ~4e15, and * k=8
    stays well inside BIGINT."""
    dists = []
    for c, vec in centroids:
        lits = F.array(*[F.lit(int(v)).cast("bigint") for v in vec])
        d = F.aggregate(
            F.zip_with(F.col("q"), lits, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        dists.append(d * k + F.lit(c).cast("bigint"))
    return F.array_min(F.array(*dists))


#: Centroid count past which assignment switches from the expression
#: tree to one Arrow matmul pass. The expression argmin embeds k
#: zip_with/aggregate branches (each carrying a dim-length literal
#: array) into the plan — linear in k with a large codegen constant,
#: fine for the oracle-pinned k=8 queries but unusable at SemDeDup's
#: paper-scale k (50k clusters for 600M items, arXiv:2303.09540).
#: Both paths produce the identical exact assignment (pinned by
#: tests/test_scale.py); the oracle-checked registered queries all
#: run k=8 and never cross this gate.
ARROW_ASSIGN_MIN_K = 32


def _assign_arrow(
    q: DataFrame, centroids: list[tuple[int, list[int]]], k: int,
    id_col: str,
) -> DataFrame:
    """Large-k assignment: one ``mapInPandas`` pass computing the full
    (batch x centroids) squared-distance matrix as
    ``|q|^2 + |c|^2 - 2 q.C^T`` — the centroid matrix is a driver-held
    k x dim int64 model shipped inside the closure (KBs), so the pass
    stays a stateless, shuffle-free map exactly like the expression
    path.

    Exactness: inputs are quantized int64. The cross term runs as a
    float64 BLAS matmul whenever ``dim * max|q| * max|c| < 2^53`` —
    every product and every partial sum is then an integer below
    2^53, so IEEE double arithmetic is EXACT regardless of
    accumulation order (at the module's scale=1e6 and unit-norm
    embeddings that allows dim up to ~4000). Past the bound it falls
    back to the int64 matmul, which carries the same BIGINT range
    contract as the expression path's ``(a-b)^2`` fold — and, unlike
    numpy's silent wraparound, ENFORCES it: if the worst-case squared
    distance ``dim * (max|q| + max|c|)^2`` leaves int64 range the
    pass raises instead of returning a wrapped argmin that would
    silently disagree with the expression path. Ties break to
    the smallest cluster id: centroids are sorted ascending and
    ``argmin`` returns the first minimum — the same total order as
    ``min(sq_dist * k + c)``.

    Requires uniform vector length (callers filter
    ``size(q) == dim`` first, as :func:`quantized_lloyd_fit`
    documents)."""
    import numpy as np
    import pandas as pd

    cents = sorted(centroids)
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    cmat = np.array([v for _, v in cents], dtype=np.int64)
    dim = cmat.shape[1]
    c_sq = (cmat * cmat).sum(axis=1)
    max_c = int(np.abs(cmat).max()) if cmat.size else 0
    cmat_f = cmat.astype(np.float64)
    # The id column keeps the caller's type (public API, arbitrary
    # id_col — string doc ids included); hardcoding bigint here would
    # make the k-gate silently change the OUTPUT SCHEMA, not just the
    # physical path.
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField(id_col, q.schema[id_col].dataType),
            StructField("q", ArrayType(LongType())),
            StructField("cluster", IntegerType()),
            StructField("sq_dist", LongType()),
        ]
    )

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qm = np.array(pdf["q"].tolist(), dtype=np.int64)
            max_q = int(np.abs(qm).max()) if qm.size else 0
            # numpy wraps silently on int64 overflow, and the
            # |q|^2+|c|^2-2q.c decomposition wraps DIFFERENTLY than the
            # expression path's (a-b)^2 fold — enforce the documented
            # BIGINT contract explicitly instead of returning a wrapped
            # argmin. dim*(max|q|+max|c|)^2 bounds every intermediate
            # (squared norms, 2*cross, final distance); the check is
            # exact — Python ints are unbounded.
            if dim * (max_q + max_c) ** 2 >= 2**63:
                raise ValueError(
                    "assign_clusters: quantized inputs exceed the "
                    "BIGINT distance contract (dim * (max|q| + "
                    f"max|c|)^2 = {dim * (max_q + max_c) ** 2} >= "
                    "2^63); rescale the quantization"
                )
            if dim * max_q * max_c < 2**53:
                cross = np.rint(qm.astype(np.float64) @ cmat_f.T).astype(
                    np.int64
                )
            else:
                cross = qm @ cmat.T
            dists = (
                (qm * qm).sum(axis=1)[:, None]
                + c_sq[None, :]
                - 2 * cross
            )
            best = dists.argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "q": pdf["q"].to_numpy(),
                    "cluster": cids[best].astype(np.int32),
                    "sq_dist": dists[np.arange(len(best)), best],
                }
            )

    return q.select(id_col, "q").mapInPandas(assign, out_schema)


def assign_clusters(
    q: DataFrame, centroids: list[tuple[int, list[int]]], k: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, cluster, sq_dist) under the given centroid model — a
    stateless, shuffle-free map over the quantized corpus. Below
    :data:`ARROW_ASSIGN_MIN_K` centroids the distances fold into the
    plan as a JVM expression tree; at or above it, one Arrow matmul
    pass (:func:`_assign_arrow`) — identical exact assignment either
    way."""
    if len(centroids) >= ARROW_ASSIGN_MIN_K:
        return _assign_arrow(q, centroids, k, id_col)
    packed = _packed_argmin(centroids, k)
    return q.withColumn("_packed", packed).select(
        id_col,
        "q",
        (F.col("_packed") % k).cast("int").alias("cluster"),
        F.expr(f"_packed div {k}").alias("sq_dist"),
    )


def quantized_lloyd(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    scale: int = QUANT_SCALE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic k-means over an embedding column.

    ``iters`` assignment passes with ``iters - 1`` interleaved centroid
    updates (so the output is the assignment under the last updated
    model). Initial centroids are the quantized vectors of the ``k``
    smallest ids — deterministic and oracle-expressible (k-means++ style
    seeding would add randomness for no correctness gain here; at scale
    seed with a hash-stratified sample instead).

    Centroid update: per-cluster per-dimension mean of the quantized
    values, rounded half-up — exact integer sums (order-independent,
    unlike float accumulation) divided on the driver. The division
    mirrors the SQL oracle's evaluation path exactly (sum converted to
    double FIRST, then divided — ``float(s) / n``), so parity holds
    whenever the sum itself is double-exact, i.e. |sum| < 2^53: at
    scale=1e6 and |v|<=~4 that allows ~10^9 members per cluster per
    dimension; past it, both the claim and the oracle would need a
    scaled-down quantization. A cluster that loses all members drops
    out of the model; surviving ids keep their original cluster
    numbers.

    Ragged input: the model dimension is the MODAL vector length among
    non-empty vectors (ties to the smaller dim — deterministic), fixed
    BEFORE seeding; rows of any other length are DROPPED, and seeds are
    drawn from the filtered frame. Filtering first matters: a ragged or
    empty vector among the k smallest ids would otherwise become a
    malformed centroid (zip_with null-pads its distances so it never
    wins members), and an empty FIRST seed would define dim=0 and drop
    every well-formed row.

    Returns (id, cluster, sq_dist) ordered by id.
    """
    centroids, dim = quantized_lloyd_fit(
        vectors, k=k, iters=iters, scale=scale,
        id_col=id_col, vec_col=vec_col,
    )
    q = scoped_cache(
        quantize_vectors(vectors, vec_col, scale).select(id_col, "q")
    ).filter(F.size("q") == dim)
    return (
        assign_clusters(q, centroids, k, id_col)
        .select(id_col, "cluster", "sq_dist")
        .orderBy(id_col)
    )


def quantized_lloyd_fit(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    scale: int = QUANT_SCALE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[tuple[int, list[int]]], int]:
    """The fitting half of :func:`quantized_lloyd`: seed + ``iters - 1``
    centroid updates over ``vectors``, returning ``(centroids, dim)`` —
    the model the final assignment pass runs under. Exposed so a FROZEN
    model can classify data the fit never saw (incremental semantic
    dedup assigns an arriving batch under the existing corpus' model
    without refitting). ``centroids`` is a k-or-fewer list of
    ``(cluster_id, quantized_vector)``; ``dim`` is the modal vector
    length the model was fitted at (:func:`..vector.majority_dim`;
    rows of any other length must be dropped before
    :func:`assign_clusters`, exactly as the fit dropped them)."""
    q = scoped_cache(
        quantize_vectors(vectors, vec_col, scale).select(id_col, "q")
    )
    # quantize_vectors keeps each vector's size, so the cached codes
    # answer the one dimension rule without another scan.
    dim = majority_dim(q, "q")
    if dim is None:
        raise ValueError("quantized_lloyd: input has no non-empty vectors")
    q = q.filter(F.size("q") == dim)
    init = q.orderBy(id_col).limit(k).collect()
    centroids = [(i, [int(v) for v in r["q"]]) for i, r in enumerate(init)]
    for _ in range(iters - 1):
        assigned = assign_clusters(q, centroids, k, id_col)
        sums = (
            assigned.select(
                "cluster", F.posexplode("q").alias("pos", "v")
            )
            .groupBy("cluster", "pos")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        by_cluster: dict[int, dict[int, int]] = {}
        for r in sums:
            # float(s) FIRST (sum -> double, then divide): the oracle's
            # exact path — int/int would round the rational once, the
            # oracle rounds sum-to-double then divides, and the two can
            # differ 1 ulp when |s| nears 2^53 (see docstring).
            by_cluster.setdefault(int(r["cluster"]), {})[int(r["pos"])] = (
                _half_up(float(int(r["s"])) / int(r["n"]))
            )
        centroids = [
            (c, [dims[p] for p in sorted(dims)])
            for c, dims in sorted(by_cluster.items())
        ]
    return centroids, dim


def semdedup_prune(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    prune_num: int = 1,
    prune_den: int = 4,
    vec_bytes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup semantic pruning (Abbas et al. 2023, arXiv:2303.09540):
    cluster, score each item's redundancy WITHIN its cluster, prune the
    top ``ceil(n * prune_num / prune_den)`` most-redundant per cluster.

    Redundancy of an item = max exact cosine (4dp) to any LOWER-ID
    cluster-mate, ties on witness id — every step deterministic, so
    reruns (and the SQL oracle in ``dedup_semantic_semdedup``) agree
    value-for-value. The cluster's minimum id has no lower-id mate and
    can never be pruned: each cluster keeps >= 1 representative for any
    prune fraction <= 1.

    Scale shape: clustering per :func:`quantized_lloyd` (stateless
    assignment, model-sized shuffles); the only corpus-sized shuffle
    keys on ``cluster`` for the pair join, quadratic in CLUSTER size by
    design — choose k ~ n/target_cluster_size (the paper runs 50k
    clusters for 600M items; large k is cheap because assignment
    switches to the Arrow matmul pass at :data:`ARROW_ASSIGN_MIN_K` —
    measured law at sf10 in BENCH_EXTRAS_SF10 `dedup_semantic_scaling`:
    k=8 → 2.5B within-cluster pairs, k=512 → 39M). Rescoring inherits
    :func:`~..operators.vector.rescore_candidates`' size-aware join.

    Returns (removed, cluster, witness, redundancy) ordered by removed.
    """
    from pyspark.sql import Window

    from .vector import rescore_candidates

    # The assignment feeds three consumers (both pair sides + the
    # cluster-size histogram); at cluster scale it is the persisted
    # (id, cluster) table SemDeDup materializes once per corpus. Built
    # from fit + assign directly (not quantized_lloyd) to skip that
    # function's contractual ORDER BY — every consumer here re-shuffles
    # on cluster or item, so a range sort would be a wasted exchange
    # (seen in the executed plan before this change).
    centroids, dim = quantized_lloyd_fit(
        vectors, k=k, iters=iters, id_col=id_col, vec_col=vec_col
    )
    q = scoped_cache(
        quantize_vectors(vectors, vec_col).select(id_col, "q")
    ).filter(F.size("q") == dim)
    assign = scoped_cache(
        assign_clusters(q, centroids, k, id_col).select(id_col, "cluster")
    )
    x = assign.select(F.col(id_col).alias("a"), "cluster")
    y = assign.select(F.col(id_col).alias("b"), "cluster")
    cands = (
        x.join(y.hint("shuffle_hash"), "cluster")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    # dim comes from the fit (a plan-build-time int), so the rescore
    # takes the unrolled zero-Python scoring path (r11).
    scored = rescore_candidates(
        cands,
        vectors,
        id_col=id_col,
        vec_col=vec_col,
        vec_bytes=vec_bytes,
        dim=dim,
    )
    # Redundancy of item b = its single most-similar lower-id
    # cluster-mate (ties to the smallest witness id).
    per_item = Window.partitionBy("b").orderBy(F.desc("sim"), "a")
    red = (
        scored.withColumn("rn", F.row_number().over(per_item))
        .filter(F.col("rn") == 1)
        .select(
            "b",
            F.col("a").alias("witness"),
            F.col("sim").alias("redundancy"),
        )
        .join(assign.withColumnRenamed(id_col, "b"), "b")
    )
    # Integer ceil of the per-cluster prune budget so both engines
    # agree exactly (no float fraction anywhere).
    sizes = assign.groupBy("cluster").agg(F.count("*").alias("n"))
    per_cluster = Window.partitionBy("cluster").orderBy(
        F.desc("redundancy"), "b"
    )
    budget = f"(n * {int(prune_num)} + {int(prune_den) - 1}) div {int(prune_den)}"
    return (
        red.withColumn("rk", F.row_number().over(per_cluster))
        .join(F.broadcast(sizes), "cluster")
        .filter(F.col("rk") <= F.expr(budget))
        .select(
            F.col("b").alias("removed"), "cluster", "witness", "redundancy"
        )
        .orderBy("removed")
    )


def semdedup_incremental(
    existing: DataFrame,
    incoming: DataFrame,
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.92,
    vec_bytes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Ingest-time semantic near-dup gate: classify an ARRIVING batch
    against the EXISTING corpus without refitting or self-pairing.

    The model is fitted on ``existing`` only (:func:`quantized_lloyd_fit`
    — at cluster scale a persisted centroid table refreshed on corpus
    maintenance, not per shard); the arriving batch is assigned under
    that frozen model (stateless map — centroids are literals), and
    each incoming item is exactly rescored ONLY against existing
    members of its own cluster. Directional by construction: existing
    never pairs with existing, incoming never with incoming — the
    semantic twin of ``minhash``'s directional band join
    (plans/dedup.py `dedup_incremental_minhash`).

    Per incoming item: its best same-cluster existing match (max
    cosine at 4dp, ties to the smallest existing id) and the
    keep/reject verdict ``is_dup = best_sim >= threshold``. An item
    whose cluster holds no existing member (possible: the final
    assignment pass can empty a surviving centroid's cell) reports a
    NULL match and ``is_dup = false``.

    Incoming rows whose vector length differs from the model dim drop,
    exactly as the fit drops them.

    Returns (new_id, cluster, matched_id, best_sim, is_dup) ordered by
    new_id.
    """
    from pyspark.sql import Window

    from .vector import rescore_candidates

    centroids, dim = quantized_lloyd_fit(
        existing, k=k, iters=iters, id_col=id_col, vec_col=vec_col
    )
    ex_q = scoped_cache(
        quantize_vectors(existing, vec_col).select(id_col, "q")
    ).filter(F.size("q") == dim)
    ex_assign = assign_clusters(ex_q, centroids, k, id_col).select(
        F.col(id_col).alias("b"), "cluster"
    )
    inc_q = quantize_vectors(incoming, vec_col).select(id_col, "q").filter(
        F.size("q") == dim
    )
    inc_assign = scoped_cache(
        assign_clusters(inc_q, centroids, k, id_col).select(
            F.col(id_col).alias("a"), "cluster"
        )
    )
    cands = inc_assign.join(ex_assign.hint("shuffle_hash"), "cluster").select(
        "a", "b"
    )
    vectors = existing.unionByName(incoming).select(id_col, vec_col)
    # dim from the fit -> unrolled zero-Python rescore (r11).
    scored = rescore_candidates(
        cands,
        vectors,
        id_col=id_col,
        vec_col=vec_col,
        vec_bytes=vec_bytes,
        dim=dim,
    )
    best = (
        scored.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("a").orderBy(F.desc("sim"), "b")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("a", F.col("b").alias("matched_id"),
                F.col("sim").alias("best_sim"))
    )
    return (
        inc_assign.join(best, "a", "left")
        .select(
            F.col("a").alias("new_id"),
            "cluster",
            "matched_id",
            "best_sim",
            F.coalesce(
                F.col("best_sim") >= F.lit(threshold), F.lit(False)
            ).alias("is_dup"),
        )
        .orderBy("new_id")
    )
