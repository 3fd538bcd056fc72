"""Approximate nearest-neighbor search — the 100 TB path for V1/V2.

The reference's ANN is remote (Pinecone HNSW) or in-process C++
(hnswlib, controllers/customTrainDataController.js:63). Neither model
fits a data-parallel engine; the Spark-native strategies are:

* :func:`hyperplane_lsh_topk` — random-hyperplane (sign) LSH for cosine:
  signature bits are sign(v . plane_b) computed as pure column
  expressions over plane literals (no shuffle, no UDF); candidates are
  an equality join on band keys; survivors are exactly rescored. The
  plane matrix is deterministic (md5-seeded), so results are stable.
* :func:`ivf_table_create` / :func:`ivf_table_topk` — inverted-file
  index: a seeded spherical (cosine) k-means, fitted in numpy on the
  driver over a bounded hash-ordered sample, partitions the corpus
  into nlist cells, written as a transactional snapshot-log table
  whose segments are tagged by cell. Create, rebalance and upsert
  assign a vector to its nearest centroid by one cosine rule; a query
  probes its nprobe nearest centroids (driver numpy, no Spark job) and
  the scan opens only those cells' segments (pruned at the manifest's
  segment list); :func:`_matmul_rescore_probed` scores them. The same
  table takes upserts, deletes, rebalances and time-travel reads.

Both are recall-measured against the exact brute force
(:func:`..vector.brute_force_topk`) — an approximate operator without a
recall number is not done.
"""

from __future__ import annotations

import hashlib
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .vector import (
    brute_force_topk,
    collect_query_vectors,
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


def _spherical_kmeans(rows: list, nlist: int, seed: int):
    """Cosine k-means of the collected fit sample ``rows`` on the
    driver: at most nlist unit centroids, one per distinct direction.
    Vectors with a non-finite element or zero norm carry no direction
    and are dropped. Seeded k-means++ picks the start (each pick drawn
    with probability proportional to its cosine distance from the
    nearest pick so far), then 20 spherical :func:`..clustering.lloyd`
    steps move it."""
    import numpy as np

    from .clustering import lloyd

    x = np.asarray(rows, dtype=np.float64)
    if x.size:
        x = x[np.isfinite(x).all(axis=1)]
        norms = np.linalg.norm(x, axis=1)
        # + 0.0 turns -0.0 into 0.0, so equal directions dedupe below
        x = x[norms > 0] / norms[norms > 0, None] + 0.0
        # drop repeats, keeping first occurrences in the sample's order
        x = x[np.sort(np.unique(x, axis=0, return_index=True)[1])]
    if x.size == 0:
        raise ValueError(
            "ivf_fit_cells: empty corpus (or no vector with a direction) "
            "— cannot fit an IVF cell model; callers should "
            "short-circuit the no-data case"
        )
    rng = np.random.default_rng(seed)
    picked = [int(rng.integers(len(x)))]
    best = x @ x[picked[0]]
    for _ in range(1, min(nlist, len(x))):
        gap = np.clip(1.0 - best, 0.0, None)
        gap[picked] = 0.0
        if gap.sum() == 0:  # the rest round to picked directions
            break
        picked.append(int(rng.choice(len(x), p=gap / gap.sum())))
        best = np.maximum(best, x @ x[picked[-1]])
    return lloyd(x, x[picked], 20, spherical=True)


def ivf_fit_cells(
    corpus: DataFrame,
    nlist: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
) -> tuple:
    """Spherical k-means cell model, fitted on the driver:
    ``(corpus + cell column, centroids)``, the centroids a float64
    matrix of at most nlist rows. The fit sample is the first
    :data:`..clustering.FIT_ROWS_PER_CELL` x nlist vectors in
    ``xxhash64(vector, seed)`` order (fewer when that would pass
    :data:`..clustering.FIT_SAMPLE_VALUES` elements), taken by
    :func:`..clustering.hash_sample`: a pure function of the DATA, so
    the fit is the same under any scan layout, and the driver receives
    only the sample. Every corpus row is then assigned by
    :func:`ivf_assign_cells`, the rule upserts use too.

    ``dim`` pins the indexed dimension explicitly; when omitted it is
    the MODE of non-NULL vector sizes (:func:`majority_dim`), never an
    arbitrary first() row — on a mixed-dimension corpus the first-row
    derivation depended on partition order and a minority-dim row
    could silently drop the majority of the corpus (ADVICE r10).
    NULL/ragged embeddings could never be scored and are excluded.
    """
    from .clustering import FIT_ROWS_PER_CELL, FIT_SAMPLE_VALUES, hash_sample

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
    rows = min(FIT_ROWS_PER_CELL * nlist, FIT_SAMPLE_VALUES // dim)
    sample = (
        hash_sample(corpus, vec_col, seed, rows)
        .select(F.xxhash64(F.col(vec_col), F.lit(seed)).alias("_h"), vec_col)
        .toPandas()
        .sort_values("_h", kind="stable")  # ties: copies of one vector
    )
    cents = _spherical_kmeans(list(sample[vec_col]), nlist, seed)
    return ivf_assign_cells(corpus, cents, id_col, vec_col), cents


def _nearest_cells(vecs, centroids, n: int):
    """``(len(vecs), n)`` cell ids, nearest first by cosine, ties to the
    LOWEST cell. Every IVF cell decision (the fit's assignment, an
    upsert's, a query's probe) scores here with
    :func:`..vector.score_batch`, so a stored vector and the same
    vector as a query compute the same doubles. A vector score_batch
    cannot score (NULL, wrong size, NaN element) ties on every cell."""
    import numpy as np

    sims = np.column_stack(
        [
            s.to_numpy(dtype=np.float64, na_value=-np.inf)
            for s in score_batch(vecs, *query_matrix(centroids))
        ]
    )
    return np.argsort(-sims, axis=1, kind="stable")[:, :n]


def ivf_probe(centroids, query_vectors: list, nprobe: int = 4) -> list:
    """``(qid, query vector, cell)`` for each query's ``nprobe`` nearest
    cells, in numpy on the driver over the collected query vectors
    (:func:`..vector.collect_query_vectors`): no Spark job. The shape
    :func:`_matmul_rescore_probed` consumes."""
    cells = _nearest_cells([v for _, v in query_vectors], centroids, nprobe)
    return [
        (qid, vec, int(c))
        for (qid, vec), row in zip(query_vectors, cells)
        for c in row
    ]


def _matmul_rescore_probed(
    scan: DataFrame,
    probes: list,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The one IVF rescore: each Arrow batch of the (cell-pruned) scan
    is scored ONLY against the queries that probed its cell, one
    :func:`..vector.score_batch` call per cell group, so the 1536-d
    embeddings never fan out into per-pair rows: the candidate stream
    stays (qid, id, sim) narrow. ``probes`` are :func:`ivf_probe`'s
    ``(qid, query vector, cell)`` triples, already on the driver
    (n_queries x nprobe — tiny), so the per-cell query matrices fold
    into the closure like matmul_topk's query matrix. No probes means
    no scores: the result is an empty top-k frame."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    by_cell: dict[int, list] = {}
    for qid, vec, cell in probes:
        by_cell.setdefault(int(cell), []).append((qid, vec))
    cell_mats = {
        cell: (
            [qid for qid, _ in rows],
            *query_matrix([vec for _, vec in rows]),
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
    extra_cols: tuple[str, ...] = (),
) -> int:
    """The IVF index as a TRANSACTIONAL snapshot-log table: cell-tagged
    segments (partition purity via sources/transactional.py) + an
    nlist-row centroid sidecar. The engine's only IVF index: it
    supports atomic upserts/deletes with snapshot isolation and time
    travel — the engine's Pinecone-upsert lifecycle
    (models/embeddingmodel.js:4-12) ON the serving index, not beside
    it. Per-segment ``id`` min/max stats are recorded at
    every commit, so keyed mutations prune inside probed cells too.
    ``extra_cols`` ride along as metadata for filtered queries
    (:func:`ivf_table_topk`'s ``where``)."""
    from ..sources.transactional import create_partitioned_table

    assigned, cents = ivf_fit_cells(
        corpus, nlist, vec_col, seed, id_col=id_col
    )
    rel = _stage_centroids(cents, table_dir)
    return create_partitioned_table(
        spark,
        assigned.select(id_col, vec_col, *extra_cols, "cell"),
        table_dir,
        partition_col="cell",
        key=id_col,
        meta={"centroids": rel},
    )


def _write_centroids(cents, path: str) -> None:
    """Write the centroid matrix as one parquet file of
    ``(cell int, centroid array<double>)`` rows under the directory
    ``path`` (replaced if present), with pyarrow: no Spark job."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    table = pa.table(
        {"cell": pa.array(range(len(cents)), pa.int32()),
         "centroid": cents.tolist()}
    )
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def _read_centroids(path: str):
    """The (nlist, dim) float64 centroid matrix stored under ``path``
    (row i is cell i), read by pyarrow on the driver."""
    import numpy as np
    import pyarrow.parquet as pq

    table = pq.read_table(path).sort_by("cell")
    return np.array(table.column("centroid").to_pylist(), dtype=np.float64)


def _stage_centroids(cents, table_dir: str) -> str:
    """Write a centroid-model sidecar under a fresh content-addressed
    name (``centroids/m-<uuid>``) and return its table-relative path.
    Invisible until a commit's ``meta["centroids"]`` references it —
    the sidecar is staged BEFORE the commit and the manifest publishes
    the pointer atomically with the assignment, so no crash point can
    leave an assignment probing a model it wasn't built with. A writer
    dying after staging leaves an unreferenced sidecar the age-gated
    :func:`ivf_table_vacuum` reaps like any uncommitted segment."""
    rel = f"centroids/m-{uuid.uuid4().hex}"
    _write_centroids(cents, f"{table_dir}/{rel}")
    return rel


def _load_centroids(table_dir: str, version: int | None = None):
    """Centroid matrix effective at ``version``: the manifest-published
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
    return _read_centroids(f"{table_dir}/{rel}")


def ivf_assign_cells(
    updates: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``updates`` + an INT ``cell`` column: each vector's nearest
    centroid by cosine, ties to the lowest cell — :func:`_nearest_cells`,
    the probe's own rule, so a vector is found whenever the cell its
    embedding probes first is probed. Create, rebalance and upsert all
    assign here. Row-local: a scalar pandas UDF with the centroid
    matrix in its closure — no join, no shuffle.

    A NULL vector, or one whose size differs from the centroids', can
    never be scored against the index: it raises (inside the job that
    assigns it — no extra Spark job) instead of landing in cell 0
    forever."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    dim = centroids.shape[1]

    # no parameter annotations: PEP 563 (future annotations) stringifies
    # them, which pandas_udf's signature inference rejects.
    @pandas_udf("int")
    def nearest(ids, vecs):
        arr = vecs.to_numpy()
        for i, v in enumerate(arr):
            if v is None or len(v) != dim:
                raise ValueError(
                    f"ivf_assign_cells: vector of {id_col}={ids.iloc[i]} "
                    f"has size {'NULL' if v is None else len(v)}, the "
                    f"index centroids have size {dim}"
                )
        return pd.Series(_nearest_cells(arr, centroids, 1)[:, 0]).astype(
            "int32"
        )

    return updates.withColumn(
        "cell", nearest(F.col(id_col), F.col(vec_col))
    )


def ivf_table_upsert(
    spark,
    table_dir: str,
    updates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    txn: tuple[str, int] | None = None,
) -> int | None:
    """Atomic index maintenance: assign each update to its nearest
    cell, then a GLOBAL-identity upsert — an updated embedding that
    moves to a different cell removes its old row from the previous
    cell and lands in the new one in the SAME commit (a cell-scoped
    upsert would strand a stale twin the probe could still find).
    Old-row lookup prunes by the recorded id min/max and Bloom
    sidecars before opening any cell's files.

    The update ids must fit the driver. The assigned batch is evaluated
    ONCE per attempt: a lazy ``localCheckpoint`` that the upsert's id
    collect materializes, so its second read (the staged write) does
    not re-run the caller's chunk/embed plan or the assignment. Its
    blocks are freed when the attempt ends, so a sink upserting per
    micro-batch holds at most one batch. A ``txn`` that already
    committed (a replayed micro-batch) returns None before the batch
    is read.

    Every attempt assigns under the HEAD's centroid model: when the
    writer that won a commit race was :func:`ivf_table_rebalance`, the
    model changed, and retrying with cells assigned under the OLD
    model would land vectors in cells the new model's probes may never
    select — a permanent recall hole, not the documented transient
    dip. So the conflict retries wrap the whole assign-and-upsert, one
    upsert attempt each."""
    from ..sources import transactional as tx
    from ..sources.snapshot_log import last_txn_version

    if txn is not None:
        prev = last_txn_version(table_dir, txn[0])
        if prev is not None and prev >= txn[1]:
            return None  # a replay: skipped before its batch is evaluated
    # The table's recorded schema: building the read runs no job.
    table_schema = tx.read_table(spark, table_dir).schema
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

    def attempt():
        assigned = (
            ivf_assign_cells(
                updates, _load_centroids(table_dir), id_col, vec_col
            )
            .select(*table_cols, "cell")
            .localCheckpoint(eager=False)
        )
        try:
            return tx.upsert_by_key_global(
                spark, table_dir, assigned, key=id_col,
                partition_col="cell", txn=txn, max_replans=1,
            )
        finally:
            # Free the checkpoint's blocks now; otherwise they live
            # until the driver JVM garbage-collects the RDD.
            assigned._jdf.queryExecution().analyzed().rdd().unpersist(False)

    return tx._replan(attempt)


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
    model permanently). An attempt that fails before its commit, or
    whose commit is refused, removes its staged sidecar with its
    staged segments."""
    from ..sources.transactional import _copy_on_write, _Rewrite, read_table

    def plan(at):
        if not at.bases:
            return None
        current = read_table(spark, table_dir, at.version).drop("cell")
        assigned, cents = ivf_fit_cells(
            current, nlist, vec_col, seed, id_col=id_col
        )
        at.staged.append(_stage_centroids(cents, table_dir))
        return _Rewrite(
            # id + vector + metadata ride along
            assigned.select(*current.columns, "cell"),
            at.bases,
            meta={"centroids": at.staged[-1]},
        )

    return _copy_on_write(
        spark, table_dir, "rebalance", plan, "cell", key=id_col
    )


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

    probes = ivf_probe(
        _load_centroids(table_dir, version),
        collect_query_vectors(queries, id_col, vec_col),
        nprobe,
    )
    if not probes:
        # No queries -> no probed cells: an empty top-k frame. The
        # false filter folds the scan away, so no query reads a row.
        scan = read_table(spark, table_dir, version=version)
        return _matmul_rescore_probed(
            scan.filter(F.lit(False)), [], k, id_col, vec_col
        )
    cells = {str(cell) for _, _, cell in probes}
    scan = read_table(
        spark, table_dir, version=version, partitions=cells,
        partition_col="cell",
    )
    if where is not None:
        scan = scan.filter(
            F.expr(where) if isinstance(where, str) else where
        )
    return _matmul_rescore_probed(scan, probes, k, id_col, vec_col)


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
