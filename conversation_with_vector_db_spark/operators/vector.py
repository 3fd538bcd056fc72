"""Vector similarity operators (SURVEY §2.3; reference read path
controllers/conversationController.js:32-45, Pinecone cosine ANN).

Two scoring kernels, one per shape; every scorer in the package uses
the one its shape calls for:

* **Pair lists** (candidate (a, b) pairs: LSH/BQ/SQ8/RP refines,
  SemDeDup and dedup rescoring): :func:`dot_unrolled`, the
  fold unrolled to the plan-build-time dimension — whole-stage codegen
  multiply-adds in the JVM, no Python worker in the stage, and the
  pair-duplicated vectors never cross a process boundary.
  :func:`cosine_with_norms` takes that ``dim``.
* **A few query vectors against a corpus scan** (exact top-k, the IVF
  index read): :func:`score_batch`, numpy over whole Arrow batches via
  ``mapInPandas`` — each corpus vector ships once, never once per
  query. A probe that routed the transactional IVF read
  (``ann.ivf_table_topk``, 256-d) through the unrolled chain instead
  doubled its read p50 (3.6-3.9 s vs 1.6-1.8 s over a 120-doc table,
  4 vCPUs), so this shape keeps numpy.

Both accumulate dimension by dimension in float64 — the exact
left-fold order and per-element double casts of the reference HOF
:func:`dot` — so every kernel is bit-identical to the fold, not merely
close. The fold itself serves scalar and occasional products (norms,
centroid probes, tiny broadcast scans).

A plan that does not know its dimension derives it by ONE rule,
:func:`majority_dim`; ``dim=None`` means "derive it", never "use
another kernel".

Scale design (100 TB corpus):
* The query side is tiny (one or a few vectors) -> ``broadcast``; the
  corpus is scanned once, no shuffle of raw vectors.
* Top-k uses a two-phase pattern: per-partition k via a window keyed by
  ``spark_partition_id()``, then global k over ``numPartitions * k``
  survivors — the shuffle carries k rows per partition instead of the
  whole scored corpus.
* Exact brute force is the correctness baseline; LSH bucketing
  (:mod:`.ann`) is the sublinear path, recall-checked against this.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns, double accumulation."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Dot product with the fold unrolled to a fixed ``dim`` — the
    pair-list kernel: JVM codegen, no Python worker in the stage.

    The expression is literally the fold's addition chain —
    ``((0.0 + t0) + t1) + ... + t_{dim-1}`` with
    ``t_i = get(a,i)::double * get(b,i)::double`` — so values are
    bit-identical to :func:`dot` including the ``-0.0`` left-fold edge
    (``0.0 + -0.0 == +0.0``, exactly like the fold's zero seed), NaN
    elements and inf overflow. Whole-stage codegen compiles the chain
    to straight-line multiply-adds.

    Rows where either array is NULL or not exactly ``dim`` long fall
    back to :func:`dot`, which reproduces the HOF NULL/ragged
    semantics (zip_with null-pads, the fold propagates NULL; two
    equal-but-short arrays still fold over their real elements).
    ``F.get`` (not ``[]``/``element_at``) keeps the guarded branch
    ANSI-safe — it returns NULL out of bounds instead of raising while
    the guard predicate is still being evaluated.
    """
    acc: Column = F.lit(0.0)
    for i in range(dim):
        acc = acc + F.get(a, i).cast("double") * F.get(b, i).cast(
            "double"
        )
    return F.when((F.size(a) == dim) & (F.size(b) == dim), acc).otherwise(
        dot(a, b)
    )


def majority_dim(df: DataFrame, vec_col: str) -> int | None:
    """The one dimension rule: the MODE of non-empty vector sizes
    (NULL and size-0 vectors do not count; ties break to the larger
    dim). ``first()``-row derivation depends on partition order — a
    minority-dim row landing first would make the downstream
    ``size(vec) == dim`` filter silently drop the MAJORITY of the
    corpus (ADVICE r10). One groupBy job over the handful of distinct
    sizes (not distinct vectors). ``None`` when no row has a
    non-empty vector."""
    row = (
        df.where(F.size(vec_col) > 0)
        .groupBy(F.size(vec_col).alias("_d"))
        .count()
        .orderBy(F.desc("count"), F.desc("_d"))
        .first()
    )
    return None if row is None else int(row["_d"])


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm (matches
    the convention of treating degenerate vectors as dissimilar)."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(
        dot(a, b) / (na * nb)
    )


def cosine_with_norms(
    a: Column, b: Column, na: Column, nb: Column, dim: int | None = None
) -> Column:
    """Cosine given precomputed L2 norms — one array fold per pair
    instead of three. Bit-identical to :func:`cosine_similarity` (same
    ``dot / (na * nb)`` expression over the same doubles), so oracle
    parity is unaffected; use it whenever a vector participates in many
    pairs (candidate rescoring, brute-force scans) so each norm is
    computed once per VECTOR, not once per PAIR. ``dim`` (the plan's
    vector width) unrolls the dot — the pair-list kernel; without it
    the product is the reference fold."""
    d = dot(a, b) if dim is None else dot_unrolled(a, b, dim)
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(
        d / (na * nb)
    )


#: Past this (on-disk parquet) size the vector table stops being
#: broadcast into candidate rescoring. Parquet double columns decode
#: ~2-4x larger in memory, so 64 MB on disk keeps the driver-side
#: broadcast comfortably under typical `maxResultSize`/executor-memory
#: budgets; above it the candidates shuffle instead — they are the
#: small side once the corpus is large.
RESCORE_BROADCAST_MAX_BYTES = 64 << 20


def rescore_candidates(
    cands: DataFrame,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vec_bytes: int | None = None,
    broadcast_max_bytes: int = RESCORE_BROADCAST_MAX_BYTES,
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine over candidate (a, b) pairs, size-aware.

    Joins the pair list back to the vector table twice, precomputing
    each vector's norm once so per-pair work is a single unrolled dot
    (:func:`dot_unrolled`). The join strategy follows the vector-table
    size:

    * ``vec_bytes <= broadcast_max_bytes``: broadcast both vector
      sides — candidate pairs never shuffle.
    * larger or UNKNOWN (``vec_bytes=None``): shuffle-hash join on
      ``a`` / ``b`` — at 100 TB the vector table IS the big table and
      can never ship to every executor; the candidate list (already
      sub-quadratic after LSH banding) is the side that moves.
      Unknown defaults to the safe strategy: on object stores with no
      local path — exactly where tables are most likely huge — a
      missing size must not select broadcast.

    Output: (a, b, sim) with sim rounded to 4 digits (cross-engine
    ordering stability). ``dim`` is the vector width; when omitted it
    is derived from ``vectors`` by :func:`majority_dim` (one Spark job
    at plan build — pass it when the caller knows it).
    """
    if dim is None:
        dim = majority_dim(vectors, vec_col)
    ea = vectors.select(
        F.col(id_col).alias("a"),
        F.col(vec_col).alias("ea"),
        l2_norm(F.col(vec_col)).alias("na"),
    )
    eb = vectors.select(
        F.col(id_col).alias("b"),
        F.col(vec_col).alias("eb"),
        l2_norm(F.col(vec_col)).alias("nb"),
    )
    small = vec_bytes is not None and vec_bytes <= broadcast_max_bytes
    if small:
        joined = cands.join(F.broadcast(ea), "a").join(
            F.broadcast(eb), "b"
        )
    else:
        joined = cands.join(ea.hint("shuffle_hash"), "a").join(
            eb.hint("shuffle_hash"), "b"
        )
    return joined.select(
        "a",
        "b",
        F.round(
            cosine_with_norms(
                F.col("ea"), F.col("eb"), F.col("na"), F.col("nb"), dim
            ),
            4,
        ).alias("sim"),
    )


def topk_per_query(
    scored: DataFrame,
    k: int,
    query_col: str = "qid",
    score_col: str = "sim",
    tiebreak_col: str = "vec_id",
) -> DataFrame:
    """Top-k rows per query from a scored DataFrame.

    A single ``row_number() OVER (PARTITION BY query)`` window plus a
    ``rank <= k`` filter: Spark's WindowGroupLimit rewrite (3.5+)
    inserts a *Partial* group-limit on the map side, so each map
    partition forwards at most k rows per query into the exchange —
    the shuffle carries ~P*k rows per query, not the scored corpus.
    That is exactly the hand-rolled two-phase top-k (per-partition k,
    then global k), but with one Exchange instead of two; the plan
    shape is pinned by ``tests/test_plan_shapes.py``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(query_col).orderBy(
        F.desc(score_col), tiebreak_col
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def collect_query_vectors(
    queries: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[tuple[int, list[float]]]:
    """Driver-fold the (tiny by contract) query side into plain Python —
    the same constant-folding t5 applies to its single query vector.
    Happens at plan-build time, NOT per executed batch.

    NULL or ragged query vectors raise ``ValueError``: the query
    matrix needs uniform non-null rows, and a null query is a caller
    bug better surfaced at plan time than as a column of NULL sims
    (:func:`exact_topk` enforces the same on its JVM branch so
    behavior never flips on data size)."""
    rows = queries.select(id_col, vec_col).collect()
    if any(r[1] is None for r in rows):
        raise ValueError(
            "collect_query_vectors: NULL query embedding — filter or "
            "fix the query side before scoring"
        )
    dims = {len(r[1]) for r in rows}
    if len(dims) > 1:
        raise ValueError(
            f"collect_query_vectors: ragged query dimensions {dims} — "
            "the query matrix needs one uniform dimension"
        )
    return sorted(
        (int(r[0]), [float(x) for x in r[1]]) for r in rows
    )


def query_matrix(vectors: list) -> tuple:
    """``(qmat, qn)``: the driver-folded query matrix and its L2 norms,
    accumulated in the fold's order — the constant side of
    :func:`score_batch`."""
    import numpy as np

    qmat = np.array(vectors, dtype=np.float64)
    qn = np.zeros(qmat.shape[0])
    for d in range(qmat.shape[1]):
        qn += qmat[:, d] * qmat[:, d]
    return qmat, np.sqrt(qn)


def score_batch(vecs, qmat, qn) -> list:
    """The query-against-corpus kernel: cosine of every corpus vector
    in one Arrow batch (``vecs``, an object array of arrays) against
    every row of ``qmat`` — one nullable ``Float64`` series per query.

    Accumulation is dimension by dimension in float64, the exact
    left-fold order of :func:`dot`, so values are bit-identical to the
    fold (and to :func:`dot_unrolled`), inf-overflow NaN included.
    NULL and query-dim-mismatched corpus vectors score NULL, like the
    fold's zip_with/aggregate propagation (they rank last under DESC
    NULLS LAST); np.stack on such a row would kill the stage instead.
    A vector with a NaN ELEMENT also scores NULL: the Arrow boundary
    turns a NULL element into nan, so the two are indistinguishable
    here and NULL-element semantics win — the one documented
    difference from the fold, which yields NaN for a genuine NaN
    element.

    Values and NULL-ness travel separately (``FloatingArray`` + mask):
    assigning into a nullable Float64 array coerces a genuine NaN sim
    to NA, which silently diverged from the fold (r11)."""
    import numpy as np
    import pandas as pd

    n = len(vecs)
    dim = qmat.shape[1]
    valid = np.fromiter(
        (v is not None and len(v) == dim for v in vecs),
        dtype=bool,
        count=n,
    )
    idx = np.flatnonzero(valid)
    if idx.size:
        # one contiguous row per DIMENSION: the fold reads c[d] whole
        c = np.stack(
            [np.asarray(vecs[i], dtype=np.float64) for i in idx], axis=1
        )
        valid[idx[np.isnan(c).any(axis=0)]] = False
        cn = np.zeros(idx.size)
        for d in range(dim):
            cn += c[d] * c[d]
        cn = np.sqrt(cn)
    out = []
    for j in range(qmat.shape[0]):
        vals = np.zeros(n, dtype=np.float64)
        if idx.size:
            acc = np.zeros(idx.size)
            for d in range(dim):
                acc += c[d] * qmat[j, d]
            with np.errstate(divide="ignore", invalid="ignore"):
                vals[idx] = np.where(
                    (qn[j] == 0) | (cn == 0), 0.0, acc / (qn[j] * cn)
                )
        out.append(
            pd.Series(pd.arrays.FloatingArray(vals, ~valid), dtype="Float64")
        )
    return out


def matmul_topk(
    corpus: DataFrame,
    query_vectors: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = (),
    round_digits: int | None = 4,
) -> DataFrame:
    """Exact cosine top-k with the scoring stage vectorized via
    ``mapInPandas``: each Arrow batch of corpus vectors is scored
    against the whole (driver-folded) query matrix by
    :func:`score_batch`.

    Same semantics as :func:`brute_force_topk`, different physics: the
    interpreted HOF fold costs ~6 us per pair, the batched form ~0.06 —
    at a 10^9-vector corpus that is the difference between a scan and a
    stall. Results are bit-identical to :func:`brute_force_topk`, not
    merely close (verified by test).

    ``extra_cols`` pass through the scoring stage unchanged (metadata
    columns a filtered search reports). Top-k still lowers to the
    WindowGroupLimit single-exchange shape via :func:`topk_per_query`.

    Quantization happens JVM-side with ``F.round`` on the raw float64
    the UDF emits — NOT ``np.round`` inside the batch: numpy rounds
    half-to-even on the binary value while Spark/DuckDB round
    HALF_UP on the decimal rendering, so a sim landing exactly on a
    4th-decimal tie (e.g. 0.03125) would diverge across engines and
    flip a driver-gate hash.
    """
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    if not query_vectors:
        raise ValueError(
            "matmul_topk: query_vectors is empty — callers should "
            "short-circuit the no-query case (V3 empty-result guard) "
            "rather than score against a 0-row query matrix"
        )
    qids = [q[0] for q in query_vectors]
    qmat, qn = query_matrix([q[1] for q in query_vectors])

    in_fields = {f.name: f for f in corpus.schema.fields}
    schema = StructType(
        [
            StructField("qid", in_fields[id_col].dataType),
            in_fields[id_col],
            *[in_fields[c] for c in extra_cols],
            StructField("sim", DoubleType()),
        ]
    )

    def score(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            sims = score_batch(pdf[vec_col].to_numpy(), qmat, qn)
            for qid, sim in zip(qids, sims):
                out = {"qid": qid, id_col: pdf[id_col]}
                for col in extra_cols:
                    out[col] = pdf[col]
                out["sim"] = sim
                yield pd.DataFrame(out)

    scored = corpus.select(id_col, vec_col, *extra_cols).mapInPandas(
        score, schema
    )
    if round_digits is not None:
        scored = scored.withColumn(
            "sim", F.round("sim", round_digits)
        )
    return topk_per_query(scored, k, tiebreak_col=id_col)


#: Below this on-disk corpus size, exact top-k scores with the JVM HOF
#: fold: the Arrow path's fixed Python-worker round-trip exceeds what
#: batched numpy saves on a truly tiny corpus. Re-measured r4 against
#: WARM Python workers (the realistic session state — every pipeline
#: with any pandas-UDF stage has them running): the matmul overtakes
#: far earlier than r3's cold-worker A/B suggested — sf0.1, 2k x 64-d:
#: HOF 0.41 s vs matmul 0.29 s warm (1.8 s cold); sf1, 20k x 64-d:
#: 0.97 vs 0.59 s — so the gate drops 32 MB -> 512 KB and only
#: sub-MB corpora (unit fixtures, sf0.01's 190 KB) keep the
#: worker-free fold. UNKNOWN size picks the Arrow path — the safe
#: choice is the one that scales.
EXACT_TOPK_ARROW_MIN_BYTES = 512 << 10


def exact_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = (),
    corpus_bytes: int | None = None,
    round_digits: int | None = 4,
) -> DataFrame:
    """Size-aware exact cosine top-k: :func:`brute_force_topk` (JVM
    interpreted fold, no Python round-trip) under
    :data:`EXACT_TOPK_ARROW_MIN_BYTES`, :func:`matmul_topk`
    (driver-folded query matrix x Arrow-batched numpy) above or when
    the size is unknown. The two paths are bit-identical (pinned by
    ``test_matmul_topk_bit_identical_to_brute_force``), so the gate is
    pure cost, never semantics — the same cost-on-input-size discipline
    as the rescore broadcast threshold and the AQE gate.

    ``corpus_bytes`` may be an UPPER BOUND on the scored corpus (e.g.
    the full table's on-disk size when ``corpus`` is a filtered subset,
    as in v1c): overestimates only bias toward the Arrow branch — the
    one that scales — never change results.

    Degenerate query sets raise ``ValueError`` on BOTH branches (the
    V3 empty-result guard is the caller's job): empty, NULL-vector, or
    ragged-dimension queries — the large branch raises from
    ``collect_query_vectors``/``matmul_topk``, and the small branch
    probes the (tiny by contract) query side explicitly. Without the
    probe the small branch would silently emit NULL-sim garbage ranks
    while the large branch raised, i.e. behavior flipping on data
    size, which the gate contract forbids. NULL or query-dim-
    mismatched CORPUS vectors score NULL sims on both branches (DESC
    NULLS LAST — they surface only when k exhausts real rows).
    The probe jobs run ONLY on the small branch, whose whole point is
    toy-scale cost — the large branch stays exactly as lazy as
    matmul_topk."""
    small = (
        corpus_bytes is not None
        and corpus_bytes < EXACT_TOPK_ARROW_MIN_BYTES
    )
    if small:
        qrows = queries.select(vec_col).collect()
        if not qrows:
            raise ValueError(
                "exact_topk: queries is empty — callers should "
                "short-circuit the no-query case (V3 empty-result "
                "guard) rather than score against a 0-row query set"
            )
        if any(r[0] is None for r in qrows):
            raise ValueError(
                "exact_topk: NULL query embedding — filter or fix the "
                "query side before scoring"
            )
        if len({len(r[0]) for r in qrows}) > 1:
            raise ValueError(
                "exact_topk: ragged query dimensions — the query side "
                "needs one uniform dimension"
            )
        out = brute_force_topk(
            corpus, queries, k, id_col, vec_col, round_digits
        )
    else:
        out = matmul_topk(
            corpus,
            collect_query_vectors(queries, id_col, vec_col),
            k,
            id_col,
            vec_col,
            extra_cols,
            round_digits,
        )
    return out.select("qid", id_col, *extra_cols, "sim", "rank")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
) -> DataFrame:
    """Exact cosine top-k: broadcast the query vectors across the corpus
    scan (V1, topK=10 at controllers/conversationController.js:34).

    ``round_digits`` quantizes the similarity BEFORE ranking so the
    ordering is reproducible across engines/accumulation orders; ties
    break on the corpus id.
    """
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    # The reference fold itself: brute force is the correctness
    # baseline (and exact_topk's toy-corpus branch, where a Python
    # worker's round-trip costs more than the fold).
    c = corpus.withColumn("_cn", l2_norm(F.col(vec_col)))
    sim = cosine_with_norms(
        F.col("_qvec"), F.col(vec_col), F.col("_qn"), F.col("_cn")
    )
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid", id_col, sim.alias("sim"),
        *[col for col in corpus.columns if col not in (id_col, vec_col)],
    )
    return topk_per_query(scored, k, tiebreak_col=id_col)
