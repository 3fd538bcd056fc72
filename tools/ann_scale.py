#!/usr/bin/env python3
"""ANN candidate economics at 10^5-10^6 vectors — the scale where
pruning is supposed to pay (bench's per-round `ann_economics` runs at
the sf-proportional 10^4-10^5, where brute force still wins; this tool
measures the claimed ~10^6 crossover instead of extrapolating it).

Same clustered distribution as the bench suite (20 well-separated
centroids, noise 0.08 — the realistic embedding shape), corpus
generated vectorized (numpy -> pyarrow ListArray in row-group chunks —
a 10^6-row createDataFrame would spend minutes serializing Python
lists, and a 1536-d corpus doesn't fit one in-memory pyarrow column).
Query count held at ~100 ACROSS scales so the numbers isolate
corpus-size scaling, not query-batch growth.

``--dim`` defaults to the reference's REAL embedding width, 1536
(text-embedding-ada-002 / 3-small: controllers/embeddingController.js:28,
controllers/conversationController.js:30) — per-pair cost is 24x the
64-d toy dimension, which moves the exact-vs-pruned crossover, the
k-means fit cost, and the LSH bit budget; pass ``--dim 64`` to
reproduce the historical sweep.

Measures, per scale: exact Arrow matmul, hyperplane LSH
(48b/6band/1-bit multi-probe), the IVF table (`ivf_table_create` +
segment-pruned `ivf_table_topk`) including build cost and the fraction
of the table's files the probed cells select (read from the
manifest's live segments), the write-time IVF-PQ index (residual ADC
codes + refine, code-bytes fraction), binary sign quantization (JVM
bit_count(xor) Hamming cut at several oversample factors) and a
random-projection sketch.

Usage: python tools/ann_scale.py --n 100000 1000000 --dim 1536
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def gen_corpus(path: str, n: int, dim: int, n_clusters: int = 20,
               noise_norm: float = 0.64, seed: int = 7,
               chunk: int = 50_000, noise_rank: int | None = None) -> None:
    """Chunked vectorized write: each chunk is one ListArray built from
    a flat buffer + offsets (no per-row Python lists), one row group.
    Peak memory is O(chunk * dim), not O(n * dim).

    ``noise_norm`` is the EXPECTED NORM of the per-point noise vector
    (not per-coordinate sigma): per-coordinate sigma is
    ``noise_norm/sqrt(dim)``, so cluster tightness — hence neighbor
    structure and ANN difficulty — is dimension-invariant. 0.64 equals
    the historical 64-d sweep's 0.08/coord; a fixed per-coordinate
    sigma at 1536-d would drown unit centroids in norm-3.2 noise and
    degenerate the corpus to near-uniform."""
    rng = np.random.default_rng(seed)
    noise = noise_norm / np.sqrt(dim)
    centroids = rng.normal(size=(n_clusters, dim))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    # noise_rank restricts the per-point noise to a fixed r-dim
    # subspace of the ambient dim (same expected NORM): the
    # low-intrinsic-dimension structure real text embeddings have.
    # Full-rank isotropic noise (the default) is the PQ worst case —
    # quantization error is spread over every coordinate — so the two
    # settings bracket the realistic range.
    basis = None
    if noise_rank is not None and noise_rank < dim:
        basis, _ = np.linalg.qr(rng.normal(size=(dim, noise_rank)))
        noise = noise_norm / np.sqrt(noise_rank)
    schema = pa.schema([
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float64())),
    ])
    tmp = f"{path}.tmp-{os.getpid()}"
    with pq.ParquetWriter(tmp, schema, compression="zstd") as w:
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            m = hi - lo
            pt_noise = (
                rng.normal(size=(m, dim)) * noise
                if basis is None
                else (rng.normal(size=(m, basis.shape[1])) * noise)
                @ basis.T
            )
            vecs = (
                centroids[np.arange(lo, hi) * n_clusters // n]
                + pt_noise
            ).astype(np.float64)
            offsets = np.arange(0, (m + 1) * dim, dim, dtype=np.int64)
            emb = pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(vecs.reshape(-1))
            )
            w.write_table(pa.table(
                {"vec_id": pa.array(range(lo, hi), pa.int64()),
                 "embedding": emb},
                schema=schema,
            ))
    # Atomic publish: a generator killed mid-write must leave no
    # half-footer file a later run would trust via os.path.exists.
    os.rename(tmp, path)


ALL_METHODS = ("exact", "lsh", "ivf", "pq_indexed", "bq", "bq_indexed",
               "rp")


def _prepare_corpus(spark, n: int, dim: int, workdir: str,
                    noise_rank: int | None = None):
    """Generate (if absent), spread, and persist the clustered corpus;
    return (corpus, queries, n_q)."""
    from pyspark.sql import functions as F

    tag = f"_r{noise_rank}" if noise_rank else ""
    path = os.path.join(workdir, f"ann_corpus_{n}_{dim}d{tag}.parquet")
    if not os.path.exists(path):
        t0 = time.perf_counter()
        gen_corpus(path, n, dim, noise_rank=noise_rank)
        print(f"  generated {n} x {dim}-d vectors in "
              f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)
    # One pyarrow file scans as few fat partitions; spread it like a
    # real multi-file table before caching. Partition count scales
    # with corpus bytes (a 1536-d 10^6 corpus is ~12 GB raw; 32
    # partitions of it are ~370 MB each and OOM the single local JVM),
    # and a corpus past ~4 GB persists DISK_ONLY — deserialized
    # caching of a table that size in one JVM is the wrong trade.
    from pyspark import StorageLevel

    nbytes = os.path.getsize(path)
    nparts = max(32, int(nbytes / (64 << 20)))
    level = (
        StorageLevel.MEMORY_AND_DISK
        if nbytes < (4 << 30)
        else StorageLevel.DISK_ONLY
    )
    corpus = spark.read.parquet(path).repartition(nparts).persist(level)
    assert corpus.count() == n
    qmod = max(997, n // 100)  # ~100 queries at every scale
    queries = corpus.filter(F.col("vec_id") % qmod == 0)
    return corpus, queries, queries.count()


def _timed_noop(df, reps: int) -> float:
    """Min-of-reps wall of one full execution of ``df``."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _ivf_table_build(spark, corpus, table: str, nlist: int) -> float:
    """Build the IVF table (its k-means reads at most 256 vectors per
    cell, so the fit stays model-sized at any n). Returns build
    seconds."""
    from conversation_with_vector_db_spark.operators.ann import (
        ivf_table_create,
    )

    shutil.rmtree(table, ignore_errors=True)
    t0 = time.perf_counter()
    ivf_table_create(spark, corpus, table, nlist=nlist)
    return round(time.perf_counter() - t0, 3)


def _ivf_table_probe(spark, table: str, queries, exact, nprobe: int,
                     reps: int) -> dict:
    """One probe setting over a built IVF table: min-of-reps query
    wall, recall@10 against ``exact``, and the fraction of the table's
    files the probed cells select — counted over the manifest's live
    segments, the list the probe's scan is pruned from."""
    from conversation_with_vector_db_spark.operators.ann import (
        _load_centroids,
        ivf_probe,
        ivf_table_topk,
        recall_at_k,
    )
    from conversation_with_vector_db_spark.operators.vector import (
        collect_query_vectors,
    )
    from conversation_with_vector_db_spark.sources.snapshot_log import (
        live_segments,
        segment_path,
    )
    from conversation_with_vector_db_spark.sources.transactional import (
        _partition_of,
    )

    probe = ivf_table_topk(spark, table, queries, k=10, nprobe=nprobe)
    cells = {
        str(cell)
        for _, _, cell in ivf_probe(
            _load_centroids(table), collect_query_vectors(queries), nprobe
        )
    }
    n_files = {
        seg: sum(
            f.endswith(".parquet")
            for f in os.listdir(segment_path(table, seg))
        )
        for seg in live_segments(table)
    }
    probed = sum(
        n for seg, n in n_files.items() if _partition_of(seg, "cell") in cells
    )
    return {
        "query_sec": _timed_noop(probe, reps),
        "recall": round(recall_at_k(probe, exact, k=10).first().recall, 4),
        "file_fraction": round(probed / max(1, sum(n_files.values())), 4),
    }


def run_scale(spark, n: int, dim: int, workdir: str, reps: int = 2,
              lsh_bits: int = 48, lsh_bands: int = 6,
              methods: tuple = ALL_METHODS,
              noise_rank: int | None = None) -> dict:
    from pyspark.sql import functions as F

    from conversation_with_vector_db_spark.operators.ann import (
        hyperplane_lsh_topk,
        recall_at_k,
        with_lsh_bands,
    )
    from conversation_with_vector_db_spark.operators.vector import (
        collect_query_vectors,
        matmul_topk,
    )

    nlist, nprobe = 32, 8
    corpus, queries, n_q = _prepare_corpus(
        spark, n, dim, workdir, noise_rank
    )
    out: dict = {"n_vectors": n, "n_queries": n_q, "dim": dim}
    if noise_rank:
        out["noise_rank"] = noise_rank

    def timed(label, df):
        out[label] = _timed_noop(df, reps)
        return df

    # The exact baseline always runs: it is the recall denominator.
    exact = timed("exact_matmul_sec", matmul_topk(
        corpus, collect_query_vectors(queries), k=10
    ))
    if "lsh" in methods:
        lsh = timed(f"lsh_{lsh_bits}b{lsh_bands}band_mp1_sec",
                    hyperplane_lsh_topk(
            corpus, queries, k=10, n_bits=lsh_bits, n_bands=lsh_bands,
            dim=dim, probe_bits=1,
        ))
        out["lsh_recall"] = round(
            recall_at_k(lsh, exact, k=10).first().recall, 4
        )
        c = with_lsh_bands(
            corpus, n_bits=lsh_bits, n_bands=lsh_bands, dim=dim
        )
        q = with_lsh_bands(
            queries, n_bits=lsh_bits, n_bands=lsh_bands, dim=dim,
            probe_bits=1,
        ).select(F.col("vec_id").alias("qid"), "band", "band_key")
        n_cand = (
            c.join(q, ["band", "band_key"]).select("qid", "vec_id")
            .distinct().count()
        )
        out["lsh_candidate_fraction"] = round(n_cand / (n_q * n), 4)
    if "ivf" in methods:
        # IVF table: the build is paid once, then each probe reads only
        # its cells' segments — the documented 100 TB read path.
        table = os.path.join(workdir, f"ann_ivf_{n}_{dim}d")
        out["ivf_index_build_sec"] = _ivf_table_build(
            spark, corpus, table, nlist
        )
        point = _ivf_table_probe(spark, table, queries, exact, nprobe, reps)
        out[f"ivf_{nlist}c{nprobe}p_query_sec"] = point["query_sec"]
        out["ivf_recall"] = point["recall"]
        out["ivf_file_fraction"] = point["file_fraction"]
        shutil.rmtree(table, ignore_errors=True)
    if "bq" in methods:
        # Binary sign quantization: the candidate stage reads ~dim/64
        # longs per row (1/32 of the raw bytes) and ranks by
        # bit_count(xor) entirely JVM-side; oversample trades the
        # refine cost for recall. Measured at several cuts to map the
        # recall/scan trade honestly.
        from conversation_with_vector_db_spark.operators.bq import (
            bq_topk,
        )

        for os_f in (8, 64):
            bqx = timed(
                f"bq_hamming_os{os_f}_query_sec",
                bq_topk(corpus, queries, k=10, dim=dim,
                        oversample=os_f),
            )
            out[f"bq_recall_os{os_f}"] = round(
                recall_at_k(bqx, exact, k=10).first().recall, 4
            )
    if "bq_indexed" in methods:
        # Write-time BQ layout: codes persisted next to the vectors,
        # so the Hamming scan reads ~dim/8 bytes per row and never
        # re-encodes (the in-plan encode dominates the "bq" method's
        # wall at scale).
        from conversation_with_vector_db_spark.operators.bq import (
            bq_topk_indexed,
            bq_write_index,
        )

        bq_path = os.path.join(workdir, f"ann_bqidx_{n}_{dim}d")
        shutil.rmtree(bq_path, ignore_errors=True)
        t0 = time.perf_counter()
        bq_write_index(corpus, bq_path, dim=dim)
        out["bq_index_build_sec"] = round(time.perf_counter() - t0, 3)

        def _bytes(sub):
            tot = 0
            for r, _d, fs in os.walk(f"{bq_path}/{sub}"):
                tot += sum(
                    os.path.getsize(os.path.join(r, f))
                    for f in fs if f.endswith(".parquet")
                )
            return tot

        out["bq_code_bytes_fraction"] = round(
            _bytes("codes") / max(1, _bytes("data")), 4
        )
        for os_f in (8, 64):
            bqi = timed(
                f"bq_indexed_os{os_f}_query_sec",
                bq_topk_indexed(spark, bq_path, queries, k=10,
                                oversample=os_f),
            )
            out[f"bq_indexed_recall_os{os_f}"] = round(
                recall_at_k(bqi, exact, k=10).first().recall, 4
            )
        shutil.rmtree(bq_path, ignore_errors=True)
    if "pq_indexed" in methods:
        # Write-time IVF-PQ: the probed cells' scan reads m-byte CODES
        # instead of dim*8-byte vectors; raw rows are touched only for
        # the ~refine candidates per query. m sized so dsub=16
        # (dim 1536 -> m=96 -> 768 B/vector incl. parquet framing vs
        # 12 KB raw).
        from conversation_with_vector_db_spark.operators.pq import (
            pq_topk_indexed,
            pq_write_index,
        )

        pq_m = max(8, dim // 16)
        pq_path = os.path.join(workdir, f"ann_pqidx_{n}_{dim}d")
        shutil.rmtree(pq_path, ignore_errors=True)
        t0 = time.perf_counter()
        # the codebook fit caps its own sample (at 1536-d, ~85
        # pts/centroid for the 256-centroid books, ~22k rows at any n)
        pq_write_index(corpus, pq_path, nlist=nlist, m=pq_m, ksub=256)
        out["pq_index_build_sec"] = round(time.perf_counter() - t0, 3)

        def _bytes(sub):
            tot = 0
            for r, _d, fs in os.walk(f"{pq_path}/{sub}"):
                tot += sum(
                    os.path.getsize(os.path.join(r, f))
                    for f in fs if f.endswith(".parquet")
                )
            return tot

        out["pq_code_bytes_fraction"] = round(
            _bytes("codes") / max(1, _bytes("data")), 4
        )
        pqx = timed(f"pq_indexed_{nlist}c{nprobe}p_m{pq_m}_query_sec",
                    pq_topk_indexed(spark, pq_path, queries, k=10,
                                    nprobe=nprobe, refine=100))
        out["pq_indexed_recall"] = round(
            recall_at_k(pqx, exact, k=10).first().recall, 4
        )
        shutil.rmtree(pq_path, ignore_errors=True)
    if "rp" in methods:
        # Johnson-Lindenstrauss sketch: project to dim/12-ish, rank in
        # the sketch, exact-rescore the survivors. Zero fit state —
        # the candidate stage reads dim_out/dim of the exact scan.
        from conversation_with_vector_db_spark.operators.rp import (
            rp_topk_arrow,
        )

        rp_dim = max(32, dim // 12)
        for cand in (80, 400):
            rpx = timed(
                f"rp_{rp_dim}d_c{cand}_query_sec",
                rp_topk_arrow(corpus, queries, dim_in=dim,
                              dim_out=rp_dim, k=10, cand=cand),
            )
            out[f"rp_recall_{rp_dim}d_c{cand}"] = round(
                recall_at_k(rpx, exact, k=10).first().recall, 4
            )
    corpus.unpersist()
    return out


def run_nlist_sweep(spark, n: int, dim: int, workdir: str,
                    pairs: list[tuple[int, int]], reps: int = 2) -> dict:
    """nlist scaling for the IVF table (VERDICT r6 #6): a
    10^8-vector index wants nlist ~ sqrt(n), so the fit/build/query
    cost curve past the historical nlist=32 must be measured, not
    extrapolated. One corpus, ONE exact baseline (shared recall
    denominator), then per distinct nlist: one table build (k-means
    fit on at most 256 pts/cell), and per (nlist, nprobe) pair: the
    segment-pruned probe's min-of-reps wall, recall@10, and the
    fraction of table files the probed cells select — the quantity
    that tracks nprobe/nlist and IS the 100 TB read bound."""
    from conversation_with_vector_db_spark.operators.vector import (
        collect_query_vectors,
        matmul_topk,
    )

    corpus, queries, n_q = _prepare_corpus(spark, n, dim, workdir)
    out: dict = {
        "n_vectors": n, "n_queries": n_q, "dim": dim, "points": [],
    }
    exact = matmul_topk(corpus, collect_query_vectors(queries), k=10)
    out["exact_matmul_sec"] = _timed_noop(exact, reps)

    for nlist in sorted({nl for nl, _ in pairs}):
        table = os.path.join(workdir, f"ann_ivf_{n}_{dim}d_nl{nlist}")
        build_sec = _ivf_table_build(spark, corpus, table, nlist)
        for nl, nprobe in pairs:
            if nl != nlist:
                continue
            point = {
                "nlist": nlist,
                "nprobe": nprobe,
                "index_build_sec": build_sec,
                "scan_fraction": round(nprobe / nlist, 4),
                **_ivf_table_probe(
                    spark, table, queries, exact, nprobe, reps
                ),
            }
            out["points"].append(point)
            print(json.dumps(point), file=sys.stderr, flush=True)
        shutil.rmtree(table, ignore_errors=True)
    corpus.unpersist()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, nargs="+", default=[100_000, 1_000_000])
    ap.add_argument("--dim", type=int, default=1536)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--lsh-bits", type=int, default=48)
    ap.add_argument("--lsh-bands", type=int, default=6)
    ap.add_argument("--workdir", default="/root/repo/.localdata")
    ap.add_argument("--keep-corpus", action="store_true")
    ap.add_argument(
        "--noise-rank", type=int, default=None,
        help="restrict per-point noise to an r-dim subspace (low "
        "intrinsic dimension, the realistic embedding shape); "
        "default full-rank isotropic = the PQ worst case",
    )
    ap.add_argument(
        "--methods", nargs="+", default=list(ALL_METHODS),
        choices=list(ALL_METHODS),
        help="strategies to measure (exact always runs: it is the "
        "recall denominator)",
    )
    ap.add_argument(
        "--sweep", default=None,
        help="nlist:nprobe pairs for the IVF-table nlist sweep, "
        "e.g. '32:8,128:16,128:32,512:32,512:64' — replaces the "
        "per-method run with run_nlist_sweep",
    )
    args = ap.parse_args()
    os.makedirs(args.workdir, exist_ok=True)

    from conversation_with_vector_db_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="cvdb-ann-scale", master=f"local[{cpus}]",
        shuffle_partitions=32,
    )
    spark.sparkContext.setLogLevel("ERROR")
    pairs = (
        [tuple(map(int, p.split(":"))) for p in args.sweep.split(",")]
        if args.sweep
        else None
    )
    for n in args.n:
        if pairs:
            print(json.dumps(run_nlist_sweep(
                spark, n, args.dim, args.workdir, pairs,
                reps=args.reps,
            )), flush=True)
        else:
            print(json.dumps(run_scale(
                spark, n, args.dim, args.workdir, reps=args.reps,
                lsh_bits=args.lsh_bits, lsh_bands=args.lsh_bands,
                methods=tuple(args.methods),
                noise_rank=args.noise_rank,
            )), flush=True)
        if not args.keep_corpus:
            tag = f"_r{args.noise_rank}" if args.noise_rank else ""
            p = os.path.join(
                args.workdir,
                f"ann_corpus_{n}_{args.dim}d{tag}.parquet",
            )
            if os.path.exists(p):
                os.unlink(p)
    spark.stop()


if __name__ == "__main__":
    main()
