"""Golden/invariant tests for the text pipeline, dedup, and ANN
operators (the parts the SQL oracle can't certify)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from conversation_with_vector_db_spark.operators.chunking import (
    recursive_split_text,
)
from conversation_with_vector_db_spark.plans import load_all, registry
from conversation_with_vector_db_spark.session import load_tables

load_all()


class TestRecursiveSplitter:
    def test_golden_paragraph_structure(self):
        text = (
            "para one about spark.\n\n"
            "para two about joins and shuffles.\npara two line two.\n\n"
            + "word " * 50
        )
        out = recursive_split_text(text, chunk_size=60, chunk_overlap=15)
        assert out[0] == "para one about spark."
        assert out[1] == (
            "para two about joins and shuffles.\npara two line two."
        )
        # The word-soup tail merges into 60-char windows of 12 words.
        assert all(len(c) <= 60 for c in out)
        assert out[2].split() == ["word"] * 12

    def test_edge_cases(self):
        assert recursive_split_text("short text", 100, 20) == ["short text"]
        assert recursive_split_text("", 100, 20) == []
        hard = recursive_split_text("x" * 250, 100, 20)
        assert all(len(c) <= 100 for c in hard)
        assert len(hard) == 3

    def test_determinism(self):
        text = "alpha beta gamma " * 40
        a = recursive_split_text(text, 100, 20)
        b = recursive_split_text(text, 100, 20)
        assert a == b and len(a) > 1

    def test_overlap_present(self):
        # Consecutive chunks share a suffix/prefix within the overlap
        # budget when merging uniform words.
        out = recursive_split_text("tok " * 100, 40, 12)
        for prev, nxt in zip(out, out[1:]):
            assert nxt.startswith(prev[-11:]) or len(prev) < 40


class TestFeaturizerPortability:
    def test_bucket_matches_python_md5(self, spark, sf_dir):
        load_tables(spark, sf_dir)
        rows = (
            spark.table("documents")
            .limit(5)
            .select(
                F.explode(
                    F.regexp_extract_all(
                        F.lower("text"), F.lit("[a-z0-9]+"), 0
                    )
                ).alias("token")
            )
            .distinct()
            .select(
                "token",
                (
                    F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast(
                        "bigint"
                    )
                    % 256
                ).alias("bucket"),
            )
            .collect()
        )
        assert rows
        for r in rows:
            expected = (
                int(hashlib.md5(r.token.encode()).hexdigest()[:8], 16) % 256
            )
            assert r.bucket == expected, r.token


    def test_dense_agrees_with_sparse_scatter(self, spark, sf_dir):
        # featurize_dense must place weight for bucket idx at position
        # idx (map element_at is key-based — a +1 off-by-one here once
        # shifted every bucket and dropped bucket 0).
        from conversation_with_vector_db_spark.functions.embedding import (
            featurize_dense,
            featurize_sparse,
        )

        load_tables(spark, sf_dir)
        docs = spark.table("documents").filter(F.col("doc_id") < 10)
        sparse = {
            (r.doc_id, r.idx): r.weight
            for r in featurize_sparse(docs, dim=64).collect()
        }
        assert sparse
        assert any(idx == 0 for _, idx in sparse)  # bucket 0 exercised
        for row in featurize_dense(docs, dim=64).collect():
            for idx, w in enumerate(row.embedding):
                expect = sparse.get((row.doc_id, idx), 0.0)
                assert abs(w - expect) < 1e-12, (row.doc_id, idx)


class TestDedupFindsPlantedDuplicates:
    def test_exact_finds_planted_copies(self, spark, sf_dir):
        df = registry.REGISTRY["dedup_exact"].fn(spark, sf_dir)
        groups = df.collect()
        # Every 10th doc was copied verbatim (+500000000).
        assert len(groups) >= 40
        assert all(g.n_dups >= 2 for g in groups)

    def test_jaccard_finds_near_copies(self, spark, sf_dir):
        pairs = registry.REGISTRY["dedup_ngram_jaccard"].fn(
            spark, sf_dir
        ).collect()
        planted = {
            (a, b)
            for a, b in ((p.a, p.b) for p in pairs)
            if b - a in (500000000, 1000000000, 1500000000)
        }
        assert len(planted) >= 100  # exact + tail/head perturbed pairs

    def test_minhash_candidates_cover_exact_dups(self, spark, sf_dir):
        pairs = registry.REGISTRY["dedup_minhash_lsh"].fn(
            spark, sf_dir
        ).collect()
        exact_pairs = {(p.a, p.b) for p in pairs if p.b - p.a == 500000000}
        # Identical docs share every band -> always candidates.
        assert len(exact_pairs) >= 40


class TestAnnRecall:
    def test_lsh_recall_floor(self, spark, sf_dir):
        # Multi-probe (1-bit flips, query side) lifted recall@10 from
        # 0.60 to 0.98 at sf0.01; assert the suite floor here too.
        row = registry.REGISTRY["ann_lsh_recall"].fn(spark, sf_dir).first()
        assert row.recall >= 0.9, row
        assert row.n_queries == 5

    def test_ivf_recall_floor(self, spark, sf_dir):
        row = registry.REGISTRY["ann_ivf_recall"].fn(spark, sf_dir).first()
        assert row.recall >= 0.6, row

    def test_recall_suite_self_asserts(self, spark, sf_dir):
        rows = registry.REGISTRY["ann_recall_suite"].fn(
            spark, sf_dir
        ).collect()
        assert {r.method for r in rows} == {
            "hyperplane_lsh_24b6band_mp1",
            "ivf_kmeans_16c6probe",
            "mllib_brp_lsh_4tables",
        }
        assert all(r.meets_floor for r in rows), rows


def _clustered_corpus(spark, n_clusters=8, per_cluster=40, dim=16):
    import numpy as np

    rng = np.random.default_rng(11)
    centroids = rng.normal(size=(n_clusters, dim))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    rows = []
    for vid in range(n_clusters * per_cluster):
        v = centroids[vid % n_clusters] + 0.08 * rng.normal(size=dim)
        rows.append((vid, [float(x) for x in v]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


class TestIvfIndexed:
    """The IVF table (VERDICT r4 #3): cell-pruned probe, transactional
    maintenance."""

    _clustered_corpus = staticmethod(_clustered_corpus)

    def test_indexed_suite_self_asserts(self, spark, sf_dir):
        row = registry.REGISTRY["ann_ivf_indexed_suite"].fn(
            spark, sf_dir
        ).first()
        assert row.meets_floor, row
        assert row.pruned_matches_full, row
        assert row.partitions_pruned, row

    def test_numpy_tail_ranks_inf_overflow_nan_first(self, spark):
        """The IVF rescore (_matmul_rescore_probed, score_batch) on an
        inf-overflow row: the dot over FINITE inputs
        ``[1e308, 1e308, -1e308]`` reaches ``inf + -inf`` = NaN, which
        stays NaN and ranks first, not NULL. NULL and ragged vectors
        score NULL and rank last; a zero vector scores 0.0."""
        from conversation_with_vector_db_spark.operators.ann import (
            _matmul_rescore_probed,
        )

        scan = spark.createDataFrame(
            [
                (0, [1.0, 0.0, 0.0], 0),
                (1, [1e308, 1e308, -1e308], 0),
                (2, [0.5, 0.5, 0.0], 0),
                (3, [0.0, 0.0, 0.0], 0),
                (4, None, 0),
                (5, [1.0, 2.0], 0),
            ],
            "vec_id long, embedding array<double>, cell int",
        )
        probed = spark.createDataFrame(
            [(10, [2.0, 2.0, 2.0], 0), (11, [1.0, 0.0, 0.0], 0)],
            "qid long, _qvec array<double>, cell int",
        ).collect()
        out = _matmul_rescore_probed(scan, probed, 6, "vec_id", "embedding")
        got = repr(sorted(
            map(tuple, out.collect()), key=lambda r: (r[0], r[3])
        ))
        nan = float("nan")
        assert got == repr([
            (10, 1, nan, 1), (10, 2, 0.8165, 2), (10, 0, 0.5774, 3),
            (10, 3, 0.0, 4), (10, 4, None, 5), (10, 5, None, 6),
            (11, 0, 1.0, 1), (11, 2, 0.7071, 2), (11, 1, 0.0, 3),
            (11, 3, 0.0, 4), (11, 4, None, 5), (11, 5, None, 6),
        ])

    def test_upsert_rejects_vectors_it_cannot_score(self, spark, tmp_path):
        """A vector whose size differs from the index's (or a NULL one)
        could never be scored: the upsert must raise and commit
        nothing, instead of landing it in cell 0 with a NULL sim. A
        version whose manifest meta has no centroid pointer (the empty
        create at v0) raises naming the table and the version."""
        from conversation_with_vector_db_spark.operators.ann import (
            _load_centroids,
            ivf_table_create,
            ivf_table_upsert,
        )
        from conversation_with_vector_db_spark.sources.snapshot_log import (
            latest_version,
        )

        corpus = self._clustered_corpus(spark, n_clusters=4,
                                        per_cluster=10, dim=4)
        t = str(tmp_path / "ivf_dims")
        ivf_table_create(spark, corpus, t, nlist=4)
        with pytest.raises(ValueError) as no_model:
            _load_centroids(t, 0)
        assert t in str(no_model.value) and "v0" in str(no_model.value)
        v0 = latest_version(t)
        for bad in ([1.0, 2.0, 3.0], None):
            updates = spark.createDataFrame(
                [(7, [0.1, 0.2, 0.3, 0.4]), (9001, bad)],
                "vec_id long, embedding array<double>",
            )
            with pytest.raises(
                Exception, match="ValueError: ivf_assign_cells"
            ):
                ivf_table_upsert(spark, t, updates)
            assert latest_version(t) == v0
        ok = spark.createDataFrame(
            [(9001, [0.1, 0.2, 0.3, 0.4])],
            "vec_id long, embedding array<double>",
        )
        ivf_table_upsert(spark, t, ok)
        assert latest_version(t) > v0

    def test_indexed_pruning_reads_only_probed_files(self, spark, tmp_path):
        """The probed-cell selection prunes at the SEGMENT LIST, not as
        a row filter: the executed scan's numFiles metric equals the
        file count of the probed cells' segments alone."""
        import os

        from conversation_with_vector_db_spark.operators.ann import (
            _load_centroids,
            ivf_probe,
            ivf_table_create,
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
            read_table,
        )

        corpus = self._clustered_corpus(spark)
        t = str(tmp_path / "ivf_files")
        ivf_table_create(spark, corpus, t, nlist=8)
        queries = corpus.filter(F.col("vec_id") < 2)
        probes = ivf_probe(
            _load_centroids(t), collect_query_vectors(queries), nprobe=3
        )
        cells = {str(cell) for _, _, cell in probes}
        assert 0 < len(cells) < 8

        def n_files(segs):
            return sum(
                f.endswith(".parquet")
                for s in segs
                for f in os.listdir(segment_path(t, s))
            )

        segs = live_segments(t)
        want = n_files(s for s in segs if _partition_of(s, "cell") in cells)
        assert 0 < want < n_files(segs)

        # AQE wraps scans in query stages whose leaves hide the scan
        # node; turn it off so the executed plan's single leaf IS the
        # FileSourceScan and its driver-side numFiles metric is
        # directly readable. Restore the PRIOR value.
        prior_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            scan = read_table(
                spark, t, partitions=cells, partition_col="cell"
            )
            scan.collect()
            leaf = (
                scan._jdf.queryExecution()
                .executedPlan()
                .collectLeaves()
                .apply(0)
            )
            assert "FileSourceScan" in leaf.getClass().getSimpleName()
            n_read = leaf.metrics().apply("numFiles").value()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prior_aqe)
        assert n_read == want, (n_read, want)

    def test_indexed_empty_query_set_short_circuits(self, spark, tmp_path):
        """No queries -> empty result with the standard columns and an
        executed plan containing NO file scan (the scan filter folds to
        an empty LocalTableScan). Building the plan runs the same
        queries as a non-empty probe's build — the probe collect only,
        no dimension query over the table's scan."""
        from conversation_with_vector_db_spark.operators.ann import (
            ivf_table_create,
            ivf_table_topk,
        )

        corpus = self._clustered_corpus(spark)
        t = str(tmp_path / "ivf_empty")
        ivf_table_create(spark, corpus, t, nlist=4)
        # SQL executions, not jobs: a query over the folded empty scan
        # launches no job, but still executes.
        # Execution ids, not the retained count: the UI store caps the
        # count at spark.sql.ui.retainedExecutions.
        bus = spark.sparkContext._jsc.sc().listenerBus()
        store = spark._jsparkSession.sharedState().statusStore()

        def last_execution_id():
            bus.waitUntilEmpty()
            return store.executionsList().last().executionId()

        def build_executions(queries):
            before = last_execution_id()
            df = ivf_table_topk(spark, t, queries, k=5)
            return df, last_execution_id() - before

        out, n_empty = build_executions(corpus.filter(F.col("vec_id") < 0))
        _, n_probe = build_executions(corpus.filter(F.col("vec_id") < 2))
        assert n_empty == n_probe == 1, (n_empty, n_probe)
        assert out.count() == 0
        assert out.columns == ["qid", "vec_id", "sim", "rank"]
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "FileScan" not in plan  # lit(False) folded the scan away

    def test_create_runs_a_bounded_number_of_jobs(self, spark, tmp_path):
        """The k-means fits on the driver: building the index runs the
        dimension query, ONE fit-sample collect and the cell-tagged
        write — at most 10 Spark jobs on a small corpus (an MLlib fit
        alone ran dozens)."""
        from conversation_with_vector_db_spark.operators.ann import (
            ivf_table_create,
        )

        corpus = self._clustered_corpus(spark)
        sc = spark.sparkContext
        group = f"ivf-create-{tmp_path.name}"
        sc.setJobGroup(group, "ivf_table_create job count")
        try:
            ivf_table_create(
                spark, corpus, str(tmp_path / "ivf_jobs"), nlist=8
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert 0 < n_jobs <= 10, n_jobs

    def test_read_paths_build_with_recorded_schema(self, spark, tmp_path):
        """The index records its schema at create, so building a
        read_table runs no Spark job and building an ivf_table_topk
        runs one (the query-vector collect): no footer inference."""
        from conversation_with_vector_db_spark.operators.ann import (
            ivf_table_create,
            ivf_table_topk,
        )
        from conversation_with_vector_db_spark.sources.transactional import (
            read_table,
        )

        corpus = self._clustered_corpus(spark)
        t = str(tmp_path / "ivf_read_jobs")
        ivf_table_create(spark, corpus, t, nlist=8)
        queries = corpus.filter(F.col("vec_id") < 3)
        sc = spark.sparkContext

        def build_jobs(name, fn):
            group = f"{name}-{tmp_path.name}"
            sc.setJobGroup(group, name)
            try:
                out = fn()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return out, len(sc.statusTracker().getJobIdsForGroup(group))

        table, n_read = build_jobs(
            "read-table", lambda: read_table(spark, t)
        )
        top, n_topk = build_jobs(
            "ivf-topk", lambda: ivf_table_topk(spark, t, queries, k=5)
        )
        assert (n_read, n_topk) == (0, 1)
        assert table.count() == corpus.count()
        assert top.count() == 15

    def test_delete_runs_a_bounded_number_of_jobs(self, spark, tmp_path):
        """ivf_table_delete collects its id frame once and joins the
        collected ids: one collect, one segment read for the hit set
        and one for the survivors' write, both with the recorded
        schema (no inference job) — at most 6 Spark jobs."""
        from conversation_with_vector_db_spark.operators.ann import (
            ivf_table_create,
            ivf_table_delete,
        )
        from conversation_with_vector_db_spark.sources.transactional import (
            read_table,
        )

        corpus = self._clustered_corpus(spark)
        t = str(tmp_path / "ivf_delete_jobs")
        ivf_table_create(spark, corpus, t, nlist=8)
        ids = spark.createDataFrame([(3,), (17,), (200,)], "vec_id long")
        sc = spark.sparkContext
        group = f"ivf-delete-{tmp_path.name}"
        sc.setJobGroup(group, "ivf_table_delete job count")
        try:
            ivf_table_delete(spark, t, ids)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert 0 < n_jobs <= 6, n_jobs
        left = read_table(spark, t)
        assert left.count() == corpus.count() - 3
        assert left.filter(F.col("vec_id").isin(3, 17, 200)).count() == 0

    def test_upsert_runs_a_bounded_number_of_jobs(self, spark, tmp_path):
        """ivf_table_upsert takes the table's recorded schema, collects
        the update ids once, reads the candidate segments for the hit
        set and writes survivors plus assigned updates — at most 6
        Spark jobs (no min/max aggregate, no schema inference)."""
        from conversation_with_vector_db_spark.operators.ann import (
            ivf_table_create,
            ivf_table_upsert,
        )
        from conversation_with_vector_db_spark.sources.transactional import (
            read_table,
        )

        corpus = self._clustered_corpus(spark)
        t = str(tmp_path / "ivf_upsert_jobs")
        ivf_table_create(spark, corpus, t, nlist=8)
        rows = corpus.filter(F.col("vec_id").isin(3, 17, 200)).collect()
        updates = spark.createDataFrame(
            [(r["vec_id"] + 1000 * (i == 2), r["embedding"])
             for i, r in enumerate(rows)],
            corpus.schema,
        )
        sc = spark.sparkContext
        group = f"ivf-upsert-{tmp_path.name}"
        sc.setJobGroup(group, "ivf_table_upsert job count")
        try:
            ivf_table_upsert(spark, t, updates)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert 0 < n_jobs <= 6, n_jobs
        assert read_table(spark, t).count() == corpus.count() + 1

    def test_upsert_of_unchanged_rows_keeps_their_cells(self, spark, tmp_path):
        """One assignment rule: create, rebalance and upsert all assign
        by ivf_assign_cells, so re-upserting every row exactly as the
        table stores it leaves each row in the cell the create gave
        it."""
        from conversation_with_vector_db_spark.operators.ann import (
            ivf_table_create,
            ivf_table_upsert,
        )
        from conversation_with_vector_db_spark.sources.transactional import (
            read_table,
        )

        corpus = self._clustered_corpus(spark)
        t = str(tmp_path / "ivf_same_rule")
        ivf_table_create(spark, corpus, t, nlist=8)

        def cells():
            return {
                r["vec_id"]: r["cell"]
                for r in read_table(spark, t).select("vec_id", "cell")
                .collect()
            }

        created = cells()
        assert len(set(created.values())) > 1  # the rule has choices
        ivf_table_upsert(
            spark, t, read_table(spark, t).select("vec_id", "embedding")
        )
        assert cells() == created

    def test_replayed_txn_upsert_runs_no_job(self, spark, tmp_path):
        """A streaming micro-batch replayed after its commit is skipped
        before its batch is assigned or evaluated: the replay returns
        None and runs no Spark job."""
        from conversation_with_vector_db_spark.operators.ann import (
            ivf_table_create,
            ivf_table_upsert,
        )

        corpus = self._clustered_corpus(spark)
        t = str(tmp_path / "ivf_replay")
        ivf_table_create(spark, corpus, t, nlist=4)
        updates = corpus.filter(F.col("vec_id") < 5)
        assert ivf_table_upsert(spark, t, updates, txn=("app", 0)) is not None
        sc = spark.sparkContext
        group = f"ivf-replay-{tmp_path.name}"
        sc.setJobGroup(group, "replayed upsert")
        try:
            assert ivf_table_upsert(spark, t, updates, txn=("app", 0)) is None
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert sc.statusTracker().getJobIdsForGroup(group) == []

    def test_transactional_index_table_lifecycle(self, spark, tmp_path):
        """IVF index as a snapshot-log table: create -> query -> atomic
        upsert (one vector MOVES clusters, one is new) -> re-query.
        The moved vector must be findable near its NEW neighbors with
        no stale twin in the old cell, identities stay unique, and a
        version-pinned query still returns the pre-upsert result."""
        from conversation_with_vector_db_spark.operators.ann import (
            ivf_table_create,
            ivf_table_topk,
            ivf_table_upsert,
        )
        from conversation_with_vector_db_spark.sources.snapshot_log import (
            latest_version,
        )
        from conversation_with_vector_db_spark.sources.transactional import (
            read_table,
        )

        corpus = self._clustered_corpus(spark)
        t = str(tmp_path / "ivf_table")
        ivf_table_create(spark, corpus, t, nlist=8)
        v0 = latest_version(t)

        probe = corpus.filter(F.col("vec_id") == 1)
        before = {
            r["vec_id"]
            for r in ivf_table_topk(spark, t, probe, k=5, nprobe=2)
            .collect()
        }
        assert before  # sanity: the probe finds neighbors

        # Move vec 1 onto vec 40's cluster centroid-ish vector, and
        # add a brand-new vec 9001 next to it.
        target = corpus.filter(F.col("vec_id") == 40).first()["embedding"]
        moved = [float(x) for x in target]
        updates = spark.createDataFrame(
            [(1, moved), (9001, moved)],
            "vec_id long, embedding array<double>",
        )
        ivf_table_upsert(spark, t, updates)

        table = read_table(spark, t)
        assert table.filter(F.col("vec_id") == 1).count() == 1  # no twin
        assert table.filter(F.col("vec_id") == 9001).count() == 1

        # Query with the moved vector itself: both upserted rows must
        # rank at the very top (sim 1.0), proving the move landed in
        # the probed cell.
        q = spark.createDataFrame(
            [(777, moved)], "vec_id long, embedding array<double>"
        )
        top = ivf_table_topk(spark, t, q, k=3, nprobe=2).collect()
        # vec 40's embedding IS `moved`, so 1, 40, 9001 all tie at
        # sim 1.0 and the id tiebreak orders them 1 < 40 < 9001.
        assert [r["vec_id"] for r in top] == [1, 40, 9001]
        assert all(r["sim"] == 1.0 for r in top)

        # Time travel: the pre-upsert version still answers the old way.
        pinned = {
            r["vec_id"]
            for r in ivf_table_topk(
                spark, t, probe, k=5, nprobe=2, version=v0
            ).collect()
        }
        assert pinned == before

    @pytest.mark.heavy
    def test_index_table_delete_and_rebalance(self, spark, tmp_path):
        """Cross-cell delete, then an atomic rebalance (re-fit +
        reassign all rows in one commit, versioned centroid sidecar):
        results stay exact, deleted ids stay gone, and a pre-rebalance
        pinned probe still uses ITS centroid model."""
        from conversation_with_vector_db_spark.operators.ann import (
            ivf_table_create,
            ivf_table_delete,
            ivf_table_rebalance,
            ivf_table_topk,
        )
        from conversation_with_vector_db_spark.sources.snapshot_log import (
            latest_version,
        )
        from conversation_with_vector_db_spark.sources.transactional import (
            read_table,
        )

        corpus = self._clustered_corpus(spark)
        t = str(tmp_path / "ivf_table_rb")
        ivf_table_create(spark, corpus, t, nlist=8)
        probe = corpus.filter(F.col("vec_id") == 2)
        v_before = latest_version(t)
        before = sorted(
            r["vec_id"]
            for r in ivf_table_topk(spark, t, probe, k=5, nprobe=3)
            .collect()
        )

        ids = spark.createDataFrame([(3,), (17,)], "vec_id long")
        ivf_table_delete(spark, t, ids)
        tbl = read_table(spark, t)
        assert tbl.filter(F.col("vec_id").isin(3, 17)).count() == 0
        n_after_delete = tbl.count()

        ivf_table_rebalance(spark, t, nlist=4)
        tbl2 = read_table(spark, t)
        assert tbl2.count() == n_after_delete  # rebalance loses nothing
        assert tbl2.filter(F.col("vec_id").isin(3, 17)).count() == 0
        assert (
            tbl2.select("cell").distinct().count() <= 4
        )  # new model's cell space
        # Probes still answer exactly under the new model (nprobe=all
        # cells -> exhaustive, so result is the exact top-k).
        after = sorted(
            r["vec_id"]
            for r in ivf_table_topk(spark, t, probe, k=5, nprobe=4)
            .collect()
        )
        exact = sorted(
            x
            for x in before
            if x not in (3, 17)
        )
        assert set(after) >= set(exact) - {3, 17} or len(after) == 5
        # Pinned pre-delete probe: old model, old rows — unchanged.
        pinned = sorted(
            r["vec_id"]
            for r in ivf_table_topk(
                spark, t, probe, k=5, nprobe=3, version=v_before
            ).collect()
        )
        assert pinned == before

    @pytest.mark.heavy
    def test_index_table_filtered_query_and_metadata(self, spark, tmp_path):
        """Pinecone-style filtered query: the `where` predicate applies
        INSIDE the probed cells before scoring (never post-top-k), and
        metadata columns survive upsert AND rebalance."""
        import pytest as _pytest

        from conversation_with_vector_db_spark.operators.ann import (
            ivf_table_create,
            ivf_table_rebalance,
            ivf_table_topk,
            ivf_table_upsert,
        )
        from conversation_with_vector_db_spark.sources.transactional import (
            read_table,
        )

        corpus = self._clustered_corpus(spark).withColumn(
            "lang",
            F.when(F.col("vec_id") % 2 == 0, "en").otherwise("de"),
        )
        t = str(tmp_path / "ivf_table_meta")
        ivf_table_create(spark, corpus, t, nlist=4, extra_cols=("lang",))

        probe = corpus.filter(F.col("vec_id") == 6).drop("lang")
        got = ivf_table_topk(
            spark, t, probe, k=5, nprobe=4, where="lang = 'en'"
        )
        ids = [r["vec_id"] for r in got.collect()]
        assert len(ids) == 5  # k survivors FROM the filtered set
        assert all(i % 2 == 0 for i in ids)

        # Upsert without the metadata column: refused loudly.
        with _pytest.raises(ValueError, match="missing index columns"):
            ivf_table_upsert(
                spark,
                t,
                spark.createDataFrame(
                    [(1, [0.0] * 16)],
                    "vec_id long, embedding array<double>",
                ),
            )
        # With it: lands, and metadata survives a full rebalance.
        moved = [
            float(x)
            for x in corpus.filter(F.col("vec_id") == 6).first()[
                "embedding"
            ]
        ]
        ivf_table_upsert(
            spark,
            t,
            spark.createDataFrame(
                [(9001, moved, "en")],
                "vec_id long, embedding array<double>, lang string",
            ),
        )
        ivf_table_rebalance(spark, t, nlist=2)
        tbl = read_table(spark, t)
        assert tbl.filter(F.col("lang").isNull()).count() == 0
        assert (
            tbl.filter(F.col("vec_id") == 9001).first()["lang"] == "en"
        )
        got2 = ivf_table_topk(
            spark, t, probe, k=3, nprobe=2, where="lang = 'en'"
        )
        assert {r["vec_id"] for r in got2.collect()} >= {6, 9001}

    @pytest.mark.heavy
    def test_index_table_vacuum_reaps_unreachable_models(
        self, spark, tmp_path
    ):
        """After vacuum, centroid sidecars older than the model
        effective at the retention floor are reaped; the floor's own
        model survives and pinned-at-head probes still answer."""
        import os

        from conversation_with_vector_db_spark.operators.ann import (
            ivf_table_create,
            ivf_table_rebalance,
            ivf_table_topk,
            ivf_table_vacuum,
        )

        corpus = self._clustered_corpus(spark)
        t = str(tmp_path / "ivf_table_vac")
        ivf_table_create(spark, corpus, t, nlist=8)   # model @ v1
        ivf_table_rebalance(spark, t, nlist=4)        # model @ v2
        assert len(os.listdir(f"{t}/centroids")) == 2
        deleted = ivf_table_vacuum(t, keep_versions=1)
        assert any(d.startswith("centroids/") for d in deleted)
        assert len(os.listdir(f"{t}/centroids")) == 1
        probe = corpus.filter(F.col("vec_id") == 2)
        got = ivf_table_topk(spark, t, probe, k=5, nprobe=4).collect()
        assert len(got) == 5

    @pytest.mark.heavy
    def test_vacuum_skips_model_reaping_on_incomplete_meta_walk(
        self, spark, tmp_path, monkeypatch
    ):
        """If ANY retained version's manifest meta can't be read (raced
        a concurrent vacuum), the m-* sidecar reaping pass must be
        skipped entirely: a model referenced only by the unreadable
        version lands in neither `reachable` nor `ever`, and the age
        gate would not save a committed (old) model — ADVICE r7 #2."""
        import os

        from conversation_with_vector_db_spark.operators.ann import (
            ivf_table_create,
            ivf_table_rebalance,
            ivf_table_topk,
            ivf_table_vacuum,
        )
        from conversation_with_vector_db_spark.sources import (
            snapshot_log as sl,
        )

        corpus = self._clustered_corpus(spark)
        t = str(tmp_path / "ivf_table_race")
        ivf_table_create(spark, corpus, t, nlist=8)   # model @ v1
        ivf_table_rebalance(spark, t, nlist=4)        # model @ v2
        assert len(os.listdir(f"{t}/centroids")) == 2

        real = sl.table_meta

        def flaky(table_dir, version=None):
            raise FileNotFoundError("manifest vanished under the walk")

        monkeypatch.setattr(sl, "table_meta", flaky)
        # Even with a zero age gate, NOTHING is reaped: the walk is
        # incomplete, so the head's own model can't be proven live.
        ivf_table_vacuum(t, keep_versions=1, orphan_min_age_sec=0.0)
        monkeypatch.setattr(sl, "table_meta", real)
        assert len(os.listdir(f"{t}/centroids")) == 2
        probe = corpus.filter(F.col("vec_id") == 2)
        assert len(
            ivf_table_topk(spark, t, probe, k=5, nprobe=4).collect()
        ) == 5
        # A later vacuum with a healthy walk reaps the v1 orphan.
        ivf_table_vacuum(t, keep_versions=1, orphan_min_age_sec=0.0)
        assert len(os.listdir(f"{t}/centroids")) == 1
        assert len(
            ivf_table_topk(spark, t, probe, k=5, nprobe=4).collect()
        ) == 5

    @pytest.mark.heavy
    def test_rebalance_sidecar_atomic_with_commit(
        self, spark, tmp_path, monkeypatch
    ):
        """The centroid model publishes atomically WITH the rebalance
        commit (manifest meta pointer, staged sidecar): a writer dying
        at ANY point either leaves the table fully on the old model
        (orphan sidecar vacuum-reaped) or fully on the new one — never
        a committed assignment probing a model it wasn't built with."""
        import os

        from conversation_with_vector_db_spark.operators.ann import (
            _load_centroids,
            ivf_table_create,
            ivf_table_rebalance,
            ivf_table_topk,
            ivf_table_vacuum,
        )
        from conversation_with_vector_db_spark.sources import (
            transactional as tx,
        )
        from conversation_with_vector_db_spark.sources.snapshot_log import (
            table_meta,
        )

        corpus = self._clustered_corpus(spark)
        t = str(tmp_path / "ivf_table_crash")
        ivf_table_create(spark, corpus, t, nlist=8)
        probe = corpus.filter(F.col("vec_id") == 2)
        before = {
            r["vec_id"]
            for r in ivf_table_topk(spark, t, probe, k=5, nprobe=8)
            .collect()
        }

        def crash(*a, **kw):
            raise RuntimeError("writer died before the CAS commit")

        monkeypatch.setattr(tx, "commit_segments", crash)
        with pytest.raises(RuntimeError, match="died"):
            ivf_table_rebalance(spark, t, nlist=4)
        monkeypatch.undo()

        # Fully rolled back: old model serves, old results unchanged.
        assert len(_load_centroids(t)) == 8
        got = {
            r["vec_id"]
            for r in ivf_table_topk(spark, t, probe, k=5, nprobe=8)
            .collect()
        }
        assert got == before
        # The dead writer's staged sidecar is an age-gated orphan.
        assert len(os.listdir(f"{t}/centroids")) == 2
        ivf_table_vacuum(t, keep_versions=1, orphan_min_age_sec=0.0)
        assert len(os.listdir(f"{t}/centroids")) == 1
        # A healthy rebalance: pointer + sidecar land in ONE commit.
        v = ivf_table_rebalance(spark, t, nlist=4)
        rel = table_meta(t, v)["centroids"]
        assert os.path.isdir(f"{t}/{rel}")
        assert len(_load_centroids(t)) == 4
        got2 = ivf_table_topk(spark, t, probe, k=5, nprobe=4).collect()
        assert len(got2) == 5

    @pytest.mark.heavy
    def test_upsert_conflict_reassigns_under_new_model(
        self, spark, tmp_path, monkeypatch
    ):
        """An upsert losing its commit race to a REBALANCE must re-run
        cell assignment under the winner's centroid model before
        retrying — retrying with cells assigned under the old model
        would land vectors in cells the new model's probes never
        select (a permanent recall hole)."""
        from conversation_with_vector_db_spark.operators.ann import (
            _load_centroids,
            ivf_assign_cells,
            ivf_table_create,
            ivf_table_rebalance,
            ivf_table_topk,
            ivf_table_upsert,
        )
        from conversation_with_vector_db_spark.sources import (
            transactional as tx,
        )
        from conversation_with_vector_db_spark.sources.snapshot_log import (
            CommitConflictError,
        )
        from conversation_with_vector_db_spark.sources.transactional import (
            read_table,
        )

        corpus = self._clustered_corpus(spark)
        t = str(tmp_path / "ivf_table_race")
        ivf_table_create(spark, corpus, t, nlist=8)

        real = tx.upsert_by_key_global
        calls = {"n": 0}

        def raced(sp, td, up, **kw):
            calls["n"] += 1
            if calls["n"] == 1:
                # The conflicting writer: a rebalance wins the race and
                # swaps the centroid model under the upsert.
                ivf_table_rebalance(spark, t, nlist=2)
                raise CommitConflictError("rebalance won the race")
            return real(sp, td, up, **kw)

        monkeypatch.setattr(tx, "upsert_by_key_global", raced)
        target = corpus.filter(F.col("vec_id") == 40).first()["embedding"]
        updates = spark.createDataFrame(
            [(9001, [float(x) for x in target])],
            "vec_id long, embedding array<double>",
        )
        ivf_table_upsert(spark, t, updates)
        monkeypatch.undo()
        assert calls["n"] == 2  # one loss, one reassigned retry

        # The landed row's cell is the NEW model's nearest centroid.
        expected = ivf_assign_cells(
            updates, _load_centroids(t)
        ).first()["cell"]
        row = (
            read_table(spark, t, partition_col="cell")
            .filter(F.col("vec_id") == 9001)
            .collect()
        )
        assert len(row) == 1
        assert row[0]["cell"] == expected
        # And a minimal probe (nprobe=1) finds it — it sits in exactly
        # the cell the new model routes its own embedding to.
        q = spark.createDataFrame(
            [(777, [float(x) for x in target])],
            "vec_id long, embedding array<double>",
        )
        top = ivf_table_topk(spark, t, q, k=2, nprobe=1).collect()
        assert 9001 in {r["vec_id"] for r in top}

    def test_indexed_topk_rejects_null_query(self, spark, tmp_path):
        """NULL query embeddings fail at plan time (same contract as
        collect_query_vectors) — without the check the matmul rescore
        silently emits nothing for such queries."""
        from conversation_with_vector_db_spark.operators.ann import (
            ivf_table_create,
            ivf_table_topk,
        )

        corpus = self._clustered_corpus(spark)
        table = str(tmp_path / "table_idx")
        ivf_table_create(spark, corpus, table, nlist=4)
        queries = spark.createDataFrame(
            [(1, [float(i) for i in range(16)]), (2, None)],
            "vec_id long, embedding array<double>",
        )
        with pytest.raises(ValueError, match="NULL query"):
            ivf_table_topk(spark, table, queries, k=3, nprobe=2)


class TestChunkPlans:
    def test_recursive_chunk_table_shape(self, spark, sf_dir):
        df = registry.REGISTRY["t2_chunk_recursive_fine"].fn(spark, sf_dir)
        rows = df.limit(500).collect()
        assert rows
        assert all(r.n_chars <= 150 for r in rows)
        # chunk_ids are dense per document
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r.chunk_id)
        for ids in by_doc.values():
            assert sorted(ids) == list(range(min(ids), max(ids) + 1))


def test_lsh_recall_and_pruning_on_clustered_vectors(spark):
    # PLANS.md claims the uniform fixture is the WORST case for cosine
    # LSH (sims concentrate at 0 +- 1/sqrt(dim)) and that on clustered
    # embeddings LSH prunes far better. Pin that claim with a config
    # sized for pruning: 8-bit band keys (48 bits / 6 bands) + 1-bit
    # multi-probe. (The 4-bit-band multi-probe config of the uniform
    # suite trades ALL pruning for recall by construction: 30 probe
    # keys over 16-bucket bands collide with ~90% of any corpus.)
    import numpy as np

    from conversation_with_vector_db_spark.operators.ann import (
        exact_baseline,
        hyperplane_lsh_topk,
        recall_at_k,
        with_lsh_bands,
    )

    rng = np.random.default_rng(7)
    dim, n_clusters, per_cluster = 64, 20, 50
    centroids = rng.normal(size=(n_clusters, dim))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per_cluster):
            v = centroids[c] + 0.08 * rng.normal(size=dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = corpus.filter(F.col("vec_id") % 97 == 0)

    approx = hyperplane_lsh_topk(
        corpus, queries, k=10, n_bits=48, n_bands=6, dim=dim,
        probe_bits=1,
    )
    exact = exact_baseline(corpus, queries, k=10)
    rep = recall_at_k(approx, exact, k=10).first()
    assert rep.recall >= 0.9, rep

    # Candidate scan fraction: distinct (qid, vec_id) band matches over
    # queries x corpus — must be a real pruning ratio here, unlike the
    # uniform fixture's 0.88.
    c = with_lsh_bands(corpus, n_bits=48, n_bands=6, dim=dim)
    q = with_lsh_bands(
        queries, n_bits=48, n_bands=6, dim=dim, probe_bits=1
    ).select(F.col("vec_id").alias("qid"), "band", "band_key")
    n_cand = (
        c.join(q, ["band", "band_key"])
        .select("qid", "vec_id")
        .distinct()
        .count()
    )
    frac = n_cand / (queries.count() * corpus.count())
    assert frac < 0.35, frac


def test_batched_udfs_handle_empty_partitions(spark):
    """The Arrow-batched stages (LSH signatures, the numpy
    query-against-corpus kernel) skip empty partitions and still agree
    with the HOF fold."""
    from conversation_with_vector_db_spark.operators.ann import (
        with_lsh_bands,
    )
    from conversation_with_vector_db_spark.operators.vector import (
        cosine_similarity,
        matmul_topk,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], ["vec_id", "embedding"]
    ).repartition(8)  # most partitions empty
    banded = with_lsh_bands(emb, n_bits=8, n_bands=2, dim=2)
    assert banded.count() == 4
    top = matmul_topk(emb, [(9, [1.0, 2.0])], k=2)
    fold = emb.select(
        "vec_id",
        F.round(
            cosine_similarity(
                F.array(F.lit(1.0), F.lit(2.0)), F.col("embedding")
            ),
            4,
        ).alias("sim"),
    )
    assert {(r.vec_id, r.sim) for r in top.collect()} == {
        (r.vec_id, r.sim) for r in fold.collect()
    }


def test_signature_udf_nulls_ragged_dims_like_expr_form(spark):
    """A dim-mismatched embedding must yield a NULL signature on the
    Arrow branch — matching the expression form, whose zip_with
    null-pads a ragged vector into a NULL fold — never crash np.stack
    or the accumulate broadcast, and never emit band keys that join."""
    from conversation_with_vector_db_spark.operators.ann import (
        with_lsh_bands,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [1.0]),            # too short
            (3, [1.0, 2.0, 3.0]),  # too long
            (4, None),             # null
        ],
        "vec_id long, embedding array<double>",
    )
    banded = with_lsh_bands(emb, n_bits=8, n_bands=2, dim=2)
    rows = banded.collect()  # pre-fix: ValueError from np.stack here
    keys = {}
    for r in rows:
        keys.setdefault(r.vec_id, []).append(r.band_key)
    assert all(k is not None for k in keys[0] + keys[1])
    for bad in (2, 3, 4):
        assert keys[bad] == [None, None]  # NULL keys: never join-match


def test_pack_sequences_invariants(spark, sf_dir):
    """Packing invariants: per shard every sequence except the last is
    exactly full (256 tokens), sequence ids are dense from 0, and the
    packed token total equals the corpus token total (no token lost or
    duplicated by boundary splits)."""
    from conversation_with_vector_db_spark.plans.text_pipeline import (
        t13_pack_sequences,
    )
    import pyspark.sql.functions as F

    rows = t13_pack_sequences(spark, sf_dir).collect()
    assert rows, "packing produced no sequences"
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, seqs in by_shard.items():
        seqs.sort(key=lambda r: r.seq_id)
        assert [r.seq_id for r in seqs] == list(range(len(seqs)))
        for r in seqs[:-1]:
            assert r.n_tokens == 256, (shard, r.seq_id, r.n_tokens)
        assert 0 < seqs[-1].n_tokens <= 256

    total_packed = sum(r.n_tokens for r in rows)
    total_corpus = (
        spark.table("documents")
        .select(
            F.size(
                F.regexp_extract_all(
                    F.lower("text"), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0
                )
            ).alias("n")
        )
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert total_packed == total_corpus


def test_matmul_topk_bit_identical_to_brute_force(spark, sf_dir):
    """matmul_topk's dimension-by-dimension numpy accumulation must
    reproduce the SQL aggregate left-fold EXACTLY — same ranks, same
    sims, bit for bit — so the vectorized path can stand in for the
    correctness baseline anywhere."""
    from pyspark.sql import functions as F

    from conversation_with_vector_db_spark.operators.vector import (
        brute_force_topk,
        collect_query_vectors,
        matmul_topk,
    )
    from conversation_with_vector_db_spark.session import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5)
    want = [
        tuple(r)
        for r in brute_force_topk(emb, queries, k=10)
        .select("qid", "vec_id", "sim", "rank")
        .orderBy("qid", "rank")
        .collect()
    ]
    got = [
        tuple(r)
        for r in matmul_topk(emb, collect_query_vectors(queries), k=10)
        .select("qid", "vec_id", "sim", "rank")
        .orderBy("qid", "rank")
        .collect()
    ]
    assert got == want


def test_exact_topk_branches_agree_on_null_vectors(spark):
    """The gate contract forbids behavior flipping on data size: a NULL
    corpus embedding must score NULL sim on BOTH branches (ranked last,
    surfacing only when k exhausts real rows — the JVM fold's natural
    propagation; the Arrow branch used to crash np.stack), and a NULL
    query embedding must raise on BOTH branches."""
    import pytest

    from conversation_with_vector_db_spark.operators.vector import (
        exact_topk,
    )

    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
        (3, None),                    # null corpus vector
        (4, [1.0, 0.0, 0.0]),         # query-dim mismatch
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    q = corpus.filter(F.col("vec_id") == 0)
    collect = lambda df: sorted(
        tuple(r) for r in df.select("qid", "vec_id", "sim").collect()
    )
    small = collect(exact_topk(corpus, q, k=5, corpus_bytes=1))
    large = collect(exact_topk(corpus, q, k=5, corpus_bytes=1 << 40))
    assert small == large
    sims = {v: s for _, v, s in small}
    assert sims[3] is None and sims[4] is None  # null/ragged -> NULL
    assert sims[0] == 1.0

    nullq = corpus.filter(F.col("vec_id").isin(0, 3))
    with pytest.raises(ValueError, match="NULL query"):
        exact_topk(corpus, nullq, k=5, corpus_bytes=1)
    with pytest.raises(ValueError, match="NULL query"):
        exact_topk(corpus, nullq, k=5, corpus_bytes=1 << 40)


def test_ivf_mixed_dim_corpus_indexes_the_majority(spark, tmp_path):
    """ADVICE r10: dim used to come from an arbitrary first() row, so
    on a mixed-dimension corpus WHICH dimension survived the
    size(vec)==dim filter depended on partition order — a minority-dim
    row landing first silently dropped the majority of the corpus.
    Now dim is the MODE of sizes (majority_dim), partition-order
    independent: with the minority rows deliberately FIRST in a
    single partition, the index must still cover every majority row,
    and every dim-less ANN entry point (IVF, BQ in-plan and indexed,
    hyperplane LSH — one dimension for both sides) must rank exactly
    what it ranks with the majority dim pinned."""
    from conversation_with_vector_db_spark.operators.ann import (
        hyperplane_lsh_topk,
        ivf_fit_cells,
    )
    from conversation_with_vector_db_spark.operators.bq import (
        bq_topk,
        bq_topk_indexed,
        bq_write_index,
    )
    from conversation_with_vector_db_spark.operators.vector import (
        majority_dim,
    )

    minority = [(100 + i, [float(i), 1.0]) for i in range(2)]
    majorit = [
        (i, [float(i % 7), float(i % 3), 1.0, 0.5]) for i in range(20)
    ]
    corpus = spark.createDataFrame(
        minority + majorit + [(999, None)],
        "vec_id long, embedding array<double>",
    ).coalesce(1)  # minority row IS the first() row
    assert majority_dim(corpus, "embedding") == 4
    assigned, cent = ivf_fit_cells(corpus, nlist=4)
    ids = {r["vec_id"] for r in assigned.select("vec_id").collect()}
    assert ids == {i for i, _ in majorit}
    # explicit pin still wins over the mode
    assigned2, _ = ivf_fit_cells(corpus, nlist=2, dim=2)
    ids2 = {r["vec_id"] for r in assigned2.select("vec_id").collect()}
    assert ids2 == {100, 101}

    rows = lambda df: sorted(
        map(tuple, df.select("qid", "vec_id", "sim", "rank").collect())
    )
    queries = corpus.filter(F.col("vec_id") < 3)
    pinned = rows(bq_topk(corpus, queries, k=4, dim=4, oversample=2))
    assert rows(bq_topk(corpus, queries, k=4, oversample=2)) == pinned
    path = str(tmp_path / "bq_mixed")
    bq_write_index(corpus, path)
    assert rows(bq_topk_indexed(
        spark, path, queries, k=4, oversample=2
    )) == pinned
    # BQ packs 63 dims per code word, so a first()-row dim only bends
    # its codes past one word: the same minority rows first over a
    # 70-d majority.
    import numpy as np

    rng = np.random.default_rng(3)
    wide = spark.createDataFrame(
        minority
        + [(i, [float(x) for x in rng.normal(size=70)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    wide_q = wide.filter(F.col("vec_id") < 3)
    pinned = rows(bq_topk(wide, wide_q, k=4, dim=70, oversample=1))
    assert rows(bq_topk(wide, wide_q, k=4, oversample=1)) == pinned
    bq_write_index(wide, path)
    assert rows(bq_topk_indexed(
        spark, path, wide_q, k=4, oversample=1
    )) == pinned
    lsh =dict(k=4, n_bits=8, n_bands=4)
    assert rows(hyperplane_lsh_topk(corpus, queries, **lsh)) == rows(
        hyperplane_lsh_topk(corpus, queries, dim=4, **lsh)
    )

    # ties break to the larger dim, deterministically
    tied = spark.createDataFrame(
        [(1, [1.0]), (2, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    assert majority_dim(tied, "embedding") == 2
    assert majority_dim(tied.where("vec_id < 0"), "embedding") is None
    # size-0 vectors never count toward the mode
    empties = spark.createDataFrame(
        [(1, []), (2, []), (3, [1.0])],
        "vec_id long, embedding array<double>",
    )
    assert majority_dim(empties, "embedding") == 1


def _rescore_candidates_case(corpus, queries, tmp_path):
    from conversation_with_vector_db_spark.operators.vector import (
        rescore_candidates,
    )

    cands = (
        queries.select(F.col("vec_id").alias("a"))
        .crossJoin(corpus.select(F.col("vec_id").alias("b")))
        .filter(F.col("a") < F.col("b"))
    )
    return rescore_candidates(cands, corpus)


def _bq_topk_case(corpus, queries, tmp_path):
    from conversation_with_vector_db_spark.operators.bq import bq_topk

    return bq_topk(corpus, queries, k=5)


def _bq_topk_indexed_case(corpus, queries, tmp_path):
    from conversation_with_vector_db_spark.operators.bq import (
        bq_topk_indexed,
        bq_write_index,
    )

    path = str(tmp_path / "bqidx")
    bq_write_index(corpus, path)
    return bq_topk_indexed(corpus.sparkSession, path, queries, k=5)


def _sq8_topk_case(corpus, queries, tmp_path):
    from conversation_with_vector_db_spark.operators.sq import sq8_topk

    return sq8_topk(corpus, queries, dim=16, k=5)


@pytest.mark.parametrize(
    "build",
    [
        _rescore_candidates_case,
        _bq_topk_case,
        _bq_topk_indexed_case,
        _sq8_topk_case,
    ],
    ids=lambda f: f.__name__[1:-len("_case")],
)
def test_rescore_plans_are_python_free(spark, tmp_path, build):
    """Every pair-list rescorer scores with the unrolled JVM dot — with
    ``dim`` omitted wherever it is optional (derived by majority_dim,
    never by switching kernels): the executed plan carries NO Python
    evaluation node."""
    corpus = _clustered_corpus(spark)
    out = build(corpus, corpus.filter(F.col("vec_id") < 3), tmp_path)
    assert out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not any(s in plan for s in ("Python", "Arrow", "Pandas")), plan


def test_regex_counts_gate_flips_strategy(spark):
    """Below the byte threshold with_regex_counts counts JVM-side (no
    Python stage in the plan); above or unknown it runs pyarrow's RE2
    via mapInArrow. Values must be identical on both branches across
    the Java/RE2 common subset — char classes, alternation, ASCII
    word boundaries — including NULL text, empty text, unicode
    content, and unicode-lowercasing inputs."""
    from pyspark.sql import functions as F

    from conversation_with_vector_db_spark.operators.text import (
        with_regex_counts,
    )

    rows = [
        (0, "The quick brown fox and the lazy dog"),
        (1, ""),
        (2, None),
        (3, "ÅÄÖ Straße the naïve café AND THE"),
        (4, "a" * 5000 + " the " + "b1c2" * 100),
        (5, "punctuation!!! and, the; end."),
        # ASCII word char ABUTTING an accented letter at a match edge:
        # Java's Unicode \b sees 'aé' as one word (no boundary between
        # 'a' and 'é'), RE2's ASCII \b sees two — the divergence the
        # JVM branch's lookaround rewrite exists to close. 'a' must
        # count here on BOTH branches (= the RE2/DuckDB semantics).
        (6, "el aé de"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    counts = [
        ("n_words", "[a-z0-9]+", True),
        ("n_stop", r"\b(the|a|of|and|to|in|is|for)\b", True),
        ("n_sym", "[^a-zA-Z0-9 ]", False),
    ]
    small = with_regex_counts(df, counts, src_bytes=1)
    large = with_regex_counts(df, counts, src_bytes=1 << 40)
    unknown = with_regex_counts(df, counts, src_bytes=None)

    def has_python_eval(d):
        plan = d._jdf.queryExecution().executedPlan().toString()
        return any(s in plan for s in ("MapInArrow", "ArrowEval", "Python"))

    assert not has_python_eval(small)
    assert has_python_eval(large)
    assert has_python_eval(unknown)
    rows_of = lambda d: sorted(
        tuple(r) for r in d.drop("text").collect()
    )
    assert rows_of(small) == rows_of(large) == rows_of(unknown)
    # sanity on actual values, not just cross-branch agreement
    got = {r["doc_id"]: r for r in small.collect()}
    assert got[0]["n_stop"] == 3 and got[0]["n_words"] == 8
    assert got[1]["n_words"] == 0
    assert got[2]["n_words"] is None
    assert got[5]["n_sym"] == 6  # ! ! ! , ; .
    # 'el aé de' under ASCII \b: the 'a' in 'aé' IS boundary-matched
    # ('é' is not an ASCII word char) => 1 stopword hit. Java's native
    # Unicode \b sees 'aé' as one word and says 0 — the lookaround
    # rewrite must yield the RE2/DuckDB answer.
    assert got[6]["n_stop"] == 1
    # empty counts: identity on BOTH branches, no schema crash
    from conversation_with_vector_db_spark.operators.text import (
        with_regex_counts as wrc,
    )

    assert wrc(df, [], src_bytes=1).columns == df.columns
    assert wrc(df, [], src_bytes=None).columns == df.columns


def test_exact_topk_size_gate_flips_strategy(spark, sf_dir):
    """Below the byte threshold exact_topk scores JVM-side (no Python
    eval in the plan); above (or unknown) it uses the Arrow batch path.
    Results are identical either way."""
    from pyspark.sql import functions as F

    from conversation_with_vector_db_spark.operators.vector import (
        exact_topk,
    )
    from conversation_with_vector_db_spark.session import load_tables

    load_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    small = exact_topk(emb, q, k=5, corpus_bytes=1024)
    large = exact_topk(emb, q, k=5, corpus_bytes=1 << 40)
    unknown = exact_topk(emb, q, k=5, corpus_bytes=None)
    def has_python_eval(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return any(
            s in plan for s in ("MapInPandas", "ArrowEval", "Python")
        )
    assert not has_python_eval(small)
    assert has_python_eval(large)
    assert has_python_eval(unknown)
    rows = lambda df: [tuple(r) for r in df.orderBy("qid", "rank").collect()]
    assert rows(small) == rows(large) == rows(unknown)


def test_matmul_extra_cols_passthrough_matches_brute_force(spark, sf_dir):
    """The Arrow path's extra_cols plumbing (schema construction +
    per-batch passthrough) must agree with the brute-force pass-through
    — exercised explicitly because fixture-scale queries take the JVM
    branch of the size gate and would otherwise never run it."""
    from pyspark.sql import functions as F

    from conversation_with_vector_db_spark.operators.vector import (
        brute_force_topk,
        collect_query_vectors,
        matmul_topk,
    )
    from conversation_with_vector_db_spark.session import load_tables

    load_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    mm = matmul_topk(
        emb, collect_query_vectors(q), k=7, extra_cols=("label",)
    ).select("qid", "vec_id", "label", "sim", "rank")
    bf = brute_force_topk(emb, q, k=7).select(
        "qid", "vec_id", "label", "sim", "rank"
    )
    rows = lambda df: [
        tuple(r) for r in df.orderBy("qid", "rank").collect()
    ]
    assert rows(mm) == rows(bf)


def test_bigram_nll_separates_boilerplate_from_noise(spark):
    """The self-trained bigram LM must score repeated boilerplate as
    more probable (lower avg negative log-prob) than a one-off doc made
    of tokens the corpus never repeats."""
    from conversation_with_vector_db_spark.operators.text import (
        bigram_nll_scores,
    )

    boiler = "terms of service apply to all users of this site"
    docs = [(i, boiler) for i in range(10)] + [
        (100, "zq xv wk jn pf bd gm lt rc hy"),
        (101, "one short"),  # 1 bigram, still scored
    ]
    rows = {
        r["doc_id"]: r
        for r in bigram_nll_scores(
            spark.createDataFrame(docs, ["doc_id", "text"])
        ).collect()
    }
    assert set(rows) == set(range(10)) | {100, 101}
    assert all(rows[i]["avg_nll"] == rows[0]["avg_nll"] for i in range(10))
    assert rows[100]["avg_nll"] > rows[0]["avg_nll"] + 1.0
    assert rows[100]["n_bigrams"] == 9
    assert rows[0]["n_bigrams"] == 9


def test_dsir_separates_disjoint_vocabularies(spark):
    """With fully disjoint target/off-target vocabularies, every
    target-vocab document must outscore every off-target document, and
    signs must split accordingly."""
    from pyspark.sql import functions as F

    from conversation_with_vector_db_spark.operators.text import (
        dsir_importance_scores,
    )

    rows = []
    for i in range(20):
        rows.append((i, "alpha beta gamma delta epsilon", "en"))
    for i in range(20, 40):
        rows.append((i, "zulu yankee xray whiskey victor", "xx"))
    # Mixed doc: half target vocab, half not — must land between.
    rows.append((100, "alpha beta zulu yankee", "xx"))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {
        r["doc_id"]: r["importance_micronats"]
        for r in dsir_importance_scores(
            docs, is_target=F.col("lang") == "en"
        ).collect()
    }
    tgt = [out[i] for i in range(20)]
    off = [out[i] for i in range(20, 40)]
    assert min(tgt) > out[100] > max(off)
    assert all(v > 0 for v in tgt) and all(v < 0 for v in off)


@pytest.mark.heavy
def test_ivf_fit_is_layout_deterministic(spark):
    """r11 determinism sweep finding: of all 199 registered queries,
    only the IVF recall reports were layout-DEPENDENT — MLlib's
    kmeans|| init seeds its RNG per (seed, partition) and scans rows
    in partition order, so the same corpus under different scan
    splits / shuffle widths fitted different centroids (recall 0.70
    vs 0.72 at sf0.001 across 64 KB vs 128 MB maxPartitionBytes).
    ivf_fit_cells now fits on the driver over a sample collected in
    xxhash64(vector, seed) order, a pure function of the data. This pin
    fits the SAME vectors delivered under three hostile layouts —
    1-partition, 7-partition round-robin, and reversed input order —
    and demands bit-identical centroids and assignments, once on a
    corpus the sample covers and once on one larger than the sample
    cap (256 rows per cell)."""
    import math
    import random

    from conversation_with_vector_db_spark.operators.ann import (
        ivf_fit_cells,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)
    ]

    def fit(df):
        assigned, cents = ivf_fit_cells(df, nlist=4, seed=42)
        a = sorted(
            (r["vec_id"], r["cell"]) for r in assigned.collect()
        )
        c = [(cell, tuple(cent)) for cell, cent in enumerate(cents)]
        return a, c

    def layouts(rows):
        schema = "vec_id long, embedding array<double>"
        return (
            spark.createDataFrame(rows, schema).coalesce(1),
            spark.createDataFrame(rows, schema).repartition(7),
            spark.createDataFrame(rows[::-1], schema).coalesce(1),
        )

    base, scattered, reversed_ = layouts(rows)
    want = fit(base)
    assert fit(scattered) == want
    assert fit(reversed_) == want
    # the capped sample path (1200 rows > 256 x 4) is layout-invariant too
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(1200)
    ]
    base, scattered, reversed_ = layouts(rows)
    want_s = fit(base)
    assert fit(scattered) == want_s
    assert fit(reversed_) == want_s
    # sanity: the sample really binds (fewer than all rows train, all
    # rows are still assigned)
    assert len(want_s[0]) == len(rows)
    assert not math.isnan(want_s[1][0][1][0])


def test_hash_sample_takes_the_lowest_hashes(spark):
    """A fit sample is the first ``rows`` rows in xxhash64(vector,
    seed) order, found from the hash column alone, whatever the scan
    layout. Pinned against a full sort, including a cap that falls
    inside a run of copies of one vector (rows sharing the cutoff
    hash): exactly ``rows`` rows come back, never every copy."""
    import random

    from conversation_with_vector_db_spark.operators.clustering import (
        hash_sample,
    )

    rng = random.Random(5)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(300)
    ]
    rows += [(1000 + i, [0.5, 0.25, -1.0, 2.0]) for i in range(60)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(5)
    h = F.xxhash64(F.col("embedding"), F.lit(42))
    hashes = sorted(r[0] for r in df.select(h).collect())
    first_copy = hashes.index(
        spark.createDataFrame([rows[-1]], df.schema).select(h).first()[0]
    )
    for cap in (1, 50, first_copy + 30, 359, 360, 500):
        got = sorted(
            r[0]
            for r in hash_sample(df, "embedding", 42, cap)
            .select(h)
            .collect()
        )
        assert got == hashes[:cap], cap


def test_zero_norm_vectors_are_cross_engine_exact(spark, sf_dir):
    """r11 probe: DuckDB's list_cosine_similarity returns -1.0 for a
    zero-norm vector while the engine's guarded cosine returns 0.0
    (the documented degenerate-vectors-are-dissimilar convention) — a
    silent value/order divergence on any corpus with zero-padded
    embeddings, invisible to the gate because the fixtures have none.
    Every raw-embedding oracle site now wraps the cosine in the same
    zero-norm CASE guard. This pin swaps in a corpus with a zero
    CORPUS vector and a zero QUERY vector and runs the REGISTERED
    v1_topk_cosine against its REGISTERED oracle, comparing reprs."""
    import duckdb
    import math
    import random

    from conversation_with_vector_db_spark.plans import (
        load_all,
        registry,
    )
    from conversation_with_vector_db_spark.session import load_tables

    load_all()
    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], i % 5)
        for i in range(30)
    ]
    rows[0] = (0, [0.0] * 8, 0)    # zero QUERY vector (vec_id < 5)
    rows[17] = (17, [0.0] * 8, 2)  # zero CORPUS vector
    try:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label long"
        ).createOrReplaceTempView("embeddings")
        q = registry.REGISTRY["v1_topk_cosine"]
        # Sorted compare: v1's presentation sort was dropped in r11
        # (the result SET is the contract), so collect order is
        # partition-dependent while the oracle still ORDER BYs.
        got = sorted(
            tuple(
                (repr(v), math.copysign(1.0, v)) if isinstance(v, float)
                else v
                for v in r
            )
            for r in q.fn.__wrapped__(spark, sf_dir).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE embeddings (vec_id BIGINT,"
            " embedding DOUBLE[], label BIGINT)"
        )
        con.executemany(
            "INSERT INTO embeddings VALUES (?, ?, ?)", rows
        )
        want = sorted(
            tuple(
                (repr(v), math.copysign(1.0, v)) if isinstance(v, float)
                else v
                for v in r
            )
            for r in con.execute(q.oracle_sql).fetchall()
        )
        assert got == want
        # the zero query really went through the guard: all its sims
        # are exactly +0.0
        zero_q = [r for r in got if r[0] == 0]
        assert zero_q and all(r[2] == ("0.0", 1.0) for r in zero_q)
    finally:
        try:
            spark.conf.unset("spark.cvdb.registered.sfdir")
        except Exception:
            pass
        load_tables(spark, sf_dir, ("embeddings",))


def test_dot_unrolled_bit_identical_to_fold(spark):
    """r11: the unrolled fixed-dim JVM dot (the pair-list kernel) must
    be BIT-identical — repr-level, -0.0 included — to the HOF fold, on
    well-formed AND hostile rows (NULL vector, NULL element, ragged
    short/long, zero vector, negative zeros, inf overflow, NaN
    element)."""
    from conversation_with_vector_db_spark.operators.vector import (
        dot,
        dot_unrolled,
    )

    rows = [
        (0, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
        (1, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),          # zero vector
        (2, [-0.0, -0.0, -0.0], [1.0, 1.0, 1.0]),        # -0.0 fold edge
        (3, None, [1.0, 1.0, 1.0]),                      # NULL vector
        (4, [1.0, None, 3.0], [4.0, 5.0, 6.0]),          # NULL element
        (5, [1.0, 2.0], [4.0, 5.0, 6.0]),                # ragged short a
        (6, [1.0, 2.0, 3.0, 4.0], [4.0, 5.0, 6.0]),      # ragged long a
        (7, [1.0, 2.0], [4.0, 5.0]),                     # both short
        (8, [1e308, 1e308, -1e308], [2.0, 2.0, 2.0]),    # overflow -> nan
        (9, [1.0, float("nan"), 3.0], [4.0, 5.0, 6.0]),  # NaN element
    ]
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    )
    got = df.select(
        "id",
        dot(F.col("a"), F.col("b")).alias("fold"),
        dot_unrolled(F.col("a"), F.col("b"), 3).alias("unrolled"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        assert repr(r.unrolled) == repr(r.fold), (r.id, r.unrolled, r.fold)


def test_rescore_dim_path_matches_fold_on_fixture(spark, sf_dir):
    """The dim-unrolled rescore (what dedup_embedding_cosine uses) must
    reproduce the HOF-fold cosine pair-for-pair at repr level over the
    real fixture's LSH candidate set — with ``dim`` passed and with it
    derived by majority_dim."""
    from conversation_with_vector_db_spark.operators.ann import (
        with_lsh_bands,
    )
    from conversation_with_vector_db_spark.operators.vector import (
        cosine_similarity,
        rescore_candidates,
    )
    from conversation_with_vector_db_spark.session import (
        load_tables,
        table_path,
    )
    from conversation_with_vector_db_spark.sources.parquet_io import (
        parquet_bytes_on_disk,
    )

    load_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    banded = with_lsh_bands(
        emb.select("vec_id", "embedding"), n_bits=48, n_bands=6, dim=64
    )
    x = banded.select(F.col("vec_id").alias("a"), "band", "band_key")
    y = banded.select(F.col("vec_id").alias("b"), "band", "band_key")
    cands = (
        x.join(y, ["band", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    vb = parquet_bytes_on_disk(table_path(sf_dir, "embeddings"))
    ea = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    fold = {
        (r.a, r.b): repr(r.sim)
        for r in cands.join(ea, "a").join(eb, "b").select(
            "a", "b",
            F.round(cosine_similarity(F.col("ea"), F.col("eb")), 4)
            .alias("sim"),
        ).collect()
    }
    assert fold
    for dim in (64, None):
        unrolled = {
            (r.a, r.b): repr(r.sim)
            for r in rescore_candidates(
                cands, emb, vec_bytes=vb, dim=dim
            ).collect()
        }
        assert unrolled == fold, dim


def test_regex_counts_drop_cols_identical_on_both_branches(spark):
    """r11: ``drop_cols`` must yield IDENTICAL schemas and values on
    the JVM and Arrow branches while keeping the heavy text column out
    of the Arrow return batches (it crosses the boundary once, in)."""
    from conversation_with_vector_db_spark.operators.text import (
        with_regex_counts,
    )

    df = spark.createDataFrame(
        [(0, 36, "The quick brown fox and the lazy dog"), (1, 0, None)],
        "doc_id long, n_chars long, text string",
    )
    counts = [("n_words", "[a-z0-9]+", True)]
    small = with_regex_counts(
        df, counts, src_bytes=1, drop_cols=("text",)
    )
    large = with_regex_counts(
        df, counts, src_bytes=1 << 40, drop_cols=("text",)
    )
    assert small.columns == large.columns == [
        "doc_id",
        "n_chars",
        "n_words",
    ]
    assert sorted(tuple(r) for r in small.collect()) == sorted(
        tuple(r) for r in large.collect()
    )
