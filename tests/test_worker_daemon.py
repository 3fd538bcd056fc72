"""The engine's Python worker daemon (worker_daemon): local sessions
run every Python task under it, a warm task's import-cache refresh
re-reads no zip, files shipped to warm workers still import, and
workers import the engine whatever the driver's working directory.
(A pandas UDF's error still reaching the caller is pinned by
test_text_vector's ``test_upsert_rejects_vectors_it_cannot_score``.)"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import uuid
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_warm_tasks_run_under_the_engine_daemon(spark):
    """Each task sees the engine daemon as its process's main module,
    and ``importlib.invalidate_caches()`` (PySpark's per-task call)
    costs under 5 ms: no cached zipimporter re-reads pyspark.zip."""

    def probe(_):
        import importlib
        import time

        spent = []
        for _ in range(3):
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            spent.append(time.perf_counter() - t0)
        return [(sys.modules["__main__"].__spec__.name, min(spent))]

    rdd = spark.sparkContext.parallelize(range(4), 4)
    rdd.mapPartitions(probe).collect()  # warm the workers
    rows = rdd.mapPartitions(probe).collect()
    assert {name for name, _ in rows} == {
        "conversation_with_vector_db_spark.worker_daemon"
    }
    assert max(spent for _, spent in rows) < 0.005, rows


def test_files_shipped_to_warm_workers_import(spark, tmp_path):
    """A ``.py`` and a ``.zip`` shipped with ``addPyFile`` after the
    workers are warm import inside a task: the directory invalidation
    they need is kept, and a new zip gets a new importer."""
    sc = spark.sparkContext
    rdd = sc.parallelize(range(2), 2)
    rdd.map(lambda x: x).collect()  # warm the workers
    tag = uuid.uuid4().hex[:8]
    py_mod, zip_mod = f"cvdb_shipped_py_{tag}", f"cvdb_shipped_zip_{tag}"
    py = tmp_path / f"{py_mod}.py"
    py.write_text("VALUE = 'py'\n")
    zpath = tmp_path / f"{zip_mod}.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(f"{zip_mod}/__init__.py", "VALUE = 'zip'\n")
    sc.addPyFile(str(py))
    sc.addPyFile(str(zpath))

    def load(_):
        import importlib

        return [
            (
                importlib.import_module(py_mod).VALUE,
                importlib.import_module(zip_mod).VALUE,
            )
        ]

    assert set(rdd.mapPartitions(load).collect()) == {("py", "zip")}


def test_engine_udfs_import_from_any_cwd(tmp_path):
    """A driver run from a directory other than the repo, with the
    repo on ``sys.path``, runs an engine pandas path (exact_topk's
    Arrow branch): its Python workers import the package from the
    package root, not from the driver's cwd."""
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, sys.argv[1])
        from conversation_with_vector_db_spark.session import get_spark
        from conversation_with_vector_db_spark.operators.vector import (
            exact_topk,
        )
        spark = get_spark(master="local[1]", shuffle_partitions=1)
        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        out = exact_topk(df, df, k=1).collect()
        print(sorted((r.qid, r.vec_id) for r in out))
        spark.stop()
        """
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [sys.executable, "-c", script, REPO],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "[(1, 1), (2, 2), (3, 3)]"
