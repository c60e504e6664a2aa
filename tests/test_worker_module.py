"""The Python worker module sessions run (``pyspark_graft_worker``):
reused workers keep their zip importers' directories across tasks,
sessions started from any directory find the module with and without
the daemon, and ``engine.zip`` carries it."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pyarrow as pa

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_reused_workers_keep_zip_directories(spark):
    """``setup_spark_files`` calls ``importlib.invalidate_caches()`` on
    every task; with the stock worker each ``zipimporter`` then re-reads
    its archive into a new ``_files`` dict. A worker running the
    package's module keeps the dict it read first."""

    def task_importer(batches):
        """One row per task: the worker's pid and the identity of the
        ``pyspark.zip`` importer's directory dict."""
        for _ in batches:
            pass
        imp = next(v for k, v in sys.path_importer_cache.items()
                   if k.endswith("pyspark.zip"))
        yield pa.RecordBatch.from_pylist(
            [{"pid": os.getpid(), "files": id(imp._files)}])

    seen: dict[int, set[int]] = {}
    tasks: dict[int, int] = {}
    for _ in range(2):
        rows = (spark.range(0, 16, 1, 8)
                .mapInArrow(task_importer, "pid long, files long")
                .collect())
        assert len(rows) == 8
        for r in rows:
            seen.setdefault(r.pid, set()).add(r.files)
            tasks[r.pid] = tasks.get(r.pid, 0) + 1
    assert max(tasks.values()) >= 2, tasks
    assert all(len(ids) == 1 for ids in seen.values()), seen


_ELSEWHERE = """
import json
import sys
sys.path.insert(0, {root!r})
from pyspark.sql.types import LongType, StringType, StructField, StructType
from pdf_to_text_extraction_service_spark.functions.textrows import map_rows
from pdf_to_text_extraction_service_spark.plans.session import build_session


def patched_in(batches):
    import os
    import zipimport
    where = zipimport.zipimporter.invalidate_caches.__code__.co_filename
    path = os.environ["PYTHONPATH"]
    for b in batches:
        n = len(b["id"])
        yield {{"id": b["id"], "where": [where] * n, "path": [path] * n}}


def stage(spark):
    schema = StructType([StructField("id", LongType()),
                         StructField("where", StringType()),
                         StructField("path", StringType())])
    rows = map_rows(spark.range(0, 8, 1, 2), schema, patched_in).collect()
    print(json.dumps({{
        "ids": sorted(r.id for r in rows),
        "where": sorted({{r.where for r in rows}}),
        "worker_paths": sorted({{r.path for r in rows}}),
        "environment": spark.sparkContext.environment["PYTHONPATH"]}}))


spark = build_session(master="local[2]", shuffle_partitions=2)
stage(spark)
jvm = spark.sparkContext._jvm
spark.stop()
jvm.java.lang.System.setProperty("spark.python.use.daemon", "false")
spark = build_session(master="local[2]", shuffle_partitions=2)
assert spark.conf.get("spark.python.use.daemon") == "false"
stage(spark)
spark.stop()
"""


def test_sessions_from_elsewhere_run_python_stages(tmp_path):
    """A session started outside the repo with no ``PYTHONPATH`` runs a
    Python stage through the package's worker module, with the daemon
    and, in a second session, without it. A worker path the launcher set
    with ``spark.executorEnv.PYTHONPATH`` stays behind the package's."""
    extra = str(tmp_path / "extra")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.executorEnv.PYTHONPATH={extra} pyspark-shell")
    out = subprocess.run(
        [sys.executable, "-c", _ELSEWHERE.format(root=ROOT)],
        cwd=tmp_path, env=env, capture_output=True, text=True,
        timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    stages = [json.loads(line) for line in out.stdout.splitlines()]
    assert len(stages) == 2, out.stdout
    module = os.path.join(ROOT, "pyspark_graft_worker.py")
    for got in stages:
        assert got["ids"] == list(range(8)), got
        assert got["where"] == [module], got
        assert got["environment"] == os.pathsep.join([ROOT, extra]), got
        (worker_path,) = got["worker_paths"]
        paths = worker_path.split(os.pathsep)
        assert paths.index(ROOT) < paths.index(extra), got


def test_engine_zip_carries_worker_module(tmp_path):
    """``tools/package.py`` puts the worker module at the zip's root, and
    a package imported from the zip points the workers' path at it."""
    zpath = str(tmp_path / "engine.zip")
    subprocess.run([sys.executable, os.path.join(ROOT, "tools",
                                                 "package.py"),
                    "--out", zpath], check=True, capture_output=True)
    with zipfile.ZipFile(zpath) as zf:
        names = set(zf.namelist())
    assert "pyspark_graft_worker.py" in names
    assert ("pdf_to_text_extraction_service_spark/plans/session.py"
            in names)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    probe = ("import sys; sys.path.insert(0, sys.argv[1]); "
             "from pdf_to_text_extraction_service_spark.plans import "
             "session; print(session._WORKER_ROOT)")
    out = subprocess.run([sys.executable, "-c", probe, zpath],
                         cwd=tmp_path, env=env, capture_output=True,
                         text=True, check=True)
    assert out.stdout.strip() == zpath
