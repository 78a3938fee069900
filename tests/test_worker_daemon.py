"""The Python worker daemon (``merkonvectordb_spark.worker_daemon``):
tasks keep the Spark install's zip importers across pyspark's per-task
``importlib.invalidate_caches()``, still see ``addPyFile`` zips, and the
daemon starts whatever the driver's working directory is."""

from __future__ import annotations

import os
import subprocess
import sys
import uuid
import zipfile

import merkonvectordb_spark


def test_install_archives_survive_invalidate_caches(spark):
    def probe(_):
        import importlib
        import sys
        import zipimport

        zips = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
            and os.path.basename(f.archive) == "pyspark.zip"
        ]
        files = [z._files for z in zips]
        importlib.invalidate_caches()
        yield len(zips), all(z._files is f for z, f in zip(zips, files))

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    n_zips, kept = got[0]
    assert n_zips > 0  # the worker imports pyspark from the install's zip
    assert kept  # and the zip's directory was not read again


def test_add_py_file_zip_imports_in_a_later_task(spark, tmp_path):
    sc = spark.sparkContext
    sc.parallelize([0], 1).map(lambda x: x).collect()  # a warm worker
    mod = f"pyfile_probe_{uuid.uuid4().hex}"
    path = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{mod}.py", "VALUE = 42\n")
    sc.addPyFile(str(path))

    def use(_):
        import importlib

        yield importlib.import_module(mod).VALUE

    assert sc.parallelize([0, 1], 2).mapPartitions(use).collect() == [42, 42]


def test_python_tasks_run_from_a_cwd_outside_the_repo(tmp_path):
    parent = os.path.dirname(os.path.dirname(merkonvectordb_spark.__file__))
    code = (
        f"import sys; sys.path.insert(0, {parent!r})\n"
        "from merkonvectordb_spark import get_spark\n"
        "s = get_spark('outside_cwd')\n"
        "print(s.sparkContext.parallelize([1, 2], 2).map(lambda x: x + 1).sum())\n"
        "s.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=180,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "5"
