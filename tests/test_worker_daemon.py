"""The Python worker daemon (``mojap_spark_daemon``): stock
``pyspark.daemon`` except that ``importlib.invalidate_caches`` no longer
makes every task re-read the zips and jars on the worker's path."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import mojap_spark_daemon
from mojap_arrow_pd_parser_spark.session import DAEMON_MODULE, REPO_ROOT


def test_get_spark_selects_the_daemon(spark):
    assert DAEMON_MODULE == mojap_spark_daemon.__name__
    assert spark.conf.get("spark.python.daemon.module") == DAEMON_MODULE


def test_import_loads_no_heavy_modules():
    # the daemon forks every worker: nothing it imports may pull in
    # pyarrow/numpy/pandas ahead of pyspark's own imports
    code = (
        "import sys, mojap_spark_daemon; "
        "print(sorted({'pyarrow', 'numpy', 'pandas'} & set(sys.modules)))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO_ROOT, check=True,
        capture_output=True, text=True,
    ).stdout
    assert out.strip() == "[]"


def test_invalidate_keeps_zips_and_drops_none_entries(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod.py", "X = 1\n")
    reads = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or stock_read(p)
    )
    # recorded so that monkeypatch undoes the daemon's patch afterwards
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    zi = zipimport.zipimporter(archive)
    missing = str(tmp_path / "not_yet")
    monkeypatch.setitem(sys.path_importer_cache, archive, zi)
    monkeypatch.setitem(sys.path_importer_cache, missing, None)
    mojap_spark_daemon.keep_zip_directories()
    del reads[:]
    importlib.invalidate_caches()
    assert reads == []  # the archive's directory was not re-read
    assert sys.path_importer_cache[archive] is zi
    assert missing not in sys.path_importer_cache  # stock: None dropped


def test_new_directory_on_path_imports_in_task(spark, tmp_path):
    # a path entry that does not exist yet is cached as None; once a
    # module is written there, the invalidate_caches that every task
    # setup runs must make it importable, as under the stock daemon
    mod_dir = str(tmp_path / "late_dir")

    def late_import(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        sys.path.append(mod_dir)
        try:
            importlib.import_module("late_mod_7f3a")
            before = "found"
        except ModuleNotFoundError:
            before = "missing"
        os.makedirs(mod_dir)
        with open(os.path.join(mod_dir, "late_mod_7f3a.py"), "w") as f:
            f.write("VALUE = 42\n")
        importlib.invalidate_caches()  # the daemon's, as at task setup
        after = importlib.import_module("late_mod_7f3a").VALUE
        sys.path.remove(mod_dir)
        del sys.modules["late_mod_7f3a"]
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{
            "shim": zipimport.zipimporter.invalidate_caches.__module__
            != "zipimport",
            "before": before,
            "after": after,
        }])

    (row,) = spark.range(1).repartition(1).mapInArrow(
        late_import, "shim boolean, before string, after bigint"
    ).collect()
    assert (row.shim, row.before, row.after) == (True, "missing", 42)


def test_invalidate_caches_is_cheap_in_tasks(spark):
    # measured inside the task: the stock call re-reads every zip and
    # jar on the worker's path, 0.17-0.30 s per task on a 4-vCPU host
    def timed(batches):
        import importlib
        import time

        import pyarrow as pa

        t0 = time.perf_counter()
        importlib.invalidate_caches()
        dt = time.perf_counter() - t0
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"dt": dt}])

    df = spark.range(2).repartition(1)
    for _ in range(2):
        (row,) = df.mapInArrow(timed, "dt double").collect()
        assert row.dt < 0.05, row.dt
