"""The worker daemon re-reads a zip archive's directory only when the
archive has changed.

``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` once per task, and CPython's stock
``zipimporter.invalidate_caches`` re-reads the whole central directory
of its archive every time (16 importers in a task, over
``pyspark.zip`` and the py4j zip).  ``medtype_spark.daemon`` stamps each importer with its
archive's ``(st_mtime_ns, st_size)`` and re-reads only on a change.
"""

import importlib
import os
import sys
import zipfile
import zipimport

from medtype_spark import daemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


def test_zip_directory_is_reread_only_when_the_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"stamped_zip_a": "VALUE = 'a'\n"})
    reads = []
    read = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        daemon._invalidate_if_changed)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("stamped_zip_a").VALUE == "a"
        importlib.invalidate_caches()  # stamps the new importer
        assert reads == [archive, archive]  # on creation, then unstamped
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"stamped_zip_a": "VALUE = 'a'\n",
                             "stamped_zip_b": "VALUE = 'b'\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("stamped_zip_b").VALUE == "b"
    finally:
        for name in ("stamped_zip_a", "stamped_zip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


_TASK_REREAD_SCRIPT = """
import json
from medtype_spark.session import get_spark

def count_rereads(batches):
    import importlib
    import sys
    import zipimport

    import pandas as pd

    reads = []
    read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    importers = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
    for _ in batches:
        pass
    yield pd.DataFrame({"rereads": [len(reads)], "importers": [importers]})

spark = get_spark("zip-stamps", master="local[1]")
row = spark.range(1).mapInPandas(count_rereads, "rereads long, importers long").first()
spark.stop()
print(json.dumps(row.asDict()))
"""


def test_python_task_does_not_reread_unchanged_zips():
    """Inside a task of a get_spark session, invalidating the import
    caches re-reads no zip directory, although the worker holds
    zipimporters (over pyspark.zip and the py4j zip).  Runs in its own
    process so the session is built by get_spark itself."""
    import json
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _TASK_REREAD_SCRIPT],
        cwd=root, capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_DRIVER_MEM": "1g"},
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    row = json.loads(proc.stdout.strip().splitlines()[-1])
    assert row["importers"] > 0 and row["rereads"] == 0, row
