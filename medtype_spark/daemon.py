"""Python-worker daemon with heavy imports preloaded and zip directories
re-read only when their archive changes.

Every Python worker forks from the pyspark daemon — once per task when
``get_spark`` turns worker reuse off (above 8 local threads, where
reused workers stall draining into a cache/checkpoint writer), once
per reused worker otherwise — and would import pandas + pyarrow +
numpy from scratch (~1-2 s under syscall emulation).  Importing them
in the daemon BEFORE it starts forking lets every worker inherit the
loaded modules copy-on-write: the cost is paid once per executor.

Every task, reused worker or not, then runs
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``.  On CPython 3.11 that makes each
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole central directory: 16 importers in a task, over ``pyspark.zip``
(1328 entries) and the py4j zip, ~0.12-0.14 CPU-s per task.
``_invalidate_if_changed`` replaces the zipimporter method: an
importer re-reads only when its archive's ``(st_mtime_ns, st_size)``
differs from the stamp it holds (each importer has its own ``_files``,
so the stamp is per importer, not per path), and a stat error re-reads
as before.  The daemon stamps every importer once before the first
fork.  Measured with ``tools/op_cpu_breakdown.py`` (median of 5 warm
ops, local[4], 4-core host), Python-worker CPU per benchmark op fell
5.64 -> 1.54 CPU-s on zipf_skew_4k and 4.37 -> 1.79 on uniform_10k;
in the zipf JW stage alone it fell 2.19 -> 0.41 CPU-s.

Standard public Spark mechanism: ``spark.python.daemon.module`` names a
module that runs ``pyspark.daemon.manager()`` after its own imports.
"""

import importlib
import os
import zipimport

_reread_directory = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self):
    """Re-read this importer's zip directory only if the archive changed."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _reread_directory(self)
        self._archive_stamp = stamp


# Preload the pandas-UDF runtime stack (order: numpy first — pandas and
# pyarrow build on it).  Failures fall through to plain worker-side
# imports rather than breaking worker creation.
try:  # pragma: no cover - import side effects only
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401  (arrow codepaths)
    import pyspark.worker  # noqa: F401

    # materialize derived constants once; forks inherit them COW
    from medtype_spark.functions.scoring import _load_stub_weights

    _load_stub_weights()
except Exception:  # pragma: no cover
    pass

from pyspark.daemon import manager

if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    # stamp every zipimporter the preloading created, before the first fork
    importlib.invalidate_caches()
    manager()
