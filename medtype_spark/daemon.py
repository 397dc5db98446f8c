"""Python-worker daemon with heavy imports preloaded.

Every Python worker forks from the pyspark daemon — once per task when
``get_spark`` turns worker reuse off (above 8 local threads, where
reused workers stall draining into a cache/checkpoint writer), once
per reused worker otherwise — and would import pandas + pyarrow +
numpy from scratch (~1-2 s under syscall emulation).  Importing them
in the daemon BEFORE it starts forking lets every worker inherit the
loaded modules copy-on-write: the cost is paid once per executor.

Standard public Spark mechanism: ``spark.python.daemon.module`` names a
module that runs ``pyspark.daemon.manager()`` after its own imports.
"""

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
    manager()
