"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set per-executor on a real
cluster; on a 1000-executor cluster the same code runs unchanged with
``spark.sql.shuffle.partitions`` sized to ~2-3x total cores and AQE
coalescing the rest.

Python worker start-up: PySpark's worker calls
``importlib.invalidate_caches()`` at the start of every task. On
CPython 3.10-3.12 that re-reads the whole central directory of every
zip on the worker's path (pyspark.zip, the py4j zip, the spark-core jar
and this package's zip), ~250 ms per task on a 4-core host, because an
archive may have changed since the last task. The package ``__init__``
installs ``_pyworker`` in every worker that unpickles a package UDF:
it re-reads an archive only when its mtime or size changed. Python
>= 3.13 re-reads lazily and is left alone. To check it, time
``importlib.invalidate_caches()`` inside a ``mapInArrow`` task: a few
ms with the fix, hundreds without.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession


@functools.lru_cache(maxsize=None)
def _package_zip() -> str:
    """Zip this package so executors can import it — the programmatic
    equivalent of ``spark-submit --py-files`` (BASELINE.json north_rule
    deployment mode). Written once per process into a private temp dir,
    so concurrent processes never ship each other's (or a half-written)
    package; the dir is removed at exit."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out_dir = tempfile.mkdtemp(prefix="micce_pkg_")
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    out = os.path.join(out_dir, "micce_search_engine_spark.zip")
    with zipfile.ZipFile(out, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(
                        p,
                        os.path.join(
                            "micce_search_engine_spark",
                            os.path.relpath(p, pkg_dir),
                        ),
                    )
    return out


def get_spark(
    app_name: str = "micce-search-engine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    if shuffle_partitions is None:
        # local[N] -> N; a real cluster would use 2-3x total cores.
        inner = master.split("[")[-1].rstrip("]")
        try:
            shuffle_partitions = int(inner)
        except ValueError:
            shuffle_partitions = 32

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # BYTES bound on Python-runner Arrow batches (Spark 4: batch
        # closes when EITHER limit hits). The grouped posting encoder
        # ships one row per (term,salt) group whose arrays hold up to
        # max_postings_per_row postings — at web scale most rows sit AT
        # that cap, so a records-only bound would admit multi-GB
        # batches (measured: a 1M-doc build OOMed a 8g heap exactly
        # there). 32 MB bounds executor batch memory independently of
        # row width at ANY scale; for narrow per-posting rows the
        # records bound still closes batches first, so nothing else
        # changes.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addPyFile(_package_zip())
    return spark
