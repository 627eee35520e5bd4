"""SparkSession builder tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the
same conf block is what we'd ship to ``spark-submit`` on a real cluster —
AQE on (runtime re-plan + skew-join splitting), Arrow on (every pandas UDF
crosses via Arrow batches), shuffle partitions sized to parallelism rather
than the 200 default, UTC session timezone so timestamp semantics match the
DuckDB oracle.

The driver JVM starts with HotSpot's four tier-4 (C2) thresholds at 10x
their JDK 17 defaults (``_JIT_OPTIONS``). Both benchmark workloads are
driver-bound, and in the stock JVM about two thirds of driver CPU went to
compilation: C2 optimized thousands of JDK, Catalyst, Janino and Scala
methods that the driver runs a few thousand times and then never again.
With the higher thresholds that code stays at C1, while code that stays
hot (per-row loops, higher-order-function folds, hash kernels) still
reaches C2. Code that is warm but not yet hot runs at C1 for longer, so a
few warm repeats of a compute-bound query can run somewhat slower. The
options go in ``spark.driver.defaultJavaOptions``, which the launcher puts
ahead of ``spark.driver.extraJavaOptions``: a caller's own JVM options
apply on top and win on a conflict, and a caller who passes
``spark.driver.defaultJavaOptions`` in ``extra_conf`` replaces them.
"""

from __future__ import annotations

import contextlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

# HotSpot tier-4 (C2) thresholds, 10x the JDK 17 defaults (5000, 600,
# 15000, 40000): lukewarm driver code stays at C1 (see module docstring)
_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


def _ship_package(sc) -> None:
    """Ship this package to executor Python workers — the in-process
    equivalent of ``spark-submit --py-files`` (scripts/submit.sh does the
    same for cluster runs). UDF closures reference package functions, which
    cloudpickle serializes BY MODULE REFERENCE, so the worker must be able
    to ``import htrc_feature_reader_spark`` no matter what directory the
    driver ran from (a driver that did ``sys.path.insert`` does not
    propagate that path to workers)."""
    if getattr(sc, "_htrc_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"htrc_feature_reader_spark_pyfiles_{os.getuid()}.zip"
    )
    tmp = zpath + f".{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, os.path.dirname(pkg_dir)))
    os.replace(tmp, zpath)  # atomic: concurrent sessions never see a partial zip
    sc.addPyFile(zpath)
    sc._htrc_pkg_shipped = True


def get_spark(
    app_name: str = "htrc-feature-reader-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard conf.

    ``cores`` pins ``local[N]`` explicitly — used by the two-parallelism
    scaling benchmark (BASELINE.md protocol: N vs 4N cores on identical
    input). Shuffle partitions default to 2x cores: enough tasks for AQE to
    coalesce, few enough to avoid tiny-task overhead at local scale. On a
    real cluster AQE re-sizes these at runtime anyway.

    The driver JVM gets ``_JIT_OPTIONS`` (``-XX:Tier4InvocationThreshold=50000
    -XX:Tier4MinInvocationThreshold=6000 -XX:Tier4CompileThreshold=150000
    -XX:Tier4BackEdgeThreshold=400000``) through
    ``spark.driver.defaultJavaOptions``, so C2 compiles only code that
    proves hot. Options in ``extra_conf["spark.driver.extraJavaOptions"]``
    go on top of them and win on a conflict; an
    ``extra_conf["spark.driver.defaultJavaOptions"]`` replaces them. Like
    every driver JVM option they take effect only when this call launches
    the JVM, not when it fetches a running session.
    """
    n = cores if cores is not None else int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuf = shuffle_partitions if shuffle_partitions is not None else max(2 * n, 8)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuf))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelism-first coalescing (the default): never coalesce below
        # the core count — size-based coalescing (parallelismFirst=false)
        # folds mid-size shuffles into a handful of fat, spilling partitions
        # and starves the cluster (measured: 5x regression at 32 cores)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.defaultJavaOptions", _JIT_OPTIONS)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark.sparkContext)
    return spark


@contextlib.contextmanager
def _job(label: str):
    """Name every Spark job the active session starts inside the block
    ``label`` (the job description shown by the UI and kept in the status
    store), then restore the description the caller had set, if any."""
    sc = SparkSession.active().sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try:
        yield
    finally:
        sc.setJobDescription(prev)
