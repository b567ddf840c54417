"""SparkSession construction and runtime configuration.

Two concerns:

1. ``get_spark`` builds a local session with scale-appropriate defaults
   (AQE on, sensible shuffle partitioning) for tests/bench.
2. ``configure_session`` applies the *runtime-settable* confs this engine
   needs on any externally-provided session (the verify driver builds its
   own SparkSession, so everything here must be ``spark.conf.set``-able,
   not builder-only).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

# Runtime-settable SQL confs the engine depends on.
_RUNTIME_CONFS = {
    # testdata events.parquet stores TIMESTAMP(NANOS) which Spark's reader
    # rejects; read as long and convert (see sources.tables.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock semantics for the oracle comparison.
    "spark.sql.session.timeZone": "UTC",
    # Python DataSource filter pushdown (sources/foia_source.py absorbs id
    # range predicates before partition planning; off by default in 4.1).
    "spark.sql.python.filterPushdown.enabled": "true",
    # Runtime re-planning: coalesce tiny shuffle partitions, handle skew.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def _swallowed(what: str, exc: BaseException) -> None:
    """One stderr line for an exception the session set-up tolerates."""
    first = str(exc).strip().splitlines()[:1]
    print(
        f"wvfoia_sync_spark.session: ignored {type(exc).__name__} while {what}: "
        + "".join(first),
        file=sys.stderr,
    )


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to the Python workers via addPyFile.

    Closures that reference module-level helpers (e.g. operators.sketch's
    Misra-Gries trim inside its mapInPandas) are cloudpickled BY
    REFERENCE, so the worker process must be able to import
    ``wvfoia_sync_spark``. Locally that silently works only while the
    worker's cwd happens to be the repo root (cwd is on sys.path) — run
    the driver from anywhere else and every by-reference closure dies
    with ModuleNotFoundError mid-query; on a real cluster it never
    works without shipping. addPyFile is the cluster-correct fix: the
    zip rides to every executor and lands on worker sys.path, cwd- and
    deploy-mode-independent."""
    import tempfile
    import zipfile

    pkg_root = os.path.dirname(os.path.abspath(__file__))
    sc = spark.sparkContext
    marker = "spark_graft_pkg.zip"
    try:
        if any(marker in p for p in sc._python_includes):
            return
    except Exception as e:
        _swallowed("reading sc._python_includes (shipping the package again)", e)
    tmpdir = tempfile.mkdtemp(prefix="spark-graft-pyfiles-")
    zip_path = os.path.join(tmpdir, marker)
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_root):
            for fn in filenames:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, os.path.dirname(pkg_root))
                zf.write(full, rel)
    sc.addPyFile(zip_path)


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply required runtime confs to an existing session (idempotent)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            # Conf not settable on this build — engine degrades gracefully
            # (only the events nanos reader strictly requires its conf).
            _swallowed(f"setting {k}={v}", e)
    try:
        _ship_package(spark)
    except Exception as e:
        # no sparkContext access (e.g. Connect) — closures that only
        # capture by value still work; by-reference ones need pyFiles
        # provided by the deployment instead
        _swallowed("shipping the package to the Python workers", e)
    try:
        # Partition-size-to-data sizing (SURVEY §6 / scale brief): the
        # local test corpus is ~10 MB/table, so the 128 MB default collapses
        # every scan to 1-3 tasks while the other cores idle. 8 MB splits
        # restore scan parallelism at this SF. Cluster deployments (non-
        # local master) keep the 128 MB default — at 100 TB smaller splits
        # would explode the task count instead.
        if spark.sparkContext.master.startswith("local"):
            spark.conf.set(
                "spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"),
            )
    except Exception as e:
        _swallowed("sizing spark.sql.files.maxPartitionBytes for a local master", e)
    return spark


def get_spark(app_name: str = "wvfoia-sync-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a local session tuned for this machine.

    ``SPARK_GRAFT_CPUS`` overrides parallelism (driver contract); shuffle
    partitions match core count — at cluster scale you would size these to
    data volume instead (see docs in plans.medallion).
    """
    # an active session ignores builder configs anyway — return it
    # directly (also avoids minting a fresh spark-warehouse temp dir per
    # call that the existing session would never use)
    active = SparkSession.getActiveSession()
    if active is not None:
        return configure_session(active)
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    import tempfile

    builder = (
        SparkSession.builder.appName(app_name)
        # local[N, 2]: allow ONE task retry. Python worker reuse
        # occasionally kills a worker mid-handshake (observed ~once per
        # 100-query bench run as a read_udfs PythonException); local
        # mode's default maxFailures=1 turns that single hiccup into a
        # query failure, where any cluster deployment would just retry
        # the task. One retry restores cluster semantics without masking
        # genuine errors (a real failure still fails, one retry later).
        .master(f"local[{cpus}, 2]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep managed tables (bucketed writes) out of the repo CWD
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", tempfile.mkdtemp(prefix="spark-warehouse-")
            ),
        )
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return configure_session(spark)
