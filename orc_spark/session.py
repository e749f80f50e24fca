"""SparkSession factory tuned for the test harness (local[N]) while keeping
every setting cluster-safe: nothing here assumes single-JVM execution.

Scale notes (100 TB design intent):
- AQE on: runtime partition coalescing + skew-join splitting replace any
  hand-tuned static shuffle count on a real cluster.
- shuffle.partitions defaults to the local core count for the harness; on a
  1000-executor cluster this is overridden by AQE's coalescing anyway.
- Arrow on: every pandas-UDF boundary is Arrow-batched, never per-row pickle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Make orc_spark importable in Python UDF workers of ANY session —
    including one created by an external harness before this package was on
    PYTHONPATH. Ships a zip of the package via addPyFile (idempotent), the
    standard mechanism that works after JVM start and on real clusters."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join("/tmp", "orc_spark_pkg.zip")
    marker = f"_orc_spark_pyfile_{id(spark.sparkContext)}"
    if getattr(spark.sparkContext, marker, False):
        return
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < max(
        os.path.getmtime(os.path.join(root, f))
        for root, _, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    ):
        with zipfile.ZipFile(zip_path + ".tmp", "w") as zf:
            for root, _, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            "orc_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
        os.replace(zip_path + ".tmp", zip_path)
    spark.sparkContext.addPyFile(zip_path)
    setattr(spark.sparkContext, marker, True)


def _default_driver_mem() -> str:
    """A quarter of physical memory, 1 GB to 48 GB. In local mode the driver
    JVM is the whole engine; a heap larger than the machine lets it grow
    until the kernel OOM-kills it instead of collecting garbage."""
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(1024, min(48 * 1024, total_mb // 4))}m"


def get_spark(app_name: str = "orc_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the session. ``cpus`` defaults to $SPARK_GRAFT_CPUS or 32."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Make the package importable inside Python UDF workers regardless of the
    # caller's cwd: forked workers inherit the driver's PYTHONPATH, executors
    # get it via executorEnv. (On a real cluster you'd ship a wheel via
    # --py-files / pip; this covers local + standalone.)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pypath if pypath else "")
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        # Pin ANSI mode ON (the Spark 4 default) rather than inheriting it:
        # several oracles assume ANSI semantics — size(NULL)=NULL
        # (tx_gopher_quality), strict division — and Spark 3.x (ANSI off,
        # size(NULL)=-1) would silently diverge from the DuckDB oracles.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        # no console progress bar: its \r frames pollute captured stdout
        # tails (the driver keeps ~2 KB of bench output) and add nothing in
        # non-interactive runs
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.orc.impl", "native")
        .config("spark.sql.orc.filterPushdown", "true")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        # split small files aggressively so local[32] actually parallelizes
        # MB-scale inputs; at 100 TB raise maxPartitionBytes back to 128m+
        # (row groups bound the real split granularity there anyway)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/orc_spark_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
