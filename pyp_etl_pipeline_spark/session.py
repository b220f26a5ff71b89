"""SparkSession factory tuned for this engine, and the one place that
decides how Python workers import this package.

Local-mode defaults match the test/bench harness (local[N], AQE on,
UTC session timezone so timestamp semantics line up with the DuckDB
oracle). On a real cluster the same builder works — only master and
memory knobs change.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading

from pyspark.sql import SparkSession

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG_ZIP: str | None = None
_SHIP_LOCK = threading.Lock()


def ship_package(spark: SparkSession) -> None:
    """Make ``pyp_etl_pipeline_spark`` importable inside the session's
    Python workers. Operators whose worker-side functions import this
    package (or reference its module-level functions, which pickle by
    import path) call this before they map. The driver's ``sys.path``
    does not reach the workers: a bare session launched from another
    cwd, or a remote executor, has no copy of the repo. So the package
    is zipped once per process and added with ``addPyFile`` once per
    SparkContext — Spark's own way to ship Python code, which launches
    no job."""
    global _PKG_ZIP
    sc = spark.sparkContext
    with _SHIP_LOCK:
        if getattr(sc, "_pyp_pkg_added", False):
            return
        if _PKG_ZIP is None or not os.path.exists(_PKG_ZIP):
            base = os.path.join(tempfile.gettempdir(), f"pyp_etl_pipeline_spark_pkg_{os.getpid()}")
            _PKG_ZIP = shutil.make_archive(
                base, "zip", root_dir=_REPO, base_dir="pyp_etl_pipeline_spark"
            )
        try:
            sc.addPyFile(_PKG_ZIP)
        except Exception:  # noqa: BLE001 — already added / context quirk; imports may still work via cwd
            pass
        sc._pyp_pkg_added = True


def get_spark(
    app_name: str = "pyp-etl-pipeline-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "*"))
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # many distinct whole-stage-codegen classes compile across a query
        # suite; the JDK default 240m code cache fills and silently disables
        # the JIT (queries then run interpreted, 3-5x slower). Spark's own
        # tuning guide recommends raising it for SQL-heavy workloads.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        # InferFiltersFromGenerate substitutes the GENERATOR INPUT into an
        # inferred size(e)>0 filter. When the exploded array is a computed
        # expression (shingles/tokens/grams — every generator in this
        # engine), the whole expression is then evaluated a second time,
        # and the filter is pushed below the parallelizing repartition onto
        # the single-file scan partition: measured 6.1s -> 0.6s on the
        # sf0.1 shingle explode. Our generator inputs are non-empty by
        # construction, so the rule is pure downside here (it's an
        # optimization rule only — semantics are identical without it).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # "No Partition Defined for Window operation!" fires on every planned
    # unpartitioned window and buries run output; the allowlisted ones are
    # provably bounded (test_plan_quality pins the allowlist and its
    # bounding nodes), so this one logger alone drops to ERROR
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    return spark
