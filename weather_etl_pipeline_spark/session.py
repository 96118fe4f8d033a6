"""SparkSession factory with scale-aware defaults.

The reference opens one in-process DuckDB connection per run
(``main.py:28`` in the reference); our equivalent entry point is a
SparkSession configured for the cluster-shaped execution model:

- AQE on (runtime coalescing, skew-join splitting) — the 100 TB posture
  assumes data-dependent re-planning rather than hand-tuned plans.
- ``spark.sql.shuffle.partitions`` sized to the local core count; on a
  real cluster this would be ~2-3x total executor cores (AQE coalesces
  down, so erring high is safe).
- dynamic partition overwrite — the reference's per-partition
  ``COPY ... OVERWRITE TRUE`` (``silver.py:50-54``) replaces only the
  partitions being written; Spark's static mode would clobber the whole
  zone, so this conf is load-bearing for correctness.
- UTC session timezone so timestamps compare cleanly against the
  UTC-naive DuckDB oracle.
- Arrow enabled for the pandas-UDF slow path.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Local core budget: $SPARK_GRAFT_CPUS, else all visible CPUs."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "weather-etl-pipeline-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or cpus
    # SPARK_GRAFT_MASTER overrides the default in-process local[N]
    # master — e.g. "local-cluster[2,16,4096]" runs 2 separate worker
    # JVMs (multi-PROCESS execution: real serialization across the
    # driver/executor boundary, per-executor Python workers, broadcast
    # over the wire) for deployment-shaped validation of assumptions
    # local mode hides.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesce targets max(shuffleBytes/parallelism, this floor).
        # Spark's 1 MB default floor misjudges CPU-dense, byte-small
        # shuffles (text windows, posting lists): a 5 MB shuffle coalesces
        # 32 partitions down to ~5 and starves the downstream stage — an
        # interleaved A/B at sf0.1 measured 6.5s -> 4.9s across 7 headline
        # queries from lowering the floor alone (jaccard 1.95 -> 0.95s),
        # matching coalesce-off while keeping the coalesce semantics. At
        # cluster scale bytes/parallelism >> 64k, so the floor never binds
        # and behavior is identical to stock.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Whole-stage-codegen class cache. The 100-entry default thrashes
        # under a diverse workload: rotating the 18 headline queries
        # evicts every query's generated classes between its own runs, so
        # each execution pays janino recompilation (~0.7s for the largest
        # multi-stage plans). Measured at sf0.1: 18-query rotation 10.7s
        # -> 8.5s from 100 -> 4096 entries. Cost is driver-side bytecode
        # (a few MB); a long-lived cluster service with a mixed workload
        # wants exactly this.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "4096"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Partition discovery: above this many leaf paths Spark lists
        # via a distributed JOB; below it, driver-side threads. The
        # 32-path default made every read of the signature store's
        # 512-dir band layout pay a ~1.4s listing job at PLAN time
        # (measured: 1.40s -> 0.19s per spark.read at sf0.1), three
        # times per ingest micro-batch. Driver listing of a few
        # thousand dirs is cheap on any filesystem; genuinely huge
        # tables (object-store lakes with 10^5+ partitions) still cross
        # the threshold and distribute.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("SPARK_GRAFT_PARTITION_DISCOVERY_THRESHOLD", "2048"),
        )
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # local-mode scan parallelism: the test parquet is a handful of
        # small files, so the default 128 MB split puts a whole table in
        # one task and idles the other 31 cores. 8 MB splits spread the
        # scan. On a real cluster (many files, HDFS/S3 block sizes) keep
        # the 128 MB default — override via SPARK_GRAFT_MAX_PARTITION_BYTES.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(8 * 1024 * 1024)),
        )
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_WAREHOUSE_DIR",
                os.path.join(tempfile.gettempdir(), "spark-warehouse"),
            ),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # key the shipping decision on the SESSION's actual master, not the
    # env-derived string this call computed: getOrCreate can hand back a
    # pre-existing session whose master differs (e.g. created while
    # SPARK_GRAFT_MASTER pointed at local-cluster, returned after the
    # env var was unset) — skipping the ship there would reintroduce
    # the executor ModuleNotFoundError this exists to fix
    if not spark.sparkContext.master.startswith("local["):
        _ship_package(spark)
    return spark


# sessions that already shipped the package zip (getOrCreate can hand
# back a live session; re-adding the same pyFile every call would stack
# duplicate archives on the executors' python path)
_SHIPPED: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Ship this package's source to executor Python workers.

    Found by the round-11 local-cluster validation: under ``local[N]``
    Python workers fork from the driver process and inherit its
    ``sys.path``, so pickled UDFs that reference module-level helpers
    (cloudpickle serializes them BY REFERENCE to the module) import
    cleanly by accident. Any multi-PROCESS master — local-cluster,
    standalone, YARN, k8s — spawns executor-side Python workers with a
    fresh interpreter, and the first module-referencing UDF dies with
    ``ModuleNotFoundError: weather_etl_pipeline_spark`` (observed:
    ``multimodal_featurize``'s mapInPandas). The deployment answer is
    the same one spark-submit users reach for: zip the package once per
    session and ``addPyFile`` it — executors unpack it onto every
    Python worker's path. ~18k LoC zips in well under 100 ms; skipped
    entirely for in-process local[N] masters."""
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    repo_root = os.path.dirname(pkg_dir)
    zdir = tempfile.mkdtemp(prefix="wepl_pkg_")
    # the zip must outlive the session (executors re-fetch registered
    # pyFiles for the app's lifetime) — clean up at interpreter exit
    import atexit
    import shutil

    atexit.register(shutil.rmtree, zdir, ignore_errors=True)
    zpath = os.path.join(zdir, "weather_etl_pipeline_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, dirnames, files in os.walk(pkg_dir):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, repo_root))
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED.add(app_id)
