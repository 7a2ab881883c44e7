"""SparkSession factory with the engine's standard configuration.

Local-mode defaults tuned for the sandbox (single JVM, 32 threads), but every
setting is the one we would ship to a 1000-executor cluster: AQE on (runtime
skew-join + partition coalescing), Arrow transport for the pandas-UDF
boundary, UTC session time (duckdb-oracle comparability), shuffle
partitions ≈ parallelism.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def _ship_package(spark: SparkSession) -> None:
    """Ship frontier_engine to executors as a zip (spark-submit --py-files
    model). Without this, Python workers launched outside the repo cwd
    cannot unpickle the pandas-UDF closures."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    if root.endswith(".zip"):
        # already running from a --py-files zip (spark-submit): workers get
        # the same zip from the submit machinery; just re-register it.
        spark.sparkContext.addPyFile(root)
        return
    tmp = tempfile.mkdtemp(prefix="fe_pyfiles_")
    zip_path = shutil.make_archive(
        os.path.join(tmp, "frontier_engine"), "zip", root_dir=root, base_dir="frontier_engine"
    )
    spark.sparkContext.addPyFile(zip_path)


def _local_dir() -> str:
    """Shuffle/spill dir. Library default is disk-backed tmp (spill belongs
    on disk: tmpfs spill consumes RAM and can ENOSPC/OOM once shuffle volume
    exceeds the shm mount). RAM-backed /dev/shm is OPT-IN via
    ``FRONTIER_SHM_TMP=1`` — used only by the scaling benchmark, where the
    sandbox's single shared virtual disk (a serial resource no real
    multi-node cluster has) would otherwise understate scaling."""
    if os.environ.get("FRONTIER_SHM_TMP") == "1" and os.path.isdir("/dev/shm"):
        base = "/dev/shm"
    else:
        base = tempfile.gettempdir()
    d = os.path.join(base, "spark_local")
    os.makedirs(d, exist_ok=True)
    return d


def _under_spark_submit() -> bool:
    """True when this python driver was launched BY spark-submit (the JVM
    gateway pre-exists and exports its port). Builder options BEAT the
    submit line (measured: a builder .master('local[4]') under
    `spark-submit --master local-cluster[2,1,2048]` runs local[4] — the
    same precedence trap as spark.local.dir, see BENCH/run_scaling.py), and
    the submit conf is NOT visible to a fresh python-side SparkConf()
    (measured NONE under Spark 4), so the only safe move is to not set
    .master() at all here — a master-less builder inherits the submit
    master (measured: local-cluster[2,1,2048] passes through)."""
    return "PYSPARK_GATEWAY_PORT" in os.environ


def get_spark(
    cores: int | None = None,
    app: str = "frontier_engine",
    shuffle_partitions: int | None = None,
    driver_memory: str = "24g",
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = SparkSession.builder
    if not _under_spark_submit():
        b = b.master(f"local[{cores}]")
    b = (
        b.appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 1024 measured optimal for the heavy extraction UDF at high
        # parallelism (finer JVM↔python pipelining): local[16] stage
        # throughput 2.5k→3.1k pages/s vs the 10k default; neutral at local[4].
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # cap batch BYTES too (default 64m): with ~30 KB html rows a
        # 1024-row batch is ~30 MB — far beyond the ~19 MB the loopback
        # socket pair buffers, which is the precondition for the rare
        # bidirectional flow-control wedge documented in
        # BENCH/BASELINE.md (r3 notes). 8 MB keeps any single in-flight
        # batch inside kernel buffering; small-row workloads still hit
        # the 1024-row cap first, so their batching is unchanged
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "8m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.local.dir", _local_dir())
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark
