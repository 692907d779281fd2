"""SparkSession factory.

One place to configure the session so tests, bench, and the driver contract
all run with the same scale-minded defaults:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing),
- shuffle partitions sized to cores (local mode) — at cluster scale this is
  overridden by ``spark.sql.shuffle.partitions`` on submit,
- Arrow enabled for all pandas interchange (vectorized UDFs are the only
  Python in the hot path),
- UTC session timezone so results compare exactly against the DuckDB oracle.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "citation_graph_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    On a real cluster the caller passes ``master=None`` and lets
    ``spark-submit`` own it; every config here is safe under either.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    n_threads = _parse_local_threads(master)
    if shuffle_partitions is None:
        shuffle_partitions = n_threads if n_threads else 200

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # 16g, NOT bigger: an oversized G1 heap caused 10-50x per-iteration
        # jitter (long mixed GCs); 16g is stable and ample for local mode.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    # Shuffle files on tmpfs when available: the sandbox VM's disk has very
    # jittery write latency; on a real cluster admins set spark.local.dir.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def build_package_zip(dest: str | None = None) -> str:
    """Zip this package for ``spark-submit --py-files`` (scripts and the
    submit smoke test use this; ``get_spark`` uses it via addPyFile)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if dest is None:
        dest = os.path.join(tempfile.gettempdir(), "citation_graph_spark_pkg.zip")
    with zipfile.ZipFile(dest, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for name in files:
                if not name.endswith(".py"):
                    continue
                full = os.path.join(root, name)
                rel = os.path.join(
                    "citation_graph_spark", os.path.relpath(full, pkg_dir)
                )
                zf.write(full, rel)
    return dest


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (``addPyFile`` — the
    programmatic twin of ``spark-submit --py-files engine.zip``).

    Without this, UDF closures that reference package functions fail to
    unpickle on workers whenever the driver found the package via a
    sys.path entry the workers don't share."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):
        # already imported FROM a zip: spark-submit --py-files ships it to
        # the workers, nothing to re-zip (and os.walk would find nothing)
        return
    zip_path = os.path.join(tempfile.gettempdir(), "citation_graph_spark_pkg.zip")
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < _newest_mtime(pkg_dir):
        build_package_zip(zip_path)
    spark.sparkContext.addPyFile(zip_path)


def _newest_mtime(pkg_dir: str) -> float:
    newest = 0.0
    for root, _dirs, files in os.walk(pkg_dir):
        for name in files:
            if name.endswith(".py"):
                newest = max(newest, os.path.getmtime(os.path.join(root, name)))
    return newest


def _parse_local_threads(master: str) -> int | None:
    """``local[8]`` -> 8, ``local[*]`` -> os.cpu_count(), else None."""
    if not master.startswith("local"):
        return None
    if "[" not in master:
        return 1
    inner = master[master.index("[") + 1 : master.rindex("]")]
    if inner == "*":
        return os.cpu_count() or 8
    try:
        return int(inner)
    except ValueError:
        return None


def partition_count(spark: SparkSession, num_partitions: int | None = None) -> int:
    """``num_partitions`` when given, else the session's
    ``spark.sql.shuffle.partitions`` (32 when unset): the one default for
    the partition count of an operator's shuffled caches and states."""
    return num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
