"""SparkSession factory with scale-oriented defaults.

Single place to pin the configs that matter at 100 TB: AQE (runtime
re-planning + skew-join splitting), Arrow batch sizing for the extraction
kernel, and sane shuffle-partition defaults for local runs (on a real
cluster AQE coalescing makes the initial number far less sensitive).
"""

from __future__ import annotations

import hashlib
import os
import zipfile

from pyspark.sql import SparkSession


_ZIP_PREFIX = "wtes_spark_pkg-"


def package_zip(path: str | None = None) -> str:
    """Zip this package for shipping to executors — the programmatic
    equivalent of ``spark-submit --py-files`` (north rule). The zip
    records the sha256 of the package's sorted (relpath, bytes) sources
    as its comment and is reused only when that digest matches, so a
    zip built from another checkout is never shipped, whatever the file
    mtimes say; the default file name carries the digest too, so two
    checkouts on one host do not rebuild one file back and forth."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    sources = {}
    for dirpath, _, files in os.walk(pkg_dir):
        if "__pycache__" in dirpath:
            continue
        for f in files:
            if f.endswith(".py"):
                src = os.path.join(dirpath, f)
                with open(src, "rb") as fh:
                    sources[os.path.relpath(src, root)] = fh.read()
    h = hashlib.sha256()
    for rel in sorted(sources):
        # length-prefixed, so no two source sets share a byte stream
        h.update(f"{len(rel)}:{rel}{len(sources[rel])}:".encode())
        h.update(sources[rel])
    digest = h.hexdigest()
    if path is None:
        path = f"/tmp/{_ZIP_PREFIX}{digest[:16]}.zip"
    if os.path.exists(path):
        with zipfile.ZipFile(path) as zf:
            if zf.comment == digest.encode():
                return path
    tmp = f"{path}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for rel in sorted(sources):
            zf.writestr(rel, sources[rel])
        zf.comment = digest.encode()
    os.replace(tmp, path)
    return path


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` through the session's Hadoop
    configuration — the package's one driver-side filesystem access, so
    state, checkpoint and output roots resolve exactly as Spark's
    readers and writers resolve them: plain paths, ``file://`` and
    cluster URIs (hdfs://, s3a://) alike."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def get_spark(app_name: str = "wtes-spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(32, cores)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # extraction kernel: bound Arrow batch size so mega-docs (H11) can't
        # blow worker memory; many small batches also smooth skew
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Ship the package zip to the Python workers (local AND cluster
    masters; the equivalent of spark-submit --py-files) — once per
    SparkContext. A later call on the same context neither re-hashes
    the sources nor adds a second zip: after a source edit mid-session
    a second zip would put two package copies on new workers'
    sys.path while reused workers keep the modules they imported
    first."""
    sc = spark.sparkContext
    if not any(f.startswith(_ZIP_PREFIX) for f in sc._python_includes):
        sc.addPyFile(package_zip())
