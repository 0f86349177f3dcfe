"""SparkSession factory with scale-aware defaults.

Local mode is a correctness/test vehicle; the config is chosen so the
same code path is the one you would deploy on a real cluster: AQE on
(runtime re-planning, skew-join handling, partition coalescing),
Arrow-backed pandas interchange for the few Pandas-UDF operators, and
UTC session time so timestamp semantics match the reference's naive-UTC
convention (reference: openoa/utils/timeseries.py:82-141 converts
everything to UTC).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

_FS_SOURCE = Path(__file__).parent / "jvm" / "NioLocalFileSystem.java"
_FS_CLASS = "openoa_spark.jvm.NioLocalFileSystem"


def get_session(
    app_name: str = "openoa-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults honor the driver environment: ``SPARK_GRAFT_CPUS`` sets
    local parallelism; shuffle partitions default to the core count so
    small-scale runs don't pay 200-task scheduling overhead, while a
    cluster deployment overrides via ``extra_conf`` (at 100 TB you want
    shuffle partitions sized so each task holds ~128-256 MB).

    Three defaults remove JVM work the event log cannot see; each was
    counted per pass of the ``stream_ingest`` benchmark (SCALING.md,
    "Forks and recompiles"), and ``extra_conf`` overrides any of them:

    - Local masters checkpoint streams through the FileSystem-based
      checkpoint manager. Without libhadoop, every rename of the
      default FileContext manager runs ``FileUtil.readLink``, which
      forks a ``readlink`` process (720 per pass); the FileSystem
      manager renames with ``File.renameTo``. The checkpoint layout
      and its ``.crc`` checksums stay the same. Other masters keep
      the default, since on HDFS only FileContext renames atomically
      with overwrite.
    - The generated-code cache holds 1000 classes, not 100. It is a
      Guava LRU in 4 segments, so at 100 each segment evicts above 25
      entries, and every warm pass recompiled byte-identical classes
      (40 per ``stream_ingest`` pass, 20-26 per ``plant_mc`` pass).
    - ``local`` and ``local[N]`` masters write ``file://`` paths through
      ``NioLocalFileSystem`` (``jvm/NioLocalFileSystem.java``, built
      once by ``local_fs_conf``). Without libhadoop, Hadoop's local
      file system forks ``chmod`` for every file, ``.crc`` and
      directory it creates (754 per pass); this one sets the same
      mode in-process. Files, checksums and modes stay the same.
      Without ``javac`` the session keeps Hadoop's file system, as
      ``local-cluster`` does, whose executor JVMs lack the jar.

    ANSI mode is pinned on, as Spark 4.1 defaults it, so a Spark with
    another default runs the semantics the tests check.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master.startswith("local"):
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    fs_conf = {}
    if master == "local" or master.startswith("local["):
        fs_conf = local_fs_conf(extra_conf)
    for k, v in {**(extra_conf or {}), **fs_conf}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_fs_conf(extra_conf: dict | None = None) -> dict:
    """The confs that make ``file://`` paths use ``NioLocalFileSystem``
    in a driver-only (local) JVM, merged with the caller's
    ``extra_conf``: its ``spark.driver.extraClassPath`` is kept ahead
    of the jar, and its own ``spark.hadoop.fs.file.impl`` wins. Empty
    when the jar cannot be built or loaded; ``fs.file.impl`` is never
    set without the jar on the class path."""
    jar = _local_fs_jar()
    if jar is None:
        return {}
    extra_conf = extra_conf or {}
    cp = [extra_conf.get("spark.driver.extraClassPath"), str(jar)]
    conf = {"spark.driver.extraClassPath": os.pathsep.join(filter(None, cp))}
    if "spark.hadoop.fs.file.impl" not in extra_conf:
        conf["spark.hadoop.fs.file.impl"] = _FS_CLASS
    return conf


def _local_fs_jar() -> Path | None:
    """``NioLocalFileSystem`` compiled against the Hadoop jars the
    driver JVM loads (found by pyspark's own ``SPARK_HOME`` lookup) and
    cached under ``~/.cache/openoa_spark`` by the SHA-256 of the source
    and the Hadoop API jar's name. ``javac`` builds it on first use in
    about a second. None without ``javac``, when the build fails, or
    when this process already runs a JVM launched without the jar."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    javac = shutil.which("javac")
    jars = Path(_find_spark_home()) / "jars"
    api = sorted(jars.glob("hadoop-client-api-*.jar"))
    if javac is None or not api:
        return None
    key = hashlib.sha256(_FS_SOURCE.read_bytes() + api[-1].name.encode())
    try:
        cache = Path.home() / ".cache" / "openoa_spark"
        jar = cache / f"NioLocalFileSystem-{key.hexdigest()[:16]}.jar"
        if not jar.exists():
            cache.mkdir(parents=True, exist_ok=True)
            with tempfile.TemporaryDirectory(dir=cache) as tmp:
                subprocess.run(
                    [javac, "--release", "17", "-nowarn",
                     "-cp", str(jars / "*"), "-d", tmp, str(_FS_SOURCE)],
                    check=True, capture_output=True, timeout=300,
                )
                part = Path(tmp) / "part.jar"
                with zipfile.ZipFile(part, "w") as z:
                    for cls in sorted(Path(tmp).rglob("*.class")):
                        z.write(cls, cls.relative_to(tmp).as_posix())
                # atomic: a concurrent session sees no jar or a whole one
                os.replace(part, jar)
    except (OSError, RuntimeError, subprocess.SubprocessError):
        return None
    jvm = SparkContext._jvm
    if jvm is not None:
        # a running JVM keeps the class path it was launched with
        launched = jvm.java.lang.System.getProperty("java.class.path")
        if str(jar) not in launched.split(os.pathsep):
            return None
    return jar


def ship_package(spark) -> None:
    """Make ``openoa_spark`` importable on executor Python workers by
    zipping the package and ``addPyFile``-ing it — the same mechanism
    as ``spark-submit --py-files``, so it works on any cluster
    manager (local workers don't inherit the driver's runtime
    ``sys.path`` mutations). Idempotent per SparkContext. Needed
    before shipping closures that reference package code (e.g. the
    distributed Monte-Carlo paths)."""
    sc = spark.sparkContext
    if getattr(sc, "_openoa_pkg_shipped", False):
        return
    import openoa_spark

    pkg_dir = os.path.dirname(os.path.abspath(openoa_spark.__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"openoa_spark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "openoa_spark", os.path.relpath(full, pkg_dir)
                    )
                    z.write(full, rel)
    sc.addPyFile(zpath)
    sc._openoa_pkg_shipped = True


def spread_small_input(df, min_partitions: int | None = None):
    """Decouple compute parallelism from file layout for CPU-heavy
    expression pipelines (minhash signatures, entropy folds, shingle
    explodes): a small table read from one parquet file arrives as ONE
    partition, so everything downstream of the scan runs on one core
    until the first shuffle — locally that single core dominates the
    wall clock even though the cluster is idle.

    No-op when the scan already yields >= min_partitions (the 100 TB
    case — production inputs split into thousands of tasks via
    spark.sql.files.maxPartitionBytes); otherwise one lightweight
    round-robin exchange of the raw rows, which costs far less than
    the per-row compute it parallelizes. Defaults min_partitions to
    the cluster's default parallelism.
    """
    if min_partitions is None:
        min_partitions = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= min_partitions:
        return df
    return df.repartition(min_partitions)
