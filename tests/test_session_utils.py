"""Tests for session-level execution helpers."""

import pytest

from openoa_spark.session import spread_small_input


def test_spread_small_input_widens_single_partition(spark):
    df = spark.range(0, 1000).coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    out = spread_small_input(df)
    assert (
        out.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # content preserved
    assert out.count() == 1000


def test_spread_small_input_noop_when_already_wide(spark):
    wide = spark.range(0, 1000).repartition(
        spark.sparkContext.defaultParallelism + 4
    )
    out = spread_small_input(wide)
    # no extra exchange: the SAME DataFrame object comes back
    assert out is wide


def test_spread_small_input_explicit_min(spark):
    df = spark.range(0, 100).coalesce(1)
    assert spread_small_input(df, min_partitions=7).rdd.getNumPartitions() == 7
    assert spread_small_input(df, min_partitions=1) is df


def _canon_row(row):
    """Sortable canonical form: floats/Decimals rounded to 6 digits,
    nested arrays tupled, everything stringified for a total order."""
    import decimal

    def c(v):
        if isinstance(v, (float, decimal.Decimal)):
            # round(…, 6) kills near-zero noise (and -0.0); .10g
            # canonicalizes to 10 significant digits so a 3e8-sized
            # double sum whose modes differ at 1e-15 RELATIVE (last
            # ulp of the accumulation order) still compares equal.
            return float(f"{round(float(v), 6) + 0.0:.10g}")
        if isinstance(v, list):
            return tuple(c(x) for x in v)
        return v

    return tuple(str(c(v)) for v in row)


def _assert_fast_sums_match_exact_mode(spark, sf):
    import importlib

    from openoa_spark import registry
    from openoa_spark.functions import stats

    bench = importlib.import_module("bench")
    qs = registry.queries()
    for name in bench.BENCH_QUERIES:
        exact = sorted(_canon_row(r) for r in qs[name](spark, sf).collect())
        with stats.fast_sums():
            fast_df = qs[name](spark, sf)
        fast = sorted(_canon_row(r) for r in fast_df.collect())
        assert fast == exact, name


def test_fast_sums_matches_exact_mode_all_bench_queries(spark):
    """Deploy (plain-double) aggregation must agree with the
    oracle-pinned decimal-exact mode on EVERY bench query — the
    guarantee that lets bench measure fast mode while every
    correctness surface runs exact. If the modes ever diverge on a
    query, BENCH would be grading a plan the correctness gate never
    sees. Agreement pinned at round-6 after canonical row sort."""
    _assert_fast_sums_match_exact_mode(spark, "/root/testdata/sf0.01")


def test_fast_sums_matches_exact_mode_at_sf0001(spark):
    """The same fast-vs-exact agreement on the smallest scale, cheap
    enough for the quick tier: a fast-mode plan that answers
    differently fails here on every commit, not only at round close."""
    _assert_fast_sums_match_exact_mode(spark, "/root/testdata/sf0.001")


def test_grouped_exact_median_matches_f_median(spark):
    """The bounded-memory bracket median (stats.grouped_exact_median)
    is bit-identical to F.median across group-size regimes: tiny
    (collect-all path), boundary, and bracket-path groups, with heavy
    duplicates, nulls, and null keys."""
    import random

    from pyspark.sql import functions as F

    from openoa_spark.functions import stats

    random.seed(7)
    rows = []
    for g, n in enumerate([1, 2, 3, 5, 101, 4999, 5001, 12000]):
        for _ in range(n):
            rows.append((
                f"g{g}",
                random.choice(
                    [round(random.uniform(0, 100), 2),
                     float(random.randint(0, 5))]
                ),
            ))
    rows += [("g0", None), (None, 9.0)]
    df = spark.createDataFrame(rows, "k string, v double").repartition(8)
    ref = {
        r["k"]: r["m"]
        for r in df.where("k is not null")
        .groupBy("k").agg(F.median("v").alias("m")).collect()
    }
    got = {
        r["k"]: r["med"]
        for r in stats.grouped_exact_median(df, ["k"], "v", "med").collect()
    }
    assert got == ref


def test_grouped_exact_percentile_matches_f_percentile(spark):
    """grouped_exact_percentile replicates F.percentile bitwise —
    including the (1−frac)·lo + frac·hi interpolation — at low,
    median, and high quantiles in both group-size regimes."""
    import random

    from pyspark.sql import functions as F

    from openoa_spark.functions import stats

    random.seed(5)
    rows = []
    for g, n in enumerate([4, 800, 7000, 15000]):
        for _ in range(n):
            rows.append((f"g{g}", round(random.uniform(-10, 10), 3)))
    df = spark.createDataFrame(rows, "k string, v double").repartition(16)
    for q in (0.01, 0.25, 0.5, 0.9, 0.99):
        ref = {
            r["k"]: r["p"]
            for r in df.groupBy("k")
            .agg(F.percentile("v", F.lit(q)).alias("p")).collect()
        }
        got = {
            r["k"]: r["p"]
            for r in stats.grouped_exact_percentile(
                df, ["k"], "v", q, "p"
            ).collect()
        }
        assert got == ref, q
    import pytest as _pytest

    with _pytest.raises(ValueError):
        stats.grouped_exact_percentile(df, ["k"], "v", 1.5)


def test_grouped_top_k_matches_row_number(spark):
    """grouped_top_k (bounded-memory, window-free) equals the
    row_number()-over-partition idiom exactly — including on the two
    adversarial shapes that break value-bracketing alone: an all-equal
    megagroup (winners resolved purely by the tie pass) and a huge tie
    run straddling the k-th seat."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from openoa_spark.functions import stats

    random.seed(9)
    rows = []
    for g, n in enumerate([1, 3, 900, 6000, 12000]):
        for i in range(n):
            rows.append((
                f"g{g}",
                random.choice([float(random.randint(0, 50)),
                               round(random.uniform(0, 100), 1)]),
                g * 1_000_000 + i,
            ))
    rows += [("gconst", 7.5, 9_000_000 + i) for i in range(8000)]
    rows += [("gtie", 99.0, 8_000_000)] + [
        ("gtie", 50.0, 8_000_001 + i) for i in range(7000)
    ]
    df = spark.createDataFrame(rows, "k string, v double, id long").repartition(16)
    for k in (1, 4, 200):
        w = Window.partitionBy("k").orderBy(F.desc("v"), F.asc("id"))
        ref = sorted(map(tuple, (
            df.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= k).drop("_r").collect()
        )))
        got = sorted(map(tuple, stats.grouped_top_k(df, ["k"], "v", "id", k).collect()))
        assert got == ref, k
    import pytest as _pytest

    with _pytest.raises(ValueError):
        stats.grouped_top_k(df, ["k"], "v", "id", 0)


def test_grouped_exact_median_histogram_matches_f_median(spark):
    """The one-scan histogram strategy (low-cardinality value domains)
    is bit-identical to F.median too — heavy duplicates, even/odd
    group sizes, and a group with a single distinct value."""
    import random

    from pyspark.sql import functions as F

    from openoa_spark.functions import stats

    random.seed(13)
    rows = [("gone", 5.25)] * 40
    for g, n in enumerate([1, 2, 5, 1000, 20000]):
        for _ in range(n):
            rows.append((f"g{g}", round(random.uniform(0, 500), 2)))
    df = spark.createDataFrame(rows, "k string, v double").repartition(8)
    ref = {
        r["k"]: r["m"]
        for r in df.groupBy("k").agg(F.median("v").alias("m")).collect()
    }
    got = {
        r["k"]: r["m"]
        for r in stats.grouped_exact_median_histogram(
            df, ["k"], "v", "m"
        ).collect()
    }
    assert got == ref


def test_keyed_row_number_matches_window(spark):
    """keyed_row_number (global-grid sub-buckets, no skewable window)
    equals row_number() over (partition by key order by o) exactly —
    including a 30k-row mega-group."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from openoa_spark.functions import stats

    random.seed(3)
    rows = [("mega", i * 7 + 1) for i in range(30000)]
    for g in range(5):
        vals = random.sample(range(1, 10**9), random.randint(1, 2000))
        rows += [(f"g{g}", v) for v in vals]
    df = spark.createDataFrame(rows, "k string, o long").repartition(16)
    w = Window.partitionBy("k").orderBy("o")
    ref = sorted(map(tuple,
        df.withColumn("rn", F.row_number().over(w)).collect()))
    got = sorted(map(tuple,
        stats.keyed_row_number(df, ["k"], "o", "rn").collect()))
    assert got == ref


def test_grouped_exact_order_stat_matches_sorted_rank(spark):
    """grouped_exact_order_stat returns the element at rank ceil(q*n)
    (percentile_disc / DuckDB quantile_disc semantics) in both
    group-size regimes (whole-group collect and bracket pass), and
    always an actual input value."""
    import math
    import random

    from openoa_spark.functions import stats

    random.seed(11)
    data = {}
    for g, n in enumerate([1, 5, 800, 7000]):
        data[f"g{g}"] = sorted(round(random.uniform(-10, 10), 3) for _ in range(n))
    rows = [(k, v) for k, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "k string, v double").repartition(16)
    for q in (0.1, 1.0 / 3.0, 0.5, 2.0 / 3.0, 0.99, 1.0):
        got = {
            r["k"]: r["p"]
            for r in stats.grouped_exact_order_stat(df, ["k"], "v", q, "p").collect()
        }
        for k, vs in data.items():
            expect = vs[math.ceil(q * len(vs)) - 1]
            assert got[k] == expect, (k, q, got[k], expect)
    # global (keys=[]) path
    allv = sorted(v for vs in data.values() for v in vs)
    r = stats.grouped_exact_order_stat(df, [], "v", 0.5, "p").collect()
    assert len(r) == 1 and r[0]["p"] == allv[math.ceil(0.5 * len(allv)) - 1]


def test_registry_table_cache_invalidation(spark, tmp_path):
    # r12 (ADVICE): _T_CACHE pins the parquet file index captured at
    # first read; a directory mutated mid-session needs an explicit
    # invalidate_tables(sf_dir) to drop the stale handle. Pin the
    # helper's contract: per-dir invalidation removes exactly that
    # dir's entries, re-read observes the rewritten data, and a blank
    # call clears everything.
    from openoa_spark import registry

    d = str(tmp_path)
    spark.range(3).toDF("id").write.parquet(f"{d}/nation.parquet")
    assert registry._t(spark, d, "nation").count() == 3
    # rewrite in place: the memoized handle still sees the old listing
    spark.range(5).toDF("id").write.mode("overwrite").parquet(
        f"{d}/nation.parquet"
    )
    assert registry.invalidate_tables(d) >= 1
    assert registry._t(spark, d, "nation").count() == 5
    assert registry.invalidate_tables(d + "/nonexistent") == 0
    n_before = len(registry._T_CACHE)
    assert registry.invalidate_tables() == n_before
    assert not registry._T_CACHE


def test_library_reads_only_deployment_env_vars():
    """The only environment reads under openoa_spark/ are session.py's
    two deployment settings: an operator picks its physical plan from
    its arguments, never from an env flag."""
    import ast
    import pathlib

    import openoa_spark

    pkg = pathlib.Path(openoa_spark.__file__).parent
    found = set()
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        parents = {
            child: node
            for node in ast.walk(tree)
            for child in ast.iter_child_nodes(node)
        }
        rel = path.relative_to(pkg).as_posix()
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "os":
                for alias in node.names:
                    if alias.name in ("environ", "getenv", "getenvb"):
                        found.add((rel, f"from os import {alias.name}"))
            if not (
                isinstance(node, ast.Attribute)
                and node.attr in ("environ", "getenv", "getenvb")
            ):
                continue
            # the variable name: os.environ.get("X"), os.environ["X"],
            # os.getenv("X"); anything else (a write, a wholesale copy,
            # a computed name) reports as None and fails the pin
            key = None
            up = parents.get(node)
            if isinstance(up, ast.Attribute) and up.attr == "get":
                up = parents.get(up)
            if isinstance(up, ast.Call) and up.args:
                arg = up.args[0]
                key = arg.value if isinstance(arg, ast.Constant) else None
            elif isinstance(up, ast.Subscript) and isinstance(
                up.slice, ast.Constant
            ):
                key = up.slice.value
            found.add((rel, key))
    assert found == {
        ("session.py", "SPARK_GRAFT_CPUS"),
        ("session.py", "SPARK_GRAFT_DRIVER_MEM"),
    }


def test_only_sinks_owns_dynamic_partition_overwrite():
    """Dynamic partition overwrite — the replay-idempotence policy of
    every batch-id and derived-table writer — is spelled out only in
    sources/sinks.py; other modules write through its helpers."""
    import pathlib

    import openoa_spark

    pkg = pathlib.Path(openoa_spark.__file__).parent
    owners = sorted(
        path.relative_to(pkg).as_posix()
        for path in pkg.rglob("*.py")
        if "partitionOverwriteMode" in path.read_text()
    )
    assert owners == ["sources/sinks.py"]


def test_local_sessions_checkpoint_through_filesystem_manager(spark, tmp_path):
    """A local session's streaming checkpoints rename through the
    Hadoop FileSystem (``File.renameTo``), not through FileContext,
    whose renames fork a ``readlink`` process each when libhadoop is
    absent."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )


def test_codegen_cache_keeps_a_pass_worth_of_classes(spark):
    """Re-running 120 distinct queries compiles no generated class
    again: the cache must hold more than the 100 classes at which
    Spark's default cache (4 LRU segments of 25) starts evicting."""
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    one_row = spark.range(0, 1, 1, 1)

    def run_all():
        # the literal is inlined in the generated source: one class
        # each, compiled on the driver when the plan becomes an RDD
        for i in range(120):
            one_row.selectExpr(f"id * {i} + {i + 1} AS x")._jdf.queryExecution().toRdd()

    run_all()
    first = compiles.getCount()
    run_all()
    assert compiles.getCount() == first


def test_session_pins_ansi_mode(spark):
    """The tests check ANSI semantics; the session sets them rather
    than rely on Spark's default."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_nio_local_fs_sets_modes_as_chmod_does(spark, tmp_path):
    """The local session's raw file system is ``NioLocalFileSystem$Raw``
    and its in-process ``setPermission`` leaves exactly the modes that
    Hadoop's forked ``chmod`` leaves, setuid/setgid and sticky bits
    included."""
    import os
    import shutil

    if shutil.which("javac") is None:
        pytest.skip("no javac: the session keeps Hadoop's local file system")
    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    nio = jvm.org.apache.hadoop.fs.FileSystem.getLocal(hconf).getRawFileSystem()
    assert nio.getClass().getName() == "openoa_spark.jvm.NioLocalFileSystem$Raw"
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), hconf)

    def hpath(p):
        return jvm.org.apache.hadoop.fs.Path(str(p))

    def perm(mode):
        return jvm.org.apache.hadoop.fs.permission.FsPermission(mode)

    def twins(name):
        return [tmp_path / side / name for side in ("stock", "nio")]

    for side in ("stock", "nio"):
        (tmp_path / side).mkdir()
    cases = [("f644", False, 0o644), ("f640", False, 0o640),
             ("d755", True, 0o755), ("f1777", False, 0o1777)]
    for name, is_dir, mode in cases:
        paths = twins(name)
        for fs, p in zip((stock, nio), paths):
            if is_dir:
                p.mkdir(mode=0o700)
            else:
                p.write_bytes(b"x")
                os.chmod(p, 0o600)
            fs.setPermission(hpath(p), perm(mode))
        got = [os.stat(p).st_mode for p in paths]
        assert got[0] == got[1], (name, [oct(m) for m in got])
        assert got[1] & 0o7777 == mode, (name, oct(got[1]))

    # mkdirs under a setgid parent: GNU chmod 0755 keeps the inherited
    # setgid bit, so the child is 2755 on both sides
    parents = twins("sgid")
    for fs, parent in zip((stock, nio), parents):
        parent.mkdir()
        os.chmod(parent, 0o2775)
        assert fs.mkdirs(hpath(parent / "child"), perm(0o755))
    got = [os.stat(p / "child").st_mode for p in parents]
    assert got[0] == got[1], [oct(m) for m in got]
    assert got[1] & 0o7777 == 0o2755, oct(got[1])


def test_local_fs_conf_falls_back_and_merges(monkeypatch, tmp_path):
    """Without ``javac``, or in a JVM launched without the jar, no conf
    is added, so Hadoop's file system stays; with the jar, a caller's
    class path is joined and a caller's ``fs.file.impl`` wins."""
    import os
    import shutil
    from types import SimpleNamespace

    from pyspark import SparkContext

    from openoa_spark import session

    # a JVM already up without the jar cannot load the class, so
    # fs.file.impl would fail every file write in it
    system = SimpleNamespace(getProperty=lambda key: "spark/jars/*")
    fake_jvm = SimpleNamespace(java=SimpleNamespace(lang=SimpleNamespace(System=system)))
    with monkeypatch.context() as m:
        m.setattr(SparkContext, "_jvm", fake_jvm)
        assert session.local_fs_conf() == {}

    which = shutil.which
    monkeypatch.setattr(
        shutil, "which", lambda name, *a, **k: None if name == "javac" else which(name, *a, **k)
    )
    assert session.local_fs_conf() == {}
    assert session.local_fs_conf({"spark.driver.extraClassPath": "/x.jar"}) == {}

    jar = tmp_path / "fs.jar"
    monkeypatch.setattr(session, "_local_fs_jar", lambda: jar)
    assert session.local_fs_conf() == {
        "spark.driver.extraClassPath": str(jar),
        "spark.hadoop.fs.file.impl": "openoa_spark.jvm.NioLocalFileSystem",
    }
    caller = {
        "spark.driver.extraClassPath": "lib/a.jar",
        "spark.hadoop.fs.file.impl": "org.example.MyFileSystem",
    }
    assert session.local_fs_conf(caller) == {
        "spark.driver.extraClassPath": os.pathsep.join(["lib/a.jar", str(jar)]),
    }
