"""The engine session's local filesystem: ``graft.ForklessLocalFileSystem``
(``udacity_dsnd_projects_spark/jvm``) in place of Hadoop's
``LocalFileSystem``, which forks ``chmod`` for every file and directory
it creates when no native ``libhadoop`` is loaded; and its Hadoop conf,
from which the empty ``jvm/conf/yarn-default.xml`` keeps YARN's
defaults out."""

from __future__ import annotations

import hashlib
import os
import stat
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

from udacity_dsnd_projects_spark.session import FORKLESS_FS, FORKLESS_JAR, HADOOP_CONF_SHADOW

SOURCE = Path(FORKLESS_JAR).with_name("ForklessLocalFileSystem.java")
REPO = Path(__file__).resolve().parent.parent


def test_forkless_jar_is_built_from_its_source():
    """The jar holds the SHA-256 of the source it was compiled from."""
    with zipfile.ZipFile(FORKLESS_JAR) as jar:
        built_from = jar.read("graft/ForklessLocalFileSystem.java.sha256").decode().strip()
    source = SOURCE.read_bytes()
    rebuild = next(line for line in source.decode().splitlines() if line.startswith(" * $ "))
    assert built_from == hashlib.sha256(source).hexdigest(), (
        f"{SOURCE.name} changed since {Path(FORKLESS_JAR).name} was built; "
        f"rebuild it from the repository root:\n{rebuild[len(' * $ '):]}"
    )


def _local_fs(spark):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )


def _stock_fs(spark):
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.LocalFileSystem()
    fs.initialize(jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    return fs


def _hpath(spark, path: Path):
    return spark._jvm.org.apache.hadoop.fs.Path(path.as_uri())


def _modes(root: Path) -> dict[str, int]:
    return {str(p.relative_to(root)): stat.S_IMODE(p.stat().st_mode) for p in sorted(root.rglob("*"))}


def test_local_session_writes_through_forkless_filesystem(spark):
    """``file:`` paths of a local engine session resolve to the forkless
    class, which is still a checksummed ``LocalFileSystem``."""
    fs = _local_fs(spark)
    assert fs.getClass().getName() == FORKLESS_FS
    assert spark._jvm.java.lang.Class.forName("org.apache.hadoop.fs.LocalFileSystem").isInstance(fs)


def test_forkless_modes_match_stock_local_filesystem(spark, tmp_path):
    """A created file, its ``.crc`` and each ``mkdirs`` level get the
    same mode bits as under Hadoop's own ``LocalFileSystem``: the
    defaults minus Hadoop's umask (``fs.permissions.umask-mode``), which
    is what its ``chmod`` applies whatever the process umask."""
    umask = spark._jvm.org.apache.hadoop.fs.permission.FsPermission.getUMask(
        spark._jsc.hadoopConfiguration()
    ).toShort()
    layouts = {}
    for name, fs in (("engine", _local_fs(spark)), ("stock", _stock_fs(spark))):
        root = tmp_path / name
        out = fs.create(_hpath(spark, root / "part-0"), False)
        out.write(bytearray(b"rows"))
        out.close()
        assert fs.mkdirs(_hpath(spark, root / "a" / "b"))
        layouts[name] = _modes(root)

    assert layouts["engine"] == layouts["stock"]
    assert layouts["engine"] == {
        ".part-0.crc": 0o666 & ~umask,
        "a": 0o777 & ~umask,
        "a/b": 0o777 & ~umask,
        "part-0": 0o666 & ~umask,
    }


def test_forkless_set_permission_applies_modes(spark, tmp_path):
    """An explicit mode applies; a sticky-bit mode, which ``java.nio``
    cannot set, still applies through Hadoop's own code."""
    permission = spark._jvm.org.apache.hadoop.fs.permission.FsPermission
    fs = _local_fs(spark)
    (tmp_path / "f").write_bytes(b"x")
    (tmp_path / "d").mkdir()

    fs.setPermission(_hpath(spark, tmp_path / "f"), permission("640"))
    fs.setPermission(_hpath(spark, tmp_path / "d"), permission("1777"))

    assert stat.S_IMODE((tmp_path / "f").stat().st_mode) == 0o640
    assert stat.S_IMODE((tmp_path / "d").stat().st_mode) == 0o1777


def test_forkless_rename_refuses_to_replace_a_file(spark, tmp_path):
    """Like Hive's ``ProxyLocalFileSystem``, which Spark uses for
    ``file:`` by default, a rename onto an existing file returns false
    and leaves both files; a rename into a directory moves the file."""
    fs = _local_fs(spark)
    for name in ("a", "b", "c"):
        out = fs.create(_hpath(spark, tmp_path / name), False)
        out.write(bytearray(name.encode()))
        out.close()
    (tmp_path / "d").mkdir()

    assert not fs.rename(_hpath(spark, tmp_path / "a"), _hpath(spark, tmp_path / "b"))
    assert (tmp_path / "a").read_text() == "a" and (tmp_path / "b").read_text() == "b"
    assert fs.rename(_hpath(spark, tmp_path / "c"), _hpath(spark, tmp_path / "d"))
    assert (tmp_path / "d" / "c").read_text() == "c"


def test_local_session_conf_holds_no_yarn_defaults(spark):
    """The engine's empty ``yarn-default.xml`` shadows Hadoop's, so no
    key of the session conf comes from it; the core and mapred defaults
    that the local filesystem and the output committer read keep their
    stock values."""
    conf = spark._jsc.hadoopConfiguration()
    sources = set()
    entries = conf.iterator()
    while entries.hasNext():
        sources.update(conf.getPropertySources(entries.next().getKey()) or [])
    assert "yarn-default.xml" not in sources
    assert {"core-default.xml", "mapred-default.xml"} <= sources
    assert conf.get("yarn.resourcemanager.address") is None
    assert conf.get("fs.permissions.umask-mode") == "022"
    assert conf.get("mapreduce.fileoutputcommitter.algorithm.version") == "1"
    first = conf.getClassLoader().getResources("yarn-default.xml").nextElement()
    assert (first.getProtocol(), first.getPath()) == ("file", str(Path(HADOOP_CONF_SHADOW, "yarn-default.xml")))


_ROUND_TRIP = """
from pyspark.sql import functions as F

spark.range(10).selectExpr("id % 3 AS k", "id AS v").write.parquet(f"{tmp}/src")
assert spark.read.parquet(f"{tmp}/src").count() == 10
q = (spark.readStream.schema("k long, v long").parquet(f"{tmp}/src")
     .groupBy("k").agg(F.sum("v").alias("total"))
     .writeStream.outputMode("complete").format("memory").queryName("totals")
     .option("checkpointLocation", f"{tmp}/ck").trigger(availableNow=True).start())
q.awaitTermination()
assert sorted(tuple(r) for r in spark.table("totals").collect()) == [(0, 18), (1, 12), (2, 15)]
jvm = spark._jvm
fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
print("FS", fs.getClass().getName())
"""


def _run_session_script(tmp_path: Path, body: str, cpus: str | None = "2") -> str:
    script = textwrap.dedent(body) + _ROUND_TRIP + "spark.stop()\n"
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=str(REPO))
    env.pop("SPARK_MASTER", None)
    env.pop("SPARK_GRAFT_CPUS", None)
    if cpus is not None:
        env["SPARK_GRAFT_CPUS"] = cpus
    proc = subprocess.run(
        [sys.executable, "-c", f"tmp = {str(tmp_path)!r}\n{script}"],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc.stdout


def test_get_spark_on_a_jvm_started_without_the_jar(tmp_path):
    """A bare session started and stopped leaves a JVM without the jar
    and the conf dir; ``get_spark`` then keeps Spark's default class and
    Hadoop's YARN defaults, and parquet and a checkpointed stream still
    work."""
    out = _run_session_script(tmp_path, """
        from pyspark.sql import SparkSession
        from udacity_dsnd_projects_spark.session import get_spark

        SparkSession.builder.master("local[1]").getOrCreate().stop()
        spark = get_spark("jvm-reuse", shuffle_partitions=2)
        print("YARN_RM", spark._jsc.hadoopConfiguration().get("yarn.resourcemanager.address"))
    """)
    assert "FS " in out and f"FS {FORKLESS_FS}" not in out
    assert "YARN_RM " in out and "YARN_RM None" not in out


def test_get_spark_keeps_the_callers_class_path(tmp_path):
    """A caller's ``spark.driver.extraClassPath`` joins the jar and the
    conf dir on the class path instead of replacing them. Without
    ``SPARK_GRAFT_CPUS`` or a ``shuffle_partitions`` argument, a local
    session sizes its shuffle partitions to the cores it may run on."""
    (tmp_path / "cp").mkdir()
    (tmp_path / "cp" / "marker.txt").write_text("on the class path")
    out = _run_session_script(tmp_path, """
        import os
        from udacity_dsnd_projects_spark.session import get_spark

        spark = get_spark("class-path", extra_conf={"spark.driver.extraClassPath": f"{tmp}/cp"})
        assert spark._jvm.java.lang.ClassLoader.getSystemResource("marker.txt") is not None
        class_path = spark._jvm.java.lang.System.getProperty("java.class.path").split(os.pathsep)
        print("CLASS_PATH", *(os.path.normpath(p) for p in class_path))
        print("SHUFFLE", spark.conf.get("spark.sql.shuffle.partitions"))
    """, cpus=None)
    assert f"FS {FORKLESS_FS}" in out
    class_path = next(line for line in out.splitlines() if line.startswith("CLASS_PATH ")).split()[1:]
    assert {FORKLESS_JAR, HADOOP_CONF_SHADOW, str(tmp_path / "cp")} <= set(class_path)
    assert f"SHUFFLE {len(os.sched_getaffinity(0))}" in out
