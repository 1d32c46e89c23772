"""Session settings that the engine's warm-query speed relies on."""

from __future__ import annotations

import glob
import importlib
import os
import shutil
import stat
import subprocess
import sys
import types
import zipfile
import zipimport

import pyspark
import pytest
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import functions as F

from perfbench.query_tail import op_list

from extract_transform_load_template_multidb_spark import session
from extract_transform_load_template_multidb_spark.queries import all_queries
from extract_transform_load_template_multidb_spark.worker_daemon import (
    stamp_checked,
)

_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO_DIR = os.path.dirname(_TESTS_DIR)


def _compiled_classes(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_query_cycle_compiles_nothing(spark, sf_dir):
    """A session that cycles through registry queries reuses the classes it
    generated on the first pass. Spark's default 100-entry codegen cache
    holds fewer classes than the 12 ``query_tail`` queries generate, so it
    evicts each before its next use and every pass recompiles them all."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024"
    queries = all_queries()
    names = op_list(1)

    def run_pass():
        for name in names:
            queries[name](spark, sf_dir).collect()

    run_pass()
    before = _compiled_classes(spark)
    run_pass()
    warm = _compiled_classes(spark) - before
    # The first pass may find its classes cached by earlier tests; that the
    # metric counts at all is what keeps the second assertion meaningful.
    assert before > 0
    assert warm == 0, f"warm pass recompiled {warm} classes"


def test_zip_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """The daemon's stamp check skips the directory re-read of an unchanged
    archive and still sees one rewritten in place."""
    archive = str(tmp_path / "mods.zip")

    def write(body):
        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr("stamp_probe_mod.py", body)

    write("VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "stamp_probe_mod", raising=False)
    assert importlib.import_module("stamp_probe_mod").VALUE == 1
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)
    importer.invalidate_caches = types.MethodType(
        stamp_checked(zipimport.zipimporter.invalidate_caches), importer
    )
    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)

    importlib.invalidate_caches()  # no stamp yet: reads once
    importlib.invalidate_caches()
    assert reads.count(archive) == 1

    write("VALUE = 22\n")
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    del sys.modules["stamp_probe_mod"]
    assert importlib.import_module("stamp_probe_mod").VALUE == 22


def test_python_workers_fork_from_the_engine_daemon(spark):
    """A Python worker of the session ``get_spark`` built runs under the
    engine's daemon, with its zip stamp check and per-task wrapper in
    place."""

    @F.udf("array<string>")
    def installed(_):
        import zipimport

        import pyspark.daemon

        hooks = (zipimport.zipimporter.invalidate_caches, pyspark.daemon.worker_main)
        return [sys.modules["__main__"].__spec__.name] + [
            f"{f.__module__}:{f.__qualname__}" for f in hooks
        ]

    (row,) = spark.range(1).select(installed("id").alias("r")).collect()
    assert row.r == [
        "extract_transform_load_template_multidb_spark.worker_daemon",
        "__main__:stamp_checked.<locals>.invalidate_caches",
        "__main__:quickack_first.<locals>.task",
    ]


def test_python_workers_import_the_engine_from_anywhere(tmp_path, sf_dir):
    """A Python-UDF query runs and matches its oracle when neither the
    working directory nor ``PYTHONPATH`` holds the checkout: ``get_spark``
    puts the package on the workers' path, which every Python worker needs
    to start from the engine's daemon."""
    script = f"""
import sys
sys.path[:0] = [{_REPO_DIR!r}, {_TESTS_DIR!r}]
from extract_transform_load_template_multidb_spark.queries import (
    all_oracles, all_queries)
from extract_transform_load_template_multidb_spark.session import get_spark
from oracle_util import compare, duck_connection
spark = get_spark(master="local[2]", shuffle_partitions=2)
df = all_queries()["mm_decode_wav"](spark, {sf_dir!r})
compare(df, duck_connection({sf_dir!r}), all_oracles()["mm_decode_wav"])
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]


def test_engine_path_entries_go_ahead_of_the_callers():
    """Each path-list conf gets the engine's entry first, and a value the
    caller passed survives after it."""
    caller = {k: f"/caller/{i}" for i, k in enumerate(session._ENGINE_PATHS)}
    caller["spark.app.name"] = "kept"
    before = dict(caller)
    merged = session.engine_paths_first(caller)
    assert caller == before
    assert merged["spark.app.name"] == "kept"
    for key, entry in session._ENGINE_PATHS.items():
        assert merged[key].split(os.pathsep) == [entry, caller[key]]
        assert session.engine_paths_first({})[key] == entry


def test_defaults_file_class_paths_follow_the_engines(tmp_path, monkeypatch):
    """A class path set in ``spark-defaults.conf`` (where a JDBC driver jar
    usually sits) is kept after the engine's entry, since the builder's
    value replaces the file's; a caller's value still wins."""
    (tmp_path / "spark-defaults.conf").write_text(
        "# JDBC drivers\n"
        "spark.driver.extraClassPath   /jdbc/mysql.jar:/jdbc/pg.jar\n"
        "spark.executor.extraClassPath=/jdbc/mysql.jar\n"
        "\n"
        "spark.master: local[1]\n"
    )
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    defaults = session._spark_defaults_file()
    assert defaults == {
        "spark.driver.extraClassPath": "/jdbc/mysql.jar:/jdbc/pg.jar",
        "spark.executor.extraClassPath": "/jdbc/mysql.jar",
        "spark.master": "local[1]",
    }
    merged = session.engine_paths_first({}, defaults)
    jar = session._LOCAL_FS_JAR
    assert merged["spark.driver.extraClassPath"].split(os.pathsep) == [
        jar, "/jdbc/mysql.jar", "/jdbc/pg.jar"
    ]
    assert merged["spark.executor.extraClassPath"].split(os.pathsep) == [
        jar, "/jdbc/mysql.jar"
    ]
    caller = {"spark.executor.extraClassPath": "/caller.jar"}
    merged = session.engine_paths_first(caller, defaults)
    assert merged["spark.executor.extraClassPath"].split(os.pathsep) == [jar, "/caller.jar"]
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "missing"))
    assert session._spark_defaults_file() == {}


_SUBMITTED_SCRIPT = f"""
import sys
sys.path.insert(0, {_REPO_DIR!r})
from extract_transform_load_template_multidb_spark.session import get_spark
from extract_transform_load_template_multidb_spark.sinks.parquet_sink import ParquetSink
spark = get_spark(master="local[2]", shuffle_partitions=2)
jvm = spark.sparkContext._jvm
fs = jvm.org.apache.hadoop.fs.FileSystem.get(
    jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
ParquetSink(sys.argv[1]).overwrite(spark.range(5).toDF("k"))
conf = spark.sparkContext.getConf()
print(fs.getClass().getName(), spark.read.parquet(sys.argv[1]).count(),
      conf.get("spark.executor.extraClassPath"),
      jvm.System.getProperty("java.class.path"))
"""


@pytest.mark.parametrize("launch", ["spark-submit", "submit-args", "defaults-file"])
def test_sessions_started_outside_get_spark_write_files(launch, tmp_path):
    """``get_spark`` names the engine's ``file:`` file system only where the
    driver JVM has its jar on the class path, and keeps the class paths the
    JVM started with after the jar. Under ``spark-submit`` the JVM is up
    before the builder runs, and a ``--driver-class-path`` in
    ``PYSPARK_SUBMIT_ARGS`` replaces the builder's: both keep Hadoop's
    file system and still read and write parquet. A JVM that ``get_spark``
    starts keeps ``spark-defaults.conf``'s class paths after the jar."""
    script = tmp_path / "job.py"
    script.write_text(_SUBMITTED_SCRIPT)
    out = str(tmp_path / "out")
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    cmd = [sys.executable, str(script), out]
    if launch == "spark-submit":
        spark_submit = os.path.join(_find_spark_home(), "bin", "spark-submit")
        cmd = [spark_submit, "--master", "local[2]", str(script), out]
    elif launch == "submit-args":
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--driver-class-path /submit/driver.jar "
            "--conf spark.executor.extraClassPath=/submit/executor.jar pyspark-shell"
        )
    else:
        (tmp_path / "spark-defaults.conf").write_text(
            "spark.driver.extraClassPath /defaults/driver.jar\n"
            "spark.executor.extraClassPath /defaults/executor.jar\n"
        )
        env["SPARK_CONF_DIR"] = str(tmp_path)
    proc = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    fs_class, rows, executor_path, driver_path = proc.stdout.splitlines()[-1].split(" ")
    assert rows == "5"
    jar = session._LOCAL_FS_JAR
    assert executor_path.split(os.pathsep)[0] == jar
    if launch == "defaults-file":
        assert fs_class == session._LOCAL_FS
        assert executor_path.split(os.pathsep)[1:] == ["/defaults/executor.jar"]
        assert driver_path.split(os.pathsep)[:2] == [jar, "/defaults/driver.jar"]
        return
    assert fs_class != session._LOCAL_FS
    assert jar not in driver_path.split(os.pathsep)
    if launch == "submit-args":
        assert executor_path.split(os.pathsep)[1:] == ["/submit/executor.jar"]
        assert "/submit/driver.jar" in driver_path.split(os.pathsep)


def test_session_file_systems_are_the_engines(spark):
    """``file:`` resolves to the engine's class, both through
    ``FileSystem`` (writes) and through ``FileContext`` (streaming
    checkpoints)."""
    jvm = spark.sparkContext._jvm
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    assert fs.getClass().getName() == session._LOCAL_FS
    assert fs.getRawFileSystem().getClass().getName() == f"{session._LOCAL_FS}$Raw"
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
    assert fc.getDefaultFileSystem().getClass().getName() == f"{session._LOCAL_FS}$Fs"


def test_engine_sets_the_mode_bits_hadoop_does(spark, tmp_path):
    """For each mode, on a file and on a directory, the engine's
    ``setPermission`` leaves the ``st_mode`` that Hadoop's stock
    ``RawLocalFileSystem`` leaves on a twin path; a sticky directory keeps
    its sticky bit, and the ``FsCreateModes`` that ``FileContext`` passes
    (its ``toString()`` is not the ``rwx`` form) sets its masked mode."""
    jvm = spark.sparkContext._jvm
    hadoop_fs = jvm.org.apache.hadoop.fs
    perm = hadoop_fs.permission
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    engine = hadoop_fs.FileSystem.get(uri, conf).getRawFileSystem()
    stock = hadoop_fs.RawLocalFileSystem()
    stock.initialize(uri, conf)

    def set_mode(fs, path, mode):
        if isinstance(mode, int):
            mode = perm.FsPermission(mode)
        fs.setPermission(hadoop_fs.Path(str(path)), mode)
        return os.stat(path).st_mode

    for mode in (0o000, 0o400, 0o640, 0o644, 0o700, 0o755, 0o777):
        for kind in ("file", "dir"):
            twins = [tmp_path / f"{kind}_{mode:o}_{side}" for side in ("engine", "stock")]
            for path in twins:
                path.mkdir() if kind == "dir" else path.write_bytes(b"x")
            got = set_mode(engine, twins[0], mode)
            want = set_mode(stock, twins[1], mode)
            assert got == want, (kind, oct(mode), oct(got), oct(want))
            assert stat.S_IMODE(got) == mode
    sticky = tmp_path / "sticky"
    sticky.mkdir()
    assert stat.S_IMODE(set_mode(engine, sticky, 0o1777)) == 0o1777
    created = tmp_path / "created"
    created.write_bytes(b"x")
    modes = perm.FsCreateModes.create(perm.FsPermission(0o640), perm.FsPermission(0o666))
    assert stat.S_IMODE(set_mode(engine, created, modes)) == 0o640


def test_parquet_writes_fork_no_chmod(tmp_path):
    """``overwrite``, ``window_overwrite`` (the ``_swap`` path) and
    ``upsert`` set every mode without a ``chmod`` process: a logging
    ``chmod`` first on the JVM's ``PATH`` is never called. Hadoop's
    shell fallback runs it ~9 times per single-task write. The process
    umask (077) is stricter than Hadoop's (022), so the modes show that
    the permissions were set, and each data file keeps its ``.crc``."""
    shim = tmp_path / "bin"
    shim.mkdir()
    calls = tmp_path / "chmod.log"
    (shim / "chmod").write_text(
        f'#!/bin/sh\necho "$@" >> {str(calls)!r}\nexec {shutil.which("chmod")} "$@"\n'
    )
    (shim / "chmod").chmod(0o755)
    target = tmp_path / "out" / "target"
    script = f"""
import os, sys
sys.path.insert(0, {_REPO_DIR!r})
os.umask(0o077)
from extract_transform_load_template_multidb_spark.session import get_spark
from extract_transform_load_template_multidb_spark.sinks.parquet_sink import ParquetSink
spark = get_spark(master="local[2]", shuffle_partitions=2)
df = spark.createDataFrame([(1, "a", 5), (2, "b", 6)], "k long, v string, d int").coalesce(1)
sink = ParquetSink({str(target)!r})
sink.overwrite(df)
sink.window_overwrite(df, "d", 6, spark)
sink.upsert(df, ("k",), spark)
print(spark._jvm.org.apache.hadoop.fs.permission.FsPermission.getUMask(
    spark._jsc.hadoopConfiguration()).toShort())
"""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PATH"] = os.pathsep.join((str(shim), env.get("PATH", "")))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    spawned = calls.read_text().splitlines() if calls.exists() else []
    assert spawned == [], f"{len(spawned)} chmod calls, first: {spawned[:3]}"
    umask = int(proc.stdout.splitlines()[-1])
    names = os.listdir(target)
    parts = [n for n in names if n.startswith("part-")]
    assert parts and "_SUCCESS" in names
    for name in parts + ["_SUCCESS"]:
        assert f".{name}.crc" in names
    for root, _, files in os.walk(target.parent):
        assert stat.S_IMODE(os.stat(root).st_mode) == 0o777 & ~umask, root
        for name in files:
            mode = stat.S_IMODE(os.stat(os.path.join(root, name)).st_mode)
            assert mode == 0o666 & ~umask, name


def test_committed_jar_is_built_from_the_committed_source(tmp_path):
    """Compiling ``jvm/NioLocalFileSystem.java`` with ``javac --release 17``
    against pyspark's Hadoop client API gives exactly the classes in the
    committed jar. After an edit to the source, rebuild the jar with the
    commands in the source's class comment."""
    javac = shutil.which("javac")
    if javac is None:
        pytest.skip("no javac on PATH")
    (api,) = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar")
    )
    jvm_dir = os.path.dirname(session._LOCAL_FS_JAR)
    subprocess.run(
        [javac, "--release", "17", "-cp", api, "-d", str(tmp_path),
         os.path.join(jvm_dir, "NioLocalFileSystem.java")],
        check=True,
        capture_output=True,
    )
    built = {
        p.relative_to(tmp_path).as_posix(): p.read_bytes()
        for p in tmp_path.rglob("*.class")
    }
    with zipfile.ZipFile(session._LOCAL_FS_JAR) as jar:
        committed = {
            n: jar.read(n) for n in jar.namelist() if n.endswith(".class")
        }
    assert sorted(built) == sorted(committed)
    assert [n for n in built if built[n] != committed[n]] == []
