"""Session settings that the engine's warm-query speed relies on."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import types
import zipfile
import zipimport

from pyspark.sql import functions as F

from perfbench.query_tail import op_list

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
