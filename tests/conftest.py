from __future__ import annotations

import os
import sys
import uuid

import pytest

_TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO_DIR = os.path.dirname(_TESTS_DIR)
sys.path.insert(0, _REPO_DIR)

# Executor Python workers must be able to unpickle functions defined in test
# modules (e.g. connection factories for foreachPartition) — propagate the
# import path before the JVM (and its python workers) starts. The _pb_shim
# dir rides along so worker processes auto-import its ``sitecustomize``,
# which enables the google-cloud-sdk-bundled pure-Python protobuf that
# transformWithStateInPandas's state protocol needs (see
# tests/_pb_shim/sitecustomize.py); the driver applies the same shim
# in-process below.
_PB_SHIM_DIR = os.path.join(_TESTS_DIR, "_pb_shim")
os.environ["PYTHONPATH"] = os.pathsep.join(
    p
    for p in (
        _REPO_DIR,
        _TESTS_DIR,
        _PB_SHIM_DIR,
        os.environ.get("PYTHONPATH"),
    )
    if p
)

import importlib.util as _ilu  # noqa: E402

_spec = _ilu.spec_from_file_location(
    "_pb_shim_sitecustomize", os.path.join(_PB_SHIM_DIR, "sitecustomize.py")
)
_pb_shim = _ilu.module_from_spec(_spec)
_spec.loader.exec_module(_pb_shim)
HAVE_PROTOBUF = _pb_shim.apply()

from extract_transform_load_template_multidb_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="etl-multidb-tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` -> ``(fn(), the number of Spark jobs fn ran)``,
    counted under a job group of its own."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count_jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        # The status store is fed by the listener bus, asynchronously.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
