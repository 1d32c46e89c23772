"""SparkSession factory tuned for the engine.

Scale posture: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), UTC session timezone (deterministic timestamp semantics vs the
DuckDB oracle), Arrow enabled for the few pandas-UDF operators, a
generated-code cache of 1024 classes (Spark's default 100 cannot hold the
classes of a session cycling through a dozen queries; 1024 hold those of
~85 queries in ~25 MB of metaspace, see get_spark), and Python workers
forked from the engine's own daemon (``worker_daemon``: a one-row Python
task reaches user code in ~30 ms instead of 150-240 ms), with this
package on the workers' ``PYTHONPATH`` so that they can import it.

Both the cache size and the daemon are launch-time confs. A session the
engine did not build keeps Spark's 100-entry cache and pyspark's own
daemon. To get the engine's, submit it with
``--conf spark.sql.codegen.cache.maxEntries=1024`` and
``--conf spark.python.daemon.module=<package>.worker_daemon``, and put
this package's parent directory on the workers' ``PYTHONPATH``
(``--conf spark.executorEnv.PYTHONPATH=...``).

On a real cluster only ``master``/``shuffle_partitions`` change; every
query in this repo is expressed declaratively so Catalyst can re-plan for
1000 executors without code changes.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

# The directory holding this package: Python workers must import it, since
# they start from its worker_daemon.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
# Named, not imported: ``python -m`` runs it as __main__, and a copy already
# imported by this package would shadow it.
_WORKER_DAEMON = f"{__package__}.worker_daemon"

# Session-level defaults applied both when we build the session ourselves and
# when the driver hands us one (see ensure_conf).
_RUNTIME_CONF = {
    # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized reader
    # rejects; read as long and convert (catalog.load_table handles it).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock semantics vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: coalesce post-shuffle partitions, split skewed
    # joins, convert sort-merge→broadcast when a side turns out small.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


# Bound on each per-session memo (this module's and ``catalog``'s): many test
# sessions and tmp fixtures.
_MEMO_BOUND = 512
# One session may be shared across threads, and an insert scans its memo.
_MEMO_LOCK = threading.Lock()


def session_key(spark: SparkSession) -> str:
    """The UUID of the JVM session behind ``spark``, the first element of
    every per-session memo key. pyspark wraps one JVM session in a new
    Python object per ``foreachBatch`` micro-batch, so the wrapper's
    ``id()`` would miss the memo on every batch."""
    return spark._jsparkSession.sessionUUID()


def memo_get(memo: dict, key):
    """The value ``memo_put`` stored under ``key``, else None."""
    hit = memo.get(key)
    return hit[1] if hit is not None else None


def memo_put(memo: dict, key, spark: SparkSession, value) -> None:
    """Store ``value`` under ``key`` for ``spark``.

    The entry keeps ``spark`` so that stopped sessions can be found: so
    that a memo does not hold every session for the life of the process,
    entries of sessions whose context has stopped are dropped first, and a
    memo past ``_MEMO_BOUND`` entries is cleared.
    """
    with _MEMO_LOCK:
        for k in [k for k, (s, _) in memo.items() if s.sparkContext._jsc is None]:
            del memo[k]
        if len(memo) > _MEMO_BOUND:
            memo.clear()
        memo[key] = (spark, value)


# Sessions already configured by ensure_conf. ensure_conf is on every
# query's plan-build path (catalog.load_table), and its five conf.set py4j
# round-trips per call are pure per-query driver latency once the session
# is configured — the engine never unsets these keys, so applying them
# once per session is equivalent (round-12: the 526-query tail is
# driver-latency bound). Keyed by session_key, through memo_get/memo_put.
_CONF_APPLIED: dict = {}


def ensure_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an existing session.

    The correctness driver constructs its own SparkSession; every public
    query entry point funnels through here so behavior does not depend on
    who built the session. Idempotent and memoized per JVM session:
    repeat calls are one py4j round-trip and a dict lookup, not five.

    Only runtime-settable keys can be applied here. A session the engine
    did not build keeps Spark's 100-entry generated-code cache and
    pyspark's own worker daemon, static confs fixed at launch: submit it
    with ``--conf spark.sql.codegen.cache.maxEntries=1024`` and
    ``--conf spark.python.daemon.module=<package>.worker_daemon``, with
    the package on the workers' ``PYTHONPATH`` (see the module docstring).
    """
    key = session_key(spark)
    if memo_get(_CONF_APPLIED, key):
        return spark
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Static conf on this build — keep going; defaults are sane.
            pass
    memo_put(_CONF_APPLIED, key, spark, True)
    return spark


def _default_driver_memory() -> str:
    """Pick a driver heap for local mode, where the driver IS the executor.

    Spark's local-mode default (~1g) cannot hold the working set of the
    heavier operators (LSH candidate verification carries millions of int64
    arrays through one JVM); we size to ~40% of host RAM, capped at 48g,
    floored at 4g. Override with $SPARK_GRAFT_DRIVER_MEM (e.g. "16g").
    On a real cluster the driver only coordinates, so this conservative
    fraction is still safe there.
    """
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) // (1024 * 1024)
                    break
            else:
                total_gib = 8
    except OSError:
        total_gib = 8
    return f"{max(4, min(48, int(total_gib * 0.4)))}g"


def get_spark(
    app_name: str = "etl-multidb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``) so tests and bench share one code path. A
    ``spark.executorEnv.PYTHONPATH`` in ``extra_conf`` is kept, after this
    package's parent directory.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # JVM-launch-time setting: only effective when this call actually
        # creates the session (true for bench.py and tests, which build the
        # session before any other Spark use).
        .config("spark.driver.memory", _default_driver_memory())
        # Shuffle I/O: larger write buffers cut syscall count (this host
        # taxes syscalls heavily in bursts), and tmpfs-backed local dirs
        # keep shuffle/spill off disk entirely — our shuffle volumes are
        # a few GB against a 100+ GB /dev/shm.
        .config("spark.shuffle.file.buffer", "1m")
        .config("spark.shuffle.localDisk.file.output.buffer", "1m")
        .config("spark.io.compression.lz4.blockSize", "512k")
        # Generated-code cache: a static SQL conf that CodeGenerator reads
        # once per JVM, so it must be set here, not in _RUNTIME_CONF.
        # Spark's 100 entries are fewer than the ~165 classes that a cycle
        # of 12 registry queries generates, so the default evicts every
        # class before its next use and each warm pass recompiles (and
        # JIT-warms again) all of them. One pass over all 571 queries
        # compiled 6,870 classes (~12 per query) at ~25 KB of metaspace
        # each, so 1024 entries hold ~85 interleaved queries and cap the
        # cache at ~25 MB.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # Python workers fork from the engine's daemon, which skips
        # pyspark's per-task re-read of its zip archives and the ~40 ms
        # delayed-ACK stall (see worker_daemon): a one-row Python task
        # reaches user code in ~30 ms instead of 150-240 ms. Read when the
        # JVM starts its first Python worker, so it too is set here.
        .config("spark.python.daemon.module", _WORKER_DAEMON)
    )
    shm = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    try:
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    except OSError:
        pass  # fall back to Spark's default local dir
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    extra_conf = dict(extra_conf or {})
    # Without this, a worker whose cwd and PYTHONPATH lack the checkout
    # cannot start at all.
    extra_conf[_WORKER_PYTHONPATH] = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, extra_conf.get(_WORKER_PYTHONPATH)) if p
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return ensure_conf(spark)
