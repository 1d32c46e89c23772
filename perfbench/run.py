"""Benchmark of the engine: one named workload, one seed, one fresh process.

    python3 perfbench/run.py --workload query_tail --seed 1 --seconds 18 --trace 0

A single client runs a closed loop on ``local[4]``: each op starts when the
previous one has finished. The first pass over the workload's ops runs in the
fresh process; it warms the process up and is kept out of the warm metrics.
Then come the warm passes: as many as take ``--seconds`` on the host the
workload was sized on, so that every run executes the same ops. After each op
a fixed reference task measures how fast the shared host runs right then
(``hostref.py``), and the timed metrics are in seconds on the nominal host.
Outputs are checked against independently computed results outside the
timed ops; an op that raises or returns a wrong result counts as failed.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics, taken from spans recorded
around the calls into each engine layer and from Spark's event log, and a
``layer_report`` line before it holds the full per-layer breakdown.
``--trace-out FILE`` also writes the spans and per-op counts to FILE.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import functools
import importlib
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "extract_transform_load_template_multidb_spark"

sys.path.insert(0, HERE)

from hostref import HostRef  # noqa: E402
from spans import NullTracer, Tracer, read_event_log  # noqa: E402

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 32
WORKLOADS = ("query_tail", "etl_daily_load")


@dataclass
class Op:
    op_id: str
    key: str
    warm: bool
    pass_no: int  # 0 is the cold pass; for etl_daily_load, day - 1
    seconds: float = 0.0
    host: float = 1.0  # host factor sampled right after the op (hostref.py)
    ok: bool = True
    error: str = ""
    rows: int = 0
    extra: dict = field(default_factory=dict)

    def fail(self, why: str) -> None:
        if self.ok:
            self.ok, self.error = False, why


class Bench:
    """State of one run: the session, the tracer and every op executed."""

    def __init__(self, spark, tracer, host_ref, seed, seconds, sf_dir: str, tmp: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.sf_dir = sf_dir
        self.tmp = tmp
        self.ops: list[Op] = []
        self.host_ref = host_ref
        self.pass_no = 0

    def timed(self, key: str, fn, warm: bool) -> Op:
        op = Op(
            op_id=f"{'w' if warm else 'c'}{len(self.ops)}",
            key=key,
            warm=warm,
            pass_no=self.pass_no,
        )
        self.ops.append(op)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("bench.op", op=op.op_id):
                fn(op)
        except Exception:  # an op failure is a measured outcome, not a crash
            op.fail(traceback.format_exc(limit=3))
        op.seconds = time.perf_counter() - t0
        op.host = self.host_ref.sample()
        return op

    def warm_passes(self, nominal_pass_s: float) -> int:
        """How many warm passes make ``--seconds`` at the nominal pass time.

        The count, not the clock, ends the warm phase: a run on a slow or
        bursty host then runs the same ops as any other, and the JIT has
        warmed up over the same number of passes.
        """
        return max(1, round(self.seconds / nominal_pass_s))

    def run_ops(self, items: list[tuple], nominal_pass_s: float) -> None:
        """One cold pass over ``items``, then the warm passes."""
        for pass_no in range(1 + self.warm_passes(nominal_pass_s)):
            self.pass_no = pass_no
            for key, fn in items:
                self.timed(key, functools.partial(fn, key), warm=pass_no > 0)


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--trace-out", help="write spans and per-op counts here")
    return p.parse_args(argv)


def _isolate(tmp: str) -> None:
    """Keep every file Spark, its Python workers and DuckDB write under ``tmp``."""
    for sub in ("local", "tmp", "duckdb", "events"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    # Python workers import the engine (UDFs, foreachPartition writers).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.path.join(ROOT, "tests"), os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]


def _spark_conf(tmp: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # The JVM writes its perf-data file to the system temp dir whatever
        # java.io.tmpdir says, so it is turned off.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp}/tmp -Dderby.system.home={tmp}/tmp -XX:-UsePerfData"
        ),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{tmp}/events",
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _patch_catalog(tracer) -> None:
    """Trace ``catalog.load_table`` wherever the engine calls it."""
    catalog = importlib.import_module(f"{PACKAGE}.catalog")
    original = catalog.load_table
    seen: set[str] = set()

    def load_table(spark, sf_dir, name):
        cold = name not in seen
        seen.add(name)
        with tracer.span("catalog.load_table") as rec:
            rec["cold"] = cold
            return original(spark, sf_dir, name)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(PACKAGE) and (
            getattr(mod, "load_table", None) is original
        ):
            mod.load_table = load_table


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"engine package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    spark = None
    try:
        _isolate(tmp)
        workload = importlib.import_module(args.workload)
        tracer = Tracer() if args.trace else NullTracer()

        t0 = time.perf_counter()
        with tracer.span("session.import"):
            session = importlib.import_module(f"{PACKAGE}.session")
            catalog = importlib.import_module(f"{PACKAGE}.catalog")
            workload.setup()
        sf_dir = catalog.DEFAULT_SF_DIR
        if not os.path.isdir(sf_dir):
            print(f"test data directory {sf_dir} not found", file=sys.stderr)
            return 2
        with tracer.span("session.get_spark"):
            spark = session.get_spark(
                app_name=f"perfbench-{args.workload}",
                master=MASTER,
                shuffle_partitions=SHUFFLE_PARTITIONS,
                extra_conf=_spark_conf(tmp, args.trace),
            )
        spark.sparkContext.setLogLevel("ERROR")
        tracer.attach(spark.sparkContext)
        tracer.job_group("setup")
        with tracer.span("session.first_action"):
            spark.range(1000).selectExpr("sum(id)").collect()
        setup_s = time.perf_counter() - t0

        bench = Bench(spark, tracer, HostRef(), args.seed, args.seconds, sf_dir, tmp)
        if tracer.enabled:
            _patch_catalog(tracer)
        workload.run(bench)
        if tracer.enabled:
            peak_rss_mb = _peak_rss_mb(spark)
            workload.probe_catalog(bench)
        _stop(spark)
        spark = None

        result = _result(bench, setup_s, args)
        if tracer.enabled:
            import layers

            groups = read_event_log(os.path.join(tmp, "events"))
            report = layers.report(bench, groups, result["metrics"]["ops_per_s"]["value"])
            report["session"]["peak_rss_mb"] = peak_rss_mb
            print(json.dumps({"layer_report": report}, sort_keys=True))
            result["metrics"] = layers.per_layer_metrics(report)
            if args.trace_out:
                with open(args.trace_out, "w") as fh:
                    json.dump(
                        {
                            "workload": args.workload,
                            "seed": args.seed,
                            "spans": tracer.self_times(),
                            "counts": layers.per_op_counts(bench, groups),
                        },
                        fh,
                    )
        for op in bench.ops:
            if not op.ok:
                print(f"FAILED {op.key} ({op.op_id}): {op.error}", file=sys.stderr)
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass  # another run still uses it


def _host_normalized(ops: list[Op]) -> dict[str, float]:
    """Each op's seconds over the median host factor of the pass it ran in."""
    by_pass = defaultdict(list)
    for op in ops:
        by_pass[op.pass_no].append(op.host)
    factor = {p: statistics.median(v) for p, v in by_pass.items()}
    return {op.op_id: op.seconds / factor[op.pass_no] for op in ops}


def _result(bench: Bench, setup_s: float, args) -> dict:
    """The end-to-end metrics.

    A warm op's time is scaled by the median host factor of its own pass
    (``hostref.py``), as the host's speed drifts within a run. Set-up is as
    measured: the factor, sampled between ops, did not track it.
    ``op_gmean_s`` is the geometric mean over the workload's distinct ops
    (queries or ETL jobs) of each one's mean warm time: every distinct op
    weighs the same, where ``ops_per_s`` is dominated by the slowest.
    """
    cold = [op for op in bench.ops if not op.warm]
    warm = [op for op in bench.ops if op.warm and op.ok]
    failed = sum(not op.ok for op in bench.ops)
    attempted = len(bench.ops)
    seconds = _host_normalized(bench.ops)
    warm_s = [seconds[op.op_id] for op in warm]
    by_key = defaultdict(list)
    for op in warm:
        by_key[op.key].append(seconds[op.op_id])
    host = statistics.median(op.host for op in bench.ops)
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "ops_per_s": {"value": len(warm_s) / sum(warm_s) if warm else 0.0, "unit": "1/s"},
        "op_gmean_s": {
            "value": statistics.geometric_mean(map(statistics.fmean, by_key.values()))
            if warm
            else 0.0,
            "unit": "s",
        },
    }
    raw_warm_s = sum(op.seconds for op in warm)
    rows = sum(op.rows for op in warm)
    print(
        f"{args.workload} seed={args.seed}: {len(cold)} cold + {len(warm)} warm ops, "
        f"{failed} failed of {attempted}; warm rows {rows}; as measured: "
        f"cold pass {sum(op.seconds for op in cold):.2f} s, "
        f"{len(warm) / raw_warm_s if raw_warm_s else 0:.3f} warm ops/s; "
        f"host factor {host:.3f}"
    )
    return {
        "correct": failed == 0 and bool(warm),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
