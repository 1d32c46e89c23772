"""Per-layer figures of a traced run, from its spans and Spark's event log.

A span's layer is the part of its name before the first dot: ``session``,
``catalog``, ``queries``, ``exec``, ``sources``, ``transforms``, ``pipeline``,
``sinks`` and ``bench`` (the harness itself). Event-log figures are
attributed to an op through the job groups ``<op>|build`` (jobs run while
the plan is built) and ``<op>|action`` (jobs of the action).
"""

from __future__ import annotations

import statistics
from collections import defaultdict

EXEC_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "task_wait_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "aqe_replans",
)
PLAN_LAYERS = ("queries", "sources", "transforms")
ACTION_LAYERS = ("exec", "pipeline", "sinks")
FAMILIES = ("dedup", "sim")


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def _op_exec(groups: dict, op_id: str) -> dict:
    out = dict.fromkeys(EXEC_KEYS, 0)
    out["output_bytes"] = 0
    for part in ("build", "action"):
        for k, v in groups.get(f"{op_id}|{part}", {}).items():
            out[k] += v
    out["build_jobs"] = groups.get(f"{op_id}|build", {}).get("jobs", 0)
    return out


def _spans_by_op(spans: list[dict]) -> dict[str, list[dict]]:
    by_op = defaultdict(list)
    for s in spans:
        if s["op"] is not None:
            by_op[s["op"]].append(s)
    return by_op


def _layer_self(spans: list[dict]) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"].split(".")[0]] += s["self"]
    return out


def _summary(ops, by_op, groups) -> dict:
    """Mean per op of self time by layer and of the event-log figures."""
    layer_self = [_layer_self(by_op[op.op_id]) for op in ops]
    layers = sorted({k for d in layer_self for k in d})
    execs = [_op_exec(groups, op.op_id) for op in ops]
    op_s = _mean(op.seconds for op in ops)
    plan_s = _mean(sum(d.get(k, 0.0) for k in PLAN_LAYERS) for d in layer_self)
    return {
        "ops": len(ops),
        "op_s": op_s,
        "self_s": {k: _mean(d.get(k, 0.0) for d in layer_self) for k in layers},
        "plan_build_s": plan_s,
        "plan_build_share": plan_s / op_s if op_s else 0.0,
        "action_s": _mean(sum(d.get(k, 0.0) for k in ACTION_LAYERS) for d in layer_self),
        "exec": {k: _mean(e[k] for e in execs) for k in EXEC_KEYS + ("build_jobs",)},
    }


def report(bench, groups: dict, ops_per_s: float) -> dict:
    """The full per-layer breakdown; ``ops_per_s`` is the run's end-to-end one."""
    spans = bench.tracer.self_times()
    by_op = _spans_by_op(spans)
    warm = [op for op in bench.ops if op.warm and op.ok]
    cold = [op for op in bench.ops if not op.warm and op.ok]
    top = {s["name"]: s["dur"] for s in spans if s["parent"] is None and s["op"] is None}
    loads = [s for s in spans if s["name"] == "catalog.load_table"]
    out = {
        "warm": _summary(warm, by_op, groups),
        "cold": _summary(cold, by_op, groups),
        "traced_ops_per_s": ops_per_s,
        "session": {
            "import_s": top.get("session.import", 0.0),
            "get_spark_s": top.get("session.get_spark", 0.0),
            "first_action_s": top.get("session.first_action", 0.0),
            "setup_jobs": groups.get("setup", {}).get("jobs", 0),
            "cold_pass_s": sum(op.seconds for op in bench.ops if not op.warm),
        },
        "host_factor": statistics.median(op.host for op in bench.ops),
        "catalog": {
            "load_table_cold_s": _mean(s["dur"] for s in loads if s["cold"]),
            "load_table_warm_s": _mean(s["dur"] for s in loads if not s["cold"]),
            "load_table_calls": len(loads),
        },
    }
    if any(op.extra.get("phases") for op in warm):
        out["queries"] = _queries_report(warm, by_op, groups)
    if any("attempts" in op.extra for op in warm):
        out.update(_etl_report(warm, by_op, groups))
    return out


def _queries_report(warm, by_op, groups) -> dict:
    phases = [op.extra["phases"] for op in warm]
    q = {
        f"{name}_ms": _mean(p[name] for p in phases)
        for name in ("analysis", "optimization", "planning")
    }
    q["aqe_off_ops"] = sum(op.extra["aqe_off"] for op in warm)
    q["families"] = {}
    for fam in FAMILIES + ("other",):
        ops = [
            op
            for op in warm
            if (op.key.split("_")[0] == fam)
            or (fam == "other" and op.key.split("_")[0] not in FAMILIES)
        ]
        if ops:
            q["families"][fam] = _summary(ops, by_op, groups)
    return q


def _etl_report(warm, by_op, groups) -> dict:
    sinks: dict[str, list[float]] = defaultdict(list)
    reads, transforms, runs = [], [], []
    written = defaultdict(float)
    loaded = defaultdict(float)
    per_row_by_job = defaultdict(list)
    for op in warm:
        spans = by_op[op.op_id]
        for s in spans:
            if s["name"].startswith("sinks."):
                method = s["name"].split(".", 1)[1]
                sinks[method].append(s["dur"])
        reads.append(sum(s["dur"] for s in spans if s["name"] == "sources.read"))
        transforms.append(
            sum(s["self"] for s in spans if s["name"].startswith("transforms."))
        )
        runs.append(sum(s["dur"] for s in spans if s["name"] == "pipeline.run"))
        if op.extra["target_rows"]:
            per_row = op.extra["target_bytes"] / op.extra["target_rows"]
            per_row_by_job[op.key].append(per_row)
            written[op.key] += _op_exec(groups, op.op_id)["output_bytes"]
            loaded[op.key] += op.rows * per_row
    rows = sum(op.rows for op in warm)
    warm_s = sum(op.seconds for op in warm)
    jdbc = [op for op in warm if op.key == "customer_jdbc"]
    jdbc_s = sum(sinks.get("jdbc_upsert", []))
    return {
        "sources": {"read_s": _mean(reads)},
        "transforms": {"build_s": _mean(transforms)},
        "pipeline": {
            "run_s": _mean(runs),
            "jobs_per_run": _mean(_op_exec(groups, op.op_id)["jobs"] for op in warm),
            "attempts": _mean(op.extra["attempts"] for op in warm),
            "rows_per_s": rows / warm_s if warm_s else 0.0,
        },
        "sinks": {
            **{f"{m}_s": _mean(v) for m, v in sorted(sinks.items())},
            "bytes_written_per_byte_loaded": {
                job: written[job] / loaded[job] for job in sorted(loaded) if loaded[job]
            },
            "target_bytes_per_row": {
                job: _mean(v) for job, v in sorted(per_row_by_job.items())
            },
            "jdbc_rows_per_s": sum(op.rows for op in jdbc) / jdbc_s if jdbc_s else 0.0,
        },
    }


def per_layer_metrics(rep: dict) -> dict:
    """The per-layer metrics both workloads report (BENCHMARK.json per_layer)."""
    warm = rep["warm"]
    ex = warm["exec"]
    values = {
        "session.get_spark_s": (rep["session"]["get_spark_s"], "s"),
        "session.first_action_s": (rep["session"]["first_action_s"], "s"),
        "session.cold_pass_s": (rep["session"]["cold_pass_s"], "s"),
        "catalog.load_table_cold_s": (rep["catalog"]["load_table_cold_s"], "s"),
        "catalog.load_table_warm_s": (rep["catalog"]["load_table_warm_s"], "s"),
        "catalog.build_jobs": (ex["build_jobs"], "count"),
        "plan.build_s": (warm["plan_build_s"], "s"),
        "plan.build_share": (warm["plan_build_share"], "ratio"),
        "exec.action_s": (warm["action_s"], "s"),
        "exec.jobs": (ex["jobs"], "count"),
        "exec.stages": (ex["stages"], "count"),
        "exec.tasks": (ex["tasks"], "count"),
        "exec.executor_run_s": (ex["executor_run_s"], "s"),
        "exec.executor_cpu_s": (ex["executor_cpu_s"], "s"),
        "exec.task_wait_s": (ex["task_wait_s"], "s"),
        "exec.shuffle_read_bytes": (ex["shuffle_read_bytes"], "bytes"),
        "exec.shuffle_write_bytes": (ex["shuffle_write_bytes"], "bytes"),
        "exec.aqe_replans": (ex["aqe_replans"], "count"),
        "trace.ops_per_s": (rep["traced_ops_per_s"], "1/s"),
        "session.peak_rss_mb": (rep["session"]["peak_rss_mb"], "MB"),
        "host.factor": (rep["host_factor"], "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def per_op_counts(bench, groups: dict) -> list[dict]:
    """Counts per op, keyed so that two runs with one seed can be matched."""
    seen: dict[str, int] = defaultdict(int)
    out = []
    for op in bench.ops:
        ident = f"{op.key}@day{op.extra['day']}" if "day" in op.extra else op.key
        seen[ident] += 1
        ex = _op_exec(groups, op.op_id)
        counts = {
            "exec.jobs": ex["jobs"],
            "exec.stages": ex["stages"],
            "exec.tasks": ex["tasks"],
            "catalog.build_jobs": ex["build_jobs"],
            "exec.aqe_replans": ex["aqe_replans"],
            "exec.shuffle_write_bytes": ex["shuffle_write_bytes"],
        }
        if "attempts" in op.extra:
            counts["pipeline.jobs_per_run"] = ex["jobs"]
        out.append({"op": f"{ident}#{seen[ident]}", "ok": op.ok, "counts": counts})
    return out
