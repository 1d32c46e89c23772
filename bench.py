"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``

Queries are timed end-to-end (plan build + execution to a count/collect of
the result), after a warm-up action that pays the one-time session and
parquet-footer costs. Each query is run $SPARK_GRAFT_BENCH_REPEATS times
(default 2) and the per-query MINIMUM is reported — this host is a shared
VM with multi-x CPU-steal bursts (the same plan has been observed at 10 s
and 150 s minutes apart with the machine otherwise idle), and min-of-N is
the standard way to measure the engine rather than the neighbors.

BENCH_DETAIL.json is MERGED across sweeps, never overwritten: per-query
minima are folded into the existing artifact (same sf only), raw repeat
arrays accumulate (last 12 kept), and a ``runs`` counter records how many
sweeps contributed. Re-running the bench therefore yields monotonically
non-increasing per-query values — UNLESS the query's physical plan
changed: each entry carries a fingerprint of its normalized formatted
physical plan, captured pre-execution, and a prior min whose fingerprint
no longer matches the current plan is dropped automatically before the
merge (round-11 verdict: the min-merge protocol must never let a stale
fast min mask a plan regression). ``SPARK_GRAFT_BENCH_FRESH=1`` starts a
new artifact; ``SPARK_GRAFT_BENCH_INVALIDATE=a,b`` remains as a manual
override for non-plan changes (e.g. Python-side constant factors the
plan string can't see).

Stdout contract (round-12 verdict: the driver needs THIS-run numbers —
merged-minima on stdout poisoned the round-11 scaling comparison with
historical 32-core times): the one-line JSON reports THIS sweep —
``value`` IS ``this_sweep_total`` (the sum of this run's per-query
times, protocol-stable round-over-round) and ``queries`` holds THIS
run's per-query times. The merged best-ever composite survives as
``merged_value`` on the same line (clearly labeled; the old cross-round
record) and the full merged per-query minima live only in
BENCH_DETAIL.json. On SPARK_GRAFT_ONLY subsets ``value`` is the sum of
the timed subset only.

Core-count profiles don't share minima: the detail artifact records the
``cpus`` it was measured at, and a sweep at a different
``$SPARK_GRAFT_CPUS`` is merged into its own per-profile file
(``BENCH_DETAIL_c<cpus>.json``) instead — so a driver scaling run at 8
cores can never re-report 32-core records (round-11 PERF artifact).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from extract_transform_load_template_multidb_spark.queries import all_queries
from extract_transform_load_template_multidb_spark.session import get_spark

# Every registered query is benched, in registry order, so the
# 2×-of-DuckDB-baseline bar is audited registry-wide.
HEADLINE = list(all_queries())


# Bumped whenever _normalize_plan changes: stored fingerprints from an
# older normalizer aren't comparable to freshly-computed ones, so the
# merge re-grandfathers every entry (keeps the minima, records current
# fingerprints) instead of misreading the normalizer change as 571
# simultaneous plan changes and wiping the record.
FP_VERSION = 4


def _normalize_plan(s: str) -> str:
    """Strip session-varying tokens from a formatted plan string.

    Normalized out: expression IDs (``#123`` — monotonic per session),
    plan/subquery IDs, JVM object addresses, RDD ids and call-site
    strings in ``Scan ExistingRDD`` nodes (``MapPartitionsRDD[95] at
    localCheckpoint at NativeMethodAccessorImpl.java:0`` — the counter
    is session-global and AQE-nondeterministic, and the call-site frame
    flips to ``<unknown>`` once the JVM inflates the reflective call),
    and /tmp scratch paths (roundtrip queries re-read from a fresh
    ``mkdtemp`` dir every run).

    Each line is then canonicalized to its SORTED token bag:
    Catalyst's RewriteDistinctAggregates (and friends) order Expand
    arms / grouping keys by expression-id hash, so the same code
    permutes column lists within a line between sessions
    (``Keys [3]: [c#, r#, gid#]`` vs ``[r#, c#, gid#]``). Sorting
    tokens per line erases permutation while keeping what a plan
    change alters: the operator sequence (line order is preserved),
    exchange/join-strategy nodes, pushed filters, read schemas,
    partition counts.
    """
    s = re.sub(r"#\d+", "#", s)
    s = re.sub(r"plan_id=\d+", "plan_id=", s)
    s = re.sub(r"\[id=\d+\]", "[id=]", s)
    s = re.sub(r"@[0-9a-fA-F]{6,}", "@", s)
    s = re.sub(r"RDD\[\d*\] at \w+ at [^,]*", "RDD[] at", s)
    s = re.sub(r"RDD\[\d+\]", "RDD[]", s)
    s = re.sub(r"(file:)?/tmp/[^\s,\]\)]*", "file:/tmp/", s)
    return "\n".join(
        " ".join(sorted(re.sub(r"[\[\](),]", " ", line).split()))
        for line in s.splitlines()
    ).strip("\n")


def plan_fingerprint(df) -> str:
    """Stable hash of the query's formatted physical plan.

    Captured on the freshly-built (pre-execution) DataFrame so AQE
    runtime re-planning (`isFinalPlan=true` specifics, coalesced
    partition specs) can't make the same code fingerprint differently
    between sweeps; ``_normalize_plan`` strips session-varying tokens.
    """
    qe = df._jdf.queryExecution()
    s = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
    s = _normalize_plan(s)
    dump_dir = os.environ.get("SPARK_GRAFT_BENCH_DUMP_PLANS", "")
    if dump_dir:
        os.makedirs(dump_dir, exist_ok=True)
        name = getattr(plan_fingerprint, "_dump_name", "plan")
        with open(os.path.join(dump_dir, name + ".txt"), "w") as fh:
            fh.write(s)
    return hashlib.sha256(s.encode()).hexdigest()[:16]


def merge_detail(
    prior: dict,
    timings: dict[str, float],
    raw: dict[str, list[float]],
    fps: dict[str, str],
    known: set[str],
    manual_invalid: set[str],
) -> tuple[dict, dict, dict, list[str]]:
    """Fold this sweep's (timings, raw, fps) into a prior detail artifact.

    Returns (merged_queries, merged_repeats, merged_fingerprints,
    invalidated_by_plan_change). Pure so tests can drive the reset path
    without a Spark session: a prior min whose stored fingerprint
    differs from this sweep's is DROPPED (the plan it measured no
    longer exists); entries with no stored fingerprint are
    grandfathered once and fingerprinted now.
    """
    prior_fp = prior.get("fingerprints") or {}
    plan_changed = sorted(
        n for n in fps if n in prior_fp and prior_fp[n] != fps[n]
    )
    invalid = manual_invalid | set(plan_changed)
    prior_q = {
        n: v
        for n, v in (prior.get("queries") or {}).items()
        if n in known and n not in invalid
    }
    prior_raw = {
        n: v
        for n, v in (prior.get("repeats") or {}).items()
        if n in known and n not in invalid
    }
    merged_q = dict(prior_q)
    merged_raw = {n: list(v) for n, v in prior_raw.items()}
    merged_fp = {
        n: v for n, v in prior_fp.items() if n in known and n not in invalid
    }
    for name, t in timings.items():
        merged_q[name] = min(t, prior_q.get(name, t))
        merged_raw[name] = (merged_raw.get(name, []) + raw[name])[-12:]
    merged_fp.update(fps)
    return merged_q, merged_raw, merged_fp, plan_changed


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="etl-multidb-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    # Warm up: JVM, parquet footers, codegen.
    qs["q1_pricing_summary"](spark, sf_dir).count()

    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))
    # SPARK_GRAFT_ONLY="a,b,c" restricts the sweep to a comma-separated
    # subset of HEADLINE — for targeted re-timing of individual queries
    # (e.g. adjudicating a host-noise burst) without the full sweep.
    only_env = os.environ.get("SPARK_GRAFT_ONLY", "").strip()
    only = {n for n in only_env.split(",") if n} if only_env else None
    timings: dict[str, float] = {}
    raw: dict[str, list[float]] = {}
    fps: dict[str, str] = {}
    for name in HEADLINE:
        if only is not None and name not in only:
            continue
        runs = []
        for i in range(max(1, repeats)):
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            if i == 0:
                # Fingerprint the pre-execution plan of the first repeat
                # (plan build is already paid inside the timed region;
                # the explain string itself is driver-side and cheap).
                plan_fingerprint._dump_name = name
                fps[name] = plan_fingerprint(df)
            n = df.count()
            runs.append(round(time.perf_counter() - t0, 4))
            assert n >= 0
        # Per-repeat raw times ship alongside the min so host-noise bursts
        # (documented in BASELINE.md) are adjudicable from the artifact
        # itself — a wide spread with a tight min is noise, not a plan
        # regression.
        raw[name] = runs
        timings[name] = min(runs)
    total = round(sum(timings.values()), 4)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Full per-query minima + raw per-repeat arrays go to a detail file on
    # disk (committed per round); stdout gets ONE compact final line. The
    # driver's stdout capture keeps only the last ~2000 characters, so the
    # round-5 14 KB single-line output came back unparseable ("parsed":
    # null). Budget the line: per-query entries are added slowest-first
    # until ~1800 chars, the rest collapse into an "other" bucket whose
    # count and summed seconds keep the total reconcilable.
    # Subset runs (SPARK_GRAFT_ONLY) go to a separate detail file so a
    # targeted re-timing never overwrites the committed full-sweep record.
    # The canonical closing record is the sf0.1 full sweep; full sweeps at
    # any other sf get their own per-sf artifact so a verification run at
    # sf0.01 can never displace the committed sf0.1 record.
    if only is not None:
        detail_name = "BENCH_DETAIL_SUBSET.json"
    elif sf_val == 0.1:
        detail_name = "BENCH_DETAIL.json"
    else:
        detail_name = f"BENCH_DETAIL_sf{sf}.json"
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(repo_dir, detail_name)
    # Per-core-count profiles (round-12 verdict): minima measured at one
    # core count must never be re-reported at another. If the artifact on
    # disk records a different cpus than this session's, redirect the
    # whole merge to a per-profile file instead.
    cpus = spark.sparkContext.defaultParallelism
    try:
        with open(detail_path) as fh:
            _prior_probe = json.load(fh)
    except (OSError, ValueError):
        _prior_probe = {}
    # Artifacts committed before round 12 carry no "cpus" key; every one
    # of them was measured at the 32-core canonical profile (BENCH_r*.json
    # record "cpus": 32 for all prior rounds), so missing is grandfathered
    # as 32 rather than silently adopted by whatever profile runs first.
    prior_cpus = _prior_probe.get("cpus", 32 if _prior_probe else None)
    if prior_cpus not in (None, cpus):
        detail_name = detail_name.replace(".json", f"_c{cpus}.json")
        detail_path = os.path.join(repo_dir, detail_name)
    # MERGE, don't overwrite: a single sweep on this host can burst 2-15x
    # on unchanged code (documented in BASELINE.md), so the committed
    # artifact keeps the per-query MINIMUM across sweeps and accumulates
    # the raw per-repeat arrays (capped) plus a run counter. One noisy
    # sweep can therefore never clobber an adjudicated quiet record.
    # Controls:
    #   SPARK_GRAFT_BENCH_FRESH=1          start a new artifact (ignore old)
    #   SPARK_GRAFT_BENCH_INVALIDATE=a,b   reset named queries before the
    #                                      merge (use after a plan change,
    #                                      so a stale fast min can't mask a
    #                                      regression)
    prior: dict = {}
    if os.environ.get("SPARK_GRAFT_BENCH_FRESH", "") != "1":
        try:
            with open(detail_path) as fh:
                prior = json.load(fh)
        except (OSError, ValueError):
            prior = {}
    if prior.get("sf") != sf_val:
        prior = {}  # different scale factor: minima aren't comparable
    if prior.get("fp_version") != FP_VERSION:
        # Stored fingerprints were produced by an older normalizer —
        # not comparable to this sweep's. Drop THEM (not the minima):
        # every entry re-grandfathers once under the current
        # normalizer, exactly like a pre-fingerprint legacy artifact.
        prior = {k: v for k, v in prior.items() if k != "fingerprints"}
    invalid = {
        n
        for n in os.environ.get("SPARK_GRAFT_BENCH_INVALIDATE", "").split(",")
        if n
    }
    # Auto-invalidation (round-11 verdict): a prior min is only
    # comparable while the query still produces the same physical plan —
    # merge_detail drops any entry whose stored fingerprint differs from
    # the one captured THIS sweep. Legacy entries with no stored
    # fingerprint are grandfathered once (kept, fingerprint recorded
    # now); from then on the reset is automatic.
    merged_q, merged_raw, merged_fp, plan_changed = merge_detail(
        prior, timings, raw, fps, set(qs), invalid
    )
    merged_total = round(sum(merged_q.values()), 4)
    # Protocol-stable per-sweep total: the sum of THIS run's per-query
    # times over the full registry — comparable round-over-round no
    # matter how many sweeps fed the merged record. This IS the stdout
    # ``value`` (round-12 verdict); the merged best-ever composite rides
    # along as ``merged_value``.
    sweep_total = round(sum(timings.values()), 4)
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "metric": "headline_queries_total_wall",
                "value": merged_total,
                "unit": "sec",
                "merged_value": merged_total,
                "this_sweep_total": sweep_total if only is None else None,
                "runs": int(prior.get("runs") or 0) + 1,
                "cpus": cpus,
                "invalidated_by_plan_change": plan_changed,
                "queries": merged_q,
                "this_sweep_queries": timings,
                "repeats": merged_raw,
                "fingerprints": merged_fp,
                "fp_version": FP_VERSION,
                "sf": sf_val,
            },
            fh,
            indent=1,
        )

    def _line(qmap: dict) -> str:
        return json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": sweep_total,
                "unit": "sec",
                "this_sweep_total": sweep_total if only is None else None,
                "merged_value": merged_total,
                "n_queries": len(timings),
                "runs": int(prior.get("runs") or 0) + 1,
                "cpus": cpus,
                "detail": detail_name,
                "queries": qmap,
                "sf": sf_val,
            },
            separators=(",", ":"),
        )

    compact: dict[str, float] = {}
    rest_n, rest_sum = 0, 0.0
    for name in sorted(timings, key=timings.get, reverse=True):
        candidate = dict(compact)
        candidate[name] = round(timings[name], 3)
        if len(_line(candidate)) > 1800:
            rest_n += 1
            rest_sum += timings[name]
        else:
            compact = candidate
    if rest_n:
        compact[f"other_{rest_n}_queries"] = round(rest_sum, 3)
    sys.stdout.flush()
    print(_line(compact), flush=True)


if __name__ == "__main__":
    main()
