"""query_tail: registry queries that each run in well under a second.

An op is one registry builder call followed by ``collect()`` of its result.
The op set is a stratified draw from the frozen pool in ``pool.json``: the
pool is split into equal strata by warm time and one query is drawn from
each, and two more come from the dedup/similarity tail so the operators
layer shows in every run. The draw itself is fixed and ``--seed`` sets the
order the ops run in: with a draw per seed, which queries a seed drew moved
the median op time by more than the host's own noise did.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))
POOL_FILE = os.path.join(HERE, "pool.json")

N_MAIN = 10
N_OPERATORS = 2
# Warm seconds per pass of the 12 ops at local[4], sf0.1, on a 4-core host.
NOMINAL_PASS_S = 9.0
DRAW = "query_tail-set:0"


def _stratified(entries: list, k: int, rng: random.Random) -> list[str]:
    """One name from each of ``k`` equal strata of ``entries`` (sorted by time)."""
    bounds = [round(i * len(entries) / k) for i in range(k + 1)]
    return [entries[rng.randrange(bounds[i], bounds[i + 1])][0] for i in range(k)]


def op_list(seed: int) -> list[str]:
    with open(POOL_FILE) as fh:
        pool = json.load(fh)
    draw = random.Random(DRAW)
    names = _stratified(pool["main"], N_MAIN, draw)
    names += _stratified(pool["operators"], N_OPERATORS, draw)
    random.Random(f"query_tail:{seed}").shuffle(names)
    return names


def canonical_hash(columns: list[str], rows: list, norm) -> str:
    """Order-insensitive digest of a result, normalized like the oracle check."""
    cols = sorted(columns)
    lines = sorted(str(tuple(norm(r[c]) for c in cols)) for r in rows)
    return hashlib.sha1("\n".join([",".join(cols)] + lines).encode()).hexdigest()


class _Collected:
    """A result already collected, shaped like the DataFrame ``compare`` takes."""

    def __init__(self, columns: list[str], rows: list):
        self.columns = columns
        self._rows = rows

    def collect(self) -> list:
        return self._rows


def _phases(df) -> dict[str, float]:
    """Catalyst phase times (ms) from the DataFrame's planning tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        summary = phases.get(name)
        out[name] = float(summary.get().durationMs()) if summary.isDefined() else 0.0
    return out


def setup() -> None:
    """Load the query registry: part of the set-up every process pays."""
    from extract_transform_load_template_multidb_spark.queries import (
        all_oracles,
        all_queries,
    )

    all_queries()
    all_oracles()


def probe_catalog(bench) -> None:
    """Nothing to add: the builders' own ``load_table`` calls are traced."""


def run(bench) -> None:
    from extract_transform_load_template_multidb_spark.queries import (
        all_oracles,
        all_queries,
    )
    from oracle_util import _norm, compare, duck_connection

    names = op_list(bench.seed)
    queries = all_queries()
    oracles = all_oracles()
    spark, tracer = bench.spark, bench.tracer
    results: dict[str, tuple] = {}

    def execute(name: str, op) -> None:
        tracer.job_group(f"{op.op_id}|build")
        with tracer.span("queries.build", op=op.op_id):
            df = queries[name](spark, bench.sf_dir)
        tracer.job_group(f"{op.op_id}|action")
        with tracer.span("exec.action", op=op.op_id):
            rows = df.collect()
        op.rows = len(rows)
        results[op.op_id] = (df.columns, rows)
        if tracer.enabled:
            op.extra["phases"] = _phases(df)
            op.extra["aqe_off"] = (
                spark.conf.get("spark.sql.adaptive.enabled") == "false"
            )

    bench.run_ops([(name, execute) for name in names], NOMINAL_PASS_S)

    # Outside the timed passes: each query's first result against its
    # DuckDB oracle, every later result against that first one.
    con = duck_connection(bench.sf_dir)
    con.execute(f"SET temp_directory='{bench.tmp}/duckdb'")
    con.execute("SET threads=4")
    expected: dict[str, str] = {}
    for op in bench.ops:
        if not op.ok:
            continue
        columns, rows = results.pop(op.op_id)
        digest = canonical_hash(columns, rows, _norm)
        if op.key not in expected:
            try:
                compare(_Collected(columns, rows), con, oracles[op.key])
                expected[op.key] = digest
            except AssertionError as exc:
                expected[op.key] = None
                op.fail(f"oracle mismatch: {exc}")
                continue
        if expected[op.key] is None:
            op.fail("oracle mismatch on first run")
        elif digest != expected[op.key]:
            op.fail("result differs from the first, oracle-checked run")
    con.close()
