"""Self-test of the benchmark's seeded inputs.

    python3 perfbench/selftest.py            # check
    python3 perfbench/selftest.py --freeze   # rewrite golden.json

Checks that one seed always gives the same query_tail op list, the same
etl_daily_load dates and the same customer deltas, and that these match the
frozen copies in ``golden.json``; and that every pool query is registered and
has a DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GOLDEN = os.path.join(HERE, "golden.json")
SEEDS = (1, 2, 3)
DELTA_DAYS = (1, 2, 3)

sys.path[:0] = [HERE, ROOT]

import etl_daily_load  # noqa: E402
import query_tail  # noqa: E402


def _inputs() -> dict:
    import pyarrow.parquet as pq

    from extract_transform_load_template_multidb_spark.catalog import DEFAULT_SF_DIR

    customer = os.path.join(DEFAULT_SF_DIR, "customer.parquet")
    top = max(pq.read_table(customer, columns=["c_custkey"])["c_custkey"].to_pylist())
    orders = pq.read_table(
        os.path.join(DEFAULT_SF_DIR, "orders.parquet"), columns=["o_custkey", "o_orderdate"]
    )
    out = {}
    for seed in SEEDS:
        dates = etl_daily_load.days(seed)
        deltas = [
            etl_daily_load.delta_rows(
                seed, d, etl_daily_load.active_customers(orders, dates[d - 1]), top
            )
            for d in DELTA_DAYS
        ]
        out[str(seed)] = {
            "query_tail": query_tail.op_list(seed),
            "etl_days": [etl_daily_load.days(seed)[i].date().isoformat() for i in (0, -1)],
            "etl_deltas_sha1": hashlib.sha1(repr(deltas).encode()).hexdigest(),
        }
    return out


def main(argv: list[str]) -> int:
    first, second = _inputs(), _inputs()
    errors = []
    if first != second:
        errors.append("the same seed gave different inputs on two calls")
    if "--freeze" in argv:
        with open(GOLDEN, "w") as fh:
            json.dump(first, fh, indent=1, sort_keys=True)
            fh.write("\n")
    else:
        with open(GOLDEN) as fh:
            golden = json.load(fh)
        for seed, want in golden.items():
            for k, v in want.items():
                if first[seed][k] != v:
                    errors.append(f"seed {seed}: {k} differs from golden.json")

    from extract_transform_load_template_multidb_spark.queries import (
        all_oracles,
        all_queries,
    )

    queries, oracles = all_queries(), all_oracles()
    with open(query_tail.POOL_FILE) as fh:
        pool = json.load(fh)
    for part in ("main", "operators"):
        for name, _ in pool[part]:
            if name not in queries or name not in oracles:
                errors.append(f"pool query {name} has no builder or no oracle")
    for e in errors:
        print("FAIL:", e)
    print("selftest:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
