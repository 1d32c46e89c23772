"""Which per-op counts repeat exactly between two traced runs of one seed.

    python3 perfbench/run.py --workload W --seed S --seconds N --trace 1 --trace-out a.json
    python3 perfbench/run.py --workload W --seed S --seconds N --trace 1 --trace-out b.json
    python3 perfbench/counts_diff.py a.json b.json

Ops are matched by query name (or ETL job and day) and occurrence, so only
ops both runs reached are compared. A count that differs on any matched op
does not repeat, and a later change may not claim it.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict


def main(a_path: str, b_path: str) -> int:
    with open(a_path) as fh:
        a = json.load(fh)
    with open(b_path) as fh:
        b = json.load(fh)
    if (a["workload"], a["seed"]) != (b["workload"], b["seed"]):
        print("the two runs differ in workload or seed")
        return 2
    b_ops = {o["op"]: o for o in b["counts"] if o["ok"]}
    same: dict[str, int] = defaultdict(int)
    differ: dict[str, list[str]] = defaultdict(list)
    for o in a["counts"]:
        other = b_ops.get(o["op"])
        if not o["ok"] or other is None:
            continue
        for name, value in o["counts"].items():
            if other["counts"][name] == value:
                same[name] += 1
            else:
                differ[name].append(f"{o['op']}: {value} vs {other['counts'][name]}")
    print(f"{a['workload']} seed {a['seed']}")
    for name in sorted(set(same) | set(differ)):
        verdict = "repeats" if not differ[name] else "varies"
        n = same[name] + len(differ[name])
        print(f"  {name:24s} {verdict:8s} {same[name]}/{n} ops equal")
        for line in differ[name][:5]:
            print(f"      {line}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: counts_diff.py A.json B.json")
    sys.exit(main(sys.argv[1], sys.argv[2]))
