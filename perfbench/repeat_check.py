#!/usr/bin/env python3
"""Check that two traced runs of one workload and seed did identical work:
every operator span must have the same shuffle record counts.

    python3 perfbench/run.py --workload pagerank_closeness --seed 3 --seconds 10 --trace 1
    python3 perfbench/run.py --workload pagerank_closeness --seed 3 --seconds 10 --trace 1
    python3 perfbench/repeat_check.py .perfbench/traces/pagerank_closeness-seed3-*.json

Exits 0 when the counters repeat, 1 (listing the differences) when not.
"""

from __future__ import annotations

import json
import sys

from spans import repeat_mismatches


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (json.load(open(p)) for p in argv)
    if (a["workload"], a["seed"]) != (b["workload"], b["seed"]):
        print("traces are of different workloads or seeds", file=sys.stderr)
        return 2
    diffs = repeat_mismatches(a, b)
    for d in diffs:
        print(d)
    if not diffs:
        n = sum(1 for r in a["records"] if r["layer"].startswith("operators"))
        print(f"{n} operator spans: shuffle record counts identical")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
