"""Compare two saved benchmark results.

    python3 enginebench/compare.py BASE.json NEW.json

Both files are result files a run writes to ``enginebench/.work/results``.
Results measured on different core counts are refused: a number from a
4-core machine says nothing about a 32-core one.
"""

from __future__ import annotations

import json
import sys

CORE_KEYS = ("nproc", "spark_graft_cpus")


def comparable(a: dict, b: dict) -> str | None:
    """Why the stamped results ``a`` and ``b`` cannot be compared, or
    None if they can."""
    for k in CORE_KEYS:
        if a["stamp"][k] != b["stamp"][k]:
            return f"{k} differs: {a['stamp'][k]} vs {b['stamp'][k]}"
    if a["workload"] != b["workload"]:
        return f"workloads differ: {a['workload']} vs {b['workload']}"
    return None


def rows(a: dict, b: dict) -> list[tuple[str, float, float, float]]:
    """(metric, base, new, new/base) for every metric both report."""
    ma, mb = a["result"]["metrics"], b["result"]["metrics"]
    out = []
    for k in ma:
        if k in mb:
            x, y = ma[k]["value"], mb[k]["value"]
            out.append((k, x, y, y / x if x else float("nan")))
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as fa, open(argv[1]) as fb:
        a, b = json.load(fa), json.load(fb)
    why = comparable(a, b)
    if why:
        print(f"refusing to compare: {why}", file=sys.stderr)
        return 2
    for k, x, y, r in rows(a, b):
        print(f"{k:45s} {x:14.4f} {y:14.4f} {r:8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
