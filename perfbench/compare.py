#!/usr/bin/env python3
"""Compare two stamped benchmark results.

    python3 perfbench/compare.py BASE.json NEW.json

Both files are results ``perfbench/run.py`` saved under
``.perfbench_work/results/``.  Results are comparable only when both
carry a stamp and agree on workload, trace mode, seed and cpus;
anything else, such as the unstamped 32-core ``BENCH_r0*.json``
files, gets "no comparable baseline" and exit code 3.  Otherwise each
metric is printed with its change, and an end-to-end metric that got
worse by more than its ``BENCHMARK.json`` bound is marked REGRESSED
(exit code 1).
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MATCH = ("workload", "trace", "seed", "cpus")


def incomparable(base: dict, new: dict) -> str | None:
    """Why ``base`` cannot serve as the baseline for ``new``, or None."""
    if "stamp" not in base or "stamp" not in new:
        return "a result without a stamp (cpus, seed, workload)"
    for key in MATCH:
        a, b = base["stamp"].get(key), new["stamp"].get(key)
        if a is None or a != b:
            return f"{key} differs: {a!r} vs {b!r}"
    return None


def compare(base: dict, new: dict, bench: dict) -> list[dict]:
    """One row per metric of ``new``: base and new values, the relative
    change towards worse, and whether that exceeds the metric's bound."""
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    rows = []
    for name, cur in new["metrics"].items():
        m = spec.get(name, {})
        old = base["metrics"].get(name, {}).get("value")
        worse = None
        if old:
            sign = 1.0 if m.get("better", "lower") == "lower" else -1.0
            worse = sign * (cur["value"] - old) / abs(old)
        bound = m.get("bound")
        rows.append({
            "name": name, "unit": cur["unit"], "base": old, "new": cur["value"],
            "worse_by": worse,
            "regressed": bound is not None and worse is not None and worse > bound,
        })
    return rows


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (load(p) for p in argv)
    why = incomparable(base, new)
    if why:
        print(f"no comparable baseline: {why}")
        return 3
    rows = compare(base, new, load(os.path.join(ROOT, "BENCHMARK.json")))
    for r in rows:
        change = "" if r["worse_by"] is None else f"{-r['worse_by']:+.1%} better"
        flag = "  REGRESSED" if r["regressed"] else ""
        print(f"{r['name']:40s} {r['base']!s:>14.10} -> {r['new']:<14.6g}"
              f" {r['unit']:10s} {change}{flag}")
    return 1 if any(r["regressed"] for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
