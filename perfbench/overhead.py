"""Tracing overhead: the end-to-end values of traced runs minus those of
untraced runs of the same workload and seed.

Every run of ``perfbench/run.py`` keeps its end-to-end values under
``.perfbench/results/``; a traced run (``--trace 1``) measures them too.
After running both for some seeds::

    python3 perfbench/run.py --workload batch --seed 1 --seconds 50 --trace 0
    python3 perfbench/run.py --workload batch --seed 1 --seconds 50 --trace 1
    python3 perfbench/overhead.py

prints, per workload and metric, the median over seeds of traced minus
untraced, and that difference as a share of the untraced median.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

RESULTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       ".perfbench", "results")


def main() -> int:
    runs: dict[tuple[str, int, int], dict] = {}
    for path in glob.glob(os.path.join(RESULTS, "*.json")):
        with open(path) as f:
            r = json.load(f)
        runs[(r["workload"], r["seed"], r["trace"])] = {**r["e2e"], **r["named"]}
    diffs: dict[tuple[str, str], list[tuple[float, float]]] = defaultdict(list)
    for (w, seed, tr), vals in runs.items():
        base = runs.get((w, seed, 0))
        if tr == 1 and base is not None:
            for k, v in vals.items():
                diffs[(w, k)].append((v - base[k], base[k]))
    if not diffs:
        print(f"no workload and seed has both a traced and an untraced run in {RESULTS}")
        return 1
    print(f"{'workload':<15} {'metric':<24} {'seeds':>5} {'traced-untraced':>16} {'share':>8}")
    for (w, k), pairs in sorted(diffs.items()):
        d = statistics.median(p[0] for p in pairs)
        base = statistics.median(p[1] for p in pairs)
        share = f"{100 * d / base:+.1f}%" if base else "-"
        print(f"{w:<15} {k:<24} {len(pairs):>5} {d:>16.4g} {share:>8}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
