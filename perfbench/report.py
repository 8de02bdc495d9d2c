"""Summarise the runs recorded under ``.perfbench_work/``.

    python3 perfbench/report.py [workdir]

For each workload: every end-to-end metric's and wall-clock figure's median
over the untraced runs and its spread (distance between the first and third
quartile as a share of the median); then the traced runs' per-layer table:
each layer's share of the operation wall time, the unattributed remainder,
and the tracing overhead (traced pass time minus untraced pass time).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict


def _spread(values: list[float]) -> float:
    if len(values) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("nan")


def main() -> int:
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench_work")
    runs = defaultdict(lambda: {0: [], 1: []})
    for path in sorted(glob.glob(os.path.join(root, "*", "result.json"))):
        with open(path) as f:
            r = json.load(f)
        runs[r["workload"]][r["trace"]].append(r)
    for wl, by_trace in sorted(runs.items()):
        plain, traced = by_trace[0], by_trace[1]
        print(f"== {wl}: {len(plain)} untraced, {len(traced)} traced runs; "
              f"failed {sum(r['failed'] for r in plain + traced)}"
              f"/{sum(r['attempted'] for r in plain + traced)} operations")
        done = [r for r in plain if r["end_to_end"]]
        for kind in ("end_to_end", "recorded"):
            for name in done[0][kind] if done else []:
                vals = [r[kind][name] for r in done]
                print(f"  {kind:<10} {name:<16} median {statistics.median(vals):10.4f}  "
                      f"spread {_spread(vals):6.3f}  n={len(vals)}")
        if traced:
            layers = [r["per_layer"] for r in traced if r["per_layer"]]
            med = {k: statistics.median(m[k] for m in layers) for k in layers[0]}
            print("  share of operation wall time (warm passes; cold pass):")
            for k in sorted(x for x in med if x.startswith("share.")):
                print(f"    {k[6:]:<13} {med[k]:6.3f}   {med.get('cold.' + k, float('nan')):6.3f}")
            if done:
                untraced = statistics.median(r["recorded"]["pass_s"] for r in done)
                print(f"  tracing overhead: {med['trace.pass_s'] - untraced:+.3f} s per pass "
                      f"({med['trace.pass_s']:.3f} traced vs {untraced:.3f} untraced)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
