#!/usr/bin/env python3
"""Tracing overhead: traced minus untraced end-to-end metrics.

    python3 perfbench/run.py --workload pos_cdc --seed 7 --seconds 10 --trace 0 --out OUT
    python3 perfbench/run.py --workload pos_cdc --seed 7 --seconds 10 --trace 1 --out OUT
    python3 perfbench/overhead.py OUT

Pairs every ``<workload>-seed<n>-trace0.json`` in OUT with its ``trace1``
twin and prints, per workload and metric, the untraced value, the traced
value and their difference (absolute and as a share of the untraced one):
for each pair, and for the medians over the workload's pairs. One pair is
within run-to-run noise; run several seeds per workload.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def _line(name: str, base: float, traced: float) -> str:
    diff = traced - base
    return (f"  {name:18s} untraced={base:.4g} traced={traced:.4g} "
            f"overhead={diff:+.4g} ({diff / base:+.1%})")


def main(out_dir: str) -> int:
    pairs: dict[str, list[tuple[dict, dict]]] = {}
    for untraced in sorted(glob.glob(os.path.join(out_dir, "*-trace0.json"))):
        traced = untraced[: -len("trace0.json")] + "trace1.json"
        if not os.path.exists(traced):
            continue
        with open(untraced) as f:
            a = json.load(f)
        with open(traced) as f:
            b = json.load(f)
        pairs.setdefault(a["workload"], []).append((a, b))
    if not pairs:
        print(f"no trace0/trace1 result pairs in {out_dir}", file=sys.stderr)
        return 1
    for workload, runs in sorted(pairs.items()):
        for a, b in runs:
            print(f"{workload} seed={a['seed']}")
            for name, base in a["end_to_end"].items():
                print(_line(name, base, b["end_to_end"][name]))
        print(f"{workload} median over {len(runs)} pairs")
        for name in runs[0][0]["end_to_end"]:
            print(_line(name, statistics.median(a["end_to_end"][name] for a, _ in runs),
                        statistics.median(b["end_to_end"][name] for _, b in runs)))
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    sys.exit(main(sys.argv[1]))
