"""Compare two sets of benchmark records.

    python3 perfbench/compare.py BEFORE_DIR AFTER_DIR

Each directory holds the per-run records run.py writes to
``.perfbench/out/`` (copy them aside between commits). Runs of one
workload and seed must have been given the same inputs: when their input
fingerprints differ (a change to synth.py or flatten.py, say), the
comparison is refused, because the difference would be in the inputs,
not in the speed.

For each workload and end-to-end metric it prints both sides' median and
quartiles, the change of the medians, and whether that change is worse
than the metric's bound in BENCHMARK.json.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(d: str) -> list:
    out = []
    for path in sorted(glob.glob(os.path.join(d, "*-trace0.json"))):
        with open(path) as fh:
            out.append(json.load(fh))
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main(argv) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    before, after = load(argv[0]), load(argv[1])
    key = lambda r: (r["workload"], r["seed"], r["size"], r["seconds"])  # noqa: E731
    fps = {key(r): r["fingerprint"] for r in before}
    after_fps = {key(r): r["fingerprint"] for r in after}
    changed = sorted(k for k in after_fps if k in fps and fps[k] != after_fps[k])
    if changed:
        print("refused: input fingerprints differ for", changed, file=sys.stderr)
        return 3
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in sorted({r["workload"] for r in before} & {r["workload"] for r in after}):
        print(f"== {w}")
        for m in bench["end_to_end"]:
            b = [r["metrics"][m["name"]]["value"] for r in before if r["workload"] == w]
            a = [r["metrics"][m["name"]]["value"] for r in after if r["workload"] == w]
            (b1, b2, b3), (a1, a2, a3) = quartiles(b), quartiles(a)
            change = (a2 - b2) / b2 if b2 else 0.0
            worse = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
            print(f"{m['name']:28s} before {b2:.4g} [{b1:.4g}, {b3:.4g}] (n={len(b)})  "
                  f"after {a2:.4g} [{a1:.4g}, {a3:.4g}] (n={len(a)})  "
                  f"{100 * change:+.1f}% {'WORSE THAN BOUND' if worse else ''}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
