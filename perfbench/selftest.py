"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

For every workload, untraced and traced: the run exits 0, its last line
carries exactly the metrics BENCHMARK.json names for that mode, each with
its unit, and every answer passes the oracle gate. Then the gate's
negative check: a run whose first answer has its top-2 doc ids swapped
must report that answer as failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "2", "--trace", str(trace), "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        raise AssertionError(f"{cmd} exited {p.returncode}:\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            out = run(w, trace)
            want = {m["name"]: m["unit"] for m in bench[section]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want:
                problems.append(f"{w} trace={trace}: metrics {sorted(set(got) ^ set(want))} "
                                f"or units differ")
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                problems.append(f"{w} trace={trace}: {out['failed']} of "
                                f"{out['attempted']} answers failed the oracle gate")
            print(f"{w} trace={trace}: {len(got)} metrics, "
                  f"{out['attempted']} answers, {out['failed']} failed")
    out = run("serve_multi", 0, "--perturb", "1")
    if out["correct"] or out["failed"] != 1:
        problems.append(f"perturbed answer not caught: {out['failed']} failed")
    print(f"perturbed run: {out['failed']} of {out['attempted']} failed, "
          f"correct={out['correct']}")
    for p in problems:
        print("PROBLEM", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
