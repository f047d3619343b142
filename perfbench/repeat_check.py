"""Exact-repeat self-check: run one workload traced twice with the same
seed and compare the per-call counts (jobs, tasks, codegen compiles) and
the router's path counts. A mismatch means a nondeterministic plan; it is
reported, never averaged.

    python3 perfbench/repeat_check.py --workload vector_serving --seed 1
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def traced_report(workload: str, seed: int) -> dict:
    # a traced run has a fixed call sequence, so --seconds does not apply
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "10", "--trace", "1"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600,
        check=True).stdout.splitlines()
    return next(json.loads(line)["perfbench_report"] for line in out
                if line.startswith('{"perfbench_report"'))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    a = p.parse_args()
    first, second = (traced_report(a.workload, a.seed) for _ in range(2))
    diffs = [(i, x, y) for i, (x, y) in enumerate(
        zip(first["count_signature"], second["count_signature"])) if x != y]
    same_len = len(first["count_signature"]) == len(second["count_signature"])
    same_paths = first.get("router_paths") == second.get("router_paths")
    print(json.dumps({
        "workload": a.workload, "seed": a.seed,
        "calls": [len(first["count_signature"]), len(second["count_signature"])],
        "router_paths": [first.get("router_paths"), second.get("router_paths")],
        "mismatches": diffs[:50],
    }))
    return 0 if same_len and same_paths and not diffs else 1


if __name__ == "__main__":
    sys.exit(main())
