"""Self-test of the benchmark: two traced runs of one workload and seed must
report identical counts (Spark jobs, stages and tasks, crawl counters,
bytes and files written), since a count that moves between identical runs
cannot support a claim.

    python3 perfbench/selftest.py --workload crawl_polite --seed 1

Exits 1 and names each count that differed.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNT_UNITS = ("count", "B")


def traced_metrics(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    a = traced_metrics(args.workload, args.seed)
    b = traced_metrics(args.workload, args.seed)
    counts = [k for k in a if a[k]["unit"] in COUNT_UNITS]
    moved = [k for k in counts if a[k]["value"] != b[k]["value"]]
    for k in moved:
        print("moved %s: %r vs %r" % (k, a[k]["value"], b[k]["value"]))
    print("%d of %d counts repeated exactly" % (len(counts) - len(moved), len(counts)))
    return 1 if moved else 0


if __name__ == "__main__":
    raise SystemExit(main())
