"""One-core scaling record of the reference word count.

    python3 perfbench/scaling.py --seed 1 --seconds 20

Runs ``run.py --workload wordcount_rawtext`` once at ``local[1]`` and
once at ``local[N]`` (N = the host's core count), each in its own
process, and derives the reference paper's figures from the two median
pass times (BASELINE.md):

    Speedup    = T(1) / T(N)
    Efficiency = Speedup / N
    Karp-Flatt = (1 / Speedup - 1 / N) / (1 - 1 / N)

A reference point for the record, not a gated metric.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def pass_s(cores: int, seed: int, seconds: int) -> float:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "wordcount_rawtext",
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
         "--cores", str(cores)],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout
    result = json.loads(out.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"wordcount_rawtext at local[{cores}] failed its output check")
    return result["metrics"]["pass_s"]["value"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    args = ap.parse_args()
    n = os.cpu_count() or 1
    if n < 2:
        raise SystemExit("scaling needs at least two cores")
    t1 = pass_s(1, args.seed, args.seconds)
    tn = pass_s(n, args.seed, args.seconds)
    speedup = t1 / tn
    print(json.dumps({
        "cores": n, "t1_pass_s": t1, "tn_pass_s": tn, "speedup": speedup,
        "efficiency": speedup / n, "karp_flatt": (1 / speedup - 1 / n) / (1 - 1 / n),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
