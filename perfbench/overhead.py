"""Tracing overhead: run one workload untraced and traced on the same seed
and print, per end-to-end metric, traced minus untraced.

    python3 perfbench/overhead.py --workload lifecycle --seed 1 --seconds 20
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def report(args, trace: int) -> dict:
    cmd = [sys.executable, str(RUN), "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True).stdout.splitlines()
    if not json.loads(out[-1])["correct"]:
        sys.exit(f"{args.workload} --trace {trace}: output checks failed")
    return json.loads(out[-2])["report"]["end_to_end"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    args = ap.parse_args()
    plain, traced = report(args, 0), report(args, 1)
    rows = {k: {"untraced": plain[k], "traced": traced[k], "overhead": traced[k] - plain[k]} for k in plain}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "tracing_overhead": rows}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
