#!/usr/bin/env python3
"""Tracing overhead: the traced minus the untraced end-to-end numbers.

    python3 perfbench/overhead.py --workload warm_queries --seed 1 --seconds 20

Runs the workload twice with the same seed, once with ``--trace 0``
and once with ``--trace 1``, and prints one JSON line with each
end-to-end metric of both runs and their difference. The traced run
reports its own end-to-end numbers in its ``report`` line.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(args, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout.strip().splitlines()
    report = json.loads(out[-2])["report"]
    raw = {k: v for k, v in report["raw"].items() if k != "ref_ms"}
    return report["e2e"] | raw


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    args = ap.parse_args()
    plain, traced = _run(args, 0), _run(args, 1)
    print(json.dumps({k: {"untraced": plain[k], "traced": traced[k],
                          "overhead": traced[k] - plain[k]} for k in plain}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
