#!/usr/bin/env python3
"""Warm-up study: run one workload's op many times on one fresh session
and record each op's wall and CPU seconds, the evidence behind each
workload's fixed ``warmup_ops`` (summarised in ``WARMUP.md``).

    python3 perfbench/warmup.py --workload validate_csv_dirty --seed 1 \\
        --ops 30 --out perfbench/warmup/validate_csv_dirty.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--ops", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    if not run.program_present():
        print("no program to study", file=sys.stderr)
        return 2
    out = os.path.abspath(args.out)
    with run.workspace(args.workload, args.seed) as (wl, _):
        m = run.Measurement()
        sess = run.start_session(wl, m)
        try:
            ops = []
            for i in range(args.ops):
                op = run.run_op(wl, i, sess.pid)
                ops.append({"op": i, "wall_s": round(op.wall, 3),
                            "cpu_s": round(op.cpu, 3), "ok": not op.problems})
                run.log(f"op {i}: wall {op.wall:.3f} s cpu {op.cpu:.3f} s")
        finally:
            sess.stop()
    with open(out, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "warmup_ops": wl.warmup_ops,
                   "timed_ops": wl.timed_ops,
                   "session_start_s": m.sessions[0],
                   "program_setup_s": m.program_setup,
                   "ops": ops}, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
