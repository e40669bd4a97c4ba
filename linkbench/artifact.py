"""Traced-run artifact: per workload, one untraced and one traced run on
the same seed, with spans, self times and the tracing overhead.

    python3 linkbench/artifact.py --seed 7 --out linkbench/results/traced_run.json

Run from the root of a checkout.  The tracing overhead of a workload is the
traced ``link_s`` (``trace.link_s``: the call run layer by layer, every
layer's output persisted inside its own span) minus the untraced
``link_s`` of the run on the same seed.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("serve_batches", "cluster_grouped")


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "linkbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    lines = p.stdout.strip().splitlines()
    return {"detail": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--seconds", type=int,
                   default=json.loads((ROOT / "BENCHMARK.json").read_text())
                   ["run_seconds"])
    p.add_argument("--out", default="linkbench/results/traced_run.json")
    args = p.parse_args(argv)
    out = {"seed": args.seed, "seconds": args.seconds,
           "nproc": len(os.sched_getaffinity(0)), "workloads": {}}
    for wl in WORKLOADS:
        untraced = _run(wl, args.seed, args.seconds, 0)
        traced = _run(wl, args.seed, args.seconds, 1)
        spans = json.loads((ROOT / ".linkbench_work" / "traces"
                            / f"{wl}-seed{args.seed}.json").read_text())
        link_s = untraced["detail"]["end_to_end"]["link_s"]
        traced_link_s = traced["detail"]["per_layer"]["trace.link_s"]
        out["workloads"][wl] = {
            "untraced": untraced,
            "traced": traced,
            "tracing_overhead_s": traced_link_s - link_s,
            "spans": spans["spans"],
        }
    dest = ROOT / args.out
    dest.parent.mkdir(parents=True, exist_ok=True)
    dest.write_text(json.dumps(out, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
