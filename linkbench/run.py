"""Linkage benchmark: one workload per run, closed loop, one client.

    python3 linkbench/run.py --workload serve_batches --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout of the repository.  The run starts a Spark
session sized to the host, generates its inputs from ``--seed``, sets up
(fit and warm-up calls), then makes calls one after another for
``--seconds`` seconds (at least ``MIN_CALLS``), checks every output against
the generator's ground truth and prints, as its last stdout line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones of ``BENCHMARK.json``;
with ``--trace 1`` they are the per-layer ones, and the spans are written
to ``.linkbench_work/traces/``.  The line before it holds the full result:
launch settings, load average, per-call times and sample counts.

Exit code 0 when every call passed its checks, 1 when one failed, 2 when
the checkout holds no ``name_matching_spark`` package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
# calls made even when --seconds has run out; a traced call runs twice
MIN_CALLS = {False: 2, True: 1}

# unit of every metric; BENCHMARK.json lists the same names
END_TO_END = {"link_s": "s", "setup_s": "s", "match_f1": "ratio",
              "cluster_f1": "ratio", "ok_ratio": "ratio", "fit_mb": "MB"}
PER_LAYER = {
    "functions.busy_s": "s", "functions.rows": "count",
    "tfidf.busy_s": "s",
    "blocking.busy_s": "s", "blocking.task_s": "s", "blocking.jobs": "count",
    "blocking.shuffle_mb": "MB", "blocking.candidates": "count",
    "blocking.recall": "ratio",
    "scoring.busy_s": "s", "scoring.pairs": "count",
    "scoring.task_us_per_pair": "us", "scoring.useful_ratio": "ratio",
    "ranking.busy_s": "s",
    "cluster.busy_s": "s", "cluster.jobs": "count",
    "cluster.components": "count",
    "fit.busy_s": "s", "fit.jobs": "count", "fit.mb": "MB",
    "pipeline.jobs": "count", "pipeline.idle_s": "s",
    "sink.busy_s": "s", "sink.rows": "count",
    "spark.gc_s": "s",
    "trace.link_s": "s",
}


def _per_layer(raw: dict) -> dict:
    out = {k: raw[k] for k in PER_LAYER if k in raw}
    pairs = raw["scoring.pairs"]
    out["scoring.task_us_per_pair"] = raw["scoring.task_s"] / pairs * 1e6
    out["scoring.useful_ratio"] = raw["ranking.accepted"] / pairs
    return out


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    sys.path.insert(0, str(ROOT))
    import launch
    from spans import Tracer
    from workloads import MAX_CALLS, WORKLOADS

    work = ROOT / ".linkbench_work" / f"{workload}-{seed}-{os.getpid()}"
    settings = launch.host_settings(work)
    tracer = Tracer() if traced else None
    t0 = time.perf_counter()
    spark = launch.start_spark(ROOT, settings)
    try:
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[workload](spark, work, seed, tracer)
        t = time.perf_counter()
        wl.setup()
        setup_s = session_s + time.perf_counter() - t
        t = time.perf_counter()
        i = 0
        while i < MAX_CALLS and (i < MIN_CALLS[traced]
                                 or time.perf_counter() - t < seconds):
            wl.run_call(i)
            i += 1
        measured_s = time.perf_counter() - t
        checked = wl.finish()
        layers = wl.layer_metrics() if traced else {}
    finally:
        launch.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for c in wl.calls if not c["ok"] or c["violations"])
    times = [c["link_s"] for c in wl.calls if "link_s" in c]
    e2e = dict(checked, setup_s=setup_s,
               link_s=statistics.median(times) if times else 0.0,
               ok_ratio=1.0 - failed / len(wl.calls))
    result = {
        "workload": workload, "seed": seed, "traced": traced,
        "settings": dict(settings, local_dir=os.path.relpath(
            settings["local_dir"], ROOT)),
        "loadavg_1m": os.getloadavg()[0],
        "session_s": session_s, "measured_s": measured_s,
        "n_calls": len(wl.calls), "link_s_samples": times,
        "violations": {c["i"]: c["violations"] for c in wl.calls
                       if c["violations"]},
        "end_to_end": e2e,
    }
    if traced:
        result["per_layer"] = _per_layer(layers)
        result["spans"] = tracer.dump()
        out = ROOT / ".linkbench_work" / "traces"
        out.mkdir(parents=True, exist_ok=True)
        (out / f"{workload}-seed{seed}.json").write_text(
            json.dumps(result, indent=1))
    result["attempted"], result["failed"] = len(wl.calls), failed
    return result


def summary(result: dict) -> dict:
    """The summary object printed as the last line."""
    if result["traced"]:
        metrics = {k: {"value": v, "unit": PER_LAYER[k]}
                   for k, v in result["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in result["end_to_end"].items()}
    return {"correct": result["failed"] == 0,
            "attempted": result["attempted"], "failed": result["failed"],
            "metrics": metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["serve_batches", "cluster_grouped"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not (ROOT / "name_matching_spark" / "pipeline.py").is_file():
        print(f"no name_matching_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    line = summary(result)
    print(json.dumps({k: v for k, v in result.items() if k != "spans"}))
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
