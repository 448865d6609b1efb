"""Repeat ``run.py`` over seeds and summarise the spread of every metric.

    python3 perfbench/sweep.py --runs 10 [--out perfbench/baseline/HEAD.json]

Run from the repo root. For each workload in ``BENCHMARK.json`` it makes
``--runs`` untraced runs of ``run_seconds``, seeds 1 to ``--runs``, and
reports every end-to-end metric's median, quartiles
(``statistics.quantiles(values, n=4)``) and spread, the quartile
distance as a share of the median, against the metric's bound, plus the
wall time of a whole run. One traced run per workload (seed
``--runs + 1``) adds the per-layer snapshot and the tracing overhead:
that run's end-to-end numbers against the untraced medians.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} trace {trace}: exit {out.returncode}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def summarise(values: list[float], bound: float | None) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    spread = (q3 - q1) / med if med else None
    out = {"median": med, "q1": q1, "q3": q3, "spread": spread, "values": values}
    if bound is not None:
        out["bound"] = bound
        out["steady"] = spread is not None and spread < bound / 3
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    names = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report: dict = {"run_seconds": seconds, "runs": a.runs, "workloads": {}}
    if a.out:
        os.makedirs(os.path.dirname(a.out), exist_ok=True)
    for wl in names:
        rows, details = [], []
        for i in range(a.runs):
            detail, res = run_once(wl, 1 + i, seconds, 0)
            rows.append(res)
            details.append(detail)
            print(wl, 1 + i, res["correct"], res["failed"], detail["host_steal_share"],
                  {k: round(v["value"], 4) for k, v in res["metrics"].items()},
                  flush=True)
        w = {
            "why": detail["why"], "nproc": detail["nproc"], "sf": detail["sf"],
            "versions": detail["versions"], "seconds": seconds,
            "seeds": list(range(1, 1 + a.runs)),
            "correct": all(r["correct"] for r in rows),
            "attempted": sum(r["attempted"] for r in rows),
            "failed": sum(r["failed"] for r in rows),
            "unchecked": detail["unchecked"],
            "tail_queries": detail["tail_queries"],
            "samples_per_query": detail["samples_per_query"],
            "metrics": {
                k: summarise([r["metrics"][k]["value"] for r in rows], bounds.get(k))
                for k in rows[0]["metrics"]
            },
            "peak_rss_mb": summarise([d["peak_rss_mb"] for d in details], None),
            "run_wall_s": summarise([d["run_wall_s"] for d in details], None),
            "host_steal_share": summarise([d["host_steal_share"] for d in details], None),
        }
        seed = 1 + a.runs
        tdetail, tres = run_once(wl, seed, seconds, 1)
        if a.out:
            shutil.copyfile(
                os.path.join(HERE, "_work", f"trace-{wl}.json"),
                os.path.join(os.path.dirname(a.out), f"trace-{wl}.json"),
            )
        w["traced_seed"] = seed
        w["traced_run_wall_s"] = tdetail["run_wall_s"]
        w["trace_overhead"] = {
            k: v / w["metrics"][k]["median"] - 1.0
            for k, v in tdetail["end_to_end_traced"].items()
        }
        w["traced_correct"] = tres["correct"]
        report["workloads"][wl] = w
        for k, m in w["metrics"].items():
            print(f"  {wl} {k}: median {m['median']:.4f} spread {m['spread']:.4f}"
                  f" bound {m.get('bound')} steady {m.get('steady')}", flush=True)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
