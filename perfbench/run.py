"""The repo benchmark: one closed-loop workload run, printed as metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repo root. It generates the inputs (once per checkout, under
``perfbench/_work``), starts ``client.py`` in its own process group with
``SPARK_GRAFT_CPUS`` at half of ``nproc`` and the default ``fresh``
artifact cache, and prints, as the last line of stdout, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. The line
before it carries provenance and detail (seed, nproc, Spark cores, SF,
versions, the ``unchecked`` queries, the tail percentile and its sample
count).

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark event log, job groups and a streaming listener, and reports the
per-layer metrics instead, after checking that every op's layers add up
to its wall time. The traced run also writes its full per-layer snapshot
to ``perfbench/_work/trace-<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import attribution  # noqa: E402
import datagen  # noqa: E402
import workloads  # noqa: E402

SF = 0.01
CHILD_TIMEOUT_S = 150


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    return ap.parse_args()


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _reap(proc: subprocess.Popen) -> None:
    """Wait for the client's process group (the JVM, Python workers) to
    exit; stop whatever is still running after a grace period."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while _group_alive(proc.pid) and time.time() < deadline:
            time.sleep(0.1)
        if not _group_alive(proc.pid):
            break
    proc.wait()


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's non-idle CPU time that the hypervisor gave to
    other guests (steal) between two /proc/stat readings. It is the
    neighbours' load, which slows every metric of a run at once."""
    d = [b - a for a, b in zip(before, after)]
    wanted = sum(d) - d[3] - d[4]  # all but idle and iowait
    return d[7] / wanted if wanted > 0 else 0.0


def _versions(env: dict) -> dict:
    from importlib.metadata import version

    out = subprocess.run(["java", "-version"], capture_output=True, text=True, env=env)
    java = [
        line for line in (out.stderr or out.stdout).splitlines()
        if not line.startswith("Picked up")
    ]
    return {
        "python": sys.version.split()[0],
        "pyspark": version("pyspark"),
        "java": java[0] if java else "unknown",
    }


def end_to_end(rec: dict) -> tuple[dict, dict]:
    steady = [o for o in rec["ops"] if o["pass"] > 0 and "error" not in o]
    # Latency is taken per query first (the median of its steady ops), then
    # across the mix. A percentile over the raw ops of a mix of a few
    # queries lands on whichever query's level its rank falls into, and
    # jumps between levels from run to run; a percentile of per-query
    # medians moves only as fast as the queries themselves.
    by_query: dict[str, list[float]] = {}
    for o in steady:
        by_query.setdefault(o["name"], []).append(o["wall_s"])
    per_query = {q: statistics.median(v) for q, v in by_query.items()}
    ranked = sorted(per_query, key=per_query.get)
    tail = ranked[-max(1, len(ranked) // 3):]
    rss = rec["rss_mb"]
    metrics = {
        "setup_s": (rec["setup"]["total_s"], "s"),
        "cold_mix_s": (rec["pass_s"][0], "s"),
        # One pass's ops over the median steady pass time, so that one pass
        # slowed by a neighbour on the host does not set the figure.
        "throughput_qps": (
            len(rec["ops"]) / len(rec["pass_s"]) / statistics.median(rec["pass_s"][1:]),
            "1/s",
        ),
        "latency_p50_s": (statistics.median(per_query.values()), "s"),
        "latency_tail_s": (statistics.fmean(per_query[q] for q in tail), "s"),
    }
    # The raw-op percentiles, for reference: the median and the highest
    # percentile with at least 10 samples beyond it.
    lat = sorted(o["wall_s"] for o in steady)
    tail_i = max(0, len(lat) - 11)
    detail = {
        "latency_ops_s": {
            "p50": round(statistics.median(lat), 4),
            "tail": round(lat[tail_i], 4),
            "tail_percentile": round(100.0 * (tail_i + 1) / len(lat), 2),
            "samples": len(lat),
        },
        "latency_per_query_s": {q: round(per_query[q], 4) for q in ranked},
        "tail_queries": tail,
        "samples_per_query": min(len(v) for v in by_query.values()),
        "steady_passes": len(rec["pass_s"]) - 1,
        # Peak RSS of this process plus the JVM. Reported, not bounded: the
        # JVM heap's high-water mark swings by a quarter between runs.
        "peak_rss_mb": round(rss["python"] + rss["jvm"], 1),
        "peak_rss_parts_mb": {k: round(v, 1) for k, v in rss.items()},
    }
    return metrics, detail


def per_layer(rec: dict, cores: int) -> tuple[dict, dict]:
    lay = rec["layers"]
    steady = [o for o in lay["per_op"] if o["pass"] > 0]
    passes = max(1, len(rec["pass_s"]) - 1)
    wall = sum(o["wall_s"] for o in steady)

    def per_pass(key: str, scale: float = 1.0) -> float:
        return sum(o[key] for o in steady) * scale / passes

    def per_op(key: str) -> float:
        return sum(o[key] for o in steady) / max(1, len(steady))

    setup = rec["setup"]
    mb = 1.0 / 2**20
    m = {
        "session.import_s": (rec["import_s"], "s"),
        "session.start_s": (setup["session_s"], "s"),
        "session.warmup_s": (setup["warmup_s"], "s"),
        "memos.build_s": (sum(setup["builds"].values()), "s"),
        "memos.jobs": (lay["memo_jobs"], "count"),
        "memos.failed": (len(setup["failed"]), "count"),
        "cache.artifact_mb": (rec["cache_mb"], "MB"),
        "queries.construct_s": (per_pass("construct_s"), "s"),
        "queries.construct_p50_s": (
            statistics.median(o["construct_s"] for o in steady), "s"),
        "queries.construct_share": (per_pass("construct_s") * passes / wall, "ratio"),
        "queries.construct_jobs": (per_op("construct_jobs"), "count"),
        "queries.eager_ops": (
            sum(1 for o in steady if o["construct_jobs"]) / passes, "count"),
        "streaming.batches": (per_pass("batches"), "count"),
        "streaming.state_rows": (per_pass("state_rows"), "count"),
        "streaming.state_mb": (per_pass("state_bytes", mb), "MB"),
        "spark.plan_gap_s": (per_pass("plan_gap_s"), "s"),
        "spark.exec_s": (per_pass("exec_s"), "s"),
        "spark.jobs_per_op": (per_op("jobs"), "count"),
        "spark.stages_per_op": (per_op("stages"), "count"),
        "spark.tasks_per_op": (per_op("tasks"), "count"),
        "spark.task_s": (per_pass("task_s"), "s"),
        "spark.cpu_s": (per_pass("cpu_s"), "s"),
        "spark.gc_s": (per_pass("gc_s"), "s"),
        "spark.scheduler_delay_s": (per_pass("sched_s"), "s"),
        "spark.slot_util": (per_pass("task_s") * passes / (wall * cores), "ratio"),
        "spark.shuffle_write_mb": (per_pass("shuffle_write", mb), "MB"),
        "spark.shuffle_read_mb": (per_pass("shuffle_read", mb), "MB"),
        "spark.spill_mb": (per_pass("spill", mb), "MB"),
        "spark.python_mb": (per_pass("python", mb), "MB"),
        "spark.failed_tasks": (per_pass("failed_tasks"), "count"),
        "deliver.s": (per_pass("deliver_s"), "s"),
        "deliver.driver_s": (per_pass("deliver_driver_s"), "s"),
        "deliver.rows": (per_pass("rows"), "count"),
        "deliver.mb": (per_pass("mb"), "MB"),
        "trace.unattributed_s": (
            (wall - per_pass("construct_s") * passes - per_pass("deliver_s") * passes)
            / passes, "s"),
    }
    by_query: dict[str, list[dict]] = {}
    for o in steady:
        by_query.setdefault(o["name"], []).append(o)
    keys = ("wall_s", "construct_s", "deliver_s", "deliver_driver_s", "exec_s", "plan_gap_s",
            "jobs", "construct_jobs", "stages", "tasks", "task_s", "python",
            "batches", "trigger_s", "commit_s", "rows")
    detail = {
        # Stream times are 0 on a workload without streams, and a time that
        # reads the same on every run is not a measurement, so they are
        # reported here rather than as per-layer metrics.
        "streaming.trigger_s": per_pass("trigger_s"),
        "streaming.commit_s": per_pass("commit_s"),
        "memos.build_s.by_artifact": {
            a: round(v, 4) for a, v in setup["builds"].items()
        },
        "memos.failed": setup["failed"],
        "reconcile_tolerance": {
            "per_op_s": attribution.RECONCILE_TOLERANCE_S,
            "per_op_share": attribution.RECONCILE_TOLERANCE_SHARE,
            "job_window_s": attribution.WINDOW_TOLERANCE_S,
        },
        "not_measured_directly": {
            "operators": "no public entry point outside a query; cost is in spark.*",
            "plans": "no public entry point outside a query; cost is in spark.*",
        },
        "per_query_median": {
            q: {k: round(statistics.median(o[k] for o in os_), 4) for k in keys}
            for q, os_ in sorted(by_query.items())
        },
    }
    return m, detail


def main() -> int:
    t_start, ticks = time.time(), _cpu_ticks()
    a = _args()
    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "__spark_entry__.py")):
        print("run from the repo root: __spark_entry__.py not found", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    wl = workloads.WORKLOADS[a.workload]
    nproc = len(os.sched_getaffinity(0))
    # Spark gets half the CPUs. The driver JVM's JIT and GC threads, this
    # client and the Python workers need the rest; at local[nproc] a stage
    # waits for whichever CPU a neighbour on a shared host slowed, and the
    # run measures the scheduler rather than the program.
    cores = max(1, nproc // 2)
    work = os.path.join(HERE, "_work")
    data = datagen.generate(SF, os.path.join(work, f"data-sf{SF}"))
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_ARTIFACT_CACHE="fresh",
        TMPDIR=os.path.join(run_dir, "tmp"),
        # Keep every JVM's scratch (temp dirs, streaming checkpoints, perf
        # data) inside the run directory.
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir}/tmp",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        PYTHONPATH=os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    )
    env.pop("OMP_NUM_THREADS", None)
    out = os.path.join(run_dir, "result.json")
    t0 = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "client.py"),
         "--workload", a.workload, "--seed", str(a.seed),
         "--seconds", str(a.seconds), "--trace", str(a.trace),
         "--data", data, "--work", run_dir, "--t0", repr(t0), "--out", out],
        cwd=root, env=env, stdout=sys.stderr, stderr=sys.stderr,
        start_new_session=True,
    )
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _reap(proc)
    if code != 0 or not os.path.exists(out):
        print(f"client failed (exit {code})", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1
    with open(out) as fh:
        rec = json.load(fh)
    shutil.rmtree(run_dir, ignore_errors=True)

    check = rec["check"]
    bad = set(check["mismatch"])
    failed = sum(1 for o in rec["ops"] if "error" in o or o["name"] in bad)
    attempted = len(rec["ops"])
    e2e, detail = end_to_end(rec)
    detail.update(
        workload=wl.name, why=wl.why, seed=a.seed, seconds=a.seconds,
        trace=a.trace, nproc=nproc, cores=cores, sf=SF, versions=_versions(env),
        error_rate=failed / attempted,
        errors=sorted({f"{o['name']}: {o['error']}" for o in rec["ops"] if "error" in o}),
        mismatch=sorted(bad),
        checked=len(check["match"]) + len(bad),
        unchecked=check["unchecked"],
        n_unchecked=len(check["unchecked"]),
    )
    if a.trace:
        metrics, layer_detail = per_layer(rec, cores)
        detail["end_to_end_traced"] = {k: round(v[0], 4) for k, v in e2e.items()}
        snapshot = dict(detail, metrics={k: v[0] for k, v in metrics.items()},
                        **layer_detail)
        with open(os.path.join(work, f"trace-{wl.name}.json"), "w") as fh:
            json.dump(snapshot, fh, indent=1, sort_keys=True)
    else:
        metrics = e2e
    detail["run_wall_s"] = round(time.time() - t_start, 3)
    detail["host_steal_share"] = round(_steal_share(ticks, _cpu_ticks()), 4)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({
        "correct": not bad and failed == 0 and not rec["setup"]["failed"],
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
