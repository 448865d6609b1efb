"""Engine side of one benchmark run: the closed-loop client.

Started by ``run.py`` as its own process. It sets up a SparkSession,
builds the workload's artifacts, runs the mix as a closed loop with one
client thread, checks every query's result against its DuckDB oracle
outside the timed window, and writes the raw measurements to ``--out``
as JSON. ``run.py`` turns them into metrics.

One op is ``queries()[name](spark, sf_dir)`` (construction) followed by
``DataFrame.toArrow()`` (delivery): what a caller pays.
"""

from __future__ import annotations

import argparse
import ast
import glob
import json
import os
import random
import re
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads  # noqa: E402

# The steady phase runs as many whole passes as fit in --seconds at the
# mean pass time so far, and never fewer than this many.
MIN_STEADY_PASSES = 3


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    return ap.parse_args()


def warm_up(spark, sf_dir: str) -> None:
    """``bench.py``'s warm-up: one tiny scan for the JVM and codegen, and
    one trivial ``applyInPandas`` that starts the Python worker pool and
    the Arrow serializer. Without the second, several seconds of
    interpreter start-up land on whichever pandas-UDF op runs first."""
    region = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    region.count()
    region.groupBy("r_regionkey").applyInPandas(
        lambda pdf: pdf, schema=region.schema
    ).write.mode("overwrite").format("noop").save()


def peak_rss_mb() -> dict[str, float]:
    """Peak resident memory (VmHWM) of this process and of the JVM it
    launched, read from /proc."""

    def hwm(pid: int) -> float:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def children(pid: int) -> list[int]:
        out = []
        for task in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{task}/children") as fh:
                    out += [int(c) for c in fh.read().split()]
            except OSError:
                pass
        return out

    jvm, todo = 0.0, children(os.getpid())
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    jvm = max(jvm, hwm(pid))
            todo += children(pid)
        except OSError:
            pass
    return {"python": hwm(os.getpid()), "jvm": jvm}


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total / 2**20


def quadratic_oracles() -> set[str]:
    """Names whose DuckDB oracle is a brute-force O(n^2) mirror, as listed
    in ``tools/quadratic_sweep.py`` (read without running that script)."""
    with open(os.path.join(ROOT, "tools", "quadratic_sweep.py")) as fh:
        tree = ast.parse(fh.read())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == "NAMES" for t in node.targets
        ):
            return set(ast.literal_eval(node.value))
    raise RuntimeError("NAMES not found in tools/quadratic_sweep.py")


def check_results(first: dict, sf_dir: str, oracles: dict) -> dict:
    """Compare each query's first Arrow result with its DuckDB oracle at
    the benchmark's SF, with ``tools/driver_sim.py``'s normalisation."""
    import duckdb

    from bigdatamanagement_spark.catalog import TESTDATA_TABLES
    from tools.driver_sim import norm

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    quadratic = quadratic_oracles()
    out = {"match": [], "mismatch": [], "unchecked": {}}
    for name, table in sorted(first.items()):
        if name not in oracles:
            out["unchecked"][name] = "no oracle"
            continue
        if name in quadratic:
            out["unchecked"][name] = "quadratic oracle (tools/quadratic_sweep.py)"
            continue
        # Oracles that read committed fixtures by absolute path resolve
        # them against this checkout.
        sql = re.sub(r"'[^']*/(fixtures/[^']*)'", f"'{ROOT}/\\1'", oracles[name])
        srows = table.to_pylist()
        drows = con.execute(sql).arrow().to_pylist()
        scols = sorted(srows[0].keys()) if srows else []
        dcols = sorted(drows[0].keys()) if drows else []
        s = sorted(tuple(norm(r[c]) for c in scols) for r in srows)
        d = sorted(tuple(norm(r[c]) for c in dcols) for r in drows)
        out["match" if scols == dcols and s == d else "mismatch"].append(name)
    con.close()
    return out


def main() -> None:
    a = _args()
    wl = workloads.WORKLOADS[a.workload]
    trace = bool(a.trace)
    os.makedirs(a.work, exist_ok=True)

    import __spark_entry__ as entry
    from bigdatamanagement_spark import memos
    from bigdatamanagement_spark.session import get_spark

    import attribution as tr

    t_import = time.time()
    event_dir = os.path.join(a.work, "eventlog")
    conf = {
        "spark.local.dir": os.path.join(a.work, "local"),
        "spark.sql.warehouse.dir": os.path.join(a.work, "warehouse"),
    }
    if trace:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(tr.trace_conf(event_dir))

    rec: dict = {"ops": [], "windows": []}
    windows = rec["windows"]

    def window(key: str, start: float, end: float) -> None:
        windows.append({"key": key, "start": start, "end": end})

    sf_dir = a.data
    s0 = time.time()
    spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=conf)
    s1 = time.time()
    warm_up(spark, sf_dir)
    s2 = time.time()
    window("setup:session", s0, s1)
    window("setup:warmup", s1, s2)
    builds, failed = {}, {}
    for name in wl.artifacts:
        b0 = time.time()
        try:
            memos.MEMO_BUILDERS[name](spark, sf_dir)
        except Exception as exc:  # counted, never fatal to set-up
            failed[name] = f"{type(exc).__name__}: {str(exc)[:200]}"
        b1 = time.time()
        builds[name] = b1 - b0
        window(f"setup:memo:{name}", b0, b1)
    rec["setup"] = {
        "total_s": time.time() - a.t0,
        "session_s": s1 - s0,
        "warmup_s": s2 - s1,
        "builds": builds,
        "failed": failed,
    }
    rec["import_s"] = t_import - a.t0
    # The fresh artifact cache lives in a per-process scratch root under
    # TMPDIR (``cache._root``); its size is what the artifacts persist.
    rec["cache_mb"] = sum(
        dir_mb(p) for p in glob.glob(os.path.join(
            os.environ.get("TMPDIR", a.work), "bdm_scratch_*", "bdm_cache_fresh_*"))
    )

    sc = spark.sparkContext
    listener = None
    if trace:
        listener = tr.make_listener()
        spark.streams.addListener(listener)

    qs = entry.queries()
    rng = random.Random(a.seed)
    # Whole passes give every query the same number of ops in a run, and the
    # seed changes order only, never which queries are measured. Pass 0 is
    # the cold pass; the steady passes then fill --seconds.
    first: dict = {}
    shapes: dict = {}
    op_i = 0
    pass_i = 0
    steady_s = 0.0
    while pass_i <= MIN_STEADY_PASSES or steady_s * pass_i / (pass_i - 1) <= a.seconds:
        order = list(wl.queries)
        rng.shuffle(order)
        p0 = time.perf_counter()
        for name in order:
            op = {"name": name, "pass": pass_i}
            cg, dg = f"op{op_i}:construct", f"op{op_i}:deliver"
            t_a, pa = time.time(), time.perf_counter()
            try:
                if trace:
                    sc.setJobGroup(cg, name)
                pc0 = time.perf_counter()
                df = qs[name](spark, sf_dir)
                pc1 = time.perf_counter()
                t_b = time.time()
                if trace:
                    sc.setJobGroup(dg, name)
                pd0 = time.perf_counter()
                table = df.toArrow()
                pd1 = time.perf_counter()
                t_c, pb = time.time(), time.perf_counter()
                op.update(
                    wall_s=pb - pa,
                    construct_s=pc1 - pc0,
                    deliver_s=pd1 - pd0,
                    start=t_a, split=t_b, end=t_c,
                    rows=table.num_rows,
                    mb=table.nbytes / 2**20,
                )
                shape = (table.num_rows, str(table.schema))
                if name not in first:
                    first[name], shapes[name] = table, shape
                elif shapes[name] != shape:
                    op["error"] = "result differs from this run's first result"
            except Exception as exc:
                op["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
                op.setdefault("wall_s", time.perf_counter() - pa)
                op.setdefault("start", t_a)
                op.setdefault("end", time.time())
            if trace:
                op["construct_jobs"] = len(sc.statusTracker().getJobIdsForGroup(cg))
                sc.setLocalProperty("spark.jobGroup.id", None)
                window(f"op{op_i}:construct", op["start"], op.get("split", op["end"]))
                if "split" in op:
                    window(f"op{op_i}:deliver", op["split"], op["end"])
            rec["ops"].append(op)
            op_i += 1
        rec.setdefault("pass_s", []).append(time.perf_counter() - p0)
        if pass_i > 0:
            steady_s += rec["pass_s"][-1]
        pass_i += 1

    rec["rss_mb"] = peak_rss_mb()
    if listener is not None:
        # Listener events arrive asynchronously; let the bus drain.
        time.sleep(1.0)
        rec["progress"] = list(listener.progress)
        spark.streams.removeListener(listener)
    rec["app_id"] = sc.applicationId
    rec["check"] = check_results(first, sf_dir, entry.oracle_sql())
    spark.stop()
    if trace:
        rec["layers"] = layers(rec, event_dir)
    with open(a.out, "w") as fh:
        json.dump(rec, fh)


def layers(rec: dict, event_dir: str) -> dict:
    """Attribute the final session's event log to set-up windows and op
    windows, check that the layers reconcile, and return per-layer raw
    sums for ``run.py``. Raises when the reconciliation fails."""
    import attribution as tr

    log = tr.read_event_log(event_dir, rec["app_id"])
    att = tr.attribute(log, rec["windows"], rec.get("progress", []))
    def busy(key: str) -> float:
        return tr.busy_union([
            (j["start"], j["end"]) for j in att["jobs"].get(key, []) if "end" in j
        ])

    problems = []
    for i, o in enumerate(rec["ops"]):
        if "split" not in o:
            continue
        # Bookkeeping only: both timers are nested inside wall_s, so this
        # catches the tracing's own cost between them, not Spark's.
        gap = o["wall_s"] - o["construct_s"] - o["deliver_s"]
        if abs(gap) > max(tr.RECONCILE_TOLERANCE_S,
                          tr.RECONCILE_TOLERANCE_SHARE * o["wall_s"]):
            problems.append(f"{o['name']}: wall - layers = {gap:.4f} s")
        # Against the event log's own clock: the Spark time of each phase
        # must fit inside the client's timer for that phase.
        for phase in ("construct", "deliver"):
            spark_s = busy(f"op{i}:{phase}")
            if spark_s > o[f"{phase}_s"] + tr.WINDOW_TOLERANCE_S:
                problems.append(f"{o['name']}: {phase} jobs busy {spark_s:.3f} s"
                                f" > {phase} timer {o[f'{phase}_s']:.3f} s")
    first_op = min(o["start"] for o in rec["ops"])
    orphans = [j for j in att["orphans"] if log["jobs"][j]["start"] >= first_op]
    if orphans:
        problems.append(f"{len(orphans)} jobs outside every op window: {orphans[:5]}")
    if att["outside"]:
        problems.append(f"jobs outside their op's window: {att['outside'][:5]}")
    # The event log and statusTracker() must agree on construction jobs.
    for i, o in enumerate(rec["ops"]):
        logged = sum(1 for j in att["jobs"].get(f"op{i}:construct", [])
                     if j["group"] == f"op{i}:construct")
        if logged != o["construct_jobs"]:
            problems.append(f"{o['name']}: {logged} construction jobs logged,"
                            f" {o['construct_jobs']} tracked")
    if problems:
        raise RuntimeError("trace reconciliation failed: " + "; ".join(problems[:10]))

    per_op = []
    for i, o in enumerate(rec["ops"]):
        keys = [f"op{i}:construct", f"op{i}:deliver"]
        jobs = [j for k in keys for j in att["jobs"].get(k, [])]
        tasks = [t for k in keys for t in att["tasks"].get(k, [])]
        sqls = [s for k in keys for s in att["sql"].get(k, [])]
        batches = [b for k in keys for b in att["batches"].get(k, [])]
        spans = [(j["start"], j["end"]) for j in jobs if "end" in j]
        per_op.append({
            "name": o["name"], "pass": o["pass"],
            "wall_s": o["wall_s"],
            "construct_s": o.get("construct_s", 0.0),
            "deliver_s": o.get("deliver_s", 0.0),
            # Delivery time outside Spark jobs: result transfer and Arrow
            # conversion on the driver.
            "deliver_driver_s": max(0.0, o.get("deliver_s", 0.0) - busy(keys[1])),
            "construct_jobs": len(att["jobs"].get(keys[0], [])),
            "jobs": len(jobs),
            "stages": sum(j["stages"] for j in jobs),
            "tasks": len(tasks),
            "exec_s": tr.busy_union(spans),
            "plan_gap_s": tr.plan_gap(sqls, jobs),
            "task_s": sum(t["s"] for t in tasks),
            "cpu_s": sum(t["cpu_s"] for t in tasks),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "sched_s": sum(t["sched_s"] for t in tasks),
            "shuffle_read": sum(t["shuffle_read"] for t in tasks),
            "shuffle_write": sum(t["shuffle_write"] for t in tasks),
            "spill": sum(t["spill"] for t in tasks),
            "python": sum(t["python"] for t in tasks),
            "failed_tasks": sum(t["failed"] for t in tasks),
            "batches": len(batches),
            "trigger_s": sum(b["trigger_s"] for b in batches),
            "commit_s": sum(b["commit_s"] for b in batches),
            "state_rows": sum(b["state_rows"] for b in batches),
            "state_bytes": sum(b["state_bytes"] for b in batches),
            "rows": o.get("rows", 0),
            "mb": o.get("mb", 0.0),
        })
    memo_jobs = sum(
        len(v) for key, v in att["jobs"].items() if key.startswith("setup:memo:")
    )
    return {"per_op": per_op, "memo_jobs": memo_jobs}


if __name__ == "__main__":
    main()
