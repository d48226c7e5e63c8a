"""Repo benchmark: three closed-loop workloads over the package's public API.

Usage (from the repository root):

    python3 perfbench/run.py --workload taxi_backfill --seed 1 --seconds 5 --trace 0

Each run builds its inputs from ``--seed`` under ``perfbench/.work/``,
runs the workload in a fresh worker process (one driver, one request at
a time, ``local[$(nproc)]``), checks every output against its DuckDB
oracle twin, deletes its inputs and prints, as its last line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` turns on the Spark event
log and reports the per-layer metrics (see README.md).
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402  (puts tools/ on sys.path)
import duckdb  # noqa: E402
import eventlog  # noqa: E402
from validate_oracles import normalize_rows  # noqa: E402

# The iterative (static_rounds) loop entries: driver- and scheduling-bound.
# Two of the eight, from two modules, so a run fits the time budget
# (README.md, "Sizes and budget").
LOOPS = ["graph_kcore", "embedding_kmeans"]
# Every 30th registry name (offset 15) in name order, loop entries
# excluded. Fixed by name, chosen without regard to speed.
SWEEP = [
    "bpe_apply_encode", "dedup_canonicalize", "ewma_daily_revenue",
    "interarrival_burstiness", "month_over_month_growth",
    "quality_classifier_score", "sessionize_events",
    "streaming_sessionize_stateful", "tpch_important_parts",
    "weighted_priority_sample",
]
# registry_sweep runs by hand; BENCHMARK.json gates the first two only
# (see README.md, "Sizes and budget").
WORKLOADS = ("taxi_backfill", "iterative_loops", "registry_sweep")
# Warm operations a run makes at least, after its set-up: warm days
# (taxi_backfill) or passes over the entries (the others). The warm
# figures are taken over exactly these, a fixed amount of work. The
# backfill cycles through DAY_INPUTS generated day inputs.
MIN_OPS = {"taxi_backfill": 2, "iterative_loops": 2, "registry_sweep": 2}
DAY_INPUTS = 3
WORKER_TIMEOUT_S = 170


# --------------------------------------------------------------------------
# Inputs
# --------------------------------------------------------------------------


def make_inputs(workload: str, seed: int, work: str) -> dict:
    if workload == "taxi_backfill":
        base = datagen.base_tables(0.1, ["lineitem"])
        day_dirs = []
        for d in range(DAY_INPUTS):
            day_dir = f"{work}/days/{d}"
            shift = 1 + (seed * 8 + d) % (datagen.MAX_SHIFT - 1)
            datagen.write_shifted(base, day_dir, shift)
            day_dirs.append(day_dir)
        return {"day_dirs": day_dirs}
    sf_dir = f"{work}/sf0.01"
    # Shifts 10..63 keep copy_select's "_c<shift>" word suffix two digits
    # long and its embedding rotation inside the 64 dimensions.
    datagen.write_shifted(datagen.base_tables(0.01), sf_dir, 10 + seed % 54)
    names = LOOPS if workload == "iterative_loops" else SWEEP
    return {"sf_dir": sf_dir, "names": names}


# --------------------------------------------------------------------------
# Worker process
# --------------------------------------------------------------------------


def _session_pids(sid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(f[3]) == sid and f[0] != "Z":
                pids.append(int(d))
    return pids


def run_worker(spec: dict, work: str) -> dict:
    spec_path, res_path = f"{work}/spec.json", f"{work}/result.json"
    cwd = f"{work}/cwd"
    os.makedirs(cwd)
    os.makedirs(spec["eventlog_dir"])
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    env["SPARK_LOCAL_DIRS"] = f"{work}/local"
    # spark-submit's launcher JVM: no perf-data file in /tmp either.
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    env["TMPDIR"] = spec["tmp_dir"]
    os.makedirs(spec["tmp_dir"])
    log_path = f"{work}/worker.log"
    with open(log_path, "w") as log:
        spec["t_spawn"] = time.monotonic()
        with open(spec_path, "w") as fh:
            json.dump(spec, fh)
        proc = subprocess.Popen(
            [sys.executable, f"{HERE}/worker.py", spec_path, res_path],
            cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # The JVM and its Python workers share the worker's session.
            deadline = time.monotonic() + 20
            while _session_pids(proc.pid) and time.monotonic() < deadline:
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
                time.sleep(0.1)
            proc.wait()
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"worker failed (exit {rc})")
    with open(res_path) as fh:
        return json.load(fh)


# --------------------------------------------------------------------------
# Output checks (outside every timed region)
# --------------------------------------------------------------------------


def check_backfill(spec: dict, res: dict) -> list[str]:
    oracle = res["oracle"]
    failures = []
    for rec in [res["cold"], *res["ops"]]:
        ds, day_dir = rec["op"], rec["day_dir"]
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                        f"read_parquet('{day_dir}/lineitem.parquet')")
            want = con.execute(oracle)
            wcols = [d[0] for d in want.description]
            wrows = normalize_rows(wcols, want.fetchall())
            got = con.execute(
                "SELECT CAST(popularity AS BIGINT) AS popularity, "
                "route.pickup_hexagons AS route_pickup_hex, "
                "route.dropoff_hexagons AS route_dropoff_hex, route_count, "
                "dropoff_hexagon, dropoff_count, pickup_hexagon, pickup_count "
                f"FROM read_parquet('{spec['out_dir']}/run_date={ds}/*.parquet')")
            gcols = [d[0] for d in got.description]
            grows = normalize_rows(gcols, got.fetchall())
            if sorted(gcols) != sorted(wcols) or grows != wrows:
                failures.append(f"{ds}: {len(grows)} rows vs oracle {len(wrows)}")
        except duckdb.Error as exc:
            failures.append(f"{ds}: {exc}")
        finally:
            con.close()
    return failures


def check_entries(spec: dict, res: dict) -> list[str]:
    oracles = res["oracles"]
    con = duckdb.connect()
    failures = []
    try:
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{spec['sf_dir']}/{t}.parquet')")
        for name in spec["names"]:
            out = res["outputs"].get(name, {"error": "not run"})
            if "error" in out:
                failures.append(f"{name}: spark error {out['error']}")
                continue
            try:
                want = con.execute(oracles[name])
            except duckdb.Error as exc:
                failures.append(f"{name}: oracle error {exc}")
                continue
            wcols = [d[0] for d in want.description]
            wrows = [list(r) for r in normalize_rows(wcols, want.fetchall())]
            if sorted(out["cols"]) != sorted(wcols) or out["rows"] != wrows:
                failures.append(
                    f"{name}: {len(out['rows'])} rows vs oracle {len(wrows)}")
    finally:
        con.close()
    return failures


# --------------------------------------------------------------------------
# Metrics
# --------------------------------------------------------------------------


def warm_units(workload: str, res: dict) -> list[dict]:
    """The run's first MIN_OPS warm units: days, or passes over the entries."""
    if workload == "taxi_backfill":
        units = res["ops"]
    else:
        units = [{k: sum(r[k] for r in p) for k in ("wall_s", "cpu_s")}
                 for p in res["passes"]]
    return units[:MIN_OPS[workload]]


def end_to_end(workload: str, res: dict) -> dict:
    """Wall and CPU seconds of a fresh process's first unit of work.

    Both span the worker's start until day 1 is committed (taxi_backfill)
    or its first pass over the entries has ended (the others). The warm
    phase's wall and CPU are in the record and in the per-layer
    ``process.warm_wall_s`` (README.md, "End-to-end metrics").
    """
    return {"setup_s": res["setup_s"], "cpu_s": res["setup_cpu_s"]}


def timed_ops(workload: str, res: dict) -> list[dict]:
    """The warm phase's operations, each with the job groups it ran."""
    if workload == "taxi_backfill":
        return [{**r, "groups": [r["group"]]} for r in res["ops"]]
    return [{**r, "groups": [r["build_group"], r["group"]]}
            for p in res["passes"] for r in p]


def per_layer(workload: str, spec: dict, res: dict, cores: int) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run, plus record-only details.

    Medians here are median_low, so each value is one that was measured
    and counts stay whole numbers.
    """
    logs = [f for f in os.listdir(spec["eventlog_dir"]) if not f.startswith(".")]
    intervals = {r["group"]: (r["start_ms"], r["end_ms"]) for r in res["all_ops"]}
    stats = eventlog.parse(f"{spec['eventlog_dir']}/{logs[0]}", intervals)
    empty = eventlog.GroupStats()
    ops = timed_ops(workload, res)

    def g(name: str) -> eventlog.GroupStats:
        return stats.get(name, empty)

    agg = eventlog.GroupStats()
    jobs_per_op, gaps, plan_s = {}, [], 0.0
    for op in ops:
        groups = [g(x) for x in op["groups"]]
        for st in groups:
            for f in ("jobs", "stages", "tasks", "failed_tasks", "sched_delay_ms",
                      "task_run_ms", "task_cpu_ns", "gc_ms", "deser_ms",
                      "shuffle_write_bytes", "shuffle_read_bytes",
                      "fetch_wait_ms", "spill_bytes", "result_bytes"):
                setattr(agg, f, getattr(agg, f) + getattr(st, f))
            agg.job_intervals_ms += st.job_intervals_ms
        jobs_per_op[op["op"]] = sum(st.jobs for st in groups)
        gaps.append(op["wall_s"] - sum(st.busy_ms() for st in groups) / 1000)
        first = min((st.first_job_submit_ms for st in groups
                     if st.first_job_submit_ms is not None), default=None)
        if first is not None:
            plan_s += max(first - op["start_ms"], 0) / 1000
    wall = sum(op["wall_s"] for op in ops)

    probes = res["probes"]

    def pm(key: str) -> float:
        return statistics.median_low(p[key] for p in probes)

    day_ops = [r for r in res["all_ops"] if r["group"].startswith("day:")]
    builds = [max(g(r["group"]).first_job_submit_ms - r["start_ms"], 0) / 1000
              for r in day_ops if g(r["group"]).first_job_submit_ms is not None]
    load_groups = [g(p["load_group"]) for p in probes]
    if workload == "taxi_backfill":
        first_op_s = res["cold"]["wall_s"]
        warmup_s = first_op_s - statistics.median_low(r["wall_s"] for r in res["ops"])
        q_build, q_exec = pm("queries.build_s"), pm("queries.exec_s")
    else:
        first_op_s = res["warmup"][0]["wall_s"]
        warmup_s = sum(r["wall_s"] for r in res["warmup"])
        n = len(spec["names"])
        passes = res["passes"]
        q_build = statistics.median_low(
            statistics.median_low(p[i]["build_s"] for p in passes) for i in range(n))
        q_exec = statistics.median_low(
            statistics.median_low(p[i]["exec_s"] for p in passes) for i in range(n))
    metrics = {
        "session.get_spark_s": res["session.get_spark_s"],
        "session.warmup_s": warmup_s,
        "process.first_op_s": first_op_s,
        "process.warm_wall_s": statistics.fmean(
            u["wall_s"] for u in warm_units(workload, res)),
        "process.peak_rss_mb": res["peak_rss_mb"],
        "sources.load_s": pm("sources.load_s"),
        "sources.scan_tasks": statistics.median_low(s.reading_tasks for s in load_groups),
        "sources.scan_bytes": pm("sources.scan_bytes"),
        "functions.geo_dim_s": pm("functions.geo_dim_s"),
        "operators.normalize_s": pm("operators.normalize_s"),
        "operators.enrich_s": pm("operators.enrich_s"),
        "operators.popularity_s": pm("operators.popularity_s"),
        "operators.rows_in": pm("operators.rows_in"),
        "operators.rows_kept": pm("operators.rows_kept"),
        "sources.write_s": pm("sources.write_s"),
        "sources.files_written": pm("sources.files_written"),
        "sources.bytes_written": pm("sources.bytes_written"),
        "plans.build_s": statistics.median_low(builds),
        "plans.jobs_per_day": statistics.median_low(g(r["group"]).jobs for r in day_ops),
        "plans.retries": res["retries"],
        "queries.build_s": q_build,
        "queries.exec_s": q_exec,
        "dataprep.jobs": statistics.median_low(jobs_per_op.values()),
        "dataprep.driver_gap_s": sum(gaps),
        "dataprep.job_median_s": statistics.median_low(agg.job_durations_ms()) / 1000,
        "spark.jobs": agg.jobs,
        "spark.stages": agg.stages,
        "spark.tasks": agg.tasks,
        "spark.failed_tasks": agg.failed_tasks,
        "spark.plan_s": plan_s,
        "spark.sched_delay_s": agg.sched_delay_ms / 1000,
        "spark.task_run_s": agg.task_run_ms / 1000,
        "spark.task_cpu_s": agg.task_cpu_ns / 1e9,
        "spark.gc_s": agg.gc_ms / 1000,
        "spark.deser_s": agg.deser_ms / 1000,
        "spark.core_util": agg.task_run_ms / 1000 / (wall * cores),
        "spark.shuffle_write_bytes": agg.shuffle_write_bytes,
        "spark.shuffle_read_bytes": agg.shuffle_read_bytes,
        "spark.spill_bytes": agg.spill_bytes,
        "spark.result_bytes": agg.result_bytes,
    }
    # Not a metric: every shuffle block is local in local[n], so this
    # reads 0; kept in the record to show it stays so.
    detail = {"jobs_per_op": jobs_per_op, "fetch_wait_s": agg.fetch_wait_ms / 1000}
    if workload == "taxi_backfill":
        day = probes[0]["day"]
        day_wall = next(r["wall_s"] for r in res["all_ops"] if r["group"] == f"day:{day}")
        detail["layer_sum_over_day_wall"] = {day: round(sum(metrics[k] for k in (
            "functions.geo_dim_s", "sources.load_s", "operators.normalize_s",
            "operators.enrich_s", "operators.popularity_s", "sources.write_s",
        )) / day_wall, 4)}
    return metrics, detail


# name -> (unit, better). BENCHMARK.json lists the same names.
END_TO_END = {"setup_s": ("s", "lower"), "cpu_s": ("s", "lower")}
PER_LAYER = {
    "session.get_spark_s": ("s", "lower"), "session.warmup_s": ("s", "lower"),
    "process.first_op_s": ("s", "lower"), "process.warm_wall_s": ("s", "lower"),
    "process.peak_rss_mb": ("MB", "lower"),
    "sources.load_s": ("s", "lower"), "sources.scan_tasks": ("count", "higher"),
    "sources.scan_bytes": ("bytes", "lower"), "functions.geo_dim_s": ("s", "lower"),
    "operators.normalize_s": ("s", "lower"), "operators.enrich_s": ("s", "lower"),
    "operators.popularity_s": ("s", "lower"), "operators.rows_in": ("count", "higher"),
    "operators.rows_kept": ("count", "higher"), "sources.write_s": ("s", "lower"),
    "sources.files_written": ("count", "lower"),
    "sources.bytes_written": ("bytes", "lower"), "plans.build_s": ("s", "lower"),
    "plans.jobs_per_day": ("count", "lower"), "plans.retries": ("count", "lower"),
    "queries.build_s": ("s", "lower"), "queries.exec_s": ("s", "lower"),
    "dataprep.jobs": ("count", "lower"), "dataprep.driver_gap_s": ("s", "lower"),
    "dataprep.job_median_s": ("s", "lower"), "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"), "spark.tasks": ("count", "lower"),
    "spark.failed_tasks": ("count", "lower"), "spark.plan_s": ("s", "lower"),
    "spark.sched_delay_s": ("s", "lower"), "spark.task_run_s": ("s", "lower"),
    "spark.task_cpu_s": ("s", "lower"), "spark.gc_s": ("s", "lower"),
    "spark.deser_s": ("s", "lower"), "spark.core_util": ("ratio", "higher"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.result_bytes": ("bytes", "lower"),
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # Turn SIGTERM into SystemExit, so the finally blocks stop
    # the worker's process group and delete the run directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        spec = make_inputs(args.workload, args.seed, work)
        spec.update({
            "workload": args.workload, "seconds": args.seconds,
            "min_ops": MIN_OPS[args.workload],
            "trace": bool(args.trace), "root": ROOT,
            "out_dir": f"{work}/out", "probe_dir": f"{work}/probe_out",
            "eventlog_dir": f"{work}/eventlog", "tmp_dir": f"{work}/tmp",
        })
        res = run_worker(spec, work)
        if args.workload == "taxi_backfill":
            failures = check_backfill(spec, res)
            attempted = 1 + len(res["ops"])
        else:
            failures = check_entries(spec, res)
            attempted = len(spec["names"])
        e2e = end_to_end(args.workload, res)
        record = {"workload": args.workload, "seed": args.seed,
                  "trace": args.trace, "env": res["env"], "end_to_end": e2e,
                  "warm_wall_s": statistics.fmean(
                      u["wall_s"] for u in warm_units(args.workload, res)),
                  "warm_cpu_s": statistics.fmean(
                      u["cpu_s"] for u in warm_units(args.workload, res)),
                  "peak_rss_mb": res["peak_rss_mb"],
                  "fail_ratio": len(failures) / attempted, "failures": failures,
                  "ops": [{"op": r["group"], "wall_s": round(r["wall_s"], 4),
                           "cpu_s": round(r["cpu_s"], 2),
                           "steal_s": round(r["steal_s"], 2)}
                          for r in res["all_ops"]]}
        metrics = e2e
        if args.trace:
            metrics, detail = per_layer(
                args.workload, spec, res, res["env"]["default_parallelism"])
            record.update(detail)
        print(json.dumps({"record": record}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": unit}
                    for k, (unit, _) in (PER_LAYER if args.trace else END_TO_END).items()},
    }))


if __name__ == "__main__":
    main()
