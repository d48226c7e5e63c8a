"""One benchmark process: set up Spark, run one workload, keep its outputs.

``run.py`` starts this as a fresh process per run so that set-up, the
cold first operation and the process tree's CPU and memory are those of
a real daily job. Usage: ``python3 worker.py SPEC.json RESULT.json``.

Timed operations call the package's public functions only and force
their outputs; config reaches Spark only through
``get_spark(extra_conf=...)``. Outputs are collected for ``run.py``'s
oracle checks after each timed call, outside its timing.
"""

from __future__ import annotations

import datetime as dt
import gc
import glob
import itertools
import json
import logging
import os
import platform
import sys
import time

from pyspark.sql import SparkSession

from taxi_trips_etl_spark.session import get_spark

_CLK = os.sysconf("SC_CLK_TCK")
# Repeats of the traced forced-prefix probe of a taxi day.
PROBES = 3


# --------------------------------------------------------------------------
# Process-tree accounting (/proc): CPU seconds and high-water RSS of this
# process, the JVM it launched and the JVM's Python workers.
# --------------------------------------------------------------------------


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """user+sys CPU of the live tree, plus its reaped children."""
    total = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _CLK


def tree_peak_rss_mb() -> float:
    """Sum of per-process VmHWM over the live tree."""
    kb = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _CLK


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


# --------------------------------------------------------------------------
# Timed operations
# --------------------------------------------------------------------------


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def scrub(spark: SparkSession) -> None:
    """Drop what one operation leaves in the session (bench.py's scrub)."""
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    spark.catalog.clearCache()
    gc.collect()


class Ops:
    """Run operations under one job group each and keep their timings."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.records: list[dict] = []

    def run(self, group: str, fn, **extra) -> object:
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        cpu0, steal0 = tree_cpu_s(), steal_s()
        start_ms, t0 = time.time() * 1000, time.monotonic()
        out = fn()
        wall = time.monotonic() - t0
        end_ms = time.time() * 1000
        cpu, steal = tree_cpu_s() - cpu0, steal_s() - steal0
        sc.setJobGroup("", "")
        rec = {"group": group, "wall_s": wall, "cpu_s": cpu, "steal_s": steal,
               "start_ms": start_ms, "end_ms": end_ms, **extra}
        self.records.append(rec)
        return out, rec


class RetryCounter(logging.Handler):
    """Counts the pipeline runner's per-stage retry log records."""

    def __init__(self):
        super().__init__(logging.WARNING)
        self.n = 0

    def emit(self, record):
        if "retry" in record.getMessage():
            self.n += 1


# --------------------------------------------------------------------------
# Workloads
# --------------------------------------------------------------------------


def taxi_probe(ops: Ops, day_dir: str, ds: str, out_dir: str, rep: int) -> dict:
    """Forced-prefix breakdown of one taxi day, one job group per layer.

    Self time of a layer = its forced prefix minus the prefix before it;
    ``functions.geo_dim`` is the enrich prefix's child and is subtracted
    from it. The write layer writes the materialized popularity result.
    ``rep`` numbers the repeats of a probe, which ``run.py`` takes the
    median of (one probe's differences can come out below zero).
    """
    from taxi_trips_etl_spark.operators import (
        enrich_trips, most_populars, normalize_trips,
    )
    from taxi_trips_etl_spark.operators.enrich import dedup_zones
    from taxi_trips_etl_spark.operators.normalize import observed_normalize_metrics
    from taxi_trips_etl_spark.sources.taxi_testdata import (
        trips_from_lineitem, zone_dim,
    )
    from taxi_trips_etl_spark.sources.writers import write_partitioned_by_run_date

    spark = ops.spark
    p = f"probe:{ds}:{rep}:"

    def trips():
        return trips_from_lineitem(spark.read.parquet(f"{day_dir}/lineitem.parquet"))

    def enriched():
        return enrich_trips(normalize_trips(trips()), zone_dim(spark))

    _, geo = ops.run(p + "geo", lambda: force(dedup_zones(zone_dim(spark))))
    _, load = ops.run(p + "load", lambda: force(trips()))
    _, norm = ops.run(p + "normalize", lambda: force(normalize_trips(trips())))
    _, enr = ops.run(p + "enrich", lambda: force(enriched()))
    mp, build = ops.run(p + "popularity_build", lambda: most_populars(enriched()))
    _, exe = ops.run(p + "popularity_exec", lambda: force(mp))
    _, wr = ops.run(p + "write",
                    lambda: write_partitioned_by_run_date(mp, out_dir, ds))
    part = glob.glob(f"{out_dir}/run_date={ds}/*.parquet")
    counts = observed_normalize_metrics(trips())
    return {
        "functions.geo_dim_s": geo["wall_s"],
        "sources.load_s": load["wall_s"],
        "sources.scan_bytes": os.path.getsize(f"{day_dir}/lineitem.parquet"),
        "operators.normalize_s": norm["wall_s"] - load["wall_s"],
        "operators.enrich_s": enr["wall_s"] - norm["wall_s"] - geo["wall_s"],
        "operators.popularity_s": build["wall_s"] + exe["wall_s"] - enr["wall_s"],
        "queries.build_s": build["wall_s"],
        "queries.exec_s": exe["wall_s"],
        "sources.write_s": wr["wall_s"],
        "sources.files_written": len(part),
        "sources.bytes_written": sum(os.path.getsize(f) for f in part),
        "operators.rows_in": counts["n_total"],
        "operators.rows_kept": counts["n_kept"],
        "load_group": load["group"],
        "day": ds,
    }


def run_backfill(spark, ops: Ops, spec: dict) -> dict:
    """Consecutive days: day 1 (cold) ends the set-up, then warm days.

    The warm days run while fewer than ``min_ops`` have run or fewer than
    ``seconds`` have passed since day 1 ended; they cycle through the
    generated day inputs, each under its own ``ds``.
    """
    from taxi_trips_etl_spark.plans.pipeline import run_taxi_pipeline
    from taxi_trips_etl_spark.queries import all_oracles

    day_dirs = spec["day_dirs"]
    days, probes, ready = [], [], None
    for i in itertools.count():
        if ready is not None and i > spec["min_ops"] and (
                time.monotonic() - ready >= spec["seconds"]):
            break
        ds = (dt.date(2026, 1, 1) + dt.timedelta(days=i)).isoformat()
        day_dir = day_dirs[i % len(day_dirs)]
        _, rec = ops.run(
            f"day:{ds}",
            lambda: run_taxi_pipeline(spark, day_dir, spec["out_dir"], ds),
            op=ds, day_dir=day_dir,
        )
        days.append(rec)
        if ready is None:
            ready, ready_cpu = time.monotonic(), tree_cpu_s()
    if spec["trace"]:  # on the last (warmest) day, after its timed run
        last = days[-1]
        probes = [taxi_probe(ops, last["day_dir"], last["op"], spec["probe_dir"], r)
                  for r in range(PROBES)]
    return {"ready": ready, "ready_cpu": ready_cpu,
            "cold": days[0], "ops": days[1:], "probes": probes,
            "oracle": all_oracles()["flagship_most_populars"]}


def run_entries(spark, ops: Ops, spec: dict) -> dict:
    """A warm-up pass over the entries (part of the set-up), then timed passes.

    The timed passes run while fewer than ``min_ops`` passes have run or
    fewer than ``seconds`` have passed since the warm-up ended. Outputs
    for the oracle checks are collected in the warm-up pass, after each
    entry's force.
    """
    from taxi_trips_etl_spark.queries import all_oracles, all_queries
    from validate_oracles import normalize_rows

    qs, oracles = all_queries(), all_oracles()
    sf = spec["sf_dir"]
    outputs: dict[str, dict] = {}

    def one_pass(tag: str, collect: bool) -> list[dict]:
        this = []
        for name in spec["names"]:
            fn = qs[name]
            df, built = ops.run(f"{name}:build:{tag}", lambda: fn(spark, sf))
            _, forced = ops.run(f"{name}:{tag}", lambda: force(df))
            this.append({"op": name, "group": forced["group"],
                         "build_group": built["group"],
                         "build_s": built["wall_s"], "exec_s": forced["wall_s"],
                         "wall_s": built["wall_s"] + forced["wall_s"],
                         "cpu_s": built["cpu_s"] + forced["cpu_s"],
                         "steal_s": built["steal_s"] + forced["steal_s"],
                         "start_ms": built["start_ms"], "end_ms": forced["end_ms"]})
            if collect:
                try:
                    rows = [tuple(r) for r in df.collect()]
                    outputs[name] = {"cols": df.columns,
                                     "rows": normalize_rows(df.columns, rows)}
                except Exception as exc:  # noqa: BLE001 — counted as a failure
                    outputs[name] = {"error": repr(exc)}
            del df
            scrub(spark)
        return this

    warmup = one_pass("warmup", collect=True)
    ready, ready_cpu = time.monotonic(), tree_cpu_s()
    passes: list[list[dict]] = []
    while len(passes) < spec["min_ops"] or time.monotonic() - ready < spec["seconds"]:
        passes.append(one_pass(str(len(passes)), collect=False))
    probes = []
    if spec["trace"]:
        # One taxi day over this dataset's lineitem, so the taxi layers
        # are measured on every workload.
        from taxi_trips_etl_spark.plans.pipeline import run_taxi_pipeline

        ds = "2026-01-01"
        ops.run(f"day:{ds}",
                lambda: run_taxi_pipeline(spark, sf, spec["out_dir"], ds), op=ds)
        probes = [taxi_probe(ops, sf, ds, spec["probe_dir"], r) for r in range(PROBES)]
    return {"ready": ready, "ready_cpu": ready_cpu, "warmup": warmup, "passes": passes,
            "outputs": outputs, "probes": probes,
            "oracles": {n: oracles[n] for n in spec["names"]}}


def main() -> None:
    with open(sys.argv[1]) as fh:
        spec = json.load(fh)
    sys.path.insert(0, os.path.join(spec["root"], "tools"))
    load0 = loadavg()
    # Keep the JVM's scratch files inside the run directory too, and its
    # perf-data file out of /tmp/hsperfdata_<user>.
    extra = {"spark.driver.extraJavaOptions":
             f"-Djava.io.tmpdir={spec['tmp_dir']} -XX:-UsePerfData"}
    if spec["trace"]:
        extra |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + spec["eventlog_dir"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    t0 = time.monotonic()
    spark = get_spark(app_name=f"perfbench-{spec['workload']}", extra_conf=extra)
    get_spark_s = time.monotonic() - t0
    spark.sparkContext.setLogLevel("ERROR")
    retries = RetryCounter()
    logging.getLogger("taxi_trips_etl_spark.plans.pipeline").addHandler(retries)
    ops = Ops(spark)
    if spec["workload"] == "taxi_backfill":
        res = run_backfill(spark, ops, spec)
    else:
        res = run_entries(spark, ops, spec)
    peak_rss_mb = tree_peak_rss_mb()
    sc = spark.sparkContext
    res.update({
        "setup_s": res["ready"] - spec["t_spawn"],
        # The worker and its JVM are new processes: their CPU so far is
        # all set-up.
        "setup_cpu_s": res["ready_cpu"],
        "session.get_spark_s": get_spark_s,
        "peak_rss_mb": peak_rss_mb,
        "retries": retries.n,
        "all_ops": ops.records,
        "env": {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "nproc": os.cpu_count(),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark": spark.version,
            "python": platform.python_version(),
            "loadavg_start": load0,
            "loadavg_end": loadavg(),
        },
    })
    spark.stop()
    with open(sys.argv[2], "w") as fh:
        json.dump(res, fh)


if __name__ == "__main__":
    main()
