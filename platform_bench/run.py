"""Job-platform benchmark: runs one workload against ``big_data_spark``.

  python3 platform_bench/run.py --workload retrain --seed 1 --seconds 7 --trace 0

Run from the repository root. It generates its inputs from the seed,
starts one Spark session on local[N] (N = the cores this process may
use), runs the workload's setup, data job and serving phase, checks
every output, stops Spark and waits for its JVM and Python workers to
exit, removes its work directory and prints one JSON line last:

  {"correct": true, "attempted": 71, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, from spans recorded around every call into the program
(also written to platform_bench/out/spans-<workload>-<seed>.jsonl).
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
DRIVER_MEMORY = "3g"

E2E_UNITS = {"setup_s": "s", "job_s": "s", "etl_rows_per_s": "rows/s",
             "round_s": "s", "predict_ms": "ms"}


def process_age() -> float:
    """Seconds since this process started (from /proc, clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def child_pids(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(entry))
            except (OSError, ValueError):
                pass
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def start_spark(work: str, cores: int, traced: bool):
    from big_data_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby"
            " -XX:-UsePerfData",  # no hsperfdata file outside the work directory
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:  # keep every job of the run in the status tracker
        conf.update({"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"})
    return get_spark("platform_bench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, close the gateway JVM and wait for it and the
    Python workers it started to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    workers = child_pids(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if alive(pid):
            os.kill(pid, signal.SIGKILL)


def layer_metrics(tracer, run, found: dict, session_s: float, rss_mb: float) -> dict:
    """Per-layer metrics from the spans of the traced run. Each layer is
    read from its calls in the timed phases, or from set-up when it is
    only called there; a layer the workload never calls reads 0."""
    timed_ops = ("job", "round-", "phase-")

    def spans(name: str):
        rec = tracer.recorded(name)
        timed = [s for s in rec if s.op.startswith(timed_ops)]
        return timed or rec

    def total_s(name: str) -> float:
        return sum(s.seconds for s in spans(name))

    def median_ms(name: str) -> float:
        rec = spans(name)
        return 1000 * statistics.median(s.seconds for s in rec) if rec else 0.0

    def per_call(names: list[str], key: str) -> float:
        rec = [s for n in names for s in spans(n)]
        return sum(s.attrs[key] for s in rec) / len(rec) if rec else 0.0

    def total(names: list[str], key: str) -> float:
        return float(sum(s.attrs[key] for n in names for s in spans(n)))

    rec_names = ["recommender.recommend", "recommender.skill_gap",
                 "recommender.career_path", "recommender.suggest"]
    fits = ["pipelines.fit_gbt", "pipelines.fit_kmeans", "pipelines.fit_rf"]
    progress = run.extra.get("progress", [])

    def progress_ms(key: str) -> float:
        vals = [p["durationMs"].get(key, 0) for p in progress]
        return float(statistics.median(vals)) if vals else 0.0

    tables = run.extra["tables"]
    files = [os.path.join(d, f) for d in (tables.postings, tables.hot, tables.clusters)
             for f in os.listdir(d) if f.endswith(".parquet")]
    m = {
        "session.start_s": (session_s, "s"),
        "session.jvm_peak_rss_mb": (rss_mb, "MB"),
        "sources.write_s": (total_s("sources.write"), "s"),
        "sources.landed_files": (len(files), "count"),
        "sources.landed_mb": (sum(os.path.getsize(f) for f in files) / 1e6, "MB"),
        "sources.scan_files": (found.get("scan_files", 0), "count"),
        "job_etl.clean_land_s": (total_s("job_etl.clean_land"), "s"),
        "job_etl.rows_in": (run.extra.get("rows_in", 0), "count"),
        "job_etl.rows_out": (run.etl_rows, "count"),
        "job_etl.jobs": (total(["job_etl.clean_land"], "jobs_total"), "count"),
        "job_etl.tasks": (total(["job_etl.clean_land"], "tasks_total"), "count"),
        "skills.hot_scores_s": (total_s("skills.hot_scores"), "s"),
        "skills.exploded_rows": (found.get("exploded_rows", 0), "count"),
        "skills.hot_top20_ms": (median_ms("skills.hot_top20"), "ms"),
        "recommender.recommend_ms": (median_ms("recommender.recommend"), "ms"),
        "recommender.skill_gap_ms": (median_ms("recommender.skill_gap"), "ms"),
        "recommender.career_path_ms": (median_ms("recommender.career_path"), "ms"),
        "recommender.suggest_ms": (median_ms("recommender.suggest"), "ms"),
        "recommender.jobs_per_call": (per_call(rec_names, "jobs_total"), "count"),
        "recommender.tasks_per_call": (per_call(rec_names, "tasks_total"), "count"),
        "read.top_cities_ms": (median_ms("read.top_cities"), "ms"),
        "read.top_skills_ms": (median_ms("read.top_skills"), "ms"),
        "read.cluster_means_ms": (median_ms("read.cluster_means"), "ms"),
        "features.job_features_s": (total_s("features.job_features"), "s"),
        "pipelines.fit_gbt_s": (total_s("pipelines.fit_gbt"), "s"),
        "pipelines.fit_kmeans_s": (total_s("pipelines.fit_kmeans"), "s"),
        "pipelines.fit_rf_s": (total_s("pipelines.fit_rf"), "s"),
        "pipelines.save_s": (total_s("pipelines.save"), "s"),
        "pipelines.jobs": (total(fits, "jobs_total"), "count"),
        "registry.register_s": (total_s("registry.register"), "s"),
        "registry.latest_ms": (median_ms("registry.latest"), "ms"),
        "serving.load_s": (total_s("serving.load"), "s"),
        "serving.predict_ms": (median_ms("serving.predict"), "ms"),
        "serving.predict_jobs": (per_call(["serving.predict"], "jobs_total"), "count"),
        "serving.predict_tasks": (per_call(["serving.predict"], "tasks_total"), "count"),
        "streaming.drain_s": (total_s("streaming.drain"), "s"),
        "streaming.batches": (len(progress), "count"),
        "streaming.rows_per_batch": (
            sum(p["numInputRows"] for p in progress) / len(progress) if progress else 0.0, "rows"),
        "streaming.trigger_ms": (progress_ms("triggerExecution"), "ms"),
        "streaming.add_batch_ms": (progress_ms("addBatch"), "ms"),
        "streaming.latest_offset_ms": (progress_ms("latestOffset"), "ms"),
        "streaming.query_planning_ms": (progress_ms("queryPlanning"), "ms"),
        "streaming.wal_commit_ms": (progress_ms("walCommit"), "ms"),
        "streaming.sink_files": (found.get("sink_files", 0), "count"),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Job-platform benchmark (one workload)")
    ap.add_argument("--workload", required=True, choices=["retrain", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    t0 = time.perf_counter() - process_age()

    sys.dont_write_bytecode = True
    sys.path[:0] = [HERE, ROOT]
    import big_data_spark  # noqa: F401 -- fails here when the program is absent

    import workloads
    from checks import Checker
    from steps import SPAN_NAMES, Steps

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    inputs = os.path.join(work, "inputs")
    for d in ("tmp", "local", "duckdb"):
        os.makedirs(os.path.join(work, d))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    import tempfile
    tempfile.tempdir = os.environ["TMPDIR"]

    gen = subprocess.Popen([sys.executable, os.path.join(HERE, "gen.py"),
                            "--seed", str(args.seed), "--out", inputs,
                            "--spec", json.dumps(workloads.input_spec(args.workload))])
    spark = None
    try:
        t = time.perf_counter()
        spark = start_spark(work, cores, bool(args.trace))
        session_s = time.perf_counter() - t
        if gen.wait() != 0:
            raise RuntimeError(f"input generator exited with {gen.returncode}")
        steps = Steps(spark)
        tracer = None
        if args.trace:
            from spans import Tracer
            tracer = Tracer(spark)
            tracer.instrument(steps, SPAN_NAMES)
        run = workloads.Run(steps, work, inputs, args.seed, args.seconds)

        def mark_setup() -> None:
            run.setup_done = time.perf_counter() - t0

        out = workloads.WORKLOADS[args.workload](run, mark_setup)
        run.extra["tables"] = out["tables"]
        run.extra["rows_in"] = out.get("rows_in", 0)
        steps.op = "check"
        checker = Checker(os.path.join(work, "duckdb"))
        found = workloads.check(run, out, spark, checker)
        checker.close()
        for failure in checker.failures:
            print(f"CHECK FAILED: {failure}", file=sys.stderr)
        summary = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in workloads.summary(run).items()}
        print(f"round seconds: {[round(x, 3) for x in run.round_times]}; predict ms: "
              f"{[round(1000 * x) for x in run.predict_times]}", file=sys.stderr)
        if tracer is not None:
            print(f"end-to-end figures of this traced run: {json.dumps(summary)}", file=sys.stderr)
            rss = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
            tracer.resolve_jobs()
            metrics = layer_metrics(tracer, run, found, session_s, rss)
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            tracer.dump(os.path.join(HERE, "out", f"spans-{args.workload}-{args.seed}.jsonl"), t0)
        else:
            metrics = summary
        result = {"correct": not checker.failures, "attempted": run.attempted,
                  "failed": run.failed, "metrics": metrics}
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
