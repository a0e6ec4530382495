"""Crawl benchmark: one run of one workload.

    python3 perfbench/run.py --workload crawl_polite --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. Builds the seed's inputs, starts Spark as
``local[<cores>]`` from this one driver process, measures the workload's
closed loop for ``--seconds``, checks the outputs and prints ONE JSON
line last on stdout::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports every end-to-end metric, ``--trace 1`` every
per-layer metric (Spark's event log on, spans written to
``.perfbench/traces/``). Each run also leaves an environment and
detail record in ``.perfbench/runs/``. Everything the run writes stays
under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def env_record(seed: int) -> dict:
    import pandas
    import pyarrow
    import pyspark

    commit = "unknown"
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.isfile(head):
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            path = os.path.join(ROOT, ".git", ref[5:])
            if os.path.isfile(path):
                with open(path) as f:
                    commit = f.read().strip()
        else:
            commit = ref
    return {
        "nproc": cores(), "loadavg": os.getloadavg(),
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__, "python": platform.python_version(),
        "commit": commit, "seed": seed,
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def prepare_env(workdir: str) -> None:
    """Make ``crawl4ai_spark`` and ``perfbench`` importable here and in
    the Spark JVM's Python workers, which inherit this environment, and
    keep temporary files inside ``workdir``."""
    import tempfile

    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())


def spark_conf(workdir: str, traced: bool) -> dict:
    tmp = os.path.join(workdir, "tmp")
    # the driver heap is fixed at its cap (-Xms = spark.driver.memory):
    # a heap left to grow on demand ends each run at a size that varies
    # by 10-20% with GC timing, which would swamp peak_rss_mb
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms2g",
    }
    if traced:
        events = os.path.join(workdir, "events")
        os.makedirs(events, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + events
        # one plain JSON-lines file the trace reader can parse
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def wait_children(timeout: float = 30.0) -> None:
    """Wait until no descendant process is left (Python workers exit
    once the JVM has gone); kill any that outlive ``timeout``."""
    from perfbench.trace import MemorySampler

    deadline = time.monotonic() + timeout
    while True:
        pids = MemorySampler.descendants()
        if not pids:
            return
        if time.monotonic() > deadline:
            for pid in pids:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            time.sleep(0.5)
            return
        time.sleep(0.2)


def event_layers(log_dir: str, workload: str, run) -> dict:
    """Per-layer numbers from Spark's event log: task totals over the
    timed rounds or passes, the scrape pass's Arrow traffic and task
    skew, and crawl round sections by the program's job groups."""
    from perfbench import trace

    log = trace.read_event_log(log_dir)
    units = run.windows["units"]
    out = trace.task_totals([t for lo, hi in units
                             for t in trace.in_window(log["tasks"], lo, hi)])
    if workload != "crawl_polite":
        return out
    jobs = {j["id"] for lo, hi in run.windows["scrape"]
            for j in trace.in_window(log["jobs"], lo, hi)}
    py = [s for s in log["stages"].values()
          if s["job"] in jobs and s["py_in"] > 0]
    py_ids = {s["id"] for s in py}
    out["scrape.py_bytes_in"] = sum(s["py_in"] for s in py)
    out["scrape.py_bytes_out"] = sum(s["py_out"] for s in py)
    out["scrape.task_skew"] = trace.skew(
        [t for t in log["tasks"] if t["stage"] in py_ids])

    groups = run.windows["groups"]
    sections: dict[str, float] = {}
    n_jobs, gaps = 0, []
    parents = [s["id"] for s in run.tracer.spans if s["name"] == "round"]
    for (lo, hi), parent in zip(units, parents):
        jobs = trace.in_window(log["jobs"], lo, hi)
        n_jobs += len(jobs)
        gaps.append(hi - lo - trace.union_length(
            [(j["start"], j["end"]) for j in jobs], lo, hi))
        for j in jobs:
            sec = groups.get(j["group"], "other")
            sections[sec] = sections.get(sec, 0.0) + j["end"] - j["start"]
            run.tracer.add(f"job.{sec}", j["start"], j["end"], parent)
    n = len(units)
    out.update({
        "frontier.results_s": sections.get("results", 0.0) / n,
        "frontier.frontier_s": sections.get("frontier", 0.0) / n,
        "frontier.metrics_s": sections.get("metrics", 0.0) / n,
        "frontier.jobs_per_round": n_jobs / n,
        "frontier.driver_gap_s": statistics.mean(gaps),
        "seen.section_s": sections.get("seen", 0.0) / n,
        "politeness.section_s": sections.get("politeness", 0.0) / n,
    })
    return out


def tracing_overhead(workload: str, seed: int, traced_p50: float):
    """Traced ``round_s_p50`` minus that of the latest untraced run of
    the same workload and seed recorded here, or None without one."""
    import glob

    runs = glob.glob(os.path.join(STATE, "runs", f"{workload}-s{seed}-t0-*"))
    for path in sorted(runs, key=os.path.getmtime, reverse=True):
        with open(path) as f:
            rec = json.load(f)
        if rec.get("correct"):
            base = rec["metrics"]["round_s_p50"]
            return {"round_s_p50_traced": traced_p50,
                    "round_s_p50_untraced": base,
                    "overhead_s": traced_p50 - base,
                    "untraced_run": os.path.basename(path)}
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "crawl4ai_spark", "__init__.py")):
        print("crawl4ai_spark not found next to perfbench/", file=sys.stderr)
        return 2

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    workdir = os.path.join(STATE, "work", tag)
    shutil.rmtree(workdir, ignore_errors=True)
    prepare_env(workdir)

    from perfbench import trace, workloads

    record = {"env": env_record(args.seed), "workload": args.workload,
              "seconds": args.seconds, "trace": args.trace}
    print(f"perfbench: {json.dumps(record['env'])}", file=sys.stderr)
    tracer = trace.Tracer()
    spark = None
    try:
        with trace.MemorySampler() as mem:
            from crawl4ai_spark.session import get_spark

            with tracer.span("session"):
                t0 = time.perf_counter()
                spark = get_spark(
                    parallelism=cores(), app_name=f"perfbench-{args.workload}",
                    extra_conf=spark_conf(workdir, bool(args.trace)))
                session_s = time.perf_counter() - t0
            run = workloads.Run(
                spark=spark, workdir=workdir, seed=args.seed,
                seconds=args.seconds, traced=bool(args.trace), tracer=tracer,
                cores=cores(), session_s=session_s)
            with tracer.span("workload"):
                res = workloads.WORKLOADS[args.workload](run)
            stop_spark(spark)
            spark = None
        wait_children()
        res.e2e["setup_s"] = res.setup_s
        res.e2e["peak_rss_mb"] = mem.peak_bytes / 2**20
        res.details["peak_mb_by_command"] = {
            k: v / 2**20 for k, v in mem.peak_parts.items()}
        res.e2e["ok_frac"] = ((res.attempted - res.failed) / res.attempted
                              if res.correct else 0.0)
        if args.trace:
            synth_s = sum(s["end"] - s["start"] for s in tracer.spans
                          if s["name"] == "synth")
            res.layers.update({"session.start_s": session_s,
                               "synth.pages_s": synth_s})
            res.layers.update(event_layers(os.path.join(workdir, "events"),
                                           args.workload, run))
        want = bench["per_layer"] if args.trace else bench["end_to_end"]
        values = res.layers if args.trace else res.e2e
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in want}
        span_s: dict[str, float] = {}
        for sp in tracer.spans:
            span_s[sp["name"]] = (span_s.get(sp["name"], 0.0)
                                  + sp["end"] - sp["start"])
        record.update({"span_s": span_s, "correct": res.correct,
                       "attempted": res.attempted, "failed": res.failed,
                       "details": res.details,
                       "metrics": {k: v["value"] for k, v in metrics.items()}})
        if args.trace:
            overhead = tracing_overhead(args.workload, args.seed,
                                        res.e2e["round_s_p50"])
            print(f"perfbench: tracing overhead {overhead}", file=sys.stderr)
            trace_path = os.path.join(STATE, "traces", f"{tag}.json")
            tracer.write(trace_path, {"workload": args.workload,
                                      "seed": args.seed,
                                      "layers": record["metrics"],
                                      "e2e": res.e2e,
                                      "tracing_overhead": overhead})
            record["trace_file"] = os.path.relpath(trace_path, ROOT)
    finally:
        if spark is not None:
            stop_spark(spark)
            wait_children()
        shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    with open(os.path.join(STATE, "runs", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"correct": res.correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
