"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload sql_interactive --seed 1 --seconds 6 --trace 0

Run from the repository root. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it is a detail object (per-workload metric names, sample
counts, percentiles used, span self times, effective Spark confs). The exit
code is 0 only when every operation succeeded with a correct answer.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("sql_interactive", "hop_online_agg")

END_TO_END = {  # name: unit
    "setup_s": "s", "op_cpu_s": "s",
}
PER_LAYER = {
    "session.start_s": "s", "staging.build_s": "s",
    "catalog.load_s": "s", "catalog.load_calls": "count",
    "plans.build_s": "s", "plans.build_share": "ratio", "plans.optimize_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.scheduler_delay_s": "s",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.gc_s": "s",
    "exec.cpu_util": "ratio", "exec.task_skew": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "scan.input_bytes": "bytes", "scan.input_rows": "rows",
    "sinks.output_bytes": "bytes", "sinks.output_rows": "rows",
    "streaming.batches": "count", "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms", "streaming.offset_ms": "ms",
    "streaming.planning_ms": "ms", "streaming.state_rows": "rows",
    "streaming.state_memory_bytes": "bytes", "streaming.state_commit_ms": "ms",
    "streaming.first_snapshot_s": "s", "process.peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
}


def host_env(run_dir: str, trace: bool) -> dict[str, str]:
    """Fit the session to this host and keep every file the run writes
    inside ``run_dir``. Every other engine default stays as it is."""
    with open("/proc/meminfo") as f:
        mem_mb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal")) // 1024
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # a sixth of the host's memory (the engine's default asks for 32g)
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1024, mem_mb // 6)}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    }
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ.update(env)
    if trace:
        os.environ["SPARK_GRAFT_UI"] = "true"  # the REST API serves stage metrics
    else:
        os.environ.pop("SPARK_GRAFT_UI", None)
    tempfile.tempdir = None
    return env


def end_to_end(res: dict, detail: dict) -> dict[str, tuple[float, str]]:
    """The bounded metrics and, in ``detail``, the wall-time figures: the
    latency of an op is its median over the passes, ``op_p50_s`` the median
    over ops, and ``ops_per_s`` a pass's op count over the median pass."""
    from perfbench.stats import median, tail

    passes = res["passes"]
    per_op = {k: median([p["ops"][k] for p in passes if k in p["ops"]])
              for k in passes[0]["ops"]}
    samples = [v for p in passes for v in p["ops"].values()]
    p90, v90, n = tail(samples, 90)
    pass_s = median([p["wall_s"] for p in passes])
    detail.update(
        passes=len(passes), measured_s=res["wall_s"], samples=n,
        pass_s_each=[p["wall_s"] for p in passes], pass_cpu_s_each=[p["cpu_s"] for p in passes],
        # the tail is reported only where enough samples lie beyond it
        op_tail={"percentile": p90, "value_s": v90},
        op_median_s={str(k): round(v, 4) for k, v in per_op.items()})
    # wall-time figures move with the CPU time a busy host steals from this
    # machine, so they are reported here rather than as bounded metrics
    detail.update(op_p50_s=median(list(per_op.values())), ops_per_s=len(per_op) / pass_s)
    # CPU from the first pass only: every run has one, right after the
    # gate's warm-up, while later passes run with more code compiled and
    # how many fit in a run depends on the host's speed
    values = {"setup_s": res["setup_s"], "op_cpu_s": passes[0]["cpu_s"] / len(passes[0]["ops"])}
    return {k: (values[k], u) for k, u in END_TO_END.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "quatrain_mapreduce_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # the engine's own sf0.1 test tables, whatever SPARK_GRAFT_SF_DIR says
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    from quatrain_mapreduce_spark.catalog import DEFAULT_SF_DIR as base_data
    if not os.path.isdir(base_data):
        print(f"perfbench: base test data {base_data} is missing", file=sys.stderr)
        return 2
    from perfbench import workloads
    from perfbench.probes import ProcessTree
    from perfbench.stats import result_line

    os.makedirs(STATE, exist_ok=True)
    for old in os.listdir(STATE):  # left behind by a killed run
        if old.startswith("run-") and not os.path.exists(f"/proc/{old[4:]}"):
            shutil.rmtree(os.path.join(STATE, old), ignore_errors=True)
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = host_env(run_dir, bool(args.trace))
    # the warehouse, metastore and derby.log land in the working directory
    os.chdir(run_dir)
    tree = ProcessTree().start()
    run = workloads.Run(ROOT, STATE, base_data, args.seed, args.seconds,
                        bool(args.trace), T_PROCESS, tree)
    res = None
    try:
        res = workloads.WORKLOADS[args.workload](run)
        if args.trace:
            run.batch_layers()
        conf = dict(run.spark.sparkContext.getConf().getAll())
        run.detail["spark_conf"] = {k: v for k, v in sorted(conf.items())
                                    if k.startswith(("spark.sql", "spark.driver.memory",
                                                     "spark.master", "spark.ui.enabled"))}
    finally:
        run.stop()
        run.layers["process.peak_rss_mb"] = tree.stop()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    if res is None or not res["passes"] or not res["passes"][0]["ops"]:
        print(f"perfbench: no timed operation completed: {run.tally.errors}", file=sys.stderr)
        return 1
    metrics = end_to_end(res, run.detail)
    run.detail.update(workload=args.workload, env=env, failed_ratio=run.tally.ratio,
                      peak_rss_mb=run.layers["process.peak_rss_mb"],
                      errors=run.tally.errors)
    run.detail["end_to_end"] = {k: v for k, (v, _) in metrics.items()}
    if args.trace:
        run.detail["spans"] = run.spans.summary()
        metrics = {k: (run.layers.get(k, 0.0), u) for k, u in PER_LAYER.items()}
    print(json.dumps(run.detail, default=str))
    print(result_line(run.tally, metrics), flush=True)
    return 0 if run.tally.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
