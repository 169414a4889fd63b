"""The benchmark's workloads. Each one times calls into the engine's public
functions (``session.get_spark``, ``catalog.load_table``, the registry's
``Query.fn``, execution into the ``noop`` sink, the ``streaming.hop``
drains) and checks the answers against DuckDB outside the timed region."""

from __future__ import annotations

import importlib.util
import itertools
import os
import random
import sys
import tempfile
import time
from datetime import datetime

import duckdb
from pyspark.sql import Observation
from pyspark.sql import functions as F

from perfbench import datagen
from perfbench.probes import SparkCounters, Spans, StreamProgress
from perfbench.stats import Tally, median, tail

# Short oracle-checked queries of plans/relational.py, plans/hive_sql.py and
# plans/mrlib.py (0.3-0.8 s each at sf0.1 on 4 CPUs), plus the three write
# queries, so a read-path gain that costs writes shows. The whole oracled
# set of those modules takes over 60 s a pass, more than a run can spend.
SQL_MIX = (
    "join_override", "merge_upsert_orders", "sql_case_sensitivity",
    "sql_grouping_sets", "sql_ddl_roundtrip", "sql_insert_overwrite_partition",
    "inverse_map", "wordcount",
)
HOP_SLICES = 2
SETUP_REPS = 3


class Run:
    """One benchmark run: the session, the tally, spans when traced, and
    what the result line and the detail line report."""

    def __init__(self, root: str, state: str, base: str, seed: int, seconds: float,
                 trace: bool, t_process: float, tree) -> None:
        self.root, self.state, self.base, self.tree = root, state, base, tree
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.t_process = t_process
        self.tally = Tally()
        self.spans = Spans()
        self.spark = None
        self.detail: dict = {"seed": seed}
        self.layers: dict[str, float] = {}
        self.op_ids = itertools.count()
        self.overhead_s = 0.0

    # --- session -------------------------------------------------------
    def start_session(self) -> None:
        from quatrain_mapreduce_spark.session import get_spark

        with self.spans.span("session.start"):
            if self.spark is not None:
                self.spark.stop()
            self.spark = get_spark()
            self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        """Stop the session and the driver JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def setup(self, prepare, gen_s: float = 0.0):
        """Set up ``SETUP_REPS`` times: (re)start the session, then
        ``prepare(rep)`` (warm-up and staging). The first rep runs from
        process start, less the seed-generated inputs' build time ``gen_s``.
        Returns the median setup time and the last rep's state."""
        times, state = [], None
        for rep in range(SETUP_REPS):
            t0 = self.t_process if rep == 0 else time.perf_counter()
            with self.spans.span("setup"):
                self.start_session()
                state = prepare(rep)
            times.append(time.perf_counter() - t0 - (gen_s if rep == 0 else 0.0))
        self.detail["setup_s_each"] = times
        self.layers["session.start_s"] = median(
            [s["dur_s"] for s in self.spans.done if s["name"] == "session.start"])
        return median(times), state

    # --- timed operations -----------------------------------------------
    def timed_batch_op(self, name: str, build, expect_rows: int | None) -> tuple[float, int]:
        """Build a DataFrame with ``build()`` and execute it into the
        ``noop`` sink; return the latency and the row count (observed on
        the way to the sink). A row count unlike ``expect_rows`` fails."""
        group = f"perfbench-{next(self.op_ids)}"
        obs = Observation(group)
        t0 = time.perf_counter()
        with self.spans.span("op", op=name, group=group):
            if self.trace:
                self.spark.sparkContext.setJobGroup(group, name)
                self.overhead_s += time.perf_counter() - t0
            with self.spans.span("plans.build"):
                df = build().observe(obs, F.count(F.lit(1)).alias("rows"))
            if self.trace:
                # extra work: the sink plans the query again, so this span
                # counts as tracing overhead too
                with self.spans.span("plans.optimize") as s:
                    df._jdf.queryExecution().executedPlan()
                self.overhead_s += s["dur_s"]
            with self.spans.span("exec"):
                df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        rows = obs.get["rows"]
        if expect_rows is not None:
            self.tally.check(rows == expect_rows, f"{name}: {rows} rows, gate saw {expect_rows}")
        return dt, rows

    def timed_loop(self, ops_for_pass) -> dict:
        """Run whole passes of ``ops_for_pass(p)`` while fewer than
        ``seconds`` have passed, so every figure covers the same mix. Each
        op returns ``(key, seconds)`` samples; the key names the same
        operation in every pass."""
        passes: list[dict] = []
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < self.seconds:
            tp, cpu0 = time.perf_counter(), self.tree.cpu_s()
            got: dict = {}
            with self.spans.span("pass"):
                for op in ops_for_pass(len(passes)):
                    try:
                        got.update(op())
                    except Exception as e:  # noqa: BLE001 - counted, not fatal
                        self.tally.fail(f"{getattr(op, '__name__', 'op')}: {e!r}")
            passes.append({"wall_s": time.perf_counter() - tp,
                           "cpu_s": self.tree.cpu_s() - cpu0, "ops": got})
        return {"passes": passes, "wall_s": time.perf_counter() - t_start}

    # --- traced-run counters ---------------------------------------------
    def batch_layers(self) -> None:
        """Per-op means of Spark's counters and of the op spans."""
        spans = self.spans.done
        ops = [s for s in spans if s["name"] == "op"]
        n = max(1, len(ops))
        counters = SparkCounters(self.spark)
        stages = counters.stage_table()
        totals: dict[str, float] = {}
        skews = []
        for s in ops:
            c = counters.group(s["group"], stages)
            if "exec.task_skew" in c:
                skews.append(c.pop("exec.task_skew"))
            for k, v in c.items():
                totals[k] = totals.get(k, 0.0) + v
        for k, v in totals.items():
            self.layers[k] = v / n
        op_s = sum(s["dur_s"] for s in ops)
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
        self.layers["exec.cpu_util"] = totals.get("exec.executor_cpu_s", 0.0) / (op_s * cpus) if op_s else 0.0
        self.layers["exec.task_skew"] = median(skews) if skews else 0.0

        def per_op(name: str) -> float:
            return sum(s["dur_s"] for s in spans if s["name"] == name and "op" in s["path"]) / n

        build = per_op("plans.build")
        catalog = per_op("catalog.load")
        self.layers["catalog.load_s"] = catalog
        self.layers["catalog.load_calls"] = sum(
            1 for s in spans if s["name"] == "catalog.load" and "op" in s["path"]) / n
        self.layers["plans.build_s"] = build - catalog
        self.layers["plans.optimize_s"] = per_op("plans.optimize")
        self.layers["plans.build_share"] = n * build / op_s if op_s else 0.0
        self.layers["trace.overhead_pct"] = 100 * self.overhead_s / op_s if op_s else 0.0


def _check_oracle_module(root: str):
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _duck(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def oracle_gate(run: Run, co, con, name: str, sdf, atol: float = 0.0) -> int:
    """Collect ``sdf`` and compare it with the query's DuckDB oracle the way
    ``tools/check_oracle.py`` does. Returns the Spark row count."""
    from quatrain_mapreduce_spark.registry import REGISTRY

    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    oracle = REGISTRY[name].oracle
    res = con.execute(oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    problems = co.dtype_problems(sdf, con.execute(oracle).fetchdf())
    if sorted(scols) != sorted(dcols):
        problems.append(f"columns {sorted(scols)} vs {sorted(dcols)}")
    if len(srows) != len(drows):
        problems.append(f"rows {len(srows)} vs {len(drows)}")
    elif not problems:
        bad = sum(1 for a, b in zip(co.normalize(srows, scols), co.normalize(drows, dcols))
                  if len(a) != len(b) or not all(co.values_equal(x, y, atol) for x, y in zip(a, b)))
        if bad:
            problems.append(f"{bad} rows differ")
    run.tally.check(not problems, f"oracle {name}: {'; '.join(problems)}")
    return len(srows)


def _patch_catalog(run: Run) -> None:
    """Time every ``catalog.load_table`` call (traced run only) by wrapping
    the function wherever the engine's modules imported it."""
    from quatrain_mapreduce_spark import catalog

    orig = catalog.load_table

    def load_table(*a, **kw):
        with run.spans.span("catalog.load"):
            return orig(*a, **kw)

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("quatrain_mapreduce_spark") \
                and getattr(mod, "load_table", None) is orig:
            mod.load_table = load_table


# --------------------------------------------------------------------------
def sql_interactive(run: Run) -> dict:
    from quatrain_mapreduce_spark.catalog import TABLES, load_table
    from quatrain_mapreduce_spark.registry import all_queries

    queries = all_queries()
    sf = run.base

    def prepare(rep: int):
        with run.spans.span("catalog.warm"):
            for t in TABLES:
                load_table(run.spark, sf, t).schema
        return None

    setup_s, _ = run.setup(prepare)
    if run.trace:
        _patch_catalog(run)
    co = _check_oracle_module(run.root)
    con = _duck(sf, TABLES)
    expect = {}
    with run.spans.span("gate"):
        for name in SQL_MIX:
            try:
                expect[name] = oracle_gate(run, co, con, name, queries[name].fn(run.spark, sf))
            except Exception as e:  # noqa: BLE001
                run.tally.fail(f"gate {name}: {e!r}")
    # one more, untimed pass: the first execution after the gate still
    # spends seconds of CPU compiling hot code, and op_cpu_s should not
    # depend on when the JIT gets to it
    with run.spans.span("warmup"):
        for name in SQL_MIX:
            try:
                queries[name].fn(run.spark, sf).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                run.tally.fail(f"warm-up {name}: {e!r}")
    rng = random.Random(run.seed)

    def ops_for_pass(p: int):
        order = list(SQL_MIX)
        rng.shuffle(order)
        return [(lambda n=n: [(n, run.timed_batch_op(n, lambda: queries[n].fn(run.spark, sf),
                                                     expect.get(n))[0])])
                for n in order]

    res = run.timed_loop(ops_for_pass)
    return {"setup_s": setup_s, **res}


def hop_online_agg(run: Run) -> dict:
    from quatrain_mapreduce_spark import staging
    from quatrain_mapreduce_spark.streaming import hop

    t = time.perf_counter()
    data, manifest = datagen.cached(os.path.join(run.state, "cache"), run.base, run.seed)
    gen_s = time.perf_counter() - t
    run.detail["inputs"] = manifest
    total = manifest["events"]["rows"]
    tmp_root = tempfile.gettempdir()

    def prepare(rep: int):
        # a fresh temp root per rep, so the staging really rebuilds
        tempfile.tempdir = os.path.join(tmp_root, f"setup{rep}")
        os.makedirs(tempfile.tempdir, exist_ok=True)
        with run.spans.span("staging.build"):
            src = staging.stage_event_slices(run.spark, data, HOP_SLICES, ordered_mtime=True)
        return src, run.spark.read.parquet(src).schema

    setup_s, (src, schema) = run.setup(prepare, gen_s)
    run.layers["staging.build_s"] = median(
        [s["dur_s"] for s in run.spans.done if s["name"] == "staging.build"])
    listener = StreamProgress()
    run.spark.streams.addListener(listener)

    def aggs():
        return [F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value")]

    con = _duck(data, ("events",))
    con.execute("SET TimeZone = 'UTC'")
    exact = {r[0]: (r[1], r[2]) for r in con.execute(
        "SELECT event_type, count(*), round(sum(value), 2) FROM events GROUP BY 1").fetchall()}
    con.execute(
        "CREATE TABLE windows AS SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS ws, event_type, "
        "count(*) AS cnt, round(sum(value), 2) AS sum_value FROM events GROUP BY 1, 2")
    first_snapshot, drained, batches = [], [], []

    def same(got: dict, want: dict) -> bool:
        return got.keys() == want.keys() and all(
            got[k][0] == want[k][0] and abs(got[k][1] - want[k][1]) <= 0.011 for k in want)

    def batch_ms(run_id: str, n: int) -> list[float]:
        prog = listener.wait_for(run_id, n)
        return [p["durationMs"]["triggerExecution"] for p in prog]

    def incremental():
        known = set(listener.started)
        t_call = time.time()
        with run.spans.span("op", op="run_incremental") as span:
            out = hop.OnlineAggregator(run.spark, src, schema,
                                       lambda df: df.groupBy("event_type").agg(*aggs()),
                                       total).run_incremental()
        span["group"] = rid = listener.new_run(known)
        final = {r[0]: (r[1], r[2]) for r in out.collect()}
        run.tally.check(same(final, exact), "run_incremental: final snapshot != batch answer")
        batches.extend(batch_ms(rid, HOP_SLICES))
        p0 = listener.for_run(rid)[0]
        end0 = datetime.fromisoformat(p0["timestamp"].replace("Z", "+00:00")).timestamp() \
            + p0["durationMs"]["triggerExecution"] / 1e3
        first_snapshot.append(end0 - t_call)
        return [("run_incremental", span["dur_s"])]

    def drain():
        known = set(listener.started)
        t_call = time.perf_counter()
        with run.spans.span("op", op="drain_to_parquet") as span:
            stream = run.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
            w = hop.tumbling_window_agg(stream, "ts", ["event_type"], aggs())
            out = hop.drain_to_parquet(w, "perfbench_tw")
        dt = time.perf_counter() - t_call
        span["group"] = rid = listener.new_run(known)
        # every window the drain emitted must be exact, and every window up
        # to the last emitted one must be there (later ones stay open under
        # the watermark)
        files = ", ".join(f"'{f.removeprefix('file://')}'" for f in out.inputFiles())
        got, want, same_rows = con.execute(f"""
            WITH got AS (SELECT CAST(win."start" AS TIMESTAMP) AS ws, event_type, cnt, sum_value
                         FROM read_parquet([{files}]))
            SELECT (SELECT count(*) FROM got),
                   (SELECT count(*) FROM windows WHERE ws <= (SELECT max(ws) FROM got)),
                   (SELECT count(*) FROM got JOIN windows w USING (ws, event_type)
                    WHERE got.cnt = w.cnt AND abs(got.sum_value - w.sum_value) <= 0.011)
        """).fetchone()
        run.tally.check(got == want == same_rows and got > 0,
                        f"drain_to_parquet: {got} windows, {want} expected, {same_rows} equal")
        drained.append(total / dt)
        batches.extend(batch_ms(rid, HOP_SLICES))
        return [("drain_to_parquet", dt)]

    res = run.timed_loop(lambda p: [incremental, drain])
    prog = [p for p in listener.progress if p.get("numInputRows", 0) > 0]
    dur = lambda p, *ks: sum(p["durationMs"].get(k, 0) for k in ks)  # noqa: E731
    state = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    run.layers.update({
        "streaming.batches": len(prog) / max(1, len(res["passes"])),
        "streaming.add_batch_ms": median([dur(p, "addBatch") for p in prog]),
        "streaming.commit_ms": median([dur(p, "walCommit", "commitOffsets") for p in prog]),
        "streaming.offset_ms": median([dur(p, "latestOffset", "getBatch") for p in prog]),
        "streaming.planning_ms": median([dur(p, "queryPlanning") for p in prog]),
        "streaming.state_rows": median([s["numRowsTotal"] for s in state]) if state else 0.0,
        "streaming.state_memory_bytes": median([s["memoryUsedBytes"] for s in state]) if state else 0.0,
        "streaming.state_commit_ms": median([s["commitTimeMs"] for s in state]) if state else 0.0,
        "streaming.first_snapshot_s": median(first_snapshot) if first_snapshot else 0.0,
    })
    p90, v90, n = tail(batches, 90)
    run.detail.update(stream_first_snapshot_s=run.layers["streaming.first_snapshot_s"],
                      stream_batch_p50_ms=median(batches),
                      stream_batch_tail_ms={"percentile": p90, "value": v90, "samples": n},
                      stream_events_per_s=median(drained) if drained else None)
    run.spark.streams.removeListener(listener)
    return {"setup_s": setup_s, **res}


WORKLOADS = {
    "sql_interactive": sql_interactive,
    "hop_online_agg": hop_online_agg,
}
