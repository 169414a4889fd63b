"""Physical-plan lint over the WHOLE registry — the automated half of the
per-round "would this survive 100×?" audit.

Two invariants every registered query's executed plan must satisfy:

1. No ``CartesianProduct``. A non-broadcast cartesian pairs every partition
   with every other — quadratic work that no cluster size survives. (A
   ``BroadcastNestedLoopJoin`` is tolerated: it at least asserts one side
   fit in executor memory — every engine use is a 1-row total or a bounded
   query/centroid set.)
2. No ``BatchEvalPython`` — row-at-a-time Python UDF evaluation. Python on
   a hot path must be Arrow-batched (``ArrowEvalPython`` / mapInPandas),
   which is 10-100× faster; ``_ROW_UDF_OK`` whitelists parity queries whose
   POINT is the reference's row-oriented contract.
"""

from __future__ import annotations

from quatrain_mapreduce_spark.registry import all_queries

# Queries whose fn() performs heavy side effects before returning a frame —
# real micro-batch streams or staged-directory writes — so "lint" here would
# re-run them and only ever see the read-side plan anyway (ADVICE r6). Each
# has a dedicated end-to-end test: test_streaming*, test_incremental*.
# Single shared copy (tools/plan_fingerprints.py imports the same set).
from quatrain_mapreduce_spark.planaudit import PLAN_BUILD_SKIP as _SKIP

# Queries allowed to show BatchEvalPython, each with the reason the
# row-oriented path is the semantic point, not an accident:
_ROW_UDF_OK = {
    # CREATE TEMPORARY FUNCTION parity: the reference's UDF contract is
    # row-at-a-time by definition (Hive GenericUDF.evaluate(row)); the
    # query demonstrates registration + SQL-text invocation, not throughput
    "udf_registered_sql",
}


def test_no_cartesian_product_and_no_row_python_udfs(spark, sf_dir):
    """One pass over every registered plan: lint the hard bans AND diff each
    query's movement/strategy fingerprint against PLAN_FINGERPRINTS.json, so
    an accidental extra shuffle or a broadcast join degrading to sort-merge
    fails here instead of on a cluster. Deliberate plan changes land with a
    refreshed snapshot: ``python tools/plan_fingerprints.py --refresh``."""
    import json
    import os

    from quatrain_mapreduce_spark.planaudit import fingerprint_query

    snap_path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                             "PLAN_FINGERPRINTS.json")
    with open(snap_path) as fh:
        snapshot = json.load(fh)

    qs = all_queries()
    # a DEREGISTERED query must not leave a stale snapshot entry behind —
    # the drift loop below only walks live queries, so without this check a
    # removed query's fingerprint would linger unnoticed (ADVICE r9)
    stale = set(snapshot) - set(qs) - set(_SKIP)
    assert not stale, f"PLAN_FINGERPRINTS.json entries for deregistered queries: {sorted(stale)}"
    cartesian, row_udf, errors, drifted = [], [], [], []
    for name, q in qs.items():
        if name in _SKIP:
            continue
        try:
            # persisted fragments left registered by earlier queries (or
            # earlier tests) would substitute InMemoryTableScan into this
            # plan and make the fingerprint order-dependent — clean catalog
            # per query, mirroring tools/plan_fingerprints.py
            spark.catalog.clearCache()
            df = q.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — collect, report all at once
            errors.append(f"{name}: {type(e).__name__}: {e}")
            continue
        if "CartesianProduct" in plan:
            cartesian.append(name)
        if "BatchEvalPython" in plan and name not in _ROW_UDF_OK:
            row_udf.append(name)
        # fingerprint_query = string features + max_live_rescan (the live
        # per-source scan multiplicity, cache-boundary aware) — an increase
        # in any count, including a NEW live rescan of the same table (the
        # unpersisted-branch-point class that cost c4_curation_pipeline 5x
        # at sf1), fails as drift against the reviewed snapshot
        fp = fingerprint_query(df)
        if fp != snapshot.get(name):
            drifted.append(f"{name}: snapshot={snapshot.get(name)} current={fp}")
    assert not errors, errors
    assert not cartesian, f"non-broadcast cartesian products: {cartesian}"
    assert not row_udf, f"row-at-a-time Python UDFs on data paths: {row_udf}"
    assert not drifted, (
        "plan-shape drift vs PLAN_FINGERPRINTS.json (if deliberate, refresh "
        "with `python tools/plan_fingerprints.py --refresh` in the same "
        "commit):\n" + "\n".join(drifted)
    )


def _counts_for(df):
    from quatrain_mapreduce_spark.planaudit import live_scan_counts

    return live_scan_counts(df)


def test_live_scan_counts_sees_subquery_embedded_scans(spark, sf_dir):
    """A table re-scanned inside a filter's scalar subquery is a live
    consumer like any other — pre-r11 the walk covered children() only and
    a subquery-embedded rescan was invisible to max_live_rescan (ADVICE r9
    residual; the walk now descends node.subqueries())."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    nation.createOrReplaceTempView("pa_nation_sq")
    df = spark.sql(
        "SELECT n_name FROM pa_nation_sq "
        "WHERE n_nationkey > (SELECT avg(n_nationkey) FROM pa_nation_sq)"
    )
    counts = _counts_for(df)
    nation_counts = [v for k, v in counts.items() if "nation.parquet" in k]
    assert nation_counts and max(nation_counts) >= 2, counts


def test_live_scan_counts_keys_by_full_path_not_basename(spark, tmp_path):
    """Two distinct sources sharing a basename (same table staged under two
    directories) must NOT merge into one inflated count — and the same
    path scanned twice must."""
    import pyspark.sql.functions as F

    a_dir, b_dir = str(tmp_path / "a" / "t.parquet"), str(tmp_path / "b" / "t.parquet")
    spark.range(10).withColumn("v", F.col("id") * 2).write.parquet(a_dir)
    spark.range(10).withColumn("v", F.col("id") * 3).write.parquet(b_dir)
    two_sources = spark.read.parquet(a_dir).unionAll(spark.read.parquet(b_dir))
    counts = _counts_for(two_sources)
    assert len(counts) == 2 and set(counts.values()) == {1}, counts

    same_twice = spark.read.parquet(a_dir).unionAll(spark.read.parquet(a_dir))
    counts2 = _counts_for(same_twice)
    assert len(counts2) == 1 and set(counts2.values()) == {2}, counts2


def test_unmatched_location_scans_merge_by_identity(spark, tmp_path, monkeypatch):
    """When a scan has no file root paths, identical scans must still
    MERGE (a genuine duplicate-scan regression on such a source stays
    visible) while distinct sources keep distinct keys — ADVICE r10: the
    old scan#<n> counter made every unmatched scan a singleton."""
    import pyspark.sql.functions as F

    from quatrain_mapreduce_spark import planaudit

    x_dir, y_dir = str(tmp_path / "x.parquet"), str(tmp_path / "y.parquet")
    spark.range(5).write.parquet(x_dir)
    spark.range(5).withColumn("w", F.lit(1)).write.parquet(y_dir)
    # every scan takes the no-file-relation fallback
    monkeypatch.setattr(planaudit, "_root_paths", lambda node: None)

    same_twice = spark.read.parquet(x_dir).unionAll(spark.read.parquet(x_dir))
    counts = planaudit.live_scan_counts(same_twice)
    assert len(counts) == 1, counts
    (key, n), = counts.items()
    assert key.startswith("scan~") and n == 2, counts

    mixed = spark.read.parquet(x_dir).join(spark.read.parquet(y_dir), "id")
    counts2 = planaudit.live_scan_counts(mixed)
    scan_keys = [k for k in counts2 if k.startswith("scan~")]
    assert len(scan_keys) == 2 and all(counts2[k] == 1 for k in scan_keys), counts2


def test_plans_neither_start_queries_nor_choose_checkpoints():
    """Bounded replay has one path, streaming/hop.py (replay, _drain,
    fold_versions): no plan module reads a stream, starts or triggers a
    query, or picks a checkpoint by hand."""
    import glob
    import os

    plans = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "quatrain_mapreduce_spark", "plans")
    banned = ("readStream", ".start(", "trigger(", "checkpointLocation")
    hits = []
    for path in sorted(glob.glob(os.path.join(plans, "**", "*.py"), recursive=True)):
        with open(path) as fh:
            for n, line in enumerate(fh, 1):
                hits += [f"{os.path.relpath(path, plans)}:{n}: {b}" for b in banned if b in line]
    assert not hits, "\n".join(hits)


def test_staging_decision_lives_in_staging_py():
    """Whether a staged artifact is complete and still valid is decided in
    one place, ``staging.staged`` (keyed on data and code, published by
    rename): no plan module checks for a path or names a completion
    marker, and no package file outside staging.py writes a marker."""
    import glob
    import os
    import re

    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "quatrain_mapreduce_spark")
    checks = ("os.path.exists", "os.path.isdir", "os.path.lexists", "_STAGED", "_DONE")
    touch = re.compile(r"""open\(.*["']w["']\)\.close\(\)""")
    hits = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, pkg)
        with open(path) as fh:
            for n, line in enumerate(fh, 1):
                if rel.startswith("plans" + os.sep):
                    hits += [f"{rel}:{n}: {c}" for c in checks if c in line]
                if rel != "staging.py" and touch.search(line):
                    hits.append(f"{rel}:{n}: marker write")
    assert not hits, "\n".join(hits)


def test_bucket_cap_lives_in_one_place():
    """The near-dup family drops oversized (band, key) buckets through one
    kernel, ``dedup._capped``: its comparison is the package's only
    ``<= max_bucket``."""
    import glob
    import os

    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "quatrain_mapreduce_spark")
    hits = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(path) as fh:
            hits += [f"{os.path.relpath(path, pkg)}:{n}" for n, line in enumerate(fh, 1)
                     if "<= max_bucket" in line]
    assert len(hits) == 1 and hits[0].startswith(os.path.join("operators", "dedup.py") + ":"), hits


def test_hadoop_fs_resolution_lives_in_one_place():
    """Every Hadoop FileSystem the package touches (the fold kernel's
    predecessor check, the pipeline's commit-log and ``kept/`` listings,
    ``hop._input_bytes``, ``sinks.dir_bytes``) is resolved by one helper,
    ``operators.util.hadoop_fs``: its call is the package's only
    ``getFileSystem(``."""
    import glob
    import os

    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "quatrain_mapreduce_spark")
    hits = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(path) as fh:
            hits += [f"{os.path.relpath(path, pkg)}:{n}" for n, line in enumerate(fh, 1)
                     if "getFileSystem(" in line]
    assert len(hits) == 1 and hits[0].startswith(os.path.join("operators", "util.py") + ":"), hits


def test_only_the_superstep_kernel_checkpoints():
    """Every iterative round loop runs through ``operators.graph._supersteps``
    (one eager checkpoint per round, the superseded one released): no other
    package file calls ``localCheckpoint(``."""
    import glob
    import os

    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "quatrain_mapreduce_spark")
    hits = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, pkg)
        if rel == os.path.join("operators", "graph.py"):
            continue
        with open(path) as fh:
            hits += [f"{rel}:{n}" for n, line in enumerate(fh, 1) if "localCheckpoint(" in line]
    assert not hits, hits


def test_no_parameter_nothing_sets_and_no_function_nothing_reaches():
    """No knob that nothing sets, no function that nothing reaches. An AST
    scan of the package fails on either of:

    1. a defaulted parameter of a package function that no call in the
       package, ``tools/``, ``tests/``, ``perfbench/`` or
       ``__spark_entry__.py`` passes, by keyword or by position;
    2. an undecorated top-level package function or class whose name no
       package, ``tools/`` or ``perfbench/`` code references.

    The scan is a heuristic. A call ``f(...)`` or ``x.f(...)`` is matched to
    the def by the name ``f`` alone; a class's ``__init__`` goes by the
    class name; method positions count after ``self``/``cls``. A name
    defined more than once in the package (nested defs included) is skipped.
    A call with ``*args`` or ``**kwargs`` counts as setting every parameter.
    Any ``Name`` or attribute of that name counts as a reference. Decorated
    functions (registered queries) are reached through their decorator."""
    import ast
    import collections
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def trees(*places):
        for place in places:
            p = os.path.join(root, place)
            paths = [p] if p.endswith(".py") else sorted(
                glob.glob(os.path.join(p, "**", "*.py"), recursive=True))
            for path in paths:
                with open(path) as fh:
                    yield os.path.relpath(path, root), ast.parse(fh.read(), path)

    pkg = dict(trees("quatrain_mapreduce_spark"))
    defs = collections.defaultdict(list)
    for rel, tree in pkg.items():
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[node.name].append((rel, node))
            elif isinstance(node, ast.ClassDef):
                defs[node.name] += [(rel, b) for b in node.body
                                    if isinstance(b, ast.FunctionDef) and b.name == "__init__"]
    calls = collections.defaultdict(list)
    for _, tree in trees("quatrain_mapreduce_spark", "tools", "tests", "perfbench",
                         "__spark_entry__.py"):
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                calls[name].append(node)

    def sets(call, arg, pos):
        return (any(isinstance(a, ast.Starred) for a in call.args)
                or any(k.arg in (None, arg) for k in call.keywords)
                or (pos is not None and len(call.args) > pos))

    n_params, unset = 0, []
    for name, ds in defs.items():
        if len(ds) != 1:
            continue
        rel, fn = ds[0]
        a = fn.args
        pos = a.posonlyargs + a.args
        skip = 1 if pos and pos[0].arg in ("self", "cls") else 0
        params = [(p.arg, i - skip) for i, p in enumerate(pos)][len(pos) - len(a.defaults):]
        params += [(k.arg, None) for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
        n_params += len(params)
        unset += [f"{rel}:{fn.lineno} {name}({arg}=)" for arg, i in params
                  if not any(sets(c, arg, i) for c in calls[name])]

    refs = collections.Counter()
    for _, tree in trees("quatrain_mapreduce_spark", "tools", "perfbench", "__spark_entry__.py"):
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                refs[node.id] += 1
            elif isinstance(node, ast.Attribute):
                refs[node.attr] += 1
    unreached = [f"{rel}:{n.lineno} {n.name}" for rel, tree in pkg.items() for n in tree.body
                 if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                 and not n.decorator_list and not refs[n.name]]
    print(f"{n_params} defaulted parameters, every one set by some call")
    assert not unset, "defaulted parameters no call sets (make them constants):\n" + "\n".join(unset)
    assert not unreached, "package functions/classes nothing references:\n" + "\n".join(unreached)
