"""Registry smoke: every registered query executes at sf0.001 and returns a
stable schema, and the ``__spark_entry__`` adapter exposes the registry.
Oracle agreement is checked by tools/check_oracle.py at sf0.01; here we pin
that nothing in queries() crashes on a plain session.
"""

from __future__ import annotations

import pytest

from quatrain_mapreduce_spark.registry import all_queries

QUERIES = all_queries()

# slow end-to-end streaming/pipe queries exercised in their dedicated tests
_SKIP = {"stream_tumbling_count", "online_agg_events"}


@pytest.mark.parametrize("name", sorted(n for n in QUERIES if n not in _SKIP))
def test_query_runs(spark, sf_dir, name):
    df = QUERIES[name].fn(spark, sf_dir)
    assert df.columns, f"{name} returned no columns"
    n = df.count()
    assert n >= 0
    # Persisted frames (BFS frontiers, LSH shingle branches, staged views)
    # are dead weight once the query is counted; without this, ~240 smoke
    # runs accumulate cache in the shared session until the heaviest query
    # OOMs the suite JVM (graph_bfs_reach, flaky at ~500-test scale).
    spark.catalog.clearCache()


def test_every_oracle_query_aliases_all_columns():
    """The driver compares columns by name — every oracle must SELECT the
    same aliases the Spark side emits (registry discipline)."""
    for name, q in QUERIES.items():
        if q.oracle is not None:
            assert "SELECT" in q.oracle.upper(), name


def test_adapter_exposes_registry_and_rejects_duplicates():
    """``__spark_entry__`` hands out exactly the registered queries and the
    oracled subset, and ``register`` refuses a name that is already taken."""
    import importlib.util
    import os

    from quatrain_mapreduce_spark.registry import REGISTRY, register

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "__spark_entry__.py")
    spec = importlib.util.spec_from_file_location("__spark_entry__", path)
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    assert entry.queries() == {n: q.fn for n, q in REGISTRY.items()}
    assert entry.oracle_sql() == {n: q.oracle for n, q in REGISTRY.items() if q.oracle is not None}
    taken = next(iter(REGISTRY))
    before = REGISTRY[taken]
    with pytest.raises(ValueError, match="duplicate query name"):
        register(taken)(lambda spark, sf_dir: None)
    assert REGISTRY[taken] is before
