"""The rows-only queries give the same rows whatever the shuffle partitioning.

The 13 registered queries without a DuckDB oracle (float codebooks, hash
families, iterative fixpoints) are run at sf0.01 twice in the suite's
session: under 3 shuffle partitions with AQE coalescing off, and under 16
with it on. Their row hashes (``row_hash`` of tools/check_oracle.py) must
agree. ``semantic_dedup`` rides along: it shares the ANN family's assignment
step, and its oracle pins only the partitioning it happens to run under.

Each pass stages into its own temp root, so staged artifacts such as the IVF
index are rebuilt under that pass's partitioning instead of reused.
"""

from __future__ import annotations

import importlib.util
import os
import tempfile

from quatrain_mapreduce_spark.registry import all_queries
from tests.conftest import SF_DIR_MID

_CHECK_ORACLE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                             "tools", "check_oracle.py")

PASSES = (
    {"spark.sql.shuffle.partitions": "3",
     "spark.sql.adaptive.coalescePartitions.enabled": "false"},
    {"spark.sql.shuffle.partitions": "16",
     "spark.sql.adaptive.coalescePartitions.enabled": "true"},
)


def _row_hash():
    spec = importlib.util.spec_from_file_location("check_oracle", _CHECK_ORACLE)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.row_hash


def _hashes(spark, names, confs, root, monkeypatch) -> dict[str, str]:
    row_hash, queries = _row_hash(), all_queries()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        out = {}
        for name in names:
            spark.catalog.clearCache()
            df = queries[name].fn(spark, SF_DIR_MID)
            out[name] = row_hash([tuple(r) for r in df.collect()], df.columns)
        return out
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
        spark.catalog.clearCache()


def test_rows_only_queries_do_not_depend_on_shuffle_partitioning(
        spark, tmp_path_factory, monkeypatch):
    names = sorted(n for n, q in all_queries().items() if q.oracle is None)
    names.append("semantic_dedup")
    first, second = (
        _hashes(spark, names, confs, tmp_path_factory.mktemp("pass"), monkeypatch)
        for confs in PASSES
    )
    differ = {n: (first[n], second[n]) for n in names if first[n] != second[n]}
    assert not differ, differ
