"""tools/scale_probe.py, the per-query timer, run as a subprocess."""

from __future__ import annotations

import json
import os
import subprocess
import sys

TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "tools", "scale_probe.py")


def _probe(cwd, *args, env=None):
    return subprocess.run([sys.executable, TOOL, *args], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=600)


def test_unknown_query_fails_before_spark_starts(tmp_path, sf_dir):
    # a JVM launch could not succeed with this JAVA_HOME, so the message
    # proves the names were checked first
    env = {**os.environ, "JAVA_HOME": str(tmp_path / "no-java")}
    out = _probe(tmp_path, "--sf-dir", sf_dir, "--queries", "wordcount,no_such_query",
                 env=env)
    assert out.returncode != 0
    assert "not registered: ['no_such_query']" in out.stderr, out.stderr


def test_named_queries_print_one_line_each_and_a_summary(tmp_path, sf_dir):
    out = _probe(tmp_path, "--sf-dir", sf_dir, "--queries", "wordcount,grep", "--reps", "1")
    assert out.returncode == 0, out.stderr[-2000:]
    *rows, summary = [json.loads(line) for line in out.stdout.splitlines()]
    assert [r["query"] for r in rows] == ["wordcount", "grep"]
    for r in rows:
        assert len(r["reps"]) == 1 and r["min_s"] == r["median_s"] == r["reps"][0]
        assert r["cold_s"] > 0
    assert summary["n_ran"] == 2 and summary["n_failed"] == 0 and summary["failed"] == {}
    assert set(summary["slowest"]) == {"wordcount", "grep"}
