"""Self-tests of the benchmark's pure helpers.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import datagen, run
from perfbench.stats import (NAME_RE, Tally, check_name, nearest_rank, result_line,
                             supported_percentile, tail)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- the percentile rule ------------------------------------------------------
@pytest.mark.parametrize("n, want, got", [
    (1, 90, 50), (19, 90, 50), (20, 90, 50), (40, 90, 75), (100, 90, 90),
    (1000, 90, 90), (1000, 99, 99), (200, 99, 95), (40, 50, 50),
])
def test_supported_percentile_leaves_ten_samples_beyond(n, want, got):
    p = supported_percentile(n, want)
    assert p == got
    if p > 50:
        assert n - round(p / 100 * n) >= 10


def test_tail_reports_value_and_count():
    samples = [float(i) for i in range(1, 41)]  # 40 samples -> p75
    assert tail(samples, 90) == (75, 30.0, 40)
    assert tail(samples, 50) == (50, 20.0, 40)
    assert nearest_rank([3.0, 1.0, 2.0], 50) == 2.0
    with pytest.raises(ValueError):
        tail([], 50)


# --- metric names ----------------------------------------------------------------
def test_metric_names_match_the_pattern():
    for name in [*run.END_TO_END, *run.PER_LAYER]:
        assert check_name(name) == name
    for bad in ("p50 s", "a/b", "", "x" * 65):
        with pytest.raises(ValueError):
            check_name(bad)


def test_benchmark_json_lists_the_runner_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME_RE.fullmatch(m["name"])


# --- failure accounting ------------------------------------------------------------
def test_tally_counts_exceptions_and_mismatches():
    t = Tally()
    assert t.check(True, "fine")
    t.fail("boom")
    assert not t.check(False, "wrong rows")
    assert (t.attempted, t.failed) == (3, 2)
    assert t.ratio == pytest.approx(2 / 3)
    assert t.errors == ["boom", "wrong rows"]


def test_result_line_is_correct_only_without_failures():
    t = Tally()
    assert json.loads(result_line(t, {}))["correct"] is False  # nothing attempted
    t.ok()
    line = json.loads(result_line(t, {"setup_s": (1.5, "s")}))
    assert line == {"correct": True, "attempted": 1, "failed": 0,
                    "metrics": {"setup_s": {"value": 1.5, "unit": "s"}}}
    t.fail("x")
    assert json.loads(result_line(t, {}))["correct"] is False


# --- the seeded generator ----------------------------------------------------------
@pytest.fixture()
def tiny_base(tmp_path):
    base = tmp_path / "base"
    base.mkdir()
    n = 50
    ts = pa.array([1_704_067_200_000_000 + i * 3_600_000_000 for i in range(n)], pa.timestamp("us"))
    pq.write_table(pa.table({
        "event_id": pa.array(range(n), pa.int64()), "ts": ts,
        "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
        "event_type": ["view", "click"] * (n // 2), "value": [float(i) for i in range(n)],
        "props": [f'{{"k": {i % 10}}}' for i in range(n)],
    }), base / "events.parquet")
    return str(base)


def test_generator_is_deterministic_per_seed(tiny_base, tmp_path):
    a, ma = datagen.cached(str(tmp_path / "c1"), tiny_base, seed=3)
    b, mb = datagen.cached(str(tmp_path / "c2"), tiny_base, seed=3)
    _, mc = datagen.cached(str(tmp_path / "c3"), tiny_base, seed=4)
    assert ma["events"] == mb["events"]
    with open(os.path.join(a, "events.parquet"), "rb") as f, \
            open(os.path.join(b, "events.parquet"), "rb") as g:
        assert f.read() == g.read()
    assert ma["events"]["rows"] == mc["events"]["rows"] == 50 + (datagen.COPIES - 1) * 45
    assert ma["events"]["sha256"] != mc["events"]["sha256"]
    # a second call reuses the built directory
    assert datagen.cached(str(tmp_path / "c1"), tiny_base, seed=3) == (a, ma)


def test_generated_copies_are_disjoint_and_time_ordered(tiny_base, tmp_path):
    d, _ = datagen.cached(str(tmp_path / "c"), tiny_base, seed=5)
    ev = pq.read_table(os.path.join(d, "events.parquet"))
    assert ev.schema == pq.read_table(os.path.join(tiny_base, "events.parquet")).schema
    ids = ev["event_id"].to_pylist()
    assert len(set(ids)) == len(ids)
    ts = ev["ts"].cast(pa.int64()).to_pylist()
    assert ts == sorted(ts)  # event time rises with event_id across copies
    rows = ev.to_pylist()
    copy1 = [r for r in rows if 50 <= r["event_id"] < 100]
    assert all(r["user_id"] >= 7 for r in copy1)
    assert all(100 <= json.loads(r["props"])["k"] < 110 for r in copy1)


def test_cache_key_follows_the_generator_parameters(tiny_base, monkeypatch):
    before = datagen.params_digest(tiny_base)
    monkeypatch.setattr(datagen, "COPIES", datagen.COPIES + 1)
    assert datagen.params_digest(tiny_base) != before
    monkeypatch.undo()
    monkeypatch.setattr(datagen, "COPY_KEEP", 0.5)
    assert datagen.params_digest(tiny_base) != before
