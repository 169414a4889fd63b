"""The build-once staging lifecycle (``staging.staged``) and per-call
scratch dirs (``staging.scratch``). Pure-Python builds: no Spark needed."""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import threading

import pytest

from quatrain_mapreduce_spark import staging


@pytest.fixture
def sf(tmp_path, monkeypatch):
    """A data dir, with the temp dir redirected under tmp_path so staged
    dirs from other runs are never seen."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    d = tmp_path / "sf"
    d.mkdir()
    return str(d)


def _writer(calls, body="ok"):
    def build(d):
        calls.append(d)
        os.makedirs(d)
        with open(os.path.join(d, "data.txt"), "w") as fh:
            fh.write(body)
    return build


def _read(d):
    with open(os.path.join(d, "data.txt")) as fh:
        return fh.read()


def test_second_call_reuses_without_building(sf):
    calls = []
    first = staging.staged(sf, "reuse", _writer(calls))
    second = staging.staged(sf, "reuse", _writer(calls))
    assert first == second == staging.stage_dir(sf, "reuse")
    assert len(calls) == 1 and _read(first) == "ok"


def test_failed_build_publishes_nothing_and_next_call_rebuilds(sf):
    def broken(d):
        os.makedirs(d)
        with open(os.path.join(d, "half.txt"), "w") as fh:
            fh.write("partial")
        raise RuntimeError("build died")

    final = staging.stage_dir(sf, "crash")
    with pytest.raises(RuntimeError, match="build died"):
        staging.staged(sf, "crash", broken)
    assert glob.glob(final + "*") == []  # neither the final dir nor a tmp copy
    calls = []
    assert staging.staged(sf, "crash", _writer(calls)) == final
    assert len(calls) == 1 and os.listdir(final) == ["data.txt"]


def test_code_change_gives_a_new_dir_and_rebuilds(sf, monkeypatch):
    calls = []
    before = staging.staged(sf, "code", _writer(calls, "old build"))
    monkeypatch.setattr(staging, "_code_fingerprint", lambda: "changed engine")
    after = staging.staged(sf, "code", _writer(calls, "new build"))
    assert after != before and after == staging.stage_dir(sf, "code")
    assert len(calls) == 2
    assert _read(after) == "new build" and _read(before) == "old build"


def test_racing_builders_publish_exactly_one_copy(sf):
    both_building = threading.Barrier(2)
    results, errors = {}, []

    def build(d):
        both_building.wait(timeout=10)  # neither has published yet
        _writer([], threading.current_thread().name)(d)

    def run():
        try:
            results[threading.current_thread().name] = staging.staged(sf, "race", build)
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [threading.Thread(target=run, name=f"builder{i}") for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    final = staging.stage_dir(sf, "race")
    assert set(results.values()) == {final}
    assert _read(final) in results
    assert glob.glob(final + "*") == [final]


def test_stage_script_with_a_changed_body_gets_a_new_path(sf):
    from quatrain_mapreduce_spark.operators.scripting import stage_script

    old = stage_script("qms_test_body.sh", "#!/bin/sh\necho old\n")
    new = stage_script("qms_test_body.sh", "#!/bin/sh\necho new\n")
    assert new != old and os.path.basename(new) == "qms_test_body.sh"
    assert subprocess.run([new], capture_output=True, text=True).stdout == "new\n"
    assert subprocess.run([old], capture_output=True, text=True).stdout == "old\n"


def test_scratch_dirs_are_deleted_at_exit(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        f"import sys; sys.path.insert(0, {repo!r})\n"
        "from quatrain_mapreduce_spark import staging\n"
        "d = staging.scratch('qms_drain_x_')\n"
        "open(d + '/part-0.parquet', 'w').close()\n"
        "print(d)\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    out = subprocess.run([sys.executable, "-c", code], env=env, check=True,
                         capture_output=True, text=True).stdout.strip()
    assert os.path.dirname(out) == str(tmp_path)
    assert os.path.basename(out).startswith("qms_drain_x_")
    assert not os.path.exists(out)
