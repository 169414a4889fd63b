"""Unit pins for the soak verdicts: the pipeline-flat soak's BOUNDED/
GROWING criterion (tools/soak_stream.pipeline_flat_verdict) — the pure
function both the live run and `--mode reverdict` apply — and the
sessions flat soak's FLAT/GROWING/TOO_SHORT criterion (flat_verdict).

Why this exists: three consecutive rounds of long soaks found calibration
bugs in the VERDICT machinery rather than the engine (r11 sawtooth-vs-
median, r12 missing one-trigger eviction lag, r13 fixed-rate lag term vs
a stretched trigger interval). Each fix now gets a regression pin here so
the criterion can only tighten, never silently regress. No Spark needed —
the function judges batch JSONL rows.
"""
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from soak_stream import flat_verdict, pipeline_flat_verdict  # noqa: E402

KEYS, RATE, W, TOL = 10_000, 500, 30, 1.5
# horizon = 3*(30+W) = 180 s; rows must sit past it to count
T0 = 200.0


def _row(i, state, removed=2500, inp=2500):
    return {"batch": i, "state_rows": state, "rows_removed": removed,
            "input_rows": inp, "wall_s": T0 + 5.0 * i}


def _steady(n=40):
    """A healthy plateau at exactly 2*keys + rate*trigger."""
    return [_row(i, 22_500) for i in range(n)]


def test_steady_plateau_is_bounded():
    doc = pipeline_flat_verdict(_steady(), keys=KEYS, rate=RATE,
                                watermark_seconds=W, tolerance=TOL)
    assert doc["verdict"] == "BOUNDED"
    assert doc["under_bound"] and doc["watermark_evicts"]
    assert doc["max_over_per_batch_bound"] == 0


def test_stretched_trigger_peak_is_bounded_not_growing():
    """The r13 find: a trigger interval that stretches under load ingests
    more than rate*trigger rows, and the state peak moves with the ACTUAL
    arrivals (observed: batch 147 of the 150-min run at 2*keys + 3,000 =
    23,000 with input_rows 3,000). The per-batch lag term must accept it;
    the old fixed 22,500 scalar bound read it as growth."""
    rows = _steady()
    rows[30] = _row(30, 23_000, inp=3_000)
    doc = pipeline_flat_verdict(rows, keys=KEYS, rate=RATE,
                                watermark_seconds=W, tolerance=TOL)
    assert doc["verdict"] == "BOUNDED"
    assert doc["max_input_rows_post"] == 3_000
    # and the nominal scalar bound reported for context is still 22,500
    assert doc["amplitude_bound"] == 22_500


def test_state_above_own_batch_arrivals_is_growing():
    """Same 23,000 peak WITHOUT the matching arrivals is real growth —
    the per-batch bound must not be looser than the old scalar one where
    the scalar one was right."""
    rows = _steady()
    rows[30] = _row(30, 23_000, inp=2_500)
    doc = pipeline_flat_verdict(rows, keys=KEYS, rate=RATE,
                                watermark_seconds=W, tolerance=TOL)
    assert doc["verdict"] == "GROWING"
    assert doc["max_over_per_batch_bound"] == 500


def test_staircase_growth_is_growing():
    """The unbounded-dropDuplicates shape: one key block added per
    rotation forever. Envelope check must catch it."""
    rows = [_row(i, 20_000 + 400 * i) for i in range(40)]
    doc = pipeline_flat_verdict(rows, keys=KEYS, rate=RATE,
                                watermark_seconds=W, tolerance=TOL)
    assert doc["verdict"] == "GROWING"


def test_no_evictions_is_growing():
    rows = [_row(i, 22_500, removed=0) for i in range(40)]
    doc = pipeline_flat_verdict(rows, keys=KEYS, rate=RATE,
                                watermark_seconds=W, tolerance=TOL)
    assert doc["verdict"] == "GROWING"
    assert not doc["watermark_evicts"]


def test_warmup_horizon_honors_rotation_parameter():
    """horizon_s must scale with rotation_s, not a hardcoded 30: a 60 s
    key rotation keeps pre-steady-state rows alive past 3*(30+W), and
    admitting them into the judgment window corrupts the early-half
    envelope. Over-bound rows confined to wall_s < 3*(60+W) must be
    excluded when rotation_s=60 (BOUNDED) — and judged when the caller
    says rotation is really 30 (GROWING via the per-batch bound)."""
    ramp = [dict(_row(i, 30_000), wall_s=185.0 + 5.0 * i)
            for i in range(15)]  # wall 185..255, all inside 3*(60+30)=270
    steady = [dict(_row(i, 22_500), wall_s=280.0 + 5.0 * i)
              for i in range(40)]
    doc60 = pipeline_flat_verdict(ramp + steady, keys=KEYS, rate=RATE,
                                  watermark_seconds=W, tolerance=TOL,
                                  rotation_s=60)
    assert doc60["verdict"] == "BOUNDED"
    doc30 = pipeline_flat_verdict(ramp + steady, keys=KEYS, rate=RATE,
                                  watermark_seconds=W, tolerance=TOL,
                                  rotation_s=30)
    assert doc30["verdict"] == "GROWING"


def test_warmup_rows_are_excluded_and_short_runs_refuse():
    rows = [dict(_row(i, 50_000), wall_s=10.0 * i) for i in range(6)]
    doc = pipeline_flat_verdict(rows, keys=KEYS, rate=RATE,
                                watermark_seconds=W, tolerance=TOL)
    assert doc["verdict"] == "TOO_SHORT"


def test_reverdict_cli_matches_function(tmp_path):
    """--mode reverdict must extract batch rows from a noisy stdout
    capture (progress bars interleaved) and agree with the function."""
    rows = _steady()
    rows[30] = _row(30, 23_000, inp=3_000)
    log = tmp_path / "cap.out"
    noise = "[Stage 7:===>    (2 + 6) / 8]"
    log.write_text(noise + "\n".join(json.dumps(r) for r in rows) + noise)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "soak_stream.py"),
         "--mode", "reverdict", "--log", str(log), "--keys", str(KEYS),
         "--rate", str(RATE), "--watermark-seconds", str(W)],
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    doc = json.loads(out.stdout.strip().splitlines()[-1])
    assert doc["verdict"] == "BOUNDED"
    assert doc["post_warmup_batches"] == 40
    assert doc["max_input_rows_post"] == 3_000


# flat_verdict: gap 10 + watermark 30 -> horizon 120 s
GAP, FW = 10, 30


def _flat_row(i, state, removed=100):
    return {"batch": i, "state_rows": state, "rows_removed": removed,
            "wall_s": 130.0 + 5.0 * i}


def _flat(rows):
    return flat_verdict(rows, gap_seconds=GAP, watermark_seconds=FW,
                        tolerance=TOL)


def test_flat_plateau_is_flat():
    doc = _flat([_flat_row(i, 8_000 + (i % 3) * 500) for i in range(20)])
    assert doc["verdict"] == "FLAT"
    assert doc["median_state_rows"] == 8_500
    assert doc["worst_late_state_rows"] == 9_000
    assert doc["watermark_evicts"]


def test_flat_staircase_is_growing():
    """State climbing one block per rotation: the late half outgrows
    tolerance x the post-warmup median."""
    doc = _flat([_flat_row(i, 2_000 * (i + 1)) for i in range(20)])
    assert doc["verdict"] == "GROWING"
    assert doc["late_over_median"] > TOL


def test_flat_without_evictions_is_growing():
    doc = _flat([_flat_row(i, 8_000, removed=0) for i in range(20)])
    assert doc["verdict"] == "GROWING"
    assert not doc["watermark_evicts"]


def test_flat_too_few_post_warmup_rows_is_too_short():
    warm = [dict(_flat_row(i, 8_000), wall_s=5.0 * (i + 1)) for i in range(24)]
    doc = _flat(warm + [_flat_row(i, 8_000) for i in range(24, 29)])
    assert doc == {"verdict": "TOO_SHORT", "batches": 29}


def test_flat_soak_deletes_its_workdir(tmp_path):
    """A run ending without a correctness fault (here TOO_SHORT: 12 s is
    far inside the warmup horizon) removes its qms_soak_* workdir, the
    child's checkpoint, sink and scratch dirs included."""
    tmp = tmp_path / "t"
    tmp.mkdir()
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "soak_stream.py"),
         "--mode", "flat", "--minutes", "0.2"],
        capture_output=True, text=True, timeout=300,
        env=dict(os.environ, TMPDIR=str(tmp)),
    )
    assert out.returncode == 1, out.stderr[-2000:]
    assert json.loads(out.stdout.strip().splitlines()[-1])["verdict"] == "TOO_SHORT"
    assert not [n for n in os.listdir(tmp) if n.startswith("qms_soak_")]
