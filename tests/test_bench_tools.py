"""Tests of the bench and audit tools: the scaling adjudicator's
verdict branches (``tools/audit_scaling.py``), bench.py's quiet-box
gate and box-speed calibration stamp, and round_close's stale-stamp
guard."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


# --- adjudicator verdict matrix completion (round-13 item 4):
# bytes-grew and no-byte-evidence never fired on real data; this
# fixture pins both WITHOUT any isolated re-run (they are decided
# before the re-run pass, so the test is subprocess-cheap). ----------


def test_adjudicator_bytes_grew_and_no_byte_evidence_branches(tmp_path):
    import json
    import subprocess
    import sys

    a = {
        "queries_median": {"q_bytes": 1.0, "q_noev": 1.0, "q_ok": 1.0},
        "queries_shuffle": {
            "q_bytes": {"shuffle_write_bytes": 1_000_000},
            # q_noev: A side lacks byte accounting entirely
            "q_ok": {"shuffle_write_bytes": 1_000_000},
        },
    }
    b = {
        "queries_median": {"q_bytes": 10.0, "q_noev": 10.0, "q_ok": 2.0},
        "queries_shuffle": {
            # 10x bytes for 3x data: byte ratio 10 > 3.0 * 1.35
            "q_bytes": {"shuffle_write_bytes": 10_000_000},
            "q_noev": {"shuffle_write_bytes": 10_000_000},
            "q_ok": {"shuffle_write_bytes": 3_000_000},
        },
        "sf_dir": "/root/testdata/sf0.001",
    }
    a_path, b_path = tmp_path / "a.json", tmp_path / "b.json"
    a_path.write_text(json.dumps(a))
    b_path.write_text(json.dumps(b))
    proc = subprocess.run(
        [
            sys.executable, str(REPO / "tools" / "audit_scaling.py"),
            str(a_path), str(b_path), "3.0", "--adjudicate",
        ],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stdout[-1500:] + proc.stderr[-1500:]
    adj = json.loads(b_path.read_text())["adjudication"]
    assert adj["q_bytes"]["verdict"] == "bytes-grew"
    assert adj["q_bytes"]["byte_ratio"] == 10.0
    assert adj["q_noev"]["verdict"] == "no-byte-evidence"
    # q_ok is 2x for 3x data — not flagged, no verdict entry
    assert "q_ok" not in adj


# --- bench.py quiet-box gate (round-13 item 2) -----------------------


def test_bench_quiet_gate_waits_records_and_overrides(monkeypatch):
    import bench

    monkeypatch.setenv("SPARK_GRAFT_BENCH_QUIET_LOADAVG", "4")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_QUIET_WAIT", "600")
    monkeypatch.delenv("SPARK_GRAFT_BENCH_QUIET", raising=False)

    # busy box that quiets down after two polls → gate waits, records
    loads = iter([9.0, 7.0, 1.5])
    slept = []
    rec = bench._quiet_gate(
        full_run=True,
        getloadavg=lambda: (next(loads), 0, 0),
        sleep=lambda s: slept.append(s),
    )
    assert rec["enabled"] and len(slept) == 2
    assert rec["loadavg_at_invoke"] == 9.0 and rec["loadavg_at_start"] == 1.5
    assert not rec["overridden"]

    # box never quiets within the budget → proceed, LABELED overridden
    monkeypatch.setenv("SPARK_GRAFT_BENCH_QUIET_WAIT", "0")
    rec = bench._quiet_gate(
        full_run=True, getloadavg=lambda: (9.0, 0, 0), sleep=lambda s: None
    )
    assert rec["overridden"] and rec["loadavg_at_start"] == 9.0

    # already quiet → no wait at all
    rec = bench._quiet_gate(
        full_run=True,
        getloadavg=lambda: (0.5, 0, 0),
        sleep=lambda s: (_ for _ in ()).throw(AssertionError("slept")),
    )
    assert rec["waited_sec"] == 0.0 and not rec["overridden"]

    # subset runs skip the gate (adjudication re-runs must not stall
    # behind the marathon they adjudicate) unless QUIET=1 forces it
    rec = bench._quiet_gate(
        full_run=False,
        getloadavg=lambda: (9.0, 0, 0),
        sleep=lambda s: (_ for _ in ()).throw(AssertionError("slept")),
    )
    assert not rec["enabled"]
    monkeypatch.setenv("SPARK_GRAFT_BENCH_QUIET", "1")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_QUIET_WAIT", "0")
    rec = bench._quiet_gate(
        full_run=False, getloadavg=lambda: (9.0, 0, 0), sleep=lambda s: None
    )
    assert rec["enabled"] and rec["overridden"]
    # and QUIET=0 disables even full runs
    monkeypatch.setenv("SPARK_GRAFT_BENCH_QUIET", "0")
    rec = bench._quiet_gate(
        full_run=True, getloadavg=lambda: (9.0, 0, 0), sleep=lambda s: None
    )
    assert not rec["enabled"]


def test_bench_calibration_measures_both_legs(spark):
    import bench

    rec = bench._calibration(spark, rows=2_000_000)
    assert rec["cpu_sec"] > 0 and rec["spark_sec"] > 0
    # the constant workload is small — single-digit seconds even on a
    # loaded box; a blow-up here means the calib query itself regressed
    assert rec["spark_sec"] < 30


def test_audit_scaling_reports_calibrated_ratios(tmp_path):
    a = {
        "queries_median": {"q1": 1.0, "q2": 2.0},
        "queries_shuffle": {
            "q1": {"shuffle_write_bytes": 1_000_000},
            "q2": {"shuffle_write_bytes": 1_000_000},
        },
        "calibration": {"spark_mean_sec": 1.0},
    }
    # box B is 2x slower (calib 2.0): q1's raw 4x for 3x data is
    # calibrated to 2x — the flag stays raw, the calibrated column and
    # totals line make the acquittal arithmetic
    b = {
        "queries_median": {"q1": 4.0, "q2": 4.0},
        "queries_shuffle": {
            "q1": {"shuffle_write_bytes": 10_000_000},
            "q2": {"shuffle_write_bytes": 3_000_000},
        },
        "calibration": {"spark_mean_sec": 2.0},
        "sf_dir": "/root/testdata/sf0.001",
    }
    a_path, b_path = tmp_path / "a.json", tmp_path / "b.json"
    a_path.write_text(json.dumps(a))
    b_path.write_text(json.dumps(b))
    proc = subprocess.run(
        [
            sys.executable, str(REPO / "tools" / "audit_scaling.py"),
            str(a_path), str(b_path), "3.0", "--adjudicate",
        ],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stdout[-1500:] + proc.stderr[-1500:]
    assert "cal_r" in proc.stdout
    assert "box ratio 2.00x" in proc.stdout
    # raw totals ratio 8/3 ≈ 2.67x; calibrated 1.33x
    assert "calibrated totals ratio 1.33x" in proc.stdout
    adj = json.loads(b_path.read_text())["adjudication"]
    assert adj["_meta"]["calib_box_ratio"] == 2.0
    # q1 is bytes-grew (10x bytes for 3x data) — decided before any
    # isolated re-run, so this fixture test stays subprocess-cheap
    assert adj["q1"]["verdict"] == "bytes-grew"
    assert "q2" not in adj  # 2x wall for 3x data: never flagged


def test_audit_scaling_degrades_without_calibration(tmp_path):
    a_path, b_path = tmp_path / "a.json", tmp_path / "b.json"
    a_path.write_text(json.dumps({"queries_median": {"q1": 1.0}}))
    b_path.write_text(json.dumps({"queries_median": {"q1": 2.0}}))
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "audit_scaling.py"),
         str(a_path), str(b_path), "3.0"],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "raw ratios only" in proc.stdout


# --- round_close stale-stamp guard + machine adjudication (verdict
# items 4 and 7) ------------------------------------------------------


def _round_close_mod():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "round_close", REPO / "tools" / "round_close.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_stamp_staleness_branches(tmp_path):
    rc = _round_close_mod()
    missing = tmp_path / "nope.json"
    assert rc.stamp_staleness(missing) == "no artifact"

    norev = tmp_path / "norev.json"
    norev.write_text(json.dumps({"value": 1.0}))
    assert "no rev recorded" in rc.stamp_staleness(norev)

    head = subprocess.run(
        ["git", "describe", "--always", "--dirty"], cwd=REPO,
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    # round 15 (r14 ADVICE): a -dirty rev is ALWAYS stale — the
    # measured code matches no commit. The clean-HEAD case is only
    # current when nothing in stamp scope changed since.
    if head.endswith("-dirty"):
        dirty = tmp_path / "dirty.json"
        dirty.write_text(json.dumps({"git_rev": head}))
        assert "dirty" in rc.stamp_staleness(dirty)
        head = head.removesuffix("-dirty")
    current = tmp_path / "current.json"
    current.write_text(json.dumps({"git_rev": head}))
    assert rc.stamp_staleness(current) is None

    # a rev that predates this round's package commits → stale, and the
    # reason names what changed
    stale = tmp_path / "stale.json"
    stale.write_text(json.dumps({"git_rev": "1bf2024"}))
    reason = rc.stamp_staleness(stale)
    assert reason and "changed since" in reason

    bogus = tmp_path / "bogus.json"
    bogus.write_text(json.dumps({"git_rev": "ffffffffff"}))
    assert "not found" in rc.stamp_staleness(bogus)


def test_verify_stamps_exit_codes(tmp_path):
    """--verify-stamps is the post-close re-check: exit 0 on a current
    stamp, 1 on a stale one. Run against a COPY of the repo state via
    monkeypatched canonical path is overkill — drive the module's main
    through a subprocess only for the help path, and the check through
    stamp_staleness directly (covered above); here pin that the CLI
    flag exists and wires to the check."""
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "round_close.py"), "--help"],
        cwd=REPO, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 0
    assert "--verify-stamps" in proc.stdout and "--prev-rev" in proc.stdout


def test_adjudicate_stamp_skips_when_prev_has_no_canonical(tmp_path):
    rc = _round_close_mod()
    first = subprocess.run(
        ["git", "rev-list", "--max-parents=0", "HEAD"], cwd=REPO,
        capture_output=True, text=True, check=True,
    ).stdout.split()[0]
    stamp = tmp_path / "stamp.json"
    stamp.write_text(json.dumps({"queries_median": {}}))
    assert rc._adjudicate_stamp(99, first, stamp, sys.executable) == 0
    # nothing attached, nothing crashed
    assert "adjudication" not in json.loads(stamp.read_text())
