"""Round-13 pins: the two adjudicator verdict branches
(bytes-grew / no-byte-evidence) that round 12 left to real-data
happenstance, and bench.py's quiet-box gate. The round's volume-guard
tests live in test_volume_guard.py."""

from __future__ import annotations

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
