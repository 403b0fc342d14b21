"""tools/drift_audit.py gate semantics (pure python, no Spark)."""

from __future__ import annotations

import json
import subprocess
import sys

from tests.conftest import REPO_ROOT


def _run(tmp_path, old, new, *extra):
    a, b = tmp_path / "old.json", tmp_path / "new.json"
    a.write_text(json.dumps(old))
    b.write_text(json.dumps(new))
    p = subprocess.run(
        [sys.executable, "tools/drift_audit.py", str(a), str(b), *extra],
        capture_output=True, text=True, cwd=REPO_ROOT,
    )
    return p.returncode, p.stdout


def test_steady_round_passes(tmp_path):
    rc, out = _run(
        tmp_path,
        {"sf": 0.1, "queries": {"q": 2.0}},
        {"sf": 0.1, "queries": {"q": 2.2}},
    )
    assert rc == 0 and "OK" in out


def test_regression_fails(tmp_path):
    # --no-remeasure: this test pins the pure artifact-comparison
    # verdict (the fabricated query name isn't in the registry anyway)
    rc, out = _run(
        tmp_path,
        {"sf": 0.1, "queries": {"q": 2.0}},
        {"sf": 0.1, "queries": {"q": 3.2}},
        "--no-remeasure",
    )
    assert rc == 1 and "REGRESSED" in out


def test_sub_floor_and_small_absolute_skipped(tmp_path):
    # 2x ratio but tiny walls: scheduler floor, not a regression
    rc, out = _run(
        tmp_path,
        {"sf": 0.1, "queries": {"q": 0.15, "r": 0.6}},
        {"sf": 0.1, "queries": {"q": 0.30, "r": 0.9}},
    )
    # q: sub-floor skip; r: 1.5x but +0.3s < 0.5s absolute guard
    assert rc == 0 and "skip (sub-floor)" in out


def test_new_queries_have_no_baseline(tmp_path):
    rc, out = _run(
        tmp_path,
        {"sf": 0.1, "queries": {"q": 2.0}},
        {"sf": 0.1, "queries": {"q": 2.1, "brand_new": 5.0}},
    )
    assert rc == 0 and "brand_new" in out


def test_mismatched_scale_factors_refused(tmp_path):
    rc, out = _run(
        tmp_path,
        {"sf": 0.1, "queries": {"q": 2.0}},
        {"sf": 1.0, "queries": {"q": 2.0}},
    )
    assert rc == 2 and "refusing" in out


def test_driver_wrapped_artifacts_parse(tmp_path):
    rc, out = _run(
        tmp_path,
        {"n": 1, "rc": 0, "parsed": {"sf": 0.1, "queries": {"q": 2.0}}},
        {"sf": 0.1, "queries": {"q": 2.1}},
    )
    assert rc == 0


def test_queries_file_indirection(tmp_path):
    # compact driver artifacts point at a sibling per-query detail file
    import json as _json

    (tmp_path / "det.json").write_text(
        _json.dumps({"sf": 1.0, "queries": {"q": 1.0}})
    )
    rc, out = _run(
        tmp_path,
        {"sf": 1.0, "queries_file": "det.json"},
        {"sf": 1.0, "queries": {"q": 1.05}},
    )
    assert rc == 0


def test_load_suspect_exits_3_not_0(tmp_path):
    """A flagged row the canary excuses is 'pending quiet-host
    re-measure', not clean — callers gating on the exit code need the
    distinction (round-9 ADVICE)."""
    rc, out = _run(
        tmp_path,
        {"sf": 0.1, "calibration_sec": 0.70, "queries": {"q": 2.0}},
        # 1.45x query drift, canary 1.5x: normalized 0.97x <= gate
        {"sf": 0.1, "calibration_sec": 1.05, "queries": {"q": 2.9}},
    )
    assert rc == 3 and "LOAD-SUSPECT" in out


def test_regression_beats_load_excuse(tmp_path):
    # canary over the floor but the query drifted far beyond it:
    # normalization must NOT excuse a real regression
    rc, out = _run(
        tmp_path,
        {"sf": 0.1, "calibration_sec": 0.70, "queries": {"q": 2.0}},
        {"sf": 0.1, "calibration_sec": 0.95, "queries": {"q": 4.5}},
        "--no-remeasure",
    )
    assert rc == 1 and "REGRESSED" in out


def _load_module():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "drift_audit", f"{REPO_ROOT}/tools/drift_audit.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_adjudicate_clears_transient_rows():
    """A flagged row whose isolated re-measure is back inside the gate
    is TRANSIENT, not a failure (round-10 verdict: 4 such rows in the
    r09-vs-r10 driver pair)."""
    m = _load_module()
    bad = [("a", 1.0, 2.1, 2.1), ("b", 2.0, 3.9, 1.95)]
    confirmed, lines = m._adjudicate(
        bad, {"a": 1.05, "b": 2.1}, max_drift=1.30, min_abs=0.5
    )
    assert confirmed == []
    assert all("TRANSIENT" in ln for ln in lines)


def test_adjudicate_confirms_still_slow_rows():
    m = _load_module()
    bad = [("a", 1.0, 2.1, 2.1)]
    confirmed, lines = m._adjudicate(
        bad, {"a": 2.0}, max_drift=1.30, min_abs=0.5
    )
    assert len(confirmed) == 1 and confirmed[0][2] == 2.0
    assert "REGRESSED (confirmed)" in lines[0]


def test_adjudicate_missing_remeasure_stays_regressed():
    """A row the re-measure subprocess produced no figure for must NOT
    be silently cleared."""
    m = _load_module()
    bad = [("a", 1.0, 2.1, 2.1)]
    confirmed, lines = m._adjudicate(bad, {}, max_drift=1.30, min_abs=0.5)
    assert len(confirmed) == 1
    assert "re-measure missing" in lines[0]


def test_quiet_canary_no_data_dir_exits_4(tmp_path):
    """Quiet canary + REGRESSED rows + no data dir for the artifact's
    sf: unresolved, distinct exit code (neither clean nor confirmed)."""
    rc, out = _run(
        tmp_path,
        {"sf": 77.0, "calibration_sec": 0.70, "queries": {"q": 2.0}},
        {"sf": 77.0, "calibration_sec": 0.72, "queries": {"q": 4.5}},
    )
    assert rc == 4 and "UNRESOLVED" in out


def test_quiet_canary_remeasure_end_to_end(tmp_path):
    """The full transient-adjudication path with a REAL isolated
    re-measure: fabricate a pair where a registry query 'regressed'
    from a generous baseline to an absurd figure — the fresh-JVM
    re-measure at sf0.001 lands far below the fabricated figure and
    clears the row, so the audit exits 0 with a TRANSIENT verdict."""
    rc, out = _run(
        tmp_path,
        {
            "sf": 0.001,
            "calibration_sec": 0.70,
            "queries": {"q6_forecast_revenue": 4.0},
        },
        {
            "sf": 0.001,
            "calibration_sec": 0.72,
            "queries": {"q6_forecast_revenue": 40.0},
        },
    )
    assert "re-measuring 1 flagged row(s)" in out
    assert rc == 0 and "TRANSIENT (cleared)" in out
