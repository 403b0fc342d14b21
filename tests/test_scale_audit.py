"""tools/scale_audit.py gate semantics (pure python, no Spark)."""

from __future__ import annotations

import json
import subprocess
import sys

from tests.conftest import REPO_ROOT


def _run(tmp_path, small, big):
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps(small))
    b.write_text(json.dumps(big))
    p = subprocess.run(
        [sys.executable, "tools/scale_audit.py", str(a), str(b)],
        capture_output=True, text=True, cwd=REPO_ROOT,
    )
    return p.returncode, p.stdout


def test_linear_growth_passes(tmp_path):
    rc, out = _run(
        tmp_path,
        {"sf": 1.0, "queries": {"q": 1.0}},
        {"sf": 3.0, "queries": {"q": 3.2}},
    )
    assert rc == 0 and "OK" in out


def test_super_linear_fails(tmp_path):
    rc, out = _run(
        tmp_path,
        {"sf": 1.0, "queries": {"q": 1.0}},
        {"sf": 3.0, "queries": {"q": 9.0}},
    )
    assert rc == 1 and "FAIL" in out


def test_sub_floor_noise_skipped(tmp_path):
    # 10x ratio but still sub-second at the big sf: scheduler floor,
    # not data cost — must not fail the gate
    rc, out = _run(
        tmp_path,
        {"sf": 1.0, "queries": {"q": 0.05}},
        {"sf": 3.0, "queries": {"q": 0.5}},
    )
    assert rc == 0 and "sub-floor" in out


def test_allowlisted_quadratic_gate(tmp_path):
    # 8.5x at 3x data: fails the linear gate but passes the quadratic
    # one for the documented all-pairs query
    rc, _ = _run(
        tmp_path,
        {"sf": 1.0, "queries": {"sim_pairwise_label_blocked": 1.0}},
        {"sf": 3.0, "queries": {"sim_pairwise_label_blocked": 8.5}},
    )
    assert rc == 0
    rc, _ = _run(
        tmp_path,
        {"sf": 1.0, "queries": {"sim_pairwise_label_blocked": 1.0}},
        {"sf": 3.0, "queries": {"sim_pairwise_label_blocked": 15.0}},
    )
    assert rc == 1


def test_every_allowlist_entry_has_justification():
    sys.path.insert(0, REPO_ROOT)
    from tools.scale_audit import ALLOWLIST

    for name, why in ALLOWLIST.items():
        assert isinstance(why, str) and len(why) > 40, name


def test_queries_file_indirection(tmp_path):
    # full-suite bench runs print a compact summary line pointing at a
    # sibling detail file (round-5 driver artifact overflowed on the
    # inline map); the loader must follow the pointer
    (tmp_path / "det_a.json").write_text(
        json.dumps({"sf": 1.0, "queries": {"q": 1.0}})
    )
    rc, out = _run(
        tmp_path,
        {"sf": 1.0, "queries_file": "det_a.json"},
        {"sf": 3.0, "queries": {"q": 3.2}},
    )
    assert rc == 0 and "OK" in out
