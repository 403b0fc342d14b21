"""Driver-contract rotation: ``__spark_entry__.queries()`` must cover
the full registry and order it oldest-verification-first, so the
driver's bounded per-round sweep always refreshes the stalest green
rows (round-3 verdict item #2)."""

from __future__ import annotations

import importlib.util
import sys

from tests.conftest import REPO_ROOT


def _entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_under_test", f"{REPO_ROOT}/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["spark_entry_under_test"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_queries_covers_registry_and_rotates_oldest_first():
    from polars_gdal_spark.queries import QUERIES

    e = _entry()
    names = list(e.queries())
    assert set(names) == set(QUERIES), "every registry query must be exposed"

    last = e._last_verified_round()
    # implementation-changed queries sort as never-verified until a
    # green row at >= the change round lands (then the entry expires
    # automatically — round-7 ADVICE)
    eff = {
        n: (
            0
            if last.get(n, 0) < e.CHANGED_IN_ROUND.get(n, 0)
            else last.get(n, 0)
        )
        for n in names
    }
    rounds = [eff[n] for n in names]
    assert rounds == sorted(rounds), (
        "queries() must be ordered by ascending last-verified round "
        "(never-verified and changed-this-round first) so a bounded "
        "sweep refreshes the stalest"
    )
    # ties break by registration order, keeping the rotation deterministic
    reg = {n: i for i, n in enumerate(QUERIES)}
    for a, b in zip(names, names[1:]):
        if eff[a] == eff[b]:
            assert reg[a] < reg[b]


def test_changed_entry_expires_once_reverified(monkeypatch):
    """A CHANGED_IN_ROUND member with a green row at >= its change round
    is no longer forced to the sweep head (round-7 ADVICE: stale entries
    must not displace genuinely-stale rows forever)."""
    e = _entry()
    name = next(iter(e.CHANGED_IN_ROUND))
    rnd = e.CHANGED_IN_ROUND[name]
    monkeypatch.setattr(e, "_last_verified_round", lambda: {name: rnd})
    names = list(e.queries())
    # everything else is never-verified (round 0) and must sort ahead
    assert names[-1] == name


def test_oracle_sql_subset_of_queries():
    e = _entry()
    qs = set(e.queries())
    oracles = e.oracle_sql()
    assert set(oracles) <= qs
    assert all(isinstance(v, str) and v.strip() for v in oracles.values())
