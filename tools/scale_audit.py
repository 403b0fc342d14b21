"""Measured-scaling gate: the runtime twin of test_no_global_window.

Plan-shape pins (tools/explain_audit.py) catch structurally-wrong plans;
this tool catches plans whose structure looks right but whose MEASURED
wall time grows super-linearly in data size — the failure mode round 4
shipped four times (a "skew-free by construction" docstring next to a
27.5× sf1→sf3 blow-up that no test flagged).

Usage:
    python tools/scale_audit.py BENCH_small.json BENCH_big.json \
        [--max-factor 1.5] [--min-sec 0.75]

Given two bench artifacts (the JSON line bench.py prints) at different
scale factors, FAIL (exit 1) any query whose wall-time ratio exceeds
``max_factor x data_ratio`` — i.e. allow up to ~1.5x-worse-than-linear
for constant overheads and cache effects, flag anything beyond.

Guards against false alarms:
  * queries faster than ``min_sec`` at the BIG scale factor are skipped
    (sub-second walls are Spark job-scheduling floor, not data cost —
    their ratios are noise);
  * ``ALLOWLIST`` entries are gated against ``max_factor x data_ratio^2``
    instead — for operators whose OUTPUT is quadratic by spec, where
    linear wall time is mathematically impossible. Every entry carries
    a written justification; an entry without one is a bug.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# name -> justification for a quadratic (not linear) gate. Keep this
# SHORT: an allowlist entry is a standing claim that linear scaling is
# impossible for the operator's semantics, not that we gave up tuning.
ALLOWLIST: dict[str, str] = {
    "sim_pairwise_label_blocked": (
        "all-pairs cosine within constant-cardinality label blocks: the "
        "required OUTPUT is ~n^2/|labels| pairs, so total work is "
        "quadratic by spec (the tiled kernel bounds per-task memory, not "
        "total pair count)"
    ),
}


def load(path: str) -> tuple[float, dict[str, float]]:
    with open(path) as f:
        art = json.load(f)
    art = art.get("parsed") or art  # round-driver wrapper
    if "queries" not in art and "queries_file" in art:
        # full-suite bench runs print a compact summary line and write
        # the per-query map to a sibling file (see bench.py)
        sibling = os.path.join(
            os.path.dirname(os.path.abspath(path)), art["queries_file"]
        )
        if not os.path.exists(sibling):
            raise SystemExit(
                f"{path} is a compact bench summary whose per-query "
                f"detail file is missing: expected {sibling}. Detail "
                "files live next to the compact artifact (bench.py "
                "writes them under bench_artifacts/, which is "
                "gitignored — `git add -f` the detail when committing "
                "a canonical artifact, or copy both files together)."
            )
        with open(sibling) as f:
            art = json.load(f)
    return float(art["sf"]), dict(art["queries"])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("small")
    ap.add_argument("big")
    ap.add_argument("--max-factor", type=float, default=1.5)
    ap.add_argument("--min-sec", type=float, default=0.75)
    args = ap.parse_args()

    sf_s, q_s = load(args.small)
    sf_b, q_b = load(args.big)
    if sf_b <= sf_s:
        print(f"big sf {sf_b} must exceed small sf {sf_s}", file=sys.stderr)
        return 2
    data_ratio = sf_b / sf_s

    failures = []
    print(
        f"data ratio {data_ratio:.2f}x  |  linear gate "
        f"<= {args.max_factor * data_ratio:.2f}x  |  quadratic gate "
        f"(allowlisted) <= {args.max_factor * data_ratio ** 2:.2f}x"
    )
    for name in sorted(set(q_s) & set(q_b)):
        ts, tb = q_s[name], q_b[name]
        if tb < args.min_sec:
            verdict = "skip (sub-floor)"
        else:
            ratio = tb / max(ts, 1e-9)
            if name in ALLOWLIST:
                limit = args.max_factor * data_ratio**2
                tag = "quad"
            else:
                limit = args.max_factor * data_ratio
                tag = "lin"
            ok = ratio <= limit
            verdict = f"{ratio:5.2f}x vs {limit:.2f}x [{tag}] " + (
                "OK" if ok else "FAIL"
            )
            if not ok:
                failures.append((name, ratio, limit))
        print(f"  {name:40s} {ts:7.3f}s -> {tb:7.3f}s  {verdict}")

    only_s = sorted(set(q_s) - set(q_b))
    only_b = sorted(set(q_b) - set(q_s))
    if only_s or only_b:
        print(f"  (coverage gap: only-small={only_s} only-big={only_b})")

    if failures:
        print(f"\n{len(failures)} super-linear quer"
              f"{'y' if len(failures) == 1 else 'ies'}:")
        for name, ratio, limit in failures:
            print(f"  {name}: {ratio:.2f}x wall for {data_ratio:.2f}x data "
                  f"(gate {limit:.2f}x)")
        return 1
    print("\nall measured queries within the scaling gate")
    return 0


if __name__ == "__main__":
    sys.exit(main())
