"""Self-test of the benchmark itself (not of the engine).

Run from the repository root::

    python3 perfbench/selftest.py

It checks that ``BENCHMARK.json`` is what ``spec.py`` describes and stays
within the benchmark contract's limits; that the vector generator is
deterministic per seed; that a tiny-size run of every workload prints
every named metric with its unit, untraced and traced; that a corrupted
output makes the run fail; and that the runner refuses, without a result,
to run where only the benchmark's own files exist. Takes about six
minutes on four cores.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import spec  # noqa: E402
import vector_data as V  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
TINY = {"vector_io": "0.05", "registry_sf001": "0.1"}


def check_contract() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench == spec.benchmark_json(), "BENCHMARK.json differs from spec.py"
    assert 1 <= bench["run_seconds"] <= 60
    assert 2 <= len(bench["workloads"]) <= 8
    assert 1 <= len(bench["end_to_end"]) <= 16
    assert 1 <= len(bench["per_layer"]) <= 128
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names)), "a name is used twice"
    assert all(NAME.match(n) for n in names), "a name breaks the naming rule"
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"]
               for w in bench["workloads"])
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert set(spec.LAYER_MOVES) == {m["name"] for m in bench["per_layer"]}
    assert len(json.dumps(bench)) <= 64 * 1024


def check_generator() -> None:
    a, b = V.make_layers(7, 0.05), V.make_layers(7, 0.05)
    c = V.make_layers(8, 0.05)
    for layer in V.LAYERS:
        assert a[layer]["table"].equals(b[layer]["table"]), "not deterministic"
        assert not a[layer]["table"].equals(c[layer]["table"]), "seed ignored"


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "11", "--seconds", "1",
           "--trace", str(trace), "--scale", TINY[workload], *extra]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines else None), proc


def check_run(workload: str) -> None:
    for trace, metrics in ((0, spec.END_TO_END), (1, spec.PER_LAYER)):
        code, result, proc = run(workload, trace)
        assert code == 0, f"{workload} trace={trace} exit {code}:\n{proc.stderr[-3000:]}"
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0
        assert result["attempted"] >= 1
        want = {m[0]: m[1] for m in metrics}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == want, f"{workload} trace={trace}: metric names/units differ"
        assert all(isinstance(v["value"], float)
                   for v in result["metrics"].values())
    code, result, proc = run(workload, 0, "--corrupt")
    assert code != 0, f"{workload}: a corrupted output was not caught"
    assert result is not None and not result["correct"] and result["failed"] >= 1


def check_bare_directory() -> None:
    """Only BENCHMARK.json and perfbench/: no engine, so no result."""
    bare = os.path.join(HERE, "out", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, result, _ = run("vector_io", 0, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and result is None, "ran without the engine"


def main() -> int:
    check_contract()
    check_generator()
    check_bare_directory()
    for workload in TINY:
        check_run(workload)
        print(f"ok {workload}", flush=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
