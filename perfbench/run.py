"""The repository benchmark: one workload, one seed, one JSON result.

Usage (from the repository root)::

    python3 perfbench/run.py --workload vector_io --seed 1 --seconds 12 --trace 0

One driver process issues one op at a time (a closed loop with one client)
on ``local[nproc]``. A run:

1. pins the Spark environment and starts the session: ``setup_s`` runs from
   process start until the session is ready, data generation excluded;
2. builds or loads the seeded inputs, untimed;
3. warms the session untimed: a few scans and one write, or for the
   registry one pass that collects every query result and checks it
   against DuckDB;
4. runs as many full timed passes as fit ``--seconds`` (at least one).
   Every scan op computes and checks its (count, digest) against the
   manifest; every written file is read back after each pass, untimed,
   and checked the same way;
5. runs the fixed-work host-load canary.

With ``--trace 1`` it then restarts the session with an event log, repeats
the warm pass and the timed passes with every op tagged by its job
description, makes the in-process layer calls and reduces all of it to the
per-layer metrics; ``trace.overhead_ratio`` is traced over untraced
``pass_s``.

stdout carries two JSON lines: the per-op detail record, then the result
``{"correct", "attempted", "failed", "metrics"}``. The detail record is
also written under ``perfbench/out/results/``. The exit code is 0 only when
every output matched.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
DRIVER_MEMORY = "2g"


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_environment() -> dict:
    """Pin what the session reads from the environment; returns the pins."""
    tmp = os.path.join(OUT, "tmp")
    local = os.path.join(OUT, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    for k in ("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS"):
        os.environ.pop(k, None)
    pins = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        # progress bars only clutter stderr
        + " --conf spark.ui.showConsoleProgress=false pyspark-shell",
    }
    os.environ.update(pins)
    return pins


def start_session(workload):
    """get_spark + register_gdal_source (+ load_tables); returns the
    session and the seconds spent in get_spark and in load_tables."""
    import polars_gdal_spark as pg
    from polars_gdal_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    pg.register_gdal_source(spark)
    spark.sparkContext.setLogLevel("ERROR")
    load_tables_s = 0.0
    if hasattr(workload, "setup_tables"):
        t2 = time.perf_counter()
        workload.setup_tables(spark)
        load_tables_s = time.perf_counter() - t2
    return spark, t1 - t0, load_tables_s


def stop_jvm(spark) -> None:
    """Stop the session, its JVM and every process they started."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - escalate to a kill below
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def wait_children(timeout: float = 30.0) -> None:
    """Wait until no descendant process is left, killing stragglers."""
    import probes

    deadline = time.time() + timeout
    sampler = probes.PeakRss()
    while True:
        kids = sampler.descendants()
        if not kids:
            return
        if time.time() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.2)


def run_pass(spark, workload, ops, tag: str | None, index: int,
             samples: list, failures: list) -> float:
    """One timed pass; appends a sample per op; returns the pass's op wall."""
    total = 0.0
    for op in ops:
        desc = f"perfbench|{tag}|{op.name}|{index}" if tag else None
        if desc:
            spark.sparkContext.setJobDescription(desc)
        t0 = time.perf_counter()
        try:
            reason = workload.run_op(spark, op)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            reason = f"{op.name}: {e!r}"
        wall = time.perf_counter() - t0
        ok = reason is None
        if not ok:
            failures.append(reason)
            _log(f"op failed: {reason}")
        if desc:
            spark.sparkContext.setJobDescription(None)
        samples.append({"op": op.name, "pass": index, "wall_s": wall, "ok": ok,
                        "features": workload.features(op), "tag": desc})
        total += wall
    return total


def timed_passes(spark, workload, seconds: float, tag: str | None = None):
    """Full passes: as many as fit ``seconds`` of op wall at the first
    pass's pace, and at least one."""
    samples: list[dict] = []
    failures: list[str] = []
    passes: list[float] = []
    while True:
        wall = run_pass(spark, workload, workload.ops, tag, len(passes),
                        samples, failures)
        passes.append(wall)
        failures += workload.after_pass(spark)
        if len(passes) >= max(1, round(seconds / passes[0])):
            return samples, passes, failures


def tail(walls: list[float]) -> dict:
    """Highest nearest-rank percentile with at least 10 samples beyond it
    (the maximum when there are fewer than 11 samples)."""
    xs = sorted(walls)
    n = len(xs)
    k = n - 11 if n >= 11 else n - 1
    return {"value": xs[k], "percentile": 100.0 * (k + 1) / n,
            "samples": n, "beyond": n - 1 - k}


def headline(workload, samples: list[dict], passes: list[float]) -> dict:
    """End-to-end metrics of the timed passes. The op statistics take one
    sample per op, its median over the passes, so their sample count is
    the pass's op count however many passes fit the run."""
    from workloads import median_walls

    ok = [s for s in samples if s["ok"]]
    per_op = list(median_walls(samples).values())
    return {
        "features_per_s": sum(s["features"] for s in ok)
        / sum(s["wall_s"] for s in ok),
        "pass_s": statistics.median(passes),
        "op_p50_s": statistics.median(per_op),
        "op_tail_s": tail(per_op)["value"],
        "out_bytes_per_feature": workload.out_bytes_per_feature(),
    }


def traced_run(spark, workload, seconds: float, log_dir: str):
    """Restart the session with an event log and measure again, tagged.

    Returns (samples, passes, warm-up ops, failures, layer metrics, per-op
    Spark records); the traced session is stopped on return."""
    import eventlog
    import polars_gdal_spark as pg
    from polars_gdal_spark.session import get_spark

    jvm = spark.sparkContext._jvm
    spark.stop()
    props = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    for k, v in props.items():
        jvm.java.lang.System.setProperty(k, v)
    spark = get_spark("perfbench-traced")
    pg.register_gdal_source(spark)
    spark.sparkContext.setLogLevel("ERROR")
    if hasattr(workload, "setup_tables"):
        workload.setup_tables(spark)
    if hasattr(workload, "reprepare"):
        workload.reprepare(spark)
    warm_ops, failures = workload.warm_up(spark)
    samples, passes, timed_failures = timed_passes(spark, workload, seconds,
                                                   tag="timed")
    failures += timed_failures
    from workloads import median_walls

    layer = workload.layer_probes(spark, median_walls(samples))
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.stop()
    for k in props:
        jvm.java.lang.System.clearProperty(k)
    walls = {s["tag"]: s["wall_s"] for s in samples if s["ok"]}
    spark_metrics, per_op = eventlog.reduce_log(eventlog.log_file(log_dir),
                                                walls, cores)
    layer.update(spark_metrics)
    return samples, passes, warm_ops, failures, layer, per_op


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="timed op wall per run (default: BENCHMARK.json's)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the benchmark's (self-test)")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one output before it is checked (self-test)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "polars_gdal_spark")) or \
            not os.path.isfile(os.path.join(ROOT, "tools", "gen_sf.py")):
        _log(f"no engine source beside {HERE}; run from a repository checkout")
        return 2
    sys.path[:0] = [ROOT, HERE]
    import probes
    import spec
    from vector_data import prune
    from workloads import WORKLOADS, Context, median_walls

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
        return 2
    if args.seconds is None:
        args.seconds = spec.RUN_SECONDS

    proc_start = probes.process_start_epoch()
    pins = pin_environment()
    rss = probes.PeakRss().start()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    ctx = Context(seed=args.seed, scale=args.scale,
                  cache=os.path.join(OUT, "cache"),
                  work=os.path.join(OUT, "work", tag), corrupt=args.corrupt)
    os.makedirs(ctx.work, exist_ok=True)
    workload = WORKLOADS[args.workload](ctx)
    spark = None
    try:
        gen_s = 0.0
        if workload.data_before_setup:
            t0 = time.perf_counter()
            workload.generate()
            gen_s = time.perf_counter() - t0
        spark, get_spark_s, load_tables_s = start_session(workload)
        setup_s = time.time() - proc_start - gen_s
        _log(f"session ready: setup_s={setup_s:.2f}")
        phases = {"setup": setup_s}
        t0 = time.perf_counter()
        workload.prepare(spark)
        gen_s += time.perf_counter() - t0
        env = probes.environment(spark)
        t1 = time.perf_counter()
        attempted, failures = workload.warm_up(spark)
        _log(f"warm-up checked {attempted} ops, {len(failures)} failed")
        t2 = time.perf_counter()
        samples, passes, timed_failures = timed_passes(spark, workload, args.seconds)
        failures += timed_failures
        attempted += len(samples)
        head = headline(workload, samples, passes)
        t3 = time.perf_counter()
        canary_s = probes.canary(spark)
        phases.update(prepare=t1 - t0, warm_up=t2 - t1, timed=t3 - t2,
                      canary=time.perf_counter() - t3)
        _log(f"timed {len(passes)} passes, {len(samples)} ops: {head}")

        detail = {
            "workload": args.workload, "seed": args.seed, "scale": args.scale,
            "seconds": args.seconds, "trace": args.trace, "env": env,
            "pins": pins, "gen_s": gen_s, "canary_s": canary_s, "phases": phases,
            "setup": {"setup_s": setup_s, "session.get_spark_s": get_spark_s,
                      "queries.load_tables_s": load_tables_s},
            "op_tail": tail(list(median_walls(samples).values())),
            "passes_s": passes, "samples": samples, "headline": head,
            "failures": failures, "metric_meaning": spec.E2E_MEANING,
        }
        if args.trace:
            log_dir = os.path.join(OUT, "eventlog", tag)
            os.makedirs(log_dir, exist_ok=True)
            prune(os.path.dirname(log_dir), "", keep=8)
            t0 = time.perf_counter()
            t_samples, t_passes, warm_ops, t_failures, layer, per_op = \
                traced_run(spark, workload, args.seconds, log_dir)
            spark = None
            phases["traced"] = time.perf_counter() - t0
            failures += t_failures
            attempted += warm_ops + len(t_samples)
            layer["session.get_spark_s"] = get_spark_s
            layer["queries.load_tables_s"] = load_tables_s
            layer["trace.overhead_ratio"] = (statistics.median(t_passes)
                                             / head["pass_s"])
            detail.update(traced_samples=t_samples, traced_passes_s=t_passes,
                          spark_per_op=per_op, event_log=os.path.relpath(log_dir, ROOT),
                          layer_moves=spec.LAYER_MOVES)
            metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                       for n, u, _, _, _ in spec.PER_LAYER}
            detail["not_exercised"] = sorted(
                n for n, *_ in spec.PER_LAYER if n not in layer)
        else:
            values = dict(head, setup_s=setup_s)
            metrics = {n: {"value": float(values[n]), "unit": u}
                       for n, u, _, _ in spec.END_TO_END if n in values}
    except Exception:  # noqa: BLE001 - report, stop the JVM, exit non-zero
        _log(traceback.format_exc())
        return 1
    finally:
        try:
            stop_jvm(spark)
        finally:
            wait_children()
            shutil.rmtree(ctx.work, ignore_errors=True)

    phases["total"] = time.time() - proc_start
    peak = rss.stop()
    if not args.trace:
        metrics["peak_rss_mb"] = {"value": peak, "unit": "MB"}
    detail["peak_rss_mb"] = peak
    detail["metrics"] = metrics
    detail["failures"] = failures
    result = {"correct": not failures, "attempted": attempted,
              "failed": min(len(failures), attempted), "metrics": metrics}
    detail["result"] = result
    detail["ops_failed_frac"] = result["failed"] / attempted
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
