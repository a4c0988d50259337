#!/usr/bin/env python3
"""Benchmark of the ingest -> DataHandler workload and the curation loop.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process, one Spark session on
``local[$SPARK_GRAFT_CPUS]`` (default: the usable cores), one
closed-loop client: the next operation starts when the previous one
has returned. Set-up (session start, input generation, set-up ingests
and warm-up operations) is timed apart from the operations. Every
result is checked after its timer stops; a wrong result or an exception
counts as a failed operation, and any failure makes the run exit 1.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables the
Spark event log and spans, and prints the per-layer metrics. The last
line of standard output is one JSON object; a readable summary goes to
standard error. All files go under ``.perfbench_work/`` in the
checkout and are removed at the end. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
REPO = HERE.parent
PACKAGE = REPO / "quantlab_data_pipeline_spark"
WORK = REPO / ".perfbench_work"
# A run must end within 180 s: no new operation starts after this many
# seconds since the process began.
HARD_STOP_S = 150



def _declared() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric units, as BENCHMARK.json declares them."""
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(run_dir: Path) -> None:
    """Keep every file the run writes inside ``run_dir`` and make the
    program importable by the Python workers Spark starts."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the short-lived launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # Inputs are a few MB, so the AQE reducer count is sized the way
    # bench.py sizes it for small inputs: one per core.
    os.environ.setdefault("SPARK_GRAFT_INITIAL_PARTITIONS", cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path[:0] = [str(REPO), str(HERE)]


def _session(run_dir: Path, trace: bool, jit: str):
    from quantlab_data_pipeline_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.local.dir": str(run_dir / "local"),
        "spark.ui.showConsoleProgress": "false",
        # A fixed-size heap, touched at start: when the collector grows
        # the heap, or leaves part of a fixed one untouched, peak RSS
        # follows the collector's decisions and swung by up to half
        # between runs.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"
            f" -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch {jit}"
        ),
    }
    if trace:
        (run_dir / "eventlog").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{run_dir / 'eventlog'}",
                # Spark 4.1 compresses and may roll the log by default;
                # the parser reads one plain JSON-lines file.
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name="perfbench", extra_conf=conf)


def _stop(spark) -> None:
    """Stop the session, then the JVM the gateway started, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort so no JVM is left behind
            proc.kill()
            proc.wait(timeout=30)


def _gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def _old_gen_peak_mb(spark) -> float:
    """Peak use of the JVM's old-generation pool: the heap the run kept
    alive, which the fixed-size heap hides from peak RSS."""
    pools = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return sum(p.getPeakUsage().getUsed() for p in pools if "Old Gen" in p.getName()) / 2**20


def _cache_state(spark) -> tuple[int, bool]:
    """(persistent RDDs, whether the CacheManager holds any plan)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
    cached = not spark._jsparkSession.sharedState().cacheManager().isEmpty()
    return rdds, cached


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not (PACKAGE / "__init__.py").is_file():
        print(f"perfbench: the program package is missing at {PACKAGE}", file=sys.stderr)
        return 2
    run_dir = WORK / f"{args.workload}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args: argparse.Namespace, run_dir: Path) -> int:
    loadavg = os.getloadavg()[0]
    _environment(run_dir)

    from spans import EventLog, Tracer, driver_cpu_s, find_event_log, host_ticks, jvm_tree_cpu_s, tree_bytes, vm_hwm_mb
    from workloads import WORKLOADS, Context, median

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    e2e_units, per_layer_units = _declared()
    tracer = Tracer() if args.trace else None

    t_setup = time.perf_counter()
    spark = _session(run_dir, bool(args.trace), WORKLOADS[args.workload].jit)
    try:
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        ctx = Context(spark, args.seed, run_dir, REPO, tracer)
        ctx.phases.append(("session", round(time.perf_counter() - t_setup, 3)))
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s = time.perf_counter() - t_setup

        op_s, cpu_s, gc_s, steal, check_s, windows, problems_seen = [], [], [], [], [], [], []
        rdds_before, _ = _cache_state(spark)
        rdds_after, cache_served, failed = [], 0, 0
        t_measure = time.perf_counter()
        i = 0
        while True:
            wl.prepare(i)
            _, cached_before = _cache_state(spark)
            cache_served += cached_before
            gc0 = _gc_s(spark)
            c0 = driver_cpu_s() + jvm_tree_cpu_s(jvm_pid)
            steal0, ticks0 = host_ticks()
            w0, p0 = time.time(), time.perf_counter()
            check, error = None, None
            try:
                check = wl.op(i)
            except Exception as exc:  # noqa: BLE001 - a failed operation is a result
                error = exc
            p1, w1 = time.perf_counter(), time.time()
            steal1, ticks1 = host_ticks()
            steal.append((steal1 - steal0) / max(1, ticks1 - ticks0))
            cpu_s.append(driver_cpu_s() + jvm_tree_cpu_s(jvm_pid) - c0)
            gc_s.append(_gc_s(spark) - gc0)
            op_s.append(p1 - p0)
            windows.append((w0, w1))
            if error is None:
                k0 = time.perf_counter()
                try:
                    problems = check()
                except Exception as exc:  # noqa: BLE001
                    problems = [f"check raised {exc!r}"]
                check_s.append(time.perf_counter() - k0)
            else:
                problems = [f"operation raised {error!r}"]
            if problems:
                failed += 1
                problems_seen.append((i, problems))
                print(f"perfbench: WRONG RESULT in {args.workload} op {i}: {problems[:3]}", file=sys.stderr)
            rdds_after.append(_cache_state(spark)[0])
            i += 1
            measured = time.perf_counter() - t_measure
            if time.perf_counter() - T_START > HARD_STOP_S:
                break
            if measured >= args.seconds and i >= wl.min_ops:
                break

        with ctx.phase("final check"):
            finish_problems = wl.finish()
        for p in finish_problems:
            print(f"perfbench: WRONG RESULT in {args.workload} final check: {p}", file=sys.stderr)
        _, stored = tree_bytes(wl.data_root())
        peak_rss = vm_hwm_mb() + vm_hwm_mb(jvm_pid)
        old_gen_peak = _old_gen_peak_mb(spark)
    finally:
        if tracer:
            tracer.unpatch()
        t_stop = time.perf_counter()
        _stop(spark)
        stop_s = time.perf_counter() - t_stop

    attempted = len(op_s)
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(op_s) * 1000,
        "cpu_s_per_op": sum(cpu_s) / attempted,
        "peak_rss_mb": peak_rss,
        "stored_mb": stored / 2**20,
    }
    if rdds_after[-1] > rdds_before:
        print(
            f"perfbench: FLAG persistent RDDs grew across operations: {rdds_before} -> {rdds_after[-1]}",
            file=sys.stderr,
        )
    if cache_served:
        print(f"perfbench: FLAG {cache_served} operations started with a non-empty CacheManager", file=sys.stderr)

    records = WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    # the untraced run of the same workload and seed, for the overhead
    baseline = records / f"{args.workload}-s{args.seed}.json"
    if args.trace:
        ev = EventLog(find_event_log(run_dir / "eventlog"))
        layers = {name: 0.0 for name in per_layer_units}
        computed = wl.layers(ev, windows)
        undeclared = set(computed) - set(layers)
        if undeclared:
            raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(undeclared)}")
        layers.update(computed)
        works = [ev.work(a, b) for a, b in windows]
        untraced = json.loads(baseline.read_text())["op_p50_ms"] if baseline.exists() else None
        layers.update(
            {
                "spark.gc_s": sum(gc_s) / attempted,
                "spark.old_gen_peak_mb": old_gen_peak,
                "spark.scheduler_delay_s": sum(w.scheduler_delay_s for w in works) / attempted,
                "spark.persistent_rdds_after_op": rdds_after[-1],
                "spark.persistent_rdds_growth": rdds_after[-1] - rdds_before,
                "spark.cache_served_ops": cache_served,
                "ops.failed_ratio": failed / attempted,
                "trace.op_p50_ms": e2e["op_p50_ms"],
                "trace.overhead_ms": e2e["op_p50_ms"] - untraced if untraced is not None else 0.0,
                "host.loadavg_start": loadavg,
                "host.steal_share": median(steal),
            }
        )
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in per_layer_units.items()}
    else:
        baseline.write_text(json.dumps({"op_p50_ms": e2e["op_p50_ms"]}))
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in e2e_units.items()}

    correct = failed == 0 and not finish_problems
    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "loadavg_start": loadavg,
                "phases": ctx.phases + [("stop", round(stop_s, 3))],
                "check_s": round(sum(check_s), 3),
                "ops": attempted,
                "failed_ops_ratio": failed / attempted,
                "op_ms": [round(s * 1000, 3) for s in op_s],
                "gc_s": [round(x, 3) for x in gc_s],
                "steal_share": [round(x, 3) for x in steal],
                "failures": problems_seen[:5],
                "end_to_end": e2e,
            },
            default=str,
        ),
        file=sys.stderr,
    )
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
