"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload logstore_reads --seed 1 --seconds 8 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs every operation twice, untraced and traced in
alternating order, and prints the per-layer metrics plus the tracing
overhead. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the run's environment and sample counts. All files go under
``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def _program_present() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, *p))
        for p in (("bigdatatiler_spark", "__init__.py"), ("tools", "check_oracle.py"))
    )


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


#: the JVM heap, fixed and resident from the start (``-Xms`` = ``-Xmx``,
#: pre-touched), so that peak RSS moves with the memory beyond it and not
#: with GC timing; ``peak_rss_beyond_heap_mb`` subtracts it
HEAP_MB = 2048


def _start_session(work: str):
    from bigdatatiler_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.memory": f"{HEAP_MB}m",
            "spark.driver.extraJavaOptions": f"-Xms{HEAP_MB}m -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not _program_present():
        print("perfbench: bigdatatiler_spark/ and tools/ not found beside perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_nproc()))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    cache = os.path.join(WORK_ROOT, "cache")
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in (cache, os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the launcher's SPARK_LOCAL_DIRS overrides spark.local.dir; keep both
    # inside the checkout, and keep every JVM (spark-submit's launcher too)
    # from writing perf data or temp files under /tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"

    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_session(work)
        session_s = time.perf_counter() - t0
        from bigdatatiler_spark.registry import load_all

        t1 = time.perf_counter()
        load_all()
        load_all_s = time.perf_counter() - t1
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, work, cache)
        wl.setup()
        setup_s = time.perf_counter() - t0
        if tracer:
            wl.trace_hooks(tracer)
        result = _loop(spark, wl, args.seconds, tracer)
        metrics, info = _report(wl, result, tracer, setup_s, session_s, load_all_s)
        info.update(
            workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
            nproc=_nproc(), spark_graft_cpus=os.environ["SPARK_GRAFT_CPUS"],
            pyspark=__import__("pyspark").__version__, data_dir=os.path.relpath(work, ROOT),
            **wl.info,
        )
        if tracer:
            traces = os.path.join(WORK_ROOT, "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
            info["self_time_ms"] = tracer.self_time_report()
            tracer.unpatch()
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    info["wall_s"] = round(time.perf_counter() - T_START, 3)
    print(json.dumps({"info": info}, default=str))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.stdout.flush()
    return 0


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the launcher exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _loop(spark, wl, seconds: float, tracer) -> dict:
    """Closed loop over whole passes of the workload's operation deck until
    ``seconds`` have passed. Results are checked after the loop."""
    sc = spark.sparkContext
    done, pairs = [], []  # (op, latency_ms, output, traced)
    ops = wl.ops()
    start = time.perf_counter()
    i = 0
    while True:
        op = next(ops)
        variants = [False]
        if tracer:
            variants = [False, True] if i % 2 == 0 else [True, False]
        lat = {}
        for traced in variants:
            run_op = wl.variant(op, traced) if tracer else op
            group = f"perfbench-{i}-{int(traced)}"
            sc.setJobGroup(group, wl.name)
            if traced:
                with tracer.op(i, run_op.get("kind") or run_op.get("query") or wl.name):
                    out, lat[traced] = _timed(wl, run_op)
                tracer.harvest(group)
            else:
                out, lat[traced] = _timed(wl, run_op)
            done.append((run_op, lat[traced], out, traced))
            wl.after_op()
        if tracer:
            pairs.append((lat[False], lat[True]))
        i += 1
        elapsed = time.perf_counter() - start
        if elapsed >= seconds and op.get("last_of_pass", True):
            break
    sc.setLocalProperty("spark.jobGroup.id", None)
    # before the checks, whose DuckDB work runs in this process
    peak_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
               _vm_hwm_mb(sc._gateway.proc.pid))
    t0 = time.perf_counter()
    oks = wl.check_all([d[0] for d in done], [d[2] for d in done])
    wl.info["check_s"] = round(time.perf_counter() - t0, 3)
    return {
        "elapsed_s": elapsed,
        "done": done,
        "ok": oks,
        "pairs": pairs,
        "peak_mb": peak_mb,
        "attempted": len(done),
        "failed": sum(1 for ok in oks if not ok),
    }


def _timed(wl, op):
    """Run one operation; a failing one is reported on stderr and counted
    as failed by the check."""
    t0 = time.perf_counter()
    try:
        out = wl.run(op)
    except Exception:  # noqa: BLE001 - the loop must go on and count it
        traceback.print_exc()
        out = None
    return out, (time.perf_counter() - t0) * 1000.0


def _report(wl, result, tracer, setup_s, session_s, load_all_s):
    import stats

    done = result["done"]
    untraced = [lat for _, lat, _, traced in done if not traced]
    info = {
        "ops": len(untraced),
        "op_p90_samples_beyond": stats.samples_beyond(len(untraced), 90),
        "op_p90_samples_needed": stats.samples_needed(90),
        "setup_parts_s": {"session_start": round(session_s, 3),
                          "load_all": round(load_all_s, 3)},
    }
    if not tracer:
        python_mb, jvm_mb = result["peak_mb"]
        info["peak_rss_mb"] = {"python_driver": round(python_mb, 1), "jvm": round(jvm_mb, 1)}
        metrics = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (len(untraced) / result["elapsed_s"], "1/s"),
            "op_p50_ms": (stats.median(untraced), "ms"),
            "op_p90_ms": (stats.percentile(untraced, 90), "ms"),
            "peak_rss_beyond_heap_mb": (python_mb + jvm_mb - HEAP_MB, "MB"),
            "op_success_ratio": (1.0 - result["failed"] / result["attempted"], "ratio"),
        }
        info["per_kind_p50_ms"] = _per_kind_p50(done)
        info["latencies_ms"] = [round(x, 1) for x in untraced]
        return metrics, info
    values = wl.layer_metrics(tracer, done)
    values["session.start_s"] = session_s
    values["registry.load_all_s"] = load_all_s
    values["trace.overhead_pct"] = 100.0 * stats.median(t / u - 1.0 for u, t in result["pairs"])
    metrics = {k: (values.get(k, 0.0), u) for k, u in stats.PER_LAYER.items()}
    return metrics, info


def _per_kind_p50(done) -> dict:
    import stats

    kinds: dict[str, list[float]] = {}
    for op, lat, _, traced in done:
        if not traced:
            kinds.setdefault(op.get("kind") or op.get("query") or "op", []).append(lat)
    return {k: round(stats.median(v), 1) for k, v in sorted(kinds.items())}


if __name__ == "__main__":
    sys.exit(main())
