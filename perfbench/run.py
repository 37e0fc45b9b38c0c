"""Benchmark entry point.

    python3 perfbench/run.py --workload delta_refresh --seed 1 --seconds 6 --trace 0

Runs one workload from the root of a source checkout: starts the engine's
own session (``local[nproc]``) on a fresh metastore inside the checkout,
builds the seeded inputs, runs untimed warm-up rounds, then runs rounds of
ops in a closed loop for ``--seconds`` (and at least the workload's
``min_rounds``), checking each op's output. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` traces every other round and prints the
per-layer metrics. The last line of stdout is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _du(path: str) -> dict[str, int]:
    """Size of every file under ``path``."""
    sizes = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            sizes[p] = os.path.getsize(p)
    return sizes


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    run's directory, and let executors import the engine from the checkout."""
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
    env["DATACHAIN_SPARK_METASTORE"] = os.path.join(work, "metastore")
    os.makedirs(env["TMPDIR"])
    # Spark puts spark-warehouse/, metastore_db/ and derby.log in the cwd
    os.chdir(work)
    sys.path.insert(0, ROOT)


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _stop(sess) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    sess.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def _timed_op(ctx, wl, i, traced, accums, stats, metastore):
    """Run op ``i``; with ``traced``, record its spans and layer counters.
    Returns (OpResult or None if the op raised, latency in seconds)."""
    tracer = ctx.tracer
    tracer.enabled, tracer.op = traced, i
    ctx.accums = accums if traced else None
    before = (accums.values(), _du(metastore)) if traced else None
    t_op = time.perf_counter()
    try:
        res = wl.op(ctx, i)
    except Exception:  # noqa: BLE001 — an op that raises is a failed op
        traceback.print_exc()
        res = None
    latency = time.perf_counter() - t_op if res is None else res.latency
    if traced:
        tracer.harvest()
        stats.add_op(tracer, i, res, before, (accums.values(), _du(metastore)))
    tracer.enabled, ctx.accums = False, None
    verdict = "FAILED" if res is None or not res.ok else "ok"
    print(f"op {i} {verdict} {latency:.3f}s: {'raised' if res is None else res.detail}")
    return res, latency


def tail(values: list[float]) -> float:
    """p75, the tail percentile every workload reports: the highest one with
    at least 10 ops beyond it in a dataset_query run (see README.md). A
    single op is its own tail."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=4, method="inclusive")[-1]


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    t_setup = time.perf_counter()
    import datachain_spark as dc

    from perfbench.layers import LayerStats
    from perfbench.tracer import Tracer, install_probes
    from perfbench.workloads import WORKLOADS, Accums, Ctx

    metastore = os.environ["DATACHAIN_SPARK_METASTORE"]
    sess = dc.Session(metastore_dir=metastore)
    dc.Session._global = sess  # the session every dc call without one uses
    spark = sess.spark
    start_s = time.perf_counter() - t_setup
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(spark.sparkContext, enabled=False)
        if trace:
            install_probes(tracer)
        ctx = Ctx(sess, tracer, work, seed)
        wl = WORKLOADS[workload]()
        wl.setup(ctx)
        t_warm = time.perf_counter()
        warm = [wl.op(ctx, i) for i in range(-wl.warmup_rounds * wl.round_ops, 0)]
        warmup_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - t_setup
        for w in warm:
            print(f"warm-up {'ok' if w.ok else 'FAILED'} {w.latency:.3f}s: {w.detail}")

        accums = Accums.create(spark.sparkContext) if trace else None
        stats = LayerStats()
        results = list(warm)
        timed_ops: list[tuple[bool, float]] = []  # (traced, latency)
        failures = sum(not w.ok for w in warm)
        t0 = time.perf_counter()
        rounds = 0
        # whole rounds (one op, or one op per query template), at least the
        # workload's min_rounds: that gives a traced run an untraced round to
        # measure tracing overhead against, and a point to sample space that
        # does not depend on how many rounds fit in the run
        while rounds < wl.min_rounds or time.perf_counter() - t0 < seconds:
            traced = trace and rounds % 2 == 0
            for i in range(rounds * wl.round_ops, (rounds + 1) * wl.round_ops):
                res, latency = _timed_op(ctx, wl, i, traced, accums, stats, metastore)
                failures += res is None or not res.ok
                results.append(res)
                timed_ops.append((traced, latency))
            rounds += 1
            if rounds == wl.min_rounds:
                space_ratio = sum(_du(metastore).values()) / wl.input_bytes()
                versions = sum(len(r.versions) for r in sess.metastore.list_datasets())
        timed = [lat for _, lat in timed_ops]
        if trace:
            metrics = stats.metrics(
                start_s=start_s, warmup_s=warmup_s,
                jvm_peak_rss_mb=_jvm_peak_rss_mb(spark),
                py_peak_rss_mb=resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
                versions=versions, latencies=timed_ops,
            )
            out = os.path.join(ROOT, ".perfbench_runs", f"spans-{workload}-seed{seed}.json")
            tracer.write(out)
            print(f"spans written to {out}", file=sys.stderr)
        else:
            done = [r for r in results[len(warm):] if r is not None]
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_p50_s": (statistics.median(timed), "s"),
                "op_tail_s": (tail(timed), "s"),
                "files_per_s": (sum(r.files for r in done) / sum(timed), "files/s"),
                "stored_bytes_per_input_byte": (space_ratio, "ratio"),
            }
        for name, (value, unit) in metrics.items():
            print(f"{name} = {value:.6g} {unit}")
        print(f"failed_ops_frac = {failures}/{len(results)} ops "
              f"(warm-up included; timed ops: {len(timed)})")
        return {
            "correct": failures == 0,
            "attempted": len(results),
            "failed": failures,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        _stop(sess)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["bucket_ingest", "delta_refresh", "dataset_query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # SIGTERM unwinds like an error, so Spark stops and the run dir goes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "datachain_spark", "__init__.py")):
        print(f"no datachain_spark package under {ROOT}: run from a source checkout",
              file=sys.stderr)
        sys.exit(2)
    work = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        _isolate(work)
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
