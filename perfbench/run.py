"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload reference_etl --seed 1 --seconds 6 --trace 0

Run from the repository root. The run generates its inputs from the seed
under ``.bench_work/``, builds one Spark session (``local[nproc]``), calls
every op kind once (set-up), makes a fixed number of untimed warm-up rounds
over all kinds, measures whole rounds for ``--seconds`` (two at least), and
checks every output. ``--trace 0`` prints the end-to-end metrics of
BENCHMARK.json; ``--trace 1`` replays the measured ops with span wrappers
around each layer's entry points and prints the per-layer metrics, writing
the spans to ``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORK_ROOT = os.path.join(ROOT, ".bench_work")
#: end-to-end metrics, printed by every untraced run of every workload
END_TO_END = ("setup_s", "op_p50_geomean_s", "rows_per_s")
#: measured rounds a run makes even when they outlast ``--seconds``
MIN_ROUNDS = 2


def _checkout_ok() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isfile(
        os.path.join(ROOT, "etl_portofolio_spark", "__init__.py")
    )


def _isolate(work: str) -> None:
    """Environment for the session and its Python workers, set before the
    JVM starts: imports resolve from the checkout, every scratch file of
    Spark and Derby lands in the run's work directory."""
    paths = [ROOT, BENCH_DIR] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.chdir(work)
    sys.path[:0] = [ROOT]


class Runner:
    """Times ops, counts failures, optionally records spans."""

    def __init__(self, spark, workload, store, ins=None) -> None:
        self.spark = spark
        self.wl = workload
        self.store = store
        self.ins = ins  # layer wrappers, recording into the call's tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.tracer = None  # records spans of every call while set
        self.warm_tracer = None  # records spans of the warm calls while set

    def call(self, op, tracer=None) -> tuple[float, int] | None:
        """Run one op; returns (seconds, rows) or None when it failed."""
        self.attempted += 1
        tr = tracer or self.tracer
        if self.ins:
            self.ins.tracer = tr
        try:
            t0 = time.perf_counter()
            if tr is None:
                rows = op.run(op.plan()) if op.plan else op.run()
            else:
                with tr.span(f"op.{op.kind}") as sp:
                    if op.plan:
                        with tr.span("plans.build"):
                            df = op.plan()
                        with tr.span("plans.exec"):
                            rows = op.run(df)
                    else:
                        rows = op.run()
                    sp.attrs["rows"] = rows
                    sp.attrs["live_cache"] = _live_cache()
            dt = time.perf_counter() - t0
            err = op.check() if op.check else None
        except Exception:  # noqa: BLE001 -- a failed op is counted, the loop goes on
            err = traceback.format_exc(limit=3)
        finally:
            if self.ins:
                self.ins.tracer = None
        if err:
            self.failed += 1
            self.errors.append(err)
            return None
        return dt, rows

    def warm_and_measure(self, seconds: float) -> tuple[dict, list[tuple]]:
        """Set-up calls, untimed warm-up rounds, then measured rounds.

        A round is one call of every op kind, in the workload's order.
        Round 0 is the set-up: each kind's first call pays for JIT,
        codegen, Python workers and index builds. The workload's
        ``warm_rounds`` follow untimed, a fixed number, because the JVM
        warms with the work done, not with the time passed. Then whole
        rounds are measured until ``seconds`` have passed, and at least
        ``MIN_ROUNDS``: every kind gets the same number of calls, spread
        over the whole measured stretch. Returns the set-up call times and
        the measured calls as (op, seconds, rows produced, rows the engine
        read).
        """
        kinds = self.wl.kinds()
        warm = {}
        for kind in kinds:
            t0 = time.perf_counter()
            self.call(self.wl.op(kind, 0), tracer=self.warm_tracer)
            warm[kind] = time.perf_counter() - t0
        i = 1
        for _ in range(self.wl.warm_rounds):
            for kind in kinds:
                self.call(self.wl.op(kind, i))
            i += 1
        done = []
        t_end = time.perf_counter() + seconds
        rounds = 0
        while rounds < MIN_ROUNDS or time.perf_counter() < t_end:
            for kind in kinds:
                op = self.wl.op(kind, i)
                first_job = self.store.max_job_id()
                res = self.call(op)
                if res is not None:
                    read = self.store.counters_since(first_job)["input_records"]
                    done.append((op, *res, read))
            i += 1
            rounds += 1
        if not done:
            raise RuntimeError("no op completed: " + "\n".join(self.errors[-3:]))
        return warm, done


def end_to_end(runner, session_s, seconds) -> tuple[dict, dict]:
    """Per-kind medians first, then combined across kinds."""
    warm, done = runner.warm_and_measure(seconds)
    col = 2 if runner.wl.name == "reference_etl" else 3  # rows written : read
    kinds: dict[str, list[tuple]] = {}
    for d in done:
        kinds.setdefault(d[0].kind, []).append(d)
    p50, rows = {}, {}
    for kind, calls in kinds.items():
        p50[kind] = statistics.median(d[1] for d in calls)
        rows[kind] = statistics.mean(d[col] for d in calls)
    return {
        "setup_s": session_s + sum(warm.values()),
        # median latency of each kind, combined across kinds by geometric mean
        "op_p50_geomean_s": math.exp(statistics.mean(math.log(v) for v in p50.values())),
        # one call of every kind: rows per second of op time
        "rows_per_s": sum(rows.values()) / sum(p50.values()),
    }, {
        "warm_op_s": warm,
        "ops_measured": len(done),
        "op_latencies_s": [[d[0].kind, round(d[1], 4)] for d in done],
    }


def per_layer(runner, ins, session_s, seconds, trace_path) -> dict:
    """Warm and measured calls untraced (warm calls traced apart, for the
    set-up layers), then the measured calls again with spans on every
    layer."""
    from perfbench import layers
    from perfbench.trace import Tracer

    runner.ins = ins
    runner.warm_tracer = warm = Tracer(runner.store)
    _, done = runner.warm_and_measure(seconds / 2)
    runner.tracer = tracer = Tracer(runner.store)
    traced = []
    for op, *_ in done:
        tracer.op += 1
        res = runner.call(op)
        if res is not None:
            traced.append((op, *res))
    metrics = layers.summarize(runner, warm, tracer, done, traced, session_s)
    tracer.spans[:0] = warm.spans
    tracer.dump(trace_path)
    return metrics


def _live_cache() -> int:
    from etl_portofolio_spark.caching import live_cache_count

    return live_cache_count()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not _checkout_ok():
        print("run from the root of a checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    _isolate(work)
    from perfbench.trace import StatusStore, Tracer, instrument
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    load_before = os.getloadavg()
    wl = WORKLOADS[args.workload](args.workload, args.seed, work)
    t0 = time.perf_counter()
    wl.generate()
    phases = {"generate_s": time.perf_counter() - t0}

    import etl_portofolio_spark.fixtures as fixtures
    from etl_portofolio_spark.session import build_session

    # derived-fixture cache inside the run's work directory
    fixtures._ROOT = os.path.join(work, "fixtures")
    t0 = time.perf_counter()
    spark = build_session("perfbench")
    session_s = phases["session_s"] = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        wl.prepare(spark)
        phases["prepare_s"] = time.perf_counter() - t0
        runner = Runner(spark, wl, StatusStore(spark))
        if args.trace:
            os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
            trace_path = os.path.join(
                WORK_ROOT, "traces", f"{args.workload}-{args.seed}.jsonl"
            )
            metrics = per_layer(runner, instrument(), session_s, args.seconds, trace_path)
            info = {"spans": os.path.relpath(trace_path, ROOT)}
        else:
            metrics, info = end_to_end(runner, session_s, args.seconds)
        errors = wl.verify()
        wl.close()
    finally:
        _stop(spark)
    runner.failed += len(errors)
    runner.errors += errors
    units = _units()
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "inputs": wl.inputs, "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(), "phases": phases,
        "errors": runner.errors[:5], **info,
    }))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 -- a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
