"""Benchmark of record for the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process: it generates the workload's
inputs from the seed (under ``perfbench/_work/``, removed at exit), starts
the engine's session on ``local[<cpus>]``, runs one op of every kind as a
warm-up, then runs the seeded op list in a closed loop (one client, one op
in flight) for the whole cycles that fill ``--seconds`` on the reference
box, checks the outputs against independent references, and prints the
metrics. The last line of stdout is one JSON object: ``{"correct",
"attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics (see ``E2E``). ``--trace 1``
traces half the op kinds in each cycle of the timed pass and reports the
per-layer metrics (see ``perfbench/README.md``) instead; it also writes its
spans and per-op counters to ``perfbench/_traces/<workload>-seed<n>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import queue
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("relational", "dataflow")
TRACES = os.path.join(HERE, "_traces")  # where a traced run leaves its spans
OP_DEADLINE_S = 60.0
E2E = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
}


def _boot_clock() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def _process_start() -> float:
    """This process's start on the boot clock, from /proc/self/stat."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[19]) / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def hd_median(values: list[float]) -> float:
    """The Harrell-Davis estimate of the median: the mean of the order
    statistics weighted by the Beta((n+1)/2, (n+1)/2) distribution. A timed
    cycle holds one op of each kind, so the plain sample median is whichever
    kind lands in the middle, often at a gap between fast and slow kinds;
    this estimate also weighs the kinds beside it."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n, grid = len(x), 100_000
    mid = (np.arange(grid) + 0.5) / grid  # midpoint rule over [0, 1]
    cdf = np.concatenate([[0.0], np.cumsum((mid * (1 - mid)) ** ((n - 1) / 2))])
    cdf /= cdf[-1]
    w = np.diff(cdf[np.rint(np.arange(n + 1) / n * grid).astype(int)])
    return float(w @ x)


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest nearest-rank percentile with at
    least ten samples above it; the maximum when there are fewer than
    eleven samples."""
    s = sorted(latencies)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, n
    rank = n - 10  # 1-based: ten samples lie beyond it
    return s[rank - 1], 100.0 * rank / n, n


class OpRunner:
    """Runs one op at a time on a daemon thread with a deadline. A hung op
    is abandoned with its thread (which cannot block exit) and a fresh
    thread serves the next op."""

    def __init__(self):
        self._start()

    def _start(self):
        self._in: queue.Queue = queue.Queue()
        self._out: queue.Queue = queue.Queue()
        threading.Thread(target=self._loop, args=(self._in, self._out), daemon=True).start()

    @staticmethod
    def _loop(q_in, q_out):
        while (fn := q_in.get()) is not None:
            try:
                q_out.put((True, fn()))
            except Exception as e:  # noqa: BLE001 - reported as a failed op
                q_out.put((False, e))

    def call(self, fn, timeout: float):
        self._in.put(fn)
        try:
            ok, value = self._out.get(timeout=timeout)
        except queue.Empty:
            self._start()
            raise TimeoutError(f"missed its {timeout:.0f} s deadline") from None
        if not ok:
            raise value
        return value

    def close(self):
        self._in.put(None)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(work: str) -> dict:
    """Keep every file the run writes inside ``work``: Python and JVM temp
    files, Spark's local dirs, the warehouse. Python workers import the
    engine from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(cpus),
        # under the engine's default 16 GB heap, G1 grows the heap with the
        # allocation rate, and peak_rss_mb ranged 2.6-4.5 GB over five seeds
        # of each workload; a 1 GB heap fills in every run and keeps it steady
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYSPARK_PYTHON=sys.executable,
        # no hsperfdata files in the system temp dir, from the launcher JVM either
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    import tempfile

    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {
        "cpus": cpus,
        "conf": {
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    t_boot = _process_start()
    # on SIGTERM, unwind through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return _run(args, work, t_boot)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run is using it
            os.rmdir(os.path.dirname(work))


def _run(args, work: str, t_boot: float) -> int:
    env = _prepare_env(work)
    try:
        import ray_beam_runner_spark  # noqa: F401
    except ImportError as e:
        print(f"run.py: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    from pyspark import cloudpickle

    from perfbench import layers, trace, workloads

    cloudpickle.register_pickle_by_value(workloads)  # workers need not import perfbench
    cls = workloads.WORKLOADS[args.workload]

    t0 = time.perf_counter()
    wl = cls(args.seed, os.path.join(work, "data"))
    wl.generate()
    gen_s = time.perf_counter() - t0

    from ray_beam_runner_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=env["conf"])
    get_spark_s = time.perf_counter() - t0
    runner = OpRunner()
    null = trace.NullTracer()
    tracer = trace.Tracer(spark, env["cpus"]) if args.trace else None
    try:
        if tracer:
            tracer.watch_streams()
        done: list[tuple[dict, object]] = []
        errors: dict[int, str] = {}

        def run_op(op, tr) -> tuple[float, int]:
            if tr is not null:
                tr.begin_op(op["id"])
            t = time.perf_counter()
            out, rows = None, 0
            try:
                out, rows = runner.call(lambda: wl.run(spark, op, tr), OP_DEADLINE_S)
            except Exception as e:  # noqa: BLE001 - an op failure is data
                errors[op["id"]] = _describe(e)
                print(f"op {op['id']} {op['key']} failed: {errors[op['id']]}", file=sys.stderr)
                _cancel(spark)
            lat = time.perf_counter() - t
            if tr is not null:
                tr.end_op(op, lat)
            done.append((op, out))
            runner.call(lambda: wl.cleanup(spark), OP_DEADLINE_S)
            return lat, (rows if out is not None else 0)

        # warm-up: cycle 0, one op of every kind, all at once, so the JIT and
        # the codegen cache warm in a fraction of a sequential pass. The ops
        # share one deadline; one still running then is abandoned with its
        # daemon thread and counts as failed.
        warm = [op for op in wl.ops if op["cycle"] == 0]
        warm_out: dict[int, object] = {}

        def warm_op(op):
            try:
                warm_out[op["id"]] = wl.run(spark, op, null)[0]
            except Exception as e:  # noqa: BLE001 - an op failure is data
                errors[op["id"]] = _describe(e)
                print(f"op {op['id']} {op['key']} failed in warm-up: {errors[op['id']]}", file=sys.stderr)

        t_warm = time.perf_counter()
        threads = [threading.Thread(target=warm_op, args=(op,), daemon=True) for op in warm]
        for t in threads:
            t.start()
        for op, t in zip(warm, threads):
            t.join(max(0.0, t_warm + OP_DEADLINE_S - time.perf_counter()))
            if t.is_alive():
                errors[op["id"]] = f"TimeoutError: missed its {OP_DEADLINE_S:.0f} s deadline in warm-up"
                print(f"op {op['id']} {op['key']} failed in warm-up: {errors[op['id']]}", file=sys.stderr)
        if any(t.is_alive() for t in threads):
            _cancel(spark)
        done.extend((op, warm_out.get(op["id"])) for op in warm)
        runner.call(lambda: wl.cleanup(spark), OP_DEADLINE_S)
        warm_s = time.perf_counter() - t_warm
        setup_s = _boot_clock() - t_boot

        # the timed pass: closed loop, one op in flight, whole cycles. Their
        # number is what fills --seconds on the reference box, so every run
        # on every box times the same ops and the same sample count. A
        # traced run takes at least two cycles and traces half the kinds in
        # odd cycles, the other half in even ones: every kind has traced and
        # plain samples, and the JIT's warming weighs on both sides alike.
        lat: dict[str, list[float]] = {"plain": [], "traced": []}
        kinds: dict[str, list[tuple[str, float]]] = {"plain": [], "traced": []}
        rows = 0
        n_cycles = max(2 if tracer else 1, math.ceil(args.seconds / wl.nominal_cycle_s))
        parity = {k: i % 2 for i, k in enumerate(sorted({op["kind"] for op in wl.ops}))}
        t_pass = time.perf_counter()
        for op in (op for op in wl.ops if 1 <= op["cycle"] <= n_cycles):
            side = "traced" if tracer and (parity[op["kind"]] + op["cycle"]) % 2 else "plain"
            dt, r = run_op(op, tracer if side == "traced" else null)
            lat[side].append(dt)
            kinds[side].append((op["kind"], dt))
            rows += r
        pass_s = time.perf_counter() - t_pass
        rss = {"driver": _vm_hwm_mb(os.getpid()), "jvm": _vm_hwm_mb(spark.sparkContext._gateway.proc.pid)}

        t_check = time.perf_counter()
        checks = wl.check_all(done)
        for (op, _), res in zip(done, checks):
            if res is not None and not res[0]:
                errors.setdefault(op["id"], f"output differs from reference: {res[1]}")
                print(f"op {op['id']} {op['key']} MISMATCH: {res[1]}", file=sys.stderr)
        n_checked = sum(r is not None for r in checks)
        check_s = time.perf_counter() - t_check
        layer = None
        if tracer:
            layer = layers.layer_metrics(tracer, wl, spark, get_spark_s, kinds)
            os.makedirs(TRACES, exist_ok=True)
            tracer.write(os.path.join(TRACES, f"{args.workload}-seed{args.seed}.json"))
    finally:
        if tracer:
            tracer.close()
        runner.close()
        t_stop = time.perf_counter()
        _stop(spark)
        stop_s = time.perf_counter() - t_stop

    attempted, failed = len(done), len(errors)
    all_lat = lat["plain"] + lat["traced"]
    tail_v, tail_p, n = tail(all_lat)
    e2e = {
        "setup_s": setup_s,
        "rows_per_s": rows / pass_s,
        "op_p50_s": hd_median(all_lat),
        "peak_rss_mb": rss["driver"] + rss["jvm"],
    }
    print(f"workload {args.workload} seed {args.seed} cpus {env['cpus']} trace {args.trace}")
    print(f"  ops {attempted} ({len(warm)} warm-up, {len(all_lat)} timed in {pass_s:.2f} s), {n_checked} checked")
    print(f"  phases: setup {setup_s:.2f} s (warm-up {warm_s:.2f} s), pass {pass_s:.2f} s, checks {check_s:.2f} s, stop {stop_s:.2f} s")
    by_kind: dict[str, list[float]] = {}
    for kind, dt in kinds["plain"] + kinds["traced"]:
        by_kind.setdefault(kind, []).append(dt)
    print("  op medians: " + ", ".join(f"{k} {statistics.median(v):.3f}" for k, v in sorted(by_kind.items())))
    for name, unit in E2E.items():
        extra = ""
        if name == "op_p50_s":
            extra = f"  (Harrell-Davis, n={n}; sample median {statistics.median(all_lat):.6g} s)"
        elif name == "peak_rss_mb":
            extra = f"  (driver {rss['driver']:.1f} + JVM {rss['jvm']:.1f})"
        elif name == "setup_s":
            extra = f"  (get_spark {get_spark_s:.2f} s, input generation {gen_s:.2f} s)"
        print(f"  {name:<12} {e2e[name]:.6g} {unit}{extra}")
    # printed, not listed: see perfbench/README.md
    print(f"  {'op_tail_s':<12} {tail_v:.6g} s  (p{tail_p:.1f} of n={n})")
    print(f"  {'error_rate':<12} {failed / attempted:.6g} ratio  ({failed}/{attempted})")
    print(f"  correct      {str(failed == 0).lower()}")
    if layer is not None:
        for name, (value, unit) in layer.items():
            print(f"  {name:<42} {value:.6g} {unit}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def _describe(e: Exception) -> str:
    first = str(e).splitlines()[0] if str(e) else ""
    return f"{type(e).__name__}: {first}"


def _cancel(spark) -> None:
    """After a failed or abandoned op: stop its jobs and streams."""
    spark.sparkContext.cancelAllJobs()
    for q in spark.streams.active:
        q.stop()


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
