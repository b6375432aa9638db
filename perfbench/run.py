#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one timed run.

    python3 perfbench/run.py --workload market_sql --seed 1 --seconds 30 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` under ``.perfbench_work/``, starts a ``local[N]`` session
(N = min(4, usable CPUs)), sets up the workload (including one
untimed warm-up pass), then runs full passes for about ``--seconds``
seconds and checks every result. Progress and a readable report go
to stderr; the last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``setup_s``,
``pass_s``, ``pass_cpu_s``, ``op_p50_s``, ``op_tail_s``,
``peak_rss_mb``). With
``--trace 1`` the session runs with the Spark event log on; after
set-up and one discarded pass the run measures an untraced phase, then
a traced phase with spans around every engine call, and reports the
per-layer metrics, the jobs no span window contains, and the tracing
overhead (traced minus untraced ``pass_s``, both on the same warm
JVM). Spans are written to ``.perfbench_out/``.

``--steady`` runs a workload repeatedly in child processes and reports
each end-to-end metric's spread against its bound in BENCHMARK.json;
see ``steady.py``.
"""

from __future__ import annotations

import time

_T_IMPORT = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Input size: the TPC-H-style scale factor of the generated tables.
SCALE = 0.01
WORKLOADS = ("market_sql", "stream_ingest")


def _process_start() -> float:
    """Wall-clock time this process was created (Linux), so ``setup_s``
    includes interpreter start and imports."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        age = uptime - ticks / os.sysconf("SC_CLK_TCK")
        return time.time() - max(0.0, age)
    except (OSError, ValueError, IndexError):
        return _T_IMPORT


def tree_usage(root: int) -> tuple[int, float]:
    """(resident bytes, CPU seconds) summed over ``root`` and all its
    descendants. CPU counts user and system time, including that of
    exited children their parents have reaped, and excludes time the
    hypervisor stole from the virtual CPUs."""
    parent: dict[int, int] = {}
    usage: dict[int, tuple[int, float]] = {}
    page, tick = os.sysconf("SC_PAGE_SIZE"), os.sysconf("SC_CLK_TCK")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        parent[pid] = int(f[1])
        usage[pid] = (int(f[21]) * page, sum(int(x) for x in f[11:15]) / tick)
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    rss, cpu, todo = 0, 0.0, [root]
    while todo:
        pid = todo.pop()
        r, c = usage.get(pid, (0, 0.0))
        rss, cpu = rss + r, cpu + c
        todo.extend(children.get(pid, ()))
    return rss, cpu


class RssSampler:
    """Peak summed RSS of a process and all its descendants."""

    def __init__(self, pid: int, interval: float = 0.2) -> None:
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_usage(self.pid)[0])
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def cpus() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def start_session(work: str, event_log: str | None = None):
    from capital.session import get_spark

    n = cpus()
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={work} -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
        ),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="capital-perfbench", master=f"local[{n}]",
        shuffle_partitions=n, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


#: Quantile reported as ``op_tail_s``. A run holds 12-36 query samples
#: (2 for ``stream_ingest``), too few for any quantile with ten samples
#: above it; a fixed quantile keeps the metric's meaning the same
#: whether a run fits one pass or three.
TAIL_Q = 0.75


def quantile(values: list[float], q: float) -> float:
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def measure(workload, ctx, seconds: float, after_first=None) -> list[tuple[float, float, list]]:
    """Run whole passes while at least half of another one still fits
    in ``seconds``; return ``(wall seconds, CPU seconds, ops)`` per pass,
    CPU summed over this process and everything under it. Calls
    ``after_first()`` once the first pass is done."""
    passes: list[tuple[float, float, list]] = []
    me = os.getpid()
    t_start = time.perf_counter()
    while True:
        with ctx.tracer.span("pass", "bench", kind="pass"):
            cpu0 = tree_usage(me)[1]
            t0 = time.perf_counter()
            ops = workload.run_pass(ctx)
            passes.append((time.perf_counter() - t0, tree_usage(me)[1] - cpu0, ops))
        elapsed = time.perf_counter() - t_start
        typical = statistics.median(p[0] for p in passes)
        log(f"pass {len(passes)}: {passes[-1][0]:.3f} s "
            + " ".join(f"{o.name}={o.seconds:.3f}" for o in ops))
        if after_first is not None and len(passes) == 1:
            after_first()
        if elapsed + typical / 2 >= seconds:
            return passes


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run(args) -> dict:
    import datagen
    import tracing
    import workloads

    started = _process_start()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    workloads.clean(work)
    os.makedirs(work)
    # Keep every scratch write (Spark blocks, Python and JVM temp
    # files) inside the work directory.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    rss = None
    try:
        setup = {}
        log_dir = os.path.join(work, "eventlog") if args.trace else None
        t0 = time.perf_counter()
        spark = start_session(work, event_log=log_dir)
        setup["session.start_s"] = time.perf_counter() - t0
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = RssSampler(jvm_pid)
        rss.start()
        data_dir = os.path.join(work, "data")
        t0 = time.perf_counter()
        rows = datagen.generate(data_dir, args.seed, SCALE)
        setup["datagen_s"] = time.perf_counter() - t0
        log(f"inputs (seed {args.seed}, scale {SCALE}): {rows}")

        from capital.io import load_table

        wl = workloads.make(args.workload)
        t0 = time.perf_counter()
        for t in wl.tables:
            load_table(spark, data_dir, t)
        setup["io.load_table_s"] = time.perf_counter() - t0

        tracer = tracing.Tracer(enabled=False)
        ctx = workloads.Context(
            spark, tracer, data_dir, work, random.Random(args.seed)
        )
        t0 = time.perf_counter()
        wl.setup(ctx)
        setup["workload_s"] = time.perf_counter() - t0
        setup_s = time.time() - started
        log(f"setup {setup_s:.3f} s: {setup}")

        if args.trace:
            # The untraced and the traced phase both start warm.
            wl.run_pass(ctx)
        wl.reset()
        # Peak memory over set-up and the first pass: the same work in
        # every run, however many passes the host fits in.
        peak = []
        passes = measure(wl, ctx, args.seconds, lambda: peak.append(rss.peak))
        if args.trace:
            # The untraced phase is only timed, for the tracing
            # overhead; the traced phase's results are the ones checked.
            untraced_pass = statistics.median(p[0] for p in passes)
            ctx.tracer.enabled = True
            traced_from = time.time()
            wl.reset()
            passes = measure(wl, ctx, args.seconds)
        ops = [o for *_, p in passes for o in p]
        t0 = time.perf_counter()
        failures = wl.check(ctx, ops)
        log(f"checked {len(ops)} results in {time.perf_counter() - t0:.3f} s")
        failed = {i for i, _ in failures} | {i for i, o in enumerate(ops) if o.error}
        for i, o in enumerate(ops):
            if o.error:
                log(f"FAILED {o.name}: {o.error}")
        for i, why in failures:
            log(f"WRONG {ops[i].name}: {why}")
        log(f"{args.workload}: {len(passes)} passes, failed_frac {len(failed)}/{len(ops)}")
        if args.trace:
            metrics = layer_report(args, wl, ctx, log_dir, setup, passes,
                                   traced_from, untraced_pass)
        else:
            lat = [o.seconds for o in ops if o.latency]
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_s": (statistics.median(p[0] for p in passes), "s"),
                "pass_cpu_s": (statistics.median(p[1] for p in passes), "s"),
                "op_p50_s": (statistics.median(lat), "s"),
                "op_tail_s": (quantile(lat, TAIL_Q), "s"),
                "peak_rss_mb": (peak[0] / 2**20, "MB"),
            }
            for k, (v, u) in metrics.items():
                log(f"  {k:<12} {v:.4f} {u}")
        return {
            "correct": not failed,
            "attempted": len(ops),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if rss is not None:
            rss.stop()
        shutdown_jvm()
        workloads.clean(work)


def shutdown_jvm() -> None:
    """Stop the active session, then the JVM (and with it the Python
    workers it forked), and wait for the JVM to exit."""
    import subprocess

    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_report(args, wl, ctx, log_dir, setup, passes, traced_from, untraced_pass) -> dict:
    """The per-layer metrics of the traced ``passes``, from their spans
    and the event log's jobs submitted since ``traced_from``."""
    import tracing
    import workloads
    from per_layer import per_layer_metrics

    extra = wl.layer_metrics(ctx)
    ctx.spark.stop()
    jobs, stages = tracing.read_event_log(log_dir)
    jobs = [j for j in jobs if j.submit >= traced_from]
    metrics = per_layer_metrics(
        ctx.tracer.spans, jobs, stages, passes, wl, setup, extra,
    )
    traced_pass = statistics.median(p[0] for p in passes)
    metrics["trace.overhead_s"] = (traced_pass - untraced_pass, "s")
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    ctx.tracer.write(os.path.join(
        ROOT, ".perfbench_out", f"{args.workload}-s{args.seed}.spans.jsonl"
    ))
    for k, (v, u) in sorted(metrics.items()):
        log(f"  {k:<40} {v} {u}")
    workloads.clean(log_dir)
    return metrics


def main(argv=None) -> int:
    # Turn SIGTERM into SystemExit so the JVM is stopped and the work
    # directory removed on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", action="store_true",
                    help="repeat runs in child processes and report spreads")
    ap.add_argument("--runs", type=int, default=10, help="runs per workload (--steady)")
    ap.add_argument("--workloads", default=None,
                    help="comma-separated workloads (--steady; default: BENCHMARK.json)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "capital", "__init__.py")) or not \
            os.path.isfile(os.path.join(ROOT, "tests", "oracle_harness.py")):
        print(f"perfbench: no engine source under {ROOT} (capital/, tests/oracle_harness.py)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    if args.steady:
        import steady

        return steady.main(args)
    if args.workload is None:
        ap.error("--workload is required")
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
