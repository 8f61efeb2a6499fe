#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root. One process, one closed-loop client on
``nproc`` cores: generate the inputs, set the engine up once from cold
(JVM start, program import, the workload's own set-up), run one cold
pass of the workload's request mix, then warm passes for at least
``--seconds`` and at least MIN_WARM_PASSES passes. Every request is
verified outside its timed region. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
— the end-to-end metrics, or with ``--trace 1`` the per-layer metrics
of the traced passes (see perfbench/README.md). The line before it is
a summary with every number behind the result and the host conditions.

Everything the run writes stays under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` (span files of traced runs).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_WARM_PASSES = 2  # pass_s is the median of at least this many warm passes
TRACE_PAIRS = 2  # untraced/traced warm pass pairs behind trace.overhead_s
TAIL_SAMPLES = 10  # samples that must lie above the reported tail percentile
DEADLINE_S = 150.0  # no new pass starts after this much wall time
JVM_HEAP = "2g"  # the inputs are small and the host is shared


def tail(values: list[float], above: int = TAIL_SAMPLES) -> tuple[float, float, int]:
    """The highest percentile with at least ``above`` samples above it.

    Returns (value, percentile, sample count): the (n - above)-th
    smallest sample, i.e. ``above`` samples lie above it, at percentile
    100 * (n - above) / n. Needs more than ``above`` samples.
    """
    n = len(values)
    if n <= above:
        raise ValueError(f"{n} samples; the tail needs more than {above}")
    return sorted(values)[n - above - 1], 100.0 * (n - above) / n, n


# --- host conditions and memory ----------------------------------------------------


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def canary_s() -> float:
    """Fixed pure-Python work, timed: a gauge of host speed, reported only."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024


def descendants_mem_mb(root: int) -> float:
    """Memory of every process below ``root`` (the JVM and its Python
    workers), from /proc. Python workers count by proportional set
    size, which splits the pages forked workers share among them, so
    the sum counts each page once. The JVM shares next to nothing and
    counts by resident size: its PSS reads the same to within 1% but
    walks its page tables under its memory lock, ~10-30 ms a sample."""
    kids, total_kb = _children(), 0
    todo = list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        try:
            with open(f"/proc/{pid}/comm") as f:
                jvm = f.read().strip() == "java"
            total_kb += _rss_kb(pid) if jvm else _pss_kb(pid)
        except OSError:
            continue
    return total_kb / 1024


class MemSampler(threading.Thread):
    def __init__(self, period_s: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.period_s, self.peak_mb = period_s, 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_mb = max(self.peak_mb, descendants_mem_mb(os.getpid()))
            self._stop_evt.wait(self.period_s)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_mb


# --- the engine session ------------------------------------------------------------


def engine_env(work: str, cores: int) -> None:
    """Process environment read when the JVM starts: core count, and
    scratch directories inside the run's work directory."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM the launch starts (launcher and engine) keeps its temp
    # files in the work directory and writes no perf-data file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )


def start_spark(work: str):
    from laser_hadoop_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def shutdown_spark(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort: never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- the run -----------------------------------------------------------------------


def set_up(wl, work: str, tracer) -> tuple[object, float]:
    """The cold set-up: start the JVM and a session through
    ``session.get_spark`` (this first call also imports pyspark and the
    program), then the workload's own set-up. Returns (session, seconds)."""
    t = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = start_spark(work)
    wl.setup(spark, tracer)
    return spark, time.perf_counter() - t


def warm_passes(wl, ctx, seconds: float, t_start: float) -> list:
    """At least MIN_WARM_PASSES warm passes, and more until ``seconds``
    have passed; none beyond the minimum starts after DEADLINE_S of wall
    time."""
    passes, t0 = [], time.perf_counter()
    while True:
        ctx.pass_id = f"warm{len(passes)}"
        passes.append(wl.run_pass(ctx))
        now = time.perf_counter()
        if len(passes) >= MIN_WARM_PASSES and (
            now - t0 >= seconds or now - t_start > DEADLINE_S
        ):
            return passes


def end_to_end(setup_s, cold, warm, mem_peak_mb) -> tuple[dict, dict]:
    lat = [r.seconds for p in warm for r in p.requests]
    t_val, t_pct, t_n = tail(lat)
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(p.seconds for p in warm), "s"),
        "cold_pass_s": (cold.seconds, "s"),
        "request_p50_s": (statistics.median(lat), "s"),
        "request_tail_s": (t_val, "s"),
        "mem_peak_mb": (mem_peak_mb, "MB"),
    }
    info = {"request_tail_percentile": t_pct, "request_samples": t_n}
    return metrics, info


def stream_rows_per_s(passes) -> float:
    trig = [r for p in passes for r in p.requests if r.kind == "streaming.trigger"]
    busy = sum(r.seconds for r in trig)
    rows = sum(r.phases.get("input_rows", 0) for r in trig)
    return rows / busy if busy else 0.0


def request_table(passes) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for p in passes:
        for r in p.requests:
            out.setdefault(r.kind, []).append(round(r.seconds, 4))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, "laser_hadoop_spark")):
        print(f"perfbench: no laser_hadoop_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import tracing as tr
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    host = {"nproc": cores, "loadavg_start": os.getloadavg(), "canary_start_s": canary_s()}
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    engine_env(work, cores)
    spark = None
    mem = MemSampler()
    try:
        wl = workloads.WORKLOADS[args.workload](work, args.seed)
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t
        tracer = tr.Tracer(enabled=bool(args.trace))
        mem.start()
        spark, setup_s = set_up(wl, work, tracer)
        wl.prepare()
        ctx = workloads.Ctx(spark=spark, tracer=tr.Tracer(enabled=False), counters=None)
        ctx.pass_id = "cold"
        cold = wl.run_pass(ctx)
        if args.trace:
            metrics, info, passes = traced(args, wl, ctx, tracer, work, cores)
            passes.insert(0, cold)
        else:
            passes = [cold] + warm_passes(wl, ctx, args.seconds, t_start)
            metrics, info = end_to_end(setup_s, cold, passes[1:], mem.stop())
        host.update(loadavg_end=os.getloadavg(), canary_end_s=canary_s())
        reqs = [r for p in passes for r in p.requests]
        failed = [r for r in reqs if not r.ok]
        if not args.trace:
            # the two end-to-end metrics BENCHMARK.json cannot bound: 0 at
            # the seed, and defined for the stream only (None elsewhere)
            info["end_to_end"] = {
                **{k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                "failed_frac": {"value": len(failed) / len(reqs), "unit": "ratio"},
                "rows_per_s": {"value": stream_rows_per_s(passes[1:]) or None, "unit": "1/s"},
            }
        summary = {
            "wall_s": process_age_s(),
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "gen_s": gen_s,
            "setup_s": setup_s,
            "passes_s": [p.seconds for p in passes],
            "requests_s": request_table(passes),
            "failures": [f"{r.kind}: {r.error.strip()[-400:]}" for r in failed[:5]],
            **info,
            "host": host,
        }
        print(json.dumps(summary, default=float))
        print(
            json.dumps(
                {
                    "correct": not failed,
                    "attempted": len(reqs),
                    "failed": len(failed),
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                }
            )
        )
        return 0
    finally:
        if mem.is_alive():
            mem.stop()
        if spark is not None:
            shutdown_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass


def traced(args, wl, ctx, tracer, work, cores):
    """TRACE_PAIRS untraced/traced warm pass pairs of the named workload,
    then one traced pass of every other workload in the same session,
    so every layer is measured in every traced run (that pass is the
    other workload's first, i.e. cold). Returns (per-layer metrics,
    info, passes)."""
    import layers
    import tracing as tr
    import workloads

    probe = tr.RelationCacheProbe()
    restore = tr.install_wrappers(tracer, probe)
    counters = tr.SparkCounters(ctx.spark)
    untraced, named, order = [], [], []
    try:
        # untraced, traced, traced, untraced, ...: warm passes still get
        # faster as the run goes on, and this order cancels a steady drift
        for i in range(TRACE_PAIRS):
            for on in (False, True) if i % 2 == 0 else (True, False):
                tracer.enabled = on
                ctx.tracer = tracer if on else tr.Tracer(enabled=False)
                ctx.counters = counters if on else None
                ctx.pass_id = f"traced{i}" if on else f"untraced{i}"
                p = wl.run_pass(ctx)
                (named if on else untraced).append(p)
                order.append(p)
        by_name = {args.workload: (wl, named[-1], f"traced{TRACE_PAIRS - 1}")}
        tracer.enabled, ctx.tracer = True, tracer
        ctx.counters = None  # Spark counters describe the named workload only
        for name, cls in workloads.WORKLOADS.items():
            if name == args.workload:
                continue
            other = cls(os.path.join(work, name), args.seed)
            other.generate()
            other.setup(ctx.spark, tracer)
            other.prepare()
            ctx.pass_id = f"cold-{name}"
            by_name[name] = (other, other.run_pass(ctx), ctx.pass_id)
        standalone = layers.standalone_parse(ctx.spark, by_name["ingest"][0])
    finally:
        restore()
    metrics = layers.per_layer(tracer, by_name, named, untraced, standalone, cores)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    span_file = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    self_s = tr.self_times(tracer.spans)
    with open(span_file, "w") as f:
        json.dump({"spans": tracer.to_json(), "self_s": self_s}, f, indent=1)
    info = {
        "span_file": os.path.relpath(span_file, ROOT),
        "self_s": self_s,
        "untraced_passes_s": [p.seconds for p in untraced],
        "traced_passes_s": [p.seconds for p in named],
    }
    return metrics, info, order + [p for _, p, _ in list(by_name.values())[1:]]


if __name__ == "__main__":
    sys.exit(main())
