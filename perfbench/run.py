"""Benchmark entry point: one workload run in one fresh process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from the seed and
cached under ``.perfbench/`` by a child interpreter that ends, with any
JVM it started, before the run goes on (the prepare step, excluded from
``setup_s``). The process then sets up (session start plus a warm-up
action, launching the JVM), records the ``bench.py`` calibration probes,
warms up, and runs the workload's rounds closed-loop with one client for
``--seconds``; every step's output is checked against the oracle. The
probes run again at the end. ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer metrics and the tracing overhead.
The last stdout line is the JSON result; the run record (metadata,
samples and, when traced, every span) goes to ``.perfbench/runs/``.

``--size tiny`` and ``--wrong-digest`` exist for ``selftest.py``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench"
#: Fewest measured rounds, however long they take.
MIN_ROUNDS = 3
#: A round is clean when the host stole at most this share of the VM's
#: CPU time during it.
CLEAN_STEAL_SHARE = 0.02

#: Per-layer metrics that are span medians: metric -> (span, scale).
_SPAN_METRICS = {
    "session.get_spark_s": ("session.get_spark", 1),
    "frames.scan_parse_s": ("frames.scan_parse", 1),
    "replay.plan_build_s": ("replay.plan_build", 1),
    "replay.kernel_s": ("replay.kernel", 1),
    "sinks.write_s": ("sinks.write", 1),
    "paths.pruned_read_ms": ("paths.pruned_read", 1000),
    "markets.tokens_ms": ("markets.tokens", 1000),
    "bars.filter_ms": ("bars.filter", 1000),
    "bars.label_ms": ("bars.label", 1000),
    "bars.bbo_1min_ms": ("bars.bbo_1min", 1000),
    "bars.volume_1h_ms": ("bars.volume_1h", 1000),
    "bars.summary_ms": ("bars.summary", 1000),
    "collector.rotate_ms_p50": ("collector.rotate", 1000),
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--wrong-digest", action="store_true",
                   help="corrupt every expected result (self-test)")
    p.add_argument("--prepare", action="store_true",
                   help="only build the cached inputs, then exit")
    return p.parse_args(argv)


def _environment(cores: int) -> None:
    """Pin cores and keep every file Spark or Python writes inside the
    checkout. Must run before pyspark starts a JVM."""
    for d in ("spark-local", "tmp", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "TZ": "UTC",
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(WORK / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    time.tzset()


def _spark_conf() -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
    }


def _start_session(tracer):
    """Session start plus a warm-up action: one set-up. With no JVM
    running (at process start, or after :func:`_stop_session`) it
    launches one, as every first caller of ``get_spark()`` does."""
    from polymarket_data_ingestor_spark import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark(app_name="perfbench", extra_conf=_spark_conf())
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setJobGroup("perfbench", "benchmark")
    spark.range(1 << 20).selectExpr("sum(id)").first()
    return spark


def _stop_session(spark) -> None:
    """Stop the session, shut the JVM down and wait for every process it
    started (JVM and Python workers) to end."""
    from pyspark import SparkContext

    from probe import descendants

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        alive = [p for p in started if _alive(p)]
        if not alive:
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes still running: {alive}")


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _prepare(inputs, lake: bool) -> None:
    """Build every cached input the run needs: the feed, its logs and the
    oracle digest and, with ``lake``, the expected query results and the
    tick lake, written by the package in a session of its own."""
    inputs.digest()
    if lake:
        inputs.queries()
        if not inputs.ready(lake):
            from probe import Tracer

            spark = _start_session(Tracer(False))
            try:
                inputs.lake(spark)
            finally:
                _stop_session(spark)


def _prepare_in_child(args, trace: bool) -> None:
    """Run :func:`_prepare` in a fresh interpreter that ends, with its
    JVM, before the run goes on, so that a run on new inputs measures
    from the same process state (Python heap, JVM heap, Python workers)
    as a run on cached ones."""
    cmd = [sys.executable, str(Path(__file__).resolve()),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", "0", "--trace", str(int(trace)),
           "--size", args.size, "--prepare"]
    subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, check=True, timeout=600)


def _probes(spark) -> dict[str, float]:
    """``bench.py``'s fixed jvm/arrow calibration pair, as run metadata:
    a slow pair marks a noisy window on the host."""
    import bench

    return bench._calibrate(spark)


def _steal_s() -> float:
    """CPU time the hypervisor has given other guests while this VM
    wanted it, summed over its cores (``/proc/stat``), as run metadata:
    a run with much of it measured a busy host."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class Runner:
    """Runs rounds, times each step, checks each result."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def run(self, steps, samples: dict | None) -> float:
        """Run one round; return the summed step run time."""
        total = 0.0
        for kind, run, check in steps:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                result = run()
                dt = time.perf_counter() - t0
                ok = check(result)
            except Exception:  # a failed step counts; the run goes on
                traceback.print_exc()
                dt, ok = time.perf_counter() - t0, False
            total += dt
            if samples is not None:
                samples.setdefault(kind, []).append(dt)
            if not ok:
                self.failed += 1
                print(f"perfbench: step {kind} failed its check",
                      file=sys.stderr)
        return total


def _collect_garbage(spark) -> None:
    """Full garbage collection in the JVM and in Python. The JVM keeps
    the heap it has grown to; collecting before each round makes the
    round's peak RSS follow that round's allocations rather than how far
    the heap happened to grow earlier in the run."""
    gc.collect()
    if spark is not None:
        spark.sparkContext._jvm.java.lang.System.gc()


def _clean_rounds(steal: list[float], wall: list[float]) -> list[int]:
    """Indices, in order, of the rounds during which the host stole at
    most :data:`CLEAN_STEAL_SHARE` of the VM's CPU time, or, if fewer
    than :data:`MIN_ROUNDS` were that clean, of the :data:`MIN_ROUNDS`
    with the least stolen. Other guests on a shared host come and go
    within a run; the timings are medians over these rounds, so that a
    burst of theirs does not pass for a slower program."""
    share = [s / (w * os.cpu_count()) for s, w in zip(steal, wall)]
    clean = [i for i, x in enumerate(share) if x <= CLEAN_STEAL_SHARE]
    if len(clean) < MIN_ROUNDS:
        clean = sorted(sorted(range(len(share)),
                              key=share.__getitem__)[:MIN_ROUNDS])
    return clean


def _measure(wl, ctx, runner, seconds: float, trace: bool, rss, meta):
    """The measured rounds: closed loop, one client, for ``seconds``
    (at least :data:`MIN_ROUNDS` rounds untraced). A traced run follows
    every plain round with a traced one, for the overhead ratio. The
    peak RSS is taken per round, after an untimed garbage collection,
    and so is the CPU time the host stole during the round."""
    samples: dict[str, list[float]] = {}
    plain, traced, peaks, steal, wall = [], [], [], [], []
    end = time.perf_counter() + seconds
    while (len(plain) < (1 if trace else MIN_ROUNDS)
           or time.perf_counter() < end):
        _collect_garbage(ctx.spark)
        rss.peak = 0
        stolen, t0 = _steal_s(), time.perf_counter()
        plain.append(runner.run(wl.round(ctx), samples))
        wall.append(time.perf_counter() - t0)
        steal.append(_steal_s() - stolen)
        if trace:
            ctx.tracer.op += 1
            traced.append(runner.run(wl.traced(ctx), None))
        rss.sample_now()
        peaks.append(rss.peak)
    meta["rounds"] = len(plain)
    meta["samples"] = samples
    meta["round_steal_s"] = steal
    meta["clean_rounds"] = clean = _clean_rounds(steal, wall)
    meta["peak_rss_bytes"] = peaks
    return samples, clean, plain, traced, peaks


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _args(argv)
    if not (ROOT / "polymarket_data_ingestor_spark" / "__init__.py").is_file() \
            or not (ROOT / "tests" / "fixture_gen.py").is_file():
        print("perfbench: the package and tests/fixture_gen.py must sit "
              "next to perfbench/ (run from a checkout)", file=sys.stderr)
        return 2
    # Spark's task threads get every core but one; the last is left to
    # the driver, the JIT and GC threads and the client, so that the run
    # measures the program rather than their contention for cores
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    _environment(cores)
    sys.path[1:1] = [str(ROOT), str(ROOT / "tests")]

    import workloads
    from probe import RssSampler, Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    trace = bool(args.trace)
    shape = workloads.SHAPES[args.size][wl.name]
    tracer = Tracer(trace)
    # lake_queries' feed, and so its tick lake, is the same for every seed
    # and built once per checkout: a new seed then costs no JVM in the
    # prepare step. Its seed picks the queried hour and market.
    feed_seed = 0 if wl.name == "lake_queries" else args.seed
    inputs = workloads.Inputs(
        WORK / "cache" / (f"{args.size}-h{shape.hours}-n{shape.messages}"
                          f"-m{shape.markets}-x{shape.hot}-s{feed_seed}"),
        shape, feed_seed, args.seed, args.wrong_digest)
    scratch = WORK / "scratch" / f"{wl.name}-{os.getpid()}"
    scratch.mkdir(parents=True, exist_ok=True)
    meta: dict = {"workload": wl.name, "seed": args.seed, "trace": trace,
                  "size": args.size, "cores": cores, "shape": vars(shape),
                  "phases_s": {}}

    def phase(name: str) -> None:
        meta["phases_s"][name] = time.perf_counter() - t_start

    needs_lake = wl.name == "lake_queries" or trace
    if args.prepare:
        _prepare(inputs, needs_lake)
        return 0
    if not inputs.ready(needs_lake):
        _prepare_in_child(args, trace)
    runner = Runner()
    spark = None
    try:
        with RssSampler() as rss:
            # load the cached inputs
            inputs.digest()
            if needs_lake:
                inputs.queries()
            phase("prepare")

            # one set-up: a JVM launch takes about 10 s on a 4-vCPU VM,
            # and the run budget goes to warm-up and measurement instead
            t0 = time.perf_counter()
            spark = _start_session(tracer)
            setup_s = time.perf_counter() - t0
            meta["setup_s"] = setup_s
            phase("setup")

            meta["probes_start"] = _probes(spark)
            phase("probes_start")
            ctx = workloads.Ctx(spark, inputs, scratch, tracer, cores, {})
            wl.warmup(ctx)
            phase("warmup")
            samples, clean, plain, traced, peaks = _measure(
                wl, ctx, runner, args.seconds, trace, rss, meta)
            phase("measure")

            if trace:
                for family in workloads.TRACED_FAMILIES:
                    if family is not wl.traced:
                        tracer.op += 1
                        runner.run(family(ctx), None)
                phase("other_layers")
            meta["probes_end"] = _probes(spark)
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    phase("end")

    # metric names and units, as BENCHMARK.json declares them
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if trace else "end_to_end"]}

    def median_s(kind: str) -> float:
        """Median time of one step kind over the clean rounds."""
        return statistics.median(samples[kind][i] for i in clean)

    # latency: the per-step medians summed, so that a slower step of any
    # kind moves it by its own slowdown, and a single slow round does not
    step_ms = {k: median_s(k) * 1000 for k in wl.latency}
    meta["step_ms_median"] = step_ms
    if len(wl.latency) > 1:
        pooled = [t for k in wl.latency for t in samples[k]]
        meta["step_ms_p90"] = statistics.quantiles(pooled, n=10)[-1] * 1000
    if trace:
        meta["layers"] = ctx.layers
        metrics = {name: statistics.median(ctx.layers[name])
                   for name in units if name in ctx.layers}
        for name, (span, scale) in _SPAN_METRICS.items():
            metrics[name] = tracer.median_s(span) * scale
        metrics["trace.overhead_ratio"] = (statistics.median(traced)
                                           / statistics.median(plain))
    else:
        metrics = {
            "setup_s": setup_s,
            "latency_ms": sum(step_ms.values()),
            "rows_per_s": wl.items(ctx) / median_s(wl.throughput),
            "peak_rss_mb": statistics.median(peaks) / 2**20,
        }
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    metrics = {name: metrics[name] for name in units}

    runs = WORK / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    record = runs / f"{wl.name}-s{args.seed}-t{int(trace)}.json"
    record.write_text(json.dumps({"meta": meta, "metrics": metrics,
                                  "spans": tracer.spans}))
    for name, value in metrics.items():
        print(f"{name:26s} {value:16.4f} {units[name]}")
    print(f"rounds {meta['rounds']}  "
          f"attempted {runner.attempted}  failed {runner.failed}  "
          f"error_rate {runner.failed / runner.attempted:.3f}  "
          f"record {record.relative_to(ROOT)}")
    correct = runner.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
