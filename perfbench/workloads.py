"""The workloads: cached inputs, timed steps and their traced twins.

A workload runs in rounds. A round is a list of steps ``(kind, run,
check)``: ``run`` is timed, ``check`` compares its result with the
oracle afterwards, untimed. A traced round calls the same layers one by
one, materializing each layer's output (``persist`` + ``count``, or the
collected result) inside a span so that the span covers execution and
not only plan building.
"""

from __future__ import annotations

import gzip
import itertools
import json
import os
import pickle
import random
import shutil
import statistics
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import timedelta
from pathlib import Path

import gen
import oracle
from probe import group_counters
from pyspark.sql import functions as F

from fixture_gen import naive_replay
from polymarket_data_ingestor_spark.operators.bars import (
    bbo_bars,
    label_outcomes,
    trade_summary,
    volume_bars,
)
from polymarket_data_ingestor_spark.operators.replay import (
    TICK_COLUMNS,
    replay,
    replay_feed_messages,
    with_event_time,
    write_tick_lake,
)
from polymarket_data_ingestor_spark.sources.frames import (
    parse_feed_messages,
    read_frames,
)
from polymarket_data_ingestor_spark.sources.markets import (
    market_tokens,
    read_market_info,
)
from polymarket_data_ingestor_spark.sources.paths import (
    discover_files,
    parse_hour_bucket,
)
from polymarket_data_ingestor_spark.streaming import collector

#: Input shapes. ``full`` is what the benchmark measures; ``tiny`` is the
#: smoke size used by ``selftest.py``. The ``lake_queries`` feed is hot:
#: one asset carries about half of the messages, about 1,450 book
#: snapshots an hour, so ``replay()``'s skew gate (1,000 snapshots of one
#: asset in one hour) fires and its traced replay takes the split path.
SHAPES = {
    "full": {
        "replay_uniform": gen.Shape(12, 48_000, 100),
        "lake_queries": gen.Shape(3, 48_000, 100, hot=0.5),
    },
    "tiny": {
        "replay_uniform": gen.Shape(3, 1_500, 6),
        "lake_queries": gen.Shape(3, 1_500, 6, hot=0.5),
    },
}

QUERIES = ("filter", "label", "bbo_1min", "volume_1h", "summary")


def _atomic_dir(final: Path, build) -> Path:
    """Build a cache directory under a temporary name, then rename it."""
    if not final.exists():
        tmp = final.with_name(final.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        build(tmp)
        tmp.rename(final)
    return final


class Inputs:
    """Generated inputs and oracle results for one (shape, feed seed),
    cached on disk; each piece is built on first use. ``query_seed``
    picks the queried hour and market."""

    def __init__(self, cache: Path, shape: gen.Shape, seed: int,
                 query_seed: int, wrong: bool) -> None:
        self.dir = cache
        self.shape = shape
        self.seed = seed
        self.query_seed = query_seed
        self.wrong = wrong
        self.dir.mkdir(parents=True, exist_ok=True)
        self._feed = None
        self._digest = None
        self._queries = None

    def ready(self, lake: bool) -> bool:
        """Whether every cached piece a run needs is already built: the
        feed, its logs and the digest, and with ``lake`` the expected
        query results and the tick lake."""
        need = ["feed.pkl", "raw", "digest.pkl"]
        need += [f"queries-s{self.query_seed}.pkl", "lake"] * lake
        return all((self.dir / n).exists() for n in need)

    def feed(self) -> gen.Feed:
        if self._feed is None:
            p = self.dir / "feed.pkl"
            if not p.exists():
                tmp = p.with_suffix(".tmp")
                tmp.write_bytes(pickle.dumps(gen.make_feed(self.shape,
                                                           self.seed)))
                tmp.rename(p)
            self._feed = pickle.loads(p.read_bytes())
        return self._feed

    def raw_paths(self) -> list[str]:
        """Plain frame logs (and sidecars) written by ``collect()``."""
        d = _atomic_dir(self.dir / "raw", lambda tmp: gen.run_collector(
            self.feed(), tmp, compress=False))
        return sorted(str(p) for p in d.glob("*.jsonl"))

    def fresh_paths(self, dest: Path) -> list[str]:
        """The raw logs and sidecars hard-linked into the new directory
        ``dest``: the same files (same inode, size and mtime, so the
        sidecars stay valid) under paths this process has not replayed,
        so ``replay()`` runs its skew gate again, as it does on a new
        file set, instead of answering from its memo."""
        raw = Path(self.raw_paths()[0]).parent
        dest.mkdir(parents=True)
        for f in raw.iterdir():
            if f.is_file():
                os.link(f, dest / f.name)
        return sorted(str(p) for p in dest.glob("*.jsonl"))

    def _cached(self, name: str, build):
        p = self.dir / name
        if not p.exists():
            tmp = p.with_suffix(".tmp")
            tmp.write_bytes(pickle.dumps(build()))
            tmp.rename(p)
        return pickle.loads(p.read_bytes())

    def true_digest(self) -> tuple[int, int]:
        """Tick count and row-hash sum of the naive oracle's replay."""
        return self._cached("digest.pkl", lambda: oracle.digest(
            naive_replay([Path(p) for p in self.raw_paths()])))

    def digest(self) -> tuple[int, int]:
        """The expected replay digest (off by one under ``wrong``)."""
        if self._digest is None:
            n, h = self.true_digest()
            self._digest = (n + 1, h + 1) if self.wrong else (n, h)
        return self._digest

    def queries(self) -> dict:
        """The queried hour and market and the expected notebook
        results, from the naive oracle."""
        if self._queries is None:
            q = self._cached(f"queries-s{self.query_seed}.pkl",
                             self._build_queries)
            if self.wrong:
                q["expected"] = {k: v.iloc[:-1]
                                 for k, v in q["expected"].items()}
            self._queries = q
        return self._queries

    def _build_queries(self) -> dict:
        files = [Path(p) for p in self.raw_paths()]
        rows = naive_replay(files)
        rng = random.Random(self.query_seed * 7919 + 1)
        k = rng.randrange(1, len(files) - 1)
        lo, hi = len(naive_replay(files[:k])), len(naive_replay(files[:k + 1]))
        markets = self.feed().markets
        market = rng.choice(markets)["condition_id"]
        outcomes = {t["token_id"]: t["outcome"]
                    for m in markets for t in m["tokens"]}
        return {
            "hour": files[k].name.split(".")[0],
            "market": market,
            "expected": oracle.expected_queries(
                oracle.ticks_frame(rows), slice(lo, hi), market, outcomes),
        }

    def lake(self, spark=None) -> str:
        """The tick lake of the raw logs, written by the package (the
        query checks compare its contents with the oracle); building it
        needs ``spark``."""
        def build(tmp: Path) -> None:
            write_tick_lake(replay(spark, self.raw_paths(), ticks_only=False),
                            str(tmp))

        return str(_atomic_dir(self.dir / "lake", build))


@dataclass
class Ctx:
    """What a round needs: the session, inputs, scratch space, the tracer
    and the per-layer values a traced round records."""

    spark: object
    inputs: Inputs
    scratch: Path
    tracer: object
    cores: int
    layers: dict
    views: itertools.count = field(default_factory=itertools.count)

    def record(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(value)

    def fresh_paths(self) -> list[str]:
        """A new view of the raw logs (see :meth:`Inputs.fresh_paths`)."""
        return self.inputs.fresh_paths(
            self.scratch / f"view-{next(self.views)}")


# -- replay -----------------------------------------------------------------

def replay_round(ctx: Ctx) -> list:
    paths, want = ctx.fresh_paths(), ctx.inputs.digest()

    def run():
        row = replay(ctx.spark, paths).selectExpr(*oracle.DIGEST_SQL).first()
        return row.n, row.h

    return [("replay", run, lambda got: got == want)]


def replay_traced(ctx: Ctx) -> list:
    paths, want = ctx.fresh_paths(), ctx.inputs.digest()
    spark, tr = ctx.spark, ctx.tracer
    sc = spark.sparkContext

    def run():
        with tr.span("replay.plan_build"):
            ticks = replay(spark, paths)
        # replay() records its split decision in the plan it returns:
        # the hot path groups on (asset, segment)
        hot = "__segment" in ticks._jdf.queryExecution().analyzed().toString()
        ctx.record("replay.split_path", int(hot))
        with tr.span("frames.scan_parse"):
            feed = parse_feed_messages(read_frames(spark, paths)).persist()
            ctx.record("frames.msgs_out", feed.count())
        group = f"perfbench-kernel-{tr.op}"
        sc.setJobGroup(group, "replay kernel")
        try:
            with tr.span("replay.kernel") as span:
                row = (replay_feed_messages(feed, split_at_snapshots=hot,
                                            assume_skewed=hot)
                       .select(*TICK_COLUMNS)
                       .selectExpr(*oracle.DIGEST_SQL).first())
        finally:
            sc.setJobGroup("perfbench", "benchmark")
            feed.unpersist()
        wall = span["end"] - span["start"]
        c = group_counters(spark, group)
        ctx.record("replay.ticks_out", row.n)
        for k in ("stages", "tasks", "shuffle_bytes", "spill_bytes",
                  "max_task_share"):
            ctx.record(f"replay.{k}", c[k])
        ctx.record("replay.core_busy_ratio",
                   c["run_ms"] / 1000 / (wall * ctx.cores))
        return row.n, row.h

    return [("replay", run, lambda got: got == want)]


# -- lake_queries -----------------------------------------------------------

def _hour_files(ctx: Ctx, hour: str) -> list[str]:
    start = parse_hour_bucket(hour)
    return discover_files(ctx.inputs.raw_paths(), start,
                          start + timedelta(hours=1))


def _write_step(ctx: Ctx, lake: str, traced: bool):
    out = ctx.scratch / "lake_out"
    n_ticks = ctx.inputs.digest()[0]

    def run():
        write_tick_lake(ctx.spark.read.parquet(lake), str(out))
        return n_ticks

    def check(n):
        if traced:
            files = [p for p in out.rglob("*.parquet")]
            ctx.record("sinks.files_written", len(files))
            ctx.record("sinks.bytes_written",
                       sum(p.stat().st_size for p in files))
        return ctx.spark.read.parquet(str(out)).count() == n

    return ("write", run, check)


def lake_round(ctx: Ctx) -> list:
    spark, o = ctx.spark, ctx.inputs.queries()
    lake, hour, market = ctx.inputs.lake(spark), o["hour"], o["market"]
    want = o["expected"]

    def ticks():
        return spark.read.parquet(lake)

    def one_market_hour():
        return ticks().filter((F.col("file_hour") == hour)
                              & (F.col("market") == market))

    queries = {
        "filter": lambda: one_market_hour().select(*TICK_COLUMNS).toPandas(),
        "label": lambda: label_outcomes(
            with_event_time(one_market_hour()),
            market_tokens(read_market_info(
                read_frames(spark, _hour_files(ctx, hour))))).toPandas(),
        "bbo_1min": lambda: bbo_bars(with_event_time(
            ticks().filter(F.col("market") == market)), "1 minute").toPandas(),
        "volume_1h": lambda: volume_bars(with_event_time(ticks()),
                                         "1 hour").toPandas(),
        "summary": lambda: trade_summary(ticks()).toPandas(),
    }
    steps = [_write_step(ctx, lake, traced=False)]
    for name in QUERIES:
        steps.append((name, queries[name],
                      lambda got, name=name: oracle.same(name, got,
                                                         want[name])))
    return steps


def lake_traced(ctx: Ctx) -> list:
    spark, tr, o = ctx.spark, ctx.tracer, ctx.inputs.queries()
    lake, hour, market = ctx.inputs.lake(spark), o["hour"], o["market"]
    want = o["expected"]
    write = _write_step(ctx, lake, traced=True)

    def run_write():
        with tr.span("sinks.write"):
            return write[1]()

    def run_queries():
        with tr.span("paths.pruned_read"):
            files = _hour_files(ctx, hour)
            hour_ticks = (spark.read.parquet(lake)
                          .filter(F.col("file_hour") == hour).persist())
            hour_ticks.count()
        with tr.span("markets.tokens"):
            tokens = market_tokens(read_market_info(
                read_frames(spark, files))).persist()
            tokens.count()
        one = hour_ticks.filter(F.col("market") == market)
        ticks = spark.read.parquet(lake)
        got = {}
        try:
            with tr.span("bars.filter"):
                got["filter"] = one.select(*TICK_COLUMNS).toPandas()
            with tr.span("bars.label"):
                got["label"] = label_outcomes(with_event_time(one),
                                              tokens).toPandas()
            with tr.span("bars.bbo_1min"):
                got["bbo_1min"] = bbo_bars(with_event_time(
                    ticks.filter(F.col("market") == market)),
                    "1 minute").toPandas()
            with tr.span("bars.volume_1h"):
                got["volume_1h"] = volume_bars(with_event_time(ticks),
                                               "1 hour").toPandas()
            with tr.span("bars.summary"):
                got["summary"] = trade_summary(ticks).toPandas()
        finally:
            hour_ticks.unpersist()
            tokens.unpersist()
        return got

    return [
        ("write", run_write, write[2]),
        ("queries", run_queries,
         lambda got: all(oracle.same(q, got[q], want[q]) for q in QUERIES)),
    ]


# -- collector (traced runs only) -------------------------------------------

def _collector_step(ctx: Ctx, stamps: list):
    feed = ctx.inputs.feed()
    out = ctx.scratch / "collect_out"
    state = {}

    def run():
        shutil.rmtree(out, ignore_errors=True)
        files, transport = gen.run_collector(feed, out, compress=True,
                                             stamps=stamps)
        state["transport"] = transport
        return files

    def check(files):
        served = state["transport"].served
        if ctx.inputs.wrong:
            served = served + ["PONG"]
        written = []
        for f in files:
            with gzip.open(f, "rt", encoding="utf-8") as fh:
                frames = [json.loads(line) for line in fh]
            if not frames or frames[0]["message_type"] != "active_markets":
                return False
            written += [fr["content"] for fr in frames
                        if fr["message_type"] == "feed_message"]
        ctx.record("collector.bytes_per_msg",
                   sum(f.stat().st_size for f in files) / len(served))
        return state["transport"].done() and written == served

    return run, check


@contextmanager
def _timed_rotations(tracer):
    """Span every ``FrameWriter._rotate`` (close, rename, sidecar) that
    ``collect()`` performs inside the block."""
    base = collector.FrameWriter

    class TimedWriter(base):
        def _rotate(self):
            with tracer.span("collector.rotate"):
                return super()._rotate()

    collector.FrameWriter = TimedWriter
    try:
        yield
    finally:
        collector.FrameWriter = base


def collector_traced(ctx: Ctx) -> list:
    stamps: list[float] = []
    run, check = _collector_step(ctx, stamps)

    def traced_run():
        stamps.clear()
        with ctx.tracer.span("collector.collect"), \
                _timed_rotations(ctx.tracer):
            files = run()
        gaps = [b - a for a, b in zip(stamps, stamps[1:])]
        ctx.record("collector.frame_us_p50", statistics.median(gaps) * 1e6)
        return files

    return [("collect", traced_run, check)]


def _round_warmup(round_fn, rounds: int):
    """Untimed rounds that start the Python workers and let the JIT
    compile the hot paths. A fixed number of rounds, not a time: the JIT
    compiles by call counts, so every run then measures from the same
    point of the warm-up curve however fast the host is that minute."""
    def warmup(ctx: Ctx) -> None:
        for _ in range(rounds):
            for _, run, _ in round_fn(ctx):
                run()
    return warmup


@dataclass(frozen=True)
class Workload:
    """``latency_ms`` is the sum of the ``latency`` steps' medians over
    the rounds; ``rows_per_s`` is the items of one ``throughput`` step
    over that step's median time; ``warmup`` runs once, untimed, before
    the measured rounds."""

    name: str
    round: object
    traced: object
    latency: tuple
    throughput: str
    warmup: object

    def items(self, ctx: Ctx) -> int:
        """Items one ``throughput`` step handles: feed messages replayed
        or ticks written."""
        if self.throughput == "replay":
            return ctx.inputs.feed().n_messages
        return ctx.inputs.digest()[0]


WORKLOADS = {
    w.name: w for w in (
        Workload("replay_uniform", replay_round, replay_traced,
                 ("replay",), "replay", _round_warmup(replay_round, 2)),
        # a lake round is mostly per-query planning and scheduling in the
        # JVM, which the JIT takes several rounds to compile
        Workload("lake_queries", lake_round, lake_traced,
                 QUERIES, "write", _round_warmup(lake_round, 9)),
    )
}

#: The traced rounds of every layer family; a traced run of any workload
#: runs each of these once so that every per-layer metric is measured.
TRACED_FAMILIES = (collector_traced, replay_traced, lake_traced)
