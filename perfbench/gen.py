"""Seeded inputs: a market list, a routed WebSocket feed, and frame logs.

The message mix is the repository's own sf0.1 fixture generator,
``tests/fixture_gen`` (the shape ``bench.py`` replays): its markets and
its ``gen_messages`` (book / price_change / trade / unknown weights
2:5:3:1, 0-6 levels per book side, sizes 1-500, a third of the changes
deletes), with ``N_MARKETS`` and ``ASSETS_PER_MARKET`` set to the shape as
``bench.py`` sets them, and ``HOT_ASSET_WEIGHT`` for a hot-asset feed.
Messages are generated hour by hour, as ``write_fixture_files`` does,
and framed as it frames them: one to three messages per text frame, a
``PONG`` before one frame in ten.

Two things differ, because the frames go through the collector rather
than straight to a file. A frame only holds messages of one connection
(the server routes each asset to the connection that subscribed to it),
so messages are batched per connection. And each message is re-stamped
with its arrival time, spread evenly over its hour, so that its
timestamp falls in the hour file ``collect()`` rotates it into;
``gen_messages``' own random walk (1-5000 ms a step) would put four hours
of timestamps into each hour at this rate. Frame logs are written by the
package's own ``collect()`` loop against an in-memory transport, so they
are rotated hourly and carry the manifest sidecars a production lake
has.
"""

from __future__ import annotations

import json
import random
import time
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from pathlib import Path

import fixture_gen

from polymarket_data_ingestor_spark.streaming import collector

BASE = datetime(2025, 9, 30, 14, 0, 0, tzinfo=timezone.utc)
_BASE_MS = int(BASE.timestamp() * 1000)
#: Framing of ``fixture_gen.write_fixture_files``: 1-3 messages a frame,
#: a PONG line before one frame in ten.
_MAX_PER_FRAME = 3
_PONG_SHARE = 0.1


@dataclass(frozen=True)
class Shape:
    """Input size: ``messages`` feed messages, spread evenly over
    ``hours`` of feed time, over the assets of ``markets`` two-outcome
    markets; ``hot`` is the share of messages sent to the first asset
    on top of its uniform share (``fixture_gen.HOT_ASSET_WEIGHT``)."""

    hours: int
    messages: int
    markets: int
    hot: float = 0.0


@contextmanager
def _fixture_shape(shape: Shape):
    """Set ``fixture_gen``'s module-level shape for the block, as
    ``bench.py`` does for its sf fixtures."""
    names = ("N_MARKETS", "ASSETS_PER_MARKET", "HOT_ASSET_WEIGHT")
    old = [getattr(fixture_gen, n) for n in names]
    for n, v in zip(names, (shape.markets, 2, shape.hot)):
        setattr(fixture_gen, n, v)
    try:
        yield
    finally:
        for n, v in zip(names, old):
            setattr(fixture_gen, n, v)


@dataclass
class Feed:
    """Markets plus one frame script per connection chunk.

    ``scripts`` maps the first asset id of a connection's subscription to
    its frames as ``(arrival_s, text)``, in arrival order; arrival is
    feed time since :data:`BASE`.
    """

    markets: list[dict]
    scripts: dict[str, list[tuple[float, str]]]
    n_messages: int

    @property
    def n_frames(self) -> int:
        return sum(len(s) for s in self.scripts.values())


def make_feed(shape: Shape, seed: int) -> Feed:
    rng = random.Random(seed)
    with _fixture_shape(shape):
        markets = fixture_gen.make_markets()
        per_hour = shape.messages // shape.hours
        hours = [fixture_gen.gen_messages(rng, per_hour)
                 for _ in range(shape.hours)]
    conn_of: dict[str, str] = {}  # asset -> its connection
    for chunk in collector.split_markets(markets):
        key = chunk[0]["tokens"][0]["token_id"]
        for m in chunk:
            for t in m["tokens"]:
                conn_of[t["token_id"]] = key
    scripts: dict[str, list[tuple[float, str]]] = {
        c: [] for c in conn_of.values()}
    pending: dict[str, list[dict]] = {c: [] for c in scripts}

    def send(conn: str, arrival: float) -> None:
        if rng.random() < _PONG_SHARE:
            scripts[conn].append((arrival, "PONG"))
        scripts[conn].append((arrival, json.dumps(pending[conn])))
        pending[conn] = []

    for h, msgs in enumerate(hours):
        step = 3_600_000 / len(msgs)
        for j, msg in enumerate(msgs):
            ts = _BASE_MS + h * 3_600_000 + int(j * step)
            conn = conn_of[msg["asset_id"]]
            pending[conn].append(dict(msg, timestamp=str(ts)))
            if len(pending[conn]) >= rng.randint(1, _MAX_PER_FRAME):
                # a frame leaves the exchange a few ms after its last
                # message
                send(conn, (ts - _BASE_MS) / 1000 + rng.uniform(0.001, 0.05))
        # every connection sends what it holds before the hour ends
        for conn, batch in pending.items():
            if batch:
                last = int(batch[-1]["timestamp"])
                send(conn, (last - _BASE_MS) / 1000 + 0.001)
    return Feed(markets, scripts, sum(len(msgs) for msgs in hours))


class FeedClock:
    """Feed time in seconds since :data:`BASE`, shared by every
    connection; ``collect()`` reads it for ping cadence and rotation."""

    def __init__(self) -> None:
        self.t = 0.0

    def __call__(self) -> float:
        return self.t

    def sleep(self, s: float) -> None:
        self.t += s

    def now(self) -> datetime:
        return BASE + timedelta(seconds=self.t)


class MemoryTransport(collector.Transport):
    """Serves a :class:`Feed` to ``collect()`` without a network.

    A connection learns its script from the subscribe frame, as the real
    server does, and a reconnect resumes where the previous socket
    stopped. ``recv`` waits in feed time: it returns the next frame once
    it has arrived, or times out. ``served`` records every frame handed
    out, in order.
    """

    def __init__(self, feed: Feed, clock: FeedClock,
                 stamps: list[float] | None = None) -> None:
        self.clock = clock
        self.scripts = feed.scripts
        self.pos = {k: 0 for k in feed.scripts}
        self.left = feed.n_frames
        self.served: list[str] = []
        self.stamps = stamps

    def connect(self, url: str) -> "_MemoryConn":
        return _MemoryConn(self)

    def done(self) -> bool:
        return self.left == 0


class _MemoryConn:
    def __init__(self, server: MemoryTransport) -> None:
        self.server = server
        self.key: str | None = None

    def send(self, text: str) -> None:
        if self.key is None:  # the subscribe frame; later sends are pings
            self.key = json.loads(text)["assets_ids"][0]

    def recv(self, timeout: float) -> str:
        s, k = self.server, self.key
        script = s.scripts[k]
        if s.pos[k] >= len(script):
            raise collector.RecvTimeout()
        arrival, text = script[s.pos[k]]
        if arrival > s.clock.t + timeout:
            s.clock.t += timeout
            raise collector.RecvTimeout()
        s.clock.t = max(s.clock.t, arrival)
        s.pos[k] += 1
        s.left -= 1
        s.served.append(text)
        if s.stamps is not None:
            s.stamps.append(time.perf_counter())
        return text

    def close(self) -> None:
        pass


def run_collector(feed: Feed, out_dir: Path, compress: bool,
                  stamps: list[float] | None = None
                  ) -> tuple[list[Path], MemoryTransport]:
    """Ingest ``feed`` with ``collect()``; return the rotated logs in
    hour order and the transport (its ``served`` log).

    When ``stamps`` is a list, the wall time at which each frame was
    handed to the collector is appended to it.
    """
    clock = FeedClock()
    transport = MemoryTransport(feed, clock, stamps)
    collector.collect(
        out_dir, fetch_markets=lambda: feed.markets, transport=transport,
        compress=compress, stop=transport.done, clock=clock,
        sleep=clock.sleep, now=clock.now, poll_timeout=60.0,
    )
    ext = ".jsonl.gz" if compress else ".jsonl"
    return sorted(Path(out_dir).glob("*" + ext)), transport
