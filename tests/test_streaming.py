"""Streaming tests: collector semantics + live tick generation parity."""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone
from pathlib import Path

import pandas as pd
import pytest

from polymarket_data_ingestor_spark.operators.replay import TICK_COLUMNS, replay
from polymarket_data_ingestor_spark.streaming.collector import (
    ConnectionState,
    FrameWriter,
    next_reconnect_batch,
    reconnect_backoff,
    split_markets,
    subscribe_message,
    take_chunk,
)
from polymarket_data_ingestor_spark.streaming.live import (
    live_bbo_bars,
    live_ticks,
    read_frames_stream,
)

from fixture_gen import (
    _asset_id,
    _mkt_id,
    make_markets,
    naive_replay,
    write_fixture_files,
)


# --- sharding (mirrors the reference's own split_markets unit tests,
#     collector/src/client/mod.rs:416-506) ---------------------------------

def _mkt(n_tokens: int, i: int = 0) -> dict:
    return {
        "condition_id": f"m{i}",
        "tokens": [{"token_id": f"t{i}_{j}"} for j in range(n_tokens)],
    }


def test_split_markets_empty():
    assert split_markets([]) == []


def test_split_markets_single():
    chunks = split_markets([_mkt(2)])
    assert [len(c) for c in chunks] == [1]


def test_split_markets_even_fill():
    # 25 markets x 2 tokens: 12 markets (24 assets) then boundary at 25
    markets = [_mkt(2, i) for i in range(25)]
    chunks = split_markets(markets)
    assert sum(len(c) for c in chunks) == 25
    for c in chunks:
        assert sum(len(m["tokens"]) for m in c) <= 25


def test_split_markets_oversized_alone():
    markets = [_mkt(30, 0), _mkt(2, 1)]
    chunks = split_markets(markets)
    assert len(chunks) == 2
    assert [m["condition_id"] for m in chunks[0]] == ["m0"]


def test_take_chunk_boundary():
    # 12 x 2 = 24, next market of 2 would exceed 25 → split at 12
    markets = [_mkt(2, i) for i in range(13)]
    chunk, rest = take_chunk(markets)
    assert len(chunk) == 12
    assert len(rest) == 1


def test_subscribe_message_shape():
    msg = json.loads(subscribe_message([_mkt(2, 0), _mkt(1, 1)]))
    assert msg["type"] == "MARKET"
    assert msg["assets_ids"] == ["t0_0", "t0_1", "t1_0"]


# --- connection state machine (mirrors connection.rs:372-523 tests) -------

def test_should_split_truth_table():
    multi = [_mkt(2, 0), _mkt(2, 1)]
    # insufficient failures
    c = ConnectionState(multi)
    c.ever_long_lived = True
    c.consecutive_failures = 19
    assert not c.should_split()
    # single market never splits
    c = ConnectionState([_mkt(2, 0)])
    c.ever_long_lived = True
    c.consecutive_failures = 25
    assert not c.should_split()
    # never opened long enough
    c = ConnectionState(multi)
    c.consecutive_failures = 25
    assert not c.should_split()
    # all conditions met
    c = ConnectionState(multi)
    c.ever_long_lived = True
    c.consecutive_failures = 20
    assert c.should_split()


def test_long_lived_resets_failures_short_lived_counts():
    c = ConnectionState([_mkt(2, 0), _mkt(2, 1)])
    c.record_open(1000.0)
    c.record_close(1005.0)  # 5s < 30s → failure
    assert c.consecutive_failures == 1 and not c.ever_long_lived
    c.record_open(2000.0)
    c.record_close(2040.0)  # 40s ≥ 30s → long-lived, counter resets
    assert c.consecutive_failures == 0 and c.ever_long_lived


def test_split_partitions_markets():
    c = ConnectionState([_mkt(2, i) for i in range(5)])
    a, b = c.split()
    assert len(a.markets) == 2 and len(b.markets) == 3
    assert a.markets + b.markets == c.markets


def test_reconnect_backoff_policy():
    # reference parity (reconnecter.rs:182-194): the gate is the
    # PERSISTENT error_count, not the last batch's outcome — a
    # sub-majority-failed batch leaves the count (and thus the
    # escalated sleep) in place until a zero-failure batch resets it
    # (r13 advisor)
    assert reconnect_backoff(0) == 0.5  # healthy → 500 ms
    assert reconnect_backoff(7) == 7.0  # max(errors, 3)
    assert reconnect_backoff(1) == 3.0  # floor of 3 s
    assert reconnect_backoff(3) == 3.0
    # single-threaded liveness cap: the escalated sleep never starves
    # the 15 s ping deadline unboundedly
    assert reconnect_backoff(99) == 10.0


def test_batch_escalates_integer_division_rule():
    # integer-division rule (reconnecter.rs:87-90): exactly half
    # escalates — the old strict-majority form let 2-of-4 slip,
    # diverging from collect's inline rule (review finding)
    from polymarket_data_ingestor_spark.streaming.collector import (
        _batch_escalates,
    )

    assert _batch_escalates(4, 2)
    assert _batch_escalates(5, 2)
    assert _batch_escalates(1, 1)
    assert not _batch_escalates(10, 2)
    assert not _batch_escalates(4, 0)
    assert not _batch_escalates(0, 0)


def test_next_reconnect_batch_splits_and_caps():
    bad = ConnectionState([_mkt(2, 0), _mkt(2, 1)])
    bad.ever_long_lived = True
    bad.consecutive_failures = 20
    pending = [bad] + [ConnectionState([_mkt(2, i)]) for i in range(60)]
    batch = next_reconnect_batch(pending)
    assert len(batch) == 50  # parallel-open cap (mod.rs:17)
    # the problematic connection was replaced by its two halves
    assert len(batch[0].markets) == 1 and len(batch[1].markets) == 1


# --- FrameWriter rotation --------------------------------------------------

def test_frame_writer_rotation_and_headers(tmp_path):
    clock = {"now": datetime(2025, 9, 30, 14, 59, 58, tzinfo=timezone.utc)}
    w = FrameWriter(tmp_path, markets=make_markets(),
                    now=lambda: clock["now"])
    w.handle_message(json.dumps([{"event_type": "book"}]))
    w.handle_message("PONG")
    clock["now"] += timedelta(seconds=5)  # crosses the hour boundary
    w.handle_message(json.dumps([{"event_type": "last_trade_price"}]))
    final = w.shutdown()

    files = sorted(p.name for p in tmp_path.glob("*.jsonl"))
    assert files == ["2025-09-30-14.jsonl", "2025-09-30-15.jsonl"]
    assert final.name == "2025-09-30-15.jsonl"
    for f in files:
        lines = [json.loads(x) for x in
                 (tmp_path / f).read_text().splitlines()]
        # line-1 invariant: active_markets snapshot first (main.rs:176-179)
        assert lines[0]["message_type"] == "active_markets"
        assert json.loads(lines[0]["content"])["count"] == 4
    last = [json.loads(x) for x in
            (tmp_path / files[1]).read_text().splitlines()]
    assert last[-1]["message_type"] == "shutdown_initiated"


def test_frame_writer_output_replays(spark, tmp_path):
    """Collector output must be directly replayable by the batch engine."""
    t = {"now": datetime(2025, 9, 30, 14, 0, 1, tzinfo=timezone.utc)}
    w = FrameWriter(tmp_path, markets=make_markets(), now=lambda: t["now"])
    mkt, asset = "0x" + "9" * 64, str(10**70)
    w.handle_message(json.dumps([{
        "event_type": "book", "timestamp": "1000", "market": mkt,
        "asset_id": asset, "bids": [{"price": "0.4", "size": "7"}],
        "asks": [{"price": "0.6", "size": "3"}]}]))
    w.handle_message("PONG")
    w.shutdown()
    rows = [tuple(r) for r in
            replay(spark, [str(tmp_path / "2025-09-30-14.jsonl")],
                   in_log_order=True, ticks_only=False)
            .select(*TICK_COLUMNS).collect()]
    assert rows == [
        ("1000", "BBO", mkt, asset, "ASK", 0.6, 3.0),
        ("1000", "BBO", mkt, asset, "BID", 0.4, 7.0),
    ]


# --- live streaming tick generation ---------------------------------------

def test_throughput_observation(spark, tmp_path):
    from polymarket_data_ingestor_spark.sources.frames import read_frames
    from polymarket_data_ingestor_spark.streaming.metrics import (
        with_throughput_observation,
    )

    paths = write_fixture_files(tmp_path, n_hours=1, msgs_per_hour=30, seed=2)
    frames = read_frames(spark, [str(p) for p in paths])
    observed, obs = with_throughput_observation(frames)
    n = observed.count()
    got = obs.get
    assert got["n_msgs"] == n
    assert got["n_bytes"] > 0


@pytest.mark.slow
def test_streaming_throughput_listener(spark, tmp_path):
    from polymarket_data_ingestor_spark.streaming.metrics import (
        ThroughputListener,
    )

    src = tmp_path / "frames"
    write_fixture_files(src, n_hours=2, msgs_per_hour=40, seed=9)
    listener = ThroughputListener()
    spark.streams.addListener(listener)
    try:
        q = (
            live_ticks(read_frames_stream(spark, str(src) + "/*.jsonl",
                                          max_files_per_trigger=1))
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
        # listener events are async; wait briefly for delivery
        import time

        for _ in range(20):
            if len(listener.samples) >= 2:
                break
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    assert len(listener.samples) >= 2  # one per micro-batch
    assert sum(s["num_input_rows"] for s in listener.samples) > 0


@pytest.mark.slow
def test_live_bbo_bars_with_watermark(spark, tmp_path):
    """Windowed last-BBO bars over the live tick stream (append mode:
    only watermark-finalized windows are emitted)."""
    src = tmp_path / "frames"
    write_fixture_files(src, n_hours=2, msgs_per_hour=120, seed=33)
    ticks_dir = tmp_path / "ticks"
    out = tmp_path / "bars_out"

    # production topology: query 1 materializes the durable tick table...
    q1 = (
        live_ticks(read_frames_stream(spark, str(src) + "/*.jsonl"))
        .writeStream.format("parquet")
        .option("path", str(ticks_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(300)

    # ...query 2 aggregates bars from the tick stream. One parquet file
    # per micro-batch: append mode only emits windows finalized by a LATER
    # batch's watermark, so a single batch would emit nothing.
    from polymarket_data_ingestor_spark.schemas import TICK_SCHEMA

    tick_stream = (
        spark.readStream.schema(TICK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(ticks_dir))
    )
    # fixture event times span only ~8 minutes, so use a short watermark:
    # windows finalize when a later batch's watermark passes their end
    q2 = (
        live_bbo_bars(tick_stream, "1 minute", "30 seconds")
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    bars = pd.read_parquet(out)
    assert len(bars) > 0
    # one row per (bar, asset, side); sides only BID/ASK
    assert set(bars.side) <= {"ASK", "BID"}
    assert not bars.duplicated(["bar_time", "asset", "side"]).any()


def test_live_bbo_bars_accounts_dropped_late_rows(spark, tmp_path):
    """Late-data OBSERVABILITY: a row arriving behind the watermark is
    (a) excluded from every emitted bar and (b) visible as an explicit
    count in the query's progress metrics (numRowsDroppedByWatermark)
    — at ingest scale silent late-row loss is an audit gap, so the
    accounting itself is part of the contract, not just the window
    values."""
    import json as _json
    import os

    from polymarket_data_ingestor_spark.schemas import TICK_SCHEMA

    src = tmp_path / "late_src"
    src.mkdir()
    base = 1_699_999_980_000  # ms epoch, minute-aligned

    def row(off_ms, price):
        return {"timestamp": str(base + off_ms), "kind": "BBO",
                "market": "m", "asset": "a", "side": "ASK",
                "price": price, "size": 1.0}

    # batch 1: minute-0 and minute-1 rows -> watermark base+60s-30s
    # batch 2: a minute-10 row -> watermark base+570s, past minute 0
    # batch 3: a LATE minute-0 row (price 999) -> must be dropped
    batches = [
        [row(0, 1.0), row(30_000, 1.5), row(90_000, 2.0)],
        [row(600_000, 3.0)],
        [row(15_000, 999.0)],
    ]
    for i, rows in enumerate(batches):
        p = src / f"b{i}.json"
        p.write_text("\n".join(_json.dumps(r) for r in rows) + "\n")
        # FileStreamSource orders by modification time: pin it so
        # maxFilesPerTrigger=1 replays the batches in sequence
        os.utime(p, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    q = (
        live_bbo_bars(
            spark.readStream.schema(TICK_SCHEMA)
            .option("maxFilesPerTrigger", 1).json(str(src)),
            "1 minute", "30 seconds",
        )
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "late_out"))
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert dropped == 1, [p.get("stateOperators") for p in q.recentProgress]

    bars = {
        r["bar_time"].timestamp() * 1000 - base: r["price"]
        for r in spark.read.parquet(str(tmp_path / "late_out")).collect()
    }
    # minute 0 finalized with the in-time last (1.5); the late 999 row
    # neither mutated it nor resurrected the window
    assert bars.get(0.0) == 1.5, bars
    assert 999.0 not in bars.values(), bars


@pytest.mark.slow
def test_live_ohlc_bars_match_batch(spark, tmp_path):
    """Streaming candles vs the same aggregation run in batch over the
    same durable tick table: emitted (finalized) windows must agree
    exactly on high/low/volume/n_trades; open/close must be A price
    observed at the extreme event time (ties at the same ms break
    arbitrarily in both engines, so equality is asserted as set
    membership)."""
    from polymarket_data_ingestor_spark.schemas import TICK_SCHEMA
    from polymarket_data_ingestor_spark.streaming.live import live_ohlc_bars

    src = tmp_path / "frames"
    write_fixture_files(src, n_hours=2, msgs_per_hour=120, seed=34)
    ticks_dir = tmp_path / "ticks"
    out = tmp_path / "candles_out"

    q1 = (
        live_ticks(read_frames_stream(spark, str(src) + "/*.jsonl"))
        .writeStream.format("parquet")
        .option("path", str(ticks_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(300)

    tick_stream = (
        spark.readStream.schema(TICK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(ticks_dir))
    )
    q2 = (
        live_ohlc_bars(tick_stream, "1 minute", "30 seconds")
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    got = pd.read_parquet(out)
    assert len(got) > 0
    assert not got.duplicated(["bar_time", "asset"]).any()

    ticks = pd.read_parquet(ticks_dir)
    tr = ticks[ticks["kind"] == "TRADE"].copy()
    tr["event_time"] = pd.to_datetime(tr["timestamp"].astype("int64"), unit="ms")
    tr["bar_time"] = tr["event_time"].dt.floor("1min")
    want = (
        tr.groupby(["bar_time", "asset"], as_index=False)
        .agg(high=("price", "max"), low=("price", "min"),
             volume=("size", "sum"), n_trades=("size", "count"))
    )
    m = got.merge(want, on=["bar_time", "asset"], suffixes=("", "_w"))
    assert len(m) == len(got)  # every emitted window exists in batch
    assert m["high"].tolist() == m["high_w"].tolist()
    assert m["low"].tolist() == m["low_w"].tolist()
    assert m["n_trades"].tolist() == m["n_trades_w"].tolist()
    assert m["volume"].tolist() == pytest.approx(m["volume_w"].tolist())
    # open/close: any price observed at the extreme event time qualifies
    for _, r in got.iterrows():
        g = tr[(tr["bar_time"] == r["bar_time"]) & (tr["asset"] == r["asset"])]
        assert r["open"] in set(g[g["event_time"] == g["event_time"].min()]["price"])
        assert r["close"] in set(g[g["event_time"] == g["event_time"].max()]["price"])


def test_dedup_feed_stream_drops_redelivered_frames(spark, tmp_path):
    """A frame re-delivered after a reconnect must replay once: the
    deduped stream keeps one copy of each (asset, time, content) message
    while distinct same-millisecond messages survive."""
    import json as _json

    from polymarket_data_ingestor_spark.sources.frames import (
        parse_feed_messages,
    )
    from polymarket_data_ingestor_spark.streaming.live import (
        dedup_feed_stream,
    )

    src = tmp_path / "frames"
    src.mkdir()
    mkt, asset = "0x" + "5" * 64, str(10**70 + 6)
    msg = {"event_type": "price_change", "timestamp": "1000",
           "market": mkt, "asset_id": asset,
           "changes": [{"price": "0.4", "size": "1", "side": "BUY"}]}
    other = dict(msg, changes=[{"price": "0.41", "size": "2",
                                "side": "BUY"}])  # same ms, different body
    lines = [_json.dumps({"timestamp": f"2025-09-30T14:00:0{i}+00:00",
                          "message_type": "feed_message",
                          "content": _json.dumps([m])})
             for i, m in enumerate([msg, msg, other, msg])]  # 3x duplicate
    (src / "2025-09-30-14.jsonl").write_text("\n".join(lines) + "\n")

    stream = read_frames_stream(spark, str(src) + "/*.jsonl")
    out = tmp_path / "out"
    q = (dedup_feed_stream(parse_feed_messages(stream))
         .writeStream.format("parquet")
         .option("path", str(out))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = pd.read_parquet(out)
    assert len(got) == 2  # one copy of msg + the distinct same-ms message


def test_live_ticks_matches_batch_replay(spark, tmp_path):
    """Streaming (1 file per micro-batch, state across batches) ≡ batch."""
    src = tmp_path / "frames"
    paths = write_fixture_files(src, n_hours=3, msgs_per_hour=80, seed=21)
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"

    stream = read_frames_stream(spark, str(src) + "/*.jsonl",
                                max_files_per_trigger=1)
    q = (
        live_ticks(stream)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = (
        pd.read_parquet(out)
        .sort_values(TICK_COLUMNS, kind="mergesort")
        .reset_index(drop=True)
    )
    want = (
        pd.DataFrame(naive_replay(paths), columns=TICK_COLUMNS)
        .sort_values(TICK_COLUMNS, kind="mergesort")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_live_ticks_rejects_poison_like_batch_replay(spark, tmp_path):
    """Messages the reference's serde rejects are dropped by the live
    twin exactly as by batch replay: no emission, no state change, and
    the stream keeps running. The poison hour follows a valid hour, so
    the final valid change replays against the book carried across
    micro-batches."""
    src = tmp_path / "frames"
    paths = write_fixture_files(src, n_hours=1, msgs_per_hour=60, seed=5)
    mkt, asset = _mkt_id(0), _asset_id(0, 0)  # present in the valid hour

    def change(price, size, side="BUY"):
        return {"event_type": "price_change", "changes": [
            {"price": price, "size": size, "side": side}]}

    poison = [
        change("NaN", "3"),
        change("0.5", "Infinity"),
        {"event_type": "book", "bids": [{"price": "-Infinity", "size": "1"}],
         "asks": []},
        change("garbage", "1"),
        {"event_type": "last_trade_price", "side": "HOLD", "price": "0.5",
         "size": "1"},
        {"event_type": "book", "bids": [{"price": "0.4", "size": "1"}, None],
         "asks": []},
        {"event_type": "price_change", "changes": [None]},
        {"event_type": "price_change"},  # no changes collection
        change("0.45", "7"),  # valid: replays on the carried book
    ]
    hour = src / "2025-09-30-15.jsonl"
    hour.write_text("".join(
        json.dumps({
            "timestamp": f"2025-09-30T15:00:{i:02d}+00:00",
            "message_type": "feed_message",
            "content": json.dumps([dict(m, timestamp=str(1759244400000 + i),
                                        market=mkt, asset_id=asset)]),
        }) + "\n"
        for i, m in enumerate(poison)
    ))
    paths.append(hour)
    for i, p in enumerate(paths):  # the file source replays by mtime
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    out = tmp_path / "out"
    q = (
        live_ticks(read_frames_stream(spark, str(src) + "/*.jsonl",
                                      max_files_per_trigger=1))
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    def ordered(pdf):
        return pdf.sort_values(TICK_COLUMNS, kind="mergesort").reset_index(
            drop=True)

    got = ordered(pd.read_parquet(out))
    want = ordered(replay(spark, [str(p) for p in paths]).toPandas())
    pd.testing.assert_frame_equal(got, want)
    # of the poison hour, only the last (valid) change emits: one BBO pair
    assert (got["timestamp"] >= "1759244400000").sum() == 2


@pytest.mark.slow
def test_live_sessions_match_naive_model(spark, tmp_path):
    """Streaming session_window sessionization vs a naive per-user gap
    model over the same events: finalized sessions must agree on
    (start, last, n_events). Model uses >= gap as the new-session rule
    (session_window's convention; see the docstring boundary note)."""
    from polymarket_data_ingestor_spark.streaming.live import live_sessions

    ev_dir = tmp_path / "events"
    out = tmp_path / "sessions_out"
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.select("user_id", "ts").write.parquet(str(ev_dir))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(ev_dir))
    )
    q = (
        live_sessions(stream, gap="30 minutes", watermark="10 minutes")
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = pd.read_parquet(out)
    assert len(got) > 0
    # naive model: sort per user by ts, split where diff >= 30 min
    df = events.select("user_id", "ts").toPandas()
    df = df.sort_values(["user_id", "ts"]).reset_index(drop=True)
    gap = pd.Timedelta(minutes=30)
    want = {}
    for uid, g in df.groupby("user_id"):
        ts = list(g["ts"])
        start = last = ts[0]
        n = 1
        for t in ts[1:]:
            if t - last >= gap:
                want[(uid, start)] = (last, n)
                start, n = t, 0
            last = t
            n += 1
        want[(uid, start)] = (last, n)
    # every EMITTED (finalized) session must match the model exactly;
    # sessions still open at end-of-stream are legitimately unemitted
    for r in got.itertuples(index=False):
        key = (r.user_id, r.session_start)
        assert key in want, key
        assert want[key] == (r.session_last, r.n_events), (key, want[key], r)


@pytest.mark.slow
def test_label_outcomes_works_on_streams(spark, tmp_path):
    """Stream-static enrichment: the BATCH label_outcomes operator runs
    unchanged on a streaming tick frame (Spark's stream-static join) —
    one API, both planes. Every streamed tick gets its outcome label."""
    from polymarket_data_ingestor_spark.operators.bars import label_outcomes
    from polymarket_data_ingestor_spark.schemas import TICK_SCHEMA

    src = tmp_path / "frames"
    write_fixture_files(src, n_hours=1, msgs_per_hour=80, seed=77)
    ticks_dir = tmp_path / "ticks"
    q1 = (
        live_ticks(read_frames_stream(spark, str(src) + "/*.jsonl"))
        .writeStream.format("parquet")
        .option("path", str(ticks_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt1"))
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(300)

    # static dim: every asset in the fixture -> alternating YES/NO
    assets = [
        r.asset
        for r in spark.read.parquet(str(ticks_dir))
        .select("asset").distinct().collect()
    ]
    dim = spark.createDataFrame(
        [(a, "YES" if i % 2 == 0 else "NO") for i, a in enumerate(assets)],
        "token_id string, outcome string",
    )
    stream = spark.readStream.schema(TICK_SCHEMA).parquet(str(ticks_dir))
    out = tmp_path / "labeled"
    q2 = (
        label_outcomes(stream, dim)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    labeled = pd.read_parquet(out)
    assert len(labeled) == spark.read.parquet(str(ticks_dir)).count()
    assert labeled["outcome"].notna().all()
    want = {a: ("YES" if i % 2 == 0 else "NO") for i, a in enumerate(assets)}
    assert all(want[a] == o for a, o in
               zip(labeled["asset"], labeled["outcome"]))


def test_live_interval_join_matches_batch_join(spark, tmp_path):
    """Stream-stream interval join (single micro-batch so the watermark
    can't drop matches) must equal the plain batch join under the same
    band predicate."""
    import pandas as pd
    from pyspark.sql import functions as F

    from polymarket_data_ingestor_spark.streaming.live import (
        live_interval_join,
    )

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    trades = events.filter("event_type = 'click'").select(
        "user_id", "ts", F.col("event_id").alias("trade_id")
    )
    quotes = events.filter("event_type = 'view'").select(
        "user_id",
        F.col("ts").alias("quote_ts"),
        F.col("event_id").alias("quote_id"),
    )
    t_dir, q_dir = tmp_path / "t", tmp_path / "q"
    trades.coalesce(1).write.parquet(str(t_dir))
    quotes.coalesce(1).write.parquet(str(q_dir))

    t_stream = spark.readStream.schema(
        "user_id long, ts timestamp, trade_id long"
    ).parquet(str(t_dir))
    q_stream = spark.readStream.schema(
        "user_id long, quote_ts timestamp, quote_id long"
    ).parquet(str(q_dir))
    out = tmp_path / "joined"
    q = (
        live_interval_join(
            t_stream, q_stream, ("user_id",),
            left_ts="ts", right_ts="quote_ts",
            tolerance_seconds=1800,
        )
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = pd.read_parquet(out)

    want = (
        trades.join(quotes, "user_id")
        .filter(
            (F.col("quote_ts") >= F.col("ts") - F.expr("INTERVAL 1800 SECONDS"))
            & (F.col("quote_ts") <= F.col("ts"))
        )
        .select("trade_id", "quote_id")
        .toPandas()
    )
    assert len(want) > 0
    assert (
        set(map(tuple, got[["trade_id", "quote_id"]].values.tolist()))
        == set(map(tuple, want.values.tolist()))
    )
    # schema: all left columns + non-key right columns
    assert list(got.columns) == [
        "user_id", "ts", "trade_id", "quote_ts", "quote_id"
    ]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        live_interval_join(t_stream, q_stream, ("user_id",),
                           left_ts="ts", right_ts="ts")


def test_live_active_users_matches_batch(spark, tmp_path):
    """Windowed distinct users on a stream (single micro-batch) must
    equal the batch rollup — exact mode equal on counts, approx mode
    within HLL tolerance on the same windows."""
    import pandas as pd
    from pyspark.sql import functions as F

    from polymarket_data_ingestor_spark.streaming.live import (
        live_active_users,
    )

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = tmp_path / "ev"
    events.select("user_id", "ts").coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(
        str(src)
    )
    want = {
        r["w"]: (r["nu"], r["ne"])
        for r in events.groupBy(
            F.window("ts", "1 hour")["start"].alias("w")
        )
        .agg(
            F.count_distinct("user_id").alias("nu"),
            F.count(F.lit(1)).alias("ne"),
        )
        .collect()
    }
    for exact in (True, False):
        out = tmp_path / f"au_{exact}"
        q = (
            live_active_users(stream, "1 hour", exact=exact)
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(tmp_path / f"ck_{exact}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = pd.read_parquet(out)
        # append semantics: windows not yet passed by the final
        # watermark stay open and unemitted (the chained exact form
        # lags one more watermark step) — everything emitted must
        # match, and only a small trailing tail may be open
        assert len(want) - len(got) <= 2 and len(got) > 0
        for _, r in got.iterrows():
            nu, ne = want[r["window_start"].to_pydatetime()]
            assert r["n_events"] == ne
            if exact:
                assert r["n_users"] == nu
            else:
                assert abs(r["n_users"] - nu) <= max(3, 0.1 * nu)


def test_live_interval_join_rejects_column_clash(spark, tmp_path):
    import pytest as _pytest

    from polymarket_data_ingestor_spark.streaming.live import (
        live_interval_join,
    )

    a = spark.readStream.format("rate").load().selectExpr(
        "value AS user_id", "timestamp AS ts", "value AS v"
    )
    b = spark.readStream.format("rate").load().selectExpr(
        "value AS user_id", "timestamp AS quote_ts", "value AS v"
    )
    with _pytest.raises(ValueError, match="duplicate names"):
        live_interval_join(a, b, ("user_id",))


@pytest.mark.slow
def test_apply_cdc_stream_merges_into_lake(spark, tmp_path):
    """Streaming CDC apply: micro-batches MERGE into the partitioned
    lake (replace by key / insert new keys / create new partitions),
    untouched partitions stay byte-identical, and a second availableNow
    run against the same checkpoint picks up only the new files."""
    import json as _json

    from polymarket_data_ingestor_spark.streaming import apply_cdc_stream

    src = tmp_path / "cdc_src"
    src.mkdir()
    lake = str(tmp_path / "cdc_lake")
    ckpt = str(tmp_path / "cdc_ckpt")
    schema = "k long, dt date, v double"

    def emit(name, rows):
        (src / name).write_text(
            "\n".join(_json.dumps(r) for r in rows) + "\n"
        )

    def run():
        q = apply_cdc_stream(
            spark.readStream.schema(schema).json(str(src)),
            lake, ckpt, ("k",), ("dt",), available_now=True,
        )
        q.awaitTermination(300)

    # batch 1: two partitions
    emit("b1.json", [
        {"k": 1, "dt": "2024-05-01", "v": 1.0},
        {"k": 2, "dt": "2024-05-01", "v": 2.0},
        {"k": 3, "dt": "2024-05-02", "v": 3.0},
    ])
    run()
    back = {r["k"]: r.asDict() for r in spark.read.parquet(lake).collect()}
    assert len(back) == 3 and back[2]["v"] == 2.0

    day2_state = sorted(
        (p.name, p.stat().st_size, p.stat().st_mtime_ns)
        for p in (Path(lake) / "dt=2024-05-02").glob("*.parquet")
    )

    # batch 2 (new file, same checkpoint): update k=2, insert k=4 into
    # day1 and k=5 into a brand-new day; day2 must stay byte-untouched
    emit("b2.json", [
        {"k": 2, "dt": "2024-05-01", "v": 20.0},
        {"k": 4, "dt": "2024-05-01", "v": 4.0},
        {"k": 5, "dt": "2024-05-03", "v": 5.0},
    ])
    run()
    back = {r["k"]: r.asDict() for r in spark.read.parquet(lake).collect()}
    assert len(back) == 5
    assert back[2]["v"] == 20.0            # replaced, not duplicated
    assert back[1]["v"] == 1.0             # sibling row survived
    assert back[5]["dt"].isoformat() == "2024-05-03"  # new partition
    after = sorted(
        (p.name, p.stat().st_size, p.stat().st_mtime_ns)
        for p in (Path(lake) / "dt=2024-05-02").glob("*.parquet")
    )
    assert after == day2_state             # untouched partition


@pytest.mark.slow
def test_live_ewma_matches_batch_across_restart(spark, tmp_path):
    """Streaming EWMA over an in-order availableNow drain must be
    bit-identical to the batch operator — INCLUDING when the stream is
    split across two runs sharing a checkpoint (per-key state, one
    double, survives the restart)."""
    import json as _json

    from polymarket_data_ingestor_spark.operators.analytics import ewma
    from polymarket_data_ingestor_spark.streaming.live import live_ewma

    src = tmp_path / "ev"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, user_id long, ts timestamp, value double"

    def emit(name, rows):
        (src / name).write_text("\n".join(_json.dumps(r) for r in rows) + "\n")

    def run():
        q = (
            live_ewma(
                spark.readStream.schema(schema).json(str(src)), alpha=0.25
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            # awaitTermination returns False on timeout (no exception);
            # failing loudly here beats the second run() hitting a
            # checkpoint still held by a live query
            assert q.awaitTermination(300), "drain timed out"
        finally:
            q.stop()

    # batch 1: first half of each user's series (in order)
    all_rows = [
        {"event_id": i, "user_id": 100 + (i % 3),
         "ts": f"2024-04-01T00:{i:02d}:00", "value": float((i * 7) % 50)}
        for i in range(20)
    ]
    emit("b1.json", all_rows[:12])
    run()
    emit("b2.json", all_rows[12:])  # restart continues from state
    run()

    got = {
        r["event_id"]: r["ewma"]
        for r in spark.read.parquet(out).collect()
    }
    batch_df = spark.createDataFrame(
        [(r["event_id"], r["user_id"],
          datetime.fromisoformat(r["ts"]), r["value"])
         for r in all_rows], schema
    )
    want = {r["event_id"]: r["ewma"]
            for r in ewma(batch_df, alpha=0.25).collect()}
    assert got == want and len(got) == 20  # bit-identical, incl. restart

    # TTL wiring: state_ttl_ms switches the plan to ProcessingTimeTimeout
    # (an e2e drain can't cover it — a pending processing-time timer
    # holds an availableNow query open past its data, so TTL belongs to
    # continuous deployments; the plan-level switch is what we can pin)
    ttl_df = live_ewma(
        spark.readStream.schema(schema).json(str(src)),
        alpha=0.25, state_ttl_ms=3_600_000,
    )
    plan = ttl_df._jdf.queryExecution().analyzed().toString()
    assert "ProcessingTimeTimeout" in plan, plan
    no_ttl_plan = (
        live_ewma(spark.readStream.schema(schema).json(str(src)))
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "NoTimeout" in no_ttl_plan, no_ttl_plan
    with pytest.raises(ValueError):
        live_ewma(spark.readStream.schema(schema).json(str(src)),
                  state_ttl_ms=0)


def test_live_holt_matches_batch_across_restart(spark, tmp_path):
    """Streaming Holt over an in-order availableNow drain must be
    bit-identical to the batch operator — including when the stream is
    split across two runs sharing a checkpoint (per-key state, the
    (level, trend) pair, survives the restart)."""
    import json as _json

    from polymarket_data_ingestor_spark.operators.analytics import (
        holt_linear,
    )
    from polymarket_data_ingestor_spark.streaming.live import live_holt

    src = tmp_path / "ev"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, user_id long, ts timestamp, value double"

    def emit(name, rows):
        (src / name).write_text("\n".join(_json.dumps(r) for r in rows) + "\n")

    def run():
        q = (
            live_holt(
                spark.readStream.schema(schema).json(str(src)),
                alpha=0.25, beta=0.5,
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(300), "drain timed out"
        finally:
            q.stop()

    all_rows = [
        {"event_id": i, "user_id": 100 + (i % 3),
         "ts": f"2024-04-01T00:{i:02d}:00", "value": float((i * 7) % 50)}
        for i in range(20)
    ]
    emit("b1.json", all_rows[:12])
    run()
    emit("b2.json", all_rows[12:])  # restart continues from (level, trend)
    run()

    got = {
        r["event_id"]: (r["level"], r["trend"], r["forecast"])
        for r in spark.read.parquet(out).collect()
    }
    batch_df = spark.createDataFrame(
        [(r["event_id"], r["user_id"],
          datetime.fromisoformat(r["ts"]), r["value"])
         for r in all_rows], schema
    )
    want = {
        r["event_id"]: (r["level"], r["trend"], r["forecast"])
        for r in holt_linear(batch_df, alpha=0.25, beta=0.5).collect()
    }
    assert got == want and len(got) == 20  # bit-identical, incl. restart

    # TTL plan switch + validation, same contract as live_ewma
    ttl_plan = (
        live_holt(spark.readStream.schema(schema).json(str(src)),
                  state_ttl_ms=3_600_000)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "ProcessingTimeTimeout" in ttl_plan, ttl_plan
    with pytest.raises(ValueError):
        live_holt(spark.readStream.schema(schema).json(str(src)),
                  state_ttl_ms=0)
    with pytest.raises(ValueError):
        live_holt(spark.readStream.schema(schema).json(str(src)),
                  beta=-0.1)


def test_live_rollup_exactly_once_across_restart_and_replay(
    spark, tmp_path
):
    """Streaming rollup maintenance: micro-batches merge into MVCC
    state versions; a second availableNow run extends the state; a
    simulated crash-replay of a committed batch (checkpoint lost
    after the state write) overwrites its version with identical
    content instead of double-counting — the exactly-once claim."""
    import json as _json
    from decimal import Decimal

    from polymarket_data_ingestor_spark.streaming import (
        live_rollup,
        read_rollup_state,
    )

    src = tmp_path / "roll_src"
    src.mkdir()
    state = str(tmp_path / "roll_state")
    ckpt = str(tmp_path / "roll_ckpt")
    schema = "k string, value double"

    def emit(name, rows):
        (src / name).write_text(
            "\n".join(_json.dumps(r) for r in rows) + "\n"
        )

    def run(checkpoint):
        q = live_rollup(
            spark.readStream.schema(schema).json(str(src)),
            state, checkpoint, ("k",), available_now=True,
        )
        q.awaitTermination(300)

    emit("b1.json", [{"k": "a", "value": 1.5}, {"k": "b", "value": 2.0}])
    run(ckpt)
    s1 = {r["k"]: r.asDict() for r in
          read_rollup_state(spark, state).collect()}
    assert s1["a"]["n"] == 1 and s1["a"]["sum_v"] == Decimal("1.50")

    # second trigger, same checkpoint: merged, not recomputed
    emit("b2.json", [{"k": "a", "value": 2.5}, {"k": "c", "value": 9.0}])
    run(ckpt)
    s2 = {r["k"]: r.asDict() for r in
          read_rollup_state(spark, state).collect()}
    assert s2["a"]["n"] == 2 and s2["a"]["sum_v"] == Decimal("4.00")
    assert s2["a"]["min_v"] == 1.5 and s2["a"]["max_v"] == 2.5
    assert s2["b"]["n"] == 1 and s2["c"]["sum_v"] == Decimal("9.00")

    # genuine crash-replay: drop the checkpoint's LAST commit marker —
    # exactly the crash window between the state write and the
    # checkpoint commit. The next run re-delivers batch 1 (same
    # offsets); _apply must read the predecessor strictly below its
    # batch id (v=0, retained by the >=1 retention floor) and
    # overwrite v=1 with identical content — NOT read its own output
    # and double-count.
    commits = sorted((Path(ckpt) / "commits").glob("[0-9]*"))
    assert len(commits) == 2, commits
    commits[-1].unlink()
    crc = Path(ckpt) / "commits" / f".{commits[-1].name}.crc"
    if crc.exists():
        crc.unlink()
    run(ckpt)
    s3 = {r["k"]: r.asDict() for r in
          read_rollup_state(spark, state).collect()}
    assert s3["a"]["n"] == 2 and s3["a"]["sum_v"] == Decimal("4.00"), s3
    assert s3["c"]["n"] == 1

    # and a FRESH checkpoint (total re-delivery as one batch 0 over an
    # existing state dir) converges to the same totals via the
    # latest-committed-version read
    run(str(tmp_path / "roll_ckpt2"))
    s4 = {r["k"]: r.asDict() for r in
          read_rollup_state(spark, state).collect()}
    assert s4["a"]["n"] == 2 and s4["a"]["sum_v"] == Decimal("4.00"), s4

    # retention contract is loud
    import pytest as _pytest

    with _pytest.raises(ValueError, match="retain_versions"):
        live_rollup(
            spark.readStream.schema(schema).json(str(src)),
            state, ckpt, ("k",), retain_versions=0,
        )


def test_live_quantile_rollup_exact_regime_and_crash_replay(
    spark, tmp_path
):
    """The MVCC materializer with the quantile-sketch monoid: state
    maintained across two triggers finalizes to the same percentiles
    as a one-pass batch sketch over the union (exact regime: total
    weight << k), and a genuine crash-replay (last commit marker
    deleted) overwrites its version with identical content instead of
    double-weighting the replayed batch."""
    import json as _json
    import math

    from polymarket_data_ingestor_spark.operators.analytics import (
        finalize_quantile_rollup,
    )
    from polymarket_data_ingestor_spark.streaming import (
        live_quantile_rollup,
        read_rollup_state,
    )

    src = tmp_path / "q_src"
    src.mkdir()
    state = str(tmp_path / "q_state")
    ckpt = str(tmp_path / "q_ckpt")
    schema = "k string, value double"

    def run():
        q = live_quantile_rollup(
            spark.readStream.schema(schema).json(str(src)),
            state, ckpt, ("k",), available_now=True,
        )
        q.awaitTermination(300)

    vals_b1 = [float(v) for v in (5, 1, 9, 3, 7)]
    vals_b2 = [float(v) for v in (2, 8, 4, 6, 10)]
    (src / "b1.json").write_text("\n".join(
        _json.dumps({"k": "a", "value": v}) for v in vals_b1) + "\n")
    run()
    (src / "b2.json").write_text("\n".join(
        _json.dumps({"k": "a", "value": v}) for v in vals_b2) + "\n")
    run()

    def got():
        return finalize_quantile_rollup(
            read_rollup_state(spark, state), (0.5, 0.9)
        ).collect()[0]

    # exact regime: discrete percentiles of the 10-value union
    union = sorted(vals_b1 + vals_b2)
    want = {
        f"p{int(q * 100)}": union[max(1, math.ceil(q * len(union))) - 1]
        for q in (0.5, 0.9)
    }
    r = got()
    assert (r["p50"], r["p90"]) == (want["p50"], want["p90"]), r

    # crash-replay: batch 1 re-delivered must not double-weight it
    commits = sorted((Path(ckpt) / "commits").glob("[0-9]*"))
    assert len(commits) == 2, commits
    commits[-1].unlink()
    crc = Path(ckpt) / "commits" / f".{commits[-1].name}.crc"
    if crc.exists():
        crc.unlink()
    run()
    r = got()
    assert (r["p50"], r["p90"]) == (want["p50"], want["p90"]), r
    # weight check: state total weight is exactly 10, not 15
    st = read_rollup_state(spark, state).collect()[0]
    weight = sum(len(b) << i for i, b in enumerate(st["q_levels"]))
    assert weight == 10, st


def test_live_heavy_hitters_and_sample_rollup_maintained(
    spark, tmp_path
):
    """The two r10 monoids through the MVCC materializer: maintained
    heavy-hitter counts equal batch group-by counts (exact regime),
    the maintained sample is bit-identical to a one-pass batch sample
    over the union, and a crash-replay changes neither (the sample
    monoid's identity holds unconditionally)."""
    import json as _json

    from pyspark.sql import functions as F

    from polymarket_data_ingestor_spark.operators.analytics import (
        finalize_heavy_hitters,
        finalize_sample_rollup,
        sample_rollup_state,
    )
    from polymarket_data_ingestor_spark.streaming import (
        live_heavy_hitters,
        live_sample_rollup,
        read_rollup_state,
    )

    src = tmp_path / "hh_src"
    src.mkdir()
    rows1 = [{"k": "a", "item": f"u{i % 4}"} for i in range(10)]
    rows2 = [{"k": "a", "item": f"u{i % 7}"} for i in range(14)]
    (src / "b1.json").write_text(
        "\n".join(_json.dumps(r) for r in rows1) + "\n")

    def run(fn, state, ckpt, **kw):
        q = fn(
            spark.readStream.schema("k string, item string")
            .json(str(src)),
            str(tmp_path / state), str(tmp_path / ckpt), ("k",),
            "item", available_now=True, **kw,
        )
        q.awaitTermination(300)

    run(live_heavy_hitters, "hh_state", "hh_ckpt", k=64)
    run(live_sample_rollup, "s_state", "s_ckpt", k=3, seed=5)
    (src / "b2.json").write_text(
        "\n".join(_json.dumps(r) for r in rows2) + "\n")
    run(live_heavy_hitters, "hh_state", "hh_ckpt", k=64)
    run(live_sample_rollup, "s_state", "s_ckpt", k=3, seed=5)

    # heavy hitters == batch counts over the union (exact regime)
    union = spark.createDataFrame(rows1 + rows2, "k string, item string")
    want_counts = {
        r["item"]: r["n"]
        for r in union.groupBy("item").agg(
            F.count(F.lit(1)).alias("n")).collect()
    }
    got = {
        r["item"]: (r["est_count"], r["max_undercount"])
        for r in finalize_heavy_hitters(
            read_rollup_state(spark, str(tmp_path / "hh_state"))
        ).collect()
    }
    assert {i: c for i, (c, _) in got.items()} == want_counts
    assert all(d == 0 for _, d in got.values())

    # maintained sample == one-pass batch sample over the union
    want_sample = {
        r["sample_id"]
        for r in finalize_sample_rollup(
            sample_rollup_state(union, ("k",), "item", k=3, seed=5)
        ).collect()
    }
    got_sample = {
        r["sample_id"]
        for r in finalize_sample_rollup(
            read_rollup_state(spark, str(tmp_path / "s_state"))
        ).collect()
    }
    assert got_sample == want_sample and len(got_sample) == 3

    # crash-replay of the last batch: both states unchanged
    for ckpt, state, fn, kw in (
        ("hh_ckpt", "hh_state", live_heavy_hitters, {"k": 64}),
        ("s_ckpt", "s_state", live_sample_rollup, {"k": 3, "seed": 5}),
    ):
        commits = sorted(
            (tmp_path / ckpt / "commits").glob("[0-9]*"))
        commits[-1].unlink()
        crc = tmp_path / ckpt / "commits" / f".{commits[-1].name}.crc"
        if crc.exists():
            crc.unlink()
        run(fn, state, ckpt, **kw)
    got2 = {
        r["item"]: r["est_count"]
        for r in finalize_heavy_hitters(
            read_rollup_state(spark, str(tmp_path / "hh_state"))
        ).collect()
    }
    assert got2 == want_counts  # replay did not double-count
    got_sample2 = {
        r["sample_id"]
        for r in finalize_sample_rollup(
            read_rollup_state(spark, str(tmp_path / "s_state"))
        ).collect()
    }
    assert got_sample2 == want_sample


def test_live_topk_rollup_maintained_and_crash_replay(spark, tmp_path):
    """The r11 curation monoid through the MVCC materializer: the
    maintained per-key leaderboard is bit-identical to a one-pass
    batch top-k over the union (true monoid), and a crash-replay of
    the last batch changes nothing."""
    import json as _json

    from polymarket_data_ingestor_spark.operators.analytics import (
        finalize_topk_rollup,
        topk_rollup_state,
    )
    from polymarket_data_ingestor_spark.streaming import (
        live_topk_rollup,
        read_rollup_state,
    )

    src = tmp_path / "tk_src"
    src.mkdir()
    rows1 = [{"k": "a", "id": f"d{i}", "score": float(i % 5)}
             for i in range(10)]
    rows2 = [{"k": "a", "id": f"e{i}", "score": float(7 - i)}
             for i in range(6)]
    (src / "b1.json").write_text(
        "\n".join(_json.dumps(r) for r in rows1) + "\n")

    def run():
        q = live_topk_rollup(
            spark.readStream.schema("k string, id string, score double")
            .json(str(src)),
            str(tmp_path / "tk_state"), str(tmp_path / "tk_ckpt"),
            ("k",), "id", "score", k=4, available_now=True,
        )
        q.awaitTermination(300)

    run()
    (src / "b2.json").write_text(
        "\n".join(_json.dumps(r) for r in rows2) + "\n")
    run()

    union = spark.createDataFrame(
        rows1 + rows2, "k string, id string, score double")
    want = [
        (r["rank"], r["item"], r["score"])
        for r in finalize_topk_rollup(
            topk_rollup_state(union, ("k",), "id", "score", k=4)
        ).orderBy("rank").collect()
    ]
    got = [
        (r["rank"], r["item"], r["score"])
        for r in finalize_topk_rollup(
            read_rollup_state(spark, str(tmp_path / "tk_state"))
        ).orderBy("rank").collect()
    ]
    assert got == want and got[0] == (1, "e0", 7.0)

    # crash-replay: delete the last commit marker (+ crc) and re-run
    commits = sorted((tmp_path / "tk_ckpt" / "commits").glob("[0-9]*"))
    commits[-1].unlink()
    crc = tmp_path / "tk_ckpt" / "commits" / f".{commits[-1].name}.crc"
    if crc.exists():
        crc.unlink()
    run()
    got2 = [
        (r["rank"], r["item"], r["score"])
        for r in finalize_topk_rollup(
            read_rollup_state(spark, str(tmp_path / "tk_state"))
        ).orderBy("rank").collect()
    ]
    assert got2 == want  # replay overwrote v=N identically


def test_live_minhash_rollup_maintained_and_crash_replay(spark, tmp_path):
    """The set-identity monoid through the MVCC materializer: the
    maintained signature equals a one-pass batch signature over the
    union (true monoid, idempotent across re-folded items), and a
    crash-replay of the last batch changes nothing."""
    import json as _json

    from polymarket_data_ingestor_spark.operators.analytics import (
        minhash_rollup_state,
    )
    from polymarket_data_ingestor_spark.streaming import (
        live_minhash_rollup,
        read_rollup_state,
    )

    src = tmp_path / "mh_src"
    src.mkdir()
    rows1 = [{"k": "a", "item": f"w{i}"} for i in range(20)]
    rows2 = [{"k": "a", "item": f"w{i}"} for i in range(10, 30)]  # overlap
    (src / "b1.json").write_text(
        "\n".join(_json.dumps(r) for r in rows1) + "\n")

    def run():
        q = live_minhash_rollup(
            spark.readStream.schema("k string, item string")
            .json(str(src)),
            str(tmp_path / "mh_state"), str(tmp_path / "mh_ckpt"),
            ("k",), "item", n_hashes=8, seed=4, available_now=True,
        )
        q.awaitTermination(300)

    run()
    (src / "b2.json").write_text(
        "\n".join(_json.dumps(r) for r in rows2) + "\n")
    run()

    union = spark.createDataFrame(
        rows1 + rows2, "k string, item string")
    want = {
        r["k"]: list(r["mh_sig"])
        for r in minhash_rollup_state(
            union, ("k",), "item", 8, 4).collect()
    }
    state = read_rollup_state(spark, str(tmp_path / "mh_state"))
    got = {r["k"]: list(r["mh_sig"]) for r in state.collect()}
    assert got == want

    commits = sorted((tmp_path / "mh_ckpt" / "commits").glob("[0-9]*"))
    commits[-1].unlink()
    crc = tmp_path / "mh_ckpt" / "commits" / f".{commits[-1].name}.crc"
    if crc.exists():
        crc.unlink()
    run()
    got2 = {
        r["k"]: list(r["mh_sig"])
        for r in read_rollup_state(
            spark, str(tmp_path / "mh_state")).collect()
    }
    assert got2 == want  # replay overwrote v=N identically


def test_labeled_window_states_merge_expire_idempotent(spark, tmp_path):
    """Label-partitioned monoid states (r11): per-label folds are
    idempotent pure functions of their delta; a window read merges
    exactly the last N labels (== a direct aggregation over those
    days' rows — the 'last N days' answer for monoids with no
    subtraction); retention deletes old labels; an empty window
    raises."""
    import pytest as _pytest

    from polymarket_data_ingestor_spark.operators.analytics import (
        merge_rollup,
        rollup_state,
    )
    from polymarket_data_ingestor_spark.streaming import (
        expire_state_labels,
        fold_labeled_state,
        read_window_state,
        state_labels,
    )
    from pyspark.sql import functions as F

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    days = [r["d"] for r in ev.select(
        F.to_date("ts").alias("d")).distinct().orderBy("d").limit(3)
        .collect()]
    assert len(days) == 3
    state = str(tmp_path / "win_state")
    keys = ("event_type",)
    for d in days:
        fold_labeled_state(
            spark, state, d.isoformat(),
            rollup_state(ev.filter(F.to_date("ts") == d), keys, "value"),
        )
    assert state_labels(spark, state) == sorted(
        d.isoformat() for d in days)

    # window of the last 2 labels == direct rollup over those 2 days
    win = read_window_state(
        spark, state, lambda *st: merge_rollup(*st, keys=keys),
        last_n=2,
    )
    got = {r["event_type"]: (r["n"], r["sum_v"]) for r in win.collect()}
    want = {
        r["event_type"]: (r["n"], r["sum_v"])
        for r in rollup_state(
            ev.filter(F.to_date("ts").isin(days[-2:])), keys, "value"
        ).collect()
    }
    assert got == want

    # re-folding a label is a no-op (pure function of the delta)
    fold_labeled_state(
        spark, state, days[0].isoformat(),
        rollup_state(ev.filter(F.to_date("ts") == days[0]), keys,
                     "value"),
    )
    all_state = read_window_state(
        spark, state, lambda *st: merge_rollup(*st, keys=keys))
    want_all = {
        r["event_type"]: (r["n"], r["sum_v"])
        for r in rollup_state(
            ev.filter(F.to_date("ts").isin(days)), keys, "value"
        ).collect()
    }
    got_all = {
        r["event_type"]: (r["n"], r["sum_v"])
        for r in all_state.collect()
    }
    assert got_all == want_all

    # retention: keep the newest 2; the expired label is gone
    gone = expire_state_labels(spark, state, keep_last=2)
    assert gone == [days[0].isoformat()]
    assert state_labels(spark, state) == sorted(
        d.isoformat() for d in days[-2:])
    with _pytest.raises(ValueError, match="keep_last"):
        expire_state_labels(spark, state, keep_last=0)
    with _pytest.raises(FileNotFoundError):
        read_window_state(spark, str(tmp_path / "nope"),
                          lambda *st: st[0])
    with _pytest.raises(ValueError, match="label"):
        fold_labeled_state(spark, state, "../evil", all_state)

    # compaction: merge the 2 remaining dailies into one coarse label;
    # associativity makes it lossless — the window answer is unchanged
    from polymarket_data_ingestor_spark.streaming import (
        compact_state_labels,
    )

    mfn = lambda *st: merge_rollup(*st, keys=keys)  # noqa: E731
    srcs = state_labels(spark, state)
    compact_state_labels(spark, state, srcs, "2024-01", mfn)
    assert state_labels(spark, state) == ["2024-01"]
    got_c = {
        r["event_type"]: (r["n"], r["sum_v"])
        for r in read_window_state(spark, state, mfn).collect()
    }
    assert got_c == want  # == the last-2-days direct rollup
    # sources must be committed; into_label can't be a source;
    # duplicates refuse (double-counting); a COMMITTED into-label
    # without a manifest refuses (immutability — the r11 second
    # review's silent-loss scenario: re-targeting an existing coarse
    # label must never clobber it)
    with _pytest.raises(ValueError, match="missing"):
        compact_state_labels(spark, state, ["ghost"], "x", mfn)
    with _pytest.raises(ValueError, match="sources"):
        compact_state_labels(spark, state, ["2024-01"], "2024-01", mfn)
    with _pytest.raises(ValueError, match="duplicate"):
        compact_state_labels(spark, state, ["a", "a"], "x", mfn)
    fold_labeled_state(
        spark, state, "extra",
        rollup_state(ev.filter(F.to_date("ts") == days[0]), keys,
                     "value"),
    )
    with _pytest.raises(ValueError, match="immutable"):
        compact_state_labels(spark, state, ["extra"], "2024-01", mfn)

    # crash-mid-delete RESUME: the manifest records the source set, the
    # coarse label is committed, only SOME sources were deleted — a
    # re-run finishes the deletes from the RECORDED set, not the
    # caller's argument
    import json as _json2

    state2 = str(tmp_path / "win_state2")
    for d in days[:2]:
        fold_labeled_state(
            spark, state2, d.isoformat(),
            rollup_state(ev.filter(F.to_date("ts") == d), keys, "value"),
        )
    srcs2 = state_labels(spark, state2)
    compact_done = read_window_state(spark, state2, mfn)
    fold_labeled_state(spark, state2, "2024-01x", compact_done)
    # the crashed run's manifest + one source already deleted
    import pathlib as _pl
    import shutil as _sh

    _pl.Path(f"{state2}/_compact_d=2024-01x.json").write_text(
        _json2.dumps({"labels": srcs2, "contract": None}))
    _sh.rmtree(f"{state2}/d={srcs2[0]}")
    action, removed = compact_state_labels(
        spark, state2, srcs2, "2024-01x", mfn)
    assert action == "resumed" and removed == [srcs2[1]]
    assert state_labels(spark, state2) == ["2024-01x"]
    assert not _pl.Path(f"{state2}/_compact_d=2024-01x.json").exists()
    got_r = {
        r["event_type"]: (r["n"], r["sum_v"])
        for r in read_window_state(spark, state2, mfn).collect()
    }
    want_r = {
        r["event_type"]: (r["n"], r["sum_v"])
        for r in rollup_state(
            ev.filter(F.to_date("ts").isin(days[:2])), keys, "value"
        ).collect()
    }
    assert got_r == want_r  # no double counting, nothing lost

    # crash BEFORE the coarse commit (manifest written, merge never
    # landed): resume redoes the merge from the recorded sources
    state3 = str(tmp_path / "win_state3")
    for d in days[:2]:
        fold_labeled_state(
            spark, state3, d.isoformat(),
            rollup_state(ev.filter(F.to_date("ts") == d), keys, "value"),
        )
    srcs3 = state_labels(spark, state3)
    _pl.Path(f"{state3}/_compact_d=m.json").write_text(
        _json2.dumps({"labels": srcs3, "contract": None}))
    # the resume must be THE SAME compaction (r11 third review):
    # different labels, or a different stat/keys contract, refuse —
    # a mistyped re-run must never re-merge wrongly and then delete
    with _pytest.raises(ValueError, match="DIFFERENT recorded"):
        compact_state_labels(spark, state3, srcs3[:1], "m", mfn)
    with _pytest.raises(ValueError, match="contract"):
        compact_state_labels(spark, state3, srcs3, "m", mfn,
                             contract="summary/other_keys")
    action3, removed3 = compact_state_labels(
        spark, state3, srcs3, "m", mfn)
    assert action3 == "resumed" and sorted(removed3) == srcs3
    assert state_labels(spark, state3) == ["m"]
    got3 = {
        r["event_type"]: (r["n"], r["sum_v"])
        for r in read_window_state(spark, state3, mfn).collect()
    }
    assert got3 == want_r

    # recorded source expired before the coarse commit: clear refusal,
    # not an AnalysisException traceback
    state4 = str(tmp_path / "win_state4")
    for d in days[:2]:
        fold_labeled_state(
            spark, state4, d.isoformat(),
            rollup_state(ev.filter(F.to_date("ts") == d), keys, "value"),
        )
    srcs4 = state_labels(spark, state4)
    _pl.Path(f"{state4}/_compact_d=m4.json").write_text(
        _json2.dumps({"labels": srcs4, "contract": None}))
    _sh.rmtree(f"{state4}/d={srcs4[0]}")
    with _pytest.raises(ValueError, match="no longer committed"):
        compact_state_labels(spark, state4, srcs4, "m4", mfn)


def test_live_labeled_rollup_windows_and_crash_replay(spark, tmp_path):
    """The windowed streaming twin: each trigger's state lands under
    its zero-padded batch id (pure function of the batch — replay
    overwrites identically with NO predecessor read), window reads
    give 'last N triggers', retention trims labels."""
    import json as _json

    from polymarket_data_ingestor_spark.operators.analytics import (
        merge_rollup,
        rollup_state,
    )
    from polymarket_data_ingestor_spark.streaming import (
        live_labeled_rollup,
        read_window_state,
        state_labels,
    )

    src = tmp_path / "ll_src"
    src.mkdir()
    rows1 = [{"k": "a", "value": float(i)} for i in range(6)]
    rows2 = [{"k": "a", "value": float(10 + i)} for i in range(4)]
    (src / "b1.json").write_text(
        "\n".join(_json.dumps(r) for r in rows1) + "\n")

    def run():
        q = live_labeled_rollup(
            spark.readStream.schema("k string, value double")
            .json(str(src)),
            str(tmp_path / "ll_state"), str(tmp_path / "ll_ckpt"),
            state_fn=lambda b: rollup_state(b, ("k",), "value"),
            retain_labels=10, available_now=True,
        )
        q.awaitTermination(300)

    run()
    (src / "b2.json").write_text(
        "\n".join(_json.dumps(r) for r in rows2) + "\n")
    run()
    state = str(tmp_path / "ll_state")
    labels = state_labels(spark, state)
    assert len(labels) == 2 and labels == sorted(labels)

    mfn = lambda *st: merge_rollup(*st, keys=("k",))  # noqa: E731
    # last trigger only == batch-2 rollup
    last1 = read_window_state(spark, state, mfn, last_n=1).collect()[0]
    assert (last1["n"], float(last1["sum_v"])) == (4, 46.0)
    # both == union rollup
    both = read_window_state(spark, state, mfn).collect()[0]
    assert (both["n"], float(both["sum_v"])) == (10, 61.0)

    # crash-replay of the last batch: the label is overwritten with
    # identical content, the window answers are unchanged
    commits = sorted((tmp_path / "ll_ckpt" / "commits").glob("[0-9]*"))
    commits[-1].unlink()
    crc = tmp_path / "ll_ckpt" / "commits" / f".{commits[-1].name}.crc"
    if crc.exists():
        crc.unlink()
    run()
    assert state_labels(spark, state) == labels
    both2 = read_window_state(spark, state, mfn).collect()[0]
    assert (both2["n"], float(both2["sum_v"])) == (10, 61.0)


def test_live_distinct_rollup_sketches_union_across_batches(
    spark, tmp_path
):
    """The generic MVCC materializer with the sketch monoid: distinct
    counts maintained across two triggers equal a one-pass exact
    count (sparse-mode HLL exactness at test cardinality)."""
    import json as _json

    from pyspark.sql import functions as F

    from polymarket_data_ingestor_spark.streaming import (
        live_distinct_rollup,
        read_rollup_state,
    )

    src = tmp_path / "d_src"
    src.mkdir()
    state = str(tmp_path / "d_state")
    ckpt = str(tmp_path / "d_ckpt")
    schema = "k string, u long"

    def run():
        q = live_distinct_rollup(
            spark.readStream.schema(schema).json(str(src)),
            state, ckpt, ("k",), "u", available_now=True,
        )
        q.awaitTermination(300)

    (src / "b1.json").write_text("\n".join(
        _json.dumps({"k": "a", "u": u}) for u in [1, 2, 3, 2]) + "\n")
    run()
    (src / "b2.json").write_text("\n".join(
        _json.dumps(r) for r in [
            {"k": "a", "u": 3}, {"k": "a", "u": 4}, {"k": "b", "u": 9},
        ]) + "\n")
    run()
    got = {
        r["k"]: r["n_distinct"]
        for r in read_rollup_state(spark, state).withColumn(
            "n_distinct", F.hll_sketch_estimate(F.col("hll"))
        ).collect()
    }
    # union across batches dedups u=3 seen in both
    assert got == {"a": 4, "b": 1}, got


def test_live_dedup_stream_cross_batch_and_replay_safe(spark, tmp_path):
    """Streaming incremental dedup: in-batch dups collapse to the min
    id, cross-batch dups are suppressed by the digest lake, and a
    genuine crash-replay does NOT suppress the replayed batch's own
    documents (the strictly-below-batch-id read)."""
    import json as _json

    from polymarket_data_ingestor_spark.streaming import live_dedup_stream

    src = tmp_path / "dd_src"
    src.mkdir()
    out = str(tmp_path / "dd_out")
    state = str(tmp_path / "dd_state")
    ckpt = str(tmp_path / "dd_ckpt")
    schema = "doc_id long, text string"

    def run():
        q = live_dedup_stream(
            spark.readStream.schema(schema).json(str(src)),
            out, state, ckpt, available_now=True,
        )
        q.awaitTermination(300)

    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in [
        {"doc_id": 1, "text": "alpha"},
        {"doc_id": 2, "text": "beta"},
        {"doc_id": 2, "text": "beta"},    # byte-identical redelivery dup
        {"doc_id": 7, "text": "alpha"},   # in-batch dup: min id 1 wins
    ]) + "\n")
    run()
    rows = spark.read.parquet(out).collect()
    assert {r["doc_id"] for r in rows} == {1, 2}, rows
    # the verbatim redelivered row collapsed to ONE physical copy
    assert len(rows) == 2, rows

    (src / "b2.json").write_text("\n".join(_json.dumps(r) for r in [
        {"doc_id": 3, "text": "gamma"},
        {"doc_id": 9, "text": "alpha"},   # cross-batch dup of doc 1
    ]) + "\n")
    run()
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {1, 2, 3}, got

    # crash-replay of batch 1: delete the last commit marker; the
    # replay must NOT treat doc 3 as a duplicate of its own digest
    commits = sorted((Path(ckpt) / "commits").glob("[0-9]*"))
    commits[-1].unlink()
    crc = Path(ckpt) / "commits" / f".{commits[-1].name}.crc"
    if crc.exists():
        crc.unlink()
    run()
    got = sorted(
        (r["doc_id"], r["text"]) for r in spark.read.parquet(out).collect()
    )
    assert got == [(1, "alpha"), (2, "beta"), (3, "gamma")], got


def test_live_dedup_stream_bloom_front_identical_and_replay_safe(
    spark, tmp_path
):
    """The bloom-fronted dedup path is OUTPUT-IDENTICAL to the exact
    path (no false negatives by construction; positives resolved by
    the exact anti-join over candidates only), survives the genuine
    crash-replay, refuses a geometry change, and the bloom kernel
    itself never false-negatives a planted member."""
    import json as _json

    from pyspark.sql import functions as F

    from polymarket_data_ingestor_spark.streaming import (
        live_dedup_stream,
    )
    from polymarket_data_ingestor_spark.streaming.live import (
        _bloom_from_digests,
        _bloom_hash_cols,
        _bloom_might_contain,
    )

    # kernel: every inserted digest must test positive (no false negs)
    digests = spark.range(0, 500).select(
        F.md5(F.col("id").cast("string")).alias("__digest")
    )
    m = 1 << 13
    bits = _bloom_from_digests(digests, m)
    hit_col, hit_bc = _bloom_might_contain(spark, bits, m)
    hit = digests.select(*_bloom_hash_cols()).withColumn(
        "__maybe", hit_col
    )
    assert hit.filter(~F.col("__maybe")).count() == 0
    # and the filter genuinely rejects most non-members at this fill
    miss_col, miss_bc = _bloom_might_contain(spark, bits, m)
    miss = spark.range(10_000, 11_000).select(
        F.md5(F.col("id").cast("string")).alias("__digest")
    ).select(*_bloom_hash_cols()).withColumn(
        "__maybe", miss_col
    )
    assert miss.filter(F.col("__maybe")).count() < 500  # << all
    # empty digest frame: the treeReduce fold degrades to all-zeros,
    # not a crash (every partial yields nothing)
    empty_bits = _bloom_from_digests(digests.limit(0), m)
    assert empty_bits == b"\x00" * (m // 8)
    hit_bc.unpersist()
    miss_bc.unpersist()

    # geometry advisor: the math pins to the 4-hash closed form, and a
    # bloom BUILT at the advised geometry empirically meets the target
    # (2x slack: one 5k-probe sample of a ~5% process)
    import math

    from polymarket_data_ingestor_spark.streaming import bloom_geometry

    n = 2_000
    m_adv = bloom_geometry(n, 0.05)
    want = -4.0 * n / math.log(1.0 - 0.05 ** 0.25)
    assert want <= m_adv <= want + 8 and m_adv % 8 == 0
    adv_digests = spark.range(0, n).select(
        F.md5(F.col("id").cast("string")).alias("__digest")
    )
    adv_bits = _bloom_from_digests(adv_digests, m_adv)
    probe_col, probe_bc = _bloom_might_contain(spark, adv_bits, m_adv)
    fp = spark.range(100_000, 105_000).select(
        F.md5(F.col("id").cast("string")).alias("__digest")
    ).select(*_bloom_hash_cols()).withColumn("__maybe", probe_col)
    assert fp.filter(F.col("__maybe")).count() <= 0.10 * 5_000
    probe_bc.unpersist()
    import pytest as _pytest

    with _pytest.raises(ValueError, match="fp_rate"):
        bloom_geometry(10, 1.5)
    with _pytest.raises(ValueError, match="expected_digests"):
        bloom_geometry(0)

    src = tmp_path / "bl_src"
    src.mkdir()
    batches = [
        [{"doc_id": 1, "text": "alpha"}, {"doc_id": 2, "text": "beta"},
         {"doc_id": 7, "text": "alpha"}],
        [{"doc_id": 3, "text": "gamma"}, {"doc_id": 9, "text": "alpha"},
         {"doc_id": 4, "text": "delta"}],
        [{"doc_id": 5, "text": "beta"}, {"doc_id": 6, "text": "epsilon"}],
    ]

    def run(tag, bloom_bits):
        out = str(tmp_path / f"{tag}_out")
        q = live_dedup_stream(
            spark.readStream.schema("doc_id long, text string")
            .json(str(src)),
            out, str(tmp_path / f"{tag}_state"),
            str(tmp_path / f"{tag}_ckpt"),
            available_now=True, bloom_bits=bloom_bits,
        )
        q.awaitTermination(300)
        return out

    for i, rows in enumerate(batches):
        (src / f"b{i}.json").write_text(
            "\n".join(_json.dumps(r) for r in rows) + "\n")
        out_e = run("exact", None)
        out_b = run("bloom", 1 << 13)
        got_e = sorted(
            (r["doc_id"], r["text"])
            for r in spark.read.parquet(out_e).collect()
        )
        got_b = sorted(
            (r["doc_id"], r["text"])
            for r in spark.read.parquet(out_b).collect()
        )
        assert got_b == got_e, (i, got_b, got_e)
    assert got_b == [(1, "alpha"), (2, "beta"), (3, "gamma"),
                     (4, "delta"), (6, "epsilon")], got_b

    # genuine crash-replay on the bloom path: last commit marker gone
    ckpt = tmp_path / "bloom_ckpt"
    commits = sorted((ckpt / "commits").glob("[0-9]*"))
    commits[-1].unlink()
    crc = ckpt / "commits" / f".{commits[-1].name}.crc"
    if crc.exists():
        crc.unlink()
    out_b = run("bloom", 1 << 13)
    got_b = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(out_b).collect()
    )
    assert got_b == got_e, got_b

    # geometry is a contract: a different m_bits refuses loudly
    (src / "b9.json").write_text(
        _json.dumps({"doc_id": 99, "text": "zeta"}) + "\n")
    import pyspark.errors as _errs
    import pytest as _pytest

    with _pytest.raises(
        _errs.exceptions.captured.StreamingQueryException,
        match="geometry is a contract",
    ):
        q = live_dedup_stream(
            spark.readStream.schema("doc_id long, text string")
            .json(str(src)),
            str(tmp_path / "bloom_out"),
            str(tmp_path / "bloom_state"),
            str(tmp_path / "bloom_ckpt"),
            available_now=True, bloom_bits=1 << 14,
        )
        q.awaitTermination(300)

    # cumulative-bloom GC floor: predecessor retained, older dropped
    bloom_dirs = sorted(
        int(p.name.split("=")[1])
        for p in (tmp_path / "bloom_state_bloom").glob("b=*")
    )
    assert len(bloom_dirs) <= 2 and len(bloom_dirs) >= 1, bloom_dirs

    with _pytest.raises(ValueError, match="multiple of 8"):
        live_dedup_stream(
            spark.readStream.schema("doc_id long, text string")
            .json(str(src)),
            "x", "y", "z", bloom_bits=100,
        )


def test_live_dedup_bloom_covers_exact_mode_interlude(spark, tmp_path):
    """A bloom lake that LAGS the digest lake — the stream ran with
    bloom_bits=None between bloom-enabled runs — must not false-
    negative the interlude's digests: the stored bloom covers only
    b <= its own id, so the uncovered gap partitions are folded in
    (and land in the next cumulative row, read-once). Without the
    fold, duplicates of interlude documents sail through as
    'definitely new' forever (found in the r10 review)."""
    import json as _json

    from polymarket_data_ingestor_spark.streaming import (
        live_dedup_stream,
    )

    src = tmp_path / "il_src"
    src.mkdir()
    out = str(tmp_path / "il_out")

    def run(bloom):
        q = live_dedup_stream(
            spark.readStream.schema("doc_id long, text string")
            .json(str(src)),
            out, str(tmp_path / "il_state"), str(tmp_path / "il_ckpt"),
            available_now=True, bloom_bits=bloom,
        )
        q.awaitTermination(300)

    # batch 0 with bloom ON
    (src / "b0.json").write_text(
        _json.dumps({"doc_id": 1, "text": "alpha"}) + "\n")
    run(1 << 13)
    # batch 1 with bloom OFF (exact interlude): digest lake advances,
    # bloom lake stays at b=0
    (src / "b1.json").write_text(
        _json.dumps({"doc_id": 2, "text": "beta"}) + "\n")
    run(None)
    # batch 2 with bloom ON again: a duplicate of the INTERLUDE doc
    (src / "b2.json").write_text("\n".join(_json.dumps(r) for r in [
        {"doc_id": 3, "text": "beta"},    # dup of the uncovered batch 1
        {"doc_id": 4, "text": "gamma"},
    ]) + "\n")
    run(1 << 13)
    got = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == [(1, "alpha"), (2, "beta"), (4, "gamma")], got

    # and batch 3 probes the CUMULATIVE row: the gap fold must have
    # landed in b=2's bloom, so another interlude dup is still caught;
    # it also carries a NULL-text row, whose sentinel digest is
    # non-hex — the bloom hash slices must coalesce (a NaN->int64
    # numpy cast is undefined) and the row must dedup like any other
    (src / "b3.json").write_text("\n".join(_json.dumps(r) for r in [
        {"doc_id": 5, "text": "beta"},
        {"doc_id": 6, "text": None},
        {"doc_id": 7, "text": None},   # in-batch dup of the null group
    ]) + "\n")
    run(1 << 13)
    got = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == [(1, "alpha"), (2, "beta"), (4, "gamma"),
                   (6, None)], got
    # a LATER null-text arrival is a cross-batch dup caught via the
    # bloom (its sentinel digest went into b=3's cumulative row)
    (src / "b4.json").write_text(
        _json.dumps({"doc_id": 8, "text": None}) + "\n")
    run(1 << 13)
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 4, 6], got


def test_live_dedup_bloom_covers_bootstrap_and_exact_history(
    spark, tmp_path
):
    """A digest lake that predates the bloom must still suppress its
    duplicates on the bloom path: batch 0 over a bootstrap_dedup_state
    seed (b=-1, no bloom row) migrates the lake into the bloom once,
    and the NEXT batch's bloom must cover the bootstrap digests too
    (the migration folds into the cumulative row — without the fold,
    historical dupes would sail through every later batch as
    'definitely new')."""
    import json as _json

    from polymarket_data_ingestor_spark.streaming import (
        bootstrap_dedup_state,
        live_dedup_stream,
    )

    state = str(tmp_path / "bb_state")
    corpus = spark.createDataFrame(
        [(100 + i, f"seed-{i}") for i in range(10)],
        "doc_id long, text string",
    )
    assert bootstrap_dedup_state(corpus, state) == 10

    src = tmp_path / "bb_src"
    src.mkdir()
    out = str(tmp_path / "bb_out")

    def run():
        q = live_dedup_stream(
            spark.readStream.schema("doc_id long, text string")
            .json(str(src)),
            out, state, str(tmp_path / "bb_ckpt"),
            available_now=True, bloom_bits=1 << 13,
        )
        q.awaitTermination(300)

    # batch 0: one historical dup + one new doc; no bloom row yet
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in [
        {"doc_id": 1, "text": "seed-3"},   # dup of the bootstrap corpus
        {"doc_id": 2, "text": "fresh-a"},
    ]) + "\n")
    run()
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {2}, got

    # batch 1: another historical dup — the cumulative bloom must
    # cover the bootstrap digests (migration fold), not just batch 0's
    (src / "b2.json").write_text("\n".join(_json.dumps(r) for r in [
        {"doc_id": 3, "text": "seed-7"},   # dup of the bootstrap corpus
        {"doc_id": 4, "text": "fresh-b"},
    ]) + "\n")
    run()
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {2, 4}, got

    # RE-bootstrap over the bloom-fronted lake: bootstrap must
    # invalidate the bloom cache (delete <state>_bloom), or the new
    # corpus digests — written to the already-"covered" b=-1 — would
    # false-negative forever
    corpus2 = spark.createDataFrame(
        [(200 + i, f"seed2-{i}") for i in range(5)],
        "doc_id long, text string",
    )
    assert bootstrap_dedup_state(corpus2, state) == 5
    assert not (tmp_path / "bb_state_bloom").exists()  # cache wiped
    (src / "b3.json").write_text("\n".join(_json.dumps(r) for r in [
        {"doc_id": 5, "text": "seed2-2"},  # dup of the NEW corpus
        {"doc_id": 6, "text": "fresh-c"},
    ]) + "\n")
    run()
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {2, 4, 6}, got


def test_live_cusum_matches_batch_across_restart(spark, tmp_path):
    """Streaming CUSUM over an in-order availableNow drain must be
    bit-identical to the batch operator — including when the stream is
    split across two runs sharing a checkpoint (per-key state, two
    doubles, survives the restart)."""
    import json as _json

    from polymarket_data_ingestor_spark.operators.analytics import cusum
    from polymarket_data_ingestor_spark.streaming import live_cusum

    src = tmp_path / "cs"
    src.mkdir()
    out = str(tmp_path / "cs_out")
    ckpt = str(tmp_path / "cs_ckpt")
    schema = "event_id long, user_id long, ts timestamp, value double"

    def emit(name, rows):
        (src / name).write_text(
            "\n".join(_json.dumps(r) for r in rows) + "\n"
        )

    def run():
        q = (
            live_cusum(
                spark.readStream.schema(schema).json(str(src)),
                target=25.0, slack=0.5, threshold=30.0,
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(300), "drain timed out"
        finally:
            q.stop()

    all_rows = [
        {"event_id": i, "user_id": 100 + (i % 3),
         "ts": f"2024-04-01T00:{i:02d}:00", "value": float((i * 7) % 50)}
        for i in range(20)
    ]
    emit("b1.json", all_rows[:12])
    run()
    emit("b2.json", all_rows[12:])  # restart continues from state
    run()

    got = {
        r["event_id"]: (r["s_hi"], r["s_lo"], r["alarm"])
        for r in spark.read.parquet(out).collect()
    }
    batch_df = spark.createDataFrame(
        [(r["event_id"], r["user_id"],
          datetime.fromisoformat(r["ts"]), r["value"])
         for r in all_rows], schema
    )
    want = {
        r["event_id"]: (r["s_hi"], r["s_lo"], r["alarm"])
        for r in cusum(
            batch_df, target=25.0, slack=0.5, threshold=30.0
        ).collect()
    }
    assert got == want and len(got) == 20
    assert any(a for _, _, a in got.values())  # the drift actually fired


def test_bootstrap_dedup_state_suppresses_historical_dupes(
    spark, tmp_path
):
    """Seeding the digest lake from an existing corpus makes the very
    first stream batch dedup against history; replay safety is
    untouched (bootstrap sits at b=-1, strictly below batch 0)."""
    import json as _json

    from polymarket_data_ingestor_spark.streaming import (
        bootstrap_dedup_state,
        live_dedup_stream,
    )

    corpus = spark.createDataFrame(
        [(100, "alpha"), (101, "beta")], "doc_id long, text string"
    )
    state = str(tmp_path / "bs_state")
    n = bootstrap_dedup_state(corpus, state)
    assert n == 2

    src = tmp_path / "bs_src"
    src.mkdir()
    out = str(tmp_path / "bs_out")
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in [
        {"doc_id": 1, "text": "alpha"},   # historical dup -> dropped
        {"doc_id": 2, "text": "gamma"},   # new -> kept
    ]) + "\n")
    q = live_dedup_stream(
        spark.readStream.schema("doc_id long, text string").json(str(src)),
        out, state, str(tmp_path / "bs_ckpt"), available_now=True,
    )
    q.awaitTermination(300)
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got == {2}, got


def test_live_dq_check_blocks_bad_batch_until_fixed(spark, tmp_path):
    """Streaming DQ gate: a violating micro-batch fails the query
    BEFORE its checkpoint commit, so nothing bad is marked consumed;
    after upstream repair (here: relaxed rules) a restart re-processes
    the same batch; reports append per batch."""
    import json as _json

    import pyspark.errors as _errs

    from polymarket_data_ingestor_spark.streaming import live_dq_check

    src = tmp_path / "dq_src"
    src.mkdir()
    ckpt = str(tmp_path / "dq_ckpt")
    rep = str(tmp_path / "dq_rep")
    schema = "k long, v double"

    def run(rules):
        q = live_dq_check(
            spark.readStream.schema(schema).json(str(src)),
            ckpt, rules, report_path=rep, available_now=True,
        )
        q.awaitTermination(300)

    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in [
        {"k": 1, "v": 5.0}, {"k": 2, "v": -3.0},
    ]) + "\n")
    import pytest as _pytest

    with _pytest.raises(
        _errs.exceptions.captured.StreamingQueryException,
        match=r"v\.min=1",
    ):
        run({"v": {"min": 0.0}})

    # the failed batch was NOT consumed: a rules fix re-processes it
    run({"v": {"min": -10.0}})
    reports = spark.read.parquet(rep).collect()
    # first (failed) attempt appended its report too — the audit trail
    # shows the violation, then the clean re-run
    by_attempt = sorted(
        (r["violations"] for r in reports if r["rule"] == "min")
    )
    assert by_attempt == [0, 1], by_attempt

    with _pytest.raises(ValueError, match="observe nothing"):
        live_dq_check(
            spark.readStream.schema(schema).json(str(src)),
            ckpt, {"v": {"min": 0}}, report_path=None,
            fail_on_violation=False,
        )


def test_live_dq_split_quarantines_per_batch(spark, tmp_path):
    """Streaming quarantine split: clean rows keep flowing while
    violating rows park per batch with their routing labels — the
    ingest-side complement of the live_dq_check publish gate (which
    blocks the whole batch)."""
    import json as _json

    from polymarket_data_ingestor_spark.streaming import live_dq_split

    src = tmp_path / "sp_src"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in [
        {"k": 1, "v": 5.0}, {"k": 2, "v": -3.0}, {"k": 3, "v": None},
    ]) + "\n")
    q = live_dq_split(
        spark.readStream.schema("k long, v double").json(str(src)),
        str(tmp_path / "sp_clean"), str(tmp_path / "sp_bad"),
        str(tmp_path / "sp_ckpt"),
        {"v": {"min": 0.0, "not_null": True}},
        available_now=True,
    )
    q.awaitTermination(300)
    clean = spark.read.parquet(str(tmp_path / "sp_clean")).collect()
    bad = spark.read.parquet(str(tmp_path / "sp_bad")).collect()
    assert [r["k"] for r in clean] == [1]
    # same array<string> shape as the batch dq_split (a repair queue
    # written against one contract reads both)
    assert {r["k"]: list(r["dq_failed"]) for r in bad} == {
        2: ["v.min"], 3: ["v.not_null"],
    }


def test_live_dq_check_single_aggregate_per_batch(
    spark, tmp_path, monkeypatch
):
    """The gated + audited configuration aggregates each micro-batch
    ONCE: the report is collected, the audit write is rebuilt from the
    collected rows, and the gate decides from the same rows — through
    round 9 this path called dq_check (a full aggregate scan) twice
    per batch, and over a nondeterministic source the persisted report
    and the raise could disagree."""
    import json as _json

    from polymarket_data_ingestor_spark.operators import analytics as A
    from polymarket_data_ingestor_spark.streaming import live_dq_check

    calls = []
    real = A.dq_check

    def counting(*args, **kwargs):
        calls.append(kwargs)
        return real(*args, **kwargs)

    monkeypatch.setattr(A, "dq_check", counting)

    src = tmp_path / "dq1_src"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in [
        {"k": 1, "v": 5.0}, {"k": 2, "v": 3.0},
    ]) + "\n")
    q = live_dq_check(
        spark.readStream.schema("k long, v double").json(str(src)),
        str(tmp_path / "dq1_ckpt"),
        # a cross-column `check` rule composes through the streaming
        # gate unchanged (rules pass through to the batch dq_check)
        {"v": {"min": 0.0, "not_null": True, "check": "v >= k"}},
        report_path=str(tmp_path / "dq1_rep"),
        fail_on_violation=True,
        available_now=True,
    )
    q.awaitTermination(300)
    assert len(calls) == 1, calls  # one aggregate build for the batch
    # never the raise_on_violation re-run (that was the second scan)
    assert not any(k.get("raise_on_violation") for k in calls), calls
    reports = spark.read.parquet(str(tmp_path / "dq1_rep")).collect()
    assert {r["rule"] for r in reports} == {"min", "not_null", "check"}
    assert all(r["violations"] == 0 and r["n_rows"] == 2 for r in reports)


def test_live_linreg_rollup_maintained_and_crash_replay(spark, tmp_path):
    """The r12 OLS monoid through the MVCC materializer: maintained
    slope/intercept/R² are bit-identical to a one-pass batch build
    over the union (exact decimal sums), and a crash-replay of the
    last batch changes nothing."""
    import json as _json

    from polymarket_data_ingestor_spark.operators.analytics import (
        finalize_linreg_rollup,
        linreg_rollup_state,
    )
    from polymarket_data_ingestor_spark.streaming import (
        live_linreg_rollup,
        read_rollup_state,
    )

    src = tmp_path / "lr_src"
    src.mkdir()
    rows1 = [{"k": "m", "x": float(i), "y": 2.0 * i + 1.0 + (i % 3)}
             for i in range(12)]
    rows2 = [{"k": "m", "x": float(20 + i), "y": 45.0 - 0.5 * i}
             for i in range(8)]
    (src / "b1.json").write_text(
        "\n".join(_json.dumps(r) for r in rows1) + "\n")

    def run():
        q = live_linreg_rollup(
            spark.readStream.schema("k string, x double, y double")
            .json(str(src)),
            str(tmp_path / "lr_state"), str(tmp_path / "lr_ckpt"),
            ("k",), "x", "y", available_now=True,
        )
        q.awaitTermination(300)

    run()
    (src / "b2.json").write_text(
        "\n".join(_json.dumps(r) for r in rows2) + "\n")
    run()

    union = spark.createDataFrame(
        rows1 + rows2, "k string, x double, y double")
    want = [r.asDict() for r in finalize_linreg_rollup(
        linreg_rollup_state(union, ("k",), "x", "y")).collect()]

    def got():
        return [r.asDict() for r in finalize_linreg_rollup(
            read_rollup_state(spark, str(tmp_path / "lr_state"))
        ).collect()]

    assert got() == want  # bit-identical, not approx

    # crash-replay: delete the last commit marker (+ crc) and re-run
    commits = sorted((tmp_path / "lr_ckpt" / "commits").glob("[0-9]*"))
    commits[-1].unlink()
    crc = tmp_path / "lr_ckpt" / "commits" / f".{commits[-1].name}.crc"
    if crc.exists():
        crc.unlink()
    run()
    assert got() == want  # replay overwrote v=N identically


def test_live_corr_rollup_maintained_and_crash_replay(spark, tmp_path):
    """The r12 correlation monoid through the MVCC materializer:
    maintained pairwise corr/covar are bit-identical to a one-pass
    batch build over the union, and a crash-replay of the last batch
    changes nothing."""
    import json as _json

    from polymarket_data_ingestor_spark.operators.analytics import (
        corr_rollup_state,
        finalize_corr_rollup,
    )
    from polymarket_data_ingestor_spark.streaming import (
        live_corr_rollup,
        read_rollup_state,
    )

    src = tmp_path / "cr_src"
    src.mkdir()
    rows1 = [{"k": "s", "a": float(i), "b": 2.0 * i + (i % 3)}
             for i in range(10)]
    rows2 = [{"k": "s", "a": float(10 + i), "b": 30.0 - i}
             for i in range(6)]
    (src / "b1.json").write_text(
        "\n".join(_json.dumps(r) for r in rows1) + "\n")

    def run():
        q = live_corr_rollup(
            spark.readStream.schema("k string, a double, b double")
            .json(str(src)),
            str(tmp_path / "cr_state"), str(tmp_path / "cr_ckpt"),
            ("k",), ("a", "b"), available_now=True,
        )
        q.awaitTermination(300)

    run()
    (src / "b2.json").write_text(
        "\n".join(_json.dumps(r) for r in rows2) + "\n")
    run()

    union = spark.createDataFrame(
        rows1 + rows2, "k string, a double, b double")
    want = [r.asDict() for r in finalize_corr_rollup(
        corr_rollup_state(union, ("k",), ("a", "b")),
        ("a", "b")).collect()]

    def got():
        return [r.asDict() for r in finalize_corr_rollup(
            read_rollup_state(spark, str(tmp_path / "cr_state")),
            ("a", "b")).collect()]

    assert got() == want  # bit-identical

    commits = sorted((tmp_path / "cr_ckpt" / "commits").glob("[0-9]*"))
    commits[-1].unlink()
    crc = tmp_path / "cr_ckpt" / "commits" / f".{commits[-1].name}.crc"
    if crc.exists():
        crc.unlink()
    run()
    assert got() == want


# ---------------------------------------------------------------------------
# r13 session-2 review fixes (streaming/live.py)
# ---------------------------------------------------------------------------

def test_write_frames_stream_seq_orders_a_split_source_file(
    spark, tmp_path
):
    """A source file read by several scan tasks in one micro-batch still
    gets one ``seq`` per line in line order: the sink numbers the batch's
    rows in one partition, so the counter does not restart at 0 in each
    split of the file and tie lines of one hour."""
    from polymarket_data_ingestor_spark.sources.frames import read_frames
    from polymarket_data_ingestor_spark.streaming.live import (
        write_frames_stream,
    )

    src = tmp_path / "flat"
    write_fixture_files(src, n_hours=1, msgs_per_hour=200, seed=23)
    flat = sorted(src.glob("*.jsonl"))
    stream = spark.readStream.schema(
        "timestamp string, message_type string, content string"
    ).json(str(src) + "/*.jsonl")
    lake = tmp_path / "frame_lake"
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024))
    try:
        assert spark.read.text([str(p) for p in flat]) \
            .rdd.getNumPartitions() >= 3
        q = write_frames_stream(
            stream, str(lake), str(tmp_path / "ckpt"), compression="none"
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    back = read_frames(spark, str(lake))
    n_lines = sum(len(p.read_text().splitlines()) for p in flat)
    assert back.select("line_id").distinct().count() == n_lines
    got = replay(back, in_log_order=True, ticks_only=False)
    assert [tuple(r) for r in got.select(*TICK_COLUMNS).collect()] \
        == naive_replay(flat)


def test_write_frames_stream_roundtrip_preserves_replay_order(
    spark, tmp_path
):
    """Frames written by the STREAMING sink (hour=<hour>/part-* layout)
    must read back with the same file_hour ordering key as
    collector-written flat files — before the fix the partition layout
    never matched _FILE_HOUR_RE, file_hour was '' for every row, and
    batch replay silently lost its cross-hour ordering (review
    finding). Also pins the UTC hour key: the value is sliced from the
    RFC3339 UTC timestamp, not date_format'd in the session timezone."""
    from polymarket_data_ingestor_spark.sources.frames import read_frames
    from polymarket_data_ingestor_spark.streaming.live import (
        write_frames_stream,
    )

    src = tmp_path / "flat"
    write_fixture_files(src, n_hours=2, msgs_per_hour=40, seed=21)
    stream = (
        spark.readStream.schema(
            "timestamp string, message_type string, content string"
        ).json(str(src) + "/*.jsonl")
    )
    lake = tmp_path / "frame_lake"
    q = write_frames_stream(
        stream, str(lake), str(tmp_path / "ckpt"), compression="none"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    back = read_frames(spark, str(lake))
    hours = sorted(
        r["file_hour"]
        for r in back.select("file_hour").distinct().collect()
    )
    flat_hours = sorted(p.stem for p in Path(src).glob("*.jsonl"))
    assert hours == flat_hours, (hours, flat_hours)
    # and replay over the streamed lake == replay over the flat files
    flat_ticks = replay(spark, sorted(str(p) for p in
                                      Path(src).glob("*.jsonl")))
    lake_ticks = replay(back)
    a = sorted(map(tuple, flat_ticks.collect()))
    b = sorted(map(tuple, lake_ticks.collect()))
    assert a == b and len(a) > 0


def test_window_state_and_rollup_listing_guards(spark, tmp_path):
    """read_window_state refuses last_n < 1 (labels[-0:] would merge
    the WHOLE history); _rollup_versions ignores non-numeric stray
    dirs instead of a permanent ValueError (review findings)."""
    from polymarket_data_ingestor_spark.streaming.live import (
        _rollup_versions,
        read_window_state,
    )

    with pytest.raises(ValueError, match="last_n must be >= 1"):
        read_window_state(
            spark, str(tmp_path / "s"), lambda df: df, last_n=0
        )
    state = tmp_path / "roll"
    for v in ("v=1", "v=tmp", "v=-3"):
        d = state / v
        d.mkdir(parents=True)
        (d / "_SUCCESS").write_text("")
    assert _rollup_versions(spark, str(state)) == [-3, 1]


def test_frame_writer_same_hour_restart_concatenates(tmp_path):
    """A restart WITHIN an hour must not destroy the hour's earlier
    rotated segment: rotation concatenates onto an existing same-name
    file (valid for JSONL and gzip members alike) and merges the
    sidecar counts (review finding: Path.rename silently REPLACED the
    file, with a matching manifest hiding the loss)."""
    from polymarket_data_ingestor_spark import manifest as _manifest

    clock = {"now": datetime(2025, 9, 30, 14, 10, 0, tzinfo=timezone.utc)}
    book = json.dumps([{"event_type": "book", "asset_id": "a1"}])

    w1 = FrameWriter(tmp_path, markets=make_markets(),
                     now=lambda: clock["now"])
    w1.handle_message(book)
    w1.shutdown()  # rotates 2025-09-30-14.jsonl (segment 1)
    target = tmp_path / "2025-09-30-14.jsonl"
    seg1_lines = target.read_text().splitlines()

    clock["now"] += timedelta(minutes=5)  # restart, SAME hour
    w2 = FrameWriter(tmp_path, markets=make_markets(),
                     now=lambda: clock["now"])
    w2.handle_message(book)
    w2.handle_message(book)
    w2.shutdown()

    lines = target.read_text().splitlines()
    assert lines[: len(seg1_lines)] == seg1_lines  # segment 1 intact
    assert len(lines) > len(seg1_lines)
    # merged sidecar covers the WHOLE concatenated file
    counts = _manifest.read_manifest_counts(target)
    assert counts is not None
    raw = {}
    for ln in lines:
        _manifest.count_book_assets(ln, raw)
    assert counts == raw


def test_frame_writer_torn_concat_recovery_no_duplicates(tmp_path):
    """A crash AFTER the same-hour concat's copy but BEFORE the
    ``current/`` unlink must not duplicate the copied frames on
    restart (r13 advisor: the restart re-counted AND re-concatenated
    them, with a counts-matching sidecar hiding the duplication).
    The ``.merging`` offset marker makes the concat idempotent:
    recovery truncates the hour file back to its pre-append size and
    the intact ``current/`` segment merges exactly once at the next
    rotation."""
    from polymarket_data_ingestor_spark import manifest as _manifest

    clock = {"now": datetime(2025, 9, 30, 14, 10, 0, tzinfo=timezone.utc)}
    book = json.dumps([{"event_type": "book", "asset_id": "a1"}])

    w1 = FrameWriter(tmp_path, markets=make_markets(),
                     now=lambda: clock["now"])
    w1.handle_message(book)
    w1.shutdown()  # rotates 2025-09-30-14.jsonl (segment 1)
    target = tmp_path / "2025-09-30-14.jsonl"
    seg1 = target.read_bytes()

    # hand-build the crash state: current/ holds segment 2, the hour
    # file already has it appended, the marker records the pre-append
    # offset, and the unlink never ran
    seg2 = (
        json.dumps({
            "timestamp": "2025-09-30T14:15:00+00:00",
            "message_type": "feed_message",
            "content": json.dumps([{"event_type": "book",
                                    "asset_id": "a2"}]),
        })
        + "\n"
    ).encode()
    cur = tmp_path / "current" / "log.jsonl"
    cur.write_bytes(seg2)
    target.write_bytes(seg1 + seg2)
    marker = tmp_path / "2025-09-30-14.jsonl.merging"
    marker.write_text(str(len(seg1)))

    clock["now"] += timedelta(minutes=10)  # restart, SAME hour
    w2 = FrameWriter(tmp_path, markets=make_markets(),
                     now=lambda: clock["now"])
    # recovery undid the half-finished append before anything else
    assert not marker.exists()
    assert target.read_bytes() == seg1
    w2.handle_message(book)
    w2.shutdown()

    lines = target.read_text().splitlines()
    assert lines[: seg1.count(b"\n")] == seg1.decode().splitlines()
    # segment 2 merged exactly ONCE (the asset id is quote-escaped
    # inside the double-encoded content string)
    assert sum(1 for ln in lines if "a2" in ln) == 1
    counts = _manifest.read_manifest_counts(target)
    raw: dict = {}
    for ln in lines:
        _manifest.count_book_assets(ln, raw)
    assert counts == raw


def test_frame_writer_completed_concat_marker_cleanup(tmp_path):
    """The other crash window — marker present but ``current/`` gone
    (the append completed; only the marker removal was lost) — must
    leave the hour file UNTOUCHED and just clear the marker."""
    clock = {"now": datetime(2025, 9, 30, 14, 10, 0, tzinfo=timezone.utc)}
    w1 = FrameWriter(tmp_path, markets=make_markets(),
                     now=lambda: clock["now"])
    w1.handle_message(json.dumps([{"event_type": "book",
                                   "asset_id": "a1"}]))
    w1.shutdown()
    target = tmp_path / "2025-09-30-14.jsonl"
    content = target.read_bytes()
    marker = tmp_path / "2025-09-30-14.jsonl.merging"
    marker.write_text("3")  # stale offset from a completed concat
    (tmp_path / "2025-09-30-14.jsonl.merging.tmp").write_text("")

    FrameWriter(tmp_path, markets=make_markets(),
                now=lambda: clock["now"])
    assert not marker.exists()
    assert not (tmp_path / "2025-09-30-14.jsonl.merging.tmp").exists()
    assert target.read_bytes() == content


def test_frame_writer_corrupt_concat_marker_quarantined(tmp_path):
    """A marker the protocol cannot produce (non-int content, or an
    offset beyond the file) must be QUARANTINED, never guessed at: no
    truncate (an over-large offset would zero-extend), sidecar dropped
    so the gate scans honestly, and the writer keeps working instead
    of crash-looping on every restart."""
    clock = {"now": datetime(2025, 9, 30, 14, 10, 0, tzinfo=timezone.utc)}
    w1 = FrameWriter(tmp_path, markets=make_markets(),
                     now=lambda: clock["now"])
    w1.handle_message(json.dumps([{"event_type": "book",
                                   "asset_id": "a1"}]))
    w1.shutdown()
    target = tmp_path / "2025-09-30-14.jsonl"
    content = target.read_bytes()
    (tmp_path / "current" / "log.jsonl").write_text("x\n")
    marker = tmp_path / "2025-09-30-14.jsonl.merging"
    for bad in ("not-an-int", str(len(content) + 999)):
        marker.write_text(bad)
        FrameWriter(tmp_path, markets=make_markets(),
                    now=lambda: clock["now"])
        assert not marker.exists()
        corrupt = tmp_path / "2025-09-30-14.jsonl.merging.corrupt"
        assert corrupt.exists()
        assert target.read_bytes() == content  # untouched, not extended
        from polymarket_data_ingestor_spark import manifest as _mf

        assert _mf.read_manifest_counts(target) is None  # gate scans
        corrupt.unlink()


def test_frame_writer_gzip_torn_tail_moved_aside(tmp_path):
    """A truncated gzip member left by a crash must be moved ASIDE,
    never appended to: every reader stops at the corrupt member, so
    appending would make ALL post-restart frames unreadable (review
    finding)."""
    import gzip as _gzip

    cur = tmp_path / "current"
    cur.mkdir(parents=True, exist_ok=True)
    torn = cur / "log.jsonl.gz"
    blob = _gzip.compress(b'{"timestamp":"t","message_type":"m"}\n')
    torn.write_bytes(blob[: len(blob) - 6])  # truncate the member

    clock = {"now": datetime(2025, 9, 30, 14, 0, 0, tzinfo=timezone.utc)}
    w = FrameWriter(tmp_path, markets=make_markets(), compress=True,
                    now=lambda: clock["now"])
    w.handle_message(json.dumps([{"event_type": "book",
                                  "asset_id": "a1"}]))
    clock["now"] += timedelta(hours=1)
    w.handle_message("PONG")
    w.shutdown()
    out = tmp_path / "2025-09-30-14.jsonl.gz"
    # the rotated file is FULLY readable end to end
    with _gzip.open(out, "rt", encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    assert len(lines) >= 2  # active_markets header + the book frame
    for ln in lines:
        json.loads(ln)
    # the torn remnant survives for manual salvage
    assert list(cur.glob("log.jsonl.gz.torn-*"))


def test_frame_writer_terminates_torn_final_line(tmp_path):
    """A torn final line (crash mid-write, no newline) must not glue
    the next frame onto it — PERMISSIVE parsing would drop BOTH
    (review finding)."""
    cur = tmp_path / "current"
    cur.mkdir(parents=True, exist_ok=True)
    (cur / "log.jsonl").write_text('{"timestamp":"t","message_')

    clock = {"now": datetime(2025, 9, 30, 14, 0, 0, tzinfo=timezone.utc)}
    w = FrameWriter(tmp_path, markets=make_markets(),
                    now=lambda: clock["now"])
    w.handle_message(json.dumps([{"event_type": "book",
                                  "asset_id": "a1"}]))
    clock["now"] += timedelta(hours=1)
    w.handle_message("PONG")
    w.shutdown()
    lines = (tmp_path / "2025-09-30-14.jsonl").read_text().splitlines()
    # the torn fragment is its own (malformed) line; every LATER line
    # parses — nothing was glued to the fragment
    assert lines[0] == '{"timestamp":"t","message_'
    for ln in lines[1:]:
        json.loads(ln)


def test_streamed_lake_multiple_parts_per_hour_replay_order(
    spark, tmp_path
):
    """Two micro-batches landing in ONE hour dir produce two part
    files; split planning orders them by SIZE, so line_id must come
    from the frame timestamp, not monotonically_increasing_id — or an
    older snapshot replays after newer deltas (review finding)."""
    from polymarket_data_ingestor_spark.sources.frames import read_frames
    from polymarket_data_ingestor_spark.streaming.live import (
        write_frames_stream,
    )

    src = tmp_path / "flat"
    src.mkdir()
    # ONE hour split across two source files -> two micro-batches ->
    # two part files in the same hour dir. File A (earlier frames) is
    # made much LARGER than file B so size-ordered planning would
    # reverse them under the old monotonic line_id.
    def frame(ts, content):
        return json.dumps({"timestamp": ts, "message_type":
                           "feed_message", "content": content})

    # the EARLIER file must be the SMALLER one: size-descending split
    # planning then gives the LATER (big) file the lower
    # monotonically_increasing_id range, which is exactly the reversal
    # the old line_id silently produced (an earlier big file would
    # mask the bug by accident)
    pad = " " * 4000
    a_lines = [
        frame(
            "2025-09-30T14:00:00+00:00",
            json.dumps([{"event_type": "book",
                         "timestamp": "1700000000000",
                         "market": "m", "asset_id": "a1",
                         "bids": [{"price": "0.300", "size": "1"}],
                         "asks": []}]),
        ),
        frame(
            "2025-09-30T14:00:01+00:00",
            json.dumps([{"event_type": "price_change",
                         "timestamp": "1700000000001",
                         "market": "m", "asset_id": "a1",
                         "changes": [{"price": "0.400", "size": "5",
                                      "side": "BUY"}]}]),
        ),
    ]
    b_lines = [frame(
        "2025-09-30T14:00:30+00:00",
        json.dumps([{"event_type": "price_change",
                     "timestamp": "1700000000030", "market": "m" + pad,
                     "asset_id": "a1",
                     "changes": [{"price": "0.350", "size": "2",
                                  "side": "BUY"}]}]),
    )] * 5
    (src / "2025-09-30-14.a.jsonl").write_text("\n".join(a_lines) + "\n")
    (src / "2025-09-30-14.b.jsonl").write_text("\n".join(b_lines) + "\n")

    stream = (
        spark.readStream.schema(
            "timestamp string, message_type string, content string"
        ).option("maxFilesPerTrigger", 1).json(str(src) + "/*.jsonl")
    )
    lake = tmp_path / "lake"
    q = write_frames_stream(stream, str(lake), str(tmp_path / "ckpt"),
                            compression="none")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    hour_dir = lake / "hour=2025-09-30-14"
    assert len(list(hour_dir.glob("part-*"))) >= 2

    ticks = replay(read_frames(spark, str(lake))).collect()
    # file B's event adds a bid BELOW the 0.400 top built by file A:
    # replayed in order, its BBO row shows the standing top (0.4, 5);
    # replayed size-first (B before A), the book would be empty and
    # its BBO row would read (0.35, 2)
    b_bid = [
        r for r in ticks
        if r["timestamp"] == "1700000000030" and r["side"] == "BID"
    ]
    assert len(b_bid) == 5  # the repeated (idempotent) B event
    assert {(r["price"], r["size"]) for r in b_bid} == {(0.4, 5.0)}
