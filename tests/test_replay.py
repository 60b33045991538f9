"""Golden + property tests for the replay operator (SURVEY §5 plan items 1-2).

Covers what the reference never tested: book reconstruction correctness,
BBO-per-event emission, ask-then-bid order, size-0 deletes, empty-side (0,0),
cross-file state carry, PONG/unknown-type skips, and the market filter.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from polymarket_data_ingestor_spark.operators.replay import (
    ORDER_COLUMNS,
    TICK_COLUMNS,
    replay,
    with_event_time,
)
from polymarket_data_ingestor_spark.sources.frames import (
    parse_feed_messages,
    read_frames,
)

from fixture_gen import _asset_id, _mkt_id, naive_replay, write_fixture_files


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory) -> list[Path]:
    return write_fixture_files(tmp_path_factory.mktemp("rawlogs"), n_hours=3,
                               msgs_per_hour=150, seed=42)


def _spark_rows(df):
    return [tuple(r) for r in df.select(*TICK_COLUMNS).collect()]


def test_replay_matches_naive_oracle_log_order(spark, fixture_paths):
    """Strict log-order output must equal the independent oracle exactly."""
    got = replay(
        spark, [str(p) for p in fixture_paths], in_log_order=True, ticks_only=False
    )
    got_rows = [tuple(r) for r in got.select(*TICK_COLUMNS).collect()]
    want = naive_replay(fixture_paths)
    assert len(got_rows) == len(want)
    assert got_rows == want  # includes ask-before-bid order within messages


def test_replay_market_filter(spark, fixture_paths):
    keep = {_mkt_id(0), _mkt_id(2)}
    got = replay(spark, [str(p) for p in fixture_paths], markets=keep,
                 in_log_order=True, ticks_only=False)
    got_rows = [tuple(r) for r in got.select(*TICK_COLUMNS).collect()]
    want = naive_replay(fixture_paths, markets=keep)
    assert got_rows == want
    assert all(r[2] in keep for r in got_rows)


def test_diff_before_snapshot_and_empty_side(spark, tmp_path):
    """Hand-written golden case pinning the parity landmines."""
    mkt, asset = _mkt_id(9), _asset_id(9, 0)
    msgs = [
        # diff before any snapshot → applies to empty book; one bid only →
        # ask side empty → ASK row must be (0, 0)
        {"event_type": "price_change", "timestamp": "1000", "market": mkt,
         "asset_id": asset,
         "changes": [{"price": "0.40", "size": "10", "side": "BUY"}]},
        # snapshot resets both sides
        {"event_type": "book", "timestamp": "2000", "market": mkt,
         "asset_id": asset,
         "bids": [{"price": "0.30", "size": "5"}, {"price": "0.35", "size": "7"}],
         "asks": [{"price": "0.60", "size": "9"}, {"price": "0.55", "size": "3"}]},
        # delete best ask (size 0) → next ask level becomes top
        {"event_type": "price_change", "timestamp": "3000", "market": mkt,
         "asset_id": asset,
         "changes": [{"price": "0.55", "size": "0", "side": "SELL"}]},
        # delete remaining ask → ask side empty again
        {"event_type": "price_change", "timestamp": "4000", "market": mkt,
         "asset_id": asset,
         "changes": [{"price": "0.60", "size": "0", "side": "SELL"}]},
        # trade does not mutate the book
        {"event_type": "last_trade_price", "timestamp": "5000", "market": mkt,
         "asset_id": asset, "side": "SELL", "price": "0.35", "size": "2.5"},
        {"event_type": "price_change", "timestamp": "6000", "market": mkt,
         "asset_id": asset,
         "changes": [{"price": "0.35", "size": "1", "side": "BUY"}]},
    ]
    lines = [json.dumps({"timestamp": "2025-09-30T14:00:01+00:00",
                         "message_type": "feed_message",
                         "content": json.dumps([m])}) for m in msgs]
    p = tmp_path / "2025-09-30-14.jsonl"
    p.write_text("\n".join(lines) + "\n")

    rows = _spark_rows(replay(spark, [str(p)], in_log_order=True,
                              ticks_only=False))
    assert rows == [
        ("1000", "BBO", mkt, asset, "ASK", 0.0, 0.0),
        ("1000", "BBO", mkt, asset, "BID", 0.40, 10.0),
        ("2000", "BBO", mkt, asset, "ASK", 0.55, 3.0),
        ("2000", "BBO", mkt, asset, "BID", 0.35, 7.0),
        ("3000", "BBO", mkt, asset, "ASK", 0.60, 9.0),
        ("3000", "BBO", mkt, asset, "BID", 0.35, 7.0),
        ("4000", "BBO", mkt, asset, "ASK", 0.0, 0.0),
        ("4000", "BBO", mkt, asset, "BID", 0.35, 7.0),
        ("5000", "TRADE", mkt, asset, "ASK", 0.35, 2.5),
        ("6000", "BBO", mkt, asset, "ASK", 0.0, 0.0),
        ("6000", "BBO", mkt, asset, "BID", 0.35, 1.0),  # upserted by the diff
    ]


def test_cross_file_state_carry(spark, tmp_path):
    """Book built in hour N must persist into hour N+1 (main.rs:142-164)."""
    mkt, asset = _mkt_id(8), _asset_id(8, 1)
    f1 = tmp_path / "2025-09-30-14.jsonl"
    f1.write_text(json.dumps({
        "timestamp": "t", "message_type": "feed_message",
        "content": json.dumps([{
            "event_type": "book", "timestamp": "1000", "market": mkt,
            "asset_id": asset,
            "bids": [{"price": "0.40", "size": "10"}],
            "asks": [{"price": "0.60", "size": "20"}]}])}) + "\n")
    f2 = tmp_path / "2025-09-30-15.jsonl"
    f2.write_text(json.dumps({
        "timestamp": "t", "message_type": "feed_message",
        "content": json.dumps([{
            "event_type": "price_change", "timestamp": "2000", "market": mkt,
            "asset_id": asset,
            "changes": [{"price": "0.41", "size": "5", "side": "BUY"}]}])}) + "\n")

    rows = _spark_rows(replay(spark, [str(f1), str(f2)], in_log_order=True,
                              ticks_only=False))
    # Second message sees the hour-14 book plus the new best bid.
    assert rows[2:] == [
        ("2000", "BBO", mkt, asset, "ASK", 0.60, 20.0),
        ("2000", "BBO", mkt, asset, "BID", 0.41, 5.0),
    ]


def test_bbo_and_trade_counts(spark, fixture_paths):
    """Row-count invariants: 2 BBO rows per book event, 1 per trade."""
    frames = read_frames(spark, [str(p) for p in fixture_paths])
    feed = parse_feed_messages(frames)
    by_type = {r["event_type"]: r["n"] for r in
               feed.groupBy("event_type").count().withColumnRenamed("count", "n")
               .collect()}
    ticks = replay(spark, [str(p) for p in fixture_paths], ticks_only=False)
    n_bbo = ticks.filter("kind = 'BBO'").count()
    n_trade = ticks.filter("kind = 'TRADE'").count()
    assert n_bbo == 2 * (by_type.get("book", 0) + by_type.get("price_change", 0))
    assert n_trade == by_type.get("last_trade_price", 0)


def test_output_schema_and_event_time(spark, fixture_paths):
    ticks = replay(spark, [str(fixture_paths[0])])
    assert [f.name for f in ticks.schema.fields] == TICK_COLUMNS
    typed = with_event_time(ticks)
    row = typed.filter("kind = 'TRADE'").select("timestamp", "event_time").first()
    assert row.event_time.timestamp() * 1000 == pytest.approx(int(row.timestamp))


def test_compressed_roundtrip(spark, tmp_path, fixture_paths):
    """Compressed .jsonl.gz reads identically to plain .jsonl.

    gzip exercises the generic codec path (non-splittable single-stream
    read — the property the line-ordering contract relies on); the
    flagship .jsonl.zst format gets its own dedicated test below.
    """
    raw = spark.sparkContext.textFile(str(fixture_paths[0]))
    zdir = tmp_path / "z"
    raw.coalesce(1).saveAsTextFile(
        str(zdir), "org.apache.hadoop.io.compress.GzipCodec"
    )
    part = next(Path(zdir).glob("part-*.gz"))
    target = tmp_path / "2025-09-30-14.jsonl.gz"
    part.rename(target)
    a = _spark_rows(replay(spark, [str(target)], in_log_order=True,
                           ticks_only=False))
    b = _spark_rows(replay(spark, [str(fixture_paths[0])], in_log_order=True,
                           ticks_only=False))
    assert a == b


def test_zstd_roundtrip(spark, tmp_path, fixture_paths):
    """REAL .jsonl.zst read (the reference's flagship input format,
    collector/src/main.rs:104 + cli/src/tick_generator.rs:164-195):
    a pyarrow-zstd-compressed log replays identically to the plain file.

    Skips with a reason only if either codec half is unavailable
    (pyarrow writer here, Hadoop zstd reader in the JVM).
    """
    import pyarrow as pa

    if not pa.Codec.is_available("zstd"):
        pytest.skip("pyarrow zstd codec unavailable: cannot write fixture")
    raw = Path(fixture_paths[0]).read_bytes()
    target = tmp_path / "2025-09-30-14.jsonl.zst"
    target.write_bytes(pa.Codec("zstd").compress(raw).to_pybytes())
    try:
        a = _spark_rows(replay(spark, [str(target)], in_log_order=True,
                               ticks_only=False))
    except Exception as e:  # pragma: no cover - cluster-dependent codec
        if "zstd" in str(e).lower() or "native" in str(e).lower():
            pytest.skip(f"JVM-side zstd codec unavailable: {e}")
        raise
    b = _spark_rows(replay(spark, [str(fixture_paths[0])], in_log_order=True,
                           ticks_only=False))
    assert a == b and len(a) > 0


def test_split_at_snapshots_parity(spark, fixture_paths):
    """Snapshot-segmented replay (hot-asset skew mitigation) must be
    row-for-row identical to the unsegmented kernel: a book snapshot
    resets all state, so segments are independent by construction.
    k=1 forces the gate to fire so the machinery is really exercised;
    the default-k call exercises the gate-cold (plain-plan) path."""
    normal = _spark_rows(replay(spark, [str(p) for p in fixture_paths],
                                in_log_order=True, ticks_only=False))
    segmented = _spark_rows(replay(spark, [str(p) for p in fixture_paths],
                                   in_log_order=True, ticks_only=False,
                                   split_at_snapshots=True,
                                   snapshots_per_segment=1))
    assert segmented == normal and len(normal) > 0
    gated = _spark_rows(replay(spark, [str(p) for p in fixture_paths],
                               in_log_order=True, ticks_only=False,
                               split_at_snapshots=True))
    assert gated == normal


def test_split_boundary_on_malformed_snapshot(spark, tmp_path):
    """A malformed book message (unparseable level → rejected by the
    packing pass, dropped by the kernel WITHOUT resetting state) must
    never open a segment: with k=1 every VALID snapshot is a boundary,
    and if the invalid one counted, the segment after it would replay
    diffs against an empty book while the unsegmented path carries the
    prior snapshot's state. Output must equal the naive oracle."""
    mkt, asset = _mkt_id(5), _asset_id(5, 0)

    def diff(ts, price, size, side):
        return {"event_type": "price_change", "timestamp": str(ts),
                "market": mkt, "asset_id": asset,
                "changes": [{"price": price, "size": size, "side": side}]}

    msgs = [
        {"event_type": "book", "timestamp": "1000", "market": mkt,
         "asset_id": asset,
         "bids": [{"price": "0.40", "size": "10"}],
         "asks": [{"price": "0.60", "size": "5"}]},
        diff("2000", "0.41", "7", "BUY"),
        # malformed snapshot: unparseable bid price → serde-rejected;
        # state (0.41 bid etc.) must survive it, and no boundary here
        {"event_type": "book", "timestamp": "3000", "market": mkt,
         "asset_id": asset,
         "bids": [{"price": "garbage", "size": "10"}],
         "asks": [{"price": "0.61", "size": "5"}]},
        diff("4000", "0.42", "3", "BUY"),
        diff("5000", "0.60", "0", "SELL"),  # delete best ask
        {"event_type": "book", "timestamp": "6000", "market": mkt,
         "asset_id": asset,
         "bids": [{"price": "0.39", "size": "2"}],
         "asks": [{"price": "0.62", "size": "4"}]},
        diff("7000", "0.39", "0", "BUY"),
    ]
    p = tmp_path / "2025-09-30-14.jsonl"
    p.write_text("\n".join(
        json.dumps({"timestamp": "t", "message_type": "feed_message",
                    "content": json.dumps([m])}) for m in msgs) + "\n")
    got = _spark_rows(replay(spark, [str(p)], in_log_order=True,
                             ticks_only=False, split_at_snapshots=True,
                             snapshots_per_segment=1))
    assert got == naive_replay([p]) and len(got) > 0


def test_split_at_snapshots_hot_asset(spark, tmp_path):
    """One hyper-active asset with many snapshots: segmented output equals
    the naive oracle (segments genuinely split the group — the asset has
    multiple snapshots, so > 1 segment exists)."""
    import random

    rng = random.Random(99)
    mkt, asset = _mkt_id(3), _asset_id(3, 1)
    msgs = []
    ts = 1759240800000
    for i in range(400):
        ts += rng.randint(1, 100)
        if i % 50 == 0:  # periodic full snapshot → 8 segments
            msgs.append({"event_type": "book", "timestamp": str(ts),
                         "market": mkt, "asset_id": asset,
                         "bids": [{"price": "0.40", "size": str(i + 1)}],
                         "asks": [{"price": "0.60", "size": "5"}]})
        else:
            side = rng.choice(["BUY", "SELL"])
            lo = 0.3 if side == "BUY" else 0.5
            msgs.append({
                "event_type": "price_change", "timestamp": str(ts),
                "market": mkt, "asset_id": asset,
                "changes": [{
                    "price": f"{lo + 0.001 * rng.randint(0, 99):.3f}",
                    "size": "0" if rng.random() < 0.3
                    else str(rng.randint(1, 99)),
                    "side": side}],
            })
    p = tmp_path / "2025-09-30-14.jsonl"
    p.write_text("\n".join(
        json.dumps({"timestamp": "t", "message_type": "feed_message",
                    "content": json.dumps([m])}) for m in msgs) + "\n")
    got = _spark_rows(replay(spark, [str(p)], in_log_order=True,
                             ticks_only=False, split_at_snapshots=True,
                             snapshots_per_segment=2))
    want = naive_replay([p])
    assert got == want


def test_auto_split_default_gates_and_matches_plain(spark, tmp_path):
    """r15: ``replay()`` defaults to ``split_at_snapshots="auto"`` —
    with paths, the memoized raw-text gate decides hot vs cold, so a
    hot feed splits WITHOUT the caller opting in. Three pins:

    * on a hot fixture, the default output equals the forced-plain
      output row-for-row (segmentation is invisible in the result);
    * the default path genuinely segments (the packed plan groups on
      (asset_id, __segment), not asset_id alone);
    * with a frames DataFrame (no paths), "auto" takes the plain path —
      no eager gate job at plan-build time.
    """
    import random

    from polymarket_data_ingestor_spark.operators.replay import (
        replay_feed_messages,
    )
    from polymarket_data_ingestor_spark.sources.frames import (
        parse_feed_messages,
        read_frames,
    )

    rng = random.Random(7)
    mkt, asset = _mkt_id(3), _asset_id(3, 1)
    msgs = []
    ts = 1759240800000
    for i in range(300):
        ts += rng.randint(1, 100)
        if i % 30 == 0:
            msgs.append({"event_type": "book", "timestamp": str(ts),
                         "market": mkt, "asset_id": asset,
                         "bids": [{"price": "0.40", "size": str(i + 1)}],
                         "asks": [{"price": "0.60", "size": "5"}]})
        else:
            side = rng.choice(["BUY", "SELL"])
            lo = 0.3 if side == "BUY" else 0.5
            msgs.append({
                "event_type": "price_change", "timestamp": str(ts),
                "market": mkt, "asset_id": asset,
                "changes": [{
                    "price": f"{lo + 0.001 * rng.randint(0, 99):.3f}",
                    "size": "0" if rng.random() < 0.3
                    else str(rng.randint(1, 99)),
                    "side": side}],
            })
    p = tmp_path / "2025-10-01-09.jsonl"
    p.write_text("\n".join(
        json.dumps({"timestamp": "t", "message_type": "feed_message",
                    "content": json.dumps([m])}) for m in msgs) + "\n")
    # 10 snapshots in one file, stride 3 → the gate must fire hot
    auto = replay(spark, [str(p)], in_log_order=True, ticks_only=False,
                  snapshots_per_segment=3)
    plain = replay(spark, [str(p)], in_log_order=True, ticks_only=False,
                   split_at_snapshots=False, snapshots_per_segment=3)
    assert _spark_rows(auto) == _spark_rows(plain) == naive_replay([p])
    # the default plan really segments: the grouped-map key includes
    # __segment (plain groups on asset_id alone)
    auto_plan = auto._jdf.queryExecution().analyzed().toString()
    plain_plan = plain._jdf.queryExecution().analyzed().toString()
    assert "__segment" in auto_plan
    assert "__segment" not in plain_plan
    # frames-DataFrame form: "auto" must not run the parse-based gate —
    # the plain per-asset plan is built, no __segment machinery
    feed = parse_feed_messages(read_frames(spark, [str(p)]))
    df_auto = replay_feed_messages(feed)
    assert "__segment" not in (
        df_auto._jdf.queryExecution().analyzed().toString()
    )


@pytest.mark.parametrize("value", ["false", "true", "False", "", "AUTO"])
def test_split_at_snapshots_rejects_other_strings(spark, fixture_paths, value):
    """Only "auto" is accepted as a string: "false" read from a config
    file must not silently enable splitting as a truthy value."""
    with pytest.raises(ValueError, match="True, False or 'auto'"):
        replay(spark, [str(p) for p in fixture_paths],
               split_at_snapshots=value)


def test_line_id_order_on_multisplit_jsonl(spark, tmp_path):
    """The line-ordering contract (sources/frames.py line_id) must hold
    even when a plain .jsonl file splits into many read partitions:
    Spark plans a file's equal-size splits in offset order (stable
    size-descending packing), so monotonically_increasing_id's
    (partition << 33 | row) still increases with line order. This test
    pins that planner behavior — it is load-bearing for replay order."""
    n = 30000
    p = tmp_path / "2025-09-30-14.jsonl"
    with open(p, "w") as f:
        for i in range(n):
            f.write(json.dumps({
                "timestamp": str(i), "message_type": "feed_message",
                "content": "padding-" + "x" * 80,
            }) + "\n")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(256 * 1024))
    try:
        df = read_frames(spark, [str(p)])
        n_parts = df.rdd.getNumPartitions()
        rows = df.select("timestamp", "line_id").collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert n_parts >= 3, f"file did not split ({n_parts} partitions)"
    rows.sort(key=lambda r: r.line_id)
    assert [r.timestamp for r in rows] == [str(i) for i in range(n)]


def test_corrupt_record_capture(spark, tmp_path):
    """keep_corrupt=True surfaces unparseable lines instead of dropping."""
    p = tmp_path / "2025-09-30-14.jsonl"
    p.write_text(
        json.dumps({"timestamp": "t", "message_type": "feed_message",
                    "content": "PONG"})
        + "\nthis is not json {{{\n"
    )
    frames = read_frames(spark, [str(p)], keep_corrupt=True)
    bad = frames.filter("corrupt_record IS NOT NULL").collect()
    assert len(bad) == 1
    assert "not json" in bad[0].corrupt_record
    # default mode: silently dropped, same row count minus the bad line
    assert read_frames(spark, [str(p)]).filter(
        "message_type IS NOT NULL").count() == 1


def test_write_tick_lake_partition_pruning(spark, fixture_paths, tmp_path):
    """Hour-partitioned lake: reads with an hour filter prune partitions."""
    from polymarket_data_ingestor_spark.operators.replay import write_tick_lake

    ticks = replay(spark, [str(p) for p in fixture_paths], ticks_only=False)
    lake = str(tmp_path / "lake")
    write_tick_lake(ticks, lake)
    back = spark.read.parquet(lake)
    assert back.count() == ticks.count()
    pruned = back.filter(F.col("file_hour") == "2025-09-30-15")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # partition filter must reach the scan (PartitionFilters, not a
    # post-scan Filter over all partitions)
    assert "PartitionFilters: [isnotnull(file_hour" in plan \
        or "PartitionFilters: [(file_hour" in plan
    assert pruned.count() == ticks.filter(
        F.col("file_hour") == "2025-09-30-15").count()
    # compact=True (default): one data file per hour partition, not one
    # per upstream task (the small-files problem at the lake layer)
    hours = [d for d in Path(lake).iterdir() if d.name.startswith("file_hour=")]
    assert hours
    for d in hours:
        assert len(list(d.glob("*.parquet"))) == 1, d


def test_malformed_messages_without_keys_are_dropped(spark, tmp_path):
    """Messages missing asset_id/market/timestamp must not form null
    groups (the reference's serde rejects them at parse time)."""
    mkt, asset = _mkt_id(7), _asset_id(7, 0)
    msgs = [
        {"event_type": "last_trade_price", "timestamp": "1000",
         "market": mkt, "side": "BUY", "price": "0.5", "size": "1"},  # no asset
        {"event_type": "book", "timestamp": "2000", "market": None,
         "asset_id": asset, "bids": [], "asks": []},  # null market
        {"event_type": "last_trade_price", "timestamp": "3000", "market": mkt,
         "asset_id": asset, "side": "SELL", "price": "0.5", "size": "2"},  # ok
    ]
    p = tmp_path / "2025-09-30-14.jsonl"
    p.write_text("\n".join(
        json.dumps({"timestamp": "t", "message_type": "feed_message",
                    "content": json.dumps([m])}) for m in msgs) + "\n")
    rows = _spark_rows(replay(spark, [str(p)], in_log_order=True,
                              ticks_only=False))
    assert rows == [("3000", "TRADE", mkt, asset, "ASK", 0.5, 2.0)]


def test_malformed_side_and_price_are_dropped(spark, tmp_path):
    """A change/trade with a non-BUY/SELL side, an unparseable price or a
    null level is rejected whole, like the reference's serde — not packed
    into the book as garbage."""
    mkt, asset = _mkt_id(8), _asset_id(8, 0)
    msgs = [
        {"event_type": "book", "timestamp": "1000", "market": mkt,
         "asset_id": asset, "bids": [{"price": "0.4", "size": "5"}],
         "asks": []},  # ok
        {"event_type": "price_change", "timestamp": "2000", "market": mkt,
         "asset_id": asset,
         "changes": [{"price": "0.41", "size": "3", "side": "HOLD"}]},  # bad side
        {"event_type": "price_change", "timestamp": "3000", "market": mkt,
         "asset_id": asset,
         "changes": [{"price": None, "size": "3", "side": "BUY"}]},  # null price
        {"event_type": "last_trade_price", "timestamp": "4000", "market": mkt,
         "asset_id": asset, "side": "both", "price": "0.5",
         "size": "1"},  # bad side
        {"event_type": "last_trade_price", "timestamp": "5000", "market": mkt,
         "asset_id": asset, "side": "BUY", "price": "oops",
         "size": "1"},  # unparseable price
        {"event_type": "book", "timestamp": "5500", "market": mkt,
         "asset_id": asset,
         "bids": [{"price": "not-a-price", "size": "1"}],
         "asks": []},  # unparseable book level -> whole snapshot rejected
        # null/missing collections: required Vecs in the reference's serde
        # structs, so the message is rejected whole (NOT coalesced to an
        # empty side, which would wipe the reconstructed book)
        {"event_type": "price_change", "timestamp": "5600", "market": mkt,
         "asset_id": asset, "changes": None},  # null changes
        {"event_type": "book", "timestamp": "5700", "market": mkt,
         "asset_id": asset, "bids": None,
         "asks": [{"price": "0.9", "size": "1"}]},  # null bids
        {"event_type": "book", "timestamp": "5800", "market": mkt,
         "asset_id": asset,
         "asks": [{"price": "0.9", "size": "1"}]},  # missing bids field
        # a null element inside a collection fails serde like a null
        # collection does
        {"event_type": "book", "timestamp": "5810", "market": mkt,
         "asset_id": asset, "bids": [{"price": "0.3", "size": "1"}, None],
         "asks": []},  # null bid level
        {"event_type": "book", "timestamp": "5820", "market": mkt,
         "asset_id": asset, "bids": [],
         "asks": [None, {"price": "0.9", "size": "1"}]},  # null ask level
        {"event_type": "price_change", "timestamp": "5830", "market": mkt,
         "asset_id": asset,
         "changes": [{"price": "0.41", "size": "3", "side": "BUY"},
                     None]},  # null change
        {"event_type": "price_change", "timestamp": "5900", "market": mkt,
         "asset_id": asset, "changes": []},  # empty-but-present: VALID
        {"event_type": "last_trade_price", "timestamp": "6000", "market": mkt,
         "asset_id": asset, "side": "BUY", "price": "0.42",
         "size": "2"},  # ok
    ]
    p = tmp_path / "2025-09-30-14.jsonl"
    p.write_text("\n".join(
        json.dumps({"timestamp": "t", "message_type": "feed_message",
                    "content": json.dumps([m])}) for m in msgs) + "\n")
    rows = _spark_rows(replay(spark, [str(p)], in_log_order=True,
                              ticks_only=False))
    assert rows == [
        ("1000", "BBO", mkt, asset, "ASK", 0.0, 0.0),
        ("1000", "BBO", mkt, asset, "BID", 0.4, 5.0),
        # the empty-but-present changes message: book untouched, BBO emitted
        ("5900", "BBO", mkt, asset, "ASK", 0.0, 0.0),
        ("5900", "BBO", mkt, asset, "BID", 0.4, 5.0),
        ("6000", "TRADE", mkt, asset, "BID", 0.42, 2.0),
    ]
    # the independent oracle agrees on the full poison fixture
    assert rows == naive_replay([p])


def test_order_columns_present_when_not_ticks_only(spark, fixture_paths):
    df = replay(spark, [str(fixture_paths[0])], ticks_only=False)
    for c in ORDER_COLUMNS:
        assert c in df.columns


def test_split_carry_across_mixed_files(spark, tmp_path):
    """Per-file segment opening with cross-file carry: file 1 is hot
    (opens segments at k=2), file 2 is cold for the same asset (1
    snapshot < k, does not open) — its rows must ride file 1's LAST
    segment, not replay against an empty book; and a second asset that
    only ever has sparse snapshots must never split at all. Output
    equals the naive oracle either way."""
    import random

    rng = random.Random(7)
    mkt, hot = _mkt_id(2), _asset_id(2, 0)
    cold = _asset_id(2, 1)

    def diff(asset, ts):
        side = rng.choice(["BUY", "SELL"])
        lo = 0.3 if side == "BUY" else 0.5
        return {"event_type": "price_change", "timestamp": str(ts),
                "market": mkt, "asset_id": asset,
                "changes": [{
                    "price": f"{lo + 0.001 * rng.randint(0, 99):.3f}",
                    "size": "0" if rng.random() < 0.3
                    else str(rng.randint(1, 99)),
                    "side": side}]}

    def snap(asset, ts, i):
        return {"event_type": "book", "timestamp": str(ts),
                "market": mkt, "asset_id": asset,
                "bids": [{"price": "0.40", "size": str(i + 1)}],
                "asks": [{"price": "0.60", "size": "5"}]}

    ts = 1759240800000
    f1, f2 = [], []
    for i in range(120):  # file 1: hot asset, snapshot every 10th msg
        ts += rng.randint(1, 100)
        f1.append(snap(hot, ts, i) if i % 10 == 0 else diff(hot, ts))
    f1.append(snap(cold, ts + 1, 0))  # cold: 1 snapshot in file 1
    for i in range(40):  # file 2: both assets sparse — no opens at k=2
        ts += rng.randint(1, 100)
        f2.append(diff(hot, ts) if i % 2 else diff(cold, ts))
    f2.append(snap(hot, ts + 1, 99))  # 1 snapshot < k=2: still cold

    paths = []
    for hour, msgs in (("2025-09-30-14", f1), ("2025-09-30-15", f2)):
        p = tmp_path / f"{hour}.jsonl"
        p.write_text("\n".join(
            json.dumps({"timestamp": "t", "message_type": "feed_message",
                        "content": json.dumps([m])}) for m in msgs) + "\n")
        paths.append(p)

    got = _spark_rows(replay(spark, [str(p) for p in paths],
                             in_log_order=True, ticks_only=False,
                             split_at_snapshots=True,
                             snapshots_per_segment=2))
    assert got == naive_replay(paths)
    # the grouping really is mixed: hot splits in file 1, cold never
    from polymarket_data_ingestor_spark.operators.replay import (
        replay_feed_messages,
    )
    from polymarket_data_ingestor_spark.sources.frames import (
        parse_feed_messages, read_frames,
    )
    feed = parse_feed_messages(read_frames(spark, [str(p) for p in paths]))
    # count distinct segments via the internal path: re-derive by running
    # the public API with a 1-row-per-group marker is overkill; instead
    # assert on output correctness above and segment structure here:
    packed = replay_feed_messages(feed, split_at_snapshots=True,
                                  snapshots_per_segment=2)
    assert packed.count() == len(naive_replay(paths))


@pytest.mark.parametrize("seed,k", [(11, 1), (12, 3), (13, 7)])
def test_split_randomized_vs_oracle(spark, tmp_path, seed, k):
    """Randomized multi-asset multi-file streams with varying snapshot
    density and segment stride: split output must equal the naive
    oracle regardless of which (asset, file) cells cross the opening
    threshold."""
    import random

    rng = random.Random(seed)
    assets = [(_mkt_id(i), _asset_id(i, 0)) for i in range(4)]
    ts = 1759240800000
    paths = []
    for h, hour in enumerate(["2025-09-30-14", "2025-09-30-15",
                              "2025-09-30-16"]):
        msgs = []
        for _ in range(rng.randint(30, 120)):
            ts += rng.randint(1, 100)
            mkt, asset = rng.choice(assets)
            # per-asset snapshot density varies wildly: asset 0 is
            # snapshot-heavy (splits), asset 3 almost never snapshots
            p_snap = [0.5, 0.2, 0.05, 0.01][assets.index((mkt, asset))]
            if rng.random() < p_snap:
                msgs.append({
                    "event_type": "book", "timestamp": str(ts),
                    "market": mkt, "asset_id": asset,
                    "bids": [{"price": f"{0.3 + 0.001 * rng.randint(0, 99):.3f}",
                              "size": str(rng.randint(1, 99))}],
                    "asks": [{"price": f"{0.5 + 0.001 * rng.randint(0, 99):.3f}",
                              "size": str(rng.randint(1, 99))}],
                })
            else:
                side = rng.choice(["BUY", "SELL"])
                lo = 0.3 if side == "BUY" else 0.5
                msgs.append({
                    "event_type": "price_change", "timestamp": str(ts),
                    "market": mkt, "asset_id": asset,
                    "changes": [{
                        "price": f"{lo + 0.001 * rng.randint(0, 99):.3f}",
                        "size": "0" if rng.random() < 0.3
                        else str(rng.randint(1, 99)),
                        "side": side}],
                })
        p = tmp_path / f"{hour}.jsonl"
        p.write_text("\n".join(
            json.dumps({"timestamp": "t", "message_type": "feed_message",
                        "content": json.dumps([m])}) for m in msgs) + "\n")
        paths.append(p)
    got = _spark_rows(replay(spark, [str(p) for p in paths],
                             in_log_order=True, ticks_only=False,
                             split_at_snapshots=True,
                             snapshots_per_segment=k))
    assert got == naive_replay(paths) and len(got) > 0


# --- gate manifests (ingest-time sidecar stats) ----------------------------

def test_gate_manifest_matches_raw_scan_and_skips_spark(spark, fixture_paths):
    """Sidecar-first gate: write_gate_manifests must record exactly what
    the raw scan computes, and once every file has a sidecar the gate
    needs NO Spark job at all (proved by passing spark=None)."""
    from polymarket_data_ingestor_spark.operators.replay import (
        _GATE_STATS_CACHE,
        _max_snapshot_cell,
        write_gate_manifests,
    )
    from polymarket_data_ingestor_spark.manifest import manifest_path

    paths = [str(p) for p in fixture_paths]
    for p in paths:  # start clean
        manifest_path(p).unlink(missing_ok=True)
    _GATE_STATS_CACHE.clear()
    scanned = _max_snapshot_cell(spark, paths)
    assert scanned > 0

    n = write_gate_manifests(spark, paths)
    assert n == len(paths)
    _GATE_STATS_CACHE.clear()
    # spark=None: if any file fell back to the raw scan this would raise
    from_sidecars = _max_snapshot_cell(None, paths)
    assert from_sidecars == scanned
    # memoized: second call is a dict hit
    assert _max_snapshot_cell(None, paths) == scanned

    # staleness: rewriting a file invalidates its sidecar (size check),
    # so the gate must fall back to scanning THAT file
    victim = fixture_paths[0]
    victim.write_text(victim.read_text() + "\n")
    _GATE_STATS_CACHE.clear()
    with pytest.raises(Exception):
        _max_snapshot_cell(None, paths)  # needs spark for the stale file
    _GATE_STATS_CACHE.clear()
    assert _max_snapshot_cell(spark, paths) == scanned
    # restore: re-backfill so later module tests see consistent sidecars
    write_gate_manifests(spark, paths)
    _GATE_STATS_CACHE.clear()


def test_frame_writer_emits_gate_manifest(tmp_path):
    """Every rotation (and the shutdown rotation) writes a sidecar whose
    counts equal a line-level recount of the rotated file."""
    import re as _re
    from datetime import datetime, timedelta, timezone

    from polymarket_data_ingestor_spark.manifest import (
        ASSET_ID_RE,
        manifest_path,
        read_manifest_max,
    )
    from polymarket_data_ingestor_spark.streaming.collector import FrameWriter

    clock = {"now": datetime(2025, 9, 30, 14, 59, 50, tzinfo=timezone.utc)}
    w = FrameWriter(tmp_path, markets=[], now=lambda: clock["now"])
    a1, a2 = "1" * 8, "2" * 8
    for asset, n in ((a1, 3), (a2, 1)):
        for _ in range(n):
            w.handle_message(json.dumps([{
                "event_type": "book", "timestamp": "1000",
                "market": "0xm", "asset_id": asset,
                "bids": [], "asks": []}]))
    w.handle_message(json.dumps([{  # non-book: must not count
        "event_type": "price_change", "timestamp": "1500",
        "market": "0xm", "asset_id": a1, "changes": []}]))
    clock["now"] += timedelta(seconds=20)  # crosses the hour
    w.handle_message(json.dumps([{
        "event_type": "book", "timestamp": "2000",
        "market": "0xm", "asset_id": a2, "bids": [], "asks": []}]))
    final = w.shutdown()

    first = tmp_path / "2025-09-30-14.jsonl"
    assert manifest_path(first).is_file() and manifest_path(final).is_file()
    assert read_manifest_max(first) == 3
    assert read_manifest_max(final) == 1
    # sidecar counts == recount of the physical file (byte parity with
    # what the Spark raw scan would compute)
    doc = json.loads(manifest_path(first).read_text())
    recount: dict[str, int] = {}
    pat = _re.compile(ASSET_ID_RE)
    for line in first.read_text().splitlines():
        if "book" in line:
            for a in pat.findall(line):
                recount[a] = recount.get(a, 0) + 1
    assert doc["book_counts"] == recount == {a1: 3, a2: 1}
    assert doc["file_size"] == first.stat().st_size


def test_frame_writer_manifest_compressed(spark, tmp_path):
    """Compressed rotation (.jsonl.gz): the sidecar counts the logical
    lines (accumulated pre-compression), its size check records the
    COMPRESSED file, and the sidecar-first gate agrees with the raw
    scan of the gzip file."""
    from datetime import datetime, timezone

    from polymarket_data_ingestor_spark.manifest import (
        manifest_path,
        read_manifest_max,
    )
    from polymarket_data_ingestor_spark.operators.replay import (
        _GATE_STATS_CACHE,
        _max_snapshot_cell,
    )
    from polymarket_data_ingestor_spark.streaming.collector import FrameWriter

    now = datetime(2025, 9, 30, 14, 0, 1, tzinfo=timezone.utc)
    w = FrameWriter(tmp_path, markets=[], compress=True, now=lambda: now)
    asset = "4" * 8
    for i in range(5):
        w.handle_message(json.dumps([{
            "event_type": "book", "timestamp": str(1000 + i),
            "market": "0xm", "asset_id": asset, "bids": [], "asks": []}]))
    final = w.shutdown()
    assert final.name.endswith(".jsonl.gz")
    assert read_manifest_max(final) == 5
    # gate: sidecar-only (no spark), and parity with the gz raw scan
    _GATE_STATS_CACHE.clear()
    assert _max_snapshot_cell(None, [str(final)]) == 5
    manifest_path(final).unlink()
    _GATE_STATS_CACHE.clear()
    assert _max_snapshot_cell(spark, [str(final)]) == 5


def test_gate_sums_same_hour_files_across_directories(spark, tmp_path):
    """The replay grouping keys on the hour token from the file NAME, so
    two files named 2024-01-01-00.jsonl in different directories land in
    the same cell — the gate must SUM their counts (sidecar+sidecar,
    scan+scan, and MIXED sidecar+scan), never take a per-file max, or a
    hot asset split across collector shards gates as cold."""
    from polymarket_data_ingestor_spark.manifest import manifest_path
    from polymarket_data_ingestor_spark.operators.replay import (
        _GATE_STATS_CACHE,
        _max_snapshot_cell,
        write_gate_manifests,
    )

    asset = "9" * 8

    def write_log(d, n_books):
        d.mkdir(parents=True, exist_ok=True)
        p = d / "2024-01-01-00.jsonl"
        p.write_text("\n".join(json.dumps(
            {"timestamp": "t", "message_type": "feed_message",
             "content": json.dumps([{"event_type": "book",
                                     "timestamp": str(1000 + i),
                                     "market": "0xm", "asset_id": asset,
                                     "bids": [], "asks": []}])})
            for i in range(n_books)) + "\n")
        return str(p)

    p1 = write_log(tmp_path / "shard1", 300)
    p2 = write_log(tmp_path / "shard2", 300)

    # scan+scan (no sidecars): summed across files
    _GATE_STATS_CACHE.clear()
    assert _max_snapshot_cell(spark, [p1, p2]) == 600

    # sidecar+sidecar: same answer, no spark needed
    write_gate_manifests(spark, [p1, p2])
    _GATE_STATS_CACHE.clear()
    assert _max_snapshot_cell(None, [p1, p2]) == 600

    # MIXED: one sidecar + one scan must still sum to 600
    manifest_path(p2).unlink()
    _GATE_STATS_CACHE.clear()
    assert _max_snapshot_cell(spark, [p1, p2]) == 600


def test_gate_memo_misses_a_rewritten_file(spark, tmp_path):
    """The gate's memo must not answer for a file that changed: a log
    rewritten with the same size within the same second, and a glob
    path whose files cannot be stamped, both get a fresh hot/cold
    decision."""
    import os

    from polymarket_data_ingestor_spark.operators.replay import (
        _GATE_STATS_CACHE,
        _max_snapshot_cell,
        replay,
    )

    p = tmp_path / "2024-01-01-00.jsonl"

    def write_log(assets):
        # asset ids of one length: every rewrite has the same size
        p.write_text("\n".join(json.dumps(
            {"timestamp": "t", "message_type": "feed_message",
             "content": json.dumps([{"event_type": "book",
                                     "timestamp": str(1000 + i),
                                     "market": "0xm", "asset_id": a,
                                     "bids": [], "asks": []}])})
            for i, a in enumerate(assets)) + "\n")

    def split_path(paths):
        ticks = replay(spark, paths, snapshots_per_segment=40)
        return "__segment" in ticks._jdf.queryExecution().analyzed().toString()

    second = 1_700_000_000 * 10**9
    _GATE_STATS_CACHE.clear()
    write_log(["1" * 8] * 40)  # one asset, 40 snapshots: hot
    os.utime(p, ns=(second, second + 1000))
    assert _max_snapshot_cell(spark, [str(p)]) == 40
    assert split_path([str(p)])
    size = p.stat().st_size
    write_log(["1" * 8, "2" * 8] * 20)  # two assets, 20 each: cold
    os.utime(p, ns=(second, second + 2000))
    assert p.stat().st_size == size
    assert _max_snapshot_cell(spark, [str(p)]) == 20
    assert not split_path([str(p)])

    glob = str(tmp_path / "*.jsonl")
    assert _max_snapshot_cell(spark, [glob]) == 20
    write_log(["1" * 8] * 40)
    assert _max_snapshot_cell(spark, [glob]) == 40
    _GATE_STATS_CACHE.clear()


def test_frame_writer_crash_recovery_counts_leftover_lines(tmp_path):
    """Restarting on a leftover current/log.jsonl (unclean shutdown)
    must fold the existing lines into the manifest counts — the sidecar
    records the WHOLE rotated file, whose size check would otherwise
    pass while the counts silently missed the pre-crash lines."""
    from datetime import datetime, timezone

    from polymarket_data_ingestor_spark.manifest import read_manifest_max
    from polymarket_data_ingestor_spark.streaming.collector import FrameWriter

    asset = "5" * 8

    def book(i):
        return json.dumps([{"event_type": "book", "timestamp": str(1000 + i),
                            "market": "0xm", "asset_id": asset,
                            "bids": [], "asks": []}])

    now = datetime(2025, 9, 30, 14, 0, 1, tzinfo=timezone.utc)
    w1 = FrameWriter(tmp_path, markets=[], now=lambda: now)
    for i in range(3):
        w1.handle_message(book(i))
    w1._fh.flush()  # crash: no shutdown(), no rotation

    w2 = FrameWriter(tmp_path, markets=[], now=lambda: now)
    for i in range(2):
        w2.handle_message(book(10 + i))
    final = w2.shutdown()
    # 3 pre-crash + 2 post-restart book lines, all in the sidecar
    assert read_manifest_max(final) == 5
    # and the sidecar equals a recount of the physical file (the
    # file_size staleness check alone could never catch an under-count)
    from polymarket_data_ingestor_spark.manifest import (
        count_book_assets,
        manifest_path,
    )
    recount: dict[str, int] = {}
    for line in final.read_text().splitlines():
        count_book_assets(line, recount)
    doc = json.loads(manifest_path(final).read_text())
    assert doc["book_counts"] == recount


def test_frame_writer_recovery_suppresses_manifest_on_corrupt_gzip(tmp_path):
    """A bit-flipped gzip leftover must not crash the restarted
    collector: the recovery recount fails (zlib.error), the manifest is
    suppressed for that file (gate falls back to the scan), and writing
    continues."""
    from datetime import datetime, timezone

    from polymarket_data_ingestor_spark.manifest import manifest_path
    from polymarket_data_ingestor_spark.streaming.collector import FrameWriter

    now = datetime(2025, 9, 30, 14, 0, 1, tzinfo=timezone.utc)
    w1 = FrameWriter(tmp_path, markets=[], compress=True,
                     now=lambda: now)
    for i in range(5):
        w1.handle_message(json.dumps([{
            "event_type": "book", "timestamp": str(1000 + i),
            "market": "m", "asset_id": "66666666",
            "bids": [], "asks": []}]))
    w1._fh.flush()  # crash, no rotation
    cur = tmp_path / "current" / "log.jsonl.gz"
    raw = bytearray(cur.read_bytes())
    raw[len(raw) // 2] ^= 0xFF  # corrupt the deflate stream
    cur.write_bytes(bytes(raw))

    w2 = FrameWriter(tmp_path, markets=[], compress=True,
                     now=lambda: now)
    w2.handle_message(json.dumps([{
        "event_type": "book", "timestamp": "2000",
        "market": "m", "asset_id": "66666666",
        "bids": [], "asks": []}]))
    final = w2.shutdown()
    # rotation succeeded, but NO sidecar: the gate must scan this file
    assert final is not None
    assert not manifest_path(final).exists()
    # the writer is healthy again for the next hour: a fresh file gets
    # its manifest as usual
    w3 = FrameWriter(tmp_path / "fresh", markets=[], now=lambda: now)
    w3.handle_message(json.dumps([{
        "event_type": "book", "timestamp": "3000",
        "market": "m", "asset_id": "66666666",
        "bids": [], "asks": []}]))
    f3 = w3.shutdown()
    assert manifest_path(f3).exists()


def test_read_manifest_counts_rejects_non_dict_book_counts(tmp_path):
    """A corrupt sidecar whose book_counts is a list/string must read as
    None (gate falls back to the scan), never raise."""
    from polymarket_data_ingestor_spark.manifest import (
        manifest_path,
        read_manifest_counts,
        read_manifest_max,
    )

    f = tmp_path / "2024-01-01-00.jsonl"
    f.write_text("x\n")
    for bad in ([1, 2], "nope", None, {"a": "not-an-int-x"}):
        manifest_path(f).write_text(json.dumps({
            "version": 1, "file_size": f.stat().st_size,
            "max_book_count": 1, "book_counts": bad,
        }))
        assert read_manifest_counts(f) is None, bad
        assert read_manifest_max(f) is None, bad


def test_manifest_same_size_rewrite_detected_via_mtime(tmp_path):
    """A data file rewritten to the EXACT same byte length must
    invalidate its sidecar: size alone cannot see the rewrite, mtime_ns
    can. Pre-r9 sidecars (no mtime field) keep the size-only check."""
    import os
    import time

    from polymarket_data_ingestor_spark.manifest import (
        manifest_path,
        read_manifest_counts,
        write_manifest,
    )

    f = tmp_path / "2024-01-01-00.jsonl"
    f.write_text('{"x": "book asset_id 1"}\n')
    write_manifest(f, {"1": 3})
    assert read_manifest_counts(f) == {"1": 3}

    # same-length rewrite, different content; force a different mtime
    # even on coarse-resolution filesystems
    f.write_text('{"y": "book asset_id 2"}\n')
    os.utime(f, ns=(time.time_ns(), time.time_ns() + 5_000_000))
    assert f.stat().st_size == json.loads(
        manifest_path(f).read_text()
    )["file_size"]
    assert read_manifest_counts(f) is None  # stale, gate re-scans

    # legacy sidecar without the field: size-only validation still holds
    doc = json.loads(manifest_path(f).read_text())
    del doc["file_mtime_ns"]
    doc["file_size"] = f.stat().st_size
    manifest_path(f).write_text(json.dumps(doc))
    assert read_manifest_counts(f) == {"1": 3}


def test_nonfinite_prices_rejected_like_reference_serde(spark, tmp_path):
    """try_cast accepts 'NaN'/'Infinity'/'-Infinity' as doubles, but the
    reference's Decimal parse rejects those strings — the whole message
    drops, no emission. Unguarded, a NaN price also corrupts the kernel
    (NaN dict keys never equal themselves: every NaN upsert opens a
    phantom level and a later best-recompute propagates NaN into the
    BBO order-dependently; reproduced — the NaN change even emitted a
    BBO pair the reference would not emit)."""
    mkt, asset = _mkt_id(11), _asset_id(11, 0)
    msgs = [
        {"event_type": "book", "timestamp": "1000", "market": mkt,
         "asset_id": asset, "bids": [{"price": "0.4", "size": "5"}],
         "asks": [{"price": "0.6", "size": "2"}]},  # ok
        {"event_type": "price_change", "timestamp": "2000", "market": mkt,
         "asset_id": asset,
         "changes": [{"price": "NaN", "size": "3", "side": "BUY"}]},
        {"event_type": "price_change", "timestamp": "2100", "market": mkt,
         "asset_id": asset,
         "changes": [{"price": "0.5", "size": "Infinity",
                      "side": "BUY"}]},
        {"event_type": "book", "timestamp": "2200", "market": mkt,
         "asset_id": asset,
         "bids": [{"price": "-Infinity", "size": "1"}],
         "asks": []},  # non-finite book level -> whole snapshot rejected
        {"event_type": "last_trade_price", "timestamp": "2300",
         "market": mkt, "asset_id": asset, "side": "SELL",
         "price": "Infinity", "size": "1"},
        {"event_type": "last_trade_price", "timestamp": "2400",
         "market": mkt, "asset_id": asset, "side": "BUY",
         "price": "0.45", "size": "NaN"},
        {"event_type": "price_change", "timestamp": "3000", "market": mkt,
         "asset_id": asset,
         "changes": [{"price": "0.45", "size": "7", "side": "BUY"}]},  # ok
    ]
    p = tmp_path / "2025-10-01-09.jsonl"
    p.write_text("\n".join(
        json.dumps({"timestamp": "t", "message_type": "feed_message",
                    "content": json.dumps([m])}) for m in msgs) + "\n")
    rows = _spark_rows(replay(spark, [str(p)], in_log_order=True,
                              ticks_only=False))
    assert rows == [
        ("1000", "BBO", mkt, asset, "ASK", 0.6, 2.0),
        ("1000", "BBO", mkt, asset, "BID", 0.4, 5.0),
        ("3000", "BBO", mkt, asset, "ASK", 0.6, 2.0),
        ("3000", "BBO", mkt, asset, "BID", 0.45, 7.0),
    ]
    assert rows == naive_replay([p])


def test_zero_price_side_encoding(spark, tmp_path):
    """A SELL at price "0" lands on ASK and a BUY at "0.0" on BID, for
    changes and trades alike (first input). A BUY at a negative price or
    at "-0" stays a bid (second input): the side is packed in its own
    slot, so no price value, whatever its sign, turns a BUY into a
    SELL. The reference keeps such a level as a bid at its Decimal
    price."""
    mkt, asset = _mkt_id(12), _asset_id(12, 0)
    book = {"event_type": "book", "timestamp": "1000", "market": mkt,
            "asset_id": asset, "bids": [{"price": "0.4", "size": "5"}],
            "asks": [{"price": "0.6", "size": "2"}]}
    zero_msgs = [
        book,
        {"event_type": "price_change", "timestamp": "2000", "market": mkt,
         "asset_id": asset,
         "changes": [{"price": "0", "size": "4", "side": "SELL"}]},
        {"event_type": "last_trade_price", "timestamp": "3000",
         "market": mkt, "asset_id": asset, "side": "SELL",
         "price": "0", "size": "1"},
        {"event_type": "price_change", "timestamp": "4000", "market": mkt,
         "asset_id": asset,
         "changes": [{"price": "0.0", "size": "3", "side": "BUY"},
                     {"price": "0.4", "size": "0", "side": "BUY"}]},
        {"event_type": "last_trade_price", "timestamp": "5000",
         "market": mkt, "asset_id": asset, "side": "BUY",
         "price": "0.0", "size": "2"},
    ]
    zero_rows = [
        ("1000", "BBO", mkt, asset, "ASK", 0.6, 2.0),
        ("1000", "BBO", mkt, asset, "BID", 0.4, 5.0),
        ("2000", "BBO", mkt, asset, "ASK", 0.0, 4.0),
        ("2000", "BBO", mkt, asset, "BID", 0.4, 5.0),
        ("3000", "TRADE", mkt, asset, "ASK", 0.0, 1.0),
        ("4000", "BBO", mkt, asset, "ASK", 0.0, 4.0),
        ("4000", "BBO", mkt, asset, "BID", 0.0, 3.0),
        ("5000", "TRADE", mkt, asset, "BID", 0.0, 2.0),
    ]
    negative_msgs = [
        book,
        {"event_type": "price_change", "timestamp": "2000", "market": mkt,
         "asset_id": asset,
         "changes": [{"price": "-0.5", "size": "3", "side": "BUY"}]},
        {"event_type": "price_change", "timestamp": "3000", "market": mkt,
         "asset_id": asset,
         "changes": [{"price": "0.4", "size": "0", "side": "BUY"}]},
        {"event_type": "price_change", "timestamp": "4000", "market": mkt,
         "asset_id": asset,
         "changes": [{"price": "-0", "size": "1", "side": "BUY"}]},
        {"event_type": "last_trade_price", "timestamp": "5000",
         "market": mkt, "asset_id": asset, "side": "BUY",
         "price": "-0", "size": "2"},
        {"event_type": "last_trade_price", "timestamp": "6000",
         "market": mkt, "asset_id": asset, "side": "BUY",
         "price": "-0.5", "size": "1"},
    ]
    negative_rows = [
        ("1000", "BBO", mkt, asset, "ASK", 0.6, 2.0),
        ("1000", "BBO", mkt, asset, "BID", 0.4, 5.0),
        ("2000", "BBO", mkt, asset, "ASK", 0.6, 2.0),
        ("2000", "BBO", mkt, asset, "BID", 0.4, 5.0),
        ("3000", "BBO", mkt, asset, "ASK", 0.6, 2.0),
        ("3000", "BBO", mkt, asset, "BID", -0.5, 3.0),
        ("4000", "BBO", mkt, asset, "ASK", 0.6, 2.0),
        ("4000", "BBO", mkt, asset, "BID", 0.0, 1.0),
        ("5000", "TRADE", mkt, asset, "BID", 0.0, 2.0),
        ("6000", "TRADE", mkt, asset, "BID", -0.5, 1.0),
    ]
    cases = [(zero_msgs, zero_rows), (negative_msgs, negative_rows)]
    for hour, (msgs, want) in enumerate(cases, start=10):
        p = tmp_path / f"2025-10-01-{hour}.jsonl"
        p.write_text("\n".join(
            json.dumps({"timestamp": "t", "message_type": "feed_message",
                        "content": json.dumps([m])}) for m in msgs) + "\n")
        rows = _spark_rows(replay(spark, [str(p)], in_log_order=True,
                                  ticks_only=False))
        assert rows == want, p.name
        assert rows == naive_replay([p]), p.name
