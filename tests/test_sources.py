"""Tests for frame parsing, path pruning, time parsing, and market queries."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest

from polymarket_data_ingestor_spark.sources.frames import (
    parse_feed_messages,
    read_frames,
)
from polymarket_data_ingestor_spark.sources.markets import (
    active_markets,
    filter_markets,
    market_tokens,
    read_market_info,
)
from polymarket_data_ingestor_spark.sources.paths import (
    discover_files,
    hour_range,
    parse_duration,
    parse_time_range,
    parse_timestamp_multi,
)

from fixture_gen import write_fixture_files


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    return write_fixture_files(tmp_path_factory.mktemp("rawlogs2"), n_hours=2,
                               msgs_per_hour=60, seed=7)


# --- frames ---------------------------------------------------------------

def test_read_frames_columns_and_file_hour(spark, fixture_paths):
    frames = read_frames(spark, [str(p) for p in fixture_paths])
    assert set(frames.columns) == {"timestamp", "message_type", "content",
                                   "file_hour", "line_id"}
    hours = {r.file_hour for r in frames.select("file_hour").distinct().collect()}
    assert hours == {"2025-09-30-14", "2025-09-30-15"}


def test_parse_feed_messages_skips_pong_and_keeps_position(spark, fixture_paths):
    frames = read_frames(spark, [str(p) for p in fixture_paths])
    feed = parse_feed_messages(frames)
    assert feed.filter("event_type IS NULL").count() == 0
    # PONG frames contribute zero messages.
    n_pong = frames.filter("content = 'PONG'").count()
    assert n_pong > 0  # fixture includes them
    assert feed.filter("msg_idx >= 3").count() == 0  # frames carry ≤3 msgs
    # unknown event types survive parsing (replay drops them later)
    assert feed.filter("event_type = 'tick_size_change'").count() > 0


def test_read_frames_unparseable_timestamp_gets_the_row_id_key(spark,
                                                              tmp_path):
    # an hour=<hour>/part-* file written before ``seq`` existed keys each
    # frame by its timestamp; one that does not parse gets a row id
    # (sorting first in its hour) instead of failing the scan under ANSI
    part = tmp_path / "hour=2025-01-01-00" / "part-0.json"
    part.parent.mkdir()
    part.write_text(
        '{"timestamp": "2025-01-01T00:00:01.000Z", '
        '"message_type": "feed_message", "content": "PONG"}\n'
        '{"timestamp": "t", "message_type": "feed_message", '
        '"content": "PONG"}\n'
    )
    rows = {r.timestamp: r for r in read_frames(spark, str(part)).collect()}
    assert rows["2025-01-01T00:00:01.000Z"].line_id == 1_735_689_601_000_000
    assert rows["t"].line_id < 1 << 40
    assert {r.file_hour for r in rows.values()} == {"2025-01-01-00"}


# --- markets --------------------------------------------------------------

def test_read_market_info_and_filters(spark, fixture_paths):
    frames = read_frames(spark, [str(p) for p in fixture_paths])
    mkts = read_market_info(frames)
    assert mkts.count() == 4
    act = active_markets(mkts)
    # fixture: market 2 not accepting orders, market 3 closed
    assert {r.condition_id for r in act.collect()} == \
        {"0x" + f"{0:064x}", "0x" + f"{1:064x}"}
    assert filter_markets(mkts, "EVENT 1").count() == 1
    toks = market_tokens(mkts)
    assert toks.count() == 8
    assert {"outcome", "token_id", "condition_id", "question"} <= set(toks.columns)


def test_read_market_info_variant_keeps_dynamic_fields(spark, fixture_paths):
    """The VARIANT reader must surface fields the fixed schema drops —
    the fixture plants `extra_dynamic_field` on every market."""
    from pyspark.sql import functions as F

    from polymarket_data_ingestor_spark.sources.markets import (
        read_market_info_variant,
    )

    frames = read_frames(spark, [str(p) for p in fixture_paths])
    v = read_market_info_variant(frames)
    out = v.select(
        F.variant_get("market", "$.condition_id", "string").alias("cid"),
        F.variant_get("market", "$.extra_dynamic_field", "string")
        .alias("dyn"),
        F.variant_get("market", "$.tokens[0].token_id", "string")
        .alias("tok0"),
    ).orderBy("cid").collect()
    assert len(out) == 4
    assert [r.dyn for r in out] == [f"dyn{i}" for i in range(4)]
    # typed nested-path extraction agrees with the schema'd reader
    fixed = {r.condition_id: r.tokens[0].token_id
             for r in read_market_info(frames).collect()}
    assert all(fixed[r.cid] == r.tok0 for r in out)


# --- paths / time parsing -------------------------------------------------

def test_parse_timestamp_multi():
    utc = timezone.utc
    assert parse_timestamp_multi("2025-09-30T14:03:07+00:00") == \
        datetime(2025, 9, 30, 14, 3, 7, tzinfo=utc)
    assert parse_timestamp_multi("2025-09-30T14:03:07") == \
        datetime(2025, 9, 30, 14, 3, 7, tzinfo=utc)
    assert parse_timestamp_multi("2025-09-30") == \
        datetime(2025, 9, 30, tzinfo=utc)
    # offset normalization
    assert parse_timestamp_multi("2025-09-30T16:00:00+02:00") == \
        datetime(2025, 9, 30, 14, 0, 0, tzinfo=utc)
    with pytest.raises(ValueError):
        parse_timestamp_multi("not a time")


def test_parse_duration_and_range():
    assert parse_duration("12h") == timedelta(hours=12)
    assert parse_duration("2d") == timedelta(days=2)
    with pytest.raises(ValueError):
        parse_duration("12x")
    now = datetime(2025, 9, 30, 14, 30, tzinfo=timezone.utc)
    start, end = parse_time_range("24h", now=now)
    assert start == now - timedelta(hours=24)
    assert end == datetime(2025, 9, 30, 13, 59, tzinfo=timezone.utc)


def test_hour_range_and_discover_files():
    utc = timezone.utc
    hrs = hour_range(datetime(2025, 9, 30, 13, 30, tzinfo=utc),
                     datetime(2025, 9, 30, 16, 0, tzinfo=utc))
    assert hrs == ["2025-09-30-13", "2025-09-30-14", "2025-09-30-15"]

    paths = [
        "/d/2025-09-30-13.jsonl.zst",
        "/d/2025-09-30-14.jsonl",
        "/d/2025-09-30-15.jsonl.zst",
        "/d/current.jsonl",  # non-matching name skipped
    ]
    # Range fully covering 14 only; 13 kept because its hour overlaps start.
    got = discover_files(paths, datetime(2025, 9, 30, 13, 30, tzinfo=utc),
                         datetime(2025, 9, 30, 15, 0, tzinfo=utc))
    assert got == ["/d/2025-09-30-13.jsonl.zst", "/d/2025-09-30-14.jsonl"]
    # No bounds → everything valid, sorted.
    assert discover_files(paths[::-1]) == paths[:3]


def test_frames_quality_report(spark, tmp_path):
    """Malformed/blank/PONG/feed accounting per file, with junk lines
    that PERMISSIVE parsing would silently drop."""
    import json

    from polymarket_data_ingestor_spark.sources.frames import (
        frames_quality_report,
    )

    good = json.dumps({
        "timestamp": "2025-01-01T00:00:00+00:00",
        "message_type": "feed_message",
        "content": json.dumps([{"event_type": "book"}]),
    })
    pong = json.dumps({
        "timestamp": "2025-01-01T00:00:01+00:00",
        "message_type": "feed_message",
        "content": "PONG",
    })
    lines = [good, "{ not json at all", pong, "", good, '{"other": 1}']
    p = tmp_path / "2025-01-01-00.jsonl"
    p.write_text("\n".join(lines) + "\n")
    p2 = tmp_path / "2025-01-01-01.jsonl"
    p2.write_text(good + "\n")

    rep = {r.file_hour: r for r in
           frames_quality_report(spark, [str(p), str(p2)]).collect()}
    r0 = rep["2025-01-01-00"]
    # 6 lines: 2 feed, 1 pong, 1 blank, 2 malformed (non-JSON + alien JSON)
    assert (r0.n_lines, r0.n_blank, r0.n_malformed, r0.n_feed, r0.n_pong) \
        == (6, 1, 2, 2, 1)
    assert r0.malformed_share == pytest.approx(2 / 6)
    r1 = rep["2025-01-01-01"]
    assert (r1.n_lines, r1.n_malformed, r1.n_feed) == (1, 0, 1)


def test_frames_quality_report_nonconforming_names_stay_separate(
    spark, tmp_path
):
    """Files outside the hour-naming convention must not all merge into
    one '' group — each keeps its own row, keyed by path."""
    import json

    from polymarket_data_ingestor_spark.sources.frames import (
        frames_quality_report,
    )

    good = json.dumps({"timestamp": "t", "message_type": "feed_message",
                       "content": json.dumps([{"event_type": "book"}])})
    (tmp_path / "a.jsonl").write_text(good + "\n")
    (tmp_path / "b.jsonl").write_text("junk\n")
    rep = frames_quality_report(
        spark, [str(tmp_path / "a.jsonl"), str(tmp_path / "b.jsonl")]
    ).collect()
    assert len(rep) == 2
    by_name = {r.file_hour.rsplit("/", 1)[-1]: r for r in rep}
    assert by_name["a.jsonl"].n_malformed == 0
    assert by_name["b.jsonl"].n_malformed == 1
def test_side_label_helpers_null_propagate(spark):
    """BUY/SELL <-> BID/ASK are total on the enum domain and NULL on
    anything else — a mislabeled book side is the worst silent failure
    for a market-data consumer (the old otherwise() mapped NULL and
    garbage to ASK/SELL)."""
    from polymarket_data_ingestor_spark.functions import (
        side_sink_label,
        side_wire_label,
    )

    df = spark.createDataFrame(
        [("BUY",), ("SELL",), (None,), ("junk",)], "side string"
    )
    got = [
        (r.sink, r.wire)
        for r in df.select(
            side_sink_label("side").alias("sink"),
            side_wire_label(side_sink_label("side")).alias("wire"),
        ).collect()
    ]
    assert got == [("BID", "BUY"), ("ASK", "SELL"), (None, None),
                   (None, None)]
