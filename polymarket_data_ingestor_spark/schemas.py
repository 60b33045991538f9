"""Explicit schemas for every table/wire format in the engine.

Derived from the reference's serde/Arrow definitions (SURVEY §1). All
correctness-critical reads use these — never ``inferSchema``.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# Raw frame log (one JSONL line per frame; collector/src/main.rs:17-23).
# `content` is polymorphic and stays a string here: for feed_message frames it
# is a *string-encoded JSON array* (double-encoded; tick_generator.rs:375-377),
# for active_markets it is a JSON object, and it can be the literal "PONG".
# ---------------------------------------------------------------------------
FRAME_SCHEMA = StructType(
    [
        StructField("timestamp", StringType(), True),  # RFC3339 (main.rs:28)
        StructField("message_type", StringType(), True),
        StructField("content", StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Feed message — tagged union on event_type (tick_generator.rs:379-443).
# One permissive struct: variant-specific fields are nullable; dispatch with
# filter(col("event_type") == ...). All numeric values arrive as decimal
# strings; timestamps are epoch-millisecond strings (bbo.ipynb cell 0).
# ---------------------------------------------------------------------------
PRICE_LEVEL_SCHEMA = StructType(
    [
        StructField("price", StringType(), True),
        StructField("size", StringType(), True),
    ]
)

PRICE_CHANGE_SCHEMA = StructType(
    [
        StructField("price", StringType(), True),
        StructField("size", StringType(), True),
        StructField("side", StringType(), True),  # wire labels BUY | SELL
    ]
)

FEED_MESSAGE_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), True),
        StructField("timestamp", StringType(), True),  # epoch-ms string
        StructField("market", StringType(), True),  # condition id 0x+64hex
        StructField("asset_id", StringType(), True),  # token id digit-string
        # last_trade_price only (tick_generator.rs:398-413):
        StructField("side", StringType(), True),  # BUY | SELL
        StructField("price", StringType(), True),
        StructField("size", StringType(), True),
        # book snapshot only (tick_generator.rs:415-428):
        StructField("bids", ArrayType(PRICE_LEVEL_SCHEMA), True),
        StructField("asks", ArrayType(PRICE_LEVEL_SCHEMA), True),
        # price_change only (tick_generator.rs:430-443):
        StructField("changes", ArrayType(PRICE_CHANGE_SCHEMA), True),
    ]
)

FEED_MESSAGE_ARRAY_SCHEMA = ArrayType(FEED_MESSAGE_SCHEMA)

# ---------------------------------------------------------------------------
# Market dimension (collector/src/lib.rs:31-66): fixed core fields + a dynamic
# remainder kept as a map (serde #[flatten] equivalent).
# ---------------------------------------------------------------------------
TOKEN_SCHEMA = StructType(
    [
        StructField("outcome", StringType(), True),
        StructField("price", DoubleType(), True),
        StructField("token_id", StringType(), True),
        StructField("winner", BooleanType(), True),
    ]
)

MARKET_SCHEMA = StructType(
    [
        StructField("condition_id", StringType(), True),
        StructField("question_id", StringType(), True),
        StructField("id", StringType(), True),
        StructField("question", StringType(), True),
        StructField("description", StringType(), True),
        StructField("closed", BooleanType(), True),
        StructField("accepting_orders", BooleanType(), True),
        StructField("active", BooleanType(), True),
        StructField("archived", BooleanType(), True),
        StructField("enable_order_book", BooleanType(), True),
        StructField("tokens", ArrayType(TOKEN_SCHEMA), True),
        StructField("other", MapType(StringType(), StringType()), True),
    ]
)

ACTIVE_MARKETS_SCHEMA = StructType(
    [
        StructField("markets", ArrayType(MARKET_SCHEMA), True),
        StructField("count", LongType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Tick fact table — exact reference sink shape (tick_generator.rs:50-58):
# 7 non-null columns; `timestamp` is the verbatim epoch-ms string and
# price/size are f64 downcasts. We additionally expose a typed view (see
# operators.replay.with_event_time) but the canonical schema matches the
# reference bit-for-bit for parity testing.
# ---------------------------------------------------------------------------
TICK_SCHEMA = StructType(
    [
        StructField("timestamp", StringType(), False),
        StructField("kind", StringType(), False),  # BBO | TRADE
        StructField("market", StringType(), False),
        StructField("asset", StringType(), False),
        StructField("side", StringType(), False),  # BID | ASK (sink labels)
        StructField("price", DoubleType(), False),
        StructField("size", DoubleType(), False),
    ]
)
