"""Structured Streaming: live tick generation + streaming frame sinks.

Batch replay (``operators.replay``) is the parity path; this module is the
*live* path (SURVEY §2.9 T8, §7 step 5): ``readStream`` over the collector's
frame files → replay's own packing and book kernel, run per asset by
``applyInPandasWithState`` → an append stream of ticks. Live and batch share
one set of rejection rules and one book loop, so over the same files they
emit the same ticks.

Ordering: the reference relies on per-connection FIFO order as logged
(SURVEY §2.9 note). Streaming preserves that per micro-batch by sorting each
group on the replay key ``(file_hour, line_id, msg_idx)``; across
micro-batches the file source's chronological discovery (hourly filenames)
preserves it end-to-end. Late *files* are not reordered — same contract as
the reference, which never reorders either.

State: one small JSON blob per asset (two price→size maps). With the
RocksDB state store on a real cluster this scales to millions of assets;
state size is O(book depth), not O(history).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StringType, StructField, StructType

from polymarket_data_ingestor_spark.operators.replay import (
    REPLAY_KEY,
    TICK_COLUMNS,
    _replay_rows,
    pack_feed_messages,
)
from polymarket_data_ingestor_spark.schemas import FRAME_SCHEMA, TICK_SCHEMA
from polymarket_data_ingestor_spark.sources.frames import (
    file_hour_col,
    parse_feed_messages,
)

STATE_SCHEMA = StructType([StructField("book_json", StringType(), True)])


def read_frames_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming scan of framed JSONL logs (same shape as read_frames).

    ``line_id`` is the persisted ``seq``, else the frame's timestamp in
    epoch micros. A frame with neither (no ``seq``, and a NULL or
    unparseable timestamp) gets a NULL ``line_id``, which the replay sort
    puts last in its hour (nulls last). Batch ``read_frames`` gives such
    a frame a row id that sorts first; a streaming plan has no row id.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        list(FRAME_SCHEMA.fields) + [StructField("seq", LongType(), True)]
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.json(path)
    # monotonically_increasing_id() is not allowed on streaming
    # DataFrames, so live mode orders frames by write_frames_stream's
    # persisted batch-major ``seq`` when the lake carries it (the total
    # arrival order — same preference as batch read_frames), falling
    # back to the log timestamp (the collector stamps every frame with
    # now() — monotone within a file, collector/src/main.rs:28) for
    # flat collector logs, where same-ms ties keep file-line order only
    # per the batch reader's documented residual. Batch replay keeps
    # exact line order; this is the documented live-mode ordering
    # contract.
    return df.select(
        *[c for c in df.columns if c != "seq"],
        file_hour_col().alias("file_hour"),
        F.coalesce(
            F.col("seq"), F.unix_micros(F.try_to_timestamp("timestamp"))
        ).alias("line_id"),
    )


def write_frames_stream(
    frames: DataFrame, path: str, checkpoint: str, compression: str = "gzip"
):
    """Hourly-partitioned streaming frame sink (S6 as a Spark sink).

    The collector's hand-rolled rotation becomes ``partitionBy(hour)`` on
    the frame timestamp; the codec option mirrors zstd-on-cluster (gzip
    locally). Returns the started StreamingQuery.

    The hour key is sliced LEXICALLY from the frame's RFC3339 UTC
    timestamp (``collector/src/main.rs:28`` stamps UTC) — a
    ``date_format`` would render it in the SESSION timezone and diverge
    from the collector's UTC file naming (review finding). Readers
    recover ``file_hour`` from this sink's ``hour=<hour>/`` layout via
    :func:`...sources.frames.file_hour_col`, so frames written here
    replay in the same cross-hour order as collector-written logs.

    Each frame also persists ``seq`` — the arrival-order replay key for
    this layout (r13 advisor: ``unix_micros(timestamp)`` alone is not a
    total order; same-ms bursts replayed in nondeterministic relative
    order, so a book snapshot and its deltas sharing a timestamp could
    rebuild out of log order). ``seq`` is batch-major:
    ``unix_millis(current_timestamp()) * 2^20 + row-in-partition mod
    2^20``. In a streaming query ``current_timestamp()`` is the BATCH
    timestamp from the offset log — constant within a micro-batch,
    strictly increasing across batches, and replayed bit-identically
    after a crash — so ``seq`` totally orders frames by (trigger, line
    order) exactly as the collector's flat files order by line. The
    row counter comes from a tiny order-preserving ``mapInPandas``
    pass (``monotonically_increasing_id`` is rejected in streaming
    plans; the collector stream is low-volume, so one Arrow hop is
    noise) over the batch coalesced to one partition: a source file
    bigger than the scan's split size is read by several tasks, and a
    per-task counter would restart at 0 in each of its splits, giving
    lines of one file equal ``seq``. Coalescing reads the splits in
    partition order, which is offset order within a file (the
    ``line_id`` argument in :mod:`...sources.frames`). The 20-bit row
    field wraps only past 2^20 rows per batch (order among SAME-batch
    frames is still correct unless a batch exceeds 1M rows; equal
    ``seq`` can then only arise ACROSS part files, where relative
    order is fixed-for-a-given-lake); the product stays under 2^63
    until year ~2248. Readers prefer ``seq`` and fall back to the
    timestamp key for lakes written before this column existed
    (:func:`...sources.frames.read_frames`).
    """
    from pyspark.sql.types import LongType, StructField, StructType

    row_schema = StructType(
        list(frames.schema.fields)
        + [StructField("__row", LongType(), True)]
    )

    def _stamp_rows(batches):
        n = 0
        for pdf in batches:
            pdf = pdf.assign(__row=range(n, n + len(pdf)))
            n += len(pdf)
            yield pdf

    hour = F.concat(
        F.substring("timestamp", 1, 10),
        F.lit("-"),
        F.substring("timestamp", 12, 2),
    ).alias("hour")
    seq = (
        F.unix_millis(F.current_timestamp()) * F.lit(1 << 20)
        + F.pmod(F.col("__row"), F.lit(1 << 20))
    ).alias("seq")
    return (
        frames.coalesce(1).mapInPandas(_stamp_rows, schema=row_schema)
        .withColumn("hour", hour)
        .withColumn("seq", seq)
        .drop("__row")
        .writeStream.format("json")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .option("compression", compression)
        .partitionBy("hour")
        .start()
    )


def apply_cdc_stream(
    updates: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: tuple[str, ...],
    partition_cols: tuple[str, ...] = ("dt",),
    max_records_per_file: int = 5_000_000,
    available_now: bool = False,
):
    """Continuous MERGE of a keyed change stream into a partitioned
    parquet lake — the streaming form of
    :func:`~polymarket_data_ingestor_spark.sinks.upsert_lake_partitions`:
    each micro-batch replaces same-key rows, inserts new keys and new
    partitions, and leaves untouched directories byte-identical.

    Mechanics: ``foreachBatch`` hands each micro-batch to the batch
    upsert. Delivery is at-least-once (a batch replayed after a crash
    between the upsert's commit and the checkpoint's is applied again),
    but the upsert is idempotent for an unchanged batch — re-applying
    replaces rows with identical rows — so the lake converges to
    exactly-once CONTENT as long as no other writer interleaves within
    the replay window; that is the standard foreachBatch contract and
    it is the caller's deployment invariant, not something this
    function can enforce on plain parquet.

    Scale shape inherits from the batch op: cost per trigger ∝ touched
    partitions + batch, never the lake — which is what makes continuous
    CDC-apply viable against a 100 TB lake, provided the stream's keys
    cluster into few partitions per trigger (they do for time-keyed
    feeds: a trigger touches the current hour/day plus stragglers).
    ``available_now=True`` drains the backlog and terminates (the
    catch-up / scheduled-batch mode); the default runs continuously.
    Returns the started StreamingQuery.
    """
    from polymarket_data_ingestor_spark.sinks import upsert_lake_partitions

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        upsert_lake_partitions(
            batch.sparkSession,
            path,
            batch,
            key_cols,
            partition_cols,
            max_records_per_file,
        )

    writer = (
        updates.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _live_kernel(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """``applyInPandasWithState`` function: replay one asset's micro-batch
    with batch replay's kernel, carrying the book in ``state``.

    A hot asset's micro-batch can arrive as several Arrow chunks in no
    particular order, so the chunks are joined and sorted by the replay
    key before :func:`_replay_rows` continues from the stored book. The
    state is one JSON string, ``{"bids": [[p, s], ...], "asks": [...]}``.
    """
    book = (json.loads(state.get[0]) if state.exists
            else {"bids": [], "asks": []})
    bids, asks = dict(book["bids"]), dict(book["asks"])
    carry = [bids, asks, max(bids, default=None), min(asks, default=None)]
    pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
        REPLAY_KEY, kind="mergesort"
    )
    ticks = _replay_rows(pdf, [], carry)
    state.update((json.dumps({
        "bids": list(carry[0].items()), "asks": list(carry[1].items())
    }),))
    yield ticks[TICK_COLUMNS]


def dedup_feed_stream(
    feed: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Drop duplicate feed messages within a watermark window.

    Reconnects can re-deliver frames the server already sent (the
    reference logs whatever arrives; duplicates replay as duplicate
    ticks). For live pipelines that want exactly-once message semantics,
    this keys each message by (asset, event time, content fingerprint)
    and applies ``dropDuplicatesWithinWatermark`` — state is bounded by
    the watermark horizon instead of growing forever.

    ``feed`` is ``parse_feed_messages`` output on a streaming frames
    DataFrame. The content fingerprint hashes the full message struct,
    so two genuinely identical deliveries dedup while distinct messages
    at the same millisecond survive.
    """
    keyed = feed.withColumn(
        "__event_time", F.timestamp_millis(F.col("timestamp").cast("long"))
    ).withColumn(
        "__msg_fp",
        F.md5(F.to_json(F.struct(*[
            c for c in feed.columns
            if c not in ("file_hour", "line_id", "msg_idx")
        ]))),
    )
    return (
        keyed.withWatermark("__event_time", watermark)
        .dropDuplicatesWithinWatermark(["asset_id", "__event_time",
                                        "__msg_fp"])
        .drop("__msg_fp", "__event_time")
    )


def live_bbo_bars(
    ticks_stream: DataFrame,
    every: str = "1 minute",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Streaming 1-minute BBO bars with a watermark (late-data extension).

    The reference has no watermarks (SURVEY §2.9: replay trusts log order);
    live aggregation needs one to bound state: events later than
    ``watermark`` behind the max seen event time are dropped and windows
    finalize. Uses ONE ``max_by(struct(price, size), event_time)`` for
    the in-window 'last': two independent max_by aggregates would
    resolve event-time TIES independently and could emit a (price,
    size) pair taken from two different ticks — a BBO state that never
    existed (review finding; tick timestamps are epoch-ms, same-ms
    bursts are routine). The struct pick is atomic; which tied tick
    wins stays nondeterministic (the batch twin's total (file, line,
    msg) key does not exist on a stream), but the pair is always real.

    Topology note: feed this from a *tick stream source* (e.g. a
    ``readStream`` over the parquet directory that :func:`live_ticks`
    writes), not by chaining directly onto the ``applyInPandasWithState``
    output — two stateful operators in one query don't propagate the
    watermark, and ticks-as-a-durable-table is the production shape anyway.
    """
    typed = ticks_stream.withColumn(
        "event_time", F.timestamp_millis(F.col("timestamp").cast("long"))
    )
    return (
        typed.filter(F.col("kind") == "BBO")
        .withWatermark("event_time", watermark)
        .groupBy(
            F.window("event_time", every).alias("w"), "asset", "side"
        )
        .agg(
            F.max_by(
                F.struct("price", "size"), "event_time"
            ).alias("__last")
        )
        .select(
            F.col("w.start").alias("bar_time"), "asset", "side",
            F.col("__last.price").alias("price"),
            F.col("__last.size").alias("size"),
        )
    )


def live_ohlc_bars(
    ticks_stream: DataFrame,
    every: str = "1 minute",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Streaming OHLCV candles with a watermark — the live twin of
    ``operators/bars.py::ohlc_bars``.

    Same windowed-aggregate shape as :func:`live_bbo_bars` (watermark
    bounds state; append mode emits a window once the watermark passes
    its end), over TRADE ticks: open/close via ``min_by``/``max_by`` on
    event time, decimal-exact volume. Ties at the same event-time
    millisecond break arbitrarily (the durable tick table carries no
    replay order key) — batch ``ohlc_bars`` over the replay output is
    the deterministic form; this is the monitoring view.

    Topology: feed from a tick-stream source (``readStream`` over the
    durable tick table), not chained onto the stateful tick generator —
    same watermark-propagation constraint as :func:`live_bbo_bars`.
    """
    typed = ticks_stream.withColumn(
        "event_time", F.timestamp_millis(F.col("timestamp").cast("long"))
    )
    t = F.col("event_time")
    return (
        typed.filter(F.col("kind") == "TRADE")
        .withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", every).alias("w"), "asset")
        .agg(
            F.min_by("price", t).alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max_by("price", t).alias("close"),
            F.sum(F.col("size").cast("decimal(28,10)"))
            .cast("double")
            .alias("volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .select(
            F.col("w.start").alias("bar_time"), "asset",
            "open", "high", "low", "close", "volume", "n_trades",
        )
    )


def live_sessions(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming gap-based sessionization — the live twin of the batch
    ``sessionize`` catalog entry, on Spark's native ``session_window``
    (merging session state, watermark-bounded; no custom stateful UDF).

    Emits one row per finalized session: ``(user, session_start,
    session_last, n_events)`` where ``session_start``/``session_last``
    are the first/last event times (NOT the window end — Spark pads the
    window end by ``gap`` past the last event; we report observed
    times so the columns line up with the batch form's min/max).

    Boundary convention differs from batch by one instant: the batch
    form starts a new session when the inter-event gap is STRICTLY
    greater than ``gap`` (lag-compare ``>``), while ``session_window``
    merges an event only while it lands strictly inside the padded
    window — an event exactly ``gap`` after its predecessor starts a
    new session here but continues the session in batch. Continuous
    event times never hit the boundary; document-aligned consumers
    should pick one form, not mix them.

    Scale shape: session aggregation state is per (user, open-session)
    and bounded by the watermark; the shuffle is hash(user) like any
    per-key agg. Append mode emits a session once the watermark passes
    ``session_last + gap``.
    """
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("__w"),
            F.col(user_col),
        )
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_last"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(user_col, "session_start", "session_last", "n_events")
    )


def live_ticks(frames_stream: DataFrame) -> DataFrame:
    """Streaming frames → streaming ticks (append mode, per-asset state).

    The streaming twin of :func:`...operators.replay.replay`: the same
    packing (:func:`...operators.replay.pack_feed_messages`, so the same
    messages are rejected) and the same book loop, run per asset by
    ``applyInPandasWithState`` with the book kept between micro-batches.
    Over the same files it emits the same tick rows as batch replay, in
    micro-batch order rather than log order.
    """
    packed = pack_feed_messages(parse_feed_messages(frames_stream))
    return packed.groupBy("asset_id").applyInPandasWithState(
        _live_kernel,
        outputStructType=TICK_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def live_ewma(
    events_stream: DataFrame,
    alpha: float = 0.5,
    value_col: str = "value",
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of ``analytics.ewma`` — the recursion
    ``e_t = α·v_t + (1−α)·e_{t−1}`` is the textbook stateful streaming
    operator: per-key state is ONE double (the running ``e_{t−1}``),
    carried across micro-batches (and across restarts, via the
    checkpoint) by ``applyInPandasWithState``. Every arriving event
    emits its smoothed value immediately; state never grows with
    history.

    Ordering contract (live mode, same as ``live_ticks``): rows are
    sorted by (ts, order) WITHIN each micro-batch, and batches apply in
    arrival order — equal to the batch operator's full (ts, order)
    total order whenever the stream delivers in order (an
    ``availableNow`` drain of hourly logs, or the collector's
    monotone-timestamp feed). A late row landing in a later batch
    smooths forward from the state at its arrival, not its timestamp —
    retro-insertion needs the batch operator over the durable table.

    The per-event float ops are literally the batch kernel's
    (``α·v`` then ``(1−α)·e`` then one add), so an in-order drain is
    bit-identical to ``analytics.ewma`` (pinned in pytest, including a
    cross-restart continuation through the checkpoint).

    State growth: one row per DISTINCT key ever seen. For a bounded key
    universe (assets, instruments) that is genuinely flat; for an
    unbounded one (users arriving and churning forever) set
    ``state_ttl_ms`` — keys idle longer than the TTL are evicted on a
    processing-time timeout, and a returning key's next event re-seeds
    the recursion (``e = v``). The semantic loss is negligible by
    construction: an event older than a sensible TTL contributes weight
    ``(1−α)^n`` ≈ 0 to the current smoothed value. TTL is for
    CONTINUOUS deployments only: under ``Trigger.AvailableNow`` a
    pending processing-time timer holds the query open past its data,
    so batch-style drains should leave it unset.
    """
    if not (0 < alpha <= 1):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if state_ttl_ms is not None and state_ttl_ms <= 0:
        raise ValueError(f"state_ttl_ms must be > 0, got {state_ttl_ms}")
    from polymarket_data_ingestor_spark.operators.analytics import (
        ewma_prepare,
        ewma_series,
    )

    a = float(alpha)

    def _kernel(key, pdfs, state):
        if state_ttl_ms is not None and state.hasTimedOut:
            state.remove()  # idle key evicted; next event re-seeds
            return
        prev = state.get[0] if state.exists else None
        parts = [pdf for pdf in pdfs if len(pdf)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True).sort_values(
            ["ts_us", order_col], kind="mergesort"
        )
        # shared bit-exact kernel (C-rate when provably identical op
        # sequence, loop otherwise; raises on null values) — seeded at
        # the checkpointed prev so a restart continues the recursion
        out = ewma_series(pdf[value_col].to_numpy(), a, prev)
        pdf["ewma"] = out
        state.update((float(out[-1]),))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        yield pdf

    prepared, out_schema = ewma_prepare(
        events_stream, value_col, key_col, ts_col, order_col
    )
    return prepared.groupBy(key_col).applyInPandasWithState(
        _kernel,
        outputStructType=out_schema,
        stateStructType="prev double",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def live_holt(
    events_stream: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.5,
    value_col: str = "value",
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of ``analytics.holt_linear`` — per-key state is
    the ``(level, trend)`` double pair, carried across micro-batches
    and restarts by ``applyInPandasWithState``; every arriving event
    emits its level/trend/one-step forecast immediately.

    Same ordering contract, TTL semantics, and bit-parity policy as
    :func:`live_ewma` (the float steps come from the SHARED
    ``analytics.holt_series`` kernel, so an in-order drain is
    bit-identical to the batch operator by construction — pinned in
    pytest including a cross-restart continuation). An evicted or new
    key re-seeds ``level = v, trend = 0``.
    """
    from polymarket_data_ingestor_spark.operators.analytics import (
        _validate_holt,
        holt_prepare,
        holt_series,
    )

    _validate_holt(alpha, beta)
    if state_ttl_ms is not None and state_ttl_ms <= 0:
        raise ValueError(f"state_ttl_ms must be > 0, got {state_ttl_ms}")

    def _kernel(key, pdfs, state):
        if state_ttl_ms is not None and state.hasTimedOut:
            state.remove()  # idle key evicted; next event re-seeds
            return
        seed = tuple(state.get) if state.exists else None
        parts = [pdf for pdf in pdfs if len(pdf)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True).sort_values(
            ["ts_us", order_col], kind="mergesort"
        )
        levels, trends, fcs = holt_series(
            pdf[value_col].to_list(), alpha, beta, seed
        )
        pdf["level"] = levels
        pdf["trend"] = trends
        pdf["forecast"] = fcs
        state.update((levels[-1], trends[-1]))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        yield pdf

    prepared, out_schema = holt_prepare(
        events_stream, value_col, key_col, ts_col, order_col
    )
    return prepared.groupBy(key_col).applyInPandasWithState(
        _kernel,
        outputStructType=out_schema,
        stateStructType="level double, trend double",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def live_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: tuple[str, ...] = ("user_id",),
    left_ts: str = "ts",
    right_ts: str = "quote_ts",
    tolerance_seconds: int = 600,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: every left event pairs with every
    right event of the same key whose time lies in
    ``[left_ts − tolerance, left_ts]`` — the live "which quotes stood
    near this trade" enrichment, Spark's canonical two-stream join
    shape (equi-key + event-time band, watermarks on BOTH sides so the
    join state is provably bounded).

    Emits ALL in-band matches, not the single latest one: a streaming
    "as-of" pick needs custom ordered state (``transformWithState``),
    so a caller that wants only the latest match per left event picks
    it from this output. ``right_ts`` must differ from ``left_ts``
    (both survive into the output).

    Scale shape: both streams shuffle on the key; per-key state holds
    only rows inside watermark + tolerance (Spark derives the state
    eviction bound from the band predicate — without the band, state
    would grow forever and the query is rightly rejected in append
    mode). Late rows beyond the watermark drop, same contract as every
    watermarked op.
    """
    if left_ts == right_ts:
        raise ValueError(
            "left_ts and right_ts must differ (both are emitted); "
            f"got {left_ts!r} twice"
        )
    clash = (set(left.columns) & set(right.columns)) - set(key_cols)
    if clash:
        raise ValueError(
            "non-key columns shared by both streams would emit "
            f"duplicate names: {sorted(clash)} — rename one side"
        )
    l_ = left.withWatermark(left_ts, watermark).alias("l")
    r_ = right.withWatermark(right_ts, watermark).alias("r")
    cond = None
    for k in key_cols:
        c = F.col(f"l.{k}") == F.col(f"r.{k}")
        cond = c if cond is None else cond & c
    band = (
        F.col(f"r.{right_ts}")
        >= F.col(f"l.{left_ts}") - F.expr(
            f"INTERVAL {int(tolerance_seconds)} SECONDS"
        )
    ) & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}"))
    joined = l_.join(r_, cond & band, "inner")
    keep_r = [
        c for c in right.columns if c not in key_cols
    ]
    return joined.select(
        *[F.col(f"l.{c}") for c in left.columns],
        *[F.col(f"r.{c}") for c in keep_r],
    )


def live_active_users(
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "1 hour",
    user_col: str = "user_id",
    ts_col: str = "ts",
    exact: bool = False,
) -> DataFrame:
    """Windowed distinct-user counts on a live stream — the realtime
    "hourly active users" panel: tumbling event-time windows with a
    watermark, emitting one finalized row per window in append mode.

    Default is ``approx_count_distinct`` (HLL): constant aggregation
    state per window regardless of user cardinality — the only shape
    that survives unbounded key spaces on a stream (Spark rejects a
    streaming ``count_distinct`` outright). ``exact=True`` instead
    CHAINS two streaming aggregations — per-(window, user) event
    counts, then a per-window rollup (multiple stateful operators in
    append mode, a Spark 3.4+/4.x capability) — exact counts at the
    cost of state per distinct user in each open window; fine for
    bounded populations, and the batch ``count_distinct_users`` entry
    is the exact reference the sketch mode is accuracy-pinned against
    in EXACTNESS tier 3.

    Scale shape: hash(window) shuffle of map-side partially-merged
    sketches (approx) or hash(window, user) then hash(window) (exact);
    the watermark bounds state to open windows either way.
    """
    wm = events_stream.withWatermark(ts_col, watermark)
    w = F.window(F.col(ts_col), window).alias("__w")
    if exact:
        per_user = wm.groupBy(w, F.col(user_col)).agg(
            F.count(F.lit(1)).alias("__n")
        )
        return (
            per_user.groupBy("__w")
            .agg(
                F.count(F.lit(1)).alias("n_users"),
                F.sum("__n").alias("n_events"),
            )
            .select(
                F.col("__w.start").alias("window_start"),
                "n_users",
                "n_events",
            )
        )
    return (
        wm.groupBy(w)
        .agg(
            F.approx_count_distinct(F.col(user_col)).alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("__w.start").alias("window_start"),
            "n_users",
            "n_events",
        )
    )


def _list_partition_values(
    spark: SparkSession,
    path: str,
    prefix: str,
    require_success: bool,
) -> list[str]:
    """Shared Hadoop-FS listing behind :func:`_rollup_versions`,
    :func:`state_labels` and :func:`_batch_partitions` (so the same
    code runs on HDFS/S3A/local — ``pathlib`` silently sees nothing on
    an object store): raw values of ``<prefix><value>`` child dirs,
    optionally ``_SUCCESS``-gated. One implementation so robustness
    guards cannot drift between the three callers again (the review
    found one of the three parsing ints unguarded)."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(prefix)):
            continue
        if require_success and not fs.exists(
            jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
        ):
            continue
        out.append(name[len(prefix):])
    return out


def _int_partition_values(vals: list[str]) -> list[int]:
    # non-numeric strays (v=tmp, b=backup) are ignored, not a permanent
    # ValueError on every read (review finding)
    return sorted(int(v) for v in vals if v.lstrip("-").isdigit())


def _rollup_versions(spark: SparkSession, state_path: str) -> list[int]:
    """Committed state versions (``v=N`` dirs with a ``_SUCCESS``
    marker) under ``state_path``, ascending."""
    return _int_partition_values(
        _list_partition_values(spark, state_path, "v=", True)
    )


def commit_rollup_version(
    spark: SparkSession,
    state_path: str,
    state: DataFrame,
    version: int,
    prior: list[int],
    retain_versions: int,
    n_files: int = 1,
) -> None:
    """THE MVCC commit sequence — one copy, shared by
    :func:`live_materialize` and the CLI's ``lake stats`` fold (it is
    crash-safety-critical, so it must not drift between callers):
    write ``state`` as ``state_path/v=version`` (overwrite — a
    pre-existing dir can only be a TORN write, since committed
    versions are ``_SUCCESS``-gated and ``version`` is above them
    all), then GC committed predecessors more than ``retain_versions``
    behind. ``prior`` is the ascending committed-version list strictly
    below ``version``. Sketch-bounded states are keys-sized — one file
    (the default) is the right layout; a high-cardinality-key
    ``summary``/``distinct`` state should scale ``n_files`` like
    :func:`fold_labeled_state`."""
    if n_files < 1:
        raise ValueError(f"n_files must be >= 1, got {n_files}")
    state.coalesce(n_files).write.mode("overwrite").parquet(
        f"{state_path}/v={version}"
    )
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(state_path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    for v in prior[:-retain_versions]:
        fs.delete(jvm.org.apache.hadoop.fs.Path(
            f"{state_path}/v={v}"), True)


# ---------------------------------------------------------------------------
# Label-partitioned (windowed) monoid states
#
# The cumulative v=N fold answers "all history"; these answer "the last
# N days" — which a cumulative state CANNOT, because most of the monoid
# family has no subtraction (min/max, HLL, quantile sketch, MG, bottom-k,
# top-k, MinHash are monoids, not groups). The standard fix is
# partitioned state: each delta's OWN aggregate lands under
# ``d=<label>`` (a pure function of that delta — re-folding a label
# overwrites it with identical content, so idempotence needs no
# predecessor read at all), retention deletes old labels, and a window
# query merges the retained labels at read time. Cost: fold ∝ delta;
# read ∝ window_size × keys × state size — at 100 TB that is the
# difference between "re-scan 90 days" and "merge 90 keys-sized
# tables".
# ---------------------------------------------------------------------------


def validate_state_label(label: str) -> None:
    """The ONE label-validity predicate (shared by
    :func:`fold_labeled_state` and the CLI's pre-Spark argument check —
    two copies would let a label pass the cheap guard and then raise a
    traceback after JVM startup). Raises ``ValueError``."""
    if not label or "/" in label or label.startswith("."):
        raise ValueError(f"bad state label: {label!r}")


def fold_labeled_state(
    spark: SparkSession, state_path: str, label: str, state: DataFrame,
    n_files: int = 1,
) -> None:
    """Write ``state`` (one monoid state table — the aggregate of ONE
    delta) as ``state_path/d=<label>``. Overwrite: the state is a pure
    function of its delta, so a re-fold (retry, backfill, crash
    recovery) replaces the label with identical content — exactly-once
    semantics without any predecessor read. Labels must sort in time
    order for ``last_n`` windows (ISO dates/hours do).

    ``n_files`` CAPS the commit's write parallelism (r11 verdict):
    the default 1 is right for sketch-bounded states (quantile/HH/
    sample/topk/minhash — a handful of KB per key), but a
    high-cardinality-key ``summary``/``distinct`` state is keys-sized,
    and funneling millions of rows through one writer task serializes
    the commit; scale it with the state (readers never care — every
    consumer globs the directory). It is a ``coalesce`` cap, not a
    repartition: a state that AQE already shrank below ``n_files``
    partitions writes fewer files rather than paying a shuffle to
    split what is, by that evidence, already small."""
    validate_state_label(label)
    if n_files < 1:
        raise ValueError(f"n_files must be >= 1, got {n_files}")
    state.coalesce(n_files).write.mode("overwrite").parquet(
        f"{state_path}/d={label}"
    )


def state_labels(spark: SparkSession, state_path: str) -> list[str]:
    """Committed (``_SUCCESS``-gated) labels under ``state_path``,
    ascending."""
    return sorted(_list_partition_values(spark, state_path, "d=", True))


def read_window_state(
    spark: SparkSession,
    state_path: str,
    merge_fn,
    last_n: int | None = None,
    labels: list[str] | None = None,
) -> DataFrame:
    """The window's merged state: ONE multi-directory parquet read of
    the last ``last_n`` committed labels (all of them when None),
    canonically merged by ONE ``merge_fn(states)`` call — the repo's
    ``merge_*`` fns are variadic and union-then-merge internally, so a
    90-label window is one scan + one shuffle, never a chain of 89
    binary merges (an O(N)-deep plan with a shuffle per step — the
    r11 review's finding). Raises if the window is empty.

    Pass ``labels`` (an already-listed committed set) to pin exactly
    which labels are merged — callers that also REPORT the window must
    use one listing for both, or a concurrent fold/expire between two
    listings makes the report disagree with the merge (and a remote FS
    pays two listings where one suffices)."""
    if last_n is not None and last_n < 1:
        # labels[-0:] is the WHOLE list — a computed last_n of 0 would
        # silently merge the full history (the opposite of the request,
        # arbitrarily expensive at 90+ labels), and a negative value
        # drops the OLDEST labels instead; both refuse (review finding,
        # mirroring expire_state_labels' keep_last guard)
        raise ValueError(
            f"read_window_state: last_n must be >= 1, got {last_n}"
        )
    if labels is None:
        labels = state_labels(spark, state_path)
        if last_n is not None:
            labels = labels[-last_n:]
    if not labels:
        raise FileNotFoundError(
            f"no committed labeled state under {state_path}"
        )
    return merge_fn(spark.read.parquet(
        *[f"{state_path}/d={lb}" for lb in labels]
    ))


def expire_state_labels(
    spark: SparkSession, state_path: str, keep_last: int
) -> list[str]:
    """Retention: delete committed labels beyond the newest
    ``keep_last``; returns the expired labels. ``keep_last >= 1``."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    labels = state_labels(spark, state_path)
    gone = labels[:-keep_last]
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(state_path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    for lb in gone:
        fs.delete(jvm.org.apache.hadoop.fs.Path(
            f"{state_path}/d={lb}"), True)
    return gone


def compact_state_labels(
    spark: SparkSession,
    state_path: str,
    labels: list[str],
    into_label: str,
    merge_fn,
    contract: str | None = None,
) -> tuple[str, list[str]]:
    """Hierarchical window maintenance: merge ``labels`` into one
    coarser ``into_label`` (e.g. 31 dailies → ``2026-08``) and delete
    the sources — so a 3-year window is ~36 monthly states, not ~1100
    dailies. Monoid associativity is exactly what makes this lossless:
    merge(compacted, rest) == merge(all). One multi-dir read + one
    ``merge_fn(states)`` call, like :func:`read_window_state`.
    Returns ``(action, removed_labels)`` where action is ``"merged"``
    or ``"resumed"`` — callers report what actually happened.

    Crash-safety is MANIFEST-based (the r11 second review showed a
    heuristic resume — "coarse committed + sources missing ⇒ finish
    deletes" — silently deletes unmerged sources when an operator
    re-targets an EXISTING coarse label or typos one source): the
    recorded source list ``_compact_d=<into>.json`` is written before
    the merge (via temp-file + rename, so a torn manifest cannot
    exist), the coarse label commits, the sources delete, the manifest
    deletes — so a re-run resumes from the manifest's exact recorded
    set at every crash point, and WITHOUT a manifest a committed
    ``into_label`` REFUSES (compacted labels are immutable; to extend
    one, compact [it + the new sources] into a NEW label).

    A resume must be THE SAME compaction: it refuses when the caller's
    ``labels`` differ from the recorded set, or when ``contract``
    (an opaque caller string — the CLI passes ``stat/keys``) differs
    from the recorded one — otherwise a mistyped re-run would re-merge
    the recorded sources with the WRONG merge function and then delete
    them. It also refuses (with a clear error, not an
    AnalysisException) when a recorded source expired between the
    crash and the resume while the coarse label never committed —
    that compaction is unrecoverable; delete the manifest to abandon
    it. Duplicate sources are rejected (reading a label twice would
    double-count every non-idempotent stat). ``into_label`` must sort
    consistently with the caller's window semantics (compact
    oldest-first); mixed-granularity windows after compaction are the
    caller's contract."""
    import json as _json

    if not labels:
        raise ValueError("labels to compact must be non-empty")
    if len(set(labels)) != len(labels):
        dups = sorted({lb for lb in labels if labels.count(lb) > 1})
        raise ValueError(
            f"duplicate source labels {dups} — reading a label twice "
            "would double-count non-idempotent stats"
        )
    if into_label in labels:
        raise ValueError("into_label cannot be one of the sources")
    validate_state_label(into_label)
    committed = set(state_labels(spark, state_path))
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(state_path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    manifest = jvm.org.apache.hadoop.fs.Path(
        f"{state_path}/_compact_d={into_label}.json"
    )

    def _delete_sources(srcs: list[str]) -> list[str]:
        removed = []
        for lb in srcs:
            if lb in committed:
                fs.delete(jvm.org.apache.hadoop.fs.Path(
                    f"{state_path}/d={lb}"), True)
                removed.append(lb)
        return removed

    if fs.exists(manifest):
        # resume a crashed compaction from the RECORDED source set
        # (never the caller's argument — a typo there must not steer
        # the recovery), and only when it IS the same compaction
        stream = fs.open(manifest)
        raw = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        stream.close()
        doc = _json.loads(raw)  # rename-committed: never torn
        recorded = doc["labels"]
        if set(recorded) != set(labels):
            raise ValueError(
                f"a compaction into d={into_label} is pending with a "
                f"DIFFERENT recorded source set {recorded} — resume "
                "with exactly those labels, or delete the manifest to "
                "abandon it"
            )
        if doc.get("contract") != contract:
            raise ValueError(
                f"a compaction into d={into_label} is pending under "
                f"contract {doc.get('contract')!r}, not {contract!r} "
                "— resuming with a different stat/keys would merge "
                "the sources wrongly and then delete them"
            )
        if into_label not in committed:
            # crashed between manifest write and the coarse commit:
            # deletes never ran, every recorded source must still be
            # here — if retention expired one meanwhile, the merge is
            # unrecoverable and must say so, not AnalysisException
            gone = [lb for lb in recorded if lb not in committed]
            if gone:
                raise ValueError(
                    f"cannot resume compaction into d={into_label}: "
                    f"recorded source(s) {gone} are no longer "
                    "committed (expired after the crash) and the "
                    "coarse label never committed — delete the "
                    "manifest to abandon"
                )
            out = merge_fn(spark.read.parquet(
                *[f"{state_path}/d={lb}" for lb in recorded]
            ))
            fold_labeled_state(spark, state_path, into_label, out)
        removed = _delete_sources(recorded)
        fs.delete(manifest, False)
        return ("resumed", removed)

    if into_label in committed:
        raise ValueError(
            f"d={into_label} is already committed and no compaction "
            "manifest exists — compacted labels are immutable "
            "(overwriting would destroy the previously merged "
            "history); compact [it + the new sources] into a NEW "
            "label instead"
        )
    missing = [lb for lb in labels if lb not in committed]
    if missing:
        raise ValueError(
            f"labels to compact must all be committed; missing {missing}"
        )
    # manifest BEFORE the merge: from here every crash point resumes.
    # Temp-file + rename so a crash mid-write can never leave a torn
    # manifest that bricks recovery (rename is atomic on HDFS/local)
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{state_path}/._compact_d={into_label}.json.tmp"
    )
    stream = fs.create(tmp, True)
    stream.write(bytearray(
        _json.dumps({"labels": labels, "contract": contract}), "utf-8"
    ))
    stream.close()
    if fs.exists(manifest):
        fs.delete(manifest, False)
    if not fs.rename(tmp, manifest):
        raise IOError(f"could not commit compaction manifest {manifest}")
    out = merge_fn(spark.read.parquet(
        *[f"{state_path}/d={lb}" for lb in labels]
    ))
    fold_labeled_state(spark, state_path, into_label, out)
    removed = _delete_sources(labels)
    fs.delete(manifest, False)
    return ("merged", removed)


def live_labeled_rollup(
    events: DataFrame,
    state_path: str,
    checkpoint: str,
    state_fn,
    retain_labels: int | None = None,
    available_now: bool = False,
):
    """The windowed streaming twin: each micro-batch's OWN monoid
    state lands under ``d=<zero-padded batch_id>`` — a pure function
    of that batch alone, so an at-least-once replay overwrites the
    label with identical content (even simpler than
    :func:`live_materialize`'s strictly-below read: there is no
    predecessor to get wrong). Query with :func:`read_window_state`
    (``last_n`` = "the last N triggers"); ``retain_labels`` keeps the
    newest N labels after each commit. Zero-padding makes numeric
    batch ids sort lexicographically — the window order
    ``state_labels`` relies on."""
    if retain_labels is not None and retain_labels < 1:
        # fail FAST like live_materialize's retain_versions guard — an
        # invalid value raising inside foreachBatch would kill the
        # stream only after the first batch already folded state
        raise ValueError("retain_labels must be >= 1")

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        fold_labeled_state(spark, state_path, f"{batch_id:020d}",
                           state_fn(batch))
        if retain_labels is not None:
            expire_state_labels(spark, state_path, retain_labels)

    writer = (
        events.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_rollup_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The current (latest committed) rollup state table — what a
    dashboard or downstream join reads. Raises if no version exists.

    Reader/GC race to know about: the listing and the read are two
    steps, and the writer GCs versions more than ``retain_versions``
    behind — a reader that stalls longer than that many trigger
    intervals between listing and reading can lose its chosen version.
    Size ``retain_versions`` to the slowest reader's latency (the
    same dial as any MVCC retention)."""
    versions = _rollup_versions(spark, state_path)
    if not versions:
        raise FileNotFoundError(f"no committed rollup state under {state_path}")
    return spark.read.parquet(f"{state_path}/v={versions[-1]}")


def live_rollup(
    events: DataFrame,
    state_path: str,
    checkpoint: str,
    keys: tuple[str, ...],
    value_col: str = "value",
    available_now: bool = False,
    retain_versions: int = 2,
):
    """Continuously maintain a queryable rollup table from a stream —
    the streaming twin of
    :func:`~polymarket_data_ingestor_spark.operators.analytics.merge_rollup`,
    with EXACTLY-ONCE state despite foreachBatch's at-least-once
    delivery.

    Each micro-batch aggregates to mergeable state (count / exact
    decimal sum / min / max — ``rollup_state`` shape) and merges it
    into the stored table. A plain read-merge-overwrite would
    double-count a replayed batch (merge is NOT idempotent, unlike the
    CDC upsert in :func:`apply_cdc_stream`), so state is written as
    MVCC versions keyed by the deterministic ``batch_id``:
    ``state_path/v=N`` is a pure function of the latest committed
    version **strictly below** N plus batch N's data. A batch replayed
    after a crash between its write and the checkpoint commit reads
    the same predecessor it read the first time — never its own
    half-committed output — and overwrites ``v=N`` with identical
    content. Readers (:func:`read_rollup_state`) only see versions
    with a ``_SUCCESS`` marker, so a torn write is invisible.

    Cost per trigger ∝ batch + state table (one row per key — tiny
    relative to the corpus), never the history: the streaming form of
    the incremental-maintenance claim pinned by the
    ``incremental_rollup`` catalog oracle. Versions older than
    ``retain_versions`` below the current one are garbage-collected
    each commit (single-writer contract — same as any checkpointed
    stream). Why not a native streaming groupBy: ``complete`` mode
    re-emits (and file sinks reject it), ``update`` emits a changelog
    rather than a queryable table; foreachBatch + MVCC merge is the
    standard production materialization.
    """
    from polymarket_data_ingestor_spark.operators.analytics import (
        merge_rollup,
        rollup_state,
    )

    return live_materialize(
        events,
        state_path,
        checkpoint,
        state_fn=lambda batch: rollup_state(batch, keys, value_col),
        merge_fn=lambda prev, delta: merge_rollup(prev, delta, keys=keys),
        available_now=available_now,
        retain_versions=retain_versions,
    )


def live_distinct_rollup(
    events: DataFrame,
    state_path: str,
    checkpoint: str,
    keys: tuple[str, ...],
    col: str,
    lgk: int = 12,
    available_now: bool = False,
    retain_versions: int = 2,
):
    """Continuously maintained per-key distinct counts — the streaming
    twin of
    :func:`~polymarket_data_ingestor_spark.operators.analytics.merge_distinct_rollup`.
    Exact COUNT(DISTINCT) state is the value set itself (unbounded);
    the HLL sketch state is constant-size per key and unions
    losslessly, so the MVCC replay guarantee carries over unchanged:
    a replayed batch re-unions the same two sketches into an identical
    sketch. Same mechanism, different monoid — see
    :func:`live_materialize`."""
    from polymarket_data_ingestor_spark.operators.analytics import (
        distinct_rollup_state,
        merge_distinct_rollup,
    )

    return live_materialize(
        events,
        state_path,
        checkpoint,
        state_fn=lambda b: distinct_rollup_state(b, keys, col, lgk),
        merge_fn=lambda p, d: merge_distinct_rollup(p, d, keys=keys),
        available_now=available_now,
        retain_versions=retain_versions,
    )


def live_quantile_rollup(
    events: DataFrame,
    state_path: str,
    checkpoint: str,
    keys: tuple[str, ...],
    value_col: str = "value",
    k: int = 4096,
    available_now: bool = False,
    retain_versions: int = 2,
):
    """Continuously maintained per-key quantile sketches — the
    streaming twin of
    :func:`~polymarket_data_ingestor_spark.operators.analytics.merge_quantile_rollup`,
    completing the :func:`live_materialize` monoid set (exact
    count/sum/min/max, HLL distinct, now percentiles). Query the
    maintained state with ``read_rollup_state`` →
    ``finalize_quantile_rollup``.

    Replay semantics: the pairwise merge is DETERMINISTIC given its
    two state inputs (canonical k-way merge — sorted buffers, XORed
    flips), so a replayed batch overwrites ``v=N`` with identical
    content — the MVCC exactly-once guarantee holds unconditionally.
    The stronger equals-one-batch-recompute identity holds while a
    key's weight stays ≤ k (no compaction; the state IS the value
    multiset); past k the maintained sketch is deterministic and
    carries the same ~log2(n/k)/(2k) rank bound but is not required
    to be byte-equal to a single-pass sketch over the union — the
    standard trade of any incrementally-maintained sketch, same as
    the batch operator's documented merge-vs-onepass contract.
    """
    from polymarket_data_ingestor_spark.operators.analytics import (
        merge_quantile_rollup,
        quantile_rollup_state,
    )

    return live_materialize(
        events,
        state_path,
        checkpoint,
        state_fn=lambda b: quantile_rollup_state(b, keys, value_col, k),
        merge_fn=lambda p, d: merge_quantile_rollup(p, d, keys=keys),
        available_now=available_now,
        retain_versions=retain_versions,
    )


def live_heavy_hitters(
    events: DataFrame,
    state_path: str,
    checkpoint: str,
    keys: tuple[str, ...],
    item_col: str,
    k: int = 1024,
    available_now: bool = False,
    retain_versions: int = 2,
):
    """Continuously maintained per-key heavy hitters — the Misra-Gries
    monoid through the MVCC materializer (query with
    ``read_rollup_state`` → ``finalize_heavy_hitters``). The merge is
    a pure function of its two state inputs (commutative counter sum +
    one trim), so replay overwrites ``v=N`` identically — exactly-once
    unconditionally; counts are exact while distinct items per key
    stay ≤ k, and carry the tracked ``hh_dec`` undercount bound past
    it. The live answer to "which markets/tokens dominate the feed
    RIGHT NOW" without ever materializing per-item counts."""
    from polymarket_data_ingestor_spark.operators.analytics import (
        heavy_hitters_state,
        merge_heavy_hitters,
    )

    return live_materialize(
        events,
        state_path,
        checkpoint,
        state_fn=lambda b: heavy_hitters_state(b, keys, item_col, k),
        merge_fn=lambda p, d: merge_heavy_hitters(p, d, keys=keys),
        available_now=available_now,
        retain_versions=retain_versions,
    )


def live_sample_rollup(
    events: DataFrame,
    state_path: str,
    checkpoint: str,
    keys: tuple[str, ...],
    id_col: str,
    k: int = 64,
    seed: int = 1,
    available_now: bool = False,
    retain_versions: int = 2,
):
    """Continuously maintained per-key uniform sample — the bottom-k
    monoid through the MVCC materializer. The strongest member of the
    family: union-then-bottom-k is a TRUE monoid, so the maintained
    sample equals a full recompute's sample bit-for-bit at every
    commit, unconditionally — no exactness regime to reason about."""
    from polymarket_data_ingestor_spark.operators.analytics import (
        merge_sample_rollup,
        sample_rollup_state,
    )

    return live_materialize(
        events,
        state_path,
        checkpoint,
        state_fn=lambda b: sample_rollup_state(b, keys, id_col, k, seed),
        merge_fn=lambda p, d: merge_sample_rollup(p, d, keys=keys),
        available_now=available_now,
        retain_versions=retain_versions,
    )


def live_minhash_rollup(
    events: DataFrame,
    state_path: str,
    checkpoint: str,
    keys: tuple[str, ...],
    item_col: str,
    n_hashes: int = 16,
    seed: int = 1,
    available_now: bool = False,
    retain_versions: int = 2,
):
    """Continuously maintained per-key MinHash signatures — the
    set-identity monoid through the MVCC materializer (query with
    ``read_rollup_state`` → ``finalize_minhash_rollup`` /
    ``minhash_similarity_pairs``). Elementwise min is a TRUE monoid
    (idempotent on re-folded items), so the maintained signature
    equals a full recompute bit-for-bit at every commit — live
    "which shards share content" without ever storing item sets.
    Pre-shingle the stream if items should be n-grams (the batch
    entry uses ``word_ngrams``)."""
    from polymarket_data_ingestor_spark.operators.analytics import (
        merge_minhash_rollup,
        minhash_rollup_state,
    )

    return live_materialize(
        events,
        state_path,
        checkpoint,
        state_fn=lambda b: minhash_rollup_state(
            b, keys, item_col, n_hashes, seed
        ),
        merge_fn=lambda p, d: merge_minhash_rollup(p, d, keys=keys),
        available_now=available_now,
        retain_versions=retain_versions,
    )


def live_topk_rollup(
    events: DataFrame,
    state_path: str,
    checkpoint: str,
    keys: tuple[str, ...],
    id_col: str,
    score_col: str,
    k: int = 16,
    available_now: bool = False,
    retain_versions: int = 2,
):
    """Continuously maintained per-key top-k-by-score leaderboard —
    the curation monoid through the MVCC materializer (query with
    ``read_rollup_state`` → ``finalize_topk_rollup``). Like the
    sample twin it is a TRUE monoid (pair-set union + keep-top-k), so
    the maintained leaderboard equals a full recompute bit-for-bit at
    every commit, unconditionally — the live answer to "the k best
    documents per source RIGHT NOW" without re-ranking the corpus."""
    from polymarket_data_ingestor_spark.operators.analytics import (
        merge_topk_rollup,
        topk_rollup_state,
    )

    return live_materialize(
        events,
        state_path,
        checkpoint,
        state_fn=lambda b: topk_rollup_state(b, keys, id_col,
                                             score_col, k),
        merge_fn=lambda p, d: merge_topk_rollup(p, d, keys=keys),
        available_now=available_now,
        retain_versions=retain_versions,
    )


def live_linreg_rollup(
    events: DataFrame,
    state_path: str,
    checkpoint: str,
    keys: tuple[str, ...],
    x_col: str,
    y_col: str,
    scale: int = 6,
    available_now: bool = False,
    retain_versions: int = 2,
):
    """Continuously maintained per-key OLS trend — the regression
    sufficient-statistics monoid through the MVCC materializer (query
    with ``read_rollup_state`` → ``finalize_linreg_rollup``).
    Component-wise exact decimal sums are a TRUE monoid, so the
    maintained slope/intercept/R² equal a full recompute bit-for-bit
    at every commit — the live answer to "is this market's price
    drifting RIGHT NOW" without re-reading history. Mind the decimal
    range contract: x must fit decimal(18,scale) (epoch SECONDS at
    the default scale; pre-normalize ms/µs streams)."""
    from polymarket_data_ingestor_spark.operators.analytics import (
        linreg_rollup_state,
        merge_linreg_rollup,
    )

    return live_materialize(
        events,
        state_path,
        checkpoint,
        state_fn=lambda b: linreg_rollup_state(b, keys, x_col, y_col,
                                               scale),
        merge_fn=lambda p, d: merge_linreg_rollup(p, d, keys=keys),
        available_now=available_now,
        retain_versions=retain_versions,
    )


def live_corr_rollup(
    events: DataFrame,
    state_path: str,
    checkpoint: str,
    keys: tuple[str, ...],
    cols: tuple[str, ...],
    scale: int = 6,
    available_now: bool = False,
    retain_versions: int = 2,
):
    """Continuously maintained per-key feature correlation matrix —
    the multivariate sufficient-statistics monoid through the MVCC
    materializer (query with ``read_rollup_state`` →
    ``finalize_corr_rollup(state, cols)``). Exact decimal sums make
    the maintained matrix equal a full recompute bit-for-bit at every
    commit — live "are this source's features co-varying normally"
    for streaming ingestion QA. Same decimal range/capacity contracts
    as the batch builder."""
    from polymarket_data_ingestor_spark.operators.analytics import (
        corr_rollup_state,
        merge_corr_rollup,
    )

    return live_materialize(
        events,
        state_path,
        checkpoint,
        state_fn=lambda b: corr_rollup_state(b, keys, cols, scale),
        merge_fn=lambda p, d: merge_corr_rollup(p, d, keys=keys),
        available_now=available_now,
        retain_versions=retain_versions,
    )


def live_materialize(
    events: DataFrame,
    state_path: str,
    checkpoint: str,
    state_fn,
    merge_fn,
    available_now: bool = False,
    retain_versions: int = 2,
):
    """The generic MVCC materializer behind :func:`live_rollup` and
    :func:`live_distinct_rollup`: continuously maintain ANY mergeable
    aggregate as a queryable table. ``state_fn(batch) -> state`` maps a
    micro-batch to its aggregate state; ``merge_fn(prev, delta) ->
    state`` combines two state tables. The pair must form a monoid on
    the state shape (associative merge; the batch states commute) —
    that is the caller's algebraic contract, and it is exactly what
    makes the replay semantics exact: ``v=N`` is a pure function of
    the latest committed version strictly below N plus batch N, so an
    at-least-once re-delivery overwrites ``v=N`` with identical
    content instead of double-applying. Readers
    (:func:`read_rollup_state`) only see ``_SUCCESS``-committed
    versions. Single writer per ``state_path`` (same contract as any
    checkpointed stream); ``retain_versions >= 1`` or a crash-replay
    would lose its predecessor.
    """
    if retain_versions < 1:
        # v=N's replay safety depends on its predecessor surviving
        # until the checkpoint commits; GC-ing every prior would turn
        # a crash-replay into silent data loss.
        raise ValueError("retain_versions must be >= 1")

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        delta = state_fn(batch)
        prior = [v for v in _rollup_versions(spark, state_path)
                 if v < batch_id]
        if prior:
            prev = spark.read.parquet(f"{state_path}/v={prior[-1]}")
            new = merge_fn(prev, delta)
        else:
            new = delta
        commit_rollup_version(spark, state_path, new, batch_id,
                              prior, retain_versions)

    writer = (
        events.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Digest bloom front for the streaming dedup (the scale path the
# live_dedup_stream docstring promises): the md5 digest IS already a
# uniform hash, so four disjoint 8-hex-char slices give four independent
# 32-bit hash functions for free — extracted JVM-side (conv/substring
# inside codegen), with pandas doing only vectorized numpy bit ops.
# The bloom state is CUMULATIVE per batch (bloom_N = bloom_<N | batch N's
# fresh digests) — the same MVCC replay argument as live_materialize: a
# replayed batch reads the latest bloom strictly below its id and
# rewrites b=N identically — so a trigger reads ONE m_bits/8-byte row,
# never the accumulated history. No false negatives ever: rows the bloom
# rejects are DEFINITELY new and skip the digest-lake anti-join; false
# positives (rate (1−e^(−4n/m))⁴ ≈ 2% at 8 bits/digest) are resolved by
# the exact join over the candidate subset — exactness is unchanged, the
# lake read is skipped entirely when a batch has zero candidates, and
# the join's probe side shrinks to candidates otherwise.
# ---------------------------------------------------------------------------

def bloom_geometry(expected_digests: int, fp_rate: float = 0.02) -> int:
    """The ``bloom_bits`` to pass :func:`live_dedup_stream` for a
    target false-positive rate at ``expected_digests`` corpus digests
    — the geometry is a long-lived contract (the lake refuses a
    mismatched ``m_bits``), so size it for the corpus you expect to
    GROW INTO, not today's: oversizing costs bytes (m/8), undersizing
    costs a rebuild.

    This bloom uses exactly 4 hash functions (the four disjoint md5
    slices), so fp = (1 − e^(−4n/m))⁴ and the solve is
    m = −4n / ln(1 − fp^¼). At the default 2% that is ~8.5 bits per
    digest (~1 GiB per billion). Rounded up to a whole byte; floor 64
    bits. False negatives remain impossible at ANY geometry — an
    undersized bloom only degrades toward "every row is a candidate",
    never toward data loss."""
    import math

    if expected_digests < 1:
        raise ValueError(
            f"expected_digests must be >= 1, got {expected_digests}"
        )
    if not 0.0 < fp_rate < 1.0:
        raise ValueError(f"fp_rate must be in (0, 1), got {fp_rate}")
    m = -4.0 * expected_digests / math.log(1.0 - fp_rate ** 0.25)
    return max(64, int(math.ceil(m / 8.0)) * 8)


#: 1-based (start, length) substrings of the 32-char md5 hex — four
#: disjoint 32-bit hash values per digest.
_BLOOM_SLICES = ((1, 8), (9, 8), (17, 8), (25, 8))
_BLOOM_HCOLS = tuple(f"__bh{i}" for i in range(len(_BLOOM_SLICES)))


def _bloom_hash_cols(digest_col: str = "__digest") -> list:
    # coalesce(0): content_digest's "null" sentinel is 4 chars, so
    # slices past it substring to "" and conv('') is NULL — which
    # numpy would NaN-cast to an UNDEFINED int64 in the build/probe
    # kernels (platform-dependent: warning + INT64_MIN, or a raise).
    # Pinning unparseable slices to position 0 keeps build and probe
    # in exact agreement for any non-hex digest, preserving the
    # no-false-negative contract.
    return [
        F.coalesce(
            F.conv(F.substring(F.col(digest_col), s, ln), 16, 10)
            .cast("long"),
            F.lit(0),
        ).alias(name)
        for name, (s, ln) in zip(_BLOOM_HCOLS, _BLOOM_SLICES)
    ]


def _bloom_from_digests(df: DataFrame, m_bits: int) -> bytes:
    """Build the bloom bits for a batch's digest rows: per-partition
    numpy partials via mapInPandas, then a treeReduce OR — so the
    driver receives ONE m_bits/8-byte bloom, not one per partition.
    That matters for the one-time migration fold, which scans the
    whole digest lake (many partitions) at the feature's target
    geometry (~GiB bloom for billions of digests): a driver-side
    collect-and-OR would hold n_partitions × bloom bytes at once."""
    import numpy as np

    def partial(batches):
        bloom = np.zeros(m_bits // 8, dtype=np.uint8)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            for c in _BLOOM_HCOLS:
                pos = pdf[c].to_numpy(dtype=np.int64) % m_bits
                np.bitwise_or.at(
                    bloom, pos >> 3, (1 << (pos & 7)).astype(np.uint8)
                )
        if seen:
            yield pd.DataFrame({"bits": [bloom.tobytes()]})

    bits = df.select(*_bloom_hash_cols()).mapInPandas(
        partial, "bits binary"
    ).rdd.map(lambda r: r["bits"])

    def _or(a: bytes, b: bytes) -> bytes:
        import numpy as np  # runs executor-side

        return (np.frombuffer(a, np.uint8)
                | np.frombuffer(b, np.uint8)).tobytes()

    try:
        # depth-2 tree: executors pre-combine, driver sees O(√P) blooms
        # in flight and keeps exactly one
        return bytes(bits.treeReduce(_or, depth=2))
    except ValueError as e:
        # "Cannot reduce() empty RDD" — every partition was empty (the
        # partials yield nothing for those); probing isEmpty() first
        # would run the build pass twice
        if "empty" not in str(e).lower():
            raise
        return np.zeros(m_bits // 8, dtype=np.uint8).tobytes()


def _bloom_might_contain(spark: SparkSession, bloom_bytes: bytes,
                         m_bits: int):
    """Vectorized membership Column factory over the four hash cols.

    Returns ``(column, broadcast)``: the bloom bytes travel as a
    torrent-distributed Broadcast — closing over them directly would
    re-ship the full bloom (GiB at the target geometry) inside the
    pickled UDF command for every task. The caller unpersists the
    broadcast once the batch's plan has executed."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    bcast = spark.sparkContext.broadcast(bytes(bloom_bytes))

    @pandas_udf("boolean")
    def mc(h0: pd.Series, h1: pd.Series, h2: pd.Series,
           h3: pd.Series) -> pd.Series:
        arr = np.frombuffer(bcast.value, dtype=np.uint8)  # zero-copy
        out = np.ones(len(h0), dtype=bool)
        for h in (h0, h1, h2, h3):
            pos = h.to_numpy(dtype=np.int64) % m_bits
            out &= ((arr[pos >> 3] >> (pos & 7)) & 1).astype(bool)
        return pd.Series(out)

    return mc(*[F.col(c) for c in _BLOOM_HCOLS]), bcast


def _batch_partitions(spark: SparkSession, path: str) -> list[int]:
    """Ascending b=<id> partition ids under ``path`` (NOT
    ``_SUCCESS``-gated: batch partitions are written atomically by
    mode('overwrite') within a foreachBatch trigger and the strictly-
    below readers tolerate a torn tail by construction)."""
    return _int_partition_values(
        _list_partition_values(spark, path, "b=", False)
    )


def _latest_below(spark: SparkSession, path: str, below: int):
    """Largest b=<id> partition strictly below ``below``, or None —
    the strictly-below read shared by the digest lake and its bloom
    front. A torn partition can only be the crashed batch's own id,
    which its replay overwrites before any later batch exists — the
    same sequencing argument as live_materialize."""
    ids = [i for i in _batch_partitions(spark, path) if i < below]
    return ids[-1] if ids else None


def live_dedup_stream(
    docs: DataFrame,
    out_path: str,
    state_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = False,
    bloom_bits: int | None = None,
):
    """Exactly-once streaming incremental dedup: each micro-batch keeps
    only documents never seen before — within the batch OR in any prior
    batch — completing the matrix next to the in-stream watermark dedup
    (:func:`live_feed_dedup` family) and the batch cross-corpus
    :func:`~polymarket_data_ingestor_spark.operators.dedup.dedup_against`.

    Per micro-batch: (1) in-batch exact dedup (keep the min id per
    digest — deterministic, not first-seen); (2) anti-join the batch's
    md5 digests against the digest lake restricted to batches
    **strictly below** this batch id; (3) survivors overwrite
    ``out_path/b=<id>`` and their digests overwrite
    ``state_path/b=<id>``.

    The strictly-below read is the whole replay story, same principle
    as :func:`live_materialize`: a naively-maintained digest set makes
    an at-least-once replay suppress EVERY document of the replayed
    batch as a "duplicate" of its own first delivery — silent data
    loss in the exact component a dedup pipeline exists to protect.
    Here a replayed batch re-reads the same predecessor digests (its
    own ``b=N`` output is excluded by the filter) and overwrites both
    directories with identical content. Per-batch directories also
    make the output itself replay-idempotent.

    Scale shape: only 16-byte digests are stored and joined (partition
    pruning keeps the strictly-below read a directory-level filter);
    the corpus text never re-shuffles. The anti-join re-reads the
    accumulated digest lake each trigger — the honest cost at billions
    of corpus digests — so ``bloom_bits`` (e.g. ``1 << 23`` = 1 MiB,
    ~2% fpp per million digests) turns on the bloom front documented
    above :func:`_bloom_hash_cols`: a trigger reads ONE cumulative
    bloom row instead of the digest history, rows the bloom rejects
    are definitely new and skip the lake entirely (a zero-candidate
    batch never touches it), and only bloom-positive candidates pay
    the exact anti-join — output is IDENTICAL to the bloom-off path
    (no false negatives; positives resolved exactly), pinned in
    pytest. The batch is persisted for its two bloom passes; the
    geometry is a contract (mixed ``m_bits`` raises). A digest lake
    that PREDATES the bloom — :func:`bootstrap_dedup_state`'s ``b=-1``
    seed, or an exact-mode history being migrated — is covered
    automatically: the first bloom trigger builds the bloom from the
    lake once and folds it into its cumulative row, so the full read
    happens exactly once per migration. Alternatively
    compact the digest lake periodically
    (``compact_lake_partitions`` works on it as-is). Near-dup banding
    composes the same way (persist band keys per batch next to the
    digests) and is left to the batch op by design.
    """
    if bloom_bits is not None and (bloom_bits < 64 or bloom_bits % 8):
        raise ValueError(
            f"bloom_bits must be a multiple of 8 (>= 64), got {bloom_bits}"
        )
    bloom_path = f"{state_path}_bloom"

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        from polymarket_data_ingestor_spark.operators.dedup import (
            content_digest,
        )

        dg = batch.withColumn("__digest", content_digest(text_col))
        keep = dg.groupBy("__digest").agg(
            F.min(F.col(id_col)).alias(id_col)
        )
        # dropDuplicates closes the identical-row gap: at-least-once
        # redelivery can put two byte-identical rows in ONE micro-batch
        # and a semi-join alone would land both in out_path/b=N (same
        # fix as the batch drop_exact_dupes; no extra exchange — the
        # semi-join already partitions on these keys).
        dedup_in = dg.join(
            keep, ["__digest", id_col], "left_semi"
        ).dropDuplicates(["__digest", id_col])

        def seen():
            return (
                spark.read.parquet(state_path)
                .filter(F.col("b") < batch_id)
                .select("__digest")
            )

        cached = None
        bloom_bcast = None
        seen_bits = None
        if bloom_bits is None:
            try:
                fresh = dedup_in.join(seen(), "__digest", "left_anti")
            except Exception as e:  # first batch: no state lake yet
                if ("PATH_NOT_FOUND" not in str(e)
                        and "Unable to infer" not in str(e)):
                    raise
                fresh = dedup_in
        else:
            import numpy as np

            prev = _latest_below(spark, bloom_path, batch_id)
            if prev is not None:
                row = spark.read.parquet(
                    f"{bloom_path}/b={prev}"
                ).collect()[0]
                if int(row["m_bits"]) != bloom_bits:
                    raise ValueError(
                        f"bloom lake built with m_bits={row['m_bits']}, "
                        f"called with {bloom_bits} — the geometry is a "
                        "contract (rebuild the bloom lake to change it)"
                    )
                seen_bits = bytes(row["bits"])
            # Fold in any digest partitions the stored bloom does NOT
            # cover: b <= prev is covered (cumulative), anything in
            # (prev, batch_id) is not — bootstrap_dedup_state's b=-1
            # seed or an exact-mode interlude (bloom_bits=None runs
            # between bloom-enabled runs) leaves exactly such a gap,
            # and a bloom missing those digests would false-negative
            # their duplicates forever. The fold reads ONLY the gap
            # partitions (partition-pruned), is a pure function of the
            # strictly-below read (replay rebuilds it identically),
            # and lands in this batch's cumulative row below — so each
            # gap is read once, never again.
            uncovered = [
                b for b in _batch_partitions(spark, state_path)
                if b < batch_id and (prev is None or b > prev)
            ]
            if uncovered:
                gap = spark.read.parquet(state_path).filter(
                    F.col("b").isin(uncovered)
                )
                gap_bits = _bloom_from_digests(gap, bloom_bits)
                seen_bits = (
                    gap_bits if seen_bits is None else (
                        np.frombuffer(seen_bits, np.uint8)
                        | np.frombuffer(gap_bits, np.uint8)
                    ).tobytes()
                )
            if seen_bits is None:  # genuinely empty seen set
                fresh = dedup_in
            else:
                maybe_col, bloom_bcast = _bloom_might_contain(
                    spark, seen_bits, bloom_bits
                )
                cached = (
                    dedup_in.select("*", *_bloom_hash_cols())
                    .withColumn("__maybe", maybe_col)
                    .persist()
                )
                cand = cached.filter(F.col("__maybe")).drop(
                    "__maybe", *_BLOOM_HCOLS
                )
                new = cached.filter(~F.col("__maybe")).drop(
                    "__maybe", *_BLOOM_HCOLS
                )
                if cand.isEmpty():
                    fresh = new  # digest lake never read this trigger
                else:
                    fresh = new.unionByName(
                        cand.join(seen(), "__digest", "left_anti")
                    )
        # persist across the TWO writes below (rows + digests): without
        # it each action re-runs the whole dedup lineage — including
        # the full digest-lake anti-join scan, the cost the docstring
        # calls "the honest cost at billions of corpus digests" —
        # twice per trigger (review finding; the live_dq_split pattern)
        fresh = fresh.persist()
        try:
            fresh.drop("__digest").write.mode("overwrite").parquet(
                f"{out_path}/b={batch_id}"
            )
            fresh.select("__digest").write.mode("overwrite").parquet(
                f"{state_path}/b={batch_id}"
            )
            if bloom_bits is not None:
                import numpy as np

                # cumulative bloom over the WRITTEN digest partition
                # (reuse the artifact; don't recompute fresh's lineage)
                bb = _bloom_from_digests(
                    spark.read.parquet(f"{state_path}/b={batch_id}"),
                    bloom_bits,
                )
                prev = _latest_below(spark, bloom_path, batch_id)
                if seen_bits is not None:
                    # stored predecessor OR the one-time migration
                    # build — either way the history is covered
                    bb = (
                        np.frombuffer(bb, np.uint8)
                        | np.frombuffer(seen_bits, np.uint8)
                    ).tobytes()
                spark.createDataFrame(
                    [(bytearray(bb), bloom_bits)],
                    "bits binary, m_bits int",
                ).coalesce(1).write.mode("overwrite").parquet(
                    f"{bloom_path}/b={batch_id}"
                )
                # GC: replay safety needs only the predecessor; drop
                # everything below it (same floor as live_materialize)
                if prev is not None:
                    for bid in _batch_partitions(spark, bloom_path):
                        if bid < prev:
                            jp = spark._jvm.org.apache.hadoop.fs.Path(
                                f"{bloom_path}/b={bid}"
                            )
                            jfs = jp.getFileSystem(
                                spark._jsc.hadoopConfiguration()
                            )
                            jfs.delete(jp, True)
        finally:
            fresh.unpersist()
            if cached is not None:
                cached.unpersist()
            if bloom_bcast is not None:
                # the (potentially GiB) bloom is batch-scoped and the
                # batch's writes above are synchronous — no straggler
                # can legitimately refetch it — so DESTROY: unpersist()
                # alone keeps the driver-side serialized copy until a
                # nondeterministic ContextCleaner pass, and one leaked
                # bloom per trigger fills the driver's local store on a
                # long-running stream (r11 review finding); a retried
                # batch builds a fresh broadcast anyway
                bloom_bcast.destroy()

    writer = (
        docs.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def live_dq_split(
    docs: DataFrame,
    clean_path: str,
    quarantine_path: str,
    checkpoint: str,
    rules: dict[str, dict],
    available_now: bool = False,
):
    """Streaming quarantine split — the third streaming DQ shape next
    to :func:`live_dq_check`'s gate and audit report: every micro-batch
    is split row-level by
    :func:`~polymarket_data_ingestor_spark.operators.analytics.dq_split`;
    clean rows land in ``clean_path/b=<id>``, violating rows (with
    their ``dq_failed`` routing labels) in ``quarantine_path/b=<id>``.
    Where the gate blocks the WHOLE batch until upstream repair, the
    split keeps good data flowing and parks the bad rows for the
    repair queue — pick per pipeline stage: gate at publish
    boundaries, split at ingest. Per-batch directories make replay
    idempotent (the split is a pure function of the batch; an
    at-least-once re-delivery overwrites both sides with identical
    content — no MVCC needed because nothing accumulates). The
    batch is persisted across the two side-writes, so the upstream
    computation runs once and a row can never route to both sides or
    neither (the same double-evaluation hazard :func:`live_dq_check`
    closed for its report-vs-gate pair — the split predicates
    themselves are deterministic Catalyst expressions over the cached
    rows, and they come from the ONE
    :func:`~polymarket_data_ingestor_spark.operators.analytics.dq_split`
    both shapes share, so batch and stream can never skew); the
    quarantine parquet keeps ``dq_failed`` as the same
    ``array<string>`` the batch operator returns."""
    from polymarket_data_ingestor_spark.operators.analytics import (
        dq_split,
    )

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        cached = batch.persist()
        try:
            clean, bad = dq_split(cached, rules)
            clean.write.mode("overwrite").parquet(
                f"{clean_path}/b={batch_id}"
            )
            bad.write.mode("overwrite").parquet(
                f"{quarantine_path}/b={batch_id}"
            )
        finally:
            cached.unpersist()

    writer = (
        docs.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def live_cusum(
    events_stream: DataFrame,
    target: float,
    slack: float = 0.0,
    threshold: float | None = None,
    value_col: str = "value",
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of ``analytics.cusum`` — per-key state is the
    ``(s_hi, s_lo)`` double pair carried across micro-batches and
    restarts by ``applyInPandasWithState``; every arriving event emits
    its drift statistics (and alarm, with ``threshold``) immediately —
    the live change-point monitor next to :func:`live_ewma` and
    :func:`live_holt`.

    Same ordering contract, TTL semantics, and bit-parity policy as
    those twins (the float steps come from the SHARED
    ``analytics.cusum_series`` kernel, so an in-order drain is
    bit-identical to the batch operator by construction). An evicted
    or new key re-seeds at ``(0, 0)`` — which is also the batch
    operator's start, so TTL eviction RESTARTS the test rather than
    corrupting it (the documented CUSUM restart-after-decision
    semantics).
    """
    from polymarket_data_ingestor_spark.operators.analytics import (
        cusum_series,
        ewma_prepare,
    )

    if state_ttl_ms is not None and state_ttl_ms <= 0:
        raise ValueError(f"state_ttl_ms must be > 0, got {state_ttl_ms}")
    k_hi = target + slack
    k_lo = target - slack

    def _kernel(key, pdfs, state):
        if state_ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        seed = tuple(state.get) if state.exists else None
        parts = [pdf for pdf in pdfs if len(pdf)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True).sort_values(
            ["ts_us", order_col], kind="mergesort"
        )
        his, los = cusum_series(pdf[value_col].to_list(), k_hi, k_lo, seed)
        pdf["s_hi"] = his
        pdf["s_lo"] = los
        if threshold is not None:
            pdf["alarm"] = [
                h > threshold or l > threshold for h, l in zip(his, los)
            ]
        state.update((his[-1], los[-1]))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        yield pdf

    prepared, base_schema = ewma_prepare(
        events_stream, value_col, key_col, ts_col, order_col
    )
    out_schema = base_schema.replace(
        ", ewma double", ", s_hi double, s_lo double"
    )
    if threshold is not None:
        out_schema += ", alarm boolean"
    return prepared.groupBy(key_col).applyInPandasWithState(
        _kernel,
        outputStructType=out_schema,
        stateStructType="s_hi double, s_lo double",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def bootstrap_dedup_state(
    corpus: DataFrame, state_path: str, text_col: str = "text"
) -> int:
    """Seed :func:`live_dedup_stream`'s digest lake from an EXISTING
    corpus, so the stream dedups against history from its very first
    micro-batch (the streaming bootstrap of
    ``operators.dedup.dedup_against``'s persist-the-artifacts advice).

    The digests are written as partition ``b=-1`` — strictly below
    every stream batch id, so the replay-safety filter
    (``b < batch_id``) includes the bootstrap for every batch without
    any special case, and a batch-0 replay still excludes only its own
    output. One corpus scan, 16-byte distinct digests out; returns the
    digest count. Run BEFORE starting the stream (single-writer
    contract on ``state_path``, as everywhere in this module).

    Bloom interaction: bootstrapping (or RE-bootstrapping) rewrites a
    partition that may already be "covered" by a cumulative bloom row
    — the bloom's coverage assumption (everything ≤ its own id) would
    silently false-negative the new corpus's duplicates forever. So
    this function DELETES any sibling ``<state_path>_bloom`` lake: the
    next bloom-enabled trigger finds no bloom, runs the one-time
    migration fold over the whole digest lake (including the fresh
    ``b=-1``), and rebuilds coverage honestly. Cache invalidation, not
    data loss — the bloom is derivable state.
    """
    from polymarket_data_ingestor_spark.operators.dedup import (
        content_digest,
    )

    spark = corpus.sparkSession
    digests = corpus.select(
        content_digest(text_col).alias("__digest")
    ).distinct()
    digests.write.mode("overwrite").parquet(f"{state_path}/b=-1")
    bloom_root = spark._jvm.org.apache.hadoop.fs.Path(
        f"{state_path}_bloom"
    )
    fs = bloom_root.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(bloom_root):
        fs.delete(bloom_root, True)
    return spark.read.parquet(f"{state_path}/b=-1").count()


def live_dq_check(
    docs: DataFrame,
    checkpoint: str,
    rules: dict[str, dict],
    report_path: str | None = None,
    fail_on_violation: bool = True,
    available_now: bool = False,
):
    """Streaming data-quality gate: run
    :func:`~polymarket_data_ingestor_spark.operators.analytics.dq_check`
    on every micro-batch — the ingest-time twin of the batch
    refuse-to-publish gate, completing the DQ story's streaming side
    the way live_ewma/live_holt/live_cusum complete the kernels'.

    With ``fail_on_violation`` (default) a violating batch raises
    inside ``foreachBatch``, which FAILS the streaming query before
    the checkpoint commits — the batch is not marked consumed, so
    fixing the upstream data (or the rules) and restarting re-processes
    it: nothing bad is ever silently ingested past this point. With
    ``report_path`` each batch's rule report (plus ``batch_id``) is
    appended as the quality audit log — appending the tiny
    rule-count-sized report is idempotent-enough for monitoring
    (a replayed batch writes a duplicate report row, never wrong
    counts; exactly-once on reports would need the MVCC pattern and is
    not worth it for an audit log — documented trade).

    The batch is aggregated ONCE per trigger: the rule-count-sized
    report is collected, the audit write is rebuilt from those local
    rows (``createDataFrame`` — no second scan), and the gate decides
    from the same rows via ``dq_failures`` — so the persisted report
    and the raise can never disagree, even over a nondeterministic
    source (through round 9 the gated + audited configuration paid the
    aggregate twice and could).
    """
    from polymarket_data_ingestor_spark.operators.analytics import (
        DQViolationError,
        dq_check,
        dq_failures,
    )

    if report_path is None and not fail_on_violation:
        raise ValueError(
            "live_dq_check with neither report_path nor "
            "fail_on_violation would observe nothing"
        )

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        report = dq_check(batch, rules)
        rows = report.collect()  # the ONE aggregate scan of the batch
        if report_path is not None:
            batch.sparkSession.createDataFrame(
                rows, report.schema
            ).withColumn("batch_id", F.lit(batch_id)).coalesce(
                1
            ).write.mode("append").parquet(report_path)
        if fail_on_violation:
            bad = dq_failures(rows)
            if bad:
                raise DQViolationError(
                    "data-quality violations: " + ", ".join(bad)
                )

    writer = (
        docs.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
