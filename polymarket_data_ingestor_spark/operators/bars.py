"""Time-bar and summary aggregations over ticks (SURVEY §2.4-§2.5, notebook).

The reference delegates these to pandas in ``notebooks/bbo.ipynb`` cell 2-3:
1-minute BBO bars (``resample('1min').last()``), 1-hour volume bars
(``resample('1h').sum()``), and ``describe()``. Here they are DataFrame
functions over the replay output.

Ordered-``last`` correctness (SURVEY §4): Spark's ``last()`` is
order-sensitive but shuffles destroy order, so bars use ``max_by(value,
order_key)`` with an explicit total order key — deterministic on any number
of executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from polymarket_data_ingestor_spark.operators.replay import ORDER_COLUMNS


def _order_key(df: DataFrame) -> Column:
    """Total order key for 'last' semantics.

    Prefers the replay ordering columns (exact log order); falls back to the
    event-time + timestamp string, which is deterministic when timestamps are
    unique per (group, bucket).
    """
    if all(c in df.columns for c in ORDER_COLUMNS):
        return F.struct(*[F.col(c) for c in ORDER_COLUMNS])
    return F.struct(F.col("event_time"), F.col("timestamp"))


def bbo_bars(
    ticks: DataFrame,
    every: str = "1 minute",
    by: tuple[str, ...] = ("asset", "side"),
) -> DataFrame:
    """Last BBO price/size per time bucket (A3, ``bbo.ipynb`` cell 2).

    ``ticks`` must carry ``event_time`` (see ``with_event_time``). Returns
    one row per (window, *by*) with the bucket's last observed price/size.
    """
    key = _order_key(ticks)
    return (
        ticks.filter(F.col("kind") == "BBO")
        .groupBy(F.window("event_time", every).alias("window"), *by)
        .agg(
            F.max_by("price", key).alias("price"),
            F.max_by("size", key).alias("size"),
        )
        .select(
            F.col("window.start").alias("bar_time"),
            *by,
            "price",
            "size",
        )
    )


def volume_bars(
    ticks: DataFrame,
    every: str = "1 hour",
    by: tuple[str, ...] = ("asset",),
) -> DataFrame:
    """Traded volume per time bucket (A4, ``bbo.ipynb`` cell 2).

    Sums are computed in decimal for run-to-run bit stability, then
    downcast — float summation order varies across partitionings.
    """
    return (
        ticks.filter(F.col("kind") == "TRADE")
        .groupBy(F.window("event_time", every).alias("window"), *by)
        .agg(
            F.sum(F.col("size").cast("decimal(28,10)"))
            .cast("double")
            .alias("volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .select(F.col("window.start").alias("bar_time"), *by, "volume", "n_trades")
    )


def ohlc_bars(
    ticks: DataFrame,
    every: str = "1 minute",
    by: tuple[str, ...] = ("asset",),
) -> DataFrame:
    """OHLCV candles per time bucket (beyond-notebook; the standard
    market-data rollup the reference's pandas users build from the tick
    parquet with ``resample().ohlc()``).

    open/close are the order-extreme observations via ``min_by``/``max_by``
    with the explicit total order key (exact log order when the replay
    columns are present) — deterministic under any shuffle, unlike
    ``first``/``last``. high/low are plain min/max; volume sums in decimal
    for run-to-run bit stability.

    Scale shape: one partial-aggregated groupBy — every agg here has a
    map-side combiner, so the shuffle carries one row per (bucket, *by*)
    per map task regardless of tick volume.
    """
    key = _order_key(ticks)
    return (
        ticks.filter(F.col("kind") == "TRADE")
        .groupBy(F.window("event_time", every).alias("window"), *by)
        .agg(
            F.min_by("price", key).alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max_by("price", key).alias("close"),
            F.sum(F.col("size").cast("decimal(28,10)"))
            .cast("double")
            .alias("volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .select(
            F.col("window.start").alias("bar_time"),
            *by,
            "open",
            "high",
            "low",
            "close",
            "volume",
            "n_trades",
        )
    )


def twap_bars(
    ticks: DataFrame,
    every: str = "1 hour",
    by: tuple[str, ...] = ("asset", "side"),
) -> DataFrame:
    """Time-weighted average BBO price per bucket (TWAP).

    Each observation holds from its event time until the NEXT observation
    of the same key, clipped to the bucket end; the bucket's last
    observation extends to the bucket end. No carry-in: a bucket with no
    observations produces no row, and the first observation's weight
    starts at its own timestamp, not the bucket start (carry-in requires
    gap-filling across buckets — compose with a calendar spine if that
    semantics is needed).

    Unlike the plain mean, TWAP weighs a quote by how LONG it stood, so
    a flurry of flickering quotes doesn't dominate a stable one.

    Implementation: one ``lead`` over (key) ordered by event time + the
    replay order key (ties broken totally, so the weighting is
    deterministic), durations in integer microseconds, weighted sums in
    decimal. Scale shape: ONE exchange — the window's hash partitioning
    on the key columns is a subset of the bucket-grouping keys, so
    Catalyst reuses it for the final aggregate without a second shuffle
    (plan-gated in tests/test_plans.py).
    """
    from pyspark.sql import Window

    key = _order_key(ticks)
    bkt = F.window("event_time", every)
    t_us = F.unix_micros("event_time")
    w = Window.partitionBy(*by).orderBy(t_us, key)
    obs = (
        ticks.filter(F.col("kind") == "BBO")
        .withColumn("__t", t_us)
        .withColumn("__end", F.unix_micros(bkt["end"]))
        .withColumn("__bkt", bkt["start"])
        .withColumn("__next", F.lead("__t").over(w))
        .withColumn(
            "__dur",
            F.least(F.coalesce(F.col("__next"), F.col("__end")), F.col("__end"))
            - F.col("__t"),
        )
    )
    # decimal(18,0) durations: covers buckets up to ~31.7 kyears of µs —
    # decimal(12,0) would overflow (NULL terms) past ~11.6-day buckets
    pd_ = F.col("price").cast("decimal(18,10)") * F.col("__dur").cast(
        "decimal(18,0)"
    )
    return (
        obs.groupBy("__bkt", *by)
        .agg(
            (
                F.sum(pd_).cast("double")
                / F.sum("__dur").cast("double")
            ).alias("twap"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .select(F.col("__bkt").alias("bar_time"), *by, "twap", "n_obs")
    )


def trade_summary(ticks: DataFrame, by: tuple[str, ...] = ()) -> DataFrame:
    """Deterministic ``describe()`` over trades (A5, ``bbo.ipynb`` cell 3).

    ``df.summary()`` uses approximate percentiles; this uses exact
    ``percentile`` (they differ; the notebook's pandas ``describe`` is also
    exact, so exact is the parity choice).

    The three quartiles of a column come from ONE ``percentile`` over an
    array of levels: each exact percentile keeps its own value→count
    buffer, so three separate calls hold and sort the same buffer three
    times. The aggregate is SQL text, parsed JVM-side, so building it
    costs a few dozen py4j round trips rather than one per Column node.
    """
    aggs, out = [], [f"`{c}`" for c in by]
    for c in ("price", "size"):
        aggs += [
            f"count({c}) AS {c}_count",
            f"avg({c}) AS {c}_mean",
            f"stddev_samp({c}) AS {c}_std",
            f"min({c}) AS {c}_min",
            f"percentile({c}, array(0.25, 0.5, 0.75)) AS {c}_q",
            f"max({c}) AS {c}_max",
        ]
        out += [f"{c}_{s}" for s in ("count", "mean", "std", "min")]
        out += [f"{c}_q[{i}] AS {c}_{q}"
                for i, q in enumerate(("p25", "p50", "p75"))]
        out.append(f"{c}_max")
    return (
        ticks.where("kind = 'TRADE'")
        .groupBy(*by)
        .agg(*map(F.expr, aggs))
        .selectExpr(*out)
    )


def label_outcomes(ticks: DataFrame, tokens: DataFrame) -> DataFrame:
    """Attach outcome labels to ticks (J1/F10, ``bbo.ipynb`` cell 1).

    The notebook does a dict-map ``asset_id → "YES"/"NO"``; at scale this is
    a broadcast equi-join against the exploded token dimension (the markets
    snapshot is driver-small by construction).
    """
    dim = F.broadcast(tokens.select("token_id", "outcome"))
    return ticks.join(dim, ticks["asset"] == dim["token_id"], "left").drop(
        "token_id"
    )


def top_of_book(ticks: DataFrame) -> DataFrame:
    """Latest BBO per (asset, side) — standalone W1 over a tick table."""
    key = _order_key(ticks)
    return (
        ticks.filter(F.col("kind") == "BBO")
        .groupBy("asset", "side")
        .agg(
            F.max_by("price", key).alias("price"),
            F.max_by("size", key).alias("size"),
            F.max_by("timestamp", key).alias("as_of"),
        )
    )


def vwap_bars(
    ticks: DataFrame,
    every: str = "1 hour",
    by: tuple[str, ...] = ("asset",),
) -> DataFrame:
    """Volume-weighted average trade price per bucket (VWAP).

    The execution-quality benchmark: each trade weighted by its SIZE
    (``twap_bars`` weights by standing TIME; the pair brackets the two
    standard averaging regimes). ``Σ(price·size) / Σ(size)`` with both
    sums in exact decimal — feed prices carry ≤6 dp (sub-cent ticks)
    and sizes ≤8 dp, so decimal(15,6)×decimal(15,8) holds every feed
    value exactly — and ONE double division at the edge:
    order-independent, so any shuffle layout produces the bit-identical
    answer.

    A bucket whose trades all have size 0 has no defined VWAP: it
    emits a NULL ``vwap`` (volume 0, n_trades counted). Unguarded, the
    division is an ANSI ``DIVIDE_BY_ZERO`` — ONE poison bucket aborts
    the whole job mid-flight (zero sizes are finite, so the replay
    packer's non-finite rejection does not screen them). NULL is also
    what DuckDB's ``0.0/0.0`` yields, keeping the oracle pair exact on
    the degenerate class, not just on healthy data.

    Scale shape: a single map-side-combined aggregate — no window at
    all (unlike TWAP, VWAP needs no neighbor), so the one shuffle
    carries one row per (bucket, key) per map task. The cheapest bar
    in the module; skew-immune for the same reason.
    """
    trades = ticks.filter(F.col("kind") == "TRADE")
    bkt = F.window("event_time", every)
    p = F.col("price").cast("decimal(15,6)")
    s = F.col("size").cast("decimal(15,8)")
    return (
        trades.groupBy(bkt["start"].alias("bar_time"), *by)
        .agg(
            F.when(
                F.sum(s) != 0,
                F.sum(p * s).cast("double") / F.sum(s).cast("double"),
            ).alias("vwap"),
            F.sum(s).cast("double").alias("volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
    )
