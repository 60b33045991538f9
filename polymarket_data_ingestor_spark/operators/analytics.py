"""Event-sequence analytics: funnels and cohort retention.

Classic warehouse operators over an (user_id, ts, event_type) stream,
formulated integer-exact (epoch-ms arithmetic only — no floats, so
cross-engine parity needs no rounding) and shuffle-light: the funnel is
ONE groupBy(user) with the step ordering resolved inside collected
arrays, not a join per step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MS_PER_WEEK = 7 * 24 * 3600 * 1000


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel user table: first completion time of each step.

    A user completes step k at the EARLIEST event of ``steps[k]`` that
    is strictly after their step k-1 completion (the standard ordered
    funnel; step 0 is the user's first ``steps[0]`` event). Output: one
    row per user who completed step 0, with ``t_<step>`` epoch-ms
    columns (NULL once a step is missed) and ``n_steps`` completed.

    Scale shape: ONE shuffle — ``groupBy(user)`` collecting each step's
    event times into arrays, then the sequential scan-for-next is a
    per-row ``array_min(filter(...))`` expression chain (JVM, no UDF,
    no join-per-step). Per-user arrays hold only that user's matching
    events; a pathological power user bounds a single row, not a
    partition — for corpora where even that row overflows, use
    :func:`funnel_steps_multipass`: identical output, bounded state
    (min-aggregates only, no arrays), at the cost of one aggregation
    pass per step.
    """
    # cast("timestamp") is a no-op on TIMESTAMP and makes TIMESTAMP_NTZ
    # inputs legal for unix_millis (exact under a UTC session timezone) —
    # callers may hand us frames read straight from NTZ parquet
    ms = F.unix_millis(F.col(ts_col).cast("timestamp"))
    aggs = [
        F.collect_list(
            F.when(F.col(type_col) == s, ms)
        ).alias(f"__ts_{k}")
        for k, s in enumerate(steps)
    ]
    per_user = events.groupBy(F.col(user_col)).agg(*aggs)

    def _first_after(arr: F.Column, prev_t: F.Column) -> F.Column:
        # single-arg lambda: a two-arg lambda would make Spark bind the
        # second parameter to the ELEMENT INDEX, not our closure
        return F.array_min(F.filter(arr, lambda x: x > prev_t))

    prev = F.array_min(F.col("__ts_0"))
    cols = [prev.alias(f"t_{steps[0]}")]
    for k in range(1, len(steps)):
        nxt = _first_after(F.col(f"__ts_{k}"), prev)
        cols.append(nxt.alias(f"t_{steps[k]}"))
        prev = nxt
    out = per_user.select(F.col(user_col), *cols)
    n_done = sum(
        F.when(F.col(f"t_{s}").isNotNull(), 1).otherwise(0) for s in steps
    )
    return out.withColumn("n_steps", n_done.cast("long")).filter(
        F.col(f"t_{steps[0]}").isNotNull()
    )


def funnel_steps_multipass(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """:func:`funnel_steps` with bounded per-user state — the heavy-user
    escape hatch.

    Identical output by construction: step k's completion is
    ``min(t of steps[k] events with t > t_{k-1})``, computed as one
    conditional min-aggregate per step instead of collected arrays, so a
    user with a billion events costs the same aggregation state as a
    user with ten (a running min, not an array). A bucketed
    "pre-aggregate to per-(user, step, bucket) minima then funnel" form
    is NOT equivalent — a step k-1 completion falling strictly between
    two same-bucket step-k events makes the kept bucket-min fail the
    ``> prev`` bound while the discarded later event would have passed —
    so this takes the exact multi-pass instead.

    Cost: ``len(steps)`` aggregation passes over the (filtered) events
    plus a broadcast-size join per pass carrying the per-user frontier
    (one row per step-0-completing user — the small side at corpus
    scale). Use when a single user's event arrays could overflow a row;
    the single-shuffle array form is otherwise cheaper.
    """
    ms = F.unix_millis(F.col(ts_col).cast("timestamp"))
    relevant = events.filter(F.col(type_col).isin(list(steps))).select(
        F.col(user_col), F.col(type_col).alias("__type"), ms.alias("__ms")
    )
    # step 0: plain min per user — defines the user universe. The
    # NOT-NULL filter mirrors funnel_steps' final filter: a user whose
    # step-0 events ALL have NULL ts aggregates to a NULL min here
    # (groupBy keeps the group) but never survives the array form —
    # without it the two forms diverge on NULL timestamps (review
    # finding, violating the identical-output contract)
    frontier = (
        relevant.filter(F.col("__type") == steps[0])
        .groupBy(user_col)
        .agg(F.min("__ms").alias(f"t_{steps[0]}"))
        .filter(F.col(f"t_{steps[0]}").isNotNull())
    )
    prev_col = f"t_{steps[0]}"
    for k in range(1, len(steps)):
        nxt = (
            relevant.filter(F.col("__type") == steps[k])
            .join(frontier.select(user_col, prev_col), user_col)
            .groupBy(user_col)
            .agg(
                F.min(
                    F.when(F.col("__ms") > F.col(prev_col), F.col("__ms"))
                ).alias(f"t_{steps[k]}"),
            )
        )
        # users with zero step-k events drop out of the join — restore
        # them with null t_k (they still count at earlier steps)
        frontier = frontier.join(
            nxt.select(user_col, f"t_{steps[k]}"), user_col, "left"
        )
        prev_col = f"t_{steps[k]}"
    n_done = sum(
        F.when(F.col(f"t_{s}").isNotNull(), 1).otherwise(0) for s in steps
    )
    return frontier.withColumn("n_steps", n_done.cast("long"))


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Funnel conversion counts: one row per step with the number of
    users whose ordered journey reached it. Monotone non-increasing by
    construction. Adds a final 1-row rollup over :func:`funnel_steps`.
    """
    per_user = funnel_steps(events, steps, user_col, ts_col, type_col)
    wide = per_user.agg(
        *[
            F.count(F.col(f"t_{s}")).alias(f"__n_{k}")
            for k, s in enumerate(steps)
        ]
    )
    # explode(array(struct(lit(...)))) — NOT a stack() f-string: step
    # names are stream DATA (event types), and interpolating them into
    # SQL breaks on quotes and lets a crafted name inject into the plan
    # (the defect class dq_check documents; review finding)
    rows = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("step"),
                F.lit(s).alias("step_name"),
                F.col(f"__n_{k}").alias("n_users"),
            )
            for k, s in enumerate(steps)
        ]
    )
    return wide.select(F.explode(rows).alias("__r")).select("__r.*")


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week, counted
    in each later week they were active.

    Weeks are absolute epoch weeks (``epoch_ms DIV ms_per_week``) — no
    global-min subquery, so the plan needs no extra pass over the data.
    Output: (cohort_week, week_offset, n_users), integer-exact.

    Scale shape: distinct (user, week) pairs first — the map-side
    partial dedup collapses each user's events within a week before the
    shuffle — then a first-week min per user rides the same hashed
    layout (AQE reuses the exchange), and one count-distinct rollup.
    """
    active = (
        events.select(
            F.col(user_col),
            F.unix_millis(F.col(ts_col).cast("timestamp")).alias("__ms"),
        )
        .select(
            F.col(user_col),
            F.expr(f"__ms DIV {MS_PER_WEEK}").alias("week"),
        )
        .distinct()
    )
    first = active.groupBy(user_col).agg(
        F.min("week").alias("cohort_week")
    )
    return (
        active.join(first, user_col)
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count_distinct(F.col(user_col)).alias("n_users"))
    )


def gap_fill(
    events: DataFrame,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    bucket: str = "hour",
    order_col: str = "event_id",
) -> DataFrame:
    """Regular calendar spine per key with last-observation-carried-forward.

    Time-series consumers (model features, charts, as-of comparisons)
    need one row per (key, bucket) even when nothing happened in a
    bucket. For each key this emits every bucket from the key's first to
    its last observation, carrying the most recent observed value across
    the gaps (classic LOCF / ``gap-fill`` from time-series databases).
    ``is_observed`` marks real buckets; the leading bucket is always
    observed by construction, so ``value_filled`` is never NULL.

    Within a bucket the LAST observation wins, by the total order
    (``ts``, ``order_col``) — deterministic under any shuffle.

    Scale shape: the naive formulation (build a spine, left-join the
    observations, forward-fill with a window) costs three exchanges and
    a join. This instead makes each observed bucket emit ITSELF plus its
    gap-buckets — ``lead(bucket)`` per key, then ``sequence()`` up to
    (next bucket − 1) carrying the observed value — so LOCF holds by
    construction: per-bucket ``max_by`` rollup (one shuffle, map-side
    combined) + one ``lead`` window per key, NO join, no
    ``last(ignorenulls)`` sweep, and the spine rows are generated
    distributed (no driver calendar, no cross join). A key pays rows
    proportional to its own span only. A key whose span is pathological
    (one tick in 1990, one today) still emits its full spine — bound it
    upstream with a time filter if that's not wanted.
    """
    from pyspark.sql import Window

    keys = [F.col(k) for k in key_cols]
    bkt = F.date_trunc(bucket, F.col(ts_col))
    order_key = F.struct(F.col(ts_col), F.col(order_col))
    # A NULL value is NOT an observation: a bucket whose rows are all
    # NULL-valued counts as a gap (LOCF carries the previous real value
    # over it), keeping the "value_filled is never NULL" contract. This
    # is also what the DuckDB oracle computes.
    observed = (
        events.filter(F.col(value_col).isNotNull())
        .groupBy(*keys, bkt.alias("bucket_ts"))
        .agg(F.max_by(F.col(value_col), order_key).alias("__obs"))
    )
    w = Window.partitionBy(*key_cols).orderBy("bucket_ts")
    step = F.expr(f"INTERVAL 1 {bucket}")
    fill_to = F.coalesce(
        F.lead("bucket_ts").over(w) - step, F.col("bucket_ts")
    )
    return (
        observed.withColumn("__to", fill_to)
        .select(
            *key_cols,
            "__obs",
            F.posexplode(
                F.sequence(F.col("bucket_ts"), F.col("__to"), step)
            ).alias("__pos", "bucket_ts"),
        )
        .select(
            *key_cols,
            "bucket_ts",
            F.col("__obs").alias("value_filled"),
            (F.col("__pos") == 0).alias("is_observed"),
        )
    )


def delta_volatility(
    events: DataFrame,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    bucket: str = "hour",
    order_col: str = "event_id",
) -> DataFrame:
    """Per-(key, bucket) realized variability of consecutive value moves.

    The market-analytics "realized volatility" rollup, decimal-exact up
    to the last step so any engine agrees bit-for-bit: consecutive
    deltas ``d_i = v_i - v_{i-1}`` within a key (2-dp decimal), then per
    bucket the sample variance over the textbook identity
    ``(n·Σd² − (Σd)²) / (n·(n−1))``. Σd and Σd² are decimal sums —
    order-independent, so no float accumulation order can leak in — and
    only the final identity is evaluated in double (a fixed 4-flop
    expression over exact inputs, IEEE-identical everywhere; keeping the
    identity itself in decimal would hit the two engines' different
    precision-cap rules for products of wide decimals). Buckets with
    fewer than 2 deltas report NULL variance, not 0 — "no information"
    and "no movement" are different answers.

    A delta belongs to the bucket of its LATER observation (the move is
    only known then). The lag order is the total order (``ts``,
    ``order_col``) so ties are deterministic.

    Scale shape: one window shuffle on the key, and the bucket aggregate
    reuses the window's hash partitioning (key ⊆ grouping keys) — one
    exchange total, same plan family as ``twap_bars``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col), F.col(order_col)
    )
    v = F.col(value_col).cast("decimal(18,2)")
    d = (v - F.lag(v).over(w)).alias("__d")
    obs = events.select(
        *key_cols, F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"), d
    ).filter(F.col("__d").isNotNull())
    n = F.count(F.lit(1))
    nd = n.cast("double")
    s1 = F.sum(F.col("__d")).cast("double")
    s2 = F.sum(F.col("__d") * F.col("__d")).cast("double")
    # constant deltas pinned to EXACTLY 0.0 on decimal min/max
    # witnesses, and the identity clamped non-negative: past ~2^53 the
    # n·S2 − S1² cancellation leaves noise with a random sign, so a
    # constant-move bucket with large deltas emitted a nonzero — half
    # the time NEGATIVE — variance (reproduced: delta 8602516521735.17
    # over 6 moves → −3.7e10; the cross_key_correlation /
    # linreg_rollup witness lesson). For near-constant huge deltas the
    # clamped double value remains noise-dominated but deterministic
    # and engine-identical — the documented 4-flop contract.
    identity = (nd * s2 - s1 * s1) / (nd * (nd - F.lit(1.0)))
    var = F.when(
        n >= 2,
        F.when(F.min("__d") == F.max("__d"), F.lit(0.0)).otherwise(
            F.greatest(identity, F.lit(0.0))
        ),
    )
    return obs.groupBy(*key_cols, "bucket_ts").agg(
        n.alias("n_moves"),
        s1.alias("net_move"),
        var.alias("move_var"),
    )


def cross_key_correlation(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    bucket: str = "hour",
) -> DataFrame:
    """Pairwise Pearson correlation between keys' bucketed mean values —
    the cross-asset correlation matrix (which markets move together?),
    engine-exact by construction: per-(key, bucket) means are fixed to
    6 fractional digits with ``floor(mean * 1e6)`` (one IEEE multiply +
    floor — bit-identical everywhere, unlike decimal rounding of ties),
    the five correlation sums (n, Σa, Σb, Σab, Σa², Σb²) accumulate as
    exact integer decimals, and the Pearson identity runs once at the
    edge in double (IEEE multiply/subtract/sqrt are correctly rounded,
    so even the final value hashes identically).

    Output: one row per unordered key pair (``key_a < key_b``) with
    ``n_buckets`` co-observed buckets and ``corr`` (NULL when a side is
    constant — zero variance has no defined correlation).

    Scale shape: the bucket rollup is one map-side-combined shuffle;
    the pair join is on the BUCKET (equi-join), so its fan-out is
    #keys² per bucket — the right shape for the dozens-to-hundreds of
    keys a correlation matrix is readable at; pre-filter the key set
    for more. No window, no driver loop.
    """
    bkt = F.date_trunc(bucket, F.col(ts_col))
    means = (
        events.groupBy(F.col(key_col).alias("k"), bkt.alias("b"))
        .agg(
            (
                F.sum(F.col(value_col).cast("decimal(18,2)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("__mean")
        )
        .select(
            "k",
            "b",
            # guard rides the value column (repo discipline): past
            # 2^53/1e6 the fixed-point multiply is no longer
            # integer-exact, and past 1e12 the decimal(18,0) cast
            # overflows — non-ANSI mode would NULL the mean while
            # n_buckets still counted the row, silently skewing corr
            # (review finding). Refuse the out-of-domain input loudly.
            F.when(
                F.abs(F.col("__mean")) >= F.lit(9.0e9),
                F.raise_error(F.concat(
                    F.lit("cross_key_correlation: bucket mean "),
                    F.col("__mean").cast("string"),
                    F.lit(" exceeds the exact fixed-point domain "
                          "(|mean| < 9e9) — rescale the value column "
                          "upstream"),
                )),
            )
            .otherwise(F.floor(F.col("__mean") * F.lit(1.0e6)))
            .alias("m"),
        )
    )
    a, b_ = means.alias("a"), means.alias("b")
    pairs = a.join(b_, on=[F.col("a.b") == F.col("b.b"),
                           F.col("a.k") < F.col("b.k")]).select(
        F.col("a.k").alias("key_a"),
        F.col("b.k").alias("key_b"),
        F.col("a.m").cast("decimal(18,0)").alias("ma"),
        F.col("b.m").cast("decimal(18,0)").alias("mb"),
    )
    n = F.count(F.lit(1))
    nd = n.cast("double")
    sa = F.sum("ma").cast("double")
    sb = F.sum("mb").cast("double")
    sab = F.sum(F.col("ma") * F.col("mb")).cast("double")
    saa = F.sum(F.col("ma") * F.col("ma")).cast("double")
    sbb = F.sum(F.col("mb") * F.col("mb")).cast("double")
    cov = nd * sab - sa * sb
    va = nd * saa - sa * sa
    vb = nd * sbb - sb * sb
    # constant-side detection on EXACT decimal witnesses (min == max),
    # never on the double image of nΣa² − (Σa)² — the linreg_rollup /
    # corr_rollup lesson applied here too: past ~2^53 the cancellation
    # leaves ±1e17-scale noise with a random sign, and a CONSTANT key
    # emitted corr ≈ 3e-8 instead of NULL (reproduced: constant
    # 5971895478.44 over 1936 buckets; the oracle ran the same formula
    # and agreed — the agree-on-garbage class). The va/vb > 0 guard
    # stays as the numeric floor for sqrt; the witnesses carry the
    # semantics.
    varies_a = F.min("ma") < F.max("ma")
    varies_b = F.min("mb") < F.max("mb")
    return pairs.groupBy("key_a", "key_b").agg(
        n.alias("n_buckets"),
        F.when(
            varies_a & varies_b & (va > 0) & (vb > 0),
            cov / F.sqrt(va * vb),
        ).alias("corr"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: tuple[str, ...],
    compare_cols: tuple[str, ...] | None = None,
    include_unchanged: bool = False,
) -> DataFrame:
    """Typed diff between two snapshots of the same keyed table — the
    change-data-capture primitive (what changed between yesterday's
    crawl/market cache and today's?) that generalizes the plain
    anti/semi cache-diff: every key is classified ``added`` /
    ``removed`` / ``changed`` (/ ``unchanged``), with the old and new
    values of each compared column side by side.

    ``compare_cols`` defaults to every shared non-key column.
    Comparison is null-safe (``<=>``): a NULL→value transition is a
    real change, NULL→NULL is not. The JOIN keys are deliberately NOT
    null-safe: a NULL key carries no identity, so a NULL-keyed row
    present in both snapshots reports as ``removed`` + ``added`` rather
    than pairing up — plain SQL equi-join semantics, identical in the
    DuckDB oracle (pinned). This is the opposite convention from
    ``asof_join``'s NULL ``by``-keys (which group together); a diff
    needs per-ROW identity where asof needs per-GROUP membership, and
    null-safe diff keys would nondeterministically pair up MULTIPLE
    NULL-keyed rows. ``unchanged`` rows are dropped
    unless asked for — the diff of two mostly-identical 100 TB
    snapshots should be small output, not a third copy.

    Scale shape: ONE full outer join on the keys — both sides shuffle
    on the same key layout, the classification is a per-row CASE, and
    the (default) unchanged-filter prunes the overwhelming majority of
    rows before anything downstream. No window, no second pass.
    """
    if compare_cols is None:
        compare_cols = tuple(
            c
            for c in old.columns
            if c in set(new.columns) and c not in set(key_cols)
        )
    o = old.select(
        *key_cols,
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
        F.lit(1).alias("__in_old"),
    )
    n = new.select(
        *key_cols,
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
        F.lit(1).alias("__in_new"),
    )
    joined = o.join(n, list(key_cols), "full_outer")
    differs = F.lit(False)
    for c in compare_cols:
        differs = differs | ~F.col(f"old_{c}").eqNullSafe(
            F.col(f"new_{c}")
        )
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(differs, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = joined.select(
        *key_cols,
        change.alias("change"),
        *[
            c
            for pair in (
                (F.col(f"old_{cc}"), F.col(f"new_{cc}"))
                for cc in compare_cols
            )
            for c in pair
        ],
    )
    if not include_unchanged:
        out = out.filter(F.col("change") != "unchanged")
    return out


def inter_arrival_stats(
    events: DataFrame,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
    order_col: str = "event_id",
    quantiles: tuple[float, ...] = (0.5, 0.95),
) -> DataFrame:
    """Per-key inter-arrival-time distribution: n/min/max plus exact
    quantiles of the gaps (integer µs) between consecutive events — the
    feed-health and burstiness profile (is this key ticking steadily or
    in bursts?) that mean arrival rate hides.

    Gaps are integer microseconds in the total order (``ts``,
    ``order_col``); quantiles are EXACT (``percentile``), linearly
    interpolated over the sorted gaps — Spark and DuckDB
    (``quantile_cont``) interpolate identically over identical integer
    inputs, so even the interpolated values are bit-reproducible.

    Scale shape: one lag window + the aggregate reusing its key
    partitioning (one exchange, same family as ``delta_volatility``) —
    but exact percentile BUFFERS each group's gaps on the reducer, so
    this is the forensic tool for bounded key cardinality. For
    unbounded keys or whole-corpus sweeps use the KLL sketch path
    (``approx_value_quantiles``): bounded state, rank-error-pinned.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col), F.col(order_col)
    )
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    d = (t - F.lag(t).over(w)).alias("__d")
    gaps = events.select(*key_cols, d).filter(F.col("__d").isNotNull())
    # column names: p50, p95, p100, p99_9 — format(q*100, 'g') keeps
    # the common quantiles distinct (str(q)[2:] named 1.0 'p00' and
    # collided with 0.0); scientific-notation characters are mapped and
    # any residual collision (e.g. 0.9999995 vs 1.0 at 6 significant
    # digits) fails loudly instead of producing duplicate columns
    names = [
        "p"
        + format(q * 100, "g")
        .replace(".", "_")
        .replace("-", "m")
        .replace("+", "")
        for q in quantiles
    ]
    if len(set(names)) != len(names):
        raise ValueError(
            f"inter_arrival_stats: quantiles {quantiles} collide after "
            f"name formatting ({names}); space them out or rename"
        )
    qs = [
        F.expr(f"percentile(__d, {q})").alias(name)
        for q, name in zip(quantiles, names)
    ]
    return gaps.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("__d").alias("min_us"),
        *qs,
        F.max("__d").alias("max_us"),
    )


def key_skew_profile(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("user_id",),
    top_k: int = 20,
) -> DataFrame:
    """Heavy-hitter profile of a prospective shuffle key: the ``top_k``
    heaviest key values with their row counts and share of the total —
    the diagnostic you run BEFORE choosing a partition/join key at
    100 TB, where one hot key turns a shuffle into a single straggler
    task. Feeds the salting decision (``hourly_volume_salted`` playbook)
    with numbers instead of guesses.

    Deterministic: ties on the count break by the key values, so the
    top-k SET (and every share) is a pure function of the data.

    Scale shape: one count aggregate (map-side combined), then the
    top-k is ``orderBy(...).limit(k)`` — Spark executes that as
    TakeOrderedAndProject (per-partition heaps + driver merge of k-row
    lists), NOT a global sort shuffle; the grand total rides in as a
    broadcast 1-row aggregate (the catalog's 1-row crossJoin pattern),
    so nothing ever materializes the full key distribution in one
    place.
    """
    keys = [F.col(k) for k in key_cols]
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            *key_cols,
            "n",
            (F.col("n").cast("double") / F.col("__total")).alias("share"),
        )
        .orderBy(F.col("n").desc(), *keys)
        .limit(top_k)
    )


def trailing_window_stats(
    events: DataFrame,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("user_id",),
    value_col: str = "value",
    trailing_seconds: int = 600,
) -> DataFrame:
    """Trailing time-window aggregates per key: for every event, the
    sum/count/max of ``value_col`` over the preceding ``trailing_seconds``
    (inclusive of the current row) within the same key.

    The rolling-feature primitive (trailing volume, request rate, moving
    exposure) the cumulative ``running_total`` form can't express: the
    frame is a TIME range, not a row count, so gaps and bursts weigh
    correctly.

    Implementation: a RANGE window frame over integer microsecond epoch —
    ``rangeBetween`` needs a single numeric order key, and integer µs
    keeps both engines' frame-boundary comparisons exact (a float-seconds
    order key would make inclusion at the boundary ulp-dependent). Sums
    run in decimal (inputs are ≤2 dp money-like doubles): a RANGE frame
    is evaluated by one ordered sweep per key partition, but decimal
    keeps the result independent of how the engine internally
    re-associates the adds.

    Scale shape: ONE shuffle on the key columns, then a per-partition
    sort — the same cost as any per-key window. Hot keys serialize their
    own sweep; if one key dominates, bucket the input on the key first
    (same playbook as ``hourly_volume_salted``).
    """
    from pyspark.sql import Window

    us = trailing_seconds * 1_000_000
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.unix_micros(F.col(ts_col).cast("timestamp")))
        .rangeBetween(-us, 0)
    )
    dec = F.col(value_col).cast("decimal(18,2)")
    return events.select(
        *events.columns,
        F.sum(dec).over(w).cast("double").alias("trail_sum"),
        F.count(F.col(value_col)).over(w).alias("trail_n"),
        F.max(F.col(value_col)).over(w).alias("trail_max"),
    )


def rolling_zscore(
    events: DataFrame,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("event_type",),
    bucket: str = "hour",
    trailing_buckets: int = 24,
    threshold: int = 3,
    min_baseline: int = 4,
) -> DataFrame:
    """Trailing z-score anomaly flags over per-(key, bucket) event counts.

    The monitoring primitive: bucket the stream per key, then compare
    each bucket's count against the mean/stddev of the previous
    ``trailing_buckets`` OBSERVED buckets of the same key (row frame, not
    calendar — compose with ``gap_fill`` upstream when empty buckets
    should count as zeros). Buckets with fewer than ``min_baseline``
    predecessors report NULL z and never flag (no information ≠ normal).

    Engine-exact by construction: counts are integers, so with baseline
    sums S = Σx, SS = Σx² over m buckets, the z-score identity

        z = (x·m − S) / sqrt(m·SS − S²)

    needs one IEEE divide + sqrt at the edge (both correctly rounded →
    bit-identical everywhere), and the FLAG avoids even that: it is the
    pure integer predicate  (x·m − S)² > t²·(m·SS − S²),  so threshold
    comparison can never go ulp-dependent at the boundary. A constant
    baseline (zero variance) flags ANY deviation and reports NULL z —
    infinite surprise, no finite score.

    Scale shape: two exchanges, BOTH carrying bucket-granularity rows —
    the rollup's shuffle moves map-side-combined partial counts (one row
    per (key, bucket) per map task, input-volume-independent), and the
    window's re-shuffle on the key alone moves the finished bucket rows
    (#keys × #buckets, tiny at any scale). Collapsing to one exchange
    would mean repartitioning RAW events by key before the rollup —
    strictly worse at 100 TB. The window sweep itself is over buckets,
    never events.
    """
    from pyspark.sql import Window

    counts = events.groupBy(
        *key_cols, F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("bucket_ts")
        .rowsBetween(-trailing_buckets, -1)
    )
    # decimal(38,0) for the flag arithmetic: num² and t²·var_n square
    # the counts, and int64 would overflow past ~1.2e8 events per
    # bucket — real at 100 TB. Scale-0 decimals stay exact.
    x = F.col("n_events").cast("decimal(19,0)")
    m = F.count(F.lit(1)).over(w).cast("decimal(19,0)")
    s = F.sum(F.col("n_events")).over(w).cast("decimal(19,0)")
    ss = F.sum(
        F.col("n_events").cast("decimal(19,0)")
        * F.col("n_events").cast("decimal(19,0)")
    ).over(w)
    num = x * m - s          # exact: x·m − S
    var_n = m * ss - s * s   # exact: m·SS − S² (= m²·population-var)
    ok = m >= F.lit(min_baseline)
    return counts.select(
        *key_cols,
        "bucket_ts",
        "n_events",
        F.when(ok, m).otherwise(F.lit(None)).cast("long").alias(
            "baseline_n"
        ),
        F.when(
            ok & (var_n > 0),
            num.cast("double") / F.sqrt(var_n.cast("double")),
        ).alias("zscore"),
        F.when(
            ok, num * num > F.lit(threshold * threshold) * var_n
        ).otherwise(F.lit(False)).alias("is_anomaly"),
    )


def dq_profile(
    df: DataFrame,
    columns: tuple[str, ...] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """Data-quality profile: per-column completeness / distinctness report.

    The Deequ-style constraint-report primitive a lake ingest job runs
    before publishing a partition: one row per profiled column with
    ``n_rows``, ``n_nulls``, ``n_distinct`` (NULL excluded),
    ``completeness_permyriad`` (⌊non-null·10000/n⌋ — integer, so no
    float formatting can differ across engines) and ``is_unique``
    (every non-null value distinct). All-integer output → hash-exact.

    Scale shape: ONE pass over the input. With ``exact_distinct`` the
    multi-column count-distinct plans as Spark's Expand (input ×
    (k+1 profiled columns) into the partial aggregate) — exact but the
    shuffle volume scales with k; that is the honest cost of exact
    distinct counts. At 100 TB set ``exact_distinct=False``: HLL
    sketches (``approx_count_distinct``) profile every column in one
    combined map-side pass with constant-size state per column (±2.3%
    default error; the oracle pairs only the exact form). The final
    unpivot (``stack``) runs on a single 1-row aggregate — free.
    """
    cols = list(columns) if columns is not None else list(df.columns)
    distinct = (
        F.count_distinct if exact_distinct else F.approx_count_distinct
    )
    # POSITIONAL intermediate aliases + explode(array(struct(...))) —
    # never an f-string stack() over raw column names, which broke on
    # quoted/dashed/dotted names and let a name inject into the plan
    # (the defect class dq_check documents; review finding). df[c]
    # instead of F.col(c): F.col parses dots as struct access.
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        aggs.append(
            F.sum(df[c].isNull().cast("bigint")).alias(f"__nulls_{i}")
        )
        aggs.append(distinct(df[c]).alias(f"__nd_{i}"))
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"__nulls_{i}").alias("n_nulls"),
                F.col(f"__nd_{i}").alias("n_distinct"),
            )
            for i, c in enumerate(cols)
        ]
    )
    return (
        one.select(F.col("__n"), F.explode(rows).alias("__r"))
        .select("__n", "__r.col_name", "__r.n_nulls", "__r.n_distinct")
        .select(
            F.col("col_name"),
            F.col("__n").alias("n_rows"),
            "n_nulls",
            "n_distinct",
            # guarded: an empty input profiles to NULL completeness
            # rather than tripping ANSI DIVIDE_BY_ZERO
            F.expr(
                "CASE WHEN __n > 0 THEN (__n - n_nulls) * 10000 DIV __n END"
            ).alias("completeness_permyriad"),
            (F.col("n_distinct") == F.col("__n") - F.col("n_nulls")).alias(
                "is_unique"
            ),
        )
    )


def quantile_bucket(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 4,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Assign every row its quantile bucket of ``value_col`` (1-based:
    bucket 1 = lowest). The feature-engineering primitive behind "spend
    quartile" / "latency decile" columns.

    NOT ``ntile``: a global ntile forces the whole relation through ONE
    partition (a global sort with a single window partition — the
    textbook scale chokepoint). Instead the n−1 boundaries come from
    one exact-``percentile`` 1-row aggregate, broadcast, and assignment
    is a per-row comparison chain — the big table never re-shuffles and
    never sorts. Semantics differ from ntile only on ties/exact-boundary
    values (threshold rule: value ≤ q_i → bucket i; ntile balances
    counts), which is usually what a feature column wants anyway.

    Determinism: feed an INTEGER column (scale fixed-dp values first —
    e.g. money to cents) so both the exact percentile interpolation and
    the boundary comparisons are engine-exact (Spark ``percentile`` ≡
    DuckDB ``quantile_cont`` bit-for-bit on integer inputs, the
    ``arrival_latency`` precedent). NULL values get a NULL bucket (the
    percentile ignores them; the comparisons propagate the NULL).
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    v = F.col(value_col)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    # ONE aggregation buffer for all n−1 boundaries (array-percentage
    # form): n−1 scalar percentile aggregates would each materialize
    # their own copy of the full column and sort it; the array form
    # buffers/sorts once and interpolates every rank from the same
    # sorted run — bit-identical per percentage.
    bounds = F.broadcast(
        df.agg(
            F.percentile(v, F.array(*[F.lit(p) for p in probs])).alias(
                "__qs"
            )
        ).select(
            *[
                F.element_at("__qs", i + 1).alias(f"__q{i}")
                for i in range(len(probs))
            ]
        )
    )
    bucket = F.lit(1)
    for i in range(len(probs)):
        bucket = bucket + (v > F.col(f"__q{i}")).cast("int")
    return df.crossJoin(bounds).select(
        *df.columns, bucket.cast("long").alias(bucket_col)
    )


def transition_matrix(
    events: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition counts over per-key event sequences:
    one row per observed (from_type, to_type) with the transition count
    and its permyriad share of all transitions leaving ``from_type`` —
    the "what do users do next" matrix behind session-flow analysis and
    next-event baselines.

    Integer-exact: counts are exact, and the share is integer permyriad
    (``⌊n·10000 / n_from⌋``) so no float formatting or division order
    can differ across engines. The sequence order is the total order
    (``ts``, ``order_col``) — deterministic under any shuffle.

    Scale shape: one ``lag`` window shuffle on the key (the only pass
    that sees event-granularity rows), then a map-side-combined rollup
    to the #types² matrix; the per-from totals come from a window OVER
    THE MATRIX (#types² rows — free), not a second pass over events.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col), F.col(order_col)
    )
    pairs = (
        events.select(
            F.col(key_col),
            F.col(type_col).alias("to_type"),
            F.lag(F.col(type_col)).over(w).alias("from_type"),
        )
        .filter(F.col("from_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_from = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.expr("n * 10000").cast("long").alias("__scaled"),
        F.sum("n").over(w_from).alias("__n_from"),
    ).select(
        "from_type",
        "to_type",
        "n",
        F.expr("__scaled DIV __n_from").alias("share_permyriad"),
    )


def value_histogram(
    df: DataFrame,
    value_col: str,
    lo: int,
    hi: int,
    n_bins: int = 20,
) -> DataFrame:
    """Fixed-width histogram of an integer-scaled value column: one row
    per non-empty bin with its [bin_lo, bin_hi) bounds and count, plus
    underflow/overflow bins (-1 / ``n_bins``) so no row is silently
    dropped — the distribution companion to :func:`dq_profile`. NULL
    values surface as a NULL-bin row, never vanish.

    All-integer by construction: callers scale fixed-dp values first
    (money → cents), bin assignment is one integer multiply + DIV —
    ``(v − lo)·n_bins DIV (hi − lo)`` — so bin edges are exact in any
    engine (a float ``width = (hi−lo)/n_bins`` division puts boundary
    values on whichever side the engine's rounding lands them).

    Scale shape: a single map-side-combined aggregate on the bin id —
    the shuffle carries ≤ n_bins+2 rows per map task at any input size.
    """
    if hi <= lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    v = F.col(value_col)
    span = hi - lo
    # NULL guard FIRST: F.least skips NULL arguments, so without it a
    # NULL value makes the DIV expression NULL and least(NULL, n_bins)
    # silently lands in the overflow bin instead of the NULL bin.
    # integral division via exact decimal floor, NOT an f-string DIV
    # over the raw column name (an expression-like name — "a-b" — would
    # silently parse as arithmetic over OTHER columns; review finding).
    # The numerator is non-negative in this branch (v >= lo), so
    # floor == DIV, and decimal arithmetic keeps it integer-exact where
    # a double division would not.
    num = (v.cast("long") - F.lit(lo)).cast("decimal(38,0)") * F.lit(
        n_bins
    )
    bin_ = (
        F.when(v.isNull(), F.lit(None).cast("long"))
        .when(v < F.lit(lo), F.lit(-1).cast("long"))
        .otherwise(
            F.least(
                F.floor(num / F.lit(span)).cast("long"),
                F.lit(n_bins).cast("long"),
            )
        )
    )
    # bin b covers exactly the integers [lo + ceil(b·span/n), lo +
    # ceil((b+1)·span/n)) — the true integer edges of the DIV predicate
    # (a float `width` would misstate them when span % n_bins != 0)
    in_range = (F.col("bin") >= 0) & (F.col("bin") < n_bins)
    edge = (
        lambda b: F.lit(lo)
        + F.expr(f"({b} * {span} + {n_bins} - 1) DIV {n_bins}")
    )
    return (
        df.groupBy(bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            F.when(in_range, edge("bin")).cast("long").alias("bin_lo"),
            F.when(in_range, edge("(bin + 1)")).cast("long").alias("bin_hi"),
            "n",
        )
    )


def iqr_outliers(
    df: DataFrame,
    value_col: str,
    stratum_col: str,
    k_tenths: int = 15,
    approx_accuracy: int | None = None,
) -> DataFrame:
    """Per-stratum Tukey-fence outlier flags: a value is an outlier in
    its stratum when it falls outside
    ``[q1 − k·IQR, q3 + k·IQR]`` (k = ``k_tenths``/10, default the
    classic 1.5) — the robust per-group companion to the global
    :func:`rolling_zscore` (no normality assumption, immune to the
    outliers it hunts).

    Engine-exact by the integer-percentile rule: feed an INTEGER column
    (scale fixed-dp values upstream). The fences multiply by the
    integer ``k_tenths`` and compare as
    ``10·v < 10·q1 − k_tenths·(q3 − q1)`` — quantile interpolation is
    bit-identical on integer inputs in both engines, and keeping the
    fence arithmetic in (exactly representable) sums of interpolated
    halves avoids a float k·IQR product landing on either side of a
    comparison by one ulp.

    Scale shape: one map-side-combined percentile rollup to #strata
    rows, broadcast back; the flag is a per-row comparison in the scan
    stage — the big table never re-shuffles.

    ``approx_accuracy``: the 100 TB hatch. The EXACT percentile
    aggregate materializes each group's full value list in the
    aggregation buffer — the honest cost of exactness that a
    petabyte-scale stratum cannot pay. Setting ``approx_accuracy``
    swaps the bounds to the Greenwald-Khanna sketch
    (``percentile_approx``, constant memory, mergeable, rank error
    ≤ n/accuracy): a flag can then differ from the exact run only for
    values inside the fence's rank-error band (pinned in pytest),
    which is exactly the trade an outlier MONITOR wants. Tier 3 per
    EXACTNESS.md — sketch interpolation is engine-specific, so the
    approx form carries no SQL oracle.
    """
    v = F.col(value_col)
    # ONE aggregation buffer for both quartiles: percentile over an
    # ARRAY of percentages sorts each group's value buffer once and
    # interpolates both ranks from it — two scalar percentile
    # aggregates each materialize their own copy of the group's full
    # value list (2x aggregation state, 2x sort). Same interpolation
    # arithmetic per percentage, so the values are bit-identical
    # (likewise percentile_approx: one GK summary queried at both
    # ranks vs two identical summaries).
    if approx_accuracy is not None:
        qb = F.percentile_approx(
            v, F.array(F.lit(0.25), F.lit(0.75)), F.lit(approx_accuracy)
        )
        unpack = [
            F.element_at("__qb", 1).cast("double").alias("__q1"),
            F.element_at("__qb", 2).cast("double").alias("__q3"),
        ]
    else:
        qb = F.percentile(v, F.array(F.lit(0.25), F.lit(0.75)))
        unpack = [
            F.element_at("__qb", 1).alias("__q1"),
            F.element_at("__qb", 2).alias("__q3"),
        ]
    qs = F.broadcast(
        df.groupBy(stratum_col)
        .agg(qb.alias("__qb"))
        .select(stratum_col, *unpack)
    )
    # quantiles of integers are k/2 halves: ×10 keeps everything an
    # exactly-representable double, so the comparisons are exact
    lo = F.lit(10.0) * F.col("__q1") - F.lit(float(k_tenths)) * (
        F.col("__q3") - F.col("__q1")
    )
    hi = F.lit(10.0) * F.col("__q3") + F.lit(float(k_tenths)) * (
        F.col("__q3") - F.col("__q1")
    )
    v10 = v.cast("double") * F.lit(10.0)
    # NULL-SAFE stratum join: a plain equi-join would silently DROP
    # every NULL-stratum input row (its quantile group exists — groupBy
    # keeps NULL — but NULL never equals NULL), violating the
    # rows-plus-a-flag contract (review finding). The quantile side's
    # key is RENAMED before the condition join — qs derives from df,
    # and a same-name condition would trip the ambiguous-self-join
    # analyzer check.
    qs = qs.withColumnRenamed(stratum_col, "__iqr_stratum")
    return (
        df.join(
            qs, F.col(stratum_col).eqNullSafe(F.col("__iqr_stratum"))
        )
        .select(
            *df.columns,
            ((v10 < lo) | (v10 > hi)).alias("is_outlier"),
        )
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: str = "0.85",
    n_iter: int = 8,
) -> DataFrame:
    """Deterministic PageRank over an undirected edge list — the
    influence/centrality score ("which node does the graph keep
    pointing at"), the second iterative-algorithm showcase next to
    ``dedup.dup_components``: rank flows along edges for ``n_iter``
    rounds of  r ← (1−d)/N + d·Σ_in r_u/deg_u.

    Edges are symmetrized and deduplicated; isolated nodes (absent
    from the edge list) are out of scope by construction. Rank
    arithmetic is DECIMAL(38,18) end to end — decimal division and
    order-independent decimal sums — so the result is bit-identical
    under any partitioning (pinned in pytest: repartition(7) ==
    coalesce(1) exactly). A float formulation would drift with shuffle
    layout. ``damping`` is a decimal STRING for the same reason.
    Ranks sum to ~1. The exact rounding ladder (what makes the result
    a pure function of the data, reproducible in ANY engine with
    int128): init/base are one half-up rounding at scale 18 over
    exact integer arithmetic; each contribution rank/deg rounds
    half-up at scale 18 (Spark's decimal division, probed — the
    DECIMAL128 intermediate cannot flip a scale-18 tie because ties
    terminate within 34 significant digits and non-ties are ≥
    1/(2·deg) away); the d·Σ product rounds half-up at scale 15 and
    the base+ addition at scale 14 (Spark's precision-loss
    adjustment for DECIMAL(38) operands — probed types, r12), then
    the final cast pads back to scale 18. The catalog's DuckDB
    oracle replays this ladder verbatim in HUGEINT fixed-point, so
    the entry is hash-exact, not approximately close.

    Scale shape: per iteration, one join of the edge list against the
    #nodes-row rank table (broadcast-eligible while ranks fit, else a
    shuffle join co-partitioned on the node) + one map-side-combined
    sum — the classic Pregel-on-DataFrames loop. Each round's rank
    table is eagerly ``localCheckpoint``-ed, the same trade
    ``dedup.dup_components`` documents: persist/unpersist keeps the
    recursive lineage alive, so the final plan re-expands to ~2^rounds
    scan nodes (observed: 10 216 FileScans at 8 rounds before this
    used checkpoints — a driver-side planning cost all its own) and an
    evicted or lost block recomputes the whole chain; the checkpoint
    truncates lineage per round at the price of no executor-loss
    recovery for the round table. A superseded round's checkpointed
    blocks are freed by Spark's ContextCleaner once the rebound
    ``ranks`` drops the last reference (the same GC-driven release
    ``dup_components`` relies on for its per-round label checkpoints)
    — peak executor storage can therefore briefly hold two round
    tables (#nodes rows each — tiny next to the edge list) between a
    rebind and the cleaner's pass; there is no public PySpark handle
    to free a localCheckpoint's blocks eagerly. The edge list and
    degree table stay persisted across rounds (genuinely re-read every
    iteration) and are released before returning. N is a driver scalar
    (the same convergence-scalar pattern as ``dup_components``).
    """
    from decimal import Decimal

    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    d = Decimal(damping)
    if not (0 < d < 1):
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    # exact scale-18 representation required: init/base below are
    # defined by ONE half-up rounding over exact integer arithmetic
    # (the rule the DuckDB oracle replays in int128), which needs d
    # itself to be exactly representable at scale 18
    from decimal import localcontext

    with localcontext() as ctx:
        ctx.prec = 60  # scaleb is context-rounded; keep it exact here
        d_s = int(d.scaleb(18))
        if Decimal(d_s).scaleb(-18) != d:
            raise ValueError(
                f"damping must have at most 18 decimal places, "
                f"got {damping}"
            )
    e = edges.select(
        F.col(src_col).cast("string").alias("u"),
        F.col(dst_col).cast("string").alias("v"),
    ).filter(F.col("u") != F.col("v"))
    sym = e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    sym = sym.persist()
    # persisted: every iteration joins against deg — recomputing it
    # n_iter times (even from the cached edge list) is pure waste
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg")).persist()
    n = deg.count()
    if n == 0:
        # empty graph: release the (empty but registered) cached blocks
        # before returning — they'd otherwise pin storage-memory
        # bookkeeping for the session lifetime
        out = deg.select(
            F.col("u").alias("node"),
            F.lit(None).cast("decimal(38,18)").alias("rank"),
        ).localCheckpoint(eager=True)
        sym.unpersist()
        deg.unpersist()
        return out
    # ONE-step half-up rounding over exact integer arithmetic (for
    # positive a/b, round_half_up(a/b) == (2a + b) // (2b)) — the old
    # form (28-significant-digit context division, then a half-even
    # quantize) was DOUBLE rounding under a rounding mode no SQL engine
    # exposes; this rule is what the DuckDB oracle replays in int128
    S = 10 ** 18
    init = Decimal((2 * S + n) // (2 * n)).scaleb(-18)
    base = Decimal((2 * (S - d_s) + n) // (2 * n)).scaleb(-18)
    ranks = deg.select(
        "u", "deg", F.lit(init).cast("decimal(38,18)").alias("rank")
    ).localCheckpoint(eager=True)
    for _ in range(n_iter):
        contribs = sym.join(ranks, "u").select(
            F.col("v").alias("u"),
            (F.col("rank") / F.col("deg")).cast("decimal(38,18)").alias(
                "__c"
            ),
        )
        ranks = (
            contribs.groupBy("u")
            .agg(F.sum("__c").alias("__s"))
            .join(deg, "u")
            .select(
                "u",
                "deg",
                (
                    F.lit(base)
                    + F.lit(d).cast("decimal(20,18)") * F.col("__s")
                )
                .cast("decimal(38,18)")
                .alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    sym.unpersist()
    deg.unpersist()
    return ranks.select(F.col("u").alias("node"), "rank")


def scd2_build(
    changes: DataFrame,
    key_cols: tuple[str, ...] = ("user_id",),
    attr_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
    collapse_unchanged: bool = True,
) -> DataFrame:
    """Build a type-2 slowly-changing dimension from a change log: one
    row per (key, version) with ``valid_from_ms`` / ``valid_to_ms``
    half-open validity intervals, a 1-based ``version``, and
    ``is_current`` on the open row — the classic warehouse pattern that
    turns "what is X now" tables into "what was X at time t" tables
    (compose with ``asof_join``/``interval_overlap_join`` downstream
    for point-in-time enrichment).

    With ``collapse_unchanged`` (default), a log row whose attribute
    equals the key's previous value opens no version (null-safe
    compare, so NULL→NULL is unchanged but NULL→value is a change) —
    the standard no-op-change suppression. Epoch-ms integers keep the
    interval arithmetic engine-exact; the change order is the total
    (``ts``, ``order_col``).

    Scale shape: ONE shuffle on the key — the lag (change detection),
    the lead (interval close), and the row_number (version) all ride
    the same key-partitioned sort, and Catalyst plans them in a single
    Window stage. The output is version-granularity: collapsed logs
    shrink drastically before anything downstream touches them.
    """
    from pyspark.sql import Window

    ms = F.unix_millis(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(*key_cols).orderBy(F.col(ts_col), F.col(order_col))
    rows = changes.select(
        *key_cols,
        F.col(attr_col).alias("state"),
        ms.alias("__ms"),
        F.col(ts_col),
        F.col(order_col),
    )
    if collapse_unchanged:
        prev = F.lag(F.col("state")).over(w)
        # first row per key: prev is NULL -> eqNullSafe(NULL, state)
        # is only true when state is NULL too; a leading NULL state
        # still opens version 1 because lag's NULL here means "no
        # previous row", so guard on row_number instead
        rn = F.row_number().over(w)
        rows = rows.withColumn("__prev", prev).withColumn("__rn", rn).filter(
            (F.col("__rn") == 1) | ~F.col("state").eqNullSafe(F.col("__prev"))
        )
    w2 = Window.partitionBy(*key_cols).orderBy(F.col(ts_col), F.col(order_col))
    out = rows.select(
        *key_cols,
        "state",
        F.col("__ms").alias("valid_from_ms"),
        F.lead(F.col("__ms")).over(w2).alias("valid_to_ms"),
        F.row_number().over(w2).cast("long").alias("version"),
    )
    return out.withColumn("is_current", F.col("valid_to_ms").isNull())


def winsorize(
    df: DataFrame,
    value_col: str,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    out_col: str | None = None,
    approx_accuracy: int | None = None,
) -> DataFrame:
    """Winsorize a value column: clip to its [p_lo, p_hi] exact
    percentiles — the robust-features step that stops a handful of
    fat-finger rows from dominating scaled features or losses, without
    dropping the rows the way an outlier FILTER would.

    Engine-exact on integer inputs (the quantile-interpolation rule):
    the two bounds come from one broadcast 1-row exact-percentile
    aggregate, and the clip is ``least(greatest(v, lo), hi)`` — every
    comparison between an integer value and an exactly-interpolated
    bound is ulp-proof. Output is DOUBLE (a clipped row takes the
    interpolated bound itself).

    Scale shape: same family as :func:`quantile_bucket` — one
    percentile rollup broadcast back, clip in the scan stage, the big
    table never re-shuffles.

    ``approx_accuracy``: the 100 TB hatch. The exact GLOBAL percentile
    gathers every value into one aggregation buffer — fine per-group,
    unpayable over a whole petabyte table. With ``approx_accuracy``
    set, bounds come from the Greenwald-Khanna sketch
    (``percentile_approx``: constant memory, mergeable partials, rank
    error ≤ n/accuracy) — the clip bound is then a REAL data value at
    a rank within n/accuracy of the target instead of an interpolated
    exact one, so at most ~2·n/accuracy edge rows clip differently
    (pinned in pytest). Tier 3 per EXACTNESS.md — no SQL oracle for
    the approx form (sketch behavior is engine-specific).
    """
    if not (0 <= p_lo < p_hi <= 1):
        raise ValueError(f"need 0 <= p_lo < p_hi <= 1, got {p_lo}, {p_hi}")
    v = F.col(value_col)
    # ONE aggregation buffer for both bounds (array-percentage form):
    # two scalar percentile aggregates each materialize their own copy
    # of the FULL value list (this is a global aggregate — the whole
    # column, twice) and sort it twice; the array form buffers and
    # sorts once and interpolates both ranks from the same sorted run,
    # bit-identically. Same dedup for the GK sketch pair.
    if approx_accuracy is not None:
        bounds = F.broadcast(
            df.agg(
                F.percentile_approx(
                    v, F.array(F.lit(p_lo), F.lit(p_hi)),
                    F.lit(approx_accuracy),
                ).alias("__b")
            ).select(
                F.element_at("__b", 1).cast("double").alias("__lo"),
                F.element_at("__b", 2).cast("double").alias("__hi"),
            )
        )
    else:
        bounds = F.broadcast(
            df.agg(
                F.percentile(
                    v, F.array(F.lit(p_lo), F.lit(p_hi))
                ).alias("__b")
            ).select(
                F.element_at("__b", 1).alias("__lo"),
                F.element_at("__b", 2).alias("__hi"),
            )
        )
    name = out_col or f"{value_col}_winsorized"
    return df.crossJoin(bounds).select(
        *df.columns,
        F.least(
            F.greatest(v.cast("double"), F.col("__lo")), F.col("__hi")
        ).alias(name),
    )


def next_event_examples(
    events: DataFrame,
    k: int = 3,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Sliding-context training examples from an event stream: for every
    event whose user has at least ``k`` predecessors, emit the previous
    ``k`` event types (in order) as ``context`` and the current type as
    ``label`` — the next-event-prediction dataset constructor
    (recommendation / session models), built where the data lives
    instead of in a driver loop.

    The context array's order is the window frame's total order
    (``ts``, ``order_col``): a ``collect_list`` over an ORDERED frame
    follows the sort, unlike the unordered groupBy form — this is what
    makes the array deterministic and oracle-comparable. Short
    prefixes (fewer than k predecessors) emit nothing: fixed-width
    contexts, no padding decisions smuggled into the engine.

    Scale shape: ONE shuffle on the user key + the per-partition sort
    every per-key window pays; the frame holds k strings per row, so
    state is O(k), never the user's whole history.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(user_col)
        .orderBy(F.col(ts_col), F.col(order_col))
        .rowsBetween(-k, -1)
    )
    return (
        events.select(
            F.col(user_col),
            F.unix_millis(F.col(ts_col).cast("timestamp")).alias("ts_ms"),
            F.col(order_col),
            F.collect_list(F.col(type_col)).over(w).alias("context"),
            F.col(type_col).alias("label"),
        )
        .filter(F.size("context") == k)
    )


def robust_stats(
    df: DataFrame,
    value_col: str,
    stratum_col: str,
    approx_accuracy: int | None = None,
) -> DataFrame:
    """Per-stratum robust location/scale: exact median and MAD (median
    absolute deviation) — the outlier-immune (μ, σ) replacement that
    robust feature scaling and drift monitors want; one wild row moves
    a mean arbitrarily but moves these not at all.

    Engine-exact on integer inputs by a doubling trick: a median of
    integers interpolates to an exact HALF, so ``2·median`` is an exact
    integer, ``|2x − 2·median|`` is pure integer arithmetic, and the
    second median (of those integers) is again an exact half —
    ``mad = median(|2x − 2m|)/2`` with one final exact-by-construction
    division (the doubled deviations carry a factor of 2). No ulp
    anywhere; DuckDB's quantile_cont agrees bit-for-bit.

    Scale shape: two grouped percentile rollups (MAD is inherently a
    second pass — deviations need the median first), with the #strata-
    row median table broadcast between them; the big table shuffles on
    the stratum key twice, never globally sorts. Output: one row per
    stratum (median, mad, n).

    ``approx_accuracy``: the 100 TB hatch — both medians via the
    Greenwald-Khanna sketch (constant memory, mergeable, rank error
    ≤ n/accuracy) instead of the exact aggregate's full per-group
    value buffer. The doubling trick is moot (a sketch median is a
    real data value, not an interpolated half), but the two-pass
    shape and output schema are identical; value error is bounded by
    the local density around the true median (rank-error pinned in
    pytest). Tier 3 per EXACTNESS.md — no SQL oracle.
    """
    v = F.col(value_col)
    if approx_accuracy is not None:
        med = F.broadcast(
            df.groupBy(stratum_col).agg(
                (
                    F.percentile_approx(
                        v, F.lit(0.5), F.lit(approx_accuracy)
                    ).cast("double") * 2
                ).alias("__m2")
            )
        )
        mad_agg = (
            F.percentile_approx(
                F.col("__d2"), F.lit(0.5), F.lit(approx_accuracy)
            ).cast("double") / 2
        ).alias("mad")
    else:
        med = F.broadcast(
            df.groupBy(stratum_col).agg(
                (F.percentile(v, F.lit(0.5)) * 2).alias("__m2")
            )
        )
        mad_agg = (
            F.percentile(F.col("__d2"), F.lit(0.5)) / 2
        ).alias("mad")
    dev = df.join(med, stratum_col).select(
        F.col(stratum_col),
        F.abs(v.cast("double") * 2 - F.col("__m2")).alias("__d2"),
        F.col("__m2"),
    )
    return dev.groupBy(stratum_col).agg(
        (F.min("__m2") / 2).alias("median"),
        mad_agg,
        # count the MEDIAN/MAD POPULATION (non-null deviations), not
        # raw rows: percentile ignores NULL values, so count(*) would
        # overstate the sample size behind the reported median for any
        # stratum with NULL values (review finding)
        F.count(F.col("__d2")).alias("n"),
    )


def _keyed_scan_map(
    prepared: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    out_schema: str,
    scan_fn,
) -> DataFrame:
    """Run an O(1)-state serial scan over every key's ordered values
    WITHOUT the per-group pandas overhead of ``applyInPandas``.

    The grouped-map form builds one pandas DataFrame (plus a sort and
    a copy) per KEY; with the many-tiny-series shape these kernels
    actually see (thousands of keys, tens of rows each), that fixed
    per-group cost dwarfs the arithmetic. Here the same single
    exchange is spent as ``repartition(key)`` +
    ``sortWithinPartitions(key, ts_us, order)`` — each key's rows are
    then contiguous and ordered inside every partition — and
    ``mapInPandas`` runs ONE pandas pass per Arrow batch, slicing
    group runs out of the batch by vectorized key-change detection.
    A key whose rows span consecutive batches is continued via the
    scan's own seeded-restart form (the same checkpoint/restore
    contract the streaming twins use), so memory stays O(batch), not
    O(partition).

    ``scan_fn(values, seed) -> (cols_dict, new_seed)`` computes one
    key run (``seed is None`` for a fresh key) — bit-identical to the
    grouped form because both feed the identical ordered value list
    to the identical series kernel, and the seeded continuation is
    the kernels' documented bit-exact restart.
    """
    import numpy as np
    import pandas as pd

    def _partition(batches):
        carry_key = None
        have_carry = False
        seed = None
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            keys = pdf[key_col]
            # factorize: consecutive equal keys (incl. a NULL run —
            # one group under groupBy semantics) share a code
            codes, _ = pd.factorize(keys, use_na_sentinel=True)
            change = np.empty(n, dtype=bool)
            change[0] = True
            np.not_equal(codes[1:], codes[:-1], out=change[1:])
            starts = np.flatnonzero(change)
            ends = np.append(starts[1:], n)
            vals = pdf[value_col].to_list()
            pdf = pdf.copy(deep=False)
            new_cols: dict[str, list] = {}
            for s, e in zip(starts, ends):
                k = keys.iloc[s]
                continues = (
                    have_carry
                    and s == 0
                    and (
                        (pd.isna(k) and pd.isna(carry_key))
                        or (
                            not pd.isna(k)
                            and not pd.isna(carry_key)
                            and k == carry_key
                        )
                    )
                )
                cols, seed = scan_fn(vals[s:e], seed if continues else None)
                for name, arr in cols.items():
                    new_cols.setdefault(name, []).extend(arr)
            carry_key = keys.iloc[starts[-1]]
            have_carry = True
            for name, arr in new_cols.items():
                pdf[name] = arr
            yield pdf

    return (
        prepared.repartition(key_col)
        # nulls LAST to match the grouped kernels' pandas sort_values
        # (NaN sorts last there; Spark's asc default is nulls first)
        .sortWithinPartitions(
            F.col(key_col),
            F.col("ts_us").asc_nulls_last(),
            F.col(order_col).asc_nulls_last(),
        )
        .mapInPandas(_partition, out_schema)
    )


def ewma(
    events: DataFrame,
    alpha: float = 0.5,
    value_col: str = "value",
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """Per-key exponentially weighted moving average (adjust=False
    recursion): ``e_1 = v_1``, ``e_t = α·v_t + (1−α)·e_{t−1}`` over the
    key's (ts, order) total order — the smoothing/trend primitive for
    per-entity time series that a plain window average can't express
    (the recursion gives every past value geometrically decaying
    weight, with O(1) state instead of a frame).

    An EWMA is INHERENTLY serial per key — e_t depends on e_{t−1} — so
    this is one of the few operators that genuinely needs a grouped-map
    kernel (``applyInPandas``, same justification as the order-book
    replay kernel): one shuffle on the key, a per-partition sort, then
    an O(n)/O(1)-state scan per key. Corpus scale costs the shuffle
    only; the serial bound is the single longest key series, never the
    table.

    Cross-engine determinism: IEEE-754 doubles make any float program
    bit-deterministic as long as both engines execute the SAME
    operation sequence — so the kernel and the DuckDB oracle both
    compute literally ``α·v`` then ``(1−α)·e`` then the sum (two
    correctly-rounded multiplies + one add, no FMA contraction in
    either engine), with both constants serialized via ``repr`` so they
    parse to identical doubles. Pinned bit-exact by the catalog oracle
    (a per-key recursive CTE) and against pandas ``ewm(adjust=False)``
    in pytest. The per-key scan runs at C rate via pandas' ewm kernel
    whenever that is provably the identical op sequence — see
    :func:`ewma_series` for the argument and the loop fallback.

    NO NULLS precondition: a null/NaN value would poison every later
    smoothed value for its key; the kernel raises loudly instead
    (:func:`ewma_series`) — filter or impute upstream.
    """
    if not (0 < alpha <= 1):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    a = float(alpha)
    # schema derives from the input — key and order columns keep their
    # real types (string asset ids are as natural a key as long user
    # ids); the ordering epoch is MICROsecond so the kernel's sort sees
    # the same full-precision (ts, order) total order the oracle's
    # ORDER BY ts does (a ms truncation would let sub-ms neighbors fall
    # back to the order column while the oracle still splits them by
    # time — divergent recursion order, divergent values)
    prepared, out_schema = ewma_prepare(
        events, value_col, key_col, ts_col, order_col
    )

    def _scan(values, seed):
        out = ewma_series(values, a, prev=seed)
        return {"ewma": out}, float(out[-1])

    return _keyed_scan_map(
        prepared, key_col, order_col, value_col, out_schema, _scan
    )


def ewma_series(values, alpha: float, prev: float | None = None):
    """Bit-exact adjust=False EWMA of one already-ordered float series,
    optionally seeded at ``prev`` (None → the first value seeds) —
    the single kernel shared by the batch :func:`ewma` and the
    streaming ``live_ewma`` twin, so their documented bit-parity can
    never drift on arithmetic.

    Vectorization without losing the bit-exactness claim: pandas'
    C-rate ``ewm(adjust=False)`` kernel computes per step literally
    ``(1−α')·e + α'·v`` then a divide by ``((1−α')+α')`` — where
    ``α'`` is alpha ROUND-TRIPPED through pandas' internal
    center-of-mass form (``α' = 1/(1 + (1/α − 1))``; e.g. 0.9 comes
    back as 0.8999999999999999 and the whole series shifts ulps).
    IEEE-754 addition commutes bit-exactly, so the C path executes the
    identical correctly-rounded op sequence as the documented
    recursion ``α·v + (1−α)·e`` (and the DuckDB oracle's recursive
    CTE) exactly when BOTH (a) ``α`` survives the com round-trip
    bit-for-bit and (b) ``(1−α)+α`` is exactly ``1.0`` so the divide
    is the identity — both checked here, both true for every
    "human" alpha (0.25, 0.5, 0.3, 0.125, …; 0.9 is the measured
    counterexample, verified property-style in pytest). Any α failing
    either check keeps the Python loop — correctness chooses the
    path, never speed. Seeding rides the same C kernel by prepending
    ``prev`` as a synthetic first element and dropping its output row
    (the second output is then ``(1−α)·prev + α·v₁`` — the
    continuation step, bit-identical).

    NO NULLS: a NaN value would silently poison every later smoothed
    value for the key under the recursion while pandas ``ewm`` would
    skip it — two silent wrong answers. Callers must pre-filter;
    this kernel raises loudly instead of choosing either.
    """
    import numpy as np
    import pandas as pd

    a = float(alpha)
    if not (0 < a <= 1):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    om = 1.0 - a
    arr = np.asarray(values, dtype="float64")
    if np.isnan(arr).any():
        raise ValueError(
            "ewma: null/NaN value in input — the recursion would "
            "silently poison every subsequent smoothed value for this "
            "key; filter nulls (or impute) before smoothing"
        )
    if arr.size == 0:
        return arr
    # Below ~512 rows the pandas call's fixed overhead (~0.1 ms) costs
    # more than the whole loop (~60 ns/row on Python floats) — per-key
    # kernels see MANY tiny series, so the cutoff matters as much as
    # the C rate. Both paths are bit-identical, so this is purely a
    # cost choice.
    com_roundtrip = 1.0 / (1.0 + (1.0 / a - 1.0))
    if arr.size >= 512 and om + a == 1.0 and com_roundtrip == a:
        seeded = arr if prev is None else np.concatenate(([prev], arr))
        out = pd.Series(seeded).ewm(alpha=a, adjust=False).mean().to_numpy()
        # pandas' one intentional deviation from the recursion: when the
        # running value EQUALS the incoming value it skips the update
        # ("avoid numerical errors on constant series") and keeps e,
        # where the recursion computes α·v + (1−α)·e — which for ~10 %
        # of doubles lands one ulp off v (measured). Detect exactly the
        # positions the skip fired with a real difference; any hit →
        # the documented recursion wins, take the loop. (Upstream of
        # the FIRST hit the two paths agree, so the mask's upstream
        # values are trustworthy; one hit taints everything after it.)
        before = out[:-1]  # running value entering each non-seed step
        cur = seeded[1:]
        skip = before == cur
        if not skip.any():
            return out if prev is None else out[1:]
        diverged = skip & (a * cur + om * before != before)
        if not diverged.any():
            return out if prev is None else out[1:]
    out = []
    p = prev
    for x in arr.tolist():  # Python floats: ~3x faster than np scalars
        p = x if p is None else a * x + om * p
        out.append(p)
    return np.asarray(out, dtype="float64")


def ewma_prepare(
    events: DataFrame,
    value_col: str,
    key_col: str,
    ts_col: str,
    order_col: str,
):
    """Shared input normalization + output schema for the batch
    :func:`ewma` and its streaming twin
    (``streaming.live.live_ewma``): full-precision µs ordering epoch,
    key/order types derived from the input, value cast to double. One
    definition, so the two forms' documented bit-parity can never drift
    on schema or timestamp precision."""
    key_t = events.schema[key_col].dataType.simpleString()
    order_t = events.schema[order_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_t}, ts_us long, {order_col} {order_t}, "
        f"{value_col} double, ewma double"
    )
    prepared = events.select(
        F.col(key_col),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("ts_us"),
        F.col(order_col),
        F.col(value_col).cast("double"),
    )
    return prepared, out_schema


def holt_linear(
    events: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.5,
    value_col: str = "value",
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """Per-key Holt linear (double-exponential) smoothing: the
    trend-aware extension of :func:`ewma` for drifting series, where a
    plain EWMA systematically lags a trending signal::

        l_1 = v_1                                  b_1 = 0
        l_t = α·v_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}

    Emits per row the smoothed ``level``, the ``trend`` estimate, and
    ``forecast = level + trend`` (the one-step-ahead prediction — the
    quantity a monitoring/labeling pipeline actually thresholds).

    Like the EWMA this is INHERENTLY serial per key — two coupled
    recursions — so it is the third genuine grouped-map kernel (order-
    book replay, ewma, holt): one key shuffle, per-partition sort,
    O(1) state per key; the serial bound is the longest single series,
    never the table. No C shortcut exists here (pandas has no coupled-
    recursion kernel), so the scan is an honest Python loop over
    Python floats.

    Cross-engine determinism, same argument as :func:`ewma`: both this
    kernel and the DuckDB oracle (a recursive CTE carrying ``(l, b)``
    state columns) execute the IDENTICAL op sequence per step —
    ``s = l+b``, ``(1−α)·s``, ``α·v``, add; then ``d = l−l_prev``,
    ``β·d``, ``(1−β)·b``, add — all correctly-rounded IEEE doubles, no
    FMA, constants parsed from identical literals ⇒ bit-exact. NO
    NULLS precondition as in :func:`ewma`: a null value raises loudly.
    """
    _validate_holt(alpha, beta)
    prepared, out_schema = holt_prepare(
        events, value_col, key_col, ts_col, order_col
    )

    def _scan(values, seed):
        levels, trends, fcs = holt_series(values, alpha, beta, seed=seed)
        return (
            {"level": levels, "trend": trends, "forecast": fcs},
            (levels[-1], trends[-1]),
        )

    return _keyed_scan_map(
        prepared, key_col, order_col, value_col, out_schema, _scan
    )


def _validate_holt(alpha: float, beta: float) -> None:
    if not (0 < alpha <= 1):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not (0 <= beta <= 1):
        raise ValueError(f"beta must be in [0, 1], got {beta}")


def holt_prepare(events, value_col, key_col, ts_col, order_col):
    """:func:`ewma_prepare` with the Holt output columns — shared by
    the batch :func:`holt_linear` and the streaming ``live_holt`` twin
    so their schemas can never drift."""
    prepared, base_schema = ewma_prepare(
        events, value_col, key_col, ts_col, order_col
    )
    out_schema = base_schema.replace(
        ", ewma double", ", level double, trend double, forecast double"
    )
    return prepared, out_schema


def holt_series(values, alpha: float, beta: float, seed=None):
    """One key's Holt recursion over already-ordered values — the
    single scalar kernel shared by :func:`holt_linear` and the
    streaming ``live_holt`` (same bit-parity-by-construction policy as
    :func:`ewma_series`). ``seed`` is a checkpointed ``(level, trend)``
    pair (None → the first value seeds, trend 0). Returns
    ``(levels, trends, forecasts)`` lists. Raises on null/NaN values —
    the coupled recursions would silently poison every later
    level/trend for the key."""
    _validate_holt(alpha, beta)
    a = float(alpha)
    oa = 1.0 - a
    bt = float(beta)
    ob = 1.0 - bt
    lv, b = (None, None) if seed is None else seed
    levels: list[float] = []
    trends: list[float] = []
    fcs: list[float] = []
    for v in values:
        if v is None or v != v:
            raise ValueError(
                "holt: null/NaN value in input — the coupled "
                "recursions would silently poison every subsequent "
                "level/trend for this key; filter or impute upstream"
            )
        if lv is None:
            lv, b = v, 0.0
        else:
            prev = lv
            s = lv + b
            lv = a * v + oa * s
            b = bt * (lv - prev) + ob * b
        levels.append(lv)
        trends.append(b)
        fcs.append(lv + b)
    return levels, trends, fcs


def rollup_state(
    df: DataFrame,
    keys: tuple[str, ...],
    value_col: str = "value",
) -> DataFrame:
    """Aggregate ``df`` into MERGEABLE per-key state — the building
    block of incremental rollup maintenance (see :func:`merge_rollup`).

    State columns are each their own merge monoid: ``n`` (count),
    ``sum_v`` / ``sum_sq`` (decimal sums of the 2-dp value and its
    square — exact, so merge order can never change a digit; the pair
    is the textbook mergeable-variance state), ``min_v`` / ``max_v``.
    Everything downstream (avg, variance, completeness ratios) derives
    from these at read time (:func:`finalize_rollup`); nothing
    non-decomposable (median, exact distinct) belongs in this shape —
    use the KLL/HLL sketches for those, which are mergeable by
    construction (:func:`distinct_rollup_state`).
    """
    v = F.col(value_col).cast("decimal(18,2)")
    return df.groupBy(*[F.col(k) for k in keys]).agg(
        F.count(F.col(value_col)).alias("n"),
        F.sum(v).alias("sum_v"),
        F.sum(v * v).alias("sum_sq"),
        F.min(F.col(value_col)).alias("min_v"),
        F.max(F.col(value_col)).alias("max_v"),
    )


def merge_rollup(*states: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """Merge rollup-state tables (:func:`rollup_state` shape) into one —
    incremental view maintenance for the 100 TB lake.

    The pattern this enables: a daily/hourly rollup table is updated by
    aggregating ONLY the new partition and merging it into the stored
    state — cost ∝ the delta plus the (tiny) state table, never the
    history. A naive "recompute the rollup" job re-scans the full lake
    every cycle; at 100 TB that is the difference between a minute and
    a day. Merging is exact because every state column is a monoid
    (counts and decimal sums add; min/max compose) — pinned against a
    full recompute in the catalog oracle.

    The union is aggregate-sized (each input is already one row per
    key), so the merge's shuffle moves rows ∝ distinct keys — at any
    corpus size.
    """
    out = _union_states(states, "merge_rollup")
    return out.groupBy(*[F.col(k) for k in keys]).agg(
        F.sum("n").alias("n"),
        F.sum("sum_v").alias("sum_v"),
        F.sum("sum_sq").alias("sum_sq"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


def finalize_rollup(state: DataFrame) -> DataFrame:
    """Derive the presentation columns from rollup state: ``avg_v`` as
    the IEEE division of the exact decimal sum by the exact count, and
    ``var_v`` via the one-pass identity ``(n·Σv² − (Σv)²)/(n·(n−1))``
    with only the final 4-flop identity in double (the
    ``delta_volatility`` convention) — every operand is bit-identical
    however the state was merged, so the doubles are too. <2 values
    reports NULL variance, not 0.

    A constant key (state's exact ``min_v == max_v`` witness) reports
    EXACTLY 0.0, and the identity is clamped non-negative — past ~2^53
    the double cancellation leaves random-signed noise (the
    ``cross_key_correlation`` / ``delta_volatility`` witness lesson).
    Residual: values that differ only below the 2-dp quantization at
    huge magnitude pass the raw-value witness, so their variance stays
    the clamped (deterministic, engine-identical) double image."""
    n = F.col("n").cast("double")
    s1 = F.col("sum_v").cast("double")
    s2 = F.col("sum_sq").cast("double")
    identity = (n * s2 - s1 * s1) / (n * (n - 1.0))
    return state.withColumn(
        "avg_v", F.col("sum_v").cast("double") / F.col("n")
    ).withColumn(
        "var_v",
        F.when(
            F.col("n") >= 2,
            F.when(
                F.col("min_v") == F.col("max_v"), F.lit(0.0)
            ).otherwise(F.greatest(identity, F.lit(0.0))),
        ),
    )


def distinct_rollup_state(
    df: DataFrame,
    keys: tuple[str, ...],
    col: str,
    lgk: int = 12,
) -> DataFrame:
    """Mergeable distinct-count state: a Datasketches HLL sketch per
    key — the sketch companion to :func:`rollup_state` for the one
    common statistic that has no exact monoid (``COUNT(DISTINCT)``
    state is the value set itself; at 100 TB that IS the data).

    The sketch column merges losslessly under union
    (:func:`merge_distinct_rollup`): merging per-split sketches yields
    the IDENTICAL sketch state — and therefore the identical estimate
    — as one pass over everything, pinned in pytest. ``lgk`` fixes
    the accuracy/size trade (2^lgk buckets, ~1.6%/√(2^lgk/4096) rel.
    error, 4–8 KB at 12) and is a long-lived contract like a bucket
    count: by default :func:`merge_distinct_rollup` REFUSES to union
    sketches built with different lgk (Spark raises
    ``HLL_UNION_DIFFERENT_LG_K``) — the loud-contract default; pass
    ``allow_different_lgk=True`` there to union across an lgk
    migration at the coarser accuracy.
    """
    return df.groupBy(*[F.col(k) for k in keys]).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lgk)).alias("hll"),
    )


def merge_distinct_rollup(
    *states: DataFrame,
    keys: tuple[str, ...],
    allow_different_lgk: bool = False,
) -> DataFrame:
    """Union per-split HLL states (:func:`distinct_rollup_state`
    shape); shuffle ∝ distinct keys × sketch size, never the data.
    Mixed-lgk inputs raise by default (see
    :func:`distinct_rollup_state`); ``allow_different_lgk=True`` opts
    into the coarser-accuracy union for an lgk migration."""
    out = _union_states(states, "merge_distinct_rollup")
    return out.groupBy(*[F.col(k) for k in keys]).agg(
        F.hll_union_agg(F.col("hll"), allow_different_lgk).alias("hll"),
    )


def finalize_distinct_rollup(state: DataFrame) -> DataFrame:
    """Read the estimate off the sketch state."""
    return state.withColumn(
        "n_distinct", F.hll_sketch_estimate(F.col("hll"))
    )


# ---------------------------------------------------------------------------
# Monoid-builder scaffold
#
# The pandas-built monoids (quantile sketch, Misra-Gries heavy hitters,
# bottom-k sample, top-k by score) share one physical shape, and this
# scaffold is that shape, written once:
#
#   stage 1  mapInPandas over the (pre-projected) input: every partition
#            streams its Arrow batches into per-key Python states and
#            emits ONE state row per (partition, key) — so the single
#            exchange below carries bounded state bytes, never rows;
#   stage 2  groupBy(keys).applyInPandas: canonical (arrival-order-
#            independent) merge of the partials, one state row per key.
#
# A monoid plugs in a ``_MonoidSpec``: its state columns (appended to
# the key columns in both stages' schemas), ``init``/``update`` (build a
# per-key state in place from a pandas group), ``pack`` (state → row
# cells), and ``merge_rows`` (grouped partial rows → merged cells; this
# is also where the monoid enforces its accuracy-contract columns, e.g.
# mixed-k refusal). The empty-partition contract lives here once: a
# partition with no usable rows yields NOTHING — a frame built from
# empty lists defaults nested columns to float64, which Arrow cannot
# convert to array<...> types, so a quiet partition would crash the
# worker (found in r10's edge sweep, now structural).
#
# Memory honesty (every spec inherits it): stage 1 holds one Python
# state per DISTINCT KEY SEEN IN THE PARTITION and never spills —
# per-task memory ∝ keys-in-partition × state size. For rollup keys
# that is dozens-to-thousands and trivially fine; for an ultra-high-
# cardinality key (millions per partition), pre-``repartition(*keys)``
# the input first — one exchange, the same total shuffle a direct
# groupBy would pay, and each task then holds only its own key range —
# or lower the state capacity k.
# ---------------------------------------------------------------------------


class _MonoidSpec:
    """The pluggable algebra for :func:`_monoid_partials` /
    :func:`_monoid_merge_states`. ``state_cols`` maps state column name
    → Spark type string (order = row layout); the callables are
    documented on each monoid's public builder."""

    def __init__(self, state_cols, init, update, pack, merge_rows,
                 prepare_batch=None):
        self.state_cols = dict(state_cols)
        self.init = init
        self.update = update
        self.pack = pack
        self.merge_rows = merge_rows
        self.prepare_batch = prepare_batch or (lambda pdf: pdf)

    def schema_for(self, df: DataFrame, keys: tuple[str, ...]) -> str:
        fields = [df.schema[c] for c in keys]
        return ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in fields
        ) + ", " + ", ".join(
            f"{c} {t}" for c, t in self.state_cols.items()
        )


def _monoid_partials(
    df: DataFrame, keys: tuple[str, ...], spec: _MonoidSpec
) -> DataFrame:
    """Stage 1: per-partition per-key states via mapInPandas — one
    bounded state row per (partition, key), never the rows. ``df``
    must already be projected to exactly the key + value columns the
    spec's ``update`` reads (JVM-side casts happen before this)."""
    import pandas as pd

    key_list = list(keys)
    state_names = list(spec.state_cols)
    out_schema = spec.schema_for(df, keys)
    # Integral key columns cross the Arrow boundary as float64 whenever
    # a batch carries a NULL key (numpy has no nullable int): above
    # 2^53 that float silently MERGES distinct keys and the cast back
    # rounds key values — the exact hazard the heavy-hitters item cast
    # documents, but for KEYS (review finding). Restore exactness via
    # pandas' nullable Int64 inside the kernel; values past 2^53 refuse
    # loudly instead of corrupting.
    integral_keys = {
        f.name
        for f in df.schema.fields
        if f.name in keys
        and f.dataType.typeName() in ("byte", "short", "integer", "long")
    }

    def _restore_int_keys(pdf):
        for c in integral_keys:
            col = pdf[c]
            if col.dtype.kind != "f":
                continue
            present = col.dropna()
            # >= 2^53, not >: (2^53)+1 ROUNDS TO exactly 2^53 on the
            # way in, so a float at the boundary is already ambiguous —
            # the original integer is unrecoverable
            if (present.abs() >= 2.0**53).any():
                raise ValueError(
                    f"monoid state: NULL-bearing integral key column "
                    f"{c!r} was float-upcast across Arrow and holds "
                    f"values at or beyond 2^53 — float64 cannot "
                    f"represent them exactly (distinct keys would "
                    f"merge); cast the key to string upstream"
                )
            pdf[c] = col.astype("Int64")
        return pdf

    def build(batches):
        states: dict = {}
        for pdf in batches:
            pdf = spec.prepare_batch(_restore_int_keys(pdf))
            if not len(pdf):
                continue
            for kv, grp in pdf.groupby(key_list, sort=False,
                                       dropna=False):
                kv = kv if isinstance(kv, tuple) else (kv,)
                st = states.get(kv)
                if st is None:
                    st = states[kv] = spec.init()
                spec.update(st, grp)
        if not states:
            return  # empty partition: see the scaffold comment above
        rows: dict = {c: [] for c in key_list}
        rows.update({c: [] for c in state_names})
        for kv, st in states.items():
            for c, v in zip(key_list, kv):
                # pd.NA (a restored NULL key) must go back as None —
                # Arrow rejects NA inside an object column
                rows[c].append(None if v is pd.NA else v)
            packed = spec.pack(st)
            for c in state_names:
                rows[c].append(packed[c])
        yield pd.DataFrame(rows)

    return df.mapInPandas(build, out_schema)


def _monoid_merge_states(
    state: DataFrame, keys: tuple[str, ...], spec: _MonoidSpec
) -> DataFrame:
    """Stage 2: canonical per-key merge of partial state rows — one
    grouped-map pass; ``spec.merge_rows`` owns order-independence and
    the accuracy-contract (mixed-k/seed) refusal."""
    import pandas as pd

    key_list = list(keys)
    state_names = list(spec.state_cols)
    schema = state.schema

    def merge(key, pdf):
        packed = spec.merge_rows(pdf)
        row = {c: [v] for c, v in zip(key_list, key)}
        row.update({c: [packed[c]] for c in state_names})
        return pd.DataFrame(row)

    return state.groupBy(*key_list).applyInPandas(merge, schema)


def _union_states(states: tuple, what: str) -> DataFrame:
    """Shared union fold of the six ``merge_*`` families: every merge
    starts by unioning per-split state tables (aggregate-sized rows)
    before its one canonical per-key merge. ONE copy of the fold and
    its empty-input guard so a future change (allowMissingColumns, a
    schema pre-check) lands everywhere at once (review finding: six
    inline copies had already been pasted)."""
    if not states:
        raise ValueError(f"{what} needs at least one state table")
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out


def _monoid_union_merge(
    states: tuple, keys: tuple[str, ...], spec: _MonoidSpec, what: str
) -> DataFrame:
    """Shared body of the public ``merge_*`` fns: union per-split state
    tables, then one canonical per-key merge — shuffle ∝ distinct keys ×
    state size, never the data."""
    return _monoid_merge_states(
        _union_states(states, what), keys, spec
    )


# ---------------------------------------------------------------------------
# Mergeable quantile sketch (KLL/MRL-style, deterministic)
#
# Percentiles are the remaining common statistic with no exact merge monoid
# (the exact state is the value multiset itself — at 100 TB that IS the
# data), completing the rollup family next to the exact count/sum/min/max
# monoids and the HLL distinct sketch. The sketch is the classic
# multi-level sampler (Manku-Rajagopalan-Lindsay / KLL shape): level i
# holds at most ``k`` values, each standing for 2^i originals; overflow
# sorts the level and promotes every other value one level up. Unlike
# textbook KLL the compaction coin is NOT random — each level alternates
# its even/odd survivor phase via a flip bit — so the same input always
# yields the same sketch (the repo-wide determinism contract), at the
# cost of the randomized variant's distribution-free error proof. The
# practical bound is the usual sampler one: rank error ≲ W / (2k) per
# compacted level, i.e. ~log2(n/k)/(2k) relative — pinned empirically in
# pytest at a compacted regime.
#
# Exactness contract: while a key's total weight stays ≤ k, NO compaction
# happens anywhere (update or merge), the state is the value multiset,
# and quantiles are EXACT — merged per-split sketches are identical (as
# multisets) to one full pass. The catalog oracle verifies that regime
# bit-exactly; past k the same code degrades to the documented
# approximation. Merging is ORDER-INDEPENDENT by construction: the k-way
# merge concatenates per-level multisets (commutative), XORs the flip
# bits (commutative), and only then compacts sorted buffers — so any
# shuffle arrival order yields the same state.
# ---------------------------------------------------------------------------


def _qsk_compact(levels: list, flips: list, k: int) -> None:
    """Bottom-up overflow compaction, in place, deterministic."""
    i = 0
    while i < len(levels):
        if len(levels[i]) > k:
            buf = sorted(levels[i])
            rem: list[float] = []
            if len(buf) % 2:  # odd: the largest stays to keep W exact
                rem = [buf.pop()]
            start = 1 if flips[i] else 0
            promoted = buf[start::2]  # len(buf)/2 survivors at 2x weight
            flips[i] = not flips[i]
            levels[i] = rem
            if i + 1 == len(levels):
                levels.append([])
                flips.append(False)
            levels[i + 1].extend(promoted)
        i += 1


def _qsk_update(levels: list, flips: list, values, k: int) -> None:
    levels[0].extend(values)
    _qsk_compact(levels, flips, k)


def _qsk_merge(states: list, k: int) -> tuple[list, list]:
    """Canonical k-way merge: per-level multiset union + XORed flips,
    then one compaction sweep — commutative inputs, sorted buffers, so
    the result is independent of partial arrival order."""
    depth = max(len(lv) for lv, _ in states)
    levels: list = [[] for _ in range(depth)]
    flips: list = [False] * depth
    for lv, fl in states:
        for i, buf in enumerate(lv):
            levels[i].extend(buf)
            flips[i] = flips[i] != bool(fl[i] if i < len(fl) else False)
    _qsk_compact(levels, flips, k)
    return levels, flips


def _qsk_quantiles(levels: list, qs: tuple) -> list[float]:
    """Weighted discrete percentile: the smallest value whose cumulative
    weight reaches ceil(q*W) — integer ranks, so the exact regime
    (all weights 1) reproduces SQL percentile_disc rank-for-rank."""
    import math

    items: list[tuple[float, int]] = []
    for i, buf in enumerate(levels):
        w = 1 << i
        items.extend((v, w) for v in buf)
    items.sort(key=lambda t: t[0])
    total = sum(w for _, w in items)
    out: list[float] = []
    for q in qs:
        target = max(1, math.ceil(q * total))
        cum = 0
        for v, w in items:
            cum += w
            if cum >= target:
                out.append(v)
                break
    return out


def quantile_rollup_state(
    df: DataFrame,
    keys: tuple[str, ...],
    value_col: str = "value",
    k: int = 4096,
) -> DataFrame:
    """Mergeable per-key quantile state — the sketch companion to
    :func:`rollup_state` / :func:`distinct_rollup_state` for the other
    statistic with no exact monoid (see the module comment above for
    the sketch, its determinism trade, and the ≤k exactness contract).

    Scale shape (the whole point): stage 1 is ``mapInPandas`` — every
    partition streams its rows into per-key sketches and emits ONE
    state row per (partition, key), so the shuffle carries sketch
    bytes (≤ k doubles per populated level, ≤ ~log2(n/k) levels),
    never values; stage 2 merges partials per key with one grouped-map
    pass. ``k`` is a long-lived accuracy contract like HLL's lgk —
    it travels in the state (``q_k``) and :func:`merge_quantile_rollup`
    REFUSES to union sketches built with different k. NULL values are
    ignored (SQL percentile semantics); a key with no non-null values
    emits no state row. Per-task memory: see the scaffold's
    memory-honesty note.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    partials = _monoid_partials(
        df.select(*keys, value_col), keys, _quantile_spec(value_col, k)
    )
    return _merge_quantile_states(partials, keys)


def _quantile_spec(value_col: str, k: int = 0) -> _MonoidSpec:
    return _MonoidSpec(
        state_cols={"q_levels": "array<array<double>>",
                    "q_flips": "array<boolean>", "q_k": "int"},
        init=lambda: ([[]], [False]),
        update=lambda st, grp: _qsk_update(
            st[0], st[1], grp[value_col].astype(float).tolist(), k
        ),
        pack=lambda st: {
            "q_levels": [list(b) for b in st[0]],
            "q_flips": list(st[1]), "q_k": k,
        },
        merge_rows=_qsk_merge_rows,
        prepare_batch=lambda pdf: pdf.dropna(subset=[value_col]),
    )


def _qsk_merge_rows(pdf) -> dict:
    ks = set(int(x) for x in pdf["q_k"])
    if len(ks) > 1:
        raise ValueError(
            f"quantile states built with different k {sorted(ks)} "
            "cannot merge — k is an accuracy contract (rebuild one "
            "side at the other's k)"
        )
    k = ks.pop()
    states = [
        ([list(map(float, b)) for b in lv], [bool(x) for x in fl])
        for lv, fl in zip(pdf["q_levels"], pdf["q_flips"])
    ]
    lv, fl = _qsk_merge(states, k)
    return {"q_levels": [list(b) for b in lv], "q_flips": list(fl),
            "q_k": k}


def _merge_quantile_states(
    state: DataFrame, keys: tuple[str, ...]
) -> DataFrame:
    return _monoid_merge_states(state, keys, _quantile_spec(""))


def merge_quantile_rollup(
    *states: DataFrame, keys: tuple[str, ...]
) -> DataFrame:
    """Union per-split quantile states (:func:`quantile_rollup_state`
    shape) into one state per key — shuffle ∝ distinct keys × sketch
    size, never the data; arrival-order independent (canonical k-way
    merge); mixed-k inputs raise (see :func:`quantile_rollup_state`)."""
    return _monoid_union_merge(states, keys, _quantile_spec(""),
                               "merge_quantile_rollup")


def finalize_quantile_rollup(
    state: DataFrame,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Read quantiles off the state: one ``p<NN>`` double per requested
    quantile (0.5 → ``p50``, 0.99 → ``p99``), discrete-percentile rule
    (the smallest value whose cumulative weight reaches ceil(q·W)) —
    exact while the key's weight is ≤ k, sketch-approximate past it."""
    import pandas as pd

    for q in quantiles:
        if not (0 < q <= 1):
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
    p_cols = [f"p{round(q * 100):d}" for q in quantiles]
    if len(set(p_cols)) != len(p_cols):
        raise ValueError(f"quantiles collide at integer percent: {p_cols}")
    key_fields = [
        f for f in state.schema.fields
        if f.name not in ("q_levels", "q_flips", "q_k")
    ]
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in key_fields
    ) + ", " + ", ".join(f"{c} double" for c in p_cols)
    key_names = [f.name for f in key_fields]

    def fin(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = {c: pdf[c].tolist() for c in key_names}
            per_q: list[list[float]] = [[] for _ in p_cols]
            for lv in pdf["q_levels"]:
                vals = _qsk_quantiles(
                    [list(map(float, b)) for b in lv], tuple(quantiles)
                )
                for i, v in enumerate(vals):
                    per_q[i].append(v)
            for c, col in zip(p_cols, per_q):
                out[c] = col
            yield pd.DataFrame(out)

    return state.mapInPandas(fin, out_schema)


# ---------------------------------------------------------------------------
# Heavy-hitters monoid (Misra-Gries, mergeable-summaries form)
#
# "Which items dominate each key" is the fourth maintained statistic the
# rollup family needs (after count/sum/min/max, HLL distinct, and the
# quantile sketch): exact per-item counts shuffle one row per (key, item)
# — at 100 TB with a Zipfian item column that IS the data. The Misra-
# Gries summary keeps at most k counters per key; a trim subtracts the
# (k+1)-th largest count from every counter and drops the non-positive
# ones — no item is ever *selected* for eviction, so the operation is a
# pure function of the counter multiset and merging stays deterministic.
# Guarantees (Agarwal et al., "Mergeable Summaries"): est_count ≤
# true_count ≤ est_count + dec, where ``dec`` is the tracked total
# trimmed per key (≤ W/(k+1)); any item with true count > dec is
# guaranteed retained. EXACT regime: while every per-partition and
# merged counter set for a key stays ≤ k items, no trim happens, dec is
# 0 and the counts are exact — the regime the catalog oracle verifies.
# The reduce stage is a canonical k-way merge (sum ALL partial maps —
# commutative — then ONE trim), so the merged state is independent of
# partial arrival order; within a partition, trims follow the scan's
# deterministic batch order.
# ---------------------------------------------------------------------------


def _mg_trim(counts: dict, k: int) -> int:
    """Trim a counter map to ≤ k items; returns the decrement applied."""
    if len(counts) <= k:
        return 0
    cstar = sorted(counts.values(), reverse=True)[k]
    for it in [it for it, c in counts.items() if c <= cstar]:
        del counts[it]
    for it in counts:
        counts[it] -= cstar
    return cstar


def heavy_hitters_state(
    df: DataFrame,
    keys: tuple[str, ...],
    item_col: str,
    k: int = 1024,
) -> DataFrame:
    """Mergeable per-key heavy-hitters state (see the module comment
    above). Same two-stage shape as :func:`quantile_rollup_state`:
    ``mapInPandas`` builds bounded per-partition summaries (each Arrow
    batch is counted vectorized, then MG-merged into the running
    summary), so the shuffle carries ≤ k counters per (partition, key),
    never the item stream; one grouped-map pass merges partials
    canonically. Items are cast to string JVM-SIDE before the Arrow
    boundary (like :func:`sample_rollup_state`) — a pandas-side
    ``astype(str)`` would label a nullable int column's items
    ``"42.0"`` in any batch Arrow float64-upcast for a NULL and
    ``"42"`` elsewhere, silently splitting one item's counts. NULL
    items are ignored. ``k`` is the accuracy contract and travels in the
    state; mixed-k merges refuse. Per-task memory: see the scaffold's
    memory-honesty note."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    partials = _monoid_partials(
        df.select(*keys, F.col(item_col).cast("string").alias(item_col)),
        keys, _hh_spec(item_col, k),
    )
    return _merge_hh_states(partials, keys)


def _hh_pack(st) -> dict:
    counts, dec, k = st[0], st[1], st[2]
    items = sorted(counts)  # canonical item order
    return {"hh_items": items,
            "hh_counts": [counts[i] for i in items],
            "hh_dec": dec, "hh_k": k}


def _hh_update(st, grp, item_col: str, k: int) -> None:
    """Fold one batch group into the MG summary. The merge iterates
    materialized lists (``index.tolist()`` / ``to_numpy().tolist()``)
    rather than ``vc.items()`` — per-element numpy-scalar boxing made
    the items() form ~1.8× slower at the 1M-distinct regime (r11
    profile); a full pandas-alignment rewrite was measured
    SLOWER than the dict loop at Arrow batch sizes and rejected.
    Counts arrive as exact Python ints either way — identical state."""
    counts = st[0]
    vc = grp[item_col].value_counts()
    for it, c in zip(vc.index.tolist(), vc.to_numpy().tolist()):
        counts[it] = counts.get(it, 0) + c
    st[1] += _mg_trim(counts, k)


def _hh_spec(item_col: str, k: int = 0) -> _MonoidSpec:
    return _MonoidSpec(
        state_cols={"hh_items": "array<string>",
                    "hh_counts": "array<bigint>",
                    "hh_dec": "bigint", "hh_k": "int"},
        init=lambda: [{}, 0, k],
        update=lambda st, grp: _hh_update(st, grp, item_col, k),
        pack=_hh_pack,
        merge_rows=_hh_merge_rows,
        prepare_batch=lambda pdf: pdf.dropna(subset=[item_col]),
    )


def _hh_merge_rows(pdf) -> dict:
    ks = set(int(x) for x in pdf["hh_k"])
    if len(ks) > 1:
        raise ValueError(
            f"heavy-hitter states built with different k "
            f"{sorted(ks)} cannot merge — k is an accuracy contract"
        )
    k = ks.pop()
    counts: dict = {}
    dec = 0
    for items, cs, d in zip(pdf["hh_items"], pdf["hh_counts"],
                            pdf["hh_dec"]):
        for it, c in zip(items, cs):
            counts[it] = counts.get(it, 0) + int(c)
        dec += int(d)
    dec += _mg_trim(counts, k)  # ONE trim after the commutative sum
    return _hh_pack([counts, dec, k])


def _merge_hh_states(state: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    return _monoid_merge_states(state, keys, _hh_spec(""))


def merge_heavy_hitters(
    *states: DataFrame, keys: tuple[str, ...]
) -> DataFrame:
    """Union per-split heavy-hitter states into one per key — shuffle ∝
    distinct keys × k counters; arrival-order independent (canonical
    sum-then-one-trim); mixed-k inputs raise."""
    return _monoid_union_merge(states, keys, _hh_spec(""),
                               "merge_heavy_hitters")


def finalize_heavy_hitters(
    state: DataFrame, min_count: int = 1
) -> DataFrame:
    """Explode the state to one row per retained (key, item):
    ``est_count`` (≤ true count) and ``max_undercount`` (the key's
    trimmed total: true ≤ est + max_undercount; 0 in the exact
    regime). ``min_count`` filters the long tail of barely-surviving
    counters."""
    key_cols = [
        f.name for f in state.schema.fields
        if f.name not in ("hh_items", "hh_counts", "hh_dec", "hh_k")
    ]
    return (
        state.select(
            *key_cols,
            F.col("hh_dec").alias("max_undercount"),
            F.explode(
                F.arrays_zip(
                    F.col("hh_items").alias("item"),
                    F.col("hh_counts").alias("est_count"),
                )
            ).alias("__e"),
        )
        .select(
            *key_cols,
            F.col("__e.item").alias("item"),
            F.col("__e.est_count").alias("est_count"),
            "max_undercount",
        )
        .filter(F.col("est_count") >= F.lit(min_count))
    )


# ---------------------------------------------------------------------------
# Bottom-k sample monoid (KMV)
#
# A maintained UNIFORM per-key sample: keep the k distinct ids with the
# smallest portable hash32(seed:id). Union-then-keep-bottom-k is a true
# monoid — associative, commutative, idempotent on duplicates — so
# unlike the quantile/heavy-hitter sketches there is NO approximation
# regime at all: merged per-split states equal the one-pass state
# bit-for-bit, always, and the selection is the same pure function of
# (id, seed) that sampling.rank_sample computes with a window (this is
# its mergeable-state twin; rank_sample uses the permyriad hash for
# rate alignment, the monoid uses the full 32-bit hash so the k-th
# smallest also serves as a KMV distinct-count estimator).
# ---------------------------------------------------------------------------


def sample_rollup_state(
    df: DataFrame,
    keys: tuple[str, ...],
    id_col: str,
    k: int = 64,
    seed: int = 1,
) -> DataFrame:
    """Mergeable bottom-k-by-hash sample state per key. The hash runs
    JVM-side (``hash32`` = md5 prefix, engine-portable) BEFORE the
    Arrow boundary; pandas only dedups and keeps the k smallest
    (hash, id) pairs per partition — so the shuffle carries ≤ k pairs
    per (partition, key). NULL ids are ignored. ``k``/``seed`` travel
    in the state; mixed contracts refuse to merge. Per-task memory:
    see the scaffold's memory-honesty note."""
    from polymarket_data_ingestor_spark.functions.scalars import hash32

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    hashed = df.select(
        *keys,
        F.col(id_col).cast("string").alias("__sid"),
        hash32(F.col(id_col).cast("string"), seed=seed).alias("__h"),
    ).dropna(subset=["__sid"])
    partials = _monoid_partials(hashed, keys, _sample_spec(k, seed))
    return _merge_sample_states(partials, keys)


def _sample_update(pairs: list, grp, k: int) -> None:
    pairs.extend(zip(grp["__h"].astype(int), grp["__sid"]))
    if len(pairs) > 4 * k:  # periodic compaction
        pairs[:] = sorted(set(pairs))[:k]


def _sample_pack(pairs: list, k: int, seed: int) -> dict:
    pairs = sorted(set(pairs))[:k]
    return {"s_hash": [h for h, _ in pairs],
            "s_id": [i for _, i in pairs], "s_k": k, "s_seed": seed}


def _sample_spec(k: int = 0, seed: int = 0) -> _MonoidSpec:
    return _MonoidSpec(
        state_cols={"s_hash": "array<bigint>", "s_id": "array<string>",
                    "s_k": "int", "s_seed": "int"},
        init=list,
        update=lambda pairs, grp: _sample_update(pairs, grp, k),
        pack=lambda pairs: _sample_pack(pairs, k, seed),
        merge_rows=_sample_merge_rows,
    )


def _sample_merge_rows(pdf) -> dict:
    contracts = set(
        (int(a), int(b)) for a, b in zip(pdf["s_k"], pdf["s_seed"])
    )
    if len(contracts) > 1:
        raise ValueError(
            f"sample states with different (k, seed) "
            f"{sorted(contracts)} cannot merge"
        )
    k, seed = contracts.pop()
    pairs = [
        (int(h), str(i))
        for hs, ids in zip(pdf["s_hash"], pdf["s_id"])
        for h, i in zip(hs, ids)
    ]
    return _sample_pack(pairs, k, seed)


def _merge_sample_states(
    state: DataFrame, keys: tuple[str, ...]
) -> DataFrame:
    return _monoid_merge_states(state, keys, _sample_spec())


def merge_sample_rollup(
    *states: DataFrame, keys: tuple[str, ...]
) -> DataFrame:
    """Union per-split bottom-k sample states — a TRUE monoid (set
    union + keep bottom-k): merged splits equal the one-pass state
    bit-for-bit, unconditionally; mixed (k, seed) contracts raise."""
    return _monoid_union_merge(states, keys, _sample_spec(),
                               "merge_sample_rollup")


def finalize_sample_rollup(state: DataFrame) -> DataFrame:
    """Explode the maintained sample to one row per (key, sample_id)."""
    key_cols = [
        f.name for f in state.schema.fields
        if f.name not in ("s_hash", "s_id", "s_k", "s_seed")
    ]
    return state.select(
        *key_cols, F.explode(F.col("s_id")).alias("sample_id")
    )


def kmv_distinct_estimate(state: DataFrame) -> DataFrame:
    """KMV cardinality estimate off the sample state: with fewer than
    k retained hashes the count is exact; at capacity, the classic
    (k−1)·2³²/h_k estimator over the k-th smallest of the 32-bit
    hashes (relative error ~1/√(k−2), pinned in pytest). h_k is
    clamped to ≥1: hash32 can legitimately be 0 (md5 prefix
    "00000000", ~k/2³² per key at capacity), and dividing by it would
    report Infinity instead of a number — the clamp's worst case,
    (k−1)·2³², is the estimator's natural ceiling."""
    key_cols = [
        f.name for f in state.schema.fields
        if f.name not in ("s_hash", "s_id", "s_k", "s_seed")
    ]
    n = F.size(F.col("s_hash"))
    hk = F.greatest(
        F.get(F.col("s_hash"), F.col("s_k") - F.lit(1)).cast("double"),
        F.lit(1.0),
    )
    return state.select(
        *key_cols,
        F.when(n < F.col("s_k"), n.cast("double"))
        .otherwise(
            (F.col("s_k") - F.lit(1)).cast("double")
            * F.lit(float(2 ** 32)) / hk
        )
        .alias("n_distinct_est"),
    )


def kmv_overlap_pairs(
    state: DataFrame,
    keys: tuple[str, ...],
    min_jaccard: float = 0.0,
    broadcast_max_bytes: int = 512 * 1024 * 1024,
    banded: bool | None = None,
) -> DataFrame:
    """Distinct-set OVERLAP between every pair of keys, estimated from
    their maintained bottom-k sample states — "how many distinct users
    do two segments share" without ever materializing per-key user
    sets (at 100 TB the sets ARE the data; the states are k longs per
    key, maintained forever at delta cost by the sample monoid).

    The classic KMV set-operation estimator (Beyer et al.): for a pair
    (A, B), L = the K smallest hashes of A ∪ B with K = min(k, |union
    of the two sketches|) — computable exactly from two bottom-k
    sketches, which is the whole trick — then ``n_common`` = |L ∩ A ∩
    B|, ``jaccard`` = n_common / K, and ``n_common_est`` = jaccard ×
    the KMV cardinality estimate of the union (same exact-below-
    capacity / (K−1)·2³²/h_K-at-capacity convention, h clamped ≥ 1,
    as :func:`kmv_distinct_estimate`). While both keys' distinct
    counts stay under k the sketches are the full hash sets and every
    output is EXACT (n_common = |A∩B|, jaccard = the true Jaccard);
    past capacity the error is the estimator's ~1/√K. Mixed (k, seed)
    contracts raise at execution — the hash family is an identity
    contract like the minhash monoid's; the guard is embedded in
    ``kk``, which every output column and the threshold filter build
    on, so no projection can prune the check (r12 advisor — the r12
    shape guarded only ``k_used``, and a consumer selecting just
    (keys, jaccard) silently mixed incompatible sketches).

    Hash-collision hazard (r12 advisor): the sample state keeps the k
    smallest distinct (hash, ID) PAIRS, so a within-key 32-bit
    collision landing in the bottom-k leaves the sketch with a
    duplicate hash value — at capacity the deduped union can then
    hold < k distinct hashes (the exact branch fires on a
    technically-at-capacity sketch) and n_common counts the collided
    pair once. Probability ~k²/2³³ per key (~10⁻⁴ at k=1024), effect
    one estimator sample — inside the ~1/√K error pinned in
    EXACTNESS; the DuckDB oracle replicates the pair-ranked sketch
    construction bit-for-bit, so the correctness check stays
    deterministic either way.

    Scale and plan shape are the shared :func:`_pairwise_state_join`
    scaffold (eager localCheckpoint so the state build runs once;
    byte-budget broadcast guard — a k=1024 sample row is ~8 KB, so
    the budget matters here where a key-count threshold sized for
    the ~128 B minhash rows would broadcast-explode). Above the
    budget with ``min_jaccard > 0`` the scaffold self-bands the
    SKETCH (r12 verdict #2): candidacy = sharing at least one
    bottom-k hash, positionless — n_common is 0 without a shared
    hash, so the banded output is IDENTICAL to the cartesian's after
    the threshold filter, at any key cardinality, through equi-joins
    only. ``banded=True`` forces that path; the remaining
    threshold-0 above-budget case falls back to a loudly-warned
    distributed cartesian. Pure Catalyst array ops — sorted-array
    union/intersect over k-sized arrays, no Python."""
    joined = _pairwise_state_join(
        state, keys,
        {"s_hash": "h", "s_k": "k", "s_seed": "r"},
        # capacity (s_k), not the observed array length: the budget
        # must hold for the fullest rows, not the first one sampled
        lambda r: 8 * int(r["s_k"]) + 64,
        broadcast_max_bytes,
        band_col="s_hash",
        band_positional=False,
        banded=banded,
        threshold_positive=min_jaccard > 0.0,
        op_label="kmv_overlap_pairs",
    )
    union = F.array_sort(F.array_union("__ha", "__hb"))
    contract_ok = (
        (F.col("__ka") == F.col("__kb"))
        & (F.col("__ra") == F.col("__rb"))
    )
    # The mixed-contract guard lives INSIDE kk — every downstream
    # value (low, n_common, jaccard, union_est, the min_jaccard
    # filter) is built on kk, so ANY projection of ANY output column
    # forces the check. The r12 shape guarded only k_used: a consumer
    # selecting just (keys, jaccard) let Catalyst prune the raise and
    # silently mix sketches from incompatible hash families (r12
    # advisor, medium). minhash_similarity_pairs embeds its guard in
    # est_jaccard the same way.
    kk = F.when(
        ~contract_ok,
        F.raise_error(F.lit(
            "kmv overlap across different (k, seed) contracts is "
            "meaningless — the hash family is an identity contract "
            "(rebuild one side)"
        )).cast("int"),
    ).otherwise(F.least(F.col("__ka"), F.size(union)))
    low = F.slice(union, F.lit(1), kk)
    n_common = F.size(
        F.array_intersect(low, F.array_intersect("__ha", "__hb"))
    )
    jac = n_common.cast("double") / kk.cast("double")
    union_est = F.when(
        F.size(union) < F.col("__ka"), F.size(union).cast("double")
    ).otherwise(
        (F.col("__ka") - F.lit(1)).cast("double") * F.lit(float(2 ** 32))
        / F.greatest(F.element_at(low, kk).cast("double"), F.lit(1.0))
    )
    return (
        joined
        .select(
            *[f"{k}_a" for k in keys], *[f"{k}_b" for k in keys],
            kk.cast("bigint").alias("k_used"),
            n_common.cast("bigint").alias("n_common"),
            jac.alias("jaccard"),
            (jac * union_est).alias("n_common_est"),
        )
        .filter(F.col("jaccard") >= F.lit(float(min_jaccard)))
    )


# ---------------------------------------------------------------------------
# Top-k-by-score monoid
#
# "The k best documents per source" is the curation counterpart of the
# heavy-hitters monoid: hot items answer "what dominates", this answers
# "what to keep". Union-then-keep-top-k over (score, id) pairs is a TRUE
# monoid like the bottom-k sample — associative, commutative, idempotent
# on duplicate pairs — so the maintained leaderboard equals a full
# recompute bit-for-bit at every merge, with NO approximation regime.
# Order is total and deterministic: score DESC, then id ASC (ids travel
# as strings, so the tie-break is the string order — the same portable
# convention as the sample monoid's ids). An id appearing with two
# DIFFERENT scores is two pairs (same contract as KMV's (hash, id)
# pairs); feed it a stable per-id score — e.g. a document's quality
# score — and it is a per-id leaderboard.
# ---------------------------------------------------------------------------


def topk_rollup_state(
    df: DataFrame,
    keys: tuple[str, ...],
    id_col: str,
    score_col: str,
    k: int = 16,
) -> DataFrame:
    """Mergeable top-k-by-score state per key (see the module comment
    above). Scaffold shape (:class:`_MonoidSpec`): casts run JVM-side
    (id → string, score → double) before the Arrow boundary; pandas
    only accumulates and periodically compacts to the k best pairs, so
    the single exchange carries ≤ k (score, id) pairs per (partition,
    key), never the rows. NULL ids and NULL/NaN scores are ignored.
    ``k`` travels in the state (``t_k``); mixed-k merges refuse.
    Per-task memory: see the scaffold's memory-honesty note."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    proj = df.select(
        *keys,
        F.col(id_col).cast("string").alias("__tid"),
        F.col(score_col).cast("double").alias("__tscore"),
    ).dropna(subset=["__tid", "__tscore"])
    partials = _monoid_partials(proj, keys, _topk_spec(k))
    return _merge_topk_states(partials, keys)


def _topk_order(pair):
    # score DESC, id ASC — the monoid's total order
    return (-pair[0], pair[1])


def _topk_update(pairs: list, grp, k: int) -> None:
    pairs.extend(zip(grp["__tscore"].astype(float), grp["__tid"]))
    if len(pairs) > 4 * k:  # periodic compaction
        pairs[:] = sorted(set(pairs), key=_topk_order)[:k]


def _topk_pack(pairs: list, k: int) -> dict:
    pairs = sorted(set(pairs), key=_topk_order)[:k]
    return {"t_score": [s for s, _ in pairs],
            "t_id": [i for _, i in pairs], "t_k": k}


def _topk_spec(k: int = 0) -> _MonoidSpec:
    return _MonoidSpec(
        state_cols={"t_score": "array<double>", "t_id": "array<string>",
                    "t_k": "int"},
        init=list,
        update=lambda pairs, grp: _topk_update(pairs, grp, k),
        pack=lambda pairs: _topk_pack(pairs, k),
        merge_rows=_topk_merge_rows,
        # NaN scores survive a double cast; drop them pandas-side too
        prepare_batch=lambda pdf: pdf.dropna(subset=["__tscore"]),
    )


def _topk_merge_rows(pdf) -> dict:
    ks = set(int(x) for x in pdf["t_k"])
    if len(ks) > 1:
        raise ValueError(
            f"top-k states built with different k {sorted(ks)} cannot "
            "merge — k is a retention contract (rebuild one side)"
        )
    k = ks.pop()
    pairs = [
        (float(s), str(i))
        for ss, ids in zip(pdf["t_score"], pdf["t_id"])
        for s, i in zip(ss, ids)
    ]
    return _topk_pack(pairs, k)


def _merge_topk_states(
    state: DataFrame, keys: tuple[str, ...]
) -> DataFrame:
    return _monoid_merge_states(state, keys, _topk_spec())


def merge_topk_rollup(
    *states: DataFrame, keys: tuple[str, ...]
) -> DataFrame:
    """Union per-split top-k states — a TRUE monoid (pair-set union +
    keep-top-k): merged splits equal the one-pass state bit-for-bit,
    unconditionally; mixed-k contracts raise."""
    return _monoid_union_merge(states, keys, _topk_spec(),
                               "merge_topk_rollup")


def finalize_topk_rollup(state: DataFrame) -> DataFrame:
    """Explode the maintained leaderboard to one row per (key, rank):
    ``rank`` (1-based, long — matches SQL row_number), ``item``,
    ``score``."""
    key_cols = [
        f.name for f in state.schema.fields
        if f.name not in ("t_score", "t_id", "t_k")
    ]
    return state.select(
        *key_cols,
        F.posexplode(
            F.arrays_zip(F.col("t_id"), F.col("t_score"))
        ).alias("__pos", "__e"),
    ).select(
        *key_cols,
        (F.col("__pos") + 1).cast("long").alias("rank"),
        F.col("__e.t_id").alias("item"),
        F.col("__e.t_score").alias("score"),
    )


# ---------------------------------------------------------------------------
# MinHash signature monoid (per-key set signatures, pure JVM)
#
# The rollup family maintains per-key SCALAR statistics; this member
# maintains per-key SET IDENTITY: slot i of the signature is
# min(hash_i(item)) over every item ever folded into the key, so two
# keys' signatures estimate their item-set Jaccard similarity as the
# fraction of equal slots (the classic Broder MinHash argument) —
# "which sources/languages/shards share content" maintained forever at
# delta cost, without ever comparing item sets. Elementwise min is a
# TRUE monoid (associative, commutative, idempotent on re-folded
# items), so the maintained signature equals a full recompute
# bit-for-bit, unconditionally — and unlike the pandas-built monoids
# the whole thing is native Catalyst: the state build is one
# map-side-combined min-aggregate (the shuffle carries n_hashes longs
# per key per partial map task — never items), and the merge is a
# zip_with/least fold over collected partials. No Python anywhere.
#
# Per-slot hash functions are the repo's standard Carter-Wegman affine
# family over ONE base hash32 (the same family minhash_signatures
# uses): slot i = ((2i+1)·h + i·987654321) mod (2³¹−1) with
# h = hash32(seed:item). One md5 per item instead of n_hashes md5s
# (measured: the per-slot-seeded-md5 form was 1.5× slower end-to-end
# at sf0.1 — the slot hashes were ~half the entry's cost; shingle
# generation owns the rest) — and engine-portable:
# the DuckDB oracle reproduces every slot with the same long
# arithmetic (at the n_hashes=256 cap, (2i+1)·h < 511·2^32 < 2^41
# and the i·987654321 offset < 2^38 — far inside int64; the bound
# REQUIRES h ∈ [0, 2^32), which the prehashed path range-checks).
# (n_hashes, seed) travel in the state and are a merge contract like
# the other monoids' k.
# ---------------------------------------------------------------------------


def minhash_rollup_state(
    df: DataFrame,
    keys: tuple[str, ...],
    item_col: str,
    n_hashes: int = 16,
    seed: int = 1,
    prehashed: bool = False,
) -> DataFrame:
    """Mergeable per-key MinHash signature state (see the module
    comment above): ``mh_sig`` (array of n_hashes slot minima),
    ``mh_n``, ``mh_seed``. One shuffle, map-side combined; NULL items
    are ignored (a key with no non-null items emits no row — same as
    the other monoids).

    ``prehashed=True`` takes ``item_col`` as the already-computed
    hash32 long instead of hashing here — the hot path when an Arrow
    kernel produces item hashes directly (the catalog entries feed
    ``dedup.gram_hashes_vectorized``, which shingles AND hashes ~4.5×
    faster than the Catalyst HOF form at sf0.1). The caller owns the
    seed actually baked into those hashes; ``seed`` still travels in
    the state as the merge-contract label, so mislabeling it breaks
    the mixed-contract refusal — label honestly."""
    from polymarket_data_ingestor_spark.functions.scalars import hash32
    from polymarket_data_ingestor_spark.operators.dedup import (
        MINHASH_PRIME,
    )

    if not 1 <= n_hashes <= 256:
        raise ValueError(
            f"n_hashes must be in [1, 256], got {n_hashes}"
        )
    if prehashed:
        # integral column REQUIRED: cast("long") on a string column
        # turns every non-numeric item into NULL, and dropna would then
        # silently erase whole keys from the state — the exact mistake
        # the flag invites (passing raw items with prehashed=True)
        dt = df.schema[item_col].dataType.typeName()
        if dt not in ("long", "integer", "short", "byte"):
            raise ValueError(
                f"prehashed=True needs an integral hash column; "
                f"{item_col!r} is {dt} (pass the raw items with "
                "prehashed=False instead)"
            )
        # range guard, same spirit as the integral-type check: the
        # Carter-Wegman slot arithmetic (and its no-overflow bound, and
        # the DuckDB oracle running the identical longs) assumes hash32
        # range [0, 2^32) — a caller feeding xxhash64/murmur64 values
        # would silently wrap the (2i+1)·h multiply for higher slots
        # (sign-carrying % then yields negative slots), quietly leaving
        # the engine-portable family. raise_error rides the expression
        # tree, so the plan stays lazy like every other monoid builder.
        h = F.col(item_col).cast("long")
        guarded = F.when(
            # NULL first: NULL items are IGNORED (dropna below), same
            # as every monoid builder — without this branch a NULL
            # would fall through to the range raise
            h.isNull(), F.lit(None).cast("long")
        ).when(
            (h >= 0) & (h < F.lit(2 ** 32)), h
        ).otherwise(
            F.raise_error(F.concat(
                F.lit("prehashed minhash input out of hash32 range "
                      "[0, 2^32): got "),
                h.cast("string"),
                F.lit(" (pass hash32 values, or the raw items with "
                      "prehashed=False)"),
            ))
        )
        items = df.select(
            *keys, guarded.alias("__h"),
        ).dropna(subset=["__h"])
    else:
        items = df.select(
            *keys,
            hash32(F.col(item_col).cast("string"),
                   seed=seed).alias("__h"),
        ).dropna(subset=["__h"])
    return items.groupBy(*keys).agg(
        F.array(*[
            F.min(
                (F.lit(2 * i + 1) * F.col("__h")
                 + F.lit(i * 987_654_321)) % F.lit(MINHASH_PRIME)
            )
            for i in range(n_hashes)
        ]).alias("mh_sig"),
        F.lit(n_hashes).alias("mh_n"),
        F.lit(seed).alias("mh_seed"),
    )


def merge_minhash_rollup(
    *states: DataFrame, keys: tuple[str, ...]
) -> DataFrame:
    """Union per-split signature states into one per key — elementwise
    min via a ``zip_with``/``least`` fold over the collected partials
    (order-free: min is commutative), one state-sized shuffle, still
    zero Python. Mixed (n_hashes, seed) contracts raise AT EXECUTION
    (``raise_error`` — the check rides the same expression tree, so
    the lazy-plan convention of the other merge fns is preserved)."""
    out = _union_states(states, "merge_minhash_rollup")
    gathered = out.groupBy(*keys).agg(
        F.collect_list("mh_sig").alias("__sigs"),
        F.count_distinct(F.struct("mh_n", "mh_seed")).alias("__nc"),
        F.first("mh_n").alias("mh_n"),
        F.first("mh_seed").alias("mh_seed"),
    )
    folded = F.aggregate(
        F.slice(F.col("__sigs"), 2, F.size("__sigs") - 1),
        F.element_at(F.col("__sigs"), 1),
        lambda acc, s: F.zip_with(acc, s, lambda a, b: F.least(a, b)),
    )
    return gathered.select(
        *keys,
        F.when(
            F.col("__nc") > 1,
            F.raise_error(F.lit(
                "minhash states built with different (n_hashes, seed) "
                "cannot merge — the hash family is an identity "
                "contract (rebuild one side)"
            )),
        ).otherwise(folded).alias("mh_sig"),
        "mh_n",
        "mh_seed",
    )


def finalize_minhash_rollup(state: DataFrame) -> DataFrame:
    """Explode the signature to one row per (key, slot): ``slot``
    (0-based, long), ``min_hash`` — the flat form downstream SQL (and
    the driver's value-hash compare) can consume."""
    key_cols = [
        f.name for f in state.schema.fields
        if f.name not in ("mh_sig", "mh_n", "mh_seed")
    ]
    return state.select(
        *key_cols,
        F.posexplode(F.col("mh_sig")).alias("__slot", "min_hash"),
    ).select(
        *key_cols,
        F.col("__slot").cast("long").alias("slot"),
        "min_hash",
    )


def _pairwise_state_join(
    state: DataFrame,
    keys: tuple[str, ...],
    side_cols: dict,
    per_row_bytes,
    broadcast_max_bytes: int,
    band_col: str | None = None,
    band_positional: bool = True,
    banded: bool | None = None,
    threshold_positive: bool = False,
    op_label: str = "state-pair join",
) -> DataFrame:
    """Shared scaffold of the state-pair operators
    (:func:`minhash_similarity_pairs` / :func:`kmv_overlap_pairs` —
    r12 second review: ONE copy, parallel scaffolds drift): eagerly
    ``localCheckpoint`` the keys-sized state so the (possibly
    corpus-scale) build runs exactly once and the count, the join
    sides, and every downstream action read the checkpointed blocks;
    alias each side's payload columns (``side_cols`` maps state column
    → alias stem, emitted as ``__<stem>a``/``__<stem>b``); join every
    ORDERED key pair (struct(keys_a) < struct(keys_b)).

    The broadcast guard is a BYTE budget, not a key count: members of
    this family carry very different row payloads (a kmv k=1024 row is
    ~8 KB of hash array where a minhash n_hashes=16 row is ~128 B), so
    one key-count threshold sized for the light member broadcast-
    explodes on the heavy one (the r12 second review's 8 GB example).
    ``per_row_bytes(first_row)`` estimates a row's payload from one
    representative row (capacity fields, not observed lengths, where
    available).

    Above the budget there are TWO paths (r12 verdict #2 — the old
    unconditional keys² cartesian was the family's scale ceiling):

    * **banded** (``band_col`` set and the caller's similarity
      threshold strictly positive): self-band the maintained sketch
      itself, exactly as ``minhash_lsh_pairs`` bands document
      signatures — explode ``band_col``, equi-join on the banded
      value (plus the slot position when ``band_positional``, the
      minhash convention; positionless for kmv, where sharing ANY
      bottom-k hash is the candidacy event), distinct the ordered
      candidate pairs, then equi-join each side's payload back on its
      keys. EXACT-equivalent to the cartesian, not approximate: a
      pair sharing no banded value scores 0 on both estimators
      (zero matching slots / empty sketch intersection), and the
      caller's ``>= threshold`` filter with threshold > 0 drops score-0
      pairs from the exact path's output too. All equi-joins — the
      plan has no cartesian at ANY key cardinality.
    * **fallback cartesian** (no band column, or threshold 0 where the
      banded path would drop legitimate score-0 output rows): forced
      ``shuffle_replicate_nl`` — merely dropping the hint would let
      the planner's size-stats re-pick BroadcastNestedLoopJoin — and
      LOUDLY warned (r12 verdict #8: a silent keys² cartesian must
      never ship unnoticed).

    ``banded`` overrides the auto choice: ``True`` forces banding even
    under the broadcast budget (raises without a positive threshold —
    the output would silently lose score-0 pairs); ``False`` forbids
    it. Same localCheckpoint trade as ``pagerank``'s round tables: no
    executor-loss recompute for the (tiny) state, blocks freed by the
    ContextCleaner when the result is garbage."""
    if banded and not threshold_positive:
        raise ValueError(
            f"{op_label}: banded pairing requires a positive "
            "similarity threshold — with threshold 0 the exact output "
            "includes zero-overlap pairs the banded path cannot "
            "produce"
        )
    if banded and band_col is None:
        raise ValueError(f"{op_label}: no band column to band on")
    state = state.localCheckpoint(eager=True)
    a = state.select(
        *[F.col(k).alias(f"{k}_a") for k in keys],
        *[F.col(c).alias(f"__{s}a") for c, s in side_cols.items()],
    )
    b = state.select(
        *[F.col(k).alias(f"{k}_b") for k in keys],
        *[F.col(c).alias(f"__{s}b") for c, s in side_cols.items()],
    )
    n = state.count()
    first = state.head() if n else None
    est = n * per_row_bytes(first) if first is not None else 0
    over_budget = est > broadcast_max_bytes
    use_banded = (
        banded if banded is not None
        else over_budget and threshold_positive and band_col is not None
    )
    if use_banded:
        bexp = (F.posexplode(band_col) if band_positional
                else F.explode(band_col))
        balias = (("__bp", "__bv") if band_positional else ("__bv",))
        ex = state.select(*keys, bexp.alias(*balias))
        ca = ex.select(
            *[F.col(k).alias(f"{k}_a") for k in keys], *balias)
        cb = ex.select(
            *[F.col(k).alias(f"{k}_b") for k in keys], *balias)
        cand = (
            ca.join(cb, on=list(balias))
            .filter(
                F.struct(*[F.col(f"{k}_a") for k in keys])
                < F.struct(*[F.col(f"{k}_b") for k in keys])
            )
            .select(*[f"{k}_a" for k in keys],
                    *[f"{k}_b" for k in keys])
            .distinct()
        )
        return (
            cand
            .join(a, on=[f"{k}_a" for k in keys])
            .join(b, on=[f"{k}_b" for k in keys])
        )
    cond = (
        F.struct(*[F.col(f"{k}_a") for k in keys])
        < F.struct(*[F.col(f"{k}_b") for k in keys])
    )
    if over_budget:
        import warnings

        warnings.warn(
            f"{op_label}: state (~{est >> 20} MiB, {n} keys) exceeds "
            f"the {broadcast_max_bytes >> 20} MiB broadcast budget and "
            "no banded path applies "
            + ("(band column unavailable)" if band_col is None
               else "(threshold is 0 — score-0 pairs are legitimate "
                    "output)")
            + " — falling back to a DISTRIBUTED CARTESIAN (keys² "
            "pairs). Pass a positive threshold to enable banded "
            "pruning.",
            stacklevel=3,
        )
    right = (
        F.broadcast(b) if not over_budget
        else b.hint("shuffle_replicate_nl")
    )
    return a.join(right, cond)


def minhash_similarity_pairs(
    state: DataFrame,
    keys: tuple[str, ...],
    min_similarity: float = 0.0,
    broadcast_max_bytes: int = 512 * 1024 * 1024,
    banded: bool | None = None,
) -> DataFrame:
    """Estimated Jaccard similarity for every key pair from their
    signatures: ``est_jaccard`` = fraction of equal slots (exactly the
    Broder estimator; deterministic given the hash family, so the
    DuckDB oracle reproduces it bit-for-bit). The self-join is
    STATE-sized (keys² pairs over n_hashes-long arrays) — the whole
    point: corpus items were already folded away, so comparing every
    source against every source costs nothing at any corpus size.
    Mixed-contract pairs raise at execution.

    The broadcast is GUARDED, not unconditional (r11 verdict): for the
    intended key domains (sources, languages, shards — thousands of
    keys) one side broadcasts; a caller keying by DOCUMENT would
    broadcast-explode every executor with a corpus-sized table, so
    above the ``broadcast_max_bytes`` budget with ``min_similarity >
    0`` the scaffold self-bands the SIGNATURE (r12 verdict #2, the
    trick :func:`~..dedup.minhash_lsh_pairs` applies to documents):
    candidacy = at least one matching (slot, min) — est_jaccard is 0
    without one, so the banded output is IDENTICAL to the cartesian's
    after the threshold filter, at any key cardinality, through
    equi-joins only. ``banded=True`` forces that path; the remaining
    threshold-0 above-budget case falls back to a loudly-warned
    distributed cartesian. The scaffold — eager localCheckpoint
    so the state build runs exactly ONCE (a bare count() on the
    un-persisted lineage re-ran the whole build per consumer, the r12
    review's +1-corpus-pass finding), ordered pair condition, and the
    byte-budget broadcast guard — is the shared
    :func:`_pairwise_state_join`; this function owns only the Broder
    estimator and the hash-family contract."""
    joined = _pairwise_state_join(
        state, keys,
        {"mh_sig": "s", "mh_n": "n", "mh_seed": "r"},
        lambda r: 8 * int(r["mh_n"]) + 64,
        broadcast_max_bytes,
        band_col="mh_sig",
        band_positional=True,
        banded=banded,
        threshold_positive=min_similarity > 0.0,
        op_label="minhash_similarity_pairs",
    )
    matches = F.size(F.filter(
        F.zip_with("__sa", "__sb", lambda x, y: x == y), lambda v: v
    ))
    est = F.when(
        (F.col("__na") != F.col("__nb"))
        | (F.col("__ra") != F.col("__rb")),
        F.raise_error(F.lit(
            "minhash similarity across different (n_hashes, seed) "
            "contracts is meaningless — rebuild one side"
        )),
    ).otherwise(matches.cast("double") / F.col("__na"))
    return (
        joined
        .select(
            *[f"{k}_a" for k in keys], *[f"{k}_b" for k in keys],
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= F.lit(float(min_similarity)))
    )


# ---------------------------------------------------------------------------
# Per-key OLS sufficient-statistics monoid (pure Catalyst, exact decimals)
#
# The maintained-trend member of the rollup family: per key, keep the six
# OLS sufficient statistics (n, Σx, Σy, Σx², Σy², Σxy) over (x, y) pairs
# and derive slope / intercept / R² at read time — "is this market's
# price drifting", "is this source's quality degrading" maintained
# forever at delta cost, never re-reading history. Component-wise sums
# are the textbook TRUE monoid; with the sums in exact DECIMAL (like
# rollup_state's variance pair) the merged state — and therefore every
# derived coefficient — is bit-identical under any split, any merge
# order, any partitioning. The whole operator is native Catalyst: one
# map-side-combined aggregate, no Python anywhere, and the DuckDB oracle
# reproduces it digit-for-digit (decimal sums, then the identical
# fixed-shape double expressions at finalize).
# ---------------------------------------------------------------------------


def _decimal_range_guard(col_name: str, scale: int, op_label: str):
    """The ONE decimal-input guard shared by the sufficient-statistics
    monoids (:func:`linreg_rollup_state` / :func:`corr_rollup_state` —
    r12 third review: the try_cast/ANSI subtlety must not live in two
    copies). try_cast, not cast: under Spark 4's default ANSI mode a
    plain cast raises ITS error before the guard can shape the
    message, and under non-ANSI it silently NULLs — try_cast gives the
    mode-independent NULL this guard then turns into the loud, named
    contract violation. NULL inputs stay NULL (the builders' listwise
    dropna owns them)."""
    c = F.col(col_name)
    cast = c.try_cast(f"decimal(18,{scale})")
    return (
        F.when(c.isNull(), F.lit(None).cast(f"decimal(18,{scale})"))
        .when(cast.isNotNull(), cast)
        .otherwise(F.raise_error(F.concat(
            F.lit(f"{op_label}: {col_name} value not representable in "
                  f"decimal(18,{scale}) (overflow or NaN/Inf): "),
            c.cast("string"),
            F.lit(" — normalize/filter upstream"),
        )))
    )


def linreg_rollup_state(
    df: DataFrame,
    keys: tuple[str, ...],
    x_col: str,
    y_col: str,
    scale: int = 6,
) -> DataFrame:
    """Mergeable per-key OLS state: ``lr_n`` plus exact decimal sums
    ``lr_sx``/``lr_sy`` (decimal(38,scale)) and ``lr_sxx``/``lr_syy``/
    ``lr_sxy`` (decimal(38,2·scale)), plus exact min/max of x and y
    (the finalize guards' degeneracy witnesses). Inputs are cast to
    decimal(18,scale) — 18 digits keeps every product inside Spark's
    38-digit cap with NO precision-loss rounding (the EXACTNESS.md
    trap) — so x must fit 18−scale integer digits (epoch SECONDS fit
    at the default scale 6; epoch millis/micros do not — normalize
    first, the catalog entry shows the exact-decimal ms→s conversion).
    A pair where either side is NULL is skipped (pairwise-complete,
    like every monoid builder ignores NULLs); a NON-NULL value the
    decimal cannot represent (overflow, NaN/±Inf) raises at execution
    instead of silently vanishing from the sums — the loud contract,
    same spirit as the prehashed minhash range guard. ``scale`` (also
    the round-trip contract, stored as ``lr_scale``) trades fractional
    precision against x/y range.

    CAPACITY CEILING (r12 second review): the square sums accumulate
    in decimal(38,2·scale), so a key holds at most 10^(38−2·scale) /
    max(x², y², |x·y|) rows before Σ overflows — with epoch-seconds x
    (~1.76e9, x² ≈ 3.1e18) at the default scale that is ~3.2e7 rows
    per key. Past it, ANSI mode raises ARITHMETIC_OVERFLOW at the
    fold; non-ANSI NULLs the sum, which :func:`finalize_linreg_rollup`
    turns into a loud raise (NULL sum with lr_n > 0) instead of
    silently-NULL coefficients. For long-lived high-rate keys, CENTER
    x (regress on x − x₀ for a fixed recent epoch — x ~ 1e8 lifts the
    ceiling ~1000×; the slope is unchanged, the intercept shifts by
    slope·x₀).

    Scale shape: one map-side-combined aggregate — the shuffle carries
    six numbers per key per partial map task, never rows. At 100 TB
    this is the cheapest member of the monoid family: constant state,
    zero Python, whole-stage codegen end to end."""
    if not 0 <= scale <= 9:
        raise ValueError(f"scale must be in [0, 9], got {scale}")
    pairs = df.select(
        *keys,
        _decimal_range_guard(x_col, scale, "linreg").alias("__x"),
        _decimal_range_guard(y_col, scale, "linreg").alias("__y"),
    ).dropna(subset=["__x", "__y"])
    x, y = F.col("__x"), F.col("__y")
    s2 = 2 * scale
    # min/max of x and y ride in the state (each its own monoid, like
    # rollup_state's): they are the EXACT degeneracy witnesses the
    # finalize guards need — testing `n·Σx² − (Σx)² != 0` on the
    # double-cast sums lets catastrophic-cancellation ulp noise
    # impersonate a nonzero variance for constant non-dyadic x
    # (x = 0.1 over 7 rows → den ≈ 1e-16 → garbage slope 16.0; r12
    # second review, verified numerically), while min == max is exact
    # arithmetic-free truth.
    return pairs.groupBy(*[F.col(k) for k in keys]).agg(
        F.count(F.lit(1)).alias("lr_n"),
        F.sum(x).cast(f"decimal(38,{scale})").alias("lr_sx"),
        F.sum(y).cast(f"decimal(38,{scale})").alias("lr_sy"),
        F.sum(x * x).cast(f"decimal(38,{s2})").alias("lr_sxx"),
        F.sum(y * y).cast(f"decimal(38,{s2})").alias("lr_syy"),
        F.sum(x * y).cast(f"decimal(38,{s2})").alias("lr_sxy"),
        F.min(x).alias("lr_min_x"),
        F.max(x).alias("lr_max_x"),
        F.min(y).alias("lr_min_y"),
        F.max(y).alias("lr_max_y"),
        F.lit(scale).alias("lr_scale"),
    )


def merge_linreg_rollup(
    *states: DataFrame, keys: tuple[str, ...]
) -> DataFrame:
    """Union per-split OLS states into one per key — component-wise
    decimal sums (exact, so merge order can never change a digit), one
    state-sized shuffle, zero Python. Mixed ``lr_scale`` contracts
    raise AT EXECUTION (``raise_error`` rides the expression tree —
    the family's lazy-plan convention): sums at different scales are
    different units."""
    out = _union_states(states, "merge_linreg_rollup")
    scale_t = dict(out.dtypes)["lr_sx"]
    sq_t = dict(out.dtypes)["lr_sxx"]
    gathered = out.groupBy(*[F.col(k) for k in keys]).agg(
        F.sum("lr_n").alias("lr_n"),
        F.sum("lr_sx").cast(scale_t).alias("lr_sx"),
        F.sum("lr_sy").cast(scale_t).alias("lr_sy"),
        F.sum("lr_sxx").cast(sq_t).alias("lr_sxx"),
        F.sum("lr_syy").cast(sq_t).alias("lr_syy"),
        F.sum("lr_sxy").cast(sq_t).alias("lr_sxy"),
        F.min("lr_min_x").alias("lr_min_x"),
        F.max("lr_max_x").alias("lr_max_x"),
        F.min("lr_min_y").alias("lr_min_y"),
        F.max("lr_max_y").alias("lr_max_y"),
        F.count_distinct("lr_scale").alias("__nc"),
        F.first("lr_scale").alias("lr_scale"),
    )
    return gathered.select(
        *keys,
        F.when(
            F.col("__nc") > 1,
            F.raise_error(F.lit(
                "linreg states built with different scales cannot "
                "merge — the decimal scale is a unit contract "
                "(rebuild one side)"
            )).cast("bigint"),
        ).otherwise(F.col("lr_n")).alias("lr_n"),
        "lr_sx", "lr_sy", "lr_sxx", "lr_syy", "lr_sxy",
        "lr_min_x", "lr_max_x", "lr_min_y", "lr_max_y", "lr_scale",
    )


def finalize_linreg_rollup(state: DataFrame) -> DataFrame:
    """Derive the regression coefficients from the exact sufficient
    statistics: ``slope`` = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²), ``intercept``
    = Σy/n − slope·(Σx/n), ``r2`` = (nΣxy − ΣxΣy)²/((nΣx² − (Σx)²)·
    (nΣy² − (Σy)²)) — each a FIXED double expression tree over
    bit-identical decimal operands, so the doubles are bit-identical
    too however the state was split and merged (the finalize_rollup /
    delta_volatility convention; the DuckDB oracle spells the same
    trees). Degenerate keys report NULL, detected on the EXACT
    min/max witnesses carried in the state, not on the double image
    of nΣx² − (Σx)² (catastrophic cancellation leaves ulp noise there
    for constant non-dyadic x — the r12 second review's garbage-slope
    finding): constant x → no slope/intercept/r2; constant y
    additionally → no r2; the ``den/deny != 0`` double checks stay
    as belt-and-braces against the opposite rounding direction (a
    genuinely nonzero quantity whose double image rounds to 0 must
    not divide). A NULL square-sum with ``lr_n > 0`` is an OVERFLOWED
    non-ANSI fold (see the state builder's capacity ceiling) and
    raises here rather than reporting silently-NULL coefficients.
    n stays as ``n_pairs``."""
    key_cols = [
        f.name for f in state.schema.fields
        if f.name not in ("lr_n", "lr_sx", "lr_sy", "lr_sxx", "lr_syy",
                          "lr_sxy", "lr_min_x", "lr_max_x", "lr_min_y",
                          "lr_max_y", "lr_scale")
    ]
    n = F.col("lr_n").cast("double")
    sx = F.col("lr_sx").cast("double")
    sy = F.col("lr_sy").cast("double")
    overflow = F.raise_error(F.lit(
        "linreg state holds a NULL square-sum for a key with rows — "
        "a non-ANSI decimal-sum overflow (see linreg_rollup_state's "
        "capacity ceiling; center x to lift it)"
    ))
    sxx = F.when(
        F.col("lr_sxx").isNull() & (F.col("lr_n") > 0), overflow
    ).otherwise(F.col("lr_sxx")).cast("double")
    syy = F.when(
        F.col("lr_syy").isNull() & (F.col("lr_n") > 0), overflow
    ).otherwise(F.col("lr_syy")).cast("double")
    sxy = F.when(
        F.col("lr_sxy").isNull() & (F.col("lr_n") > 0), overflow
    ).otherwise(F.col("lr_sxy")).cast("double")
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    deny = n * syy - sy * sy
    x_varies = F.col("lr_min_x") != F.col("lr_max_x")
    y_varies = F.col("lr_min_y") != F.col("lr_max_y")
    ok = x_varies & (den != 0)
    return state.select(
        *key_cols,
        F.col("lr_n").alias("n_pairs"),
        F.when(ok, num / den).alias("slope"),
        F.when(ok, sy / n - (num / den) * (sx / n))
        .alias("intercept"),
        F.when(ok & y_varies & (deny != 0), (num * num) / (den * deny))
        .alias("r2"),
    )


# ---------------------------------------------------------------------------
# Per-key correlation-matrix monoid (pure Catalyst, exact decimals)
#
# The multivariate sibling of linreg_rollup, aimed at training-data
# feature QA: per key (source/shard/language), maintain the pairwise
# correlation structure of m feature columns — "are this source's
# length and vocabulary features co-varying the way the corpus's do" —
# from exactly the sufficient statistics (n, per-column sums, pairwise
# product sums, min/max witnesses), all exact decimals, all true
# monoids. Same guarantees as the rest of the family: the maintained
# matrix equals a full recompute bit-for-bit under any split/merge/
# partitioning, the whole operator is one map-side-combined Catalyst
# aggregate (m + m(m+1)/2 numbers per key on the shuffle), and the
# DuckDB oracle replays the identical decimal sums and double trees.
# ---------------------------------------------------------------------------


def corr_rollup_state(
    df: DataFrame,
    keys: tuple[str, ...],
    cols: tuple[str, ...],
    scale: int = 6,
) -> DataFrame:
    """Mergeable per-key correlation state over ``cols``: ``cr_n``
    (LISTWISE-complete count — a row missing ANY feature is skipped,
    so every pairwise statistic describes the same row set), exact
    decimal sums ``cr_s__i``, pairwise product sums ``cr_p__i_j``
    (i ≤ j, decimal(38,2·scale)), and min/max degeneracy witnesses per
    column (the linreg lesson: constant columns must be detected on
    exact values, never on the double image of a cancellation).
    ``cr_cols`` (the comma-joined column names) and ``cr_scale``
    travel as the merge/finalize contract. Same decimal range rules,
    try_cast raise-guard, and capacity ceiling as
    :func:`linreg_rollup_state` — see its docstring.

    Scale shape: one map-side-combined aggregate; for m columns the
    shuffle carries m + m(m+1)/2 + 2m numbers per key per partial —
    m=8 is 52 numbers. Whole-stage codegen end to end, zero Python."""
    if not 0 <= scale <= 9:
        raise ValueError(f"scale must be in [0, 9], got {scale}")
    if len(cols) < 2:
        raise ValueError("corr_rollup needs at least 2 columns")
    if len(set(cols)) != len(cols):
        raise ValueError(f"duplicate columns in {cols}")

    m = len(cols)
    rows = df.select(
        *keys,
        *[_decimal_range_guard(c, scale, "corr_rollup").alias(f"__x{i}")
          for i, c in enumerate(cols)],
    ).dropna(subset=[f"__x{i}" for i in range(m)])
    x = [F.col(f"__x{i}") for i in range(m)]
    s2 = 2 * scale
    aggs = [F.count(F.lit(1)).alias("cr_n")]
    aggs += [F.sum(x[i]).cast(f"decimal(38,{scale})").alias(f"cr_s__{i}")
             for i in range(m)]
    aggs += [
        F.sum(x[i] * x[j]).cast(f"decimal(38,{s2})")
        .alias(f"cr_p__{i}_{j}")
        for i in range(m) for j in range(i, m)
    ]
    aggs += [F.min(x[i]).alias(f"cr_min__{i}") for i in range(m)]
    aggs += [F.max(x[i]).alias(f"cr_max__{i}") for i in range(m)]
    aggs += [F.lit(",".join(cols)).alias("cr_cols"),
             F.lit(scale).alias("cr_scale")]
    return rows.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


def merge_corr_rollup(
    *states: DataFrame, keys: tuple[str, ...]
) -> DataFrame:
    """Union per-split correlation states — component-wise exact
    decimal sums + min/max, derived generically from the state schema
    (any m). Mixed (cols, scale) contracts raise AT EXECUTION, the
    family convention: sums over different feature sets or units are
    different animals."""
    out = _union_states(states, "merge_corr_rollup")
    dtypes = dict(out.dtypes)

    def _idx(name: str) -> tuple:
        # numeric-aware ordering that reproduces the BUILDER's column
        # order exactly (state schema stability is part of the monoid
        # contract; a lexicographic sort would also misorder m > 10)
        return tuple(int(p) for p in
                     name.split("__", 1)[1].split("_"))

    sum_cols = (
        sorted((c for c in dtypes if c.startswith("cr_s__")), key=_idx)
        + sorted((c for c in dtypes if c.startswith("cr_p__")),
                 key=_idx)
    )
    min_cols = sorted((c for c in dtypes if c.startswith("cr_min__")),
                      key=_idx)
    max_cols = sorted((c for c in dtypes if c.startswith("cr_max__")),
                      key=_idx)
    gathered = out.groupBy(*[F.col(k) for k in keys]).agg(
        F.sum("cr_n").alias("cr_n"),
        *[F.sum(c).cast(dtypes[c]).alias(c) for c in sum_cols],
        *[F.min(c).alias(c) for c in min_cols],
        *[F.max(c).alias(c) for c in max_cols],
        F.count_distinct(F.struct("cr_cols", "cr_scale")).alias("__nc"),
        F.first("cr_cols").alias("cr_cols"),
        F.first("cr_scale").alias("cr_scale"),
    )
    return gathered.select(
        *keys,
        F.when(
            F.col("__nc") > 1,
            F.raise_error(F.lit(
                "corr states built over different (cols, scale) "
                "contracts cannot merge — rebuild one side"
            )).cast("bigint"),
        ).otherwise(F.col("cr_n")).alias("cr_n"),
        *sum_cols, *min_cols, *max_cols, "cr_cols", "cr_scale",
    )


def finalize_corr_rollup(
    state: DataFrame, cols: tuple[str, ...]
) -> DataFrame:
    """Long-format pairwise matrix from the exact sufficient
    statistics: one row per key per (col_a < col_b) pair with
    ``n_rows``, sample ``covar`` = (nΣxy − ΣxΣy)/(n(n−1)), and
    Pearson ``corr`` = (nΣxy − ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²)) —
    fixed double trees over bit-identical decimal operands (the
    DuckDB oracle spells the same trees; IEEE sqrt is correctly
    rounded in both engines). Degenerate pairs report NULL corr,
    detected on the exact min/max witnesses with the double ``> 0``
    checks as belt-and-braces (a variance whose double image rounds
    to ≤ 0 must reach neither the division nor the sqrt); n < 2
    reports NULL covar. ``cols`` must repeat the state's contract —
    checked at execution against ``cr_cols`` (the caller names the
    output columns, the state proves they are the right ones).
    A NULL product-sum with rows raises (non-ANSI overflow — see
    the capacity ceiling)."""
    m = len(cols)
    key_cols = [
        f.name for f in state.schema.fields
        if not (f.name == "cr_n" or f.name.startswith(("cr_s__",
                "cr_p__", "cr_min__", "cr_max__"))
                or f.name in ("cr_cols", "cr_scale"))
    ]
    contract_bad = F.col("cr_cols") != F.lit(",".join(cols))
    n = F.col("cr_n").cast("double")

    def psum(i, j):
        c = F.col(f"cr_p__{i}_{j}")
        return F.when(
            c.isNull() & (F.col("cr_n") > 0),
            F.raise_error(F.lit(
                "corr state holds a NULL product-sum for a key with "
                "rows — a non-ANSI decimal-sum overflow (see "
                "linreg_rollup_state's capacity ceiling)"
            )),
        ).otherwise(c).cast("double")

    def s(i):
        return F.col(f"cr_s__{i}").cast("double")

    def varies(i):
        return F.col(f"cr_min__{i}") != F.col(f"cr_max__{i}")

    pair_structs = []
    for i in range(m):
        for j in range(i + 1, m):
            num = n * psum(i, j) - s(i) * s(j)
            den_i = n * psum(i, i) - s(i) * s(i)
            den_j = n * psum(j, j) - s(j) * s(j)
            covar = F.when(
                F.col("cr_n") >= 2, num / (n * (n - F.lit(1.0)))
            )
            corr = F.when(
                varies(i) & varies(j) & (den_i > 0) & (den_j > 0),
                num / F.sqrt(den_i * den_j),
            )
            pair_structs.append(F.struct(
                F.lit(cols[i]).alias("col_a"),
                F.lit(cols[j]).alias("col_b"),
                covar.alias("covar"),
                corr.alias("corr"),
            ))
    exploded = state.select(
        *key_cols,
        F.col("cr_n").alias("n_rows"),
        F.explode(F.when(
            contract_bad,
            F.raise_error(F.lit(
                "finalize_corr_rollup called with columns that do not "
                "match the state's cr_cols contract"
            )).cast(
                "array<struct<col_a:string,col_b:string,"
                "covar:double,corr:double>>"
            ),
        ).otherwise(F.array(*pair_structs))).alias("__p"),
    )
    return exploded.select(
        *key_cols, F.col("__p.col_a").alias("col_a"),
        F.col("__p.col_b").alias("col_b"), "n_rows",
        F.col("__p.covar").alias("covar"),
        F.col("__p.corr").alias("corr"),
    )


class DQViolationError(ValueError):
    """Raised by :func:`dq_check` when rules are violated and the
    caller asked for the loud gate."""


def dq_check(
    df: DataFrame,
    rules: dict[str, dict],
    raise_on_violation: bool = False,
) -> DataFrame:
    """Data-quality VERIFICATION — the assertion half of the Deequ
    pattern next to :func:`dq_profile`'s profiling half: evaluate
    declarative per-column rules in ONE pass and report violation
    counts, optionally raising so a pipeline refuses to publish a bad
    partition.

    ``rules`` maps column → checks. Supported checks (each becomes one
    ``sum(when(...))`` in a single aggregate — adding rules widens the
    map-side combine, never adds a scan):

    * ``not_null: True`` — count NULLs;
    * ``min: x`` / ``max: x`` — count non-null values outside the
      bound (inclusive bounds pass);
    * ``in_set: [..]`` — count non-null values outside the set;
    * ``unique: True`` — count surplus rows (n_non_null − n_distinct;
      exact, so this rule adds the count-distinct's state — the one
      check that is not constant-memory, same honest cost as
      :func:`dq_profile`'s exact mode);
    * ``check: <Column or SQL string>`` — a CROSS-COLUMN predicate
      (e.g. ``F.col("bid") <= F.col("ask")``): count rows where the
      predicate is definitively FALSE. The dict key is the label the
      report files the rule under, not a column the predicate is
      restricted to.

    NULL handling is deliberate: bound/set rules skip NULLs (a NULL is
    a completeness problem — declare ``not_null`` to count it), so one
    bad value is never double-reported; a ``check`` predicate that
    evaluates to NULL (some operand missing) is likewise skipped, not
    counted as a violation.

    Rule and column labels reach the report through ``F.lit`` bindings
    (never interpolated into a SQL string), so a column named
    ``o'brien`` — or anything else — can't break or inject into the
    report plan.

    Output: one row per (column, rule) with the violation count and
    ``n_rows`` — long format, hash-exact integers. With
    ``raise_on_violation`` the (rule-count-sized) report is collected
    and a :class:`DQViolationError` names every violated rule — the
    loud publish gate (same philosophy as the lake sinks' loud-failure
    contracts).
    """
    aggs = [F.count(F.lit(1)).alias("__n")]
    labels: list[tuple[str, str, str]] = []
    for col, checks in rules.items():
        c = F.col(col)
        for rule, arg in checks.items():
            alias = f"__v_{len(labels)}"
            if rule == "not_null":
                expr = F.sum(c.isNull().cast("bigint"))
            elif rule == "min":
                expr = F.sum((c < F.lit(arg)).cast("bigint"))
            elif rule == "max":
                expr = F.sum((c > F.lit(arg)).cast("bigint"))
            elif rule == "in_set":
                expr = F.sum((~c.isin(list(arg))).cast("bigint"))
            elif rule == "unique":
                expr = F.count(c) - F.count_distinct(c)
            elif rule == "check":
                cond = F.expr(arg) if isinstance(arg, str) else arg
                # ~NULL is NULL → otherwise(0): an indeterminate
                # predicate is skipped, matching the bound rules'
                # NULL policy.
                expr = F.sum(
                    F.when(~cond, F.lit(1)).otherwise(F.lit(0))
                ).cast("bigint")
            else:
                raise ValueError(f"unknown dq rule {rule!r} for {col!r}")
            aggs.append(F.coalesce(expr, F.lit(0)).alias(alias))
            labels.append((col, rule, alias))
    if not labels:
        raise ValueError("dq_check needs at least one rule")
    one = df.agg(*aggs)
    # Long format via explode(array(struct(lit, lit, col))) — the labels
    # ride as literal bindings, never as text inside a parsed SQL string
    # (the earlier stack(...) f-string broke on quoted column names and
    # let labels inject into the plan).
    pairs = [
        F.struct(
            F.lit(col).alias("column_name"),
            F.lit(rule).alias("rule"),
            F.col(alias).alias("violations"),
        )
        for col, rule, alias in labels
    ]
    report = one.select(
        F.col("__n").alias("n_rows"),
        F.explode(F.array(*pairs)).alias("__p"),
    ).select("__p.column_name", "__p.rule", "__p.violations", "n_rows")
    if raise_on_violation:
        bad = dq_failures(report.collect())  # rule-count-sized
        if bad:
            raise DQViolationError(
                "data-quality violations: " + ", ".join(bad)
            )
    return report


def dq_row_violation_labels(
    df: DataFrame, rules: dict[str, dict]
) -> F.Column:
    """Array column of "col.rule" labels the ROW violates — the
    row-level form of :func:`dq_check`'s rules, shared by
    :func:`dq_split`. Same semantics per rule (NULLs skip bound/set/
    check rules; ``not_null`` owns them); ``unique`` is NOT
    row-expressible without a shuffle and raises — quarantining
    duplicates is :func:`~polymarket_data_ingestor_spark.operators.dedup.drop_exact_dupes`'s
    job, and counting them is :func:`dq_check`'s."""
    flags: list[F.Column] = []
    for col, checks in rules.items():
        c = F.col(col)
        for rule, arg in checks.items():
            if rule == "not_null":
                cond = c.isNull()
            elif rule == "min":
                cond = c < F.lit(arg)
            elif rule == "max":
                cond = c > F.lit(arg)
            elif rule == "in_set":
                cond = ~c.isin(list(arg))
            elif rule == "check":
                p = F.expr(arg) if isinstance(arg, str) else arg
                cond = ~p
            elif rule == "unique":
                raise ValueError(
                    "dq_split cannot evaluate 'unique' per row — use "
                    "dq_check to count duplicates or drop_exact_dupes "
                    "to materialize the deduped side"
                )
            else:
                raise ValueError(f"unknown dq rule {rule!r} for {col!r}")
            flags.append(
                F.when(cond, F.lit(f"{col}.{rule}"))  # NULL cond -> NULL
            )
    if not flags:
        raise ValueError("dq_split needs at least one rule")
    return F.array_compact(F.array(*flags))


def dq_split(
    df: DataFrame, rules: dict[str, dict]
) -> tuple[DataFrame, DataFrame]:
    """Row-level quarantine split — the third DQ shape next to
    :func:`dq_check`'s refuse-to-publish gate and its audit report:
    ``(clean, quarantined)`` where clean rows violate NO rule and
    quarantined rows carry a ``dq_failed array<string>`` naming every
    violated "col.rule" (the repair queue's routing key). The labels
    ride as literal bindings (same injection-safety as dq_check's
    report). One scan per side, pure Catalyst predicates — no shuffle,
    no UDF; at 100 TB both sides stay whole-stage-codegen filters over
    the same pruned scan. Rule semantics match :func:`dq_check`
    exactly (NULLs skip bound/set/check rules; ``unique`` raises —
    see :func:`dq_row_violation_labels`)."""
    labels = dq_row_violation_labels(df, rules)
    flagged = df.withColumn("dq_failed", labels)
    clean = flagged.filter(F.size("dq_failed") == 0).drop("dq_failed")
    bad = flagged.filter(F.size("dq_failed") > 0)
    return clean, bad


def dq_failures(rows) -> list[str]:
    """Violated-rule labels from already-collected :func:`dq_check`
    report rows — shared by the batch gate above and the streaming
    ``live_dq_check`` so both decide from the SAME rows they report
    (one aggregate scan, and the audit log can never disagree with the
    gate)."""
    return sorted(
        f"{r['column_name']}.{r['rule']}={r['violations']}"
        for r in rows
        if r["violations"] > 0
    )


def cusum_series(values, k_hi: float, k_lo: float, seed=None):
    """One key's two-sided CUSUM recursion over already-ordered values
    (same shared-kernel policy as :func:`ewma_series` /
    :func:`holt_series`; ``seed`` is a checkpointed ``(s_hi, s_lo)``
    pair). Returns ``(s_hi_list, s_lo_list)``.

    Per step: ``s_hi = max(0, s_hi + (v − k_hi))``,
    ``s_lo = max(0, s_lo + (k_lo − v))`` — one correctly-rounded
    subtraction, one addition, one exact max each; the DuckDB oracle's
    ``GREATEST(0.0, s + (v − k))`` runs the identical sequence, so the
    statistic is bit-exact across engines with no quantization. NaN
    raises loudly (same poisoning argument as ewma)."""
    sh, sl = (0.0, 0.0) if seed is None else seed
    his: list[float] = []
    los: list[float] = []
    for v in values:
        if v is None or v != v:
            raise ValueError(
                "cusum: null/NaN value in input — the recursion would "
                "silently poison every subsequent statistic for this "
                "key; filter or impute upstream"
            )
        sh = sh + (v - k_hi)
        if sh < 0.0:
            sh = 0.0
        sl = sl + (k_lo - v)
        if sl < 0.0:
            sl = 0.0
        his.append(sh)
        los.append(sl)
    return his, los


def cusum(
    events: DataFrame,
    target: float,
    slack: float = 0.0,
    threshold: float | None = None,
    value_col: str = "value",
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """Per-key two-sided CUSUM drift detection — the change-point
    monitor next to :func:`ewma` (level) and :func:`holt_linear`
    (trend): accumulate how far the series runs ABOVE
    ``target + slack`` (``s_hi``) or BELOW ``target − slack``
    (``s_lo``), resetting at zero; a sustained small shift grows the
    statistic linearly where a z-score on single points never fires.
    With ``threshold`` an ``alarm`` flag marks rows where either side
    exceeds it (Page's test).

    Fourth genuine grouped-map kernel (order-book replay, ewma, holt,
    cusum): the max-reset makes the recursion inherently serial per
    key — one key shuffle, O(1) state (two doubles), serial bound =
    longest single series. Bit-exact cross-engine by the identical-op
    argument: add, subtract, exact max — no multiplications at all, so
    even the ewma C-path guard analysis is unnecessary. NO NULLS
    precondition as in :func:`ewma`.
    """
    k_hi = target + slack
    k_lo = target - slack
    prepared, base_schema = ewma_prepare(
        events, value_col, key_col, ts_col, order_col
    )
    out_schema = base_schema.replace(
        ", ewma double", ", s_hi double, s_lo double"
    )
    if threshold is not None:
        out_schema += ", alarm boolean"

    def _scan(values, seed):
        his, los = cusum_series(values, k_hi, k_lo, seed=seed)
        cols = {"s_hi": his, "s_lo": los}
        if threshold is not None:
            cols["alarm"] = [
                h > threshold or l > threshold for h, l in zip(his, los)
            ]
        return cols, (his[-1], los[-1])

    return _keyed_scan_map(
        prepared, key_col, order_col, value_col, out_schema, _scan
    )
