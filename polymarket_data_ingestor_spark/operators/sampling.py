"""Deterministic sampling for training-data mixtures (beyond-reference).

Pretraining pipelines need *reproducible* subsampling: the same corpus +
the same config must select the same documents on any engine, any
partitioning, any day. Both operators key off the md5-based ``hash32`` —
the engine's portable content hash — so the selection is a pure function
of (id, seed), never of partition layout or RNG state:

* :func:`stratified_sample` — per-stratum Bernoulli rates (e.g. language
  or source mixture weights) via ``hash32(seed:id) % 10000 < rate``.
  One scan, no shuffle; the predicate runs inside the scan's
  whole-stage-codegen filter (the md5 itself can't prune row groups,
  but nothing shuffles and only the referenced columns are read).
* :func:`rank_sample` — exactly-k-per-stratum without replacement:
  rank by the hash within each stratum, keep the top k. One shuffle on
  the stratum key (skew-safe: strata are few and the rank is a heap-like
  top-k under AQE).
"""

from __future__ import annotations

from collections.abc import Mapping

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from polymarket_data_ingestor_spark.functions.scalars import hash32

#: Rate denominator: rates are expressed in permyriad (1/10000).
RATE_DENOM = 10_000


def _sample_hash(id_col: str, seed: int) -> Column:
    return hash32(F.col(id_col).cast("string"), seed=seed) % RATE_DENOM


def stratified_sample(
    df: DataFrame,
    rates: Mapping[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 1,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sample.

    ``rates`` maps stratum value → keep probability in [0, 1] (resolved
    to permyriad). Selection = ``hash32(seed:id) % 10000 < rate``: the
    same rows survive on every engine and every run. No shuffle — it is
    a pure filter, and Catalyst pushes the stratum predicate to the scan.
    """
    # round, not int(): 0.3 * 10000 is 2999.999... in binary floats and
    # truncation would shift the boundary a full permyriad (the
    # hash_split lesson — this function originally used int() while
    # documenting the bug class forty lines down)
    rate_expr: Column = F.lit(round(default_rate * RATE_DENOM))
    for value, rate in sorted(rates.items()):
        rate_expr = (
            F.when(F.col(stratum_col) == value,
                   F.lit(round(rate * RATE_DENOM)))
            .otherwise(rate_expr)
        )
    return df.filter(_sample_hash(id_col, seed) < rate_expr)


def rank_sample(
    df: DataFrame,
    k: int,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 1,
) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample (without replacement).

    Ranks rows within each stratum by ``(hash32(seed:id), id)`` — a
    reproducible shuffle order — and keeps the first k. Ties on the hash
    are broken by id, so the selection is total-ordered and
    engine-portable.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(stratum_col).orderBy(
        _sample_hash(id_col, seed), F.col(id_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def hash_split(
    df: DataFrame,
    splits: Mapping[str, float],
    id_col: str = "doc_id",
    seed: int = 1,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment — every training pipeline's
    first partitioning decision, made a pure function of (seed, id).

    ``splits`` maps split name → fraction; fractions must sum to 1 (to
    permyriad resolution). Each row lands in exactly one split via
    ``hash32(seed:id) % 10000`` against the cumulative thresholds of the
    names in sorted order: the same document goes to the same split on
    any engine, any partitioning, any day — and (crucially for
    leakage-free evals) adding MORE data later never moves an existing
    document between splits, because the assignment never looks at other
    rows.

    Scale shape: zero shuffle — a per-row CASE over the portable hash,
    evaluated inside the scan's whole-stage codegen. Splitting 100 TB is
    exactly as parallel as reading it.
    """
    total = sum(splits.values())
    if abs(total - 1.0) * RATE_DENOM >= 1:
        raise ValueError(
            f"hash_split: fractions must sum to 1, got {total}"
        )
    bucket = _sample_hash(id_col, seed)
    cum = 0
    expr: Column | None = None
    names = sorted(splits.items())
    for name, frac in names[:-1]:
        # round, not int(): 0.3 * 10000 is 2999.999... in binary floats
        # and truncation would shift the boundary a full permyriad
        cum += round(frac * RATE_DENOM)
        e = F.when(bucket < cum, F.lit(name))
        expr = e if expr is None else expr.when(bucket < cum, F.lit(name))
    last = F.lit(names[-1][0])
    label = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, label)


def _dsir_feature_stream(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int,
) -> DataFrame:
    """(id, bucket) row per hashed unigram/bigram feature instance.

    The DSIR feature map: whitespace unigrams plus space-joined bigrams,
    each hashed into ``n_buckets`` via the portable :func:`hash32` — so
    the featurization is identical in Spark, DuckDB, and the paper's
    own hashed-n-gram construction. The gram formation + hashing runs
    in the repo's standard Arrow kernel (the
    ``gram_hashes_vectorized`` pattern — r14 optimization round): the
    r13 pure-Catalyst form (slice/zip_with/filter HOFs + one JVM md5
    per gram instance) is interpreted per element and measured ~2.0 s
    per corpus featurization at sf0.1 vs ~0.5 s for the kernel; the
    Arrow batch carries one int64 per feature instance, and the
    ``_h32``/``_py_tokens`` twins are the exact pinned replicas of
    ``hash32``/``tokens``, so every bucket value is unchanged (the
    DuckDB oracles and the Hypothesis python-model pins verify this
    bit-exactly). One explode, zero joins, as before."""
    from pyspark.sql.functions import pandas_udf

    from polymarket_data_ingestor_spark.operators.dedup import (
        _h32_cached,
        _py_tokens,
    )

    if n_buckets <= 0:
        raise ValueError(f"dsir: n_buckets must be positive, got {n_buckets}")

    @pandas_udf("array<long>")
    def feat_buckets(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                # Catalyst: split(NULL) → NULL arrays → explode drops
                out.append([])
                continue
            toks = _py_tokens(t)
            feats = [
                _h32_cached(w) % n_buckets for w in toks if w != ""
            ]
            feats.extend(
                _h32_cached(a + " " + b) % n_buckets
                for a, b in zip(toks, toks[1:])
                if a != "" and b != ""
            )
            out.append(feats)
        return pd.Series(out)

    return (
        df.filter(F.col(id_col).isNotNull())
        .select(
            F.col(id_col),
            F.explode(feat_buckets(F.col(text_col))).alias("__b"),
        )
    )


def dsir_model(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 10_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fit the DSIR bucket model: (__b, __lam, __lam0), <= n_buckets rows.

    ``__lam`` is the add-one-smoothed log importance ratio of bucket
    ``__b``; ``__lam0`` (the same value on every row) is the ratio of a
    bucket NEITHER corpus hit — what :func:`dsir_score` applies to
    out-of-corpus grams when scoring documents the model never saw.
    Fit once per corpus version, score many times (the
    ``fit_ivf_codebook`` convention); the result is model-sized, so
    persisting it is one tiny parquet.
    """
    from pyspark.sql import Window

    # BOTH histograms come out of ONE aggregate: the two feature
    # streams union with a side tag and a single groupBy(__b) counts
    # each side conditionally. No join anywhere in the model build —
    # the r14 first fix used a FULL outer join of separate histograms
    # (a LEFT join silently collapsed the target total to 0 on
    # bucket-disjoint corpora — the Hypothesis-caught wrong answer),
    # but full outer cannot broadcast and lowered to a SortMergeJoin
    # the plan gate refuses; the union-aggregate form keeps the
    # disjoint-safe totals AND halves the exchanges. Totals ride as
    # WINDOW sums over the merged histogram — NOT as separate .agg()
    # subtrees, which would silently re-derive the whole corpus
    # featurization for a 1-row result (the re-scan trap the
    # plan-budget test exists to catch) — computed BEFORE the
    # raw-buckets filter so target-only buckets still contribute to
    # ``__pt`` (disjoint corpora included). The unpartitioned window is
    # bounded by 2*n_buckets rows — model-sized by construction, never
    # corpus-sized. Only raw buckets remain as model rows: per-doc sums
    # over the raw corpus never need the others, and the scorer
    # substitutes __lam0.
    everything = Window.partitionBy()
    merged = (
        _dsir_feature_stream(raw, text_col, id_col, n_buckets)
        .select("__b", F.lit(0).alias("__side"))
        .unionByName(
            _dsir_feature_stream(target, text_col, id_col, n_buckets)
            .select("__b", F.lit(1).alias("__side"))
        )
        .groupBy("__b")
        .agg(
            F.count(F.when(F.col("__side") == 0, 1)).alias("__q"),
            F.count(F.when(F.col("__side") == 1, 1)).alias("__p"),
        )
        .withColumn("__qt", F.sum("__q").over(everything))
        .withColumn("__pt", F.sum("__p").over(everything))
        .filter(F.col("__q") > 0)
    )
    # per-bucket log importance ratio, add-one smoothed over n_buckets.
    # round(.., 9) -> decimal BEFORE any per-doc sum: the aggregation is
    # exact decimal arithmetic — order-independent under any shuffle —
    # and the 9-dp pre-round absorbs last-ulp ln() differences between
    # engines (the bigram_lm_score discipline). Buckets the target
    # never hit smooth to (0+1)/(ptot+B).
    def _ratio(cnt, tot):
        return F.log((cnt + F.lit(1.0)) / (tot + F.lit(n_buckets)))

    return (
        merged
        .select(
            "__b",
            F.round(
                _ratio(F.col("__p"), F.col("__pt"))
                - _ratio(F.col("__q"), F.col("__qt")),
                9,
            )
            .cast("decimal(18,9)")
            .alias("__lam"),
            F.round(
                _ratio(F.lit(0), F.col("__pt"))
                - _ratio(F.lit(0), F.col("__qt")),
                9,
            )
            .cast("decimal(18,9)")
            .alias("__lam0"),
            # the model's hash space is part of its identity: a scorer
            # fed a different n_buckets would silently mis-bucket every
            # gram (the kmv mixed-(k,seed) hazard), so the model
            # carries it and dsir_score refuses a mismatch
            F.lit(n_buckets).alias("__nb"),
        )
    )


def _dsir_decimal_weights(
    df: DataFrame,
    target: DataFrame,
    n_buckets: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(id, n_feats, __lw decimal(28,9)) — shared exact-decimal core of
    :func:`dsir_log_weights` / :func:`dsir_resample`.

    NOTE (r15): collecting the model and folding the λ summation into
    the featurize kernel as long-nano per-row partials, dropping the
    count exchange + broadcast join, was implemented, verified
    hash-identical, and REVERTED on an interleaved A/B (sf0.1, one
    session: old min 1.08 / med 1.35 s vs new min 1.23 / med 1.53 s).
    Collecting is free only for a prefit model; the DSIR model derives
    from the SAME plan: collecting it splits the one fused fit+score job
    into two (an eager model job at build plus the scoring job), and that
    extra driver round-trip costs more than the per-(doc, bucket)
    count exchange saves — the exchange input is already map-side
    combined to distinct (doc, bucket) pairs. The fused lazy single
    plan stays."""
    feats = _dsir_feature_stream(df, text_col, id_col, n_buckets)
    dcnt = feats.groupBy(id_col, "__b").agg(F.count(F.lit(1)).alias("__m"))
    lam = dsir_model(df, target, n_buckets, text_col, id_col)
    return (
        # the model is <= n_buckets rows — ALWAYS broadcast, so the
        # per-doc bucket counts never reshuffle for the join
        dcnt.join(F.broadcast(lam), "__b")
        .groupBy(id_col)
        .agg(
            F.sum("__m").alias("n_feats"),
            # (18,9) x (10,0) -> (29,9); sum -> (38,9); the cast DOWN to
            # (28,9) is safe (|lw| <= n_feats * max|lam| — a 10^6-token
            # doc stays under 10^8) and leaves headroom to ADD the
            # gumbel key without tripping Spark's 38-digit cap
            F.sum(F.col("__lam") * F.col("__m").cast("decimal(10,0)"))
            .cast("decimal(28,9)")
            .alias("__lw"),
        )
    )


def dsir_score(
    df: DataFrame,
    model,
    n_buckets: int = 10_000,
    text_col: str = "text",
) -> DataFrame:
    """Score documents against a PREFIT DSIR model — streaming-safe.

    ``model`` is :func:`dsir_model`'s output (a DataFrame, collected
    here — bounded by n_buckets rows) or its pre-collected rows. The
    scorer is ONE zero-shuffle Arrow kernel: per row, tokenize +
    bigram + hash exactly as the fit did (the dedup kernels'
    ``_py_tokens`` / ``_h32`` twins), look each bucket up in the
    closure-held model, and sum the 9-dp decimals EXACTLY (python
    Decimal) — bit-identical to the batch join-and-aggregate path,
    pinned in tests. Grams in buckets the model never saw score the
    model's ``__lam0`` (both-corpora-unseen smoothing mass).

    Because it is a stateless per-row projection, it runs unchanged on
    a STREAMING DataFrame — the live twin of :func:`dsir_log_weights`:
    fit the model on the historical lake, score the live feed with no
    state store and no watermark. Appends (n_feats, log_weight)
    columns; featureless docs score (0, 0.0) rather than dropping —
    a stream filter can't retroactively drop rows, so the convention
    differs from the batch path and is pinned in tests.
    """
    from decimal import Decimal

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from polymarket_data_ingestor_spark.operators.dedup import (
        _h32,
        _py_tokens,
    )

    clash = sorted({"n_feats", "log_weight"} & set(df.columns))
    if clash:
        raise ValueError(
            f"dsir_score appends (n_feats, log_weight) but the input "
            f"already has {clash} — rename or drop them first (duplicate "
            f"names make every later reference AMBIGUOUS_REFERENCE)"
        )
    rows = model.collect() if isinstance(model, DataFrame) else list(model)
    if not rows:
        raise ValueError(
            "dsir_score: empty model — fit dsir_model on a non-empty "
            "raw corpus first"
        )
    if int(rows[0]["__nb"]) != n_buckets:
        raise ValueError(
            f"dsir_score: model was fit with n_buckets="
            f"{int(rows[0]['__nb'])} but the scorer was given "
            f"{n_buckets} — mismatched hash spaces would silently "
            f"mis-bucket every gram"
        )
    lam = {int(r["__b"]): Decimal(r["__lam"]) for r in rows}
    lam0 = Decimal(rows[0]["__lam0"])
    B = n_buckets

    # no type hints: Series -> DataFrame (struct return) is rejected by
    # the hint-inference path; the returnType string carries the schema
    @pandas_udf("struct<n_feats: bigint, log_weight: double>")
    def score(texts):
        ns, ws = [], []
        for t in texts:
            if t is None:
                ns.append(0)
                ws.append(0.0)
                continue
            toks = [w for w in _py_tokens(t) if w != ""]
            grams = toks + [
                f"{a} {b}" for a, b in zip(toks, toks[1:])
            ]
            ns.append(len(grams))
            acc = Decimal(0)
            for g in grams:
                acc += lam.get(_h32(g) % B, lam0)
            ws.append(float(acc))
        return pd.DataFrame({"n_feats": ns, "log_weight": ws})

    return df.withColumn("__sc", score(F.col(text_col))).select(
        *df.columns, "__sc.n_feats", "__sc.log_weight"
    )


def dsir_log_weights(
    df: DataFrame,
    target: DataFrame,
    n_buckets: int = 10_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance weights (Xie et al., *Data Selection for Language
    Models via Importance Resampling*, NeurIPS 2023, arXiv:2302.03169).

    Per document: ``log w = Σ_b c_b · (log p̂_target[b] − log p̂_raw[b])``
    over hashed unigram+bigram buckets, with add-one smoothing over
    ``n_buckets`` — how much more the doc looks like the TARGET
    distribution (e.g. a trusted high-quality slice) than the raw corpus
    it came from. Returns (id, n_feats, log_weight); docs with no
    features (empty/NULL text) drop out, the `bigram_lm_score`
    convention, and so do NULL-id docs (unkeyable in the per-doc
    rollup — the monoid convention; :func:`dsir_score` keys on
    nothing and can score them).

    Scale shape at 100 TB: the learned model is ``<= n_buckets`` rows
    and BROADCASTS to the per-doc counts, so after the count exchanges
    nothing corpus-sized moves again; model totals ride as window sums
    over the model-sized histograms (never a corpus-re-deriving 1-row
    aggregate subtree). The raw featurization runs twice (per-doc
    counts + corpus histogram — Catalyst won't reuse an exchange across
    a broadcast build side), a deliberate trade: both passes are
    column-pruned scans with map-side partial aggregation, where the
    single-pass alternative (anchor the feature stream on the bucket
    key) would shuffle RAW feature instances with stopword-bucket skew.
    The target — typically orders of magnitude smaller — is featurized
    once. Zero Python anywhere. Cross-engine exact: each bucket's
    log-ratio is rounded to 9 dp into decimal(18,9) before the per-doc
    sum (exact, order-independent); only the final decimal→double cast
    is IEEE.
    """
    return _dsir_decimal_weights(
        df, target, n_buckets, text_col, id_col
    ).select(
        id_col,
        "n_feats",
        F.col("__lw").cast("double").alias("log_weight"),
    )


def dsir_resample(
    df: DataFrame,
    target: DataFrame,
    k: int,
    n_buckets: int = 10_000,
    seed: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR selection: Gumbel-top-k over the importance weights.

    The paper resamples without replacement with probability ∝ w; the
    Gumbel-max trick makes that a deterministic top-k — key =
    ``log w + Gumbel(u)`` with ``u = (hash32(seed:id)+0.5) / 2^32`` a
    pure function of (seed, id), so the SAME documents are selected on
    any engine, any partitioning, any day (the module's reproducibility
    contract; no RNG state anywhere).

    Exactness: both addends are 9-dp decimals, so the sort key is
    EXACT decimal arithmetic — engines can't disagree on order except
    on true ties, which break by id. The top-k lowers to
    TakeOrderedAndProject (per-partition heaps + driver merge of k
    rows), never a global sort or single-partition window.

    Returns (id, n_feats, log_weight, gumbel_key), the k selected docs.
    """
    w = _dsir_decimal_weights(df, target, n_buckets, text_col, id_col)
    u = (
        hash32(F.col(id_col).cast("string"), seed=seed) + F.lit(0.5)
    ) / F.lit(float(2**32))
    gumbel = F.round(-F.log(-F.log(u)), 9).cast("decimal(18,9)")
    key = (F.col("__lw") + gumbel).alias("__gkey")  # (28,9)+(18,9)→(29,9)
    return (
        w.select(id_col, "n_feats", "__lw", key)
        .orderBy(F.col("__gkey").desc(), F.col(id_col))
        .limit(k)
        .select(
            id_col,
            "n_feats",
            F.col("__lw").cast("double").alias("log_weight"),
            F.col("__gkey").cast("double").alias("gumbel_key"),
        )
    )


def mixture_sample(
    df: DataFrame,
    budgets: Mapping[str, int],
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shards: int = 32,
) -> DataFrame:
    """Token-budget mixture sampling: fill each source's token budget in a
    deterministic hash-shuffled order (the "train mix" step — e.g. 30%
    web, 20% code — expressed as absolute token budgets per source).

    Docs are laid out per source in the reproducible order
    ``(shard, hash32(source:id), id)`` and kept while they START inside
    the budget (the boundary doc straddles it, matching how packers
    consume a mixture). Emits ``n_tok`` and the running ``cum_tokens``.

    Scale shape: the same two-level prefix sum as ``pack_sequences`` —
    the running total is a window INSIDE each (source, shard) slice plus
    a broadcast per-shard offset from a #source×#shard-row rollup, so no
    per-source single-reducer sort exists at any size; budgets ride along
    as a literal map (no join).
    """
    from pyspark.sql import Window

    rk = hash32(F.concat_ws(":", F.col(source_col), F.col(id_col)))
    base = df.select(
        F.col(id_col),
        F.col(source_col),
        F.greatest(F.size(F.split(F.trim(F.col(text_col)), r"\s+")), F.lit(1))
        .cast("long")
        .alias("n_tok"),
        rk.alias("__rk"),
    ).withColumn("__shard", (F.col("__rk") % n_shards).cast("long"))
    w_in = Window.partitionBy(source_col, "__shard").orderBy(
        "__rk", id_col
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum_in = base.withColumn("__cum_in", F.sum("n_tok").over(w_in))
    w_sh = Window.partitionBy(source_col).orderBy("__shard")
    offsets = (
        base.groupBy(source_col, "__shard")
        .agg(F.sum("n_tok").alias("__t"))
        .withColumn("__off", F.sum("__t").over(w_sh) - F.col("__t"))
        .select(source_col, "__shard", "__off")
    )
    budget = F.create_map(
        *[F.lit(x) for kv in sorted(budgets.items()) for x in kv]
    )[F.col(source_col)]
    cum = F.col("__off") + F.col("__cum_in")
    return (
        cum_in.join(F.broadcast(offsets), [source_col, "__shard"])
        .filter(cum - F.col("n_tok") < budget)
        .select(id_col, source_col, "n_tok", cum.alias("cum_tokens"))
    )


def temperature_sample(
    df: DataFrame,
    temperature: float,
    target_fraction: float,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 1,
) -> DataFrame:
    """Temperature-based mixture sampling (the mT5/XLM-R "alpha
    sampling" trick): resample so each stratum's share of the output is
    ∝ n_s^(1/τ) — τ=1 preserves natural proportions, τ→∞ equalizes
    strata, τ<1 sharpens toward the big ones. The standard fix for
    head-language/head-source domination in multilingual or multi-source
    training mixes, as a deterministic engine operator.

    Per-stratum keep probability  p_s = min(1, K·n_s^(1/τ−1))  with
    K = target_fraction·N / Σ_s n_s^(1/τ), resolved to integer
    permyriad, then the same ``hash32(seed:id) % 10000 < rate`` rule as
    :func:`stratified_sample` — the selected set is a pure function of
    (data, τ, fraction, seed). The cap at 1 means a tiny stratum that
    temperature wants to OVERsample is kept whole instead (sampling
    without replacement can't exceed 1); the realized total then
    undershoots ``target_fraction`` slightly — the standard practical
    semantics.

    Determinism note: each ``pow`` is floor-quantized to 1e-6 before
    the cross-strata sum (order-independent exact integer sum — the
    EXACTNESS.md floor recipe); the residual risk is a pow ulp landing
    exactly on a permyriad floor boundary, the same accepted class as
    the round-6 ln entries.

    Scale shape: the stratum-count rollup is a map-side-combined
    aggregate over #strata rows; rates come back via ONE broadcast
    join; the corpus itself never shuffles — sampling 100 TB is as
    parallel as scanning it. Rows with a NULL stratum are dropped by
    the inner rate join (NULL never equals NULL) — coalesce to a
    sentinel upstream if they should participate.
    """
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    if not (0 < target_fraction <= 1):
        raise ValueError(
            f"target_fraction must be in (0, 1], got {target_fraction}"
        )
    from pyspark.sql import Window

    inv = 1.0 / temperature
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("__n"))
    n_d = F.col("__n").cast("double")
    # cross-strata totals as WINDOW sums over the #strata-row rollup —
    # the agg-then-join formulation physically re-derives the corpus
    # rollup subtree (one extra full scan); a single-partition window
    # over #strata rows is free
    w_all = Window.partitionBy()
    grand = F.sum("__n").over(w_all)
    # floor-quantized weights -> exact integer sum, order-free
    wm = F.sum(
        F.floor(F.pow(n_d, F.lit(inv)) * F.lit(1e6)).cast("decimal(28,0)")
    ).over(w_all)
    rate = F.least(
        F.lit(RATE_DENOM).cast("bigint"),
        F.floor(
            F.lit(target_fraction)
            * grand.cast("double")
            / (wm.cast("double") / F.lit(1e6))
            * F.pow(n_d, F.lit(inv - 1.0))
            * F.lit(RATE_DENOM)
        ),
    )
    rates = counts.select(
        F.col(stratum_col), rate.cast("int").alias("__rate")
    )
    return (
        df.join(F.broadcast(rates), stratum_col)
        .filter(_sample_hash(id_col, seed) < F.col("__rate"))
        .drop("__rate")
    )


def shard_and_order(
    df: DataFrame,
    n_shards: int = 8,
    id_col: str = "doc_id",
    seed: int = 1,
) -> DataFrame:
    """Deterministic corpus shuffle for training: assign every row a
    shard and a position within it, both pure functions of (seed, id) —
    the "global shuffle before sharding" step every pretraining run
    needs, reproducible on any engine, any partitioning, any day.

    Shard = ``hash32(seed:id) % n_shards``; order within a shard is
    (hash, id) — the id tie-break makes the position total even when
    two ids collide in the 32-bit hash. Re-running with more data
    changes positions (ranks shift) but never the shard of an existing
    row — shard assignment is row-local, like :func:`hash_split`.

    Scale shape: ONE exchange on the shard id + a per-shard sort (the
    row_number window) — the distributed analogue of shuffling a file
    list and sorting each shard, with no global total order anywhere
    (a corpus-wide position would force a single-partition window or a
    range-partitioned global sort; shard-local positions are what
    loaders consume anyway).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    from pyspark.sql import Window

    h = hash32(F.col(id_col).cast("string"), seed=seed)
    w = Window.partitionBy("shard").orderBy("__h", id_col)
    return (
        df.withColumn("__h", h)
        .withColumn("shard", (F.col("__h") % n_shards).cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("long") - 1)
        .drop("__h")
    )
