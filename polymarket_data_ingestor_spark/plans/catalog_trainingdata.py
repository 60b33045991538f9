"""Training-data operator catalog entries (dedup / similarity / text / media).

Imported by plans.catalog for its registration side effects. Every oracle
reproduces the Spark computation exactly: the shared md5-based hash32
primitive, explicit DOUBLE casts in float folds, and deterministic
tie-breaks keep both engines bit-identical (rounding only where linear
interpolation or fold order could differ in the last ulp).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from polymarket_data_ingestor_spark.functions.scalars import sql_hash32
from polymarket_data_ingestor_spark.operators import dedup as D
from polymarket_data_ingestor_spark.operators import multimodal as M
from polymarket_data_ingestor_spark.operators import similarity as S
from polymarket_data_ingestor_spark.operators import text as T
from polymarket_data_ingestor_spark.plans.catalog import (
    register,
    spread_scan,
    table,
)

# DuckDB fragments shared by the oracles below.
_SQL_TOKS = r"string_split_regex(trim(text), '\s+')"
_SQL_HASH = "(('0x' || substr(md5({x}), 1, 8))::BIGINT)"
_SQL_GRAMS3 = (
    "list_distinct(list_transform("
    "generate_series(0, greatest(len(toks) - 3, 0)),"
    " i -> array_to_string(toks[i+1:i+3], ' ')))"
)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@register(
    "text_stats",
    f"""
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_unique_tokens,
           len(string_split_regex(text, '[^A-Za-z0-9]+')) AS n_words,
           greatest(length(text) // 4, 1) AS n_subword_est
    FROM (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents)
    """,
    doc="Token counting (whitespace + word-ish + subword estimate).",
    tags=("text",),
)
def q_text_stats(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return T.token_stats(d).select(
        "doc_id", "n_tokens", "n_unique_tokens", "n_words", "n_subword_est"
    )


@register(
    "doc_quality",
    f"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(n_alnum / n_tok, 6) AS mean_token_len,
           -- empty docs: NULL ratios/score (mirrors quality_score's
           -- ANSI-safe guard; DuckDB would otherwise produce NaN)
           CASE WHEN n_chars > 0
                THEN round((n_chars - n_alnum) / n_chars, 6) END
             AS punct_ratio,
           round(n_uniq / n_tok, 6) AS unique_ratio,
           CASE WHEN n_chars > 0
                THEN round(least(n_tok / 64.0, 1.0) * 0.25
                           + (n_uniq / n_tok) * 0.5
                           + (1.0 - (n_chars - n_alnum) / n_chars)
                             * 0.25, 6) END AS quality
    FROM (
      SELECT doc_id, toks,
             CAST(len(toks) AS DOUBLE) AS n_tok,
             CAST(len(list_distinct(toks)) AS DOUBLE) AS n_uniq,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
                  AS DOUBLE) AS n_alnum
      FROM (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents))
    """,
    doc="Quality scoring: length/punct/repetition ratios + composite score.",
    tags=("text",),
)
def q_doc_quality(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return T.quality_score(d).select(
        "doc_id", "n_tokens", "mean_token_len", "punct_ratio",
        "unique_ratio", "quality",
    )


@register(
    "hashed_embedding_docs",
    f"""
    WITH h AS (
      SELECT doc_id, {sql_hash32("tok")} AS h
      FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents)
    )
    SELECT doc_id, h % 64 AS dim,
           CAST(SUM(CASE WHEN h % 128 >= 64 THEN 1 ELSE -1 END)
                AS BIGINT) AS w
    FROM h GROUP BY 1, 2
    HAVING SUM(CASE WHEN h % 128 >= 64 THEN 1 ELSE -1 END) != 0
    """,
    doc="Deterministic hashing-trick document vectors "
    "(operators/similarity.py::hashed_embedding, sparse form): each "
    "token votes +/-1 into dimension hash32(token) % 64, sign from the "
    "next modulus class — pure integer modulo, engine-exact, no model. "
    "The cheap reproducible embedding that feeds the cosine/centroid/"
    "LSH machinery without a trained encoder. Shuffle carries at most "
    "n_dims cells per doc (map-side combined), never the token stream.",
    tags=("embedding", "text"),
)
def q_hashed_embedding_docs(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.similarity import (
        hashed_embedding,
    )

    return hashed_embedding(
        table(spark, sf_dir, "documents"), n_dims=64, dense=False
    )


@register(
    "quantize_embeddings",
    """
    WITH s AS (
      SELECT vec_id, embedding,
             CASE WHEN len(list_filter(embedding, x ->
                    isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE))
                  )) > 0 THEN NULL
                  ELSE list_aggregate(
                    list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                    'max') / 127.0 END AS scale
      FROM embeddings WHERE embedding IS NOT NULL
    )
    SELECT vec_id, scale, CAST(t.range AS BIGINT) AS dim,
           CASE WHEN embedding[t.range + 1] IS NULL THEN NULL
                WHEN scale = 0 THEN 0
                ELSE CAST(greatest(-127.0, least(127.0,
                       FLOOR(CAST(embedding[t.range + 1] AS DOUBLE)
                             / scale))) AS INTEGER) END AS q
    FROM s, range(0, 64) t
    WHERE scale IS NOT NULL  -- posexplode drops a NULL (non-finite) qvec
    """,
    doc="Symmetric int8 embedding quantization "
    "(operators/similarity.py::quantize_embeddings), unpacked to one "
    "row per (vec, dim) so the hash pins every quantized component and "
    "every scale. floor(v/scale) — single IEEE division + floor, "
    "bit-identical across engines where round-half ties are not (the "
    "label_centroids lesson). The 4x storage/IO cut for an embedding "
    "lake; zero shuffle, zero UDF, pure array transforms.",
    tags=("embedding",),
)
def q_quantize_embeddings(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.similarity import (
        quantize_embeddings,
    )

    return (
        quantize_embeddings(table(spark, sf_dir, "embeddings"))
        .select(
            "vec_id", "scale",
            F.posexplode("qvec").alias("dim", "q"),
        )
        .withColumn("dim", F.col("dim").cast("long"))
    )


@register(
    "quality_percentile_filter",
    f"""
    SELECT doc_id, lang, quality, q_rank FROM (
      SELECT doc_id, lang, quality,
             percent_rank() OVER (PARTITION BY lang
                                  ORDER BY quality, doc_id) AS q_rank
      FROM (
        SELECT doc_id, lang,
               round(least(n_tok / 64.0, 1.0) * 0.25
                     + (n_uniq / n_tok) * 0.5
                     + (1.0 - (n_chars - n_alnum) / n_chars) * 0.25, 6)
                 AS quality
        FROM (
          SELECT doc_id, lang,
                 CAST(len(toks) AS DOUBLE) AS n_tok,
                 CAST(len(list_distinct(toks)) AS DOUBLE) AS n_uniq,
                 CAST(length(text) AS DOUBLE) AS n_chars,
                 CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
                      AS DOUBLE) AS n_alnum
          FROM (SELECT doc_id, lang, text, {_SQL_TOKS} AS toks
                FROM documents))))
    WHERE q_rank >= 0.5
    """,
    doc="Relative quality cut: keep documents at or above the median "
    "quality of their OWN language (operators/text.py::"
    "quality_percentile_filter) — the FineWeb/DCLM-style per-stratum "
    "percentile filter an absolute threshold can't express. percent_rank "
    "over the total order (quality, doc_id) makes the kept set "
    "deterministic under score ties; one shuffle on the stratum.",
    tags=("text", "trainmix"),
)
def q_quality_percentile_filter(spark, sf_dir):
    return T.quality_percentile_filter(
        table(spark, sf_dir, "documents"), q=0.5
    ).select("doc_id", "lang", "quality", "q_rank")


@register(
    "label_centroids",
    """
    WITH ex AS (
      SELECT label, t.range AS dim,
             CAST(FLOOR(CAST(e.embedding[t.range + 1] AS DOUBLE) * 1.0e12)
                  AS DECIMAL(38,0)) AS v
      FROM embeddings e, range(0, 64) t
    ),
    agg AS (
      SELECT label, dim, SUM(v) AS s, count(*) AS n
      FROM ex GROUP BY 1, 2
    )
    SELECT label, n AS n_vecs, dim,
           CAST(s AS DOUBLE) / n / 1.0e12 AS centroid_v
    FROM agg
    """,
    doc="Exact per-label embedding centroids "
    "(operators/similarity.py::label_centroids), unpacked to one row "
    "per (label, dim) so the value hash pins every component. "
    "Components are fixed to 12 fractional digits by floor(v*1e12) — "
    "one IEEE multiply + floor, bit-identical on every engine, where "
    "decimal ROUNDING is not (half-up vs half-even ties) — then summed "
    "as exact integer decimals: order-independent, bit-reproducible "
    "across engines and partitionings, one double division chain at "
    "the edge. The posexplode fan-out collapses map-side to #labels x "
    "dims rows per task before the shuffle: the exchange carries "
    "centroids-in-progress, never the corpus.",
    tags=("embedding", "agg"),
)
def q_label_centroids(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.similarity import (
        label_centroids,
    )

    emb = table(spark, sf_dir, "embeddings")
    return (
        label_centroids(emb)
        .select(
            "label",
            "n_vecs",
            F.posexplode("centroid").alias("dim", "centroid_v"),
        )
        # posexplode's position is int32; the oracle's range() is BIGINT
        .withColumn("dim", F.col("dim").cast("long"))
    )


def _sql_lang_hits(lang: str) -> str:
    # mirrors text.py::lang_id's _hits: \b counts for ASCII-word
    # markers, substring-occurrence counts (length difference) for CJK
    # markers — RE2's \b is ASCII-word-defined like Java's, so the old
    # \b-for-everything form made hits_zh identically zero in BOTH
    # engines (review finding)
    import re as _re

    parts = []
    for m in T.LANG_MARKERS[lang]:
        if _re.fullmatch(r"\w+", m, flags=_re.ASCII):
            parts.append(rf"len(regexp_extract_all(text, '\b{m}\b'))")
        else:
            parts.append(
                f"CAST((length(text) - length(replace(text, '{m}', '')))"
                f" / {len(m)} AS INTEGER)"
            )
    return " + ".join(parts)


@register(
    "doc_lang_id",
    f"""
    SELECT doc_id, lang,
           CASE
             {"".join(
               f"WHEN hits_{l} = best AND best > 0 THEN '{l}' "
               for l in sorted(T.LANG_MARKERS))}
             ELSE 'und' END AS pred_lang
    FROM (
      SELECT doc_id, lang,
             {", ".join(f"{_sql_lang_hits(l)} AS hits_{l}"
                        for l in sorted(T.LANG_MARKERS))},
             greatest({", ".join(f"{_sql_lang_hits(l)}"
                                 for l in sorted(T.LANG_MARKERS))}) AS best
      FROM documents)
    """,
    doc="Language ID: marker-stopword counts + deterministic argmax.",
    tags=("text",),
)
def q_doc_lang_id(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return T.lang_id(d).select("doc_id", "lang", "pred_lang")


@register(
    "doc_fingerprint",
    f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform({_SQL_TOKS},
                 w -> {_SQL_HASH.format(x='w')})),
             (acc, h) -> (acc * {T.FINGERPRINT_MUL} + h)
                           % {T.FINGERPRINT_MOD}) AS fingerprint
    FROM documents
    """,
    doc="Order-sensitive rolling document fingerprint (polynomial hash fold).",
    tags=("text", "dedup"),
)
def q_doc_fingerprint(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return T.fingerprint(d).select("doc_id", "fingerprint")


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash,
           min(doc_id) AS keep_id,
           count(*) AS n_dupes
    FROM documents GROUP BY 1
    """,
    doc="Exact dedup groups: digest -> keeper id + multiplicity.",
    tags=("dedup",),
)
def q_dedup_exact(spark, sf_dir):
    return D.exact_dedup_groups(table(spark, sf_dir, "documents"))


@register(
    "bpe_pair_counts",
    f"""
    WITH words AS (
      SELECT tok AS w, count(*) AS freq
      FROM (SELECT unnest({_SQL_TOKS}) AS tok FROM documents)
      WHERE length(tok) >= 2
      GROUP BY 1
    ), pairs AS (
      SELECT w[i:i+1] AS pair, freq
      FROM words, unnest(generate_series(1, length(w) - 1)) AS t(i)
    )
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
    FROM pairs GROUP BY 1 ORDER BY n DESC, pair LIMIT 50
    """,
    doc="Corpus-weighted adjacent-character pair counts — the inner "
    "step of BPE tokenizer training (operators/text.py::"
    "bpe_pair_counts): the merge rule is argmax of this table; "
    "subsequent rounds re-run the same shape over re-segmented words. "
    "The word-frequency rollup collapses the corpus to its DISTINCT "
    "vocabulary before any pair explodes (map-side combined), top-k is "
    "TakeOrderedAndProject over a (n DESC, pair) total order. Integer "
    "counts, engine-exact.",
    tags=("text", "trainmix"),
)
def q_bpe_pair_counts(spark, sf_dir):
    return T.bpe_pair_counts(table(spark, sf_dir, "documents"), top_k=50)


def _bpe_oracle_sql(n_merges: int = 8) -> str:
    """DuckDB replay of ``train_bpe``'s FIXED-count training loop as
    unrolled chained CTEs (r11 verdict: the 'driver-held state'
    objection dissolves when the iteration count is a constant).
    Round i: weighted adjacent-pair rollup over seg{{i-1}} → 1-row
    argmax by (n DESC, l, r) → greedy left-to-right re-segmentation.
    The greedy walk (Spark's pending-symbol fold) is re-expressed
    set-wise via gaps-and-islands: a match at position j is CHOSEN iff
    its offset within its run of consecutive matches is even (matches
    at adjacent positions only occur when l = r — for l ≠ r a match at
    j and j+1 would force s[j+1] = r = l — so runs are exactly the
    self-overlap case the walk resolves greedily), and position j+1
    after a chosen j is consumed. Identical output to the fold,
    including tie order and the merged-symbol rounds the pytest
    trainer pins."""
    esc_ws = r"'\s+'"
    parts = [f"""
    WITH w0 AS (
      SELECT tok AS w, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split_regex(trim(text), {esc_ws}))
            AS tok FROM documents)
      WHERE length(tok) >= 2
      GROUP BY 1
    ),
    seg0 AS (
      SELECT w AS wid, freq,
             list_transform(generate_series(1, length(w)),
                            i -> w[i:i]) AS syms
      FROM w0
    )"""]
    for i in range(1, n_merges + 1):
        p = i - 1
        parts.append(f""",
    t{i} AS (
      SELECT syms[j] AS l, syms[j+1] AS r,
             syms[j] || syms[j+1] AS m, CAST(SUM(freq) AS BIGINT) AS n
      FROM seg{p}, unnest(generate_series(1, len(syms) - 1)) AS u(j)
      GROUP BY 1, 2, 3
      ORDER BY n DESC, l, r LIMIT 1
    ),
    x{i} AS (
      SELECT s.wid, s.freq, j AS pos, s.syms[j] AS sym, tt.m,
             COALESCE(s.syms[j] = tt.l AND s.syms[j+1] = tt.r,
                      FALSE) AS mt
      FROM seg{p} s CROSS JOIN t{i} tt,
           unnest(generate_series(1, len(s.syms))) AS u(j)
    ),
    c{i} AS (
      SELECT *, CASE WHEN mt THEN pos - ROW_NUMBER()
                     OVER (PARTITION BY wid, mt ORDER BY pos) END AS isl
      FROM x{i}
    ),
    ch{i} AS (
      SELECT *, COALESCE(mt AND (pos - MIN(pos)
                     OVER (PARTITION BY wid, isl)) % 2 = 0,
                     FALSE) AS chosen
      FROM c{i}
    ),
    seg{i} AS (
      SELECT wid, freq,
             list(CASE WHEN chosen THEN m ELSE sym END
                  ORDER BY pos) AS syms
      FROM (
        SELECT *, COALESCE(LAG(chosen)
                   OVER (PARTITION BY wid ORDER BY pos),
                   FALSE) AS prevch
        FROM ch{i}
      )
      WHERE NOT prevch
      GROUP BY wid, freq
    )""")
    union = "\n      UNION ALL ".join(
        f"SELECT {i - 1} AS rk, l, r, m, n FROM t{i}"
        for i in range(1, n_merges + 1)
    )
    parts.append(f"""
    SELECT CAST(rk AS BIGINT) AS rank, l AS "left", r AS "right",
           m AS merged, n
    FROM ({union})
    ORDER BY rank
    """)
    return "".join(parts)


@register(
    "bpe_train_merges",
    _bpe_oracle_sql(8),
    doc="Full iterative BPE training (operators/text.py::train_bpe): 8 "
    "merge rounds over the corpus's distinct-word frequency table, "
    "each round = map-side-combined pair rollup + 1-row argmax + pure "
    "Spark aggregate-fold re-segmentation (no UDF). The merge table is "
    "a DETERMINISTIC pure function of the corpus ((n DESC, left, "
    "right) tie order). ORACLE-PAIRED since r12: the fixed merge count "
    "unrolls into chained DuckDB CTEs (_bpe_oracle_sql) whose "
    "re-segmentation re-expresses the greedy pending-symbol walk as a "
    "gaps-and-islands choose-every-other rule; pytest additionally "
    "pins the whole table against an independent Python trainer "
    "including merged-symbol rounds.",
    tags=("text", "trainmix"),
)
def q_bpe_train_merges(spark, sf_dir):
    merges = T.train_bpe(table(spark, sf_dir, "documents"), n_merges=8)
    return spark.createDataFrame(
        [(i,) + m for i, m in enumerate(merges)],
        "rank long, left string, right string, merged string, n long",
    )


def _corr_oracle_sql() -> str:
    """DuckDB replay of the ``corr_rollup`` entry: identical decimal
    sums (operands widened to DECIMAL(19) before squaring — DuckDB
    multiplies DECIMAL(18) in int64 and overflows at runtime),
    decimal→double through VARCHAR (the direct int128 cast is 1 ulp
    off correctly-rounded — EXACTNESS.md trap 3), and the identical
    fixed double trees per pair, n≥2 / exact-witness / >0 guards
    mirrored from finalize_corr_rollup."""
    names = ["n_chars", "n_tokens", "n_unique_tokens"]
    sums = []
    for i in range(3):
        sums.append(f"CAST(CAST(CAST(SUM(x{i}) AS DECIMAL(38,6)) "
                    f"AS VARCHAR) AS DOUBLE) AS s{i}")
        sums.append(f"(MIN(x{i}) <> MAX(x{i})) AS v{i}")
        for j in range(i, 3):
            sums.append(
                f"CAST(CAST(CAST(SUM(CAST(x{i} AS DECIMAL(19,6)) "
                f"* x{j}) AS DECIMAL(38,12)) AS VARCHAR) AS DOUBLE) "
                f"AS p{i}{j}")
    pair_rows = []
    for i in range(3):
        for j in range(i + 1, 3):
            num = f"(CAST(n AS DOUBLE) * p{i}{j} - s{i} * s{j})"
            di = f"(CAST(n AS DOUBLE) * p{i}{i} - s{i} * s{i})"
            dj = f"(CAST(n AS DOUBLE) * p{j}{j} - s{j} * s{j})"
            pair_rows.append(f"""
      SELECT source, '{names[i]}' AS col_a, '{names[j]}' AS col_b,
             n AS n_rows,
             CASE WHEN n >= 2 THEN {num}
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
             END AS covar,
             CASE WHEN v{i} AND v{j} AND {di} > 0 AND {dj} > 0
                  THEN {num} / sqrt({di} * {dj})
             END AS corr
      FROM s""")
    sums_sql = ",\n             ".join(sums)
    pairs_sql = " UNION ALL ".join(pair_rows)
    return f"""
    WITH f AS (
      SELECT source,
             CAST(n_chars AS DECIMAL(18,6)) AS x0,
             CAST(len(toks) AS DECIMAL(18,6)) AS x1,
             CAST(len(list_distinct(toks)) AS DECIMAL(18,6)) AS x2
      FROM (SELECT source, n_chars, {_SQL_TOKS} AS toks
            FROM documents WHERE text IS NOT NULL)
      WHERE source IS NOT NULL AND n_chars IS NOT NULL
    ), s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             {sums_sql}
      FROM f GROUP BY 1
    )
    {pairs_sql}
    """


@register(
    "corr_rollup",
    _corr_oracle_sql(),
    doc="Maintained per-key feature correlation matrix "
    "(operators/analytics.py::corr_rollup_state/merge_corr_rollup/"
    "finalize_corr_rollup): the multivariate sibling of linreg_rollup "
    "for training-data feature QA — per source, the pairwise Pearson "
    "correlations and sample covariances of (n_chars, n_tokens, "
    "n_unique_tokens), from exact-decimal sufficient statistics "
    "(listwise-complete n, per-column sums, pairwise product sums, "
    "min/max degeneracy witnesses — each a true monoid). The entry "
    "builds the state over a 70/30 doc_id split and MERGES; the "
    "oracle is the one-pass full recompute, so green proves the "
    "merge exact (decimal sums) AND the coefficient trees identical "
    "(double ops over bit-identical operands; decimal→double through "
    "VARCHAR on the DuckDB side — EXACTNESS trap 3). Pure Catalyst: "
    "one map-side-combined aggregate, m + m(m+1)/2 + 2m numbers per "
    "key per partial on the shuffle, zero Python, plan-gated.",
    tags=("agg", "trainmix"),
)
def q_corr_rollup(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.analytics import (
        corr_rollup_state,
        finalize_corr_rollup,
        merge_corr_rollup,
    )

    cols = ("n_chars", "n_tokens", "n_unique_tokens")
    # source IS NOT NULL mirrors the oracle exactly (r12 third review:
    # Spark's groupBy would keep a NULL-source group the oracle's
    # filter drops — dead code on today's fixtures, a red gate the day
    # a NULL source appears); a per-source profile of the NULL source
    # is meaningless anyway
    feats = T.token_stats(
        table(spark, sf_dir, "documents").filter(
            F.col("text").isNotNull() & F.col("source").isNotNull())
    ).select("doc_id", "source", *cols)
    keys = ("source",)
    hist = corr_rollup_state(
        feats.filter(F.col("doc_id") % 10 < 7), keys, cols)
    delta = corr_rollup_state(
        feats.filter(F.col("doc_id") % 10 >= 7), keys, cols)
    return finalize_corr_rollup(
        merge_corr_rollup(hist, delta, keys=keys), cols)


@register(
    "length_bucket_batches",
    f"""
    WITH base AS (
      SELECT doc_id,
             CAST(greatest(len({_SQL_TOKS}), 1) AS BIGINT) AS n_tok
      FROM documents
    ), keyed AS (
      SELECT doc_id, n_tok,
             CAST(length(bin(n_tok)) AS BIGINT) AS bucket,
             ({sql_hash32("CAST(doc_id AS VARCHAR)")} % 32) AS shard
      FROM base
    )
    SELECT doc_id, n_tok, bucket, shard,
           CAST((row_number() OVER (PARTITION BY bucket, shard
                                    ORDER BY n_tok, doc_id) - 1) // 8
                AS BIGINT) AS batch_id
    FROM keyed
    """,
    doc="Length-bucketed batch assignment (operators/text.py::"
    "length_bucket_batches): power-of-two length classes via "
    "length(bin(n_tok)) — the binary digit count is an EXACT integer "
    "where a float log2 could land on either side of a boundary "
    "depending on libm — then fixed-size batches in (n_tok, id) order "
    "inside each (bucket, portable-hash shard): no cross-shard "
    "coupling, one shuffle, assignment a pure function of the data. "
    "Tail waste bounded by buckets x shards partial batches.",
    tags=("trainmix", "chunking"),
)
def q_length_bucket_batches(spark, sf_dir):
    return T.length_bucket_batches(
        table(spark, sf_dir, "documents"), batch_size=8, n_shards=32
    )


@register(
    "containment_pairs",
    f"""
    WITH corpus AS (
      SELECT doc_id, lang, text FROM documents WHERE doc_id < 150
      UNION ALL
      SELECT doc_id + 500, lang,
             list_aggregate(({_SQL_TOKS})[1:12], 'string_agg', ' ')
      FROM documents WHERE doc_id < 50
    ), g AS (
      SELECT doc_id, lang,
             list_filter({_SQL_GRAMS3}, gr -> gr != '') AS grams
      FROM (SELECT doc_id, lang, text, {_SQL_TOKS} AS toks FROM corpus)
    ), p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.grams, b.grams)) AS i,
             len(a.grams) AS na, len(b.grams) AS nb
      FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
    )
    SELECT CASE WHEN na < nb OR (na = nb AND id_a < id_b)
                THEN id_a ELSE id_b END AS id_small,
           CASE WHEN na < nb OR (na = nb AND id_a < id_b)
                THEN id_b ELSE id_a END AS id_big,
           round(CAST(i AS DOUBLE) / least(na, nb), 6) AS containment,
           CAST(least(na, nb) AS BIGINT) AS n_grams_small,
           CAST(greatest(na, nb) AS BIGINT) AS n_grams_big
    FROM p
    WHERE round(CAST(i AS DOUBLE) / least(na, nb), 6) >= 0.8
      AND least(na, nb) > 0
    """,
    doc="Asymmetric n-gram containment pairs "
    "(operators/dedup.py::containment_pairs): |A∩B| / |A-side| from the "
    "smaller gram set — the quote/subset duplication modality Jaccard "
    "misses (a doc fully embedded in a longer one has tiny Jaccard but "
    "containment ~1; the pipeline drops the contained doc). The fixture "
    "plants a 12-token excerpt of every doc_id<50 document (new id "
    "+500) — each is fully contained in its parent, so the entry pins "
    "the detection itself, not an empty result (natural max containment "
    "in this corpus is 0.125). Same blocked-self-join scale shape as "
    "ngram_jaccard_pairs: lang-blocked here, post-LSH candidates at "
    "corpus scale.",
    tags=("dedup",),
)
def q_containment_pairs(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.text import tokens

    d = table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") < 150).select("doc_id", "lang", "text")
    excerpts = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 500).alias("doc_id"),
        "lang",
        F.array_join(F.slice(tokens("text"), 1, 12), " ").alias("text"),
    )
    out = D.containment_pairs(
        base.unionByName(excerpts), threshold=0.8, block_col="lang"
    )
    return out.select(
        "id_small", "id_big", "containment",
        F.col("n_grams_small").cast("long").alias("n_grams_small"),
        F.col("n_grams_big").cast("long").alias("n_grams_big"),
    )


@register(
    "dedup_histogram",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
    ), groups AS (
      SELECT count(*) AS n_dupes FROM corpus GROUP BY md5(text)
    ), hist AS (
      SELECT n_dupes, count(*) AS n_groups FROM groups GROUP BY 1
    ), tot AS (SELECT SUM(n_dupes * n_groups) AS t FROM hist)
    SELECT n_dupes, n_groups, n_dupes * n_groups AS n_docs,
           CAST(n_dupes * n_groups AS DOUBLE) / t AS doc_share
    FROM hist, tot
    """,
    doc="Corpus duplication profile "
    "(operators/dedup.py::dup_size_histogram): groups per duplication "
    "level + document mass and share — the one-page 'how duplicated is "
    "this crawl?' answer that picks the dedup strategy (pair tail -> "
    "MinHash; megaclusters -> boilerplate path). Digest rollup shuffles "
    "16-byte digests map-side combined; the histogram aggregate is over "
    "group SIZES (dozens of rows at any corpus size); share via "
    "broadcast 1-row total. Fixture plants every %10 doc as an exact "
    "copy so the histogram has real mass at n_dupes=2.",
    tags=("dedup", "diagnostics"),
)
def q_dedup_histogram(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    corpus = d.select("doc_id", "text").unionAll(
        d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return D.dup_size_histogram(corpus)


@register(
    "ngram_jaccard_pairs",
    f"""
    WITH g AS (
      SELECT doc_id, lang,
             list_filter({_SQL_GRAMS3}, gr -> gr != '') AS grams
      FROM (SELECT doc_id, lang, text, {_SQL_TOKS} AS toks FROM documents
            WHERE doc_id < 150)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / CAST(len(a.grams) + len(b.grams)
                        - len(list_intersect(a.grams, b.grams)) AS DOUBLE),
                 6) AS jaccard
    FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
          / CAST(len(a.grams) + len(b.grams)
                 - len(list_intersect(a.grams, b.grams)) AS DOUBLE) >= 0.01
    """,
    doc="Near-dup via word-3-gram Jaccard, blocked by lang (all-pairs is "
    "the verify stage; LSH buckets are the scale path).",
    tags=("dedup",),
)
def q_ngram_jaccard_pairs(spark, sf_dir):
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return D.ngram_jaccard_pairs(d, threshold=0.01, block_col="lang")


@register(
    "minhash_signatures",
    f"""
    WITH grams AS (
      SELECT doc_id, unnest(grams) AS gram FROM (
        SELECT doc_id, {_SQL_GRAMS3} AS grams
        FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
              WHERE doc_id < 60))
    ), hashed AS (
      SELECT doc_id, {_SQL_HASH.format(x='gram')} AS h FROM grams
    ), expanded AS (
      SELECT doc_id, i.i AS hash_idx,
             ((2 * i.i + 1) * h + i.i * 987654321) % {D.MINHASH_PRIME} AS hv
      FROM hashed CROSS JOIN
           (SELECT unnest(generate_series(0, 15)) AS i) i
    )
    SELECT doc_id, hash_idx, min(hv) AS minhash
    FROM expanded GROUP BY 1, 2
    """,
    doc="MinHash signatures (k=16, 3-gram shingles), long format.",
    tags=("dedup", "sketch"),
)
def q_minhash_signatures(spark, sf_dir):
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    return D.minhash_signatures(d, num_hashes=16)


#: Per-source MinHash-ROLLUP signature as a reusable SQL CTE body:
#: 3-gram shingles (the word_ngrams twins above), ONE hash32 per gram
#: (seed 0 — the Spark side feeds dedup.gram_hashes_vectorized, whose
#: _h32 is the unseeded hash32; kernel/Catalyst identity pinned in
#: EXACTNESS.md). ``gram <> ''`` mirrors the kernel's in-kernel drop
#: of the empty gram (produced only by empty/whitespace-only texts —
#: r11 review: without it a whitespace-only doc puts hash32('') into
#: the oracle's minima but not Spark's), then the repo-standard
#: Carter-Wegman slots
#: ((2i+1)·h + i·987654321 mod 2³¹−1 — the same family
#: minhash_signatures uses), min per (source, slot). Shared by the
#: state entry and the similarity entry.
_SQL_MH_ROLLUP_SIG = f"""
      toks AS (SELECT source, {_SQL_TOKS} AS toks
               FROM documents WHERE text IS NOT NULL),
      grams AS (SELECT source, {sql_hash32('gram')} AS h
                FROM (SELECT source, unnest({_SQL_GRAMS3}) AS gram
                      FROM toks)
                WHERE gram <> ''),
      slots AS (SELECT unnest(generate_series(0, 15)) AS slot),
      sig AS (
        SELECT source, CAST(slot AS BIGINT) AS slot,
               min(((2 * slot + 1) * h + slot * 987654321)
                   % {D.MINHASH_PRIME}) AS min_hash
        FROM grams CROSS JOIN slots GROUP BY 1, 2
      )
"""


@register(
    "minhash_rollup",
    f"""
    WITH {_SQL_MH_ROLLUP_SIG}
    SELECT source, slot, min_hash FROM sig
    """,
    doc="Mergeable per-key MinHash signature "
    "(operators/analytics.py::minhash_rollup_state/merge_minhash_rollup/"
    "finalize_minhash_rollup): slot i = min over the key's items of "
    "the Carter-Wegman transform of one seeded hash32 — per-key SET "
    "IDENTITY next to the "
    "family's scalar statistics, and a TRUE monoid (elementwise min is "
    "associative, commutative, idempotent), so the maintained "
    "signature equals a full recompute bit-for-bit, unconditionally. "
    "Aggregate and merge are pure Catalyst: one map-side-combined "
    "min-aggregate — the shuffle carries n_hashes longs per key per "
    "map task, never items; the shingle+hash prep is the repo's "
    "standard Arrow kernel (gram_hashes_vectorized, ~4.5x the HOF "
    "form). Entry: sources fingerprinted by their documents' 3-gram "
    "shingles, n_hashes=16, seed=0, long format.",
    tags=("agg", "sketch", "curation"),
)
def q_minhash_rollup(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.analytics import (
        finalize_minhash_rollup,
        minhash_rollup_state,
    )

    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # Arrow kernel shingles+hashes in one pass (~4.5× the HOF form);
    # _h32 == hash32 at seed 0, so the state is labeled seed=0
    hashes = d.select(
        "source",
        F.explode(D.gram_hashes_vectorized("text", 3)).alias("gh"),
    )
    return finalize_minhash_rollup(
        minhash_rollup_state(hashes, ("source",), "gh",
                             n_hashes=16, seed=0, prehashed=True)
    )


@register(
    "minhash_source_similarity",
    f"""
    WITH {_SQL_MH_ROLLUP_SIG}
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(sum(CASE WHEN a.min_hash = b.min_hash
                         THEN 1 ELSE 0 END) AS DOUBLE) / 16
           AS est_jaccard
    FROM sig a JOIN sig b ON a.slot = b.slot AND a.source < b.source
    GROUP BY 1, 2
    """,
    doc="Pairwise estimated Jaccard between sources from their "
    "maintained MinHash signatures "
    "(operators/analytics.py::minhash_similarity_pairs): est = "
    "fraction of equal slots (the Broder estimator — deterministic "
    "given the hash family, so the oracle reproduces it bit-exactly). "
    "The self-join is STATE-sized (sources² pairs over 16-long "
    "arrays, smaller side broadcast) — the corpus was already folded "
    "into the signatures, so comparing every source against every "
    "source costs the same at any corpus size. The curation question "
    "this answers: which shards/dumps duplicate each other enough to "
    "bother cross-deduping.",
    tags=("join", "sketch", "curation"),
)
def q_minhash_source_similarity(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.analytics import (
        minhash_rollup_state,
        minhash_similarity_pairs,
    )

    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    hashes = d.select(
        "source",
        F.explode(D.gram_hashes_vectorized("text", 3)).alias("gh"),
    )
    st = minhash_rollup_state(hashes, ("source",), "gh",
                              n_hashes=16, seed=0, prehashed=True)
    return minhash_similarity_pairs(st, ("source",))


@register(
    "minhash_pairs_banded",
    f"""
    WITH {_SQL_MH_ROLLUP_SIG}
    SELECT source_a, source_b, est_jaccard FROM (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(sum(CASE WHEN a.min_hash = b.min_hash
                           THEN 1 ELSE 0 END) AS DOUBLE) / 16
             AS est_jaccard
      FROM sig a JOIN sig b ON a.slot = b.slot AND a.source < b.source
      GROUP BY 1, 2)
    WHERE est_jaccard >= 0.05
    """,
    doc="minhash_source_similarity's BANDED path (operators/"
    "analytics.py::minhash_similarity_pairs banded=True via "
    "_pairwise_state_join, r12 verdict #2): above the broadcast byte "
    "budget the state-pair family used to eat a keys² cartesian; with "
    "a positive threshold the scaffold instead self-bands the "
    "SIGNATURE — posexplode the slots, equi-join on (slot, min) "
    "exactly as minhash_lsh_pairs bands documents, distinct the "
    "ordered candidate pairs, equi-join the payloads back by key. "
    "EXACT-equivalent to the cartesian: est_jaccard = matching "
    "slots / n is 0 for any pair with no matching (slot, min), and "
    "the min_similarity filter drops score-0 pairs from the exact "
    "path too — so the oracle is the similarity oracle plus the "
    "identical threshold, and the driver pins banded == exact on real "
    "data every round. Plan: equi-joins only, no cartesian at any key "
    "cardinality (gated in pytest).",
    tags=("join", "sketch", "curation"),
)
def q_minhash_pairs_banded(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.analytics import (
        minhash_rollup_state,
        minhash_similarity_pairs,
    )

    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    hashes = d.select(
        "source",
        F.explode(D.gram_hashes_vectorized("text", 3)).alias("gh"),
    )
    st = minhash_rollup_state(hashes, ("source",), "gh",
                              n_hashes=16, seed=0, prehashed=True)
    return minhash_similarity_pairs(st, ("source",),
                                    min_similarity=0.05, banded=True)


#: MinHash-LSH candidate pairs as a reusable SQL CTE body (SELECTs
#: id_a < id_b); shared by the pairs entry and the materialized dedup.
_SQL_LSH_PAIRS = f"""
    WITH grams AS (
      SELECT doc_id, unnest(grams) AS gram FROM (
        SELECT doc_id, {_SQL_GRAMS3} AS grams
        FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents))
    ), hashed AS (
      SELECT doc_id, {_SQL_HASH.format(x='gram')} AS h FROM grams
    ), expanded AS (
      SELECT doc_id, i.i AS hash_idx,
             ((2 * i.i + 1) * h + i.i * 987654321) % {D.MINHASH_PRIME} AS hv
      FROM hashed CROSS JOIN
           (SELECT unnest(generate_series(0, 15)) AS i) i
    ), sigs AS (
      SELECT doc_id, hash_idx, min(hv) AS minhash
      FROM expanded GROUP BY 1, 2
    ), bands AS (
      SELECT doc_id, hash_idx // 2 AS band,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY hash_idx)
               AS band_key
      FROM sigs GROUP BY doc_id, hash_idx // 2
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
"""


@register(
    "minhash_lsh_pairs",
    _SQL_LSH_PAIRS,
    doc="MinHash-LSH candidate pairs (16 hashes, 8 bands x 2 rows): "
    "docs sharing any identical band. The linear-time near-dedup path.",
    tags=("dedup", "sketch"),
)
def q_minhash_lsh_pairs(spark, sf_dir):
    return D.minhash_lsh_pairs(
        table(spark, sf_dir, "documents"), num_hashes=16, bands=8
    )


@register(
    "dedup_near_materialize",
    f"""
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    ANTI JOIN (SELECT DISTINCT id_b FROM ({_SQL_LSH_PAIRS})) losers
      ON d.doc_id = losers.id_b
    """,
    doc="Materialized near-dedup: the corpus minus the higher-id doc of "
    "every MinHash-LSH pair (greedy min-id keeper, SlimPajama-style; "
    "deliberately no transitive closure). One anti-join against the "
    "distinct loser ids — the pairs-to-corpus step that completes the "
    "near-dedup pipeline.",
    tags=("dedup",),
)
def q_dedup_near_materialize(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, num_hashes=16, bands=8)
    return D.drop_near_dupes(docs, pairs).select(
        "doc_id", "lang", "source", "n_chars"
    )


#: Recursive reachability closure over the LSH pair graph — min reachable
#: id per doc. CTE body shared by the components entry and the transitive
#: materializer.
_SQL_DUP_COMPONENTS = f"""
    WITH RECURSIVE pairs AS ({_SQL_LSH_PAIRS}),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b AS u, id_a AS v FROM pairs),
    reach(u, v) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    )
    SELECT u AS doc_id, CAST(min(v) AS BIGINT) AS component
    FROM reach GROUP BY u
"""


@register(
    "dup_components",
    _SQL_DUP_COMPONENTS,
    doc="Transitive dup clusters: min-label connected components over the "
    "MinHash-LSH pair graph (all docs as nodes; singletons label "
    "themselves). Iterative join+min-agg with per-round lineage "
    "truncation; oracle is a DuckDB recursive reachability closure.",
    tags=("dedup",),
)
def q_dup_components(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, num_hashes=16, bands=8)
    return D.dup_components(pairs, nodes=docs.select("doc_id"))


@register(
    "dedup_transitive_materialize",
    f"""
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d JOIN ({_SQL_DUP_COMPONENTS}) c
      ON d.doc_id = c.doc_id AND d.doc_id = c.component
    """,
    doc="Materialized TRANSITIVE near-dedup: one keeper (the component-min "
    "id) per connected dup cluster — a~b~c keeps only a, which the "
    "pair-local greedy keeper (dedup_near_materialize) cannot see. "
    "dup_components + one left-semi join.",
    tags=("dedup",),
)
def q_dedup_transitive_materialize(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, num_hashes=16, bands=8)
    return D.drop_dup_clusters(docs, pairs).select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "simhash_docs",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_HASH.format(x='tok')} AS h FROM (
        SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
        WHERE doc_id < 100)
    ), votes AS (
      SELECT doc_id, b.bit,
             CASE WHEN ((h >> b.bit) & 1) = 1 THEN 1 ELSE -1 END AS vote
      FROM toks CROSS JOIN
           (SELECT unnest(generate_series(0, 31)) AS bit) b
    ), bv AS (
      SELECT doc_id, bit, sum(vote) AS v FROM votes GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                         ELSE 0 END) AS BIGINT) AS simhash
    FROM bv GROUP BY 1
    """,
    doc="SimHash (32-bit) per document: per-bit majority of token hashes.",
    tags=("dedup", "sketch"),
)
def q_simhash_docs(spark, sf_dir):
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return D.simhash(d, bits=32)


@register(
    "hamming_dup_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_HASH.format(x='tok')} AS h FROM (
        SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
        WHERE doc_id < 100)
    ), votes AS (
      SELECT doc_id, b.bit,
             CASE WHEN ((h >> b.bit) & 1) = 1 THEN 1 ELSE -1 END AS vote
      FROM toks CROSS JOIN
           (SELECT unnest(generate_series(0, 31)) AS bit) b
    ), bv AS (
      SELECT doc_id, bit, sum(vote) AS v FROM votes GROUP BY 1, 2
    ), s AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM bv GROUP BY 1
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
    """,
    doc="SimHash near-dup pairs (Hamming <= 4) via the DEFAULT banded "
    "path: 5 disjoint signature bands -> bucket self-join -> bit_count "
    "verify. Pigeonhole makes banding EXACT, so the oracle is the plain "
    "all-pairs SQL — a hash match proves full equality, not recall.",
    tags=("dedup", "sketch"),
)
def q_hamming_dup_pairs(spark, sf_dir):
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return D.hamming_pairs(D.simhash(d, bits=32), max_distance=4)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_SQL_DOT = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE),"
    " list_transform(list_zip({a}, {b}),"
    " s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))),"
    " (x, y) -> x + y)"
)


def _sql_cos(a: str, b: str) -> str:
    return (
        f"{_SQL_DOT.format(a=a, b=b)} / "
        f"(sqrt({_SQL_DOT.format(a=a, b=a)}) * sqrt({_SQL_DOT.format(a=b, b=b)}))"
    )


@register(
    "cosine_topk",
    f"""
    SELECT query_id, vec_id, cos, rank FROM (
      SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
             round({_sql_cos('q.embedding', 'e.embedding')}, 6) AS cos,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_sql_cos('q.embedding', 'e.embedding')} DESC,
                        e.vec_id) AS rank
      FROM embeddings e
      CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
      WHERE e.vec_id != q.vec_id)
    WHERE rank <= 5
    """,
    doc="Brute-force cosine top-5 ANN baseline (queries broadcast, one "
    "corpus scan; JVM array folds, no UDF).",
    tags=("similarity",),
)
def q_cosine_topk(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.cosine_topk(emb, queries, k=5).select(
        "query_id", "vec_id", "cos", "rank"
    )


@register(
    "cosine_topk_lsh_probe",
    None,  # approximate by construction → rows-only check; recall vs the
    # exact entry is pinned in tests/test_trainingdata_ops.py
    doc="Hyperplane-LSH approximate top-5 with 1-bit multiprobe — the "
    "bucket-equi scale path for unbounded query sides (candidates come "
    "from the query's bucket plus its n_planes single-bit-flip "
    "neighbors, not a cross join). No SQL oracle: recall < 1 by "
    "construction, and the exact companion (cosine_topk) is the "
    "correctness anchor.",
    tags=("similarity", "ann"),
)
def q_cosine_topk_lsh_probe(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.cosine_topk_lsh(emb, queries, k=5, multiprobe=1).select(
        "query_id", "vec_id", "cos", "rank"
    )


@register(
    "ivf_topk_probe",
    None,  # approximate by construction → rows-only check; recall vs the
    # exact entry is pinned in tests/test_rest_and_paths.py
    doc="IVF (KMeans coarse quantizer, deterministic seed) approximate "
    "top-5, n_probe=2 — the inverted-list scale path: each query scans "
    "only its nearest lists, shrinking candidates ~n_clusters/n_probe-"
    "fold. No SQL oracle (engine-specific codebook); cosine_topk is the "
    "exact anchor.",
    tags=("similarity", "ann"),
)
def q_ivf_topk_probe(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.ivf_topk(emb, queries, k=5, n_probe=2).select(
        "query_id", "vec_id", "cos", "rank"
    )


# Unbanded hyperplane key (plane ids 0..n-1, the hyperplane_signs form used
# by cosine_topk_lsh): bit j set iff the sequential-fold dot with plane j is
# > 0 — identical fold order and plane components in both engines.
_SQL_PLANE_HASH_Q = _SQL_HASH.format(
    x="(CAST(j AS VARCHAR) || ':' || CAST(p AS VARCHAR))"
)
_SQL_KEY3 = f"""
    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(generate_series(0, 2), j ->
        CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(0, 63), p ->
              CAST(embedding[p + 1] AS DOUBLE) *
              (CAST({_SQL_PLANE_HASH_Q} % 1000 AS DOUBLE)
               / CAST(1000 AS DOUBLE) - CAST(0.5 AS DOUBLE)))),
            (a, v) -> a + v) > 0
        THEN CAST(pow(2, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
      (a, v) -> a + v) AS BIGINT)
"""

_SQL_EXACT_TOP5 = f"""
    SELECT query_id, vec_id FROM (
      SELECT q2.vec_id AS query_id, e2.vec_id AS vec_id,
             row_number() OVER (
               PARTITION BY q2.vec_id
               ORDER BY round({_sql_cos('q2.embedding', 'e2.embedding')}, 6)
                        DESC, e2.vec_id) AS rank
      FROM embeddings e2
      CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q2
      WHERE e2.vec_id != q2.vec_id)
    WHERE rank <= 5
"""


@register(
    "cosine_topk_lsh_recall",
    f"""
    WITH keys AS (
      SELECT vec_id, embedding, {_SQL_KEY3} AS key FROM embeddings
    ), probes AS (
      SELECT vec_id AS query_id, embedding AS qemb,
             unnest([key, xor(key, CAST(1 AS BIGINT)),
                     xor(key, CAST(2 AS BIGINT)),
                     xor(key, CAST(4 AS BIGINT))]) AS bucket
      FROM keys WHERE vec_id < 5
    ), approx AS (
      SELECT query_id, vec_id FROM (
        SELECT p.query_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY p.query_id
                 ORDER BY round({_sql_cos('p.qemb', 'e.embedding')}, 6)
                          DESC, e.vec_id) AS rank
        FROM probes p JOIN keys e ON e.key = p.bucket
        WHERE e.vec_id != p.query_id)
      WHERE rank <= 5
    ), exact AS ({_SQL_EXACT_TOP5})
    SELECT CAST(5 AS BIGINT) AS k,
           CAST(count(DISTINCT ex.query_id) AS BIGINT) AS n_queries,
           CAST(count(ap.vec_id) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS recall
    FROM exact ex LEFT JOIN approx ap
      ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id
    """,
    doc="Driver-checkable recall@5 for the hyperplane-LSH ANN path "
    "(3 planes, 1-bit multiprobe): exact top-5 and LSH top-5 both "
    "computed in-engine, recall = |approx ∩ exact| / |exact|. The LSH "
    "buckets are deterministic (hash32-derived planes, sequential-fold "
    "signs), so the oracle reproduces the ENTIRE approximate pipeline "
    "in SQL and the driver hash-pins the exact recall value — the "
    "strongest checkable form of an ANN quality probe. Scale shape: "
    "both top-k relations are n_queries x k rows; the measurement "
    "never rescans the corpus.",
    tags=("similarity", "ann"),
)
def q_cosine_topk_lsh_recall(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.cosine_topk(emb, queries, k=5)
    approx = S.cosine_topk_lsh(emb, queries, k=5, n_planes=3, multiprobe=1)
    return S.topk_recall(exact, approx, k=5)


#: Recall floor for the IVF probe entry: measured 0.60 at sf0.01 AND
#: sf0.1 (n_clusters=8, n_probe=4) — 0.4 leaves a 1.5x margin against
#: KMeans sample jitter while still failing loudly if the inverted-list
#: path regresses toward random (5/200 ≈ 0.025 baseline).
IVF_RECALL_FLOOR = 0.4


@register(
    "ivf_topk_recall",
    f"""
    WITH exact AS ({_SQL_EXACT_TOP5})
    SELECT CAST(5 AS BIGINT) AS k,
           CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
           CAST(0.4 AS DOUBLE) AS recall_floor,
           TRUE AS floor_met
    FROM exact
    """,
    doc="Driver-checkable recall floor for the IVF ANN path (KMeans "
    "coarse quantizer, 8 lists, n_probe=4): recall@5 vs the exact "
    "top-5 computed in Spark, emitted as a floor predicate "
    "(floor_met = recall >= 0.4). The recall VALUE is engine-specific "
    "(the codebook comes from MLlib KMeans, not reproducible in SQL), "
    "so the oracle pins the predicate plus the exact-side-derived "
    "n_queries: a regression dropping recall below the floor flips "
    "floor_met and hash-mismatches. Measured recall 0.60 at both "
    "sf0.01 and sf0.1; the value itself is additionally pinned in "
    "pytest.",
    tags=("similarity", "ann"),
)
def q_ivf_topk_recall(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.cosine_topk(emb, queries, k=5)
    approx = S.ivf_topk(emb, queries, k=5, n_clusters=8, n_probe=4)
    return S.topk_recall(exact, approx, k=5).select(
        "k",
        "n_queries",
        F.lit(IVF_RECALL_FLOOR).alias("recall_floor"),
        (F.col("recall") >= F.lit(IVF_RECALL_FLOOR)).alias("floor_met"),
    )


PQ_RECALL_FLOOR = 0.4


@register(
    "pq_topk_recall",
    f"""
    WITH exact AS ({_SQL_EXACT_TOP5})
    SELECT CAST(5 AS BIGINT) AS k,
           CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
           CAST(0.4 AS DOUBLE) AS recall_floor,
           TRUE AS floor_met
    FROM exact
    """,
    doc="Driver-checkable recall floor for the product-quantization ANN "
    "path (operators/similarity.py::pq_topk: 8 subspaces x 16 "
    "centroids = 4-byte codes, 64x compression; ADC lookup-table scan "
    "over the codes column keeps k*refine candidates, exact cosine "
    "re-ranks only those — quantization chooses what to look at, "
    "never the reported score). Same oracle convention as "
    "ivf_topk_recall: the recall VALUE is engine-specific (MLlib "
    "KMeans codebooks), so the oracle pins the floor predicate plus "
    "the exact-side-derived n_queries; the value and the "
    "scores-equal-exact refinement contract are pinned in pytest.",
    tags=("similarity", "ann"),
)
def q_pq_topk_recall(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.cosine_topk(emb, queries, k=5)
    cbs = S.fit_pq_codebooks(
        emb, n_subspaces=8, n_centroids=16, fit_fraction=0.5
    )
    approx = S.pq_topk(
        emb, queries, k=5, codebooks=cbs, refine=8
    ).withColumnRenamed("score", "cos")
    return S.topk_recall(exact, approx, k=5).select(
        "k",
        "n_queries",
        F.lit(PQ_RECALL_FLOOR).alias("recall_floor"),
        (F.col("recall") >= F.lit(PQ_RECALL_FLOOR)).alias("floor_met"),
    )


@register(
    "embedding_dup_pairs",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_sql_cos('a.embedding', 'b.embedding')}, 6) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_sql_cos('a.embedding', 'b.embedding')} >= 0.4
    """,
    doc="Embedding-cosine near-duplicate pairs, all-pairs *verify-stage* "
    "form (explicit all_pairs=True escape hatch; the default path is "
    "bucketed — see embedding_dup_pairs_lsh).",
    tags=("similarity", "dedup"),
)
def q_embedding_dup_pairs(spark, sf_dir):
    return S.embedding_dup_pairs(
        table(spark, sf_dir, "embeddings"), threshold=0.4, all_pairs=True
    )


# Banded hyperplane-LSH key, SQL twin of similarity.banded_hyperplane_keys:
# band b's bit j uses plane id b*BITS+j; component p of a plane is
# (hash32(plane_id:p) % 1000)/1000 - 0.5; bit set iff the sequential-fold
# dot product is > 0 (identical fold order in both engines ⇒ identical
# sign ⇒ identical buckets).
# 11 bits/band: the occupancy rule (2^bits ≈ corpus size, see
# banded_hyperplane_keys) at the sf0.1 corpus of 2000 vectors — 4-bit
# bands put ~1/16th of the corpus in every bucket and made the candidate
# self-join quadratic (0.8M pairs from 2k vectors).
_LSH_BANDS, _LSH_BITS = 8, 11
_SQL_PLANE_HASH = _SQL_HASH.format(
    x=f"(CAST(b.band * {_LSH_BITS} + j AS VARCHAR) || ':' "
      "|| CAST(p AS VARCHAR))"
)
_SQL_BAND_KEY = f"""
    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(generate_series(0, {_LSH_BITS - 1}), j ->
        CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(0, 63), p ->
              CAST(embedding[p + 1] AS DOUBLE) *
              (CAST({_SQL_PLANE_HASH} % 1000 AS DOUBLE)
               / CAST(1000 AS DOUBLE) - CAST(0.5 AS DOUBLE)))),
            (a, v) -> a + v) > 0
        THEN CAST(pow(2, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
      (a, v) -> a + v) AS BIGINT)
"""


@register(
    "embedding_dup_pairs_lsh",
    f"""
    WITH keys AS (
      SELECT vec_id, b.band AS band, {_SQL_BAND_KEY} AS key
      FROM embeddings CROSS JOIN
           (SELECT unnest(generate_series(0, {_LSH_BANDS - 1})) AS band) b
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
      FROM keys a JOIN keys b2
        ON a.band = b2.band AND a.key = b2.key AND a.vec_id < b2.vec_id
    )
    SELECT c.id_a, c.id_b,
           round({_sql_cos('ea.embedding', 'eb.embedding')}, 6) AS cos
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b
    WHERE {_sql_cos('ea.embedding', 'eb.embedding')} >= 0.4
    """,
    doc="Embedding near-dup pairs via the DEFAULT bucketed path: banded "
    "hyperplane-LSH candidates (8 bands x 11 bits, sized by the "
    "2^bits ~ corpus occupancy rule) + exact cosine verify. The "
    "linear-ish scale shape; near-dup recall vs all-pairs pinned in "
    "tests. (This corpus has no real near-dups — max pairwise cos is "
    "~0.5 — so the entry's 0.4 threshold surfaces the low-similarity "
    "tail the bands intentionally down-sample; recall is engineered "
    "for true near-dup thresholds >=0.9.)",
    tags=("similarity", "dedup", "sketch"),
)
def q_embedding_dup_pairs_lsh(spark, sf_dir):
    return S.embedding_dup_pairs(
        table(spark, sf_dir, "embeddings"), threshold=0.4,
        n_bands=_LSH_BANDS, band_bits=_LSH_BITS,
    )


# Shared SemDeDup oracle body (embedding_cluster_dedup + the
# cluster_balanced_sample composition): pinned 8-smallest-vec_ids
# codebook, cosine argmax assignment (tie -> smallest cluster),
# keep='farthest' ordering, one-pass upper-triangular removal at 0.35.
_SQL_SEMDEDUP_CORE = f"""
    WITH cent AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
               AS cluster,
             embedding AS center
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
    ), scored AS (
      SELECT e.vec_id, e.embedding, c.cluster,
             {_sql_cos('e.embedding', 'c.center')} AS ccos
      FROM embeddings e CROSS JOIN cent c
    ), assigned AS (
      SELECT vec_id, embedding, cluster, ccos FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY ccos DESC, cluster) AS arn
        FROM scored)
      WHERE arn = 1
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY cluster ORDER BY ccos ASC, vec_id) AS orn
      FROM assigned
    ), removed AS (
      SELECT DISTINCT b.vec_id
      FROM ranked a JOIN ranked b
        ON a.cluster = b.cluster AND a.orn < b.orn
      WHERE {_sql_cos('a.embedding', 'b.embedding')} >= 0.35
    ), flags AS (
      SELECT r.vec_id, r.cluster, round(r.ccos, 6) AS centroid_cos,
             (rm.vec_id IS NULL) AS kept
      FROM ranked r LEFT JOIN removed rm ON r.vec_id = rm.vec_id
    )
"""


@register(
    "embedding_cluster_dedup",
    f"""{_SQL_SEMDEDUP_CORE}
    SELECT vec_id, cluster, centroid_cos, kept FROM flags
    """,
    doc="SemDeDup cluster-then-prune semantic dedup flags (operators/"
    "similarity.py::semdedup, Abbas et al. arXiv:2303.09540): assign "
    "each vector to its nearest centroid (ONE Catalyst projection — "
    "codebook compiled in as struct-array argmax, zero shuffle, zero "
    "Python), rank members low-centroid-similarity-first within each "
    "cluster (the paper's keep='farthest' policy), remove a member iff "
    "an earlier-ranked member is within cos >= 0.35 (one-pass "
    "upper-triangular semantics — never iterative). Pairs form ONLY "
    "inside a cluster: n_clusters is the explicit quadratic bound, the "
    "cluster equi-join is never a cartesian. The entry pins the "
    "codebook to the 8 smallest vec_ids' embeddings so the assignment "
    "is engine-independent; production uses the KMeans codebook "
    "(fit_ivf_codebook) the IVF ANN path already maintains.",
    tags=("similarity", "dedup"),
)
def q_embedding_cluster_dedup(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    seeds = [
        [float(x) for x in r[0]]
        for r in emb.select("embedding").orderBy("vec_id").limit(8).collect()
    ]
    return S.semdedup(emb, eps=0.35, codebook=seeds)


@register(
    "semdedup_kmeans",
    None,  # engine-specific MLlib KMeans codebook → rows-only check;
    # the pinned-codebook twin (embedding_cluster_dedup) is the value
    # oracle, and the codebook-INDEPENDENT invariant (exact-duplicate
    # vectors are always flagged, any codebook) is pinned in
    # tests/test_trainingdata_ops.py
    doc="SemDeDup with the PRODUCTION codebook: fit_ivf_codebook "
    "(MLlib KMeans on a deterministic sample — the same coarse "
    "quantizer the IVF ANN path maintains, fit once per corpus "
    "version) feeding semdedup's assignment/prune. No SQL oracle: the "
    "codebook is engine-specific by construction; "
    "embedding_cluster_dedup pins the identical prune semantics "
    "bit-exact under a pinned codebook.",
    tags=("similarity", "dedup"),
)
def q_semdedup_kmeans(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    return S.semdedup(emb, eps=0.35, n_clusters=8)


@register(
    "cluster_balanced_sample",
    f"""{_SQL_SEMDEDUP_CORE}
    SELECT vec_id, cluster, centroid_cos FROM (
      SELECT vec_id, cluster, centroid_cos,
             row_number() OVER (
               PARTITION BY cluster
               ORDER BY ({sql_hash32("CAST(vec_id AS VARCHAR)", seed=5)}
                         % 10000), vec_id) AS rk
      FROM flags WHERE kept)
    WHERE rk <= 20
    """,
    doc="Cluster-balanced diversity sampling — semantic dedup then "
    "exactly-20-per-cluster: a PURE COMPOSITION of semdedup "
    "(similarity.py) and rank_sample (sampling.py) with the embedding "
    "cluster as the stratum. The DataComp-style selection shape: "
    "semantic duplicates pruned first, then each region of embedding "
    "space contributes a bounded, deterministic share of the mixture "
    "(hash-then-id total order — engine-portable, partition-layout-"
    "independent). Inherits semdedup's plan posture; the balance stage "
    "adds ONE exchange on the cluster key.",
    tags=("similarity", "dedup", "trainmix"),
)
def q_cluster_balanced_sample(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.sampling import rank_sample

    emb = table(spark, sf_dir, "embeddings")
    seeds = [
        [float(x) for x in r[0]]
        for r in emb.select("embedding").orderBy("vec_id").limit(8).collect()
    ]
    flags = S.semdedup(emb, eps=0.35, codebook=seeds)
    return rank_sample(
        flags.filter(F.col("kept")), k=20,
        stratum_col="cluster", id_col="vec_id", seed=5,
    ).select("vec_id", "cluster", "centroid_cos")


@register(
    "pca_project_embeddings",
    None,  # engine-specific fit (cross-partition float combine order
    # moves the covariance's last ulp, exactly like the MLlib KMeans
    # codebook) -> rows-only check; the fit is pinned against numpy and
    # the projection against a pure-python fold in
    # tests/test_trainingdata_ops.py, and pca_project under a PINNED
    # rotation is a deterministic pure function of the input
    doc="PCA dimensionality reduction for the embedding stack "
    "(similarity.py::fit_pca / pca_project): fit the 64-dim covariance "
    "in ONE distributed pass — per-partition numpy partials "
    "(n, colsum, X^T X) as a vectorized monoid, positional-explode "
    "reduce, <= 1+d+d^2 rows TOTAL across the one exchange at any "
    "corpus size — eigendecompose the tiny d x d matrix driver-side, "
    "then project every vector through the k=8 rotation as a pure "
    "Catalyst zip_with/aggregate fold (zero shuffle, zero Python, "
    "sign-normalized axes). The 8x distance/shuffle cut in front of "
    "IVF/PQ/ANN at 100 TB.",
    tags=("similarity",),
)
def q_pca_project_embeddings(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    model = S.fit_pca(emb, k=8)
    # catalog convention: array outputs never leave the wrapper (the
    # driver hashes by pandas sort_values, which crashes on list cells)
    return S.pca_project(emb, model).select(
        "vec_id",
        *[F.col("pca")[i].alias(f"p{i}") for i in range(8)],
    )


def _sql_jl_axis(j: int, d: int = 64, seed: int = 1) -> str:
    """One JL output axis as a DuckDB sequential fold: the oracle
    re-derives the sign matrix INDEPENDENTLY from the shared md5
    parity (never trusting the Spark-side literals) and folds in the
    same left-to-right order as the Catalyst ``aggregate``. The
    1/sqrt(k) scale is embedded as an exact double literal so neither
    engine's pow/sqrt ulp enters the comparison."""
    signs = (
        f"list_transform(generate_series(0, {d - 1}), i -> "
        f"CASE WHEN (('0x' || substr(md5('rp{seed}:{j}:' || i), 1, 8))"
        f"::BIGINT % 2) = 0 THEN CAST(1 AS DOUBLE) "
        f"ELSE CAST(-1 AS DOUBLE) END)"
    )
    inv = 1.0 / float(8) ** 0.5
    return (
        f"{_SQL_DOT.format(a='embedding', b=signs)} * {inv!r} AS rp{j}"
    )


@register(
    "random_projection_embeddings",
    # unlike the fitted PCA rotation this construction
    # IS fully SQL-expressible because the matrix is a pure function of
    # (seed, dims); also pinned BIT-exact against a sequential python
    # fold in tests/test_trainingdata_ops.py
    f"""
    SELECT vec_id,
           {", ".join(_sql_jl_axis(j) for j in range(8))}
    FROM embeddings
    """,
    doc="Johnson-Lindenstrauss sign random projection (similarity.py::"
    "random_projection, Achlioptas 2003): 64 -> 8 dims with s_ij = +-1 "
    "from the portable hash32('rp{seed}:{j}:{i}') parity — the FIT-FREE "
    "distance-preserving-in-expectation cut in front of the embedding "
    "stack, reproducible on any engine because the matrix is a pure "
    "function of (seed, dims). Pure Catalyst sequential folds over "
    "literal sign arrays: zero shuffle, zero Python, guards riding the "
    "value column.",
    tags=("similarity",),
)
def q_random_projection_embeddings(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    return S.random_projection(emb, out_dim=8, seed=1).select(
        "vec_id",
        *[F.col("rp")[i].alias(f"rp{i}") for i in range(8)],
    )


# ---------------------------------------------------------------------------
# Training-mixture construction: packing + deterministic sampling
# ---------------------------------------------------------------------------

@register(
    "pack_sequences",
    f"""
    WITH laid AS (
      SELECT doc_id, n_tok,
             CAST(sum(n_tok) OVER (ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS "end"
      FROM (SELECT doc_id,
                   greatest(len({_SQL_TOKS}), 1) AS n_tok
            FROM documents)
    ), spanned AS (
      SELECT doc_id, "end" - n_tok AS "start", "end",
             unnest(generate_series(("end" - n_tok) // 128,
                                    ("end" - 1) // 128)) AS seq_id
      FROM laid
    )
    SELECT seq_id, doc_id,
           greatest("start", seq_id * 128) - "start" AS doc_start,
           least("end", (seq_id + 1) * 128)
             - greatest("start", seq_id * 128) AS n_tok
    FROM spanned
    """,
    doc="GPT-style concat-and-chunk sequence packing (128-token "
    "sequences): the (seq_id, doc span) assignment map. Spark side uses "
    "a TWO-LEVEL prefix sum (per-shard window + broadcast shard offsets) "
    "— no single-partition global sort; the oracle's plain global cumsum "
    "proves the values identical.",
    tags=("trainmix",),
)
def q_pack_sequences(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.packing import (
        pack_sequences,
    )

    # shard_size 100 → many shards even on the small fixture, so the
    # two-level prefix sum is genuinely exercised
    return pack_sequences(
        table(spark, sf_dir, "documents"), seq_len=128, shard_size=100
    )


@register(
    "pack_sequences_pretokenized",
    """
    WITH laid AS (
      SELECT doc_id, n_tok,
             CAST(sum(n_tok) OVER (ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS "end"
      FROM (SELECT doc_id,
                   greatest(n_chars // 4 + 1, 1) AS n_tok
            FROM documents)
    ), spanned AS (
      SELECT doc_id, "end" - n_tok AS "start", "end",
             unnest(generate_series(("end" - n_tok) // 128,
                                    ("end" - 1) // 128)) AS seq_id
      FROM laid
    )
    SELECT seq_id, doc_id,
           greatest("start", seq_id * 128) - "start" AS doc_start,
           least("end", (seq_id + 1) * 128)
             - greatest("start", seq_id * 128) AS n_tok
    FROM spanned
    """,
    doc="Sequence packing from a PRECOMPUTED token-count column (the "
    "tokenizer hook): counts here are the deterministic BPE-ish proxy "
    "n_chars div 4 + 1, standing in for a real tokenizer's persisted "
    "counts; the text column is never scanned. Same two-level prefix "
    "sum as pack_sequences.",
    tags=("trainmix",),
)
def q_pack_sequences_pretokenized(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.packing import (
        pack_sequences,
    )

    d = table(spark, sf_dir, "documents").withColumn(
        "my_n_tok", F.expr("n_chars div 4 + 1").cast("long")
    )
    return pack_sequences(
        d, seq_len=128, shard_size=100, n_tok_col="my_n_tok"
    )


# Greedy longest-match (WordPiece / MaxMatch) token counting, SQL twin of
# text.with_token_counts: the recursive CTE walks each distinct word,
# taking the longest vocab piece at each position (a fixed-length prefix is
# unique, so no tiebreak is needed); a position with no match collapses the
# word to one [UNK]. Counting over DISTINCT words then joining back keeps
# the recursion linear in vocabulary-of-the-corpus, not corpus size —
# the same memoization the Spark kernel uses per batch.
_SQL_WP_VOCAB = ", ".join(f"'{p}'" for p in T.DEFAULT_WORDPIECE_VOCAB)
_SQL_WP_CTES = f"""
    vocab(piece) AS (SELECT unnest([{_SQL_WP_VOCAB}])),
    wp_words AS (
      SELECT doc_id, w AS word FROM (
        SELECT doc_id, unnest({_SQL_TOKS}) AS w FROM documents)
    ),
    wp_dw AS (SELECT DISTINCT word FROM wp_words),
    wp_step AS (
      SELECT word, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS n,
             FALSE AS unk
      FROM wp_dw
      UNION ALL
      SELECT s.word, s.pos + coalesce(len(m.piece), 0), s.n + 1,
             m.piece IS NULL
      FROM wp_step s LEFT JOIN LATERAL (
        SELECT piece FROM vocab v
        WHERE substr(s.word, CAST(s.pos AS INTEGER), len(v.piece)) = v.piece
        ORDER BY len(v.piece) DESC LIMIT 1
      ) m ON TRUE
      WHERE NOT s.unk AND s.pos <= len(s.word)
    ),
    wp_wc AS (
      SELECT word, CASE WHEN unk THEN 1 ELSE n END AS n_tok
      FROM wp_step WHERE unk OR pos > len(word)
    ),
    wp_counts AS (
      SELECT d.doc_id, CAST(coalesce(s.tot, 0) AS BIGINT) AS n_tok
      FROM documents d LEFT JOIN (
        SELECT w.doc_id, sum(c.n_tok) AS tot
        FROM wp_words w JOIN wp_wc c ON c.word = w.word
        GROUP BY w.doc_id) s ON s.doc_id = d.doc_id
    )
"""


@register(
    "wordpiece_counts",
    f"""
    WITH RECURSIVE {_SQL_WP_CTES}
    SELECT doc_id, n_tok FROM wp_counts
    """,
    doc="Real-tokenizer token counts: greedy longest-match (WordPiece / "
    "MaxMatch) against a broadcast vocabulary (full a-z alphabet + "
    "multi-char merges), one Arrow-batched pass, zero shuffle, word "
    "memo per batch. The value the n_tok_col hooks of pack_sequences / "
    "chunk_documents were built to consume. Oracle reproduces the "
    "greedy walk with a recursive CTE over distinct words.",
    tags=("text", "trainmix"),
)
def q_wordpiece_counts(spark, sf_dir):
    return T.with_token_counts(table(spark, sf_dir, "documents")).select(
        "doc_id", "n_tok"
    )


@register(
    "pack_sequences_wordpiece",
    f"""
    WITH RECURSIVE {_SQL_WP_CTES},
    laid AS (
      SELECT doc_id, n_tok,
             CAST(sum(n_tok) OVER (ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS "end"
      FROM (SELECT doc_id, greatest(n_tok, 1) AS n_tok FROM wp_counts)
    ), spanned AS (
      SELECT doc_id, "end" - n_tok AS "start", "end",
             unnest(generate_series(("end" - n_tok) // 128,
                                    ("end" - 1) // 128)) AS seq_id
      FROM laid
    )
    SELECT seq_id, doc_id,
           greatest("start", seq_id * 128) - "start" AS doc_start,
           least("end", (seq_id + 1) * 128)
             - greatest("start", seq_id * 128) AS n_tok
    FROM spanned
    """,
    doc="Sequence packing fed by the REAL tokenizer: "
    "with_token_counts (greedy longest-match, broadcast vocab) "
    "produces the per-doc counts in the same job, and pack_sequences "
    "consumes them through its n_tok_col hook — text is scanned once "
    "by the tokenizer pass and never again by the packer. Same "
    "two-level prefix sum as pack_sequences.",
    tags=("trainmix",),
)
def q_pack_sequences_wordpiece(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.packing import (
        pack_sequences,
    )

    d = T.with_token_counts(table(spark, sf_dir, "documents"))
    return pack_sequences(d, seq_len=128, shard_size=100, n_tok_col="n_tok")


@register(
    "chunk_documents",
    f"""
    WITH c AS (
      SELECT doc_id, greatest(len({_SQL_TOKS}), 1) AS n FROM documents
    ), ch AS (
      SELECT doc_id, n,
             unnest(generate_series(
               0, greatest((n - 1 - 16) // 48, 0))) AS chunk_id
      FROM c
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(chunk_id * 48 AS BIGINT) AS chunk_start,
           CAST(least(n, chunk_id * 48 + 64)
                - chunk_id * 48 AS BIGINT) AS n_tok
    FROM ch
    """,
    doc="Overlapping document chunking (64-token windows, 16-token "
    "overlap, stride 48) — the long-context windowing op for "
    "chunk-for-embedding / sliding-window eval. Pure per-row integer "
    "math + one explode: zero shuffles, zero joins, output linear in "
    "corpus tokens. Same precomputed-count hook as pack_sequences.",
    tags=("trainmix", "chunking"),
)
def q_chunk_documents(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.packing import (
        chunk_documents,
    )

    return chunk_documents(
        table(spark, sf_dir, "documents"), max_tokens=64, overlap=16
    )


_SAMPLE_RATES = {"en": 0.8, "de": 0.5, "fr": 0.25, "zh": 0.1}


@register(
    "stratified_sample",
    f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE ({sql_hash32("CAST(doc_id AS VARCHAR)", seed=1)} % 10000) <
          CASE {"".join(
              f"WHEN lang = '{lang}' THEN {round(rate * 10000)} "
              for lang, rate in sorted(_SAMPLE_RATES.items()))}
          ELSE 0 END
    """,
    doc="Deterministic per-language Bernoulli sample (mixture weights "
    "en .8 / de .5 / fr .25 / zh .1) keyed on hash32(seed:id) — same "
    "selection on any engine/partitioning; pure pushed-down filter, no "
    "shuffle.",
    tags=("trainmix",),
)
def q_stratified_sample(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.sampling import (
        stratified_sample,
    )

    d = table(spark, sf_dir, "documents")
    return stratified_sample(d, _SAMPLE_RATES, seed=1).select(
        "doc_id", "lang", "source"
    )


@register(
    "rank_sample",
    f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY ({sql_hash32("CAST(doc_id AS VARCHAR)", seed=1)}
                         % 10000), doc_id) AS rk
      FROM documents)
    WHERE rk <= 25
    """,
    doc="Exactly-25-per-language deterministic sample without "
    "replacement: rank by the portable hash within each stratum "
    "(hash-then-id total order), keep the top 25.",
    tags=("trainmix",),
)
def q_rank_sample(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.sampling import rank_sample

    d = table(spark, sf_dir, "documents")
    return rank_sample(d, k=25, seed=1).select("doc_id", "lang")


@register(
    "hash_split_docs",
    f"""
    SELECT doc_id, lang, source,
           CASE
             WHEN ({sql_hash32("CAST(doc_id AS VARCHAR)", seed=7)}
                   % 10000) < 500 THEN 'test'
             WHEN ({sql_hash32("CAST(doc_id AS VARCHAR)", seed=7)}
                   % 10000) < 9500 THEN 'train'
             ELSE 'val'
           END AS split
    FROM documents
    """,
    doc="Deterministic train/val/test assignment (90/5/5) keyed on "
    "hash32(seed:doc_id) — every training pipeline's first partitioning "
    "decision, made a pure function of (seed, id) so the same document "
    "lands in the same split on any engine, any day, and adding more "
    "data later never moves an existing document across splits "
    "(leakage-free evals). Zero shuffle: a per-row CASE inside the "
    "scan's codegen.",
    tags=("trainmix",),
)
def q_hash_split_docs(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.sampling import hash_split

    return hash_split(
        table(spark, sf_dir, "documents"),
        {"train": 0.90, "val": 0.05, "test": 0.05},
        seed=7,
    ).select("doc_id", "lang", "source", "split")


# DSIR (Xie et al. arXiv:2302.03169) hashed-feature machinery, SQL twin
# of sampling._dsir_feature_stream: unigrams + space-joined bigrams, each
# hashed into 10k buckets via the portable hash32. The raw side is the
# whole documents corpus; the target is the lang='en' slice (select raw
# docs that look like the trusted target distribution).
_SQL_DSIR_FEATS = f"""
      SELECT doc_id, ({_SQL_HASH.format(x='g')} % 10000) AS b FROM (
        SELECT doc_id, unnest(list_filter(arr, w -> w != '')) AS g
        FROM {{d}}
        UNION ALL
        SELECT doc_id, arr[i] || ' ' || arr[i + 1] AS g
        FROM {{d}}, UNNEST(range(1, len(arr))) AS t(i)
        WHERE arr[i] != '' AND arr[i + 1] != ''
      )
"""

_SQL_DSIR_CORE = f"""
    WITH rdocs AS (
      SELECT doc_id, {_SQL_TOKS} AS arr FROM documents
      WHERE doc_id IS NOT NULL
    ), tdocs AS (
      SELECT doc_id, {_SQL_TOKS} AS arr FROM documents
      WHERE doc_id IS NOT NULL AND lang = 'en'
    ), rfeats AS ({_SQL_DSIR_FEATS.format(d='rdocs')}
    ), tfeats AS ({_SQL_DSIR_FEATS.format(d='tdocs')}
    ), dcnt AS (
      SELECT doc_id, b, count(*) AS m FROM rfeats GROUP BY 1, 2
    ), qcnt AS (
      SELECT b, CAST(sum(m) AS BIGINT) AS q FROM dcnt GROUP BY 1
    ), qt AS (
      SELECT CAST(sum(q) AS BIGINT) AS qt FROM qcnt
    ), pcnt AS (
      SELECT b, count(*) AS p FROM tfeats GROUP BY 1
    ), pt AS (
      SELECT count(*) AS pt FROM tfeats
    ), lam AS (
      SELECT b,
             CAST(round(ln((coalesce(p, 0) + 1.0) / (pt + 10000))
                        - ln((q + 1.0) / (qt + 10000)), 9)
                  AS DECIMAL(18,9)) AS lam
      FROM qcnt LEFT JOIN pcnt USING (b) CROSS JOIN pt CROSS JOIN qt
    ), w AS (
      SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_feats,
             CAST(sum(lam * m) AS DECIMAL(28,9)) AS lw
      FROM dcnt JOIN lam USING (b) GROUP BY doc_id
    )
"""


@register(
    "dsir_weights",
    f"""{_SQL_DSIR_CORE}
    SELECT doc_id, n_feats, CAST(lw AS DOUBLE) AS log_weight FROM w
    """,
    doc="DSIR importance weights (sampling.py::dsir_log_weights, Xie et "
    "al. arXiv:2302.03169): per-doc log w = sum_b c_b*(ln p_target[b] - "
    "ln p_raw[b]) over hashed unigram+bigram buckets, add-one smoothed; "
    "target = the lang='en' slice. Raw corpus featurized ONCE (per-doc "
    "counts; the corpus histogram derives from them via exchange "
    "reuse); the <=10k-row model BROADCASTS, so nothing corpus-sized "
    "reshuffles after the one count exchange. Exact decimal per-doc "
    "sums (9-dp pre-rounded log-ratios) — the bigram_lm discipline.",
    tags=("trainmix", "text"),
)
def q_dsir_weights(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.sampling import (
        dsir_log_weights,
    )

    d = table(spark, sf_dir, "documents")
    return dsir_log_weights(d, d.filter(F.col("lang") == "en"))


@register(
    "dsir_resample",
    f"""{_SQL_DSIR_CORE}
    SELECT doc_id, n_feats, CAST(lw AS DOUBLE) AS log_weight,
           CAST(gkey AS DOUBLE) AS gumbel_key
    FROM (
      SELECT doc_id, n_feats, lw,
             lw + CAST(round(-ln(-ln(
                 (({sql_hash32("CAST(doc_id AS VARCHAR)", seed=1)}) + 0.5)
                 / 4294967296.0)), 9) AS DECIMAL(18,9)) AS gkey
      FROM w)
    ORDER BY gkey DESC, doc_id
    LIMIT 100
    """,
    doc="DSIR selection (sampling.py::dsir_resample): sample-without-"
    "replacement proportional to importance weight via the Gumbel-max "
    "trick — key = log w + Gumbel(u), u a pure function of (seed, id), "
    "top-100 selected. Both addends are 9-dp decimals so the SORT KEY "
    "is exact decimal arithmetic (engines cannot disagree on order "
    "except true ties, broken by id), and the top-k lowers to "
    "TakeOrderedAndProject — per-partition heaps, never a global sort "
    "or single-partition window.",
    tags=("trainmix", "text"),
)
def q_dsir_resample(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.sampling import (
        dsir_resample,
    )

    d = table(spark, sf_dir, "documents")
    return dsir_resample(d, d.filter(F.col("lang") == "en"), k=100)


# Hashed-n-gram Naive-Bayes classifier (operators/classify.py): the
# oracle replicates the fit (per-(class, bucket) add-one-smoothed
# log-likelihoods + log priors over the hash_split seed-7 'train'
# slice) and the predict (exact-decimal per-class scores, argmax with
# smallest-label tie-break, runner-up margin). Shares the DSIR feature
# CTE — same unigram+bigram hash32 buckets.
_SQL_NB_FEATS = _SQL_DSIR_FEATS


@register(
    "nb_classify_lang",
    f"""
    WITH docs AS (
      SELECT doc_id, lang, {_SQL_TOKS} AS arr FROM documents
      WHERE doc_id IS NOT NULL
    ), train AS (
      SELECT * FROM docs
      WHERE lang IS NOT NULL
        AND ({sql_hash32("CAST(doc_id AS VARCHAR)", seed=7)}
             % 10000) BETWEEN 500 AND 9499
    ), tfeats AS ({_SQL_NB_FEATS.format(d='train')}
    ), hist AS (
      SELECT t.lang, f.b, count(*) AS m
      FROM tfeats f JOIN (SELECT doc_id, lang FROM train) t
        USING (doc_id)
      GROUP BY 1, 2
    ), totc AS (
      SELECT lang, CAST(sum(m) AS BIGINT) AS tc FROM hist GROUP BY 1
    ), pr AS (
      SELECT lang, count(*) AS ndc FROM train GROUP BY 1
    ), nn AS (
      SELECT CAST(sum(ndc) AS BIGINT) AS nd FROM pr
    ), classes AS (
      SELECT p.lang,
             CAST(round(ln((0 + 1.0) / (coalesce(t.tc, 0) + 10000)), 9)
                  AS DECIMAL(18,9)) AS w0,
             CAST(round(ln(CAST(p.ndc AS DOUBLE) / nd), 9)
                  AS DECIMAL(18,9)) AS prior
      FROM pr p LEFT JOIN totc t USING (lang) CROSS JOIN nn
    ), weights AS (
      SELECT h.lang, h.b,
             CAST(round(ln((h.m + 1.0) / (t.tc + 10000)), 9)
                  AS DECIMAL(18,9)) AS w
      FROM hist h JOIN totc t USING (lang)
    ), afeats AS ({_SQL_NB_FEATS.format(d='docs')}
    ), dcnt AS (
      SELECT doc_id, b, count(*) AS m FROM afeats GROUP BY 1, 2
    ), scores AS (
      SELECT d.doc_id, c.lang,
             CAST(sum(d.m) AS BIGINT) AS n_feats,
             CAST(sum(CAST(d.m AS DECIMAL(10,0)) * coalesce(w.w, c.w0))
                  AS DECIMAL(28,9)) + c.prior AS score
      FROM dcnt d
      CROSS JOIN classes c
      LEFT JOIN weights w ON w.lang = c.lang AND w.b = d.b
      GROUP BY d.doc_id, c.lang, c.prior
    ), ranked AS (
      SELECT doc_id, n_feats, lang, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang) AS rn,
             lead(score) OVER (PARTITION BY doc_id
                               ORDER BY score DESC, lang) AS second
      FROM scores
    )
    SELECT doc_id, n_feats, lang AS label,
           CAST(score AS DOUBLE) AS score,
           CAST(score - second AS DOUBLE) AS margin
    FROM ranked WHERE rn = 1
    """,
    doc="Hashed-n-gram Naive-Bayes language classifier (operators/"
    "classify.py, Joulin et al. arXiv:1607.01759 made engine-native): "
    "fit nb_model on the hash_split seed-7 'train' slice with lang "
    "labels, nb_predict over the whole corpus — per-doc exact-decimal "
    "class scores (prior + sum of 9-dp-pre-rounded log-likelihoods, "
    "unseen buckets scoring the class's smoothing weight), argmax with "
    "smallest-label tie-break, runner-up margin. The fastText-style "
    "domain/lang/quality gate as a first-class operator. Scale shape: "
    "ONE corpus featurize scan; the model re-enters as a broadcast "
    "bucket -> map<class, weight> LocalRelation (<= n_buckets rows) "
    "joined straight onto the gram stream, all K class sums ride one "
    "groupBy(doc) whose map-side combine collapses grams to doc "
    "partials BEFORE the exchange, and the argmax window reuses that "
    "partitioning — ONE shuffle exchange total, moving docs x K "
    "decimals, never gram instances.",
    tags=("trainmix", "text"),
)
def q_nb_classify_lang(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.classify import (
        nb_model,
        nb_predict,
    )
    from polymarket_data_ingestor_spark.operators.sampling import hash_split

    d = table(spark, sf_dir, "documents")
    train = hash_split(
        d, {"train": 0.90, "val": 0.05, "test": 0.05}, seed=7
    ).filter(F.col("split") == "train")
    return nb_predict(d, nb_model(train, label_col="lang"))


@register(
    "vocab_stats",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
    ), counts AS (
      SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
      FROM toks WHERE term != '' GROUP BY term
    )
    SELECT term, tf, df,
           round(ln((CAST(1 AS DOUBLE)
                     + (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE)
                        FROM documents))
                    / (df + 1)) + 1.0, 6) AS idf
    FROM counts WHERE df >= 2
    """,
    doc="Corpus vocabulary with tf/df/smoothed-idf (the tokenizer-"
    "training primitive): one explode + one term-keyed groupBy with "
    "map-side partials; corpus size N is an in-plan broadcast 1-row "
    "aggregate, never a driver action.",
    tags=("text", "trainmix"),
)
def q_vocab_stats(spark, sf_dir):
    return T.vocabulary(table(spark, sf_dir, "documents"), min_df=2)


@register(
    "inverted_index",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
    )
    SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df,
           array_to_string(
             list_slice(list_sort(list(DISTINCT doc_id)), 1, 1000), '|')
             AS postings
    FROM toks WHERE term != ''
    GROUP BY term HAVING count(DISTINCT doc_id) >= 2
    """,
    doc="Inverted index — per-term df / tf / sorted truncated posting "
    "list (operators/text.py::inverted_index), the retrieval primitive "
    "over a curated corpus. One explode + ONE term-keyed aggregate: "
    "collect_set merges map-side, so stopword postings accumulate "
    "across map tasks in one exchange (a per-(term,doc) pre-rollup "
    "would cost two — hash(term,doc) does not co-locate a term). "
    "Postings are sort_array'd before the truncation (deterministic; "
    "set order is not); df/tf stay exact on the full set. At 100 TB "
    "drop ultra-high-df terms first via a vocabulary pass + broadcast "
    "stoplist, or keep the flat skew-free (term, doc_id, tf) posting "
    "table — the array form is for the post-filter vocabulary. "
    "Catalog convention: the driver's canonicalizer cannot hash "
    "complex-typed columns, so the WRAPPER serializes the sorted "
    "posting array to a '|'-joined string (order-preserving, so still "
    "element-exact); the operator API stays array-native.",
    tags=("text", "search"),
)
def q_inverted_index(spark, sf_dir):
    out = T.inverted_index(
        table(spark, sf_dir, "documents"), min_df=2, max_postings=1000
    )
    return out.withColumn(
        "postings",
        F.concat_ws(
            "|", F.transform("postings", lambda x: x.cast("string"))
        ),
    )


@register(
    "bm25_search",
    f"""
    WITH tk AS (
      SELECT doc_id,
             list_filter({_SQL_TOKS}, t -> t != '') AS arr
      FROM documents
    ), meta AS (
      SELECT count(DISTINCT doc_id) AS n, sum(len(arr)) AS dl_sum FROM tk
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf, min(dl) AS dl FROM (
        SELECT doc_id, unnest(arr) AS term, len(arr) AS dl FROM tk
      ) WHERE term IN ('query', 'window', 'scan')
      GROUP BY doc_id, term
    ), dfs AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id,
             round(sum(
               ln(1.0 + (meta.n - dfs.df + 0.5) / (dfs.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl
                                 / (CAST(meta.dl_sum AS DOUBLE) / meta.n)))
             ), 6) AS score,
             count(*) AS n_matched_terms
      FROM tf, dfs, meta WHERE tf.term = dfs.term
      GROUP BY tf.doc_id
    )
    SELECT doc_id, score, n_matched_terms FROM scored
    QUALIFY row_number() OVER (ORDER BY score DESC, doc_id) <= 50
    """,
    doc="BM25 ranked retrieval (operators/text.py::bm25_scores): top-50 "
    "documents for a 3-term query, the classic Okapi scorer completing "
    "the inverted_index retrieval tier. tf/df/dl/N are exact integers; "
    "avgdl is one double division; scores round to 6 dp and rank by "
    "(score desc, doc_id) — a total order, same ln-to-6dp convention "
    "as the tf-idf entries. Scale shape: one corpus scan with dl "
    "computed in-scan and non-query tokens dropped before aggregation, "
    "so the only corpus-sized shuffle input is the MATCH set; df/N/"
    "avgdl ride as broadcast aggregates; top-n is "
    "TakeOrderedAndProject (plan-gated — no global sort, no single-"
    "partition window).",
    tags=("text", "search"),
)
def q_bm25_search(spark, sf_dir):
    return T.bm25_scores(
        table(spark, sf_dir, "documents"),
        ("query", "window", "scan"),
        top_n=50,
    )


@register(
    "temperature_sample_docs",
    f"""
    WITH c AS (
      SELECT source, count(*) AS n FROM documents GROUP BY 1
    ), t AS (
      SELECT CAST(sum(n) AS BIGINT) AS grand,
             CAST(sum(CAST(floor(pow(CAST(n AS DOUBLE), 0.5) * 1e6)
                           AS BIGINT)) AS BIGINT) AS wm
      FROM c
    ), r AS (
      SELECT source,
             CAST(least(10000, floor(
               0.5 * grand / (CAST(wm AS DOUBLE) / 1e6)
               * pow(CAST(n AS DOUBLE), -0.5) * 10000)) AS INT) AS rate
      FROM c, t
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN r USING (source)
    WHERE {sql_hash32('d.doc_id', seed=3)} % 10000 < r.rate
    """,
    doc="Temperature (alpha) mixture sampling, τ=2, 50% target "
    "(operators/sampling.py::temperature_sample) — the mT5/XLM-R "
    "head-source rebalancing trick as a deterministic operator: keep "
    "probability per source ∝ n_s^(1/τ−1), resolved to integer "
    "permyriad and applied via the portable hash32 rule, so the "
    "selected set is a pure function of (data, τ, fraction, seed). "
    "Each pow is floor-quantized to 1e-6 before the cross-strata sum "
    "(order-independent exact integer sum). Scale shape: a #strata-row "
    "rollup + ONE broadcast join; the corpus never shuffles.",
    tags=("trainmix",),
)
def q_temperature_sample_docs(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.sampling import (
        temperature_sample,
    )

    return temperature_sample(
        table(spark, sf_dir, "documents"),
        temperature=2.0,
        target_fraction=0.5,
        stratum_col="source",
        seed=3,
    ).select("doc_id", "lang", "source")


@register(
    "source_token_drift",
    f"""
    WITH toks AS (
      SELECT source, unnest({_SQL_TOKS}) AS term FROM documents
    ), st AS (
      SELECT source, term, count(*) AS c_st
      FROM toks WHERE term != '' GROUP BY 1, 2
    ), corpus AS (
      SELECT term, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1
    ), totals AS (
      SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY 1
    ), grand AS (
      SELECT CAST(sum(c_t) AS BIGINT) AS N FROM corpus
    )
    SELECT st.source,
           round(CAST(sum(CAST(floor(
             (CAST(c_st AS DOUBLE) / CAST(n_s AS DOUBLE))
             * ln((CAST(c_st AS DOUBLE) * CAST(N AS DOUBLE))
                  / (CAST(n_s AS DOUBLE) * CAST(c_t AS DOUBLE)))
             * 1e12) AS BIGINT)) AS DOUBLE) / 1e12, 6) AS kl_vs_corpus,
           count(*) AS n_terms,
           min(n_s) AS n_tokens
    FROM st JOIN corpus USING (term) JOIN totals USING (source), grand
    GROUP BY st.source
    """,
    doc="Per-source unigram KL divergence vs the whole corpus "
    "(operators/text.py::source_token_drift) — the curation dashboard "
    "number that flags WHICH source is lexically unlike the rest "
    "before training. No smoothing needed (corpus ⊇ source → q>0 "
    "wherever p>0; Gibbs ⇒ KL ≥ 0). Each term's p·ln(p/q) is floor-"
    "quantized to 1e-12 and summed as exact integer decimals (order-"
    "independent; a raw double sum would expose engine "
    "re-association), one rescale+round(6) at the edge. Scale shape: "
    "the token stream explodes EXACTLY ONCE (plan-gated): c_t and n_s "
    "are window sums over the (stratum, term) rollup — vocabulary-"
    "granularity exchanges, no self-join re-deriving the explode — and "
    "the grand total is a doc-level size() scan broadcast as one row; "
    "#strata-row final sum.",
    tags=("text", "trainmix", "monitoring"),
)
def q_source_token_drift(spark, sf_dir):
    return T.source_token_drift(table(spark, sf_dir, "documents"))


@register(
    "term_pmi_pairs",
    f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, term FROM (
        SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
      ) WHERE term != ''
    ), tc AS (
      SELECT term, count(*) AS n_t FROM dt GROUP BY 1
    ), nd AS (
      SELECT count(DISTINCT doc_id) AS n_docs FROM documents
    ), pairs AS (
      SELECT a.term AS ta, b.term AS tb, count(*) AS n_ab
      FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY 1, 2 HAVING count(*) >= 5
    )
    SELECT ta, tb, n_ab,
           round(ln((CAST(n_docs AS DOUBLE) * CAST(n_ab AS DOUBLE))
                    / (CAST(ca.n_t AS DOUBLE) * CAST(cb.n_t AS DOUBLE))),
                 6) AS pmi
    FROM pairs JOIN tc ca ON pairs.ta = ca.term
               JOIN tc cb ON pairs.tb = cb.term, nd
    QUALIFY row_number() OVER (ORDER BY pmi DESC, ta, tb) <= 100
    """,
    doc="Document-level PMI between term pairs "
    "(operators/text.py::term_pmi_pairs) — the collocation/association "
    "primitive: ln(N·n_ab/(n_a·n_b)) over document-presence counts, "
    "top-100 by (round-6 pmi desc, a, b). Scale shape: two corpus "
    "scans by necessity (marginals aren't derivable from a capped pair "
    "table): a vocabulary pass broadcast back, and a pair pass that "
    "generates each doc's sorted-distinct pairs IN THE SCAN via nested "
    "array transform — no doc_id self-join (which would shuffle tokens "
    "twice and explode skewed docs quadratically across a join); "
    "map-side-combined pair rollup, TakeOrderedAndProject top-k. The "
    "oracle's dt-self-join is the semantic twin, not the plan twin. "
    "Vocabulary restriction is on by default: min_df=min_pair_docs "
    "drops sub-threshold terms from the array BEFORE pair generation "
    "— provably output-identical (n_ab <= min(n_a, n_b), so every "
    "surviving pair's marginals already clear min_pair_docs) while "
    "the Zipfian hapax tail never enters the Σk_d² quadratic; "
    "max_vocab bounds the quadratic and the marginals broadcast "
    "when even the restricted vocabulary is web-scale. The oracle "
    "needs no restriction clause BECAUSE the default is the "
    "identity-preserving one (pinned by test).",
    tags=("text", "search"),
)
def q_term_pmi_pairs(spark, sf_dir):
    return T.term_pmi_pairs(
        table(spark, sf_dir, "documents"), min_pair_docs=5, top_k=100
    )


@register(
    "doc_shards",
    f"""
    WITH h AS (
      SELECT doc_id, {sql_hash32('doc_id', seed=2)} AS hh FROM documents
    )
    SELECT doc_id, CAST(hh % 8 AS INT) AS shard,
           row_number() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id) - 1
             AS pos
    FROM h
    """,
    doc="Deterministic corpus shuffle for training "
    "(operators/sampling.py::shard_and_order): every row gets a shard "
    "(hash32 % n) and a position within it ordered by (hash, id) — the "
    "global-shuffle-before-sharding step every pretraining run needs, "
    "reproducible on any engine/partitioning/day; shard assignment is "
    "row-local (adding data never moves a row's shard, like "
    "hash_split). Scale shape: one exchange on the shard id + a "
    "per-shard sort; deliberately NO corpus-wide position (that would "
    "force a single-partition window or a global range sort — loaders "
    "consume shard-local order anyway).",
    tags=("trainmix",),
)
def q_doc_shards(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.sampling import (
        shard_and_order,
    )

    return shard_and_order(
        table(spark, sf_dir, "documents"), n_shards=8, seed=2
    ).select("doc_id", "shard", "pos")


@register(
    "price_outliers",
    """
    WITH c AS (
      SELECT l_orderkey, l_linenumber, l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM lineitem
    ), q AS (
      SELECT l_returnflag, quantile_cont(cents, 0.25) AS q1,
             quantile_cont(cents, 0.75) AS q3
      FROM c GROUP BY 1
    )
    SELECT c.l_orderkey, c.l_linenumber, c.l_returnflag, c.cents,
           (10 * c.cents < 10 * q1 - 5 * (q3 - q1))
           OR (10 * c.cents > 10 * q3 + 5 * (q3 - q1)) AS is_outlier
    FROM c JOIN q USING (l_returnflag)
    """,
    doc="Per-returnflag Tukey-fence outlier flags on integer "
    "price cents (operators/analytics.py::iqr_outliers) — the robust "
    "per-group companion to rolling_zscore. Engine-exact: quantiles of "
    "integers interpolate to exact binary quarters in both engines, "
    "and the fence arithmetic (×10, integer k_tenths) stays in exactly-"
    "representable doubles, so the boundary comparison can never flip "
    "by an ulp. Scale shape: one map-side-combined percentile rollup "
    "to #strata rows broadcast back; the flag is a per-row comparison "
    "in the scan stage — the big table never re-shuffles. The entry "
    "uses k=0.5 (not the classic 1.5 default) so the oracle pins REAL "
    "detections on the near-uniform synthetic prices, where a 1.5 "
    "fence flags nothing; pytest covers the default on planted "
    "outliers.",
    tags=("agg", "monitoring"),
)
def q_price_outliers(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.analytics import (
        iqr_outliers,
    )

    # Widened like winsorized_prices/robust_price_stats (exact
    # percentile bounds are partition-invariant; identity at scale);
    # the GK twin below stays narrow — sketch merge order must stay
    # fixed for core-count-reproducible output.
    c = spread_scan(
        table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        ),
        f"{sf_dir}/lineitem.parquet",
    )
    return iqr_outliers(c, "cents", "l_returnflag", k_tenths=5)


def _price_cents(spark, sf_dir, *extra):
    return table(spark, sf_dir, "lineitem").select(
        *extra,
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )


@register(
    "winsorized_prices_approx",
    None,  # GK-sketch bound selection is engine-specific → rows-only
    doc="Sketch twin of winsorized_prices: clip bounds from the "
    "Greenwald-Khanna sketch (percentile_approx, accuracy 10000) "
    "instead of the exact global percentile "
    "(operators/analytics.py::winsorize approx_accuracy path) — the "
    "100 TB form, where the exact aggregate's full value buffer is "
    "unpayable but a constant-memory mergeable sketch is one cheap "
    "pass. At most ~2·n/accuracy edge rows clip differently from the "
    "exact run; pytest pins the bounds within rank error and the "
    "mismatch-row count under that cap. EXACTNESS tier 3.",
    tags=("agg", "sketch", "trainmix"),
)
def q_winsorized_prices_approx(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.analytics import winsorize

    c = _price_cents(spark, sf_dir, "l_orderkey", "l_linenumber")
    return winsorize(c, "cents", 0.05, 0.95, approx_accuracy=10000)


@register(
    "price_outliers_approx",
    None,  # GK-sketch fence quantiles are engine-specific → rows-only
    doc="Sketch twin of price_outliers: Tukey fences from "
    "percentile_approx (accuracy 10000) per stratum "
    "(operators/analytics.py::iqr_outliers approx_accuracy path). A "
    "flag can differ from the exact run only for values inside the "
    "fences' rank-error band — pytest pins flag agreement outside it. "
    "Same broadcast-rollup + scan-stage-comparison plan as the exact "
    "form; the sketch makes the rollup constant-memory. EXACTNESS "
    "tier 3.",
    tags=("agg", "sketch", "monitoring"),
)
def q_price_outliers_approx(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.analytics import (
        iqr_outliers,
    )

    c = _price_cents(spark, sf_dir, "l_orderkey", "l_linenumber")
    return iqr_outliers(
        c, "cents", "l_returnflag", k_tenths=5, approx_accuracy=10000
    )


@register(
    "robust_price_stats_approx",
    None,  # GK-sketch medians are engine-specific → rows-only
    doc="Sketch twin of robust_price_stats: per-stratum median and MAD "
    "via percentile_approx (accuracy 10000) "
    "(operators/analytics.py::robust_stats approx_accuracy path) — "
    "same two-pass broadcast shape, constant aggregation memory. A "
    "sketch median is a real data value at a rank within n/accuracy "
    "of the true median; pytest pins both estimates inside the rank-"
    "error band of their exact twins. EXACTNESS tier 3.",
    tags=("agg", "sketch", "monitoring"),
)
def q_robust_price_stats_approx(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.analytics import (
        robust_stats,
    )

    c = _price_cents(spark, sf_dir)
    return robust_stats(c, "cents", "l_returnflag", approx_accuracy=10000)


def _pagerank_oracle_sql(n_iter: int = 8) -> str:
    """DuckDB replay of ``pagerank``'s exact decimal rounding ladder in
    HUGEINT (int128) fixed-point at scale 18 — the r11 verdict's
    iteration-unrolled-CTE trick (the loop has a FIXED iteration
    count, so the 'driver-held state' objection dissolves: unroll it).
    Per iteration (probed Spark result types, operators/analytics.py::
    pagerank docstring): contribution = half_up(rank/deg) at scale 18
    via the integer identity (2a+b)//(2b); exact HUGEINT sum; the
    damping product rounds half-up at scale 15 (Spark's DECIMAL(38)
    precision-loss adjustment), the base+ addition at scale 14, then
    the scale-18 pad-back. All values positive, so floor-based
    half-up identities hold throughout."""
    S = 10 ** 18           # scale-18 fixed point
    D = 85 * 10 ** 16      # damping 0.85 at scale 18
    P21 = 10 ** 21         # product scale 36 → 15: divide by 10^21
    parts = [f"""
    WITH e AS (
      SELECT DISTINCT u, v FROM (
        SELECT 'p:' || l_partkey AS u, 's:' || l_suppkey AS v
        FROM lineitem
        UNION ALL
        SELECT 's:' || l_suppkey AS u, 'p:' || l_partkey AS v
        FROM lineitem
      ) WHERE u <> v
    ),
    deg AS (SELECT u, CAST(COUNT(*) AS HUGEINT) AS dg FROM e GROUP BY u),
    nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM deg),
    base AS (
      SELECT (2*(CAST({S} AS HUGEINT) - {D}) + n) // (2*n) AS b FROM nn
    ),
    r0 AS (
      SELECT d.u, d.dg, (2*CAST({S} AS HUGEINT) + nn.n) // (2*nn.n) AS rk
      FROM deg d CROSS JOIN nn
    )"""]
    for i in range(1, n_iter + 1):
        parts.append(f""",
    s{i} AS (
      SELECT e.v AS u, SUM((2*r.rk + r.dg) // (2*r.dg)) AS sm
      FROM r{i - 1} r JOIN e ON e.u = r.u
      GROUP BY e.v
    ),
    r{i} AS (
      SELECT s.u, d.dg,
             ((2*(b.b + 1000*((2*CAST({D} AS HUGEINT)*s.sm + {P21})
                              // (2*{P21}))) + 10000) // 20000) * 10000
             AS rk
      FROM s{i} s JOIN deg d ON d.u = s.u CROSS JOIN base b
    )""")
    parts.append(f"""
    SELECT u AS node, CAST(rk AS BIGINT) AS rank_fp FROM r{n_iter}
    """)
    return "".join(parts)


@register(
    "part_supplier_pagerank",
    _pagerank_oracle_sql(8),
    doc="Deterministic PageRank (operators/analytics.py::pagerank) "
    "over the bipartite part↔supplier graph from lineitem (nodes "
    "prefixed 'p:'/'s:'), 8 rounds at damping 0.85. Rank arithmetic "
    "is decimal(38,18) end to end — decimal division + order-"
    "independent decimal sums — so the result is bit-identical under "
    "any partitioning (pinned in pytest: repartition(7) == "
    "coalesce(1) exactly, plus float-model parity on a hand graph). "
    "The per-iteration join+sum is the Pregel-on-DataFrames loop with "
    "localCheckpoint lineage flattening; driver state is one scalar "
    "N, like dup_components' convergence check. ORACLE-PAIRED since "
    "r12: the fixed iteration count unrolls into chained DuckDB CTEs "
    "replaying the exact rounding ladder in HUGEINT fixed-point "
    "(_pagerank_oracle_sql); the entry emits the rank's UNSCALED "
    "scale-18 value as rank_fp (bigint — rank = rank_fp·1e-18) so the "
    "compare is integer-hash-exact with no engine decimal/float "
    "conversion in the loop.",
    tags=("graph",),
)
def q_part_supplier_pagerank(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.analytics import pagerank

    li = table(spark, sf_dir, "lineitem").select(
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
    )
    # unscale: rank is a multiple of 1e-18 by construction, so the
    # (38,6)-typed product is an exact integer and the LONG cast is
    # lossless — bigint compare, no decimal→pandas conversion hazards
    return pagerank(li, n_iter=8).select(
        "node",
        F.expr(
            "CAST(rank * CAST(1000000000000000000 AS DECIMAL(19,0)) "
            "AS LONG)"
        ).alias("rank_fp"),
    )


@register(
    "doc_canonical",
    r"""
    SELECT doc_id,
           md5(trim(regexp_replace(
                 regexp_replace(lower(text), '[^a-z0-9\s]+', '', 'g'),
                 '\s+', ' ', 'g'))) AS canon_md5,
           length(trim(regexp_replace(
                 regexp_replace(lower(text), '[^a-z0-9\s]+', '', 'g'),
                 '\s+', ' ', 'g'))) AS canon_len
    FROM documents
    """,
    doc="Canonical text normalization (operators/text.py::canonicalize) "
    "— the standard pre-dedup transform (lowercase, strip to "
    "[a-z0-9]+space, collapse whitespace) whose output feeds "
    "exact_dedup to catch case/punctuation/spacing near-dups. The "
    "oracle pins the md5 of every canonical form: one divergent CHAR "
    "of normalization in either engine flips the hash, so this entry "
    "is a character-level parity gate on the whole regex pipeline "
    "(ASCII-deliberate — Unicode case folding is engine/ICU-version "
    "dependent, and a canonical form must above all be stable). Zero "
    "shuffle; pure Catalyst regex in the scan's codegen.",
    tags=("text", "dedup"),
)
def q_doc_canonical(spark, sf_dir):
    c = T.canonicalize(table(spark, sf_dir, "documents"))
    return c.select(
        "doc_id",
        F.md5("canonical").alias("canon_md5"),
        F.length("canonical").cast("long").alias("canon_len"),
    )


@register(
    "doc_tfidf_topk",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
    ), doc_tf AS (
      SELECT doc_id, term, count(*) AS doc_tf
      FROM toks WHERE term != '' GROUP BY doc_id, term
    ), vocab AS (
      SELECT term,
             ln((CAST(1 AS DOUBLE)
                 + (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE)
                    FROM documents))
                / (count(DISTINCT doc_id) + 1)) + 1.0 AS idf
      FROM toks WHERE term != '' GROUP BY term
    )
    SELECT doc_id, term, doc_tf, tfidf, rank FROM (
      SELECT d.doc_id, d.term, d.doc_tf,
             round(d.doc_tf * v.idf, 6) AS tfidf,
             row_number() OVER (
               PARTITION BY d.doc_id
               ORDER BY d.doc_tf * v.idf DESC, d.term) AS rank
      FROM doc_tf d JOIN vocab v ON d.term = v.term)
    WHERE rank <= 3
    """,
    doc="Top-3 TF-IDF terms per document (keyword extraction): per-doc "
    "term counts joined to the corpus vocabulary's smoothed idf, ranked "
    "with a total tie-break.",
    tags=("text", "trainmix"),
)
def q_doc_tfidf_topk(spark, sf_dir):
    return T.doc_tfidf_topk(table(spark, sf_dir, "documents"), k=3)


@register(
    "curation_pipeline",
    f"""
    WITH scored AS (
      SELECT doc_id, lang, text,
             round(least(n_tok / 64.0, 1.0) * 0.25
                   + (n_uniq / n_tok) * 0.5
                   + (1.0 - (n_chars - n_alnum) / n_chars) * 0.25, 6)
               AS quality
      FROM (
        SELECT doc_id, lang, text,
               CAST(len(toks) AS DOUBLE) AS n_tok,
               CAST(len(list_distinct(toks)) AS DOUBLE) AS n_uniq,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
                    AS DOUBLE) AS n_alnum
        FROM (SELECT doc_id, lang, text, {_SQL_TOKS} AS toks
              FROM documents))
    ), quality_kept AS (
      SELECT * FROM scored WHERE quality >= 0.5
    ), deduped AS (
      SELECT * FROM quality_kept WHERE doc_id IN (
        SELECT min(doc_id) FROM quality_kept GROUP BY md5(text))
    ), sampled AS (
      SELECT * FROM deduped
      WHERE ({sql_hash32("CAST(doc_id AS VARCHAR)", seed=1)} % 10000) <
            CASE WHEN lang = 'en' THEN 10000
                 WHEN lang = 'de' THEN 5000 ELSE 2500 END
    ), laid AS (
      SELECT doc_id, lang, quality, n_tok,
             CAST(sum(n_tok) OVER (ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS "end"
      FROM (SELECT doc_id, lang, quality,
                   greatest(len({_SQL_TOKS}), 1) AS n_tok FROM sampled)
    )
    SELECT ("end" - n_tok) // 128 AS seq_id, doc_id, lang, quality
    FROM laid
    """,
    doc="End-to-end curation pipeline COMPOSED from the catalog's "
    "stage operators: quality filter (>= 0.5) -> exact dedup (keep "
    "min-id per digest) -> language-stratified sample (en 1.0 / de .5 / "
    "else .25) -> sequence assignment (first sequence each surviving "
    "doc starts in). One Spark job; every stage is the same code the "
    "individual entries exercise.",
    tags=("trainmix", "pipeline"),
)
def q_curation_pipeline(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.dedup import (
        drop_exact_dupes,
    )
    from polymarket_data_ingestor_spark.operators.packing import (
        pack_sequences,
    )
    from polymarket_data_ingestor_spark.operators.sampling import (
        stratified_sample,
    )

    d = table(spark, sf_dir, "documents")
    # quality_score APPENDS to the input columns — joining it back to d
    # would be a self-join (an extra corpus scan + a doc_id exchange for
    # nothing); the unused score components prune out of the scan
    scored = T.quality_score(d)
    kept = scored.filter(F.col("quality") >= 0.5)
    deduped = drop_exact_dupes(kept)
    sampled = stratified_sample(
        deduped, {"en": 1.0, "de": 0.5}, seed=1, default_rate=0.25
    )
    packed = pack_sequences(sampled, seq_len=128, shard_size=100)
    first_seq = packed.filter(F.col("doc_start") == 0).select(
        "seq_id", "doc_id"
    )
    return first_seq.join(
        sampled.select("doc_id", "lang", "quality"), "doc_id"
    ).select("seq_id", "doc_id", "lang", "quality")

@register(
    "multimodal_features",
    """
    WITH meta AS (
      SELECT doc_id, encode(text) AS payload, text FROM documents
      WHERE doc_id < 100
    ), feats AS (
      -- NULL-text docs emit no feature rows (Spark: NULL payload ->
      -- NULL features, dropped by the entry's posexplode — the batch
      -- absence-propagates convention); fixture has none, kept aligned
      -- for the latent class
      SELECT doc_id, f.i AS feat_idx,
             CAST(COALESCE((
               SELECT sum(ascii(substr(m.text, p.i, 1)))
               FROM (SELECT unnest(generate_series(1, length(m.text))) AS i) p
               WHERE (p.i - 1) % 8 = f.i), 0) % 997 AS DOUBLE) AS feat
      FROM meta m CROSS JOIN
           (SELECT unnest(generate_series(0, 7)) AS i) f
      WHERE m.text IS NOT NULL
    )
    SELECT m.doc_id, 'application/octet-stream' AS media_type,
           octet_length(m.payload) AS n_bytes,
           md5(m.text) AS digest,
           f.feat_idx, f.feat
    FROM meta m JOIN feats f ON m.doc_id = f.doc_id
    """,
    doc="Multimodal plumbing: opaque binary payload + metadata through a "
    "real mapInPandas Arrow path; decode stubbed with a deterministic "
    "byte-fold featurizer (ASCII corpus ⇒ SQL-reproducible).",
    tags=("multimodal",),
)
def q_multimodal_features(spark, sf_dir):
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = M.attach_payload(d)
    feats = M.extract_features(media)
    return feats.select(
        "doc_id",
        "media_type",
        "n_bytes",
        "digest",
        F.posexplode("features").alias("feat_idx", "feat"),
    ).withColumn("feat_idx", F.col("feat_idx").cast("long"))


@register(
    "frame_sample",
    """
    SELECT doc_id, f.i AS frame_no, f.i * 64 AS byte_offset
    FROM (SELECT doc_id, octet_length(encode(text)) AS n FROM documents
          WHERE doc_id < 100) d
    CROSS JOIN LATERAL
      (SELECT unnest(generate_series(0, greatest((n - 1) // 64, 0))) AS i) f
    """,
    doc="Frame-sampling shape: 1->N rows per payload at fixed strides "
    "(posexplode of a computed index).",
    tags=("multimodal",),
)
def q_frame_sample(spark, sf_dir):
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = M.attach_payload(d)
    return M.frame_sample(media, every_n_bytes=64)


@register(
    "resize_media",
    None,  # rows-only; the oracle is written and ready to pair
    # (ASCII corpus => the stride downsample is SQL-reproducible, the
    # multimodal_features recipe):
    #
    #   SELECT doc_id,
    #          octet_length(encode(r)) AS n_bytes, md5(r) AS digest
    #   FROM (SELECT doc_id, array_to_string(list_transform(
    #           generate_series(1, length(text), 4),
    #           i -> substr(text, i, 1)), '') AS r
    #         FROM documents WHERE doc_id < 100)
    #
    # Meanwhile the value path is pinned bit-exact against a python
    # byte-stride twin in tests/test_trainingdata_ops.py, including
    # the resize->featurize composition.
    doc="Media 'resize' stub (multimodal.py::resize_media): "
    "deterministic byte-stride downsample payload->payload with "
    "metadata recomputed for the resized bytes — the brief's "
    "image-resize slot, schema-preserving so it composes with "
    "extract_features/frame_sample (resize-then-featurize, the "
    "production thumbnail pipeline shape). mapInPandas Arrow "
    "batches, constant memory; output ~1/stride of input, so it "
    "runs before any shuffle that would move full-size media.",
    tags=("multimodal",),
)
def q_resize_media(spark, sf_dir):
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    resized = M.resize_media(M.attach_payload(d), stride=4)
    return resized.select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.digest").alias("digest"),
    )


@register(
    "doc_repetition",
    """
    WITH g AS (
      SELECT doc_id,
             list_transform(
               generate_series(0, greatest(len(toks) - 2, 0)),
               i -> array_to_string(toks[i+1:i+2], ' ')) AS grams
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
            FROM documents)
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_2grams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_unique_2grams,
           round(CAST(1 AS DOUBLE)
                 - CAST(len(list_distinct(grams)) AS DOUBLE)
                   / CAST(len(grams) AS DOUBLE), 6) AS dup_2gram_ratio
    FROM g
    """,
    doc="Gopher-style repetition filter signal: per-doc fraction of "
    "duplicated word 2-grams (1 - unique/total). High ratios flag "
    "boilerplate / keyword stuffing / broken scrapes. Pure Catalyst, "
    "zero shuffle.",
    tags=("text", "quality"),
)
def q_doc_repetition(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return T.repetition_stats(d, n=2).select(
        "doc_id", "n_2grams", "n_unique_2grams", "dup_2gram_ratio"
    )


# ---------------------------------------------------------------------------
# VARIANT depth (Spark 4 semi-structured type, beyond variant_props_agg):
# nested-path extraction and per-group schema profiling.
# ---------------------------------------------------------------------------

@register(
    "variant_nested_paths",
    """
    SELECT event_type AS tag,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val,
           count(*) AS n
    FROM events GROUP BY 1
    """,
    doc="Nested VARIANT path extraction: rows are re-serialized as a "
    "nested JSON document (object, sub-object, array), parsed to ONE "
    "VARIANT, and every value is recovered through typed variant_get "
    "paths ($.tags[0], $.u, $.m.v) — the oracle computes the same "
    "aggregate from the flat columns, so the round-trip must be "
    "value-exact. The forward path for querying dynamic nested fields "
    "without a schema (one parse, many typed extractions).",
    tags=("scalar", "variant"),
)
def q_variant_nested_paths(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    j = F.to_json(
        F.struct(
            F.col("user_id").alias("u"),
            F.struct(F.col("value").alias("v")).alias("m"),
            F.array(F.col("event_type")).alias("tags"),
        )
    )
    ex = e.select(F.parse_json(j).alias("__v")).select(
        F.variant_get("__v", "$.tags[0]", "string").alias("tag"),
        F.variant_get("__v", "$.u", "bigint").alias("u"),
        F.variant_get("__v", "$.m.v", "double").alias("val"),
    )
    return ex.groupBy("tag").agg(
        F.count_distinct("u").cast("long").alias("n_users"),
        F.sum(F.col("val").cast("decimal(18,2)")).cast("double")
        .alias("sum_val"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "variant_schema_profile",
    """
    SELECT event_type,
           CAST(count(DISTINCT json_structure(props::JSON)) AS BIGINT)
             AS n_schemas,
           count(*) AS n
    FROM events GROUP BY 1
    """,
    doc="Schema drift profiling over a dynamic column: schema_of_variant "
    "per row, distinct schema count per event_type (engines render the "
    "schema string differently — Spark OBJECT<...> vs DuckDB "
    "json_structure — so the DISTINCT COUNT is the engine-neutral "
    "parity signal). The first thing an ingest pipeline asks of an "
    "unknown semi-structured feed.",
    tags=("scalar", "variant"),
)
def q_variant_schema_profile(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    return (
        e.select(
            "event_type",
            F.schema_of_variant(F.parse_json("props")).alias("__s"),
        )
        .groupBy("event_type")
        .agg(
            F.count_distinct("__s").cast("long").alias("n_schemas"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "asof_join_tolerance",
    """
    SELECT c.event_id, c.user_id,
           CASE WHEN c.event_id - p.event_id <= 1000
                THEN p.value END AS last_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND p.event_id <= c.event_id
    """,
    doc="As-of join with a staleness bound (pandas merge_asof "
    "tolerance): matches older than 1000 event-ids yield nulls. The "
    "carried reference order rides the same single window pass, so the "
    "bound costs no extra shuffle; oracle is DuckDB ASOF + CASE.",
    tags=("join", "asof"),
)
def q_asof_join_tolerance(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.asof import asof_join

    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.col("value").alias("last_purchase_value")
    )
    return asof_join(
        clicks,
        purchases,
        by=["user_id"],
        order_col="event_id",
        value_cols=["last_purchase_value"],
        tolerance=1000,
    )


@register(
    "asof_join_forward",
    """
    SELECT c.event_id, c.user_id, p.value AS next_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND p.event_id >= c.event_id
    """,
    doc="Forward as-of join (merge_asof direction='forward' parity): "
    "each click gets the EARLIEST purchase at-or-after it per user — "
    "the 'next event after' query. Same union-tag single-shuffle plan "
    "as the backward form, with the window frame and tie order "
    "mirrored (current..following + first instead of "
    "preceding..current + last); oracle is DuckDB's native forward "
    "ASOF JOIN.",
    tags=("join", "asof"),
)
def q_asof_join_forward(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.asof import asof_join

    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.col("value").alias("next_purchase_value")
    )
    return asof_join(
        clicks,
        purchases,
        by=["user_id"],
        order_col="event_id",
        value_cols=["next_purchase_value"],
        direction="forward",
    )


@register(
    "interval_overlap_join",
    """
    WITH c AS (
      SELECT event_id AS click_id, user_id,
             epoch_ms(ts) AS ls, epoch_ms(ts) + 300000 AS le
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT event_id AS purchase_id, user_id,
             epoch_ms(ts) AS rs, epoch_ms(ts) + 600000 AS re
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.click_id, p.purchase_id
    FROM c JOIN p ON c.user_id = p.user_id
                 AND p.rs < c.le AND c.ls < p.re
    """,
    doc="Interval x interval overlap join per user: 5-minute click "
    "windows vs 10-minute purchase windows, all intersecting pairs. "
    "Bin-bucketed equi-join (no theta-join): intervals explode to "
    "covered bins, pairs meet on (key, bin), and the "
    "max-start-bin rule emits each pair exactly once with no distinct "
    "pass. Oracle is the plain theta join, exact at sf scale.",
    tags=("join", "range"),
)
def q_interval_overlap_join(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    e = table(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.timestamp_millis(ms).alias("start"),
        F.timestamp_millis(ms + 300000).alias("end"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.timestamp_millis(ms).alias("start"),
        F.timestamp_millis(ms + 600000).alias("end"),
    )
    return interval_overlap_join(
        clicks, purchases,
        key="user_id",
        left_cols=["click_id"], right_cols=["purchase_id"],
        bin_seconds=600,
    )


@register(
    "asof_join_nearest",
    """
    WITH c AS (
      SELECT event_id, user_id FROM events WHERE event_type = 'click'
    ), b AS (
      SELECT c.event_id, c.user_id, p.event_id AS ob, p.value AS vb
      FROM c ASOF LEFT JOIN
           (SELECT * FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id AND p.event_id <= c.event_id
    ), f AS (
      SELECT c.event_id, p.event_id AS o_f, p.value AS vf
      FROM c ASOF LEFT JOIN
           (SELECT * FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id AND p.event_id >= c.event_id
    )
    SELECT b.event_id, b.user_id,
           CASE WHEN o_f IS NULL THEN vb
                WHEN ob IS NULL THEN vf
                WHEN b.event_id - ob <= o_f - b.event_id THEN vb
                ELSE vf END AS nearest_purchase_value
    FROM b JOIN f USING (event_id)
    """,
    doc="Nearest as-of join (merge_asof direction='nearest' parity): "
    "each click gets whichever purchase is closer in event-id order, "
    "equal distance preferring backward — pandas' rule. Both window "
    "passes ride ONE union + one hash exchange (opposite tie orders "
    "cost a second sort, not a second shuffle); oracle composes "
    "DuckDB's two ASOF directions with the same CASE.",
    tags=("join", "asof"),
)
def q_asof_join_nearest(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.asof import asof_join

    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id",
        F.col("value").alias("nearest_purchase_value"),
    )
    return asof_join(
        clicks,
        purchases,
        by=["user_id"],
        order_col="event_id",
        value_cols=["nearest_purchase_value"],
        direction="nearest",
    )


@register(
    "benchmark_decontaminate",
    """
    WITH g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(0, greatest(len(toks) - 3, 0)),
               i -> array_to_string(toks[i+1:i+3], ' '))) AS grams
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
            FROM documents)
    ),
    bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g
              WHERE doc_id % 50 = 0),
    ex AS (SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram
           FROM g WHERE doc_id % 50 <> 0),
    h AS (SELECT ex.doc_id, max(ex.n_grams) AS n_grams,
                 sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
          FROM ex LEFT JOIN bench b ON ex.gram = b.gram
          GROUP BY ex.doc_id)
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_hits AS BIGINT) AS n_hits,
           round(CAST(n_hits AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
             AS contamination,
           round(CAST(n_hits AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
             >= CAST(0.05 AS DOUBLE) AS contaminated
    FROM h
    """,
    doc="Benchmark decontamination: flag corpus docs sharing 3-gram "
    "shingles with a held-out benchmark slice (doc_id mod 50 = 0 stands in "
    "for the eval set). Broadcast bench-gram join, single map-side-partial "
    "rollup — the pre-training contamination sweep at corpus scale.",
    tags=("text", "dedup"),
)
def q_benchmark_decontaminate(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    return D.benchmark_ngram_overlap(corpus, bench, n=3, threshold=0.05)


@register(
    "redact_pii",
    """
    SELECT doc_id,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
             AS n_email,
           len(regexp_extract_all(text,
               '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS n_phone,
           len(regexp_extract_all(text,
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
             AS n_ipv4,
           regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
               '[EMAIL]', 'g'),
               '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '[PHONE]', 'g'),
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
               '[IP]', 'g') AS redacted_text
    FROM (SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com or 555-867-5309 at 10.0.0.'
                      || CAST(doc_id % 256 AS VARCHAR) AS text
          FROM documents WHERE doc_id < 200)
    """,
    doc="PII scrub: email/phone/IPv4 counts + chained regexp_replace "
    "redaction, pure Catalyst (codegen, zero shuffle). Patterns restricted "
    "to the Java-regex/RE2 common subset so the DuckDB oracle matches "
    "byte-for-byte; deterministic synthetic PII appended in both engines "
    "(the corpus itself is clean).",
    tags=("text",),
)
def q_redact_pii(spark, sf_dir):
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-867-5309 at 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ).alias("text"),
    )
    return T.redact_pii(aug).select(
        "doc_id", "n_email", "n_phone", "n_ipv4", "redacted_text"
    )


@register(
    "mixture_sample",
    f"""
    WITH base AS (
      SELECT doc_id, source,
             greatest(len({_SQL_TOKS}), 1) AS n_tok,
             {sql_hash32("source || ':' || CAST(doc_id AS VARCHAR)")} AS rk
      FROM documents
    ), sh AS (
      SELECT *, rk % 32 AS shard FROM base
    ), cum AS (
      SELECT doc_id, source, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY shard, rk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM sh
    )
    SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM cum
    WHERE cum_tokens - n_tok
          < 600 + 300 * (CAST(substr(source, 4) AS BIGINT) % 3)
    """,
    doc="Token-budget train-mix sampling: each source fills its budget in "
    "a deterministic hash-shuffled order (budgets 600/900/1200 cycling by "
    "source index). Two-level prefix sum (per-shard window + broadcast "
    "offsets) — no per-source single-reducer sort; budgets ride as a "
    "literal map, no join.",
    tags=("sampling",),
)
def q_mixture_sample(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.sampling import (
        mixture_sample,
    )

    d = table(spark, sf_dir, "documents")
    budgets = {f"src{i}": 600 + 300 * (i % 3) for i in range(20)}
    return mixture_sample(d, budgets)


# 63-bit token hash for the wide SimHash: (h32('a:'||tok) % 2^31) * 2^32
# + h32('b:'||tok) — packed high half capped at 31 bits so the value stays
# strictly below 2^63 (signed BIGINT-safe in both engines).
_SQL_H63 = (
    "((('0x' || substr(md5('a:' || tok), 1, 8))::BIGINT % 2147483648)"
    " * 4294967296"
    " + ('0x' || substr(md5('b:' || tok), 1, 8))::BIGINT)"
)


@register(
    "simhash64_docs",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_H63} AS h FROM (
        SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
        WHERE doc_id < 100)
    ), votes AS (
      SELECT doc_id, b.bit,
             CASE WHEN ((h >> b.bit) & 1) = 1 THEN 1 ELSE -1 END AS vote
      FROM toks CROSS JOIN
           (SELECT unnest(generate_series(0, 62)) AS bit) b
    ), bv AS (
      SELECT doc_id, bit, sum(vote) AS v FROM votes GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                         ELSE 0 END) AS BIGINT) AS simhash
    FROM bv GROUP BY 1
    """,
    doc="63-bit SimHash signatures (packed two-hash token hash so every "
    "bit position carries entropy; 63 not 64 keeps the signature "
    "signed-int64/BIGINT-safe in Spark, DuckDB, and Arrow). Same "
    "zero-shuffle Arrow projection as the 32-bit path.",
    tags=("dedup", "sketch"),
)
def q_simhash64_docs(spark, sf_dir):
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return D.simhash(d, bits=63)


@register(
    "line_dedup_clean",
    """
    WITH aug AS (
      SELECT doc_id,
             '(c) ' || source || ' all rights reserved' || chr(10) ||
             text ||
             CASE WHEN doc_id % 2 = 0
                  THEN chr(10) || 'subscribe to our newsletter'
                  ELSE '' END AS text
      FROM documents WHERE doc_id < 200
    ), lines AS (
      SELECT doc_id, unnest(ls) AS line,
             unnest(generate_series(1, len(ls))) AS pos
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM aug)
    ), counts AS (
      SELECT line, count(DISTINCT doc_id) AS n_docs
      FROM lines GROUP BY 1
    ), tagged AS (
      SELECT l.doc_id, l.pos, l.line, (c.n_docs < 5) AS keep
      FROM lines l JOIN counts c USING (line)
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN keep THEN line END,
                               chr(10) ORDER BY pos), '') AS clean_text,
           count(*) AS n_lines,
           count(CASE WHEN NOT keep THEN 1 END) AS n_removed
    FROM tagged GROUP BY doc_id
    """,
    doc="Line-level boilerplate removal (CCNet-style line dedup): lines "
    "occurring in >= 5 distinct docs are stripped, survivors rejoin in "
    "original order. The corpus has no newlines, so the entry injects "
    "deterministic boilerplate (per-source copyright header, footer on "
    "even ids) identically in both engines — same pattern as "
    "redact_pii's injected PII.",
    tags=("dedup", "text"),
)
def q_line_dedup_clean(spark, sf_dir):
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    aug = d.select(
        "doc_id",
        F.concat(
            F.lit("(c) "),
            F.col("source"),
            F.lit(" all rights reserved\n"),
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit("\nsubscribe to our newsletter"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return D.remove_boilerplate_lines(aug, min_docs=5)


def _sql_band_cte(src: str) -> str:
    """MinHash band keys (doc_id, band, band_key) of ``src`` — the SQL
    twin of ``dedup._band_keys`` at 16 hashes x 8 bands, parameterized
    over the source relation for cross-corpus joins."""
    return f"""(
      SELECT doc_id, hash_idx // 2 AS band,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY hash_idx)
               AS band_key
      FROM (
        SELECT doc_id, hash_idx, min(hv) AS minhash FROM (
          SELECT doc_id, i.i AS hash_idx,
                 ((2 * i.i + 1) * h + i.i * 987654321)
                   % {D.MINHASH_PRIME} AS hv
          FROM (
            SELECT doc_id, {_SQL_HASH.format(x='gram')} AS h FROM (
              SELECT doc_id, unnest(grams) AS gram FROM (
                SELECT doc_id, {_SQL_GRAMS3} AS grams FROM (
                  SELECT doc_id, {_SQL_TOKS} AS toks FROM {src}))))
          CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) i
        ) GROUP BY 1, 2
      ) GROUP BY doc_id, hash_idx // 2
    )"""


@register(
    "dedup_incremental",
    f"""
    WITH newd AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
    exd AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    exact_surv AS (
      SELECT n.* FROM newd n
      ANTI JOIN (SELECT DISTINCT md5(text) AS ch FROM exd) e
        ON md5(n.text) = e.ch
    ),
    nb AS {_sql_band_cte('exact_surv')},
    eb AS {_sql_band_cte('exd')},
    near_hits AS (
      SELECT DISTINCT nb.doc_id FROM nb
      JOIN eb ON nb.band = eb.band AND nb.band_key = eb.band_key
    )
    SELECT s.doc_id, s.lang, s.source, s.n_chars FROM exact_surv s
    ANTI JOIN near_hits h ON s.doc_id = h.doc_id
    """,
    doc="Incremental (ingestion-time) dedup: the odd-id half of the "
    "corpus as the 'new batch', deduped against the even-id half as "
    "the 'existing corpus' — exact digest anti-join, then MinHash "
    "band-bucket cross-join (never new x new). The daily-ingest shape: "
    "existing-side digests and band keys are persist-once artifacts; "
    "the corpus text never shuffles.",
    tags=("dedup",),
)
def q_dedup_incremental(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    newd = docs.filter(F.col("doc_id") % 2 == 1)
    exd = docs.filter(F.col("doc_id") % 2 == 0)
    return D.dedup_against(newd, exd).select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "vocab_coverage",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
    ), vocab AS (
      SELECT tok, count(*) AS tok_count FROM toks
      GROUP BY 1 ORDER BY tok_count DESC, tok LIMIT 16
    )
    SELECT t.doc_id,
           count(*) AS n_tokens,
           count(v.tok_count) AS n_in_vocab,
           CAST(count(v.tok_count) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS coverage,
           CAST(SUM(coalesce(v.tok_count, 0)) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS mean_tok_freq
    FROM toks t LEFT JOIN vocab v USING (tok)
    GROUP BY t.doc_id
    """,
    doc="Per-doc coverage of the corpus top-16 vocabulary (fastText-"
    "style quality filter). Integer-exact until one final IEEE int/int "
    "division, so bit-reproducible with no rounding — unlike an "
    "avg-of-logs, whose value depends on float summation order. Vocab "
    "ranking lowers to TakeOrdered (no full sort shuffle); the k-row "
    "vocab broadcasts to the token stream.",
    tags=("text", "quality"),
)
def q_vocab_coverage(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return T.vocab_coverage(d, top_k=16)


@register(
    "doc_bigram_lm",
    f"""
    WITH docs AS (
      SELECT doc_id, {_SQL_TOKS} AS arr FROM documents
    ), big AS (
      SELECT doc_id, arr[i] AS w1, arr[i + 1] AS w2
      FROM docs, UNNEST(range(1, len(arr))) AS t(i)
      WHERE arr[i] != '' AND arr[i + 1] != ''
    ), c2 AS (
      SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2
    ), c1 AS (
      SELECT w1, count(*) AS c1 FROM big GROUP BY 1
    ), v AS (
      SELECT count(DISTINCT w2) AS v FROM big
    ), model AS (
      SELECT w1, w2,
             CAST(round(ln((c2 + 1.0) / (c1 + v)), 9)
                  AS DECIMAL(18,9)) AS logp
      FROM c2 JOIN c1 USING (w1) CROSS JOIN v
    ), dbig AS (
      SELECT doc_id, w1, w2, count(*) AS m FROM big GROUP BY 1, 2, 3
    )
    SELECT doc_id,
           CAST(sum(m) AS BIGINT) AS n_bigrams,
           CAST(sum(logp * m) AS DOUBLE)
             / CAST(sum(m) AS DOUBLE) AS avg_logprob
    FROM dbig JOIN model USING (w1, w2)
    GROUP BY doc_id
    """,
    doc="Corpus-trained add-one bigram LM per-doc avg log-probability — "
    "the in-engine CCNet-style perplexity quality filter (no external "
    "model; the LM is estimated from the corpus in the same job). "
    "Bit-exact despite floats: each distinct bigram's ln p is rounded "
    "to 9 dp into decimal(18,9) before the per-doc sum, making the "
    "aggregation order-independent exact decimal math; only the final "
    "division is IEEE.",
    tags=("text", "quality"),
)
def q_doc_bigram_lm(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return T.bigram_lm_score(d)


_SQL_SUBSTRING_PAIRS = f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ), grams AS (
      SELECT doc_id, {_SQL_HASH.format(x="g")} AS gh
      FROM (SELECT doc_id,
                   unnest(list_distinct(list_transform(
                     generate_series(0, greatest(len(toks) - 8, 0)),
                     i -> array_to_string(toks[i+1:i+8], ' ')))) AS g
            FROM toks)
      WHERE g != ''
    ), freq AS (
      SELECT gh, count(*) AS df FROM grams GROUP BY 1
    ), keep AS (
      SELECT doc_id, gh FROM grams JOIN freq USING (gh) WHERE df <= 50
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
    FROM keep a JOIN keep b ON a.gh = b.gh AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 2
"""


@register(
    "substring_dup_pairs",
    _SQL_SUBSTRING_PAIRS,
    doc="Exact-substring duplication (Lee et al.-style): doc pairs "
    "sharing >= 2 distinct verbatim 8-token windows — the containment "
    "modality whole-doc Jaccard/MinHash misses (a pasted quote barely "
    "moves set similarity). Windows with df > 50 are dropped via a "
    "broadcast anti-join of the tiny hot set (boilerplate is "
    "line_dedup_clean's job), bounding per-gram join fan-out — the "
    "scale contract.",
    tags=("dedup", "substring"),
)
def q_substring_dup_pairs(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return D.substring_dup_pairs(d, k=8, min_shared=2, max_gram_docs=50)


@register(
    "substring_dedup_materialize",
    f"""
    WITH RECURSIVE pairs AS ({_SQL_SUBSTRING_PAIRS}),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b AS u, id_a AS v FROM pairs),
    reach(u, v) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (
      SELECT u AS doc_id, CAST(min(v) AS BIGINT) AS component
      FROM reach GROUP BY u
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d JOIN comp c
      ON d.doc_id = c.doc_id AND d.doc_id = c.component
    """,
    doc="Materialized substring dedup: the L20 detector composed with "
    "the generic transitive machinery — substring pairs -> min-label "
    "connected components -> keep the component-min doc. Quote chains "
    "(a shares a span with b, b another with c) collapse to one keeper "
    "even when a and c share nothing directly; same composition shape "
    "as dedup_transitive_materialize over MinHash pairs.",
    tags=("dedup", "substring"),
)
def q_substring_dedup_materialize(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    pairs = D.substring_dup_pairs(
        docs, k=8, min_shared=2, max_gram_docs=50
    )
    return D.drop_dup_clusters(docs, pairs).select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "substring_trim_materialize",
    f"""
    WITH toks AS (
      SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents
    ), pg AS (
      SELECT doc_id, i AS pos, {_SQL_HASH.format(x="g")} AS gh
      FROM (SELECT doc_id, i,
                   array_to_string(toks[i+1:i+8], ' ') AS g
            FROM toks,
                 UNNEST(generate_series(0, greatest(len(toks) - 8, 0)))
                 AS t(i))
      WHERE g <> ''
    ), occ AS (
      SELECT doc_id, pos,
             count(*) OVER (PARTITION BY gh) AS cnt,
             row_number() OVER (PARTITION BY gh
                                ORDER BY doc_id, pos) AS rn
      FROM pg
    ), covered AS (
      SELECT DISTINCT doc_id, pos + o AS tpos
      FROM occ, UNNEST(generate_series(0, 7)) AS u(o)
      WHERE cnt >= 2 AND rn >= 2
    ), ts AS (
      SELECT doc_id, i - 1 AS tpos, toks[i] AS tok
      FROM toks, UNNEST(generate_series(1, len(toks))) AS t(i)
    ), kept AS (
      SELECT ts.doc_id, ts.tpos, ts.tok
      FROM ts LEFT JOIN covered c
        ON ts.doc_id = c.doc_id AND ts.tpos = c.tpos
      WHERE c.doc_id IS NULL
    ), agg AS (
      SELECT doc_id,
             array_to_string(list(tok ORDER BY tpos), ' ') AS t2,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CASE WHEN coalesce(a.n_kept, 0) = coalesce(len(t.toks), 0)
                THEN t.text ELSE coalesce(a.t2, '') END
             AS trimmed_text,
           CAST(CASE WHEN t.text IS NULL THEN 0 ELSE len(t.toks) END
                AS BIGINT) AS n_tokens,
           CAST(CASE WHEN t.text IS NULL THEN 0 ELSE len(t.toks) END
                - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
    FROM toks t LEFT JOIN agg a USING (doc_id)
    """,
    doc="Duplicated-SPAN removal keeping the documents "
    "(operators/dedup.py::substring_trim_docs, r12 verdict #3): the "
    "action the Lee-et-al. exact-substring recipe actually prescribes "
    "— substring_dedup_materialize drops whole cluster members, but a "
    "95%-unique doc carrying one pasted license block should lose the "
    "block, not the doc. A k=8-token window occurring >= 2 times "
    "corpus-wide (counting every position — intra-doc verbatim "
    "repetition too) keeps exactly its globally-first occurrence "
    "(min (doc_id, pos)); every other occurrence's token range is "
    "excised, overlaps unioned, survivors re-joined in order; "
    "untouched docs keep their original text byte-for-byte. LINEAR "
    "where pairing is quadratic (no self-join, no hot-window cap): "
    "one Arrow-kernel pass emits positional gram hashes as int64, "
    "one anchored gram-hash exchange feeds the occurrence count and "
    "the join-back, duplicated windows explode into k covered "
    "positions, one inherent regroup-by-doc rebuilds the text.",
    tags=("dedup", "substring", "curation"),
)
def q_substring_trim_materialize(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return D.substring_trim_docs(docs, k=8)


# --- Relational widening: CUBE, pivot, lag/lead deltas ---------------------


@register(
    "cube_lineitem",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           count(*) AS n_items
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE over (returnflag, linestatus): all four grouping sets in "
    "one pass — Catalyst expands the cube into a single shuffle with "
    "map-side partials, no per-set rescans. Labels coalesce to 'ALL' "
    "(flag columns are never null) instead of GROUPING_ID for "
    "cross-dialect parity.",
    tags=("agg", "rollup"),
)
def q_cube_lineitem(spark, sf_dir):
    # Project to the four cube columns, then widen the (locally
    # single-row-group) scan so the Expand ×4 + decimal partials run
    # map-side-parallel instead of on the one scan task; exact decimal
    # sums and counts are value-identical under any partitioning, and
    # spread_scan is the identity once the scan itself splits wide
    # (guide §2.5 / §2.3 "project before the exchange").
    le = spread_scan(
        table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"
        ),
        f"{sf_dir}/lineitem.parquet",
    )
    return (
        le.cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias(
                "returnflag"
            ),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias(
                "linestatus"
            ),
            "sum_qty",
            "sum_price",
            "n_items",
        )
    )


@register(
    "pivot_status_year",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(SUM(CASE WHEN o_orderstatus = 'O'
                         THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                AS DOUBLE) AS total_open,
           CAST(SUM(CASE WHEN o_orderstatus = 'F'
                         THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                AS DOUBLE) AS total_filled,
           CAST(SUM(CASE WHEN o_orderstatus = 'P'
                         THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                AS DOUBLE) AS total_partial
    FROM orders GROUP BY 1
    """,
    doc="Pivot: order revenue by year x status, one wide row per year. "
    "Explicit pivot values ('O','F','P') keep the plan a single "
    "aggregation — value discovery would add a distinct-scan job.",
    tags=("agg", "pivot"),
)
def q_pivot_status_year(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("order_year")
        )
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                "double"
            )
        )
        .select(
            "order_year",
            F.col("O").alias("total_open"),
            F.col("F").alias("total_filled"),
            F.col("P").alias("total_partial"),
        )
    )


@register(
    "user_event_deltas",
    """
    SELECT user_id, event_id, value,
           lag(value) OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           value - lag(value) OVER w AS delta
    FROM events
    WHERE event_id < 20000
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
    doc="Per-user lag/lead window suite: previous/next reading and the "
    "step delta. Ordered by the unique event_id (the running_total/"
    "sessionize convention) — ns-vs-us timestamp ties can't reorder "
    "engines. Partitioned window: one hash shuffle on user_id, no "
    "global sort.",
    tags=("window",),
)
def q_user_event_deltas(spark, sf_dir):
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "events").filter(F.col("event_id") < 20000)
    w = Window.partitionBy("user_id").orderBy("event_id")
    return e.select(
        "user_id",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


# --- Event-sequence analytics: funnel + cohort retention -------------------


@register(
    "funnel_conversion",
    """
    WITH per_user AS (
      SELECT user_id,
             list(epoch_ms(ts)) FILTER (WHERE event_type = 'view')
               AS ts_view,
             list(epoch_ms(ts)) FILTER (WHERE event_type = 'click')
               AS ts_click,
             list(epoch_ms(ts)) FILTER (WHERE event_type = 'purchase')
               AS ts_purchase
      FROM events GROUP BY user_id
    ), resolved AS (
      SELECT user_id,
             t0,
             list_min(list_filter(ts_click, x -> x > t0)) AS t1,
             list_min(list_filter(
               ts_purchase,
               x -> x > list_min(list_filter(ts_click, y -> y > t0))
             )) AS t2
      FROM (SELECT user_id, ts_view, ts_click, ts_purchase,
                   list_min(ts_view) AS t0 FROM per_user)
      WHERE t0 IS NOT NULL
    )
    SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS step, 'view' AS step_name,
             count(t0) AS n_users FROM resolved
      UNION ALL
      SELECT 1, 'click', count(t1) FROM resolved
      UNION ALL
      SELECT 2, 'purchase', count(t2) FROM resolved)
    """,
    doc="Ordered funnel view -> click -> purchase: users counted at each "
    "step only if it happened strictly after their previous step. ONE "
    "shuffle: groupBy(user) collects each step's epoch-ms times into "
    "arrays and the scan-for-next is a per-row array_min(filter(...)) "
    "chain — no join per step, no window. Integer-exact.",
    tags=("analytics", "funnel"),
)
def q_funnel_conversion(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.analytics import (
        funnel_counts,
    )

    e = table(spark, sf_dir, "events")
    return funnel_counts(e, ["view", "click", "purchase"])


@register(
    "cohort_retention",
    """
    WITH active AS (
      SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS week
      FROM events
    ), first AS (
      SELECT user_id, min(week) AS cohort_week FROM active GROUP BY 1
    )
    SELECT f.cohort_week,
           a.week - f.cohort_week AS week_offset,
           count(DISTINCT a.user_id) AS n_users
    FROM active a JOIN first f USING (user_id)
    GROUP BY 1, 2
    """,
    doc="Weekly cohort retention: users bucketed by first-seen epoch "
    "week, counted in each later active week. Absolute epoch weeks "
    "(epoch_ms DIV ms_per_week) need no global-min pass; distinct "
    "(user, week) collapses map-side before the shuffle. "
    "Integer-exact.",
    tags=("analytics", "cohort"),
)
def q_cohort_retention(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.analytics import (
        cohort_retention,
    )

    return cohort_retention(table(spark, sf_dir, "events"))


@register(
    "funnel_user_paths_multipass",
    """
    WITH per_user AS (
      SELECT user_id,
             list(epoch_ms(ts)) FILTER (WHERE event_type = 'view')
               AS ts_view,
             list(epoch_ms(ts)) FILTER (WHERE event_type = 'click')
               AS ts_click,
             list(epoch_ms(ts)) FILTER (WHERE event_type = 'purchase')
               AS ts_purchase
      FROM events GROUP BY user_id
    ), resolved AS (
      SELECT user_id,
             t0 AS t_view,
             list_min(list_filter(ts_click, x -> x > t0)) AS t_click,
             list_min(list_filter(
               ts_purchase,
               x -> x > list_min(list_filter(ts_click, y -> y > t0))
             )) AS t_purchase
      FROM (SELECT user_id, ts_view, ts_click, ts_purchase,
                   list_min(ts_view) AS t0 FROM per_user)
      WHERE t0 IS NOT NULL
    )
    SELECT user_id, t_view, t_click, t_purchase,
           CAST(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END
             AS BIGINT) AS n_steps
    FROM resolved
    """,
    doc="Per-user ordered funnel via the bounded-state multipass form "
    "(one conditional min-agg per step, no per-user arrays) — the "
    "heavy-user escape hatch of funnel_conversion, proven row-identical "
    "to the array form against the same oracle. State per user is a "
    "running min regardless of that user's event count.",
    tags=("analytics", "funnel"),
)
def q_funnel_user_paths_multipass(spark, sf_dir):
    from polymarket_data_ingestor_spark.operators.analytics import (
        funnel_steps_multipass,
    )

    e = table(spark, sf_dir, "events")
    return funnel_steps_multipass(e, ["view", "click", "purchase"])
