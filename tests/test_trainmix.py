"""Semantics tests for sequence packing + deterministic sampling.

The catalog oracles pin cross-engine value parity; these pin the operator
invariants: full-sequence packing, shard-size invariance of the two-level
prefix sum, per-stratum rates, and exact-k selection.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polymarket_data_ingestor_spark.operators.packing import pack_sequences
from polymarket_data_ingestor_spark.operators.sampling import (
    rank_sample,
    stratified_sample,
)
from polymarket_data_ingestor_spark.operators.text import tokens

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_pack_sequences_full_and_contiguous(spark, docs):
    out = pack_sequences(docs, seq_len=128).toPandas()
    # Every sequence except the last is exactly full.
    per_seq = out.groupby("seq_id").n_tok.sum().sort_index()
    assert (per_seq.iloc[:-1] == 128).all()
    assert 0 < per_seq.iloc[-1] <= 128
    # Each document is fully assigned, in contiguous chunks from token 0.
    toks = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id",
            F.greatest(F.size(tokens("text")), F.lit(1)).alias("n"),
        ).collect()
    }
    for doc_id, grp in out.groupby("doc_id"):
        grp = grp.sort_values("seq_id")
        assert grp.n_tok.sum() == toks[doc_id]
        assert grp.doc_start.iloc[0] == 0
        assert (grp.doc_start.to_numpy()[1:]
                == grp.doc_start.to_numpy()[:-1]
                + grp.n_tok.to_numpy()[:-1]).all()
        # spanning docs occupy consecutive sequences
        assert (grp.seq_id.diff().dropna() == 1).all()


def test_pack_sequences_edge_cases(spark):
    """Spanning docs, single-token sequences, and empty texts."""
    rows = [
        (0, " ".join(["w"] * 10)),   # 10 tokens
        (1, ""),                      # empty -> clamped to 1 token
        (2, " ".join(["w"] * 17)),   # spans many 4-token sequences
        (3, "a b"),                   # 2 tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(df, seq_len=4, shard_size=2).toPandas()
    # total tokens = 10 + 1 + 17 + 2 = 30 -> sequences 0..7 (last partial)
    per_seq = out.groupby("seq_id").n_tok.sum().sort_index()
    assert list(per_seq.index) == list(range(8))
    assert (per_seq.iloc[:-1] == 4).all() and per_seq.iloc[-1] == 2
    # doc 2 starts at offset 11 -> spans sequences 2..6
    d2 = out[out.doc_id == 2].sort_values("seq_id")
    assert list(d2.seq_id) == [2, 3, 4, 5, 6]
    assert d2.n_tok.sum() == 17 and d2.doc_start.iloc[0] == 0
    # the empty doc occupies exactly one slot
    d1 = out[out.doc_id == 1]
    assert len(d1) == 1 and d1.n_tok.iloc[0] == 1

    # seq_len=1: every token its own sequence
    out1 = pack_sequences(df.filter("doc_id = 3"), seq_len=1).toPandas()
    assert len(out1) == 2 and (out1.n_tok == 1).all()


def test_pack_sequences_null_id_raises_not_drops(spark):
    """A NULL id has no position in the total-order layout; it
    previously VANISHED through the NULL shard key's unmatched offsets
    join — the job must fail loudly instead (review finding, the
    _precomputed_counts convention)."""
    df = spark.createDataFrame(
        [(0, "a b"), (None, "c d"), (2, "e")],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="NULL in id_col"):
        pack_sequences(df, seq_len=4).collect()


def test_pack_sequences_pretokenized_counts(spark):
    """n_tok_col consumes precomputed tokenizer counts: the layout must
    follow the given counts exactly (not whitespace tokens), clamp to
    >= 1, and never scan the text column."""
    df = spark.createDataFrame(
        [(0, "ignored words here", 5), (1, "x", 0), (2, "y z", 7)],
        "doc_id long, text string, my_tok long",
    )
    out = (
        pack_sequences(df, seq_len=4, shard_size=2, n_tok_col="my_tok")
        .toPandas().sort_values(["seq_id", "doc_id"]).reset_index(drop=True)
    )
    # layout: doc0 5 tok [0,5), doc1 clamped 1 tok [5,6), doc2 7 tok [6,13)
    got = list(map(tuple, out[["seq_id", "doc_id", "doc_start", "n_tok"]]
                   .itertuples(index=False)))
    assert got == [
        (0, 0, 0, 4), (1, 0, 4, 1), (1, 1, 0, 1), (1, 2, 0, 2),
        (2, 2, 2, 4), (3, 2, 6, 1),
    ]
    # the text column must not be read at all — pruned from the scan
    # (checked against a real parquet scan, where ReadSchema shows what
    # is actually fetched; a local relation always lists every column)
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(f"{td}/docs")
        pq = spark.read.parquet(f"{td}/docs")
        plan = (
            pack_sequences(pq, seq_len=4, shard_size=2,
                           n_tok_col="my_tok")
            ._jdf.queryExecution().executedPlan().toString()
        )
        read_schemas = [ln for ln in plan.splitlines()
                        if "ReadSchema" in ln]
        assert read_schemas and all("text" not in ln
                                    for ln in read_schemas), plan


def test_pack_sequences_shard_size_invariant(spark, docs):
    """The two-level prefix sum must give identical offsets for ANY shard
    size (including one shard per handful of docs)."""
    a = sorted(map(tuple, pack_sequences(docs, seq_len=64, shard_size=7)
                   .collect()))
    b = sorted(map(tuple, pack_sequences(docs, seq_len=64,
                                         shard_size=10**6).collect()))
    assert a == b


def test_stratified_sample_rates_and_determinism(spark, docs):
    rates = {"en": 1.0, "de": 0.5, "fr": 0.0}
    kept = stratified_sample(docs, rates, seed=1)
    n_by_lang = {r.lang: r.n for r in
                 kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    tot_by_lang = {r.lang: r.n for r in
                   docs.groupBy("lang").agg(F.count("*").alias("n"))
                   .collect()}
    assert n_by_lang["en"] == tot_by_lang["en"]  # rate 1.0 keeps all
    assert "fr" not in n_by_lang  # rate 0.0 drops all
    assert "zh" not in n_by_lang  # unlisted stratum -> default 0
    # rate 0.5 lands in a loose binomial window
    assert 0.25 * tot_by_lang["de"] < n_by_lang["de"] < 0.75 * tot_by_lang["de"]
    # deterministic: same selection both runs
    a = sorted(r.doc_id for r in kept.select("doc_id").collect())
    b = sorted(r.doc_id for r in
               stratified_sample(docs, rates, seed=1).select("doc_id")
               .collect())
    assert a == b
    # a different seed selects a different subset
    c = sorted(r.doc_id for r in
               stratified_sample(docs, rates, seed=2).select("doc_id")
               .collect())
    assert a != c


def test_rank_sample_exact_k(spark, docs):
    out = rank_sample(docs, k=10, seed=1)
    sizes = {r.lang: r.n for r in
             out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    tot = {r.lang: r.n for r in
           docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in sizes.items():
        assert n == min(10, tot[lang])
    # selection is a deterministic function of (id, seed)
    a = sorted(r.doc_id for r in out.select("doc_id").collect())
    b = sorted(r.doc_id for r in
               rank_sample(docs, k=10, seed=1).select("doc_id").collect())
    assert a == b


# ---------------------------------------------------------------------------
# Property: the packing layout vs an independent Python model
# ---------------------------------------------------------------------------

def _model_pack(counts, seq_len):
    """Naive single-threaded layout: docs in id order, clamped >= 1."""
    out, pos = [], 0
    for doc_id, n in counts:
        n = max(n, 1)
        start, end = pos, pos + n
        pos = end
        s = start
        while s < end:
            seq = s // seq_len
            hi = min(end, (seq + 1) * seq_len)
            out.append((seq, doc_id, s - start, hi - s))
            s = hi
    return sorted(out)


def test_pack_sequences_matches_model_randomized(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        st.lists(st.integers(min_value=0, max_value=40),
                 min_size=1, max_size=60),
        st.integers(min_value=1, max_value=17),
        st.integers(min_value=1, max_value=9),
    )
    @settings(max_examples=5, deadline=None)
    def run(counts, seq_len, shard_size):
        rows = [(i, "w " * c, c) for i, c in enumerate(counts)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, n long"
        )
        got = sorted(
            map(tuple, pack_sequences(
                df, seq_len=seq_len, shard_size=shard_size,
                n_tok_col="n",
            ).toPandas()[["seq_id", "doc_id", "doc_start", "n_tok"]]
            .itertuples(index=False))
        )
        assert got == _model_pack(list(enumerate(counts)), seq_len)

    run()


# ---------------------------------------------------------------------------
# chunk_documents: overlap windowing invariants + model parity
# ---------------------------------------------------------------------------

def _model_chunks(counts, max_tokens, overlap):
    stride = max_tokens - overlap
    out = []
    for doc_id, n in counts:
        n = max(n, 1)
        k = 0
        while True:
            s = k * stride
            out.append((doc_id, k, s, min(n, s + max_tokens) - s))
            if s + max_tokens >= n:
                break
            k += 1
    return sorted(out)


def test_chunk_documents_invariants_and_model(spark):
    from polymarket_data_ingestor_spark.operators.packing import (
        chunk_documents,
    )

    rows = [(i, "w " * c, c) for i, c in
            enumerate([0, 1, 5, 48, 63, 64, 65, 100, 200, 777])]
    df = spark.createDataFrame(rows, "doc_id long, text string, n long")
    for max_tokens, overlap in ((64, 16), (4, 0), (4, 3), (7, 2)):
        got = sorted(map(tuple, chunk_documents(
            df, max_tokens=max_tokens, overlap=overlap, n_tok_col="n",
        ).toPandas()[["doc_id", "chunk_id", "chunk_start", "n_tok"]]
        .itertuples(index=False)))
        want = _model_chunks([(i, c) for i, (_, _, c) in
                              zip(range(len(rows)), rows)],
                             max_tokens, overlap)
        assert got == want, (max_tokens, overlap)
        # invariants: full coverage with exact overlap, no empty chunk
        import collections
        by_doc = collections.defaultdict(list)
        for d, k, s, n in got:
            assert n > 0
            by_doc[d].append((k, s, n))
        for d, chunks in by_doc.items():
            chunks.sort()
            assert chunks[0][1] == 0
            for (k1, s1, n1), (k2, s2, n2) in zip(chunks, chunks[1:]):
                assert k2 == k1 + 1
                assert s1 + n1 - s2 >= min(overlap, n2) or s1 + n1 >= s2

    with pytest.raises(ValueError):
        chunk_documents(df, max_tokens=4, overlap=4)
    # zero shuffles: the plan has no exchange at all
    plan = (chunk_documents(df, max_tokens=64, overlap=16, n_tok_col="n")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_precomputed_counts_null_raises(spark):
    """A partially-populated n_tok_col must FAIL loudly, not pack/chunk
    with fabricated widths (greatest() would silently treat NULL as 1)."""
    import pytest
    from polymarket_data_ingestor_spark.operators.packing import (
        chunk_documents,
        pack_sequences,
    )

    df = spark.createDataFrame(
        [(1, "a b", 2), (2, "c d", None)],
        "doc_id int, text string, my_n int",
    )
    with pytest.raises(Exception, match="NULL in n_tok_col"):
        pack_sequences(df, seq_len=4, n_tok_col="my_n").collect()
    with pytest.raises(Exception, match="NULL in n_tok_col"):
        chunk_documents(df, max_tokens=4, n_tok_col="my_n").collect()
    # fully-populated counts still work
    assert pack_sequences(
        df.fillna(3, subset=["my_n"]), seq_len=4, n_tok_col="my_n"
    ).count() > 0


def test_hash_split_partition_and_determinism(spark, docs):
    """hash_split: every row gets exactly one split, proportions land in
    loose binomial windows, assignment is a pure function of (seed, id)
    — stable under subsetting — and bad fractions fail loudly."""
    import pytest
    from polymarket_data_ingestor_spark.operators.sampling import hash_split

    out = hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=3)
    n = docs.count()
    sizes = {r.split: r.n for r in
             out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(sizes.values()) == n  # exhaustive + disjoint (one col)
    assert 0.7 * n < sizes["train"] < 0.9 * n
    for s in ("val", "test"):
        assert 0.03 * n < sizes[s] < 0.2 * n
    # subset-stability: assigning HALF the corpus gives the same labels
    half = docs.filter(F.col("doc_id") % 2 == 0)
    full_labels = {r.doc_id: r.split for r in
                   out.select("doc_id", "split").collect()}
    half_labels = {r.doc_id: r.split for r in
                   hash_split(half, {"train": 0.8, "val": 0.1, "test": 0.1},
                              seed=3).select("doc_id", "split").collect()}
    assert all(full_labels[d] == s for d, s in half_labels.items())
    # a different seed shuffles the assignment
    other = {r.doc_id: r.split for r in
             hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1},
                        seed=4).select("doc_id", "split").collect()}
    assert other != full_labels
    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(docs, {"train": 0.8, "val": 0.1})
    # degenerate single split: everything lands there, no CASE needed
    assert hash_split(docs, {"all": 1.0}).groupBy("split").count() \
        .collect()[0].split == "all"


def test_hash_split_rounds_permyriad_thresholds(spark, docs):
    """int() truncation of 0.3*10000 (= 2999.999...) would shift the
    boundary a permyriad; the thresholds must round. Pinned by exact
    agreement with an independently-computed bucket rule."""
    from polymarket_data_ingestor_spark.functions.scalars import hash32
    from polymarket_data_ingestor_spark.operators.sampling import hash_split

    got = {r.doc_id: r.split for r in
           hash_split(docs, {"a": 0.3, "b": 0.7}, seed=5)
           .select("doc_id", "split").collect()}
    buckets = {r.doc_id: r.b for r in docs.select(
        "doc_id",
        (hash32(F.col("doc_id").cast("string"), seed=5) % 10000).alias("b"),
    ).collect()}
    for d, b in buckets.items():
        assert got[d] == ("a" if b < 3000 else "b"), (d, b, got[d])


# ---------------------------------------------------------------------------
# DSIR importance resampling (r13, Xie et al. arXiv:2302.03169)
# ---------------------------------------------------------------------------

def _py_dsir_weights(raw, target, B=10_000):
    """Pure-python DSIR model: hashed unigram+bigram buckets, add-one
    smoothing, exact per-doc sum of 9-dp-rounded log ratios."""
    import hashlib
    import math
    from collections import Counter
    from decimal import Decimal

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def feats(text):
        toks = [t for t in (text or "").strip().split() if t != ""]
        grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        return [h32(g) % B for g in grams]

    q = Counter(b for _, t in raw for b in feats(t))
    p = Counter(b for _, t in target for b in feats(t))
    qt, pt = sum(q.values()), sum(p.values())
    out = {}
    for did, t in raw:
        fs = feats(t)
        if not fs:
            continue
        lw = sum(
            Decimal(str(round(
                math.log((p.get(b, 0) + 1.0) / (pt + B))
                - math.log((q[b] + 1.0) / (qt + B)), 9)))
            for b in fs
        )
        out[did] = (len(fs), float(lw))
    return out


def test_dsir_weights_match_python_model(spark):
    from polymarket_data_ingestor_spark.operators.sampling import (
        dsir_log_weights,
    )

    raw = [
        (1, "alpha alpha beta"),
        (2, "gamma delta gamma delta"),
        (3, "alpha beta"),
        (4, ""),        # no features -> dropped
        (5, None),      # NULL text -> dropped
        (6, "   "),     # whitespace-only -> dropped
    ]
    target = [(100, "alpha beta"), (101, "alpha beta alpha")]
    rdf = spark.createDataFrame(raw, "doc_id long, text string")
    tdf = spark.createDataFrame(target, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_feats"], r["log_weight"])
        for r in dsir_log_weights(rdf, tdf).collect()
    }
    want = _py_dsir_weights(raw, target)
    assert set(got) == set(want) == {1, 2, 3}
    for did in want:
        assert got[did][0] == want[did][0], did
        assert got[did][1] == pytest.approx(want[did][1], abs=1e-12), did
    # target-likeness orders the weights: doc 3 IS the target text,
    # doc 2 shares nothing with it
    assert got[3][1] > got[1][1] > got[2][1]


def test_dsir_resample_gumbel_topk_deterministic(spark):
    from polymarket_data_ingestor_spark.operators.sampling import (
        dsir_resample,
    )

    raw = [(i, f"tok{i % 7} tok{(i + 1) % 7} filler{i}") for i in range(60)]
    target = [(1000 + j, f"tok{j % 3} tok{(j + 1) % 3}") for j in range(9)]
    rdf = spark.createDataFrame(raw, "doc_id long, text string")
    tdf = spark.createDataFrame(target, "doc_id long, text string")
    sel = dsir_resample(rdf, tdf, k=10, seed=3)
    rows = sel.collect()
    assert len(rows) == 10
    # gumbel_key really is log_weight + Gumbel(hash-seeded u)
    import hashlib
    import math

    for r in rows:
        h = int(hashlib.md5(f"s3:{r['doc_id']}".encode())
                .hexdigest()[:8], 16)
        u = (h + 0.5) / 2.0**32
        g = round(-math.log(-math.log(u)), 9)
        assert r["gumbel_key"] == pytest.approx(
            r["log_weight"] + g, abs=1e-9)
    # partition-layout independence: same selection after repartition
    ids = sorted(r["doc_id"] for r in rows)
    again = sorted(
        r["doc_id"]
        for r in dsir_resample(
            rdf.repartition(7), tdf.repartition(3), k=10, seed=3
        ).collect()
    )
    assert again == ids
    # different seed -> (almost surely) different gumbel ordering is
    # allowed but k and determinism still hold
    assert dsir_resample(rdf, tdf, k=10, seed=4).count() == 10


def test_dsir_plan_gates(spark, docs):
    from polymarket_data_ingestor_spark.operators.sampling import (
        dsir_resample,
    )

    sel = dsir_resample(docs, docs.filter(F.col("lang") == "en"), k=50)
    sel.collect()
    final = (
        sel._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    # model join broadcasts; top-k lowers to per-partition heaps; the
    # featurization is the Arrow gram kernel (r14: ArrowEvalPython is
    # the contract — one int64 per feature instance crosses the
    # boundary), never row-pickled BatchEvalPython
    assert "SortMergeJoin" not in final, final
    assert "TakeOrderedAndProject" in final, final
    assert "ArrowEvalPython" in final, final
    assert "BatchEvalPython" not in final, final
    assert "CartesianProduct" not in final, final


def test_dsir_model_score_matches_batch_weights(spark):
    """Fit-once/score-many contract: dsir_model + dsir_score reproduce
    dsir_log_weights EXACTLY (both paths sum the same 9-dp decimals),
    featureless docs score (0, 0.0) instead of dropping, and grams the
    model never saw score __lam0."""
    from polymarket_data_ingestor_spark.operators.sampling import (
        dsir_log_weights,
        dsir_model,
        dsir_score,
    )

    raw = [
        (1, "alpha alpha beta"),
        (2, "gamma delta gamma delta"),
        (3, "alpha beta"),
        (4, ""),
        (5, None),
    ]
    target = [(100, "alpha beta"), (101, "alpha beta alpha")]
    rdf = spark.createDataFrame(raw, "doc_id long, text string")
    tdf = spark.createDataFrame(target, "doc_id long, text string")
    model = dsir_model(rdf, tdf)
    batch = {
        r["doc_id"]: (r["n_feats"], r["log_weight"])
        for r in dsir_log_weights(rdf, tdf).collect()
    }
    scored = {
        r["doc_id"]: (r["n_feats"], r["log_weight"])
        for r in dsir_score(rdf, model).collect()
    }
    # scorer keeps featureless rows at (0, 0.0); batch drops them
    assert scored.pop(4) == (0, 0.0)
    assert scored.pop(5) == (0, 0.0)
    assert scored == batch
    # out-of-model grams score lam0 — a doc of pure novel tokens
    novel = spark.createDataFrame(
        [(9, "zzqqx wwvvy")], "doc_id long, text string"
    )
    lam0 = float(model.select("__lam0").first()[0])
    got = dsir_score(novel, model).first()
    assert got["n_feats"] == 3  # 2 unigrams + 1 bigram
    assert got["log_weight"] == pytest.approx(3 * lam0, abs=1e-9)
    with pytest.raises(ValueError, match="empty model"):
        dsir_score(rdf, model.filter(F.lit(False)))


def test_dsir_score_streaming_twin(spark, tmp_path):
    """dsir_score is a stateless projection: the SAME kernel runs on a
    file stream (availableNow) with no state store / watermark, and the
    emitted scores equal the batch scorer's."""
    import json

    from polymarket_data_ingestor_spark.operators.sampling import (
        dsir_model,
        dsir_score,
    )

    raw = [(i, f"tok{i % 5} tok{(i + 1) % 5} word{i}") for i in range(20)]
    target = [(100 + j, f"tok{j % 2} tok{(j + 1) % 2}") for j in range(6)]
    rdf = spark.createDataFrame(raw, "doc_id long, text string")
    tdf = spark.createDataFrame(target, "doc_id long, text string")
    model_rows = dsir_model(rdf, tdf).collect()

    src = tmp_path / "docs"
    src.mkdir()
    with open(src / "batch.jsonl", "w") as fh:
        for did, t in raw[:8]:
            fh.write(json.dumps({"doc_id": did, "text": t}) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(src))
    )
    out = tmp_path / "out"
    q = (
        dsir_score(stream, model_rows)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["n_feats"], r["log_weight"])
        for r in spark.read.parquet(str(out)).collect()
    }
    want = {
        r["doc_id"]: (r["n_feats"], r["log_weight"])
        for r in dsir_score(
            rdf.filter(F.col("doc_id") < 8), model_rows
        ).collect()
    }
    assert got == want and len(got) == 8


def test_dsir_guards(spark):
    """r13 self-review: empty codebook / bad n_buckets / mismatched
    model hash space all refuse loudly instead of silently mis-scoring."""
    from polymarket_data_ingestor_spark.operators.sampling import (
        dsir_log_weights,
        dsir_model,
        dsir_score,
    )
    from polymarket_data_ingestor_spark.operators.similarity import semdedup

    rdf = spark.createDataFrame(
        [(1, "a b"), (2, "c d")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="n_buckets"):
        dsir_log_weights(rdf, rdf, n_buckets=0)
    model = dsir_model(rdf, rdf, n_buckets=512)
    with pytest.raises(ValueError, match="mis-bucket"):
        dsir_score(rdf, model, n_buckets=10_000)
    # matched spaces fine
    assert dsir_score(rdf, model, n_buckets=512).count() == 2
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="empty codebook"):
        semdedup(emb, codebook=[])


_NB_TRAIN = [
    (1, "the cat sat on the mat", "en"),
    (2, "a dog ate my homework", "en"),
    (3, "the quick brown fox jumps", "en"),
    (4, "le chat est noir", "fr"),
    (5, "je suis un chat", "fr"),
    (6, "der hund ist gross", "de"),
    (7, "ich bin ein berliner", "de"),
    (8, "", "en"),          # featureless doc still counts for the prior
    (9, "stray text", None),  # NULL label -> excluded from the fit
]


def test_scorer_append_column_collisions_refused(spark):
    """dsir_score APPENDS columns; an input already carrying one of
    those names would produce duplicate columns and AMBIGUOUS_REFERENCE
    on every later use — it refuses loudly (review finding)."""
    from polymarket_data_ingestor_spark.operators.sampling import (
        dsir_model,
        dsir_score,
    )

    tdf = spark.createDataFrame(
        _NB_TRAIN, "doc_id long, text string, lang string"
    )
    rdf = tdf.select("doc_id", "text")
    dmodel = dsir_model(rdf, rdf, n_buckets=256)
    with pytest.raises(ValueError, match="already has \\['n_feats'\\]"):
        dsir_score(
            rdf.withColumn("n_feats", F.lit(1)), dmodel, n_buckets=256
        )


def test_stratified_sample_rounds_permyriad_rates(spark):
    """int() truncation of 0.3*10000 (= 2999.999...) shifted the keep
    boundary a full permyriad (the hash_split lesson — this operator
    documented the bug class while still using int()). Pinned on a
    synthetic corpus that PROVABLY covers the boundary: doc_id 15665
    hashes to bucket 2999 at seed 7 (computed with the python md5
    twin), so truncation to 2999 would drop it while rounding keeps
    it."""
    from polymarket_data_ingestor_spark.functions.scalars import hash32
    from polymarket_data_ingestor_spark.operators.dedup import _h32

    ids = list(range(400)) + [15665]
    assert _h32("s7:15665") % 10000 == 2999  # the boundary witness
    df = spark.createDataFrame(
        [(i, "en") for i in ids], "doc_id long, lang string"
    )
    kept = {r.doc_id for r in
            stratified_sample(df, {"en": 0.3}, stratum_col="lang",
                              seed=7).select("doc_id").collect()}
    buckets = {r.doc_id: r.b for r in df.select(
        "doc_id",
        (hash32(F.col("doc_id").cast("string"), seed=7)
         % 10000).alias("b"),
    ).collect()}
    expect = {d for d, b in buckets.items() if b < 3000}
    assert 15665 in kept
    assert kept == expect
