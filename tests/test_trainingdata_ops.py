"""Tests for dedup / similarity / text / multimodal operator APIs.

The catalog oracles (tools/check.py) pin cross-engine value
parity; these tests pin operator *semantics*: LSH recall vs brute force,
dedup materialization, Hamming near-dup behavior, and the multimodal
mapInPandas plumbing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polymarket_data_ingestor_spark.operators import dedup as D
from polymarket_data_ingestor_spark.operators import multimodal as M
from polymarket_data_ingestor_spark.operators import similarity as S
from polymarket_data_ingestor_spark.operators import text as T

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet")
    # add exact + near duplicates so dedup has real work
    d0 = df.filter(F.col("doc_id") < 30)
    exact = d0.withColumn("doc_id", F.col("doc_id") + 100000)
    near = d0.withColumn("doc_id", F.col("doc_id") + 200000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" extra tail token"))
    )
    return df.unionByName(exact).unionByName(near)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_exact_dedup_drops_planted_dupes(spark, docs):
    n_orig = docs.count()
    deduped = D.drop_exact_dupes(docs)
    # the 30 exact copies vanish; the 30 near-copies stay
    assert deduped.count() == n_orig - 30
    # keeper is the min doc_id: original rows survive, +100000 rows don't
    assert deduped.filter(F.col("doc_id").between(100000, 199999)).count() == 0


def test_exact_dedup_collapses_byte_identical_rows(spark, docs):
    """At-least-once redelivery: a row duplicated VERBATIM (same id,
    same text) must come out as ONE physical row — a semi-join alone
    keeps every matching left row, i.e. both copies."""
    one = docs.filter(F.col("doc_id") == 3)
    assert one.count() == 1
    redelivered = docs.unionByName(one).unionByName(one)
    deduped = D.drop_exact_dupes(redelivered)
    assert deduped.filter(F.col("doc_id") == 3).count() == 1
    # and the rest of the corpus deduped exactly as before
    assert deduped.count() == docs.count() - 30


def test_exact_dedup_null_content_keeps_one_row(spark):
    """NULL-content documents form ONE dedup group under the sentinel
    digest and keep their min-id row — a raw md5 digest NULLs the
    semi-join key and silently drops every null-content document from
    the curated corpus (found in the r10 review)."""
    df = spark.createDataFrame(
        [(1, "x"), (2, None), (3, None), (4, "x"), (5, None)],
        "doc_id long, text string",
    )
    got = sorted(
        (r["doc_id"], r["text"]) for r in D.drop_exact_dupes(df).collect()
    )
    assert got == [(1, "x"), (2, None)], got
    # the group table shows the null group explicitly, not a NULL key
    groups = {
        r["content_hash"]: (r["keep_id"], r["n_dupes"])
        for r in D.exact_dedup_groups(df).collect()
    }
    assert groups["null"] == (2, 3), groups
    assert None not in groups


def test_dedup_against_null_content_suppressed(spark):
    """dedup_against: a NULL-content doc duplicating a NULL-content
    corpus doc is suppressed like any other exact duplicate (raw md5
    would let it through — NULL never anti-join-matches NULL)."""
    existing = spark.createDataFrame(
        [(1, None), (2, "keep me around")], "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, None), (11, "genuinely new text")],
        "doc_id long, text string",
    )
    got = {r["doc_id"] for r in D.dedup_against(new, existing).collect()}
    assert got == {11}, got


def test_minhash_lsh_finds_planted_near_dupes(spark, docs):
    pairs = D.minhash_lsh_pairs(docs, num_hashes=16, bands=8).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].itertuples(index=False)))
    # exact copies must collide in every band; near copies in some band
    exact_expected = {(i, i + 100000) for i in range(30)}
    assert exact_expected <= got
    near_hits = sum((i, i + 200000) in got for i in range(30))
    assert near_hits >= 25  # high-similarity pairs: near-full recall


def test_drop_near_dupes_materializes_min_id_keepers(spark, docs):
    """Greedy min-id dedup: every planted copy (exact AND near) appears
    as id_b of some pair and is dropped; all originals survive."""
    pairs = D.minhash_lsh_pairs(docs, num_hashes=16, bands=8)
    kept = D.drop_near_dupes(docs, pairs)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    paired_b = {r.id_b for r in pairs.select("id_b").collect()}
    # the contract: survivors are exactly the docs never seen as the
    # higher id of a pair (originals CAN pair with each other — a
    # lower-id original then drops them; that's the greedy keeper)
    assert kept_ids == all_ids - paired_b
    # every planted exact copy has id original+100000 > original, so it
    # is id_b of its pair and always dropped
    assert not kept_ids & {i + 100000 for i in range(30)}


def test_simhash_hamming_near_dupes(spark, docs):
    sig = D.simhash(docs, bits=32)
    pairs = D.hamming_pairs(sig, max_distance=2).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].itertuples(index=False)))
    assert {(i, i + 100000) for i in range(30)} <= got  # distance 0
    near_hits = sum((i, i + 200000) in got for i in range(30))
    assert near_hits >= 20


def test_simhash63_wide_signatures(spark, docs):
    """63-bit SimHash: high bits carry real entropy (not constant zero),
    signatures stay signed-int64-safe, exact copies collide, and the
    banded Hamming path equals all-pairs at the wider width."""
    sig = D.simhash(docs, bits=63)
    vals = [r.simhash for r in sig.collect()]
    assert all(0 <= v < 2**63 for v in vals)
    # at least one doc sets a bit above position 31 — a 32-bit token
    # hash under a 64-bit signature would leave these always clear
    assert any(v >> 32 for v in vals)
    sig_map = {r.doc_id: r.simhash for r in sig.collect()}
    for i in range(30):
        assert sig_map[i] == sig_map[i + 100000]  # exact copies collide
    banded = D.hamming_pairs(sig, max_distance=2, bits=63)
    allp = D.hamming_pairs(sig, max_distance=2, bits=63, all_pairs=True)
    as_set = lambda df: {  # noqa: E731
        (r.id_a, r.id_b, r.hamming) for r in df.collect()
    }
    assert as_set(banded) == as_set(allp)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        D.simhash(docs, bits=64)


def test_vectorized_grams_match_catalyst_exactly(spark):
    """The Arrow shingler must reproduce the Catalyst word_ngrams strings
    byte-for-byte on the tricky cases: non-space edge whitespace (Spark
    trim strips spaces ONLY; Java split keeps the resulting empty
    tokens), multi-space runs, short docs, empty text, unicode NBSP
    (Java's \\s is ASCII-only — NBSP is a token char, not a separator),
    and NULL text."""
    rows = [
        ("plain three word doc plus more",),
        ("  leading and trailing spaces  ",),
        ("\ttab-led\nand newline separated\r\n",),
        ("two  spaces   three\t\tmixed",),
        ("short doc",),
        ("one",),
        ("",),
        ("   ",),
        ("nbsp stays one token",),
        ("dup gram dup gram dup gram",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "text string")
    got = df.select(
        D.word_ngrams("text", 3).alias("cat"),
        D.word_ngrams_vectorized("text", 3).alias("vec"),
    ).collect()
    for r in got:
        assert r.cat == r.vec, (r.cat, r.vec)


def test_minhash_and_simhash_match_catalyst_reference_forms(spark, docs):
    """The zero-shuffle Arrow kernels must equal the explode/groupBy
    Catalyst forms value-for-value (the r2 shapes, rebuilt inline here
    as the independent reference)."""
    from polymarket_data_ingestor_spark.functions.scalars import hash32

    sub = docs.filter(F.col("doc_id") < 40)
    # --- minhash reference: explode distinct shingles -> k min-aggs
    base = sub.select(
        "doc_id", F.explode(D.word_ngrams("text", 3)).alias("gram")
    ).select("doc_id", hash32("gram").alias("h"))
    b = F.lit(987_654_321).cast("long")
    mins = [
        F.min(
            (F.lit(2 * i + 1).cast("long") * F.col("h")
             + F.lit(i).cast("long") * b) % D.MINHASH_PRIME
        ).alias(f"__mh_{i}")
        for i in range(8)
    ]
    want = {
        r["doc_id"]: [r[f"__mh_{i}"] for i in range(8)]
        for r in base.groupBy("doc_id").agg(*mins).collect()
    }
    got = {
        r["doc_id"]: [r[f"__mh_{i}"] for i in range(8)]
        for r in D._minhash_wide(sub, "text", "doc_id", 8, 3).collect()
    }
    assert got == want
    # --- simhash reference: token-hash bit votes via explode
    toks = sub.select(
        "doc_id", F.explode(T.tokens("text")).alias("tok")
    ).select("doc_id", hash32("tok").alias("h"))
    votes = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("bit"),
        (F.expr("shiftright(h, bit) & 1") * 2 - 1).alias("vote"),
    )
    ref = (
        votes.groupBy("doc_id", "bit").agg(F.sum("vote").alias("v"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("v") > 0,
                       F.expr("shiftleft(CAST(1 AS BIGINT), bit)"))
                .otherwise(F.lit(0).cast("long"))
            ).alias("simhash")
        )
    )
    want_sim = {r["doc_id"]: r["simhash"] for r in ref.collect()}
    got_sim = {
        r["doc_id"]: r["simhash"]
        for r in D.simhash(sub, bits=32).collect()
    }
    assert got_sim == want_sim


def test_repetition_stats_flags_repetitive_docs(spark):
    rows = [
        (1, "spam spam spam spam spam"),        # one distinct 2-gram
        (2, "all words here are different"),    # no repeated 2-grams
        (3, "one"),                             # short doc: 1 truncated gram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in T.repetition_stats(df).collect()}
    assert got[1]["n_2grams"] == 4 and got[1]["n_unique_2grams"] == 1
    assert got[1]["dup_2gram_ratio"] == 0.75
    assert got[2]["dup_2gram_ratio"] == 0.0
    assert got[3]["n_2grams"] == 1 and got[3]["dup_2gram_ratio"] == 0.0


def test_minhash_lsh_rejects_ragged_bands():
    with pytest.raises(ValueError, match="divisible"):
        D.minhash_lsh_pairs(None, num_hashes=15, bands=8)


def test_ngram_jaccard_scores_planted_pairs(spark, docs):
    sub = docs.filter(
        (F.col("doc_id") < 30) | (F.col("doc_id") >= 200000)
    )
    pairs = D.ngram_jaccard_pairs(sub, threshold=0.5).toPandas()
    planted = pairs[pairs.id_b == pairs.id_a + 200000]
    assert len(planted) == 30
    # shortest docs (~20 shingles) score ~0.73 after 3 appended shingles
    assert (planted.jaccard > 0.7).all()


def test_lsh_topk_recall_vs_bruteforce(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.cosine_topk(emb, queries, k=10).toPandas()
    approx = S.cosine_topk_lsh(emb, queries, k=10, n_planes=2).toPandas()
    exact_set = set(map(tuple, exact[["query_id", "vec_id"]].itertuples(index=False)))
    approx_set = set(map(tuple, approx[["query_id", "vec_id"]].itertuples(index=False)))
    recall = len(exact_set & approx_set) / len(exact_set)
    # random-hyperplane collision prob for cos≈0.3 neighbors is ~0.6/plane:
    # 2 planes ⇒ ~0.36 expected recall (vs 0.25 random-bucket baseline)
    assert recall >= 0.2
    # approx results are a subset of the same scoring function's ranking:
    # every approx hit's cos must equal the exact cos for that pair
    merged = approx.merge(exact, on=["query_id", "vec_id"], suffixes=("_a", "_e"))
    assert (merged.cos_a == merged.cos_e).all()


def test_lsh_topk_multiprobe_raises_recall(spark, emb):
    """multiprobe=1 probes the n_planes Hamming-1 buckets too: its hit set
    must be a superset of the single-probe hits, duplicate-free (probe keys
    are distinct, each corpus vector lives in one bucket), and strictly
    closer to brute-force recall at these settings."""
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.cosine_topk(emb, queries, k=10).toPandas()
    single = S.cosine_topk_lsh(emb, queries, k=10, n_planes=4).toPandas()
    multi = S.cosine_topk_lsh(
        emb, queries, k=10, n_planes=4, multiprobe=1
    ).toPandas()
    assert not multi.duplicated(["query_id", "vec_id"]).any()
    e = set(map(tuple, exact[["query_id", "vec_id"]].itertuples(index=False)))
    s = set(map(tuple, single[["query_id", "vec_id"]].itertuples(index=False)))
    m = set(map(tuple, multi[["query_id", "vec_id"]].itertuples(index=False)))
    # 17x the candidate buckets can only surface better-or-equal neighbors,
    # so multi's top-k per query dominates single's within the exact truth
    assert len(m & e) > len(s & e)
    # and every scored hit agrees with the exact scoring function
    merged = multi.merge(exact, on=["query_id", "vec_id"], suffixes=("_a", "_e"))
    assert (merged.cos_a == merged.cos_e).all()


def test_embedding_dup_default_bucketed_recall(spark, emb):
    """The DEFAULT embedding_dup_pairs path is banded-LSH bucketed; on
    planted near-dups (cos≈0.99) it must find ≥95% of what the all-pairs
    escape hatch finds, be a subset of it, and agree on every cos."""
    base = emb.filter(F.col("vec_id") < 200).select("vec_id", "embedding")
    # plant a perturbed twin of every vector: cos(v, twin) ≈ 0.99+
    twins = base.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda v, i: v + F.when(i % 7 == 0, F.lit(0.05))
            .otherwise(F.lit(-0.01)),
        ).alias("embedding"),
    )
    corpus = base.unionByName(twins)
    exact = S.embedding_dup_pairs(
        corpus, threshold=0.95, all_pairs=True
    ).toPandas()
    approx = S.embedding_dup_pairs(corpus, threshold=0.95).toPandas()
    exact_set = set(map(tuple, exact[["id_a", "id_b"]]
                        .itertuples(index=False)))
    approx_set = set(map(tuple, approx[["id_a", "id_b"]]
                         .itertuples(index=False)))
    assert len(exact_set) >= 150  # the planted twins are really there
    assert approx_set <= exact_set  # candidates ⊆ all-pairs truth
    recall = len(approx_set) / len(exact_set)
    assert recall >= 0.95
    merged = approx.merge(exact, on=["id_a", "id_b"], suffixes=("_a", "_e"))
    assert (merged.cos_a == merged.cos_e).all()


def test_cosine_topk_self_excluded_and_ranked(spark, emb):
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.cosine_topk(emb, queries, k=5).toPandas()
    assert (out.query_id != out.vec_id).all()
    for _, grp in out.groupby("query_id"):
        assert list(grp.sort_values("rank")["cos"]) == sorted(grp.cos, reverse=True)
        assert len(grp) == 5


def test_cosine_topk_refuses_unbounded_query_side(spark, emb, monkeypatch):
    """The driver-collect of the query batch is capped: above the cap it
    must fail loudly, pointing at the distributed LSH/IVF paths, instead
    of silently materializing an unbounded side on the driver."""
    monkeypatch.setattr(S, "COSINE_TOPK_MAX_QUERY_ROWS", 3)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises(ValueError, match="cosine_topk_lsh"):
        S.cosine_topk(emb, queries, k=5)
    # at the cap exactly it still runs
    ok = S.cosine_topk(
        emb, queries.limit(3), k=5
    ).toPandas()
    assert set(ok.query_id.unique()) <= {0, 1, 2, 3}


def test_lang_id_und_on_no_markers(spark):
    df = spark.createDataFrame(
        [(1, "xyzzy plugh qwerty"), (2, "the cat and the hat of things")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.pred_lang for r in T.lang_id(df).collect()}
    assert out[1] == "und"
    assert out[2] == "en"


def test_doc_tfidf_topk_shape_and_ranking(spark, docs):
    out = T.doc_tfidf_topk(
        docs.filter(F.col("doc_id") < 50), k=3
    ).toPandas()
    for _, grp in out.groupby("doc_id"):
        grp = grp.sort_values("rank")
        assert list(grp["rank"]) == list(range(1, len(grp) + 1))
        assert list(grp.tfidf) == sorted(grp.tfidf, reverse=True)
        assert grp.term.is_unique
    # a planted corpus-unique term must be its document's #1 keyword
    # (max idf beats the common vocabulary even at doc_tf 1)
    planted = docs.filter(F.col("doc_id") < 50).withColumn(
        "text",
        F.when(F.col("doc_id") == 3,
               F.concat(F.col("text"), F.lit(" zzzuniquekeyword")))
        .otherwise(F.col("text")),
    )
    out2 = T.doc_tfidf_topk(planted, k=3).toPandas()
    top_doc3 = out2[(out2.doc_id == 3) & (out2["rank"] == 1)]
    assert list(top_doc3.term) == ["zzzuniquekeyword"]


def test_fingerprint_order_sensitivity(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a"), (3, "a b c")],
        "doc_id long, text string",
    )
    fps = {r.doc_id: r.fingerprint for r in T.fingerprint(df).collect()}
    assert fps[1] == fps[3]
    assert fps[1] != fps[2]


def test_multimodal_pipeline_and_stub(spark, docs):
    media = M.attach_payload(docs.filter(F.col("doc_id") < 10))
    feats = M.extract_features(media).toPandas()
    assert len(feats) == 10
    assert all(len(f) == M.FEATURE_DIM for f in feats.features)
    # digest matches Spark-side md5 of the payload
    md = media.select(F.md5("payload").alias("d"), "media_meta.digest").toPandas()
    assert (md.d == md.digest).all()
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x89PNG...")


def test_frame_sample_row_shape(spark, docs):
    media = M.attach_payload(docs.filter(F.col("doc_id") < 5))
    frames = M.frame_sample(media, every_n_bytes=50).toPandas()
    sizes = {r.doc_id: r["media_meta"]["n_bytes"]
             for r in media.select("doc_id", "media_meta").collect()}
    for doc_id, grp in frames.groupby("doc_id"):
        expected = max((sizes[doc_id] - 1) // 50, 0) + 1
        assert len(grp) == expected
        assert list(grp.sort_values("frame_no").byte_offset) == \
            [i * 50 for i in range(expected)]


def test_resize_media_python_twin_and_composition(spark, docs):
    """resize_media == a python byte-stride twin bit-for-bit (payload,
    size, digest), preserves the media schema, and COMPOSES with
    extract_features — the resized features equal featurizing the
    strided bytes directly (the production resize-then-featurize
    shape)."""
    from hashlib import md5 as _md5

    src = docs.filter(F.col("doc_id") < 10)
    media = M.attach_payload(src)
    resized = M.resize_media(media, stride=4)
    assert resized.schema == media.schema
    texts = {r.doc_id: r.text for r in src.select("doc_id", "text").collect()}
    rows = {r.doc_id: r for r in resized.collect()}
    assert set(rows) == set(texts)
    for i, t in texts.items():
        want = t.encode("utf-8")[::4]
        r = rows[i]
        assert bytes(r.payload) == want, i
        assert r.media_meta.n_bytes == len(want), i
        assert r.media_meta.digest == _md5(want).hexdigest(), i
        assert r.media_meta.media_type == "application/octet-stream"
    feats = {
        r.doc_id: list(r.features)
        for r in M.extract_features(resized).collect()
    }
    for i, t in texts.items():
        assert feats[i] == M._fake_features(t.encode("utf-8")[::4]), i


def test_resize_media_null_payload_and_guards(spark):
    """NULL payloads pass through as NULL rows (never dropped), with
    NULL size/digest; stride < 1 refuses."""
    media = spark.createDataFrame(
        [(1, b"abcdefgh", ("application/octet-stream", 8, "x")),
         (2, None, ("application/octet-stream", None, None))],
        M.attach_payload(
            spark.createDataFrame([(1, "a")], "doc_id long, text string")
        ).schema,
    )
    out = {r.doc_id: r for r in M.resize_media(media, stride=2).collect()}
    assert bytes(out[1].payload) == b"aceg"
    assert out[1].media_meta.n_bytes == 4
    assert out[2].payload is None
    assert out[2].media_meta.n_bytes is None
    assert out[2].media_meta.digest is None
    with pytest.raises(ValueError, match="stride must be >= 1"):
        M.resize_media(media, stride=0)


def test_benchmark_decontamination_flags_overlap(spark):
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),  # exact copy
            (2, "alpha beta gamma then something entirely different here"),
            (3, "no shared words at all in this document whatsoever"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r
        for r in D.benchmark_ngram_overlap(
            corpus, bench, n=3, threshold=0.05
        ).collect()
    }
    assert got[1]["contamination"] == 1.0 and got[1]["contaminated"]
    # doc 2 shares exactly the 'alpha beta gamma' shingle of its 6
    assert got[2]["n_hits"] == 1 and got[2]["contaminated"]
    assert got[3]["n_hits"] == 0 and not got[3]["contaminated"]
    assert got[3]["contamination"] == 0.0


def test_redact_pii_counts_and_replacement(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a@b.co and c.d+x@e-f.org, call 555-123-4567"),
            (2, "server at 192.168.0.1 and 10.0.0.255; no mail"),
            (3, "clean text with digits 12345 and an @ but no pii"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in T.redact_pii(df).collect()}
    assert (got[1]["n_email"], got[1]["n_phone"], got[1]["n_ipv4"]) == (2, 1, 0)
    assert got[1]["redacted_text"] == "mail [EMAIL] and [EMAIL], call [PHONE]"
    assert (got[2]["n_email"], got[2]["n_ipv4"]) == (0, 2)
    assert got[2]["redacted_text"] == "server at [IP] and [IP]; no mail"
    assert got[3]["redacted_text"] == got[3]["text"]


def test_dup_components_transitive_closure(spark):
    """a~b and b~c must land all three in one cluster even though (a,c)
    never surfaced as a pair — the gap the greedy pair-local keeper
    leaves open; singleton nodes label themselves."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 99]],
                                  ["doc_id"])
    got = {
        r["doc_id"]: r["component"]
        for r in D.dup_components(pairs, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_dup_components_infers_nodes_from_pairs(spark):
    pairs = spark.createDataFrame([(5, 6)], ["id_a", "id_b"])
    got = {r["doc_id"]: r["component"]
           for r in D.dup_components(pairs).collect()}
    assert got == {5: 5, 6: 5}


def test_mixture_sample_fills_token_budgets(spark):
    from polymarket_data_ingestor_spark.operators.sampling import (
        mixture_sample,
    )

    rows = [(i, "a" if i < 40 else "b", "tok " * 5) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = mixture_sample(df, {"a": 23, "b": 0}).toPandas()
    # source b has budget 0: nothing starts inside it
    assert (got["source"] == "a").all()
    # every kept doc STARTS inside the budget; the boundary doc straddles
    assert ((got["cum_tokens"] - got["n_tok"]) < 23).all()
    assert got["cum_tokens"].max() >= 23  # budget actually filled
    assert len(got) == 5  # 4 full 5-token docs + the boundary doc
    # deterministic: same ids on a re-run
    again = mixture_sample(df, {"a": 23, "b": 0}).toPandas()
    assert sorted(got["doc_id"]) == sorted(again["doc_id"])


def test_drop_dup_clusters_keeps_one_per_component(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in [1, 2, 3, 4]], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    kept = sorted(
        r["doc_id"] for r in D.drop_dup_clusters(docs, pairs).collect()
    )
    # 1~2~3 is ONE cluster -> only 1 survives; 4 untouched. The greedy
    # pair-local keeper would keep the same here, but only because the
    # chain shares ids; the component keeper is correct by construction.
    assert kept == [1, 4]


def test_remove_boilerplate_lines_semantics(spark):
    """Frequent lines are stripped, survivors keep original order, docs
    reduced to nothing still emit a row with empty clean_text, and the
    shuffle-join escape hatch returns the identical result."""
    rows = [
        (1, "HEADER\nalpha one\nbeta two\nFOOTER"),
        (2, "HEADER\ngamma three\nFOOTER"),
        (3, "HEADER\nFOOTER"),  # nothing survives
        (4, "HEADER\ndelta four\nalpha one\nFOOTER"),
        (5, "unique only\nlines here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: r
        for r in D.remove_boilerplate_lines(docs, min_docs=4).collect()
    }
    assert len(got) == 5
    assert got[1].clean_text == "alpha one\nbeta two"
    assert got[3].clean_text == "" and got[3].n_removed == 2
    assert got[4].clean_text == "delta four\nalpha one"
    assert got[5].clean_text == "unique only\nlines here"
    assert got[1].n_lines == 4 and got[1].n_removed == 2
    # "alpha one" appears in 2 docs < 4 -> kept; HEADER/FOOTER in 4 -> cut
    hatch = {
        r.doc_id: (r.clean_text, r.n_lines, r.n_removed)
        for r in D.remove_boilerplate_lines(
            docs, min_docs=4, broadcast_boiler=False
        ).collect()
    }
    assert hatch == {
        k: (v.clean_text, v.n_lines, v.n_removed) for k, v in got.items()
    }


def test_vocab_coverage_integer_exact_semantics(spark):
    """Coverage counts only top-k tokens; OOV tokens contribute zero to
    mean_tok_freq; ties in vocab rank break by token string."""
    rows = [
        (1, "a a a b b c"),
        (2, "c c d"),
        (3, "e e e e"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    # counts: a=3, e=4, b=2, c=3, d=1 -> top3 by (count desc, tok):
    # e(4), a(3), c(3); b and d are OOV
    got = {
        r.doc_id: r for r in T.vocab_coverage(docs, top_k=3).collect()
    }
    assert got[1].n_tokens == 6 and got[1].n_in_vocab == 4  # a,a,a,c
    assert got[1].coverage == 4 / 6
    assert got[1].mean_tok_freq == (3 + 3 + 3 + 3 + 0 + 0) / 6
    assert got[3].coverage == 1.0 and got[3].mean_tok_freq == 4.0
    assert got[2].n_in_vocab == 2  # c,c in vocab; d OOV


def test_dedup_against_drops_cross_corpus_dupes_only(spark, docs):
    """Incremental dedup: a new batch containing an exact copy, a near
    copy, and fresh docs — only the fresh docs survive; batch-internal
    duplicates are deliberately NOT the operator's concern."""
    existing = docs.filter(F.col("doc_id") < 100)
    fresh = docs.filter(F.col("doc_id").between(200, 230))
    exact_copy = existing.filter(F.col("doc_id") < 5).withColumn(
        "doc_id", F.col("doc_id") + 500000
    )
    near_copy = (
        existing.filter(F.col("doc_id").between(5, 9))
        .withColumn("doc_id", F.col("doc_id") + 600000)
        .withColumn(
            "text", F.concat(F.col("text"), F.lit(" extra tail token"))
        )
    )
    # batch-internal pair: two copies of doc 250 in the batch, neither
    # present in the existing corpus
    orig_250 = docs.filter(F.col("doc_id") == 250)
    internal_dup = orig_250.withColumn(
        "doc_id", F.lit(700000).cast("long")
    )
    new = (
        fresh.unionByName(exact_copy)
        .unionByName(near_copy)
        .unionByName(orig_250)
        .unionByName(internal_dup)
    )
    surv = {
        r.doc_id
        for r in D.dedup_against(new, existing).select("doc_id").collect()
    }
    fresh_ids = {r.doc_id for r in fresh.select("doc_id").collect()}
    assert fresh_ids <= surv  # fresh docs all survive
    assert not surv & {i + 500000 for i in range(5)}  # exact copies die
    near_killed = sum(i + 600000 not in surv for i in range(5, 10))
    assert near_killed >= 4  # near copies die via band match
    # BOTH copies of the batch-internal pair survive: cross-corpus only
    assert {250, 700000} <= surv


def test_funnel_ordering_and_cohorts(spark):
    """Funnel counts respect strict event ordering: a purchase BEFORE
    the click does not count; a user without the entry step is excluded
    entirely. Cohort retention buckets by first-seen week."""
    from datetime import datetime as dt

    from polymarket_data_ingestor_spark.operators.analytics import (
        cohort_retention,
        funnel_counts,
        funnel_steps,
    )

    rows = [
        # u1: clean journey view->click->purchase
        (1, dt(2024, 1, 1, 10), "view"),
        (1, dt(2024, 1, 1, 11), "click"),
        (1, dt(2024, 1, 1, 12), "purchase"),
        # u2: purchase BEFORE click -> reaches click only
        (2, dt(2024, 1, 2, 10), "view"),
        (2, dt(2024, 1, 2, 11), "purchase"),
        (2, dt(2024, 1, 2, 12), "click"),
        # u3: no view -> excluded from the funnel
        (3, dt(2024, 1, 3, 10), "click"),
        (3, dt(2024, 1, 3, 11), "purchase"),
        # u4: view only, 3 weeks later (second cohort)
        (4, dt(2024, 1, 22, 10), "view"),
    ]
    e = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    got = {
        r.step_name: r.n_users
        for r in funnel_counts(e, ["view", "click", "purchase"]).collect()
    }
    assert got == {"view": 3, "click": 2, "purchase": 1}
    per_user = {
        r.user_id: r
        for r in funnel_steps(e, ["view", "click", "purchase"]).collect()
    }
    assert 3 not in per_user
    assert per_user[2].t_purchase is None and per_user[2].n_steps == 2
    assert per_user[1].n_steps == 3
    coh = {
        (r.cohort_week, r.week_offset): r.n_users
        for r in cohort_retention(e).collect()
    }
    # u1,u2,u3 share the first epoch week; u4 lands 3 weeks later
    weeks = sorted({w for w, _ in coh})
    assert len(weeks) == 2 and weeks[1] - weeks[0] == 3
    assert coh[(weeks[0], 0)] == 3 and coh[(weeks[1], 0)] == 1


def test_funnel_multipass_matches_array_form_with_heavy_user(spark):
    """The bounded-state multipass funnel must be row-identical to the
    single-shuffle array form — including the planted heavy user and the
    pattern a bucketed pre-aggregation would get wrong (step k-1
    completion strictly between two step-k events inside one hour)."""
    from datetime import datetime as dt

    from polymarket_data_ingestor_spark.operators.analytics import (
        funnel_steps,
        funnel_steps_multipass,
    )

    rows = [
        # u1: click falls strictly BETWEEN two same-hour purchases —
        # the first purchase (10:00) must not satisfy "after click",
        # the second (10:40) must
        (1, dt(2024, 1, 1, 9, 0), "view"),
        (1, dt(2024, 1, 1, 10, 0), "purchase"),
        (1, dt(2024, 1, 1, 10, 30), "click"),
        (1, dt(2024, 1, 1, 10, 40), "purchase"),
        # u3: no entry step at all
        (3, dt(2024, 1, 3, 10), "click"),
    ]
    # u2: heavy user — 5k interleaved events, completes all steps
    rows += [
        (2, dt(2024, 1, 2, 0, 0, 0, i * 100),
         ["view", "click", "purchase"][i % 3])
        for i in range(5000)
    ]
    e = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    steps = ["view", "click", "purchase"]
    a = {r.user_id: r for r in funnel_steps(e, steps).collect()}
    b = {r.user_id: r for r in funnel_steps_multipass(e, steps).collect()}
    assert set(a) == set(b) == {1, 2}
    for u in a:
        assert a[u].asDict() == b[u].asDict()
    # and the between-two-purchases resolution is the later purchase
    assert a[1].t_purchase > a[1].t_click


def test_dup_components_raises_on_nonconvergence(spark):
    """A chain longer than max_iter rounds cannot reach its transitive
    closure — the operator must refuse loudly instead of returning
    partially-propagated labels (every id was previously silently kept
    with whatever label had flowed so far)."""
    import pytest as _pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["id_a", "id_b"]
    )
    with _pytest.raises(RuntimeError, match="fixed point"):
        D.dup_components(chain, max_iter=2)
    # with enough rounds the same chain resolves to one component
    got = {r["doc_id"]: r["component"]
           for r in D.dup_components(chain, max_iter=20).collect()}
    assert set(got.values()) == {0} and len(got) == 13


def test_bigram_lm_score_hand_computed(spark):
    """Add-one bigram LM on a 3-doc corpus small enough to verify by
    hand: corpus bigrams {(a,b):2, (a,a):1, (b,a):1}, contexts
    c(a·)=3, c(b·)=1, successor vocab V={a,b} → |V|=2."""
    import math

    d = spark.createDataFrame(
        [(0, "a b"), (1, "a a b a"), (2, "solo")], ["doc_id", "text"]
    )
    got = {r.doc_id: r for r in T.bigram_lm_score(d).collect()}
    # doc 2 has one token → no bigrams → absent
    assert set(got) == {0, 1}
    p_ab = (2 + 1) / (3 + 2)  # c2(a,b)+1 / c1(a)+V
    p_aa = (1 + 1) / (3 + 2)
    p_ba = (1 + 1) / (1 + 2)
    assert got[0].n_bigrams == 1
    assert got[0].avg_logprob == pytest.approx(math.log(p_ab), abs=1e-6)
    assert got[1].n_bigrams == 3
    expected = (math.log(p_aa) + math.log(p_ab) + math.log(p_ba)) / 3
    assert got[1].avg_logprob == pytest.approx(expected, abs=1e-6)


def test_bigram_lm_score_flags_gibberish(spark):
    """The quality-filter property: a doc whose transitions never occur
    elsewhere in the corpus scores strictly lower than one assembled
    from the corpus's common transitions."""
    common = [(i, "the cat sat on the mat") for i in range(10)]
    d = spark.createDataFrame(
        common + [(100, "mat the on cat zz qq")], ["doc_id", "text"]
    )
    got = {r.doc_id: r.avg_logprob for r in T.bigram_lm_score(d).collect()}
    assert got[100] < got[0]


def test_substring_dup_catches_pasted_quote(spark):
    """Two otherwise-unrelated docs sharing one verbatim 10-token span
    must pair up — while their whole-doc 3-gram Jaccard stays below the
    near-dup threshold (the containment case set similarity misses)."""
    quote = "to be or not to be that is the question"
    # varied filler: repetition would collapse to few DISTINCT 3-grams
    # and let the quote dominate the Jaccard denominator
    fill_a = " ".join(f"pasta{i} recipe{i} step{i}" for i in range(40))
    fill_b = " ".join(f"ship{i} battle{i} year{i}" for i in range(40))
    fill_c = " ".join(f"rock{i} mineral{i} strata{i}" for i in range(40))
    base = [
        (0, fill_a + " " + quote),
        (1, quote + " " + fill_b),
        (2, fill_c),
    ]
    d = spark.createDataFrame(base, ["doc_id", "text"])
    pairs = {(r.id_a, r.id_b): r.n_shared
             for r in D.substring_dup_pairs(d, k=8, min_shared=1).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] >= 1
    assert (0, 2) not in pairs and (1, 2) not in pairs
    # same pair under Jaccard: far below any dedup threshold
    jac = D.ngram_jaccard_pairs(d, threshold=0.0).collect()
    j01 = [r.jaccard for r in jac if (r.id_a, r.id_b) == (0, 1)]
    assert j01 and j01[0] < 0.12


def test_substring_trim_excises_spans_keeps_docs(spark):
    """r13 (r12 verdict #3): substring_trim_docs removes duplicated
    k-token SPANS and keeps the documents — every edge against a
    hand-computed model: cross-doc paste (globally-first occurrence
    survives verbatim, including its original inter-token whitespace),
    intra-doc verbatim repetition (first copy kept), a short doc
    duplicated whole (second copy trims to ''), overlapping duplicated
    windows (ranges union), NULL text (passes through as NULL),
    unique docs untouched byte-for-byte."""
    rows = [
        # d0 first occurrence of "w1 w2 w3 w4" — untouched, DOUBLE
        # space preserved (byte-identity for unedited docs)
        (0, "w1  w2 w3 w4 x1 x2"),
        # d1 pastes the span -> tokens 1-4 excised
        (1, "z1 w1 w2 w3 w4 z2"),
        # d2 repeats its own span -> second copy (pos 5-8) excised
        (2, "r1 r2 r3 r4 q r1 r2 r3 r4"),
        # d3/d4 identical short docs (single truncated gram): d3 is
        # the global first -> kept; d4 trims to ''
        (3, "s1 s2"),
        (4, "s1 s2"),
        # d5 NULL text
        (5, None),
        # d6 unique -> untouched
        (6, "u1 u2 u3 u4 u5"),
        # d7/d8 share two OVERLAPPING windows -> d8's ranges union
        # to tokens 0-4, leaving only 'extra'
        (7, "o1 o2 o3 o4 o5"),
        (8, "o1 o2 o3 o4 o5 extra"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["trimmed_text"], r["n_tokens"], r["n_removed"])
           for r in D.substring_trim_docs(d, k=4).collect()}
    assert got == {
        0: ("w1  w2 w3 w4 x1 x2", 6, 0),
        1: ("z1 z2", 6, 4),
        2: ("r1 r2 r3 r4 q", 9, 4),
        3: ("s1 s2", 2, 0),
        4: ("", 2, 2),
        5: (None, 0, 0),
        6: ("u1 u2 u3 u4 u5", 5, 0),
        7: ("o1 o2 o3 o4 o5", 5, 0),
        8: ("extra", 6, 5),
    }, got
    # one row per input doc, always
    assert D.substring_trim_docs(d, k=4).count() == len(rows)


def test_substring_dup_hot_window_cap(spark):
    """A window present in more docs than max_gram_docs is boilerplate:
    it must not create pairs (that is line_dedup_clean's job), so a
    corpus where the ONLY shared span is ubiquitous yields no pairs."""
    header = "this page is copyright the example corporation all rights reserved"
    d = spark.createDataFrame(
        [(i, f"{header} unique content {i} " + f"filler{i} " * 10)
         for i in range(8)],
        ["doc_id", "text"],
    )
    assert D.substring_dup_pairs(d, k=8, min_shared=1,
                                 max_gram_docs=4).count() == 0
    # raising the cap above the corpus size re-admits the shared span
    assert D.substring_dup_pairs(d, k=8, min_shared=1,
                                 max_gram_docs=100).count() > 0


# ---------------------------------------------------------------------------
# EXACTNESS tier-2 recall at 10x scale: the small-fixture recall pins above
# prove the banding math; these re-assert it at the first size where the
# occupancy rule could break (10 perturbed copies of the sf0.01 tables,
# ~5k rows).
# ---------------------------------------------------------------------------

def _docs_10x(spark):
    base = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    copies = [
        base.select(
            (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" c{i}")).alias("text"),
        )
        for i in range(10)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return base, out


def test_minhash_lsh_recall_at_10x_scale(spark):
    """Planted near-dup recall at 5k docs: banded MinHash recall is a
    per-pair property (independent of corpus size), so any drop here is
    an implementation break — bucket truncation, hash collision across
    the copies — not banding math."""
    base, corpus10 = _docs_10x(spark)
    planted = base.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + F.lit(95_000_000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra tail token")).alias("text"),
    )
    corpus = corpus10.unionByName(planted)
    pairs = D.minhash_lsh_pairs(
        corpus, num_hashes=16, bands=8
    ).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].itertuples(index=False)))
    # copy 0 is the byte-identical base (" c0"-suffixed), so the planted
    # twin of doc i pairs with copy-0 doc i at near-identical Jaccard
    near_hits = sum((i, i + 95_000_000) in got for i in range(30))
    assert near_hits >= 25, near_hits


def test_embedding_lsh_recall_at_10x_scale(spark):
    """Occupancy-rule recall at 5k vectors: band_bits raised by
    log2(10)≈3 per the documented rule (8 → 11); the planted cos≈0.99
    twins must still surface at ≥95% recall."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    ecopies = [
        emb.select(
            (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
            F.expr(
                f"concat(slice(embedding, {i + 1}, size(embedding)), "
                f"slice(embedding, 1, {i}))"
            ).alias("embedding"),
        )
        for i in range(10)
    ]
    emb10 = ecopies[0]
    for c in ecopies[1:]:
        emb10 = emb10.unionByName(c)
    twins = emb.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + F.lit(95_000_000)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda v, i: v + F.when(i % 7 == 0, F.lit(0.05))
            .otherwise(F.lit(-0.01)),
        ).alias("embedding"),
    )
    corpus = emb10.unionByName(twins)
    out = S.embedding_dup_pairs(
        corpus, threshold=0.95, band_bits=11
    ).toPandas()
    got = set(map(tuple, out[["id_a", "id_b"]].itertuples(index=False)))
    hits = sum((i, i + 95_000_000) in got for i in range(100))
    assert hits >= 95, hits


def test_ann_probe_recall_at_10x_scale(spark):
    """The two rows-only driver entries (cosine_topk_lsh with multiprobe,
    ivf_topk) re-pinned at 5k vectors: recall vs the exact two-level
    top-k must hold at the first scale where bucket occupancy could
    shift, and every surfaced cos must equal the exact scoring."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    ecopies = [
        emb.select(
            (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
            F.expr(
                f"concat(slice(embedding, {i + 1}, size(embedding)), "
                f"slice(embedding, 1, {i}))"
            ).alias("embedding"),
        )
        for i in range(10)
    ]
    corpus = ecopies[0]
    for c in ecopies[1:]:
        corpus = corpus.unionByName(c)
    queries = emb.filter(F.col("vec_id") < 15).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.cosine_topk(corpus, queries, k=10).toPandas()
    e = set(map(tuple, exact[["query_id", "vec_id"]]
                .itertuples(index=False)))
    lsh = S.cosine_topk_lsh(
        corpus, queries, k=10, n_planes=4, multiprobe=1
    ).toPandas()
    ivf = S.ivf_topk(corpus, queries, k=10).toPandas()
    for got, floor in ((lsh, 0.2), (ivf, 0.3)):
        g = set(map(tuple, got[["query_id", "vec_id"]]
                    .itertuples(index=False)))
        assert len(g & e) / len(e) >= floor
        merged = got.merge(exact, on=["query_id", "vec_id"],
                           suffixes=("_a", "_e"))
        assert (merged.cos_a == merged.cos_e).all()


def test_topk_recall_entries(spark):
    """The driver-checkable ANN recall entries: the LSH one pins the
    exact recall value (SQL-reproducible buckets); the IVF one pins a
    floor predicate plus the value here (codebook is engine-specific).
    sf0.01 matches what the driver runs."""
    from polymarket_data_ingestor_spark.plans.catalog import CATALOG, table

    sf = "/root/testdata/sf0.01"
    lsh = CATALOG["cosine_topk_lsh_recall"].spark(spark, sf).first()
    assert lsh.k == 5 and lsh.n_queries == 5
    assert 0.0 < lsh.recall <= 1.0

    ivf = CATALOG["ivf_topk_recall"].spark(spark, sf).first()
    assert ivf.k == 5 and ivf.n_queries == 5
    assert ivf.floor_met and ivf.recall_floor == 0.4

    # pin the IVF recall VALUE (the part the oracle cannot see): well
    # above the floor and far above the random baseline (~k/N = 0.025)
    emb_t = table(spark, sf, "embeddings")
    queries = emb_t.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.cosine_topk(emb_t, queries, k=5)
    approx = S.ivf_topk(emb_t, queries, k=5, n_clusters=8, n_probe=4)
    rec = S.topk_recall(exact, approx, k=5).first()
    assert rec.recall >= 0.5, rec


def test_topk_recall_math(spark):
    """topk_recall on hand-built frames: 3 of 4 exact pairs recovered."""
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 12)], "query_id int, vec_id int"
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 12), (2, 99)], "query_id int, vec_id int"
    )
    r = S.topk_recall(exact, approx, k=2).first()
    assert r.k == 2 and r.n_queries == 2 and r.recall == 0.75


def test_topk_recall_dedups_inputs(spark):
    """Duplicate (query, neighbor) pairs from a multiprobe/banded
    generator must not fan the join out: recall stays
    |approx ∩ exact| / |exact| over DISTINCT pairs."""
    exact = spark.createDataFrame(
        [(1, 10), (1, 11)], "query_id int, vec_id int"
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 10), (1, 10)], "query_id int, vec_id int"
    )
    r = S.topk_recall(exact, approx, k=2).first()
    assert r.recall == 0.5, r  # fan-out would report 3/4


def test_topk_recall_empty_exact_is_null_not_abort(spark):
    """Recall of an empty exact set is undefined: NULL recall with
    n_queries 0, not an ANSI DIVIDE_BY_ZERO abort — an empty query
    batch must not kill the measurement job."""
    empty = spark.createDataFrame([], "query_id long, vec_id long")
    r = S.topk_recall(empty, empty, k=5).first()
    assert r.recall is None and r.n_queries == 0 and r.k == 5


def test_dup_components_raises_on_null_pair_or_node_ids(spark):
    """A NULL id on either side of a pair (or in a hand-fed node list)
    raises loudly: unguarded, the NULL never equi-joins, so its edge
    silently fails to connect its endpoints AND a garbage
    (doc_id=NULL, component=<neighbor>) row leaks into the output —
    the silent-loss class the pack_sequences/asof reviews closed. The
    guard rides the cast expression, so no pushed filter prunes it."""
    import pytest as _pytest

    bad_pairs = spark.createDataFrame(
        [(1, 2), (None, 4)], "id_a long, id_b long"
    )
    with _pytest.raises(Exception, match="NULL id in column 'id_a'"):
        D.dup_components(bad_pairs).collect()

    ok_pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    bad_nodes = spark.createDataFrame([(1,), (None,)], "doc_id long")
    with _pytest.raises(Exception, match="NULL id in column 'doc_id'"):
        D.dup_components(ok_pairs, nodes=bad_nodes).collect()

    # clean path unchanged
    got = {r["doc_id"]: r["component"]
           for r in D.dup_components(ok_pairs).collect()}
    assert got == {1: 1, 2: 1}


def test_with_token_counts_greedy_semantics(spark):
    """Hand-computed greedy longest-match counts on a fixed tiny vocab,
    including the [UNK] collapse and the empty/whitespace-only edges."""
    vocab = ("a", "b", "ab", "abc", "x")
    df = spark.createDataFrame(
        [
            (1, "ab"),          # 'ab' one piece (longest wins over a+b)
            (2, "abc"),         # 'abc' one piece
            (3, "abca"),        # abc + a = 2
            (4, "ba"),          # b + a = 2
            (5, "aq"),          # 'q' unmatched -> whole word = 1 UNK
            (6, "ab ba  abc"),  # 1 + 2 + 1 = 4 (run of spaces)
            (7, ""),            # empty -> 0
            (8, "   "),         # whitespace only -> 0
            (9, None),          # NULL -> 0
        ],
        "doc_id int, text string",
    )
    got = {
        r.doc_id: r.n_tok
        for r in T.with_token_counts(df, vocab=vocab).collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1, 6: 4, 7: 0, 8: 0, 9: 0}


def test_with_token_counts_feeds_chunking(spark):
    """chunk_documents consuming wordpiece counts through n_tok_col:
    counts drive the window math, text never rescanned by the chunker."""
    from polymarket_data_ingestor_spark.operators.packing import (
        chunk_documents,
    )

    vocab = ("a", "ab")
    df = spark.createDataFrame(
        [(1, " ".join(["ab"] * 10)), (2, "a a a")],
        "doc_id int, text string",
    )
    d = T.with_token_counts(df, vocab=vocab)  # counts: 10 and 3
    out = chunk_documents(d, max_tokens=4, overlap=1, n_tok_col="n_tok")
    rows = sorted(
        (r.doc_id, r.chunk_id, r.chunk_start, r.n_tok)
        for r in out.collect()
    )
    # doc 1: 10 toks, stride 3 -> chunks [0,4) [3,7) [6,10): the third
    # window already reaches the end, so no shorter tail chunk follows
    # doc 2: 3 toks -> one chunk len 3
    assert rows == [
        (1, 0, 0, 4), (1, 1, 3, 4), (1, 2, 6, 4),
        (2, 0, 0, 3),
    ]


def test_with_token_counts_plan_zero_shuffle(spark):
    """The tokenizer pass must be a pure map stage: no exchange in the
    plan, one ArrowEvalPython over the scan."""
    df = spark.range(100).selectExpr(
        "id AS doc_id", "'ab ba abc' AS text"
    )
    out = T.with_token_counts(df, vocab=("a", "b", "ab", "abc"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_trailing_window_stats_matches_naive(spark):
    """Trailing 600s range-frame aggregates vs a naive O(n^2) Python
    model, with an event exactly 600s earlier (boundary is inclusive)
    and a cross-user collision at the same timestamp."""
    import datetime as dt

    from polymarket_data_ingestor_spark.operators.analytics import (
        trailing_window_stats,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        # (event_id, user, seconds offset, value)
        (1, 1, 0.0, 10.0),
        (2, 1, 599.999999, 5.0),   # inside the frame of e3
        (3, 1, 600.0, 2.0),        # e1 exactly 600s earlier: included
        (4, 1, 1200.000001, 7.0),  # e3 is 600.000001s earlier: excluded
        (5, 2, 600.0, 100.0),      # same ts as e3, other user
        (6, 2, 600.5, 1.0),
    ]
    df = spark.createDataFrame(
        [
            (eid, u, base + dt.timedelta(seconds=s), v)
            for eid, u, s, v in rows
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    got = {
        r["event_id"]: (r["trail_sum"], r["trail_n"], r["trail_max"])
        for r in trailing_window_stats(df).collect()
    }
    for eid, u, s, _ in rows:
        inside = [
            v2 for _, u2, s2, v2 in rows
            if u2 == u and s - 600.0 <= s2 <= s
        ]
        assert got[eid] == (sum(inside), len(inside), max(inside)), eid


def test_gap_fill_spine_and_locf(spark):
    """Hourly gap-fill: complete per-key spine, LOCF across gaps,
    last-in-bucket by (ts, event_id) with an id-vs-ts disagreement,
    and no bleed between keys."""
    import datetime as dt

    from polymarket_data_ingestor_spark.operators.analytics import gap_fill

    h = dt.datetime(2024, 3, 1, 0, 0, 0)

    def at(hour, minute=0):
        return h + dt.timedelta(hours=hour, minutes=minute)

    rows = [
        # key A: hours 0, 3 observed -> hours 1, 2 filled with hour-0 value
        (1, "A", at(0, 10), 10.0),
        # hour 0 tie: event 2 is EARLIER by ts but later by id — ts wins
        (2, "A", at(0, 5), 99.0),
        (3, "A", at(3, 0), 30.0),
        # key B: single hour — spine is exactly one row
        (4, "B", at(2, 0), 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    out = {
        (r.event_type, r.bucket_ts.hour): (r.value_filled, r.is_observed)
        for r in gap_fill(df).collect()
    }
    assert out == {
        ("A", 0): (10.0, True),   # event 1 (latest ts) wins the bucket
        ("A", 1): (10.0, False),
        ("A", 2): (10.0, False),
        ("A", 3): (30.0, True),
        ("B", 2): (7.0, True),
    }, out


def test_delta_volatility_matches_naive(spark):
    """Per-(key, hour) delta variance vs a naive model: deltas in
    (ts, event_id) order, bucket of the LATER observation, ddof=1
    variance, NULL (not 0) for single-delta buckets, key isolation."""
    import datetime as dt
    import statistics

    from polymarket_data_ingestor_spark.operators.analytics import (
        delta_volatility,
    )

    h = dt.datetime(2024, 3, 1, 0, 0, 0)

    def at(hour, minute):
        return h + dt.timedelta(hours=hour, minutes=minute)

    rows = [
        # key A hour 0: values 1, 3, 2 -> deltas +2, -1
        (1, "A", at(0, 0), 1.0),
        (2, "A", at(0, 20), 3.0),
        (3, "A", at(0, 40), 2.0),
        # key A hour 1: one obs -> ONE delta (from hour 0's last) in hour 1
        (4, "A", at(1, 30), 5.0),
        # key B: same timestamps, must not mix with A
        (5, "B", at(0, 10), 100.0),
        (6, "B", at(0, 50), 90.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    got = {
        (r.event_type, r.bucket_ts.hour): (r.n_moves, r.net_move, r.move_var)
        for r in delta_volatility(df).collect()
    }
    assert set(got) == {("A", 0), ("A", 1), ("B", 0)}
    n, net, var = got[("A", 0)]
    assert (n, net) == (2, 1.0)
    assert var == pytest.approx(statistics.variance([2.0, -1.0]))
    # single-delta buckets: variance is NULL, not 0
    assert got[("A", 1)] == (1, 3.0, None)
    assert got[("B", 0)] == (1, -10.0, None)


def test_label_centroids_exact_and_partition_independent(spark):
    """Centroids match the naive per-label mean, and the exact integer
    summation makes the result IDENTICAL (not just close) under any
    partitioning of the input."""
    import numpy as np

    from polymarket_data_ingestor_spark.operators.similarity import (
        label_centroids,
    )

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(40, 8)).astype("float32")
    labels = [int(i % 3) for i in range(40)]
    df = spark.createDataFrame(
        [(labels[i], [float(x) for x in vecs[i]]) for i in range(40)],
        "label int, embedding array<float>",
    )
    got = {r.label: (r.n_vecs, r.centroid)
           for r in label_centroids(df).collect()}
    for lbl in set(labels):
        member = vecs[[i for i in range(40) if labels[i] == lbl]]
        assert got[lbl][0] == len(member)
        assert len(got[lbl][1]) == 8
        naive = member.astype("float64").mean(axis=0)
        assert np.allclose(got[lbl][1], naive, atol=1e-9), lbl
    # bit-identical under repartitioning: floor-scaled integer sums
    # cannot drift with the reduction tree the way double sums do
    a = sorted(map(tuple, label_centroids(df.repartition(7)).collect()))
    b = sorted(map(tuple, label_centroids(df.coalesce(1)).collect()))
    assert a == b


def test_quality_percentile_filter_keeps_top_half(spark):
    """Per-stratum percentile cut vs a naive model: the kept set is the
    top half of each language by (quality, doc_id), single-doc strata
    drop at q>0, and q=0 keeps everything."""
    from polymarket_data_ingestor_spark.operators.text import (
        quality_percentile_filter,
        quality_score,
    )

    rows = [
        # lang en: 4 docs of visibly different quality
        (1, "en", "a a a a a a a a"),                    # repetitive
        (2, "en", "the quick brown fox jumps high"),
        (3, "en", "!!! ??? ... ###"),                    # punct soup
        (4, "en", "one two three four five six seven"),
        # lang de: 2 docs
        (5, "de", "ein zwei drei vier"),
        (6, "de", "ja ja ja ja"),
        # lang fr: single doc -> percent_rank 0 -> dropped at q=0.5
        (7, "fr", "bonjour le monde"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    kept = {r.doc_id for r in quality_percentile_filter(df, q=0.5).collect()}
    scores = {
        r.doc_id: (r.lang, r.quality)
        for r in quality_score(df).select("doc_id", "lang", "quality")
        .collect()
    }
    want = set()
    for lang in ("en", "de", "fr"):
        members = sorted(
            (q, d) for d, (lg, q) in scores.items() if lg == lang
        )
        n = len(members)
        for rank, (_, d) in enumerate(members):
            if n > 1 and rank / (n - 1) >= 0.5:
                want.add(d)
    assert kept == want, (kept, want)
    assert 7 not in kept  # single-doc stratum at q=0.5
    assert {r.doc_id for r in quality_percentile_filter(df, q=0.0)
            .collect()} == set(scores)


def test_hashed_embedding_matches_naive_and_dense_sparse_agree(spark):
    """Hashing-trick vectors vs an independent Python model (md5-based
    hash32, +/-1 votes), dense/sparse consistency, and the NULL/empty
    text edges."""
    import hashlib

    rows = [(1, "apple banana apple"), (2, "x"), (3, None), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n_dims = 8

    def h32(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)

    want = {}
    for did, text in rows:
        if text is None:
            continue  # no tokens -> doc vanishes
        vec = [0] * n_dims
        toks = __import__("re").split(r"\s+", text.strip(), flags=0) or [""]
        for tok in toks:
            h = h32(tok)
            vec[h % n_dims] += 1 if h % (2 * n_dims) >= n_dims else -1
        want[did] = [float(v) for v in vec]

    got = {r.doc_id: r.embedding for r in
           S.hashed_embedding(df, n_dims=n_dims).collect()}
    assert got == want, (got, want)
    # sparse form reconstructs the dense one exactly
    sp = S.hashed_embedding(df, n_dims=n_dims, dense=False).collect()
    rebuilt = {d: [0.0] * n_dims for d in got}
    for r in sp:
        assert r.w != 0  # zeros are dropped
        rebuilt[r.doc_id][r.dim] = float(r.w)
    assert rebuilt == got
    # the dense output feeds the cosine machinery directly
    assert S.cosine_topk(
        S.hashed_embedding(df, n_dims=n_dims).withColumnRenamed(
            "doc_id", "vec_id"),
        queries=S.hashed_embedding(df.limit(1), n_dims=n_dims)
        .withColumnRenamed("doc_id", "query_id"),
        k=2,
    ).count() > 0


def test_key_skew_profile_counts_and_ties(spark):
    """Top-k heavy hitters: exact counts, shares over the TRUE total
    (not just the top-k's), and deterministic tie order by key."""
    from polymarket_data_ingestor_spark.operators.analytics import (
        key_skew_profile,
    )

    rows = [(1,)] * 5 + [(2,)] * 3 + [(3,)] * 3 + [(4,)] * 1
    df = spark.createDataFrame(rows, "user_id long")
    got = key_skew_profile(df, ("user_id",), top_k=3).collect()
    assert [(r.user_id, r.n) for r in got] == [(1, 5), (2, 3), (3, 3)]
    assert got[0].share == pytest.approx(5 / 12)  # denominator: ALL rows


def test_inter_arrival_stats_matches_numpy(spark):
    """Exact inter-arrival quantiles vs numpy's linear interpolation on
    the same gaps, with a tie broken by event_id and key isolation."""
    import datetime as dt

    import numpy as np

    from polymarket_data_ingestor_spark.operators.analytics import (
        inter_arrival_stats,
    )

    base = dt.datetime(2024, 5, 1)
    rows = [
        (1, "A", base + dt.timedelta(seconds=0)),
        (2, "A", base + dt.timedelta(seconds=1)),
        (3, "A", base + dt.timedelta(seconds=4)),
        (5, "A", base + dt.timedelta(seconds=10)),  # id 5 before id 4...
        (4, "A", base + dt.timedelta(seconds=10)),  # ...same ts: id orders
        (6, "B", base + dt.timedelta(seconds=2)),
        (7, "B", base + dt.timedelta(seconds=3)),
    ]
    df = spark.createDataFrame(rows, "event_id long, event_type string, ts timestamp")
    got = {r.event_type: r for r in inter_arrival_stats(df).collect()}
    # A in (ts, id) order: ids 1,2,3,4,5 -> gaps 1s, 3s, 6s, 0s
    gaps_a = np.array([1e6, 3e6, 6e6, 0.0])
    assert got["A"].n_gaps == 4 and got["A"].min_us == 0
    assert got["A"].max_us == 6_000_000
    assert got["A"].p50 == np.percentile(gaps_a, 50)
    assert got["A"].p95 == np.percentile(gaps_a, 95)
    assert got["B"].n_gaps == 1 and got["B"].p50 == 1e6


def test_snapshot_diff_classification(spark):
    """Every change class on a hand fixture: added, removed, changed,
    NULL->value (a change), NULL->NULL (not a change), unchanged
    dropped by default and kept on request."""
    from polymarket_data_ingestor_spark.operators.analytics import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None), (4, None), (5, 50.0)],
        "k long, v double",
    )
    new = spark.createDataFrame(
        [(2, 21.0), (3, 30.0), (4, None), (5, 50.0), (6, 60.0)],
        "k long, v double",
    )
    got = {r.k: r.change for r in snapshot_diff(old, new, ("k",)).collect()}
    assert got == {1: "removed", 2: "changed", 3: "changed", 6: "added"}
    full = {r.k: r.change
            for r in snapshot_diff(old, new, ("k",),
                                   include_unchanged=True).collect()}
    assert full[4] == "unchanged" and full[5] == "unchanged"
    # old/new values ride along
    row2 = {r.k: r for r in snapshot_diff(old, new, ("k",)).collect()}[2]
    assert (row2.old_v, row2.new_v) == (20.0, 21.0)
    # NULL join keys carry no identity: a NULL-keyed row in both
    # snapshots reports removed + added, never pairs (plain SQL
    # equi-join semantics, same in the DuckDB oracle; deliberate
    # opposite of asof_join's NULL by-key grouping — see docstring)
    nold = spark.createDataFrame([(None, 1.0)], "k long, v double")
    nnew = spark.createDataFrame([(None, 1.0)], "k long, v double")
    nd = [(r.k, r.change) for r in snapshot_diff(nold, nnew, ("k",)).collect()]
    assert sorted(nd, key=str) == [(None, "added"), (None, "removed")]


def test_dup_size_histogram(spark):
    """Histogram identities on a planted fixture: sizes, group counts,
    doc mass, and shares summing to 1."""
    rows = (
        [(i, f"unique text {i}") for i in range(6)]        # 6 singletons
        + [(10 + i, "pair text") for i in range(2)]        # one pair
        + [(20 + i, "triple text") for i in range(3)]      # one triple
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.n_dupes: (r.n_groups, r.n_docs, r.doc_share)
           for r in D.dup_size_histogram(df).collect()}
    assert got == {
        1: (6, 6, 6 / 11), 2: (1, 2, 2 / 11), 3: (1, 3, 3 / 11)
    }, got
    assert sum(s for _, _, s in got.values()) == pytest.approx(1.0)


def test_cross_key_correlation_matches_numpy(spark):
    """Pairwise correlation of hourly means vs numpy.corrcoef over the
    same floor-quantized means; perfectly anti-correlated pair pins the
    sign, a constant key yields NULL."""
    import datetime as dt

    import numpy as np

    from polymarket_data_ingestor_spark.operators.analytics import (
        cross_key_correlation,
    )

    base = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    # A rises 1,2,3,4 ; B falls 4,3,2,1 (perfect -1) ; C constant
    for h, (va, vb) in enumerate([(1, 4), (2, 3), (3, 2), (4, 1)]):
        for k, v in (("A", va), ("B", vb), ("C", 7)):
            eid += 1
            rows.append((eid, k, base + dt.timedelta(hours=h), float(v)))
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    got = {(r.key_a, r.key_b): (r.n_buckets, r.corr)
           for r in cross_key_correlation(df).collect()}
    assert set(got) == {("A", "B"), ("A", "C"), ("B", "C")}
    n, corr = got[("A", "B")]
    assert n == 4 and corr == pytest.approx(-1.0)
    # constant side -> zero variance -> NULL, not NaN/0
    assert got[("A", "C")] == (4, None)
    assert got[("B", "C")] == (4, None)
    # against numpy on a non-trivial pair
    a = np.floor(np.array([1, 2, 3, 4], dtype="float64") * 1e6)
    b = np.floor(np.array([4, 3, 2, 1], dtype="float64") * 1e6)
    assert got[("A", "B")][1] == pytest.approx(np.corrcoef(a, b)[0, 1])


def test_summary_stats_constant_key_and_single_row(spark, tmp_path):
    """The describe-style entry's std must ride the same witness gate
    as the rest of the r14 family: a constant key is EXACTLY 0.0 (the
    unguarded double identity fabricated std 65.84 for constant
    5971895478.44 x 1936 rows and NaN for larger constants — the
    DuckDB oracle overflowed or agreed), a 1-row group is NULL (was an
    ANSI DIVIDE_BY_ZERO job abort; DuckDB's 0/0 is NULL), and a
    healthy group still matches statistics.stdev."""
    import statistics

    from polymarket_data_ingestor_spark.plans.catalog import CATALOG

    rows = ([("A", 8602516521735.17)] * 6
            + [("B", 5971895478.44)] * 1936
            + [("C", 7.0)]
            + [("D", 1.0), ("D", 2.0), ("D", 4.0)])
    df = spark.createDataFrame(rows, "event_type string, value double")
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r.event_type: (r.value_count, r.value_std)
           for r in CATALOG["summary_stats"].spark(spark, str(tmp_path))
           .collect()}
    assert out["A"] == (6, 0.0) and out["B"] == (1936, 0.0)
    assert out["C"] == (1, None)
    want = round(statistics.stdev([1.0, 2.0, 4.0]), 6)
    assert abs(out["D"][1] - want) < 1e-9


def test_cross_key_correlation_large_constant_exact_witness(spark):
    """Constant-side detection must ride EXACT min/max witnesses, not
    the double image of nΣa² − (Σa)²: past ~2^53 that cancellation
    leaves ±1e17-scale noise with a random sign, and this exact input
    (constant 5971895478.44 over 1936 hourly buckets — inside the
    documented |mean| < 9e9 domain) emitted corr ≈ 2.93e-8 instead of
    NULL, with the DuckDB oracle agreeing on the garbage (the
    linreg_rollup r12 class)."""
    import datetime as dt

    from polymarket_data_ingestor_spark.operators.analytics import (
        cross_key_correlation,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    for h in range(1936):
        ts = base + dt.timedelta(hours=h)
        rows.append(("A", ts, 5971895478.44))
        rows.append(("B", ts, float(100 + (h * 37) % 1000)))
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double"
    )
    r = cross_key_correlation(df).collect()[0]
    assert r.n_buckets == 1936 and r.corr is None, r


def test_gap_fill_null_values_are_not_observations(spark):
    """A bucket whose rows are all NULL-valued is a GAP: LOCF carries
    the previous real value over it and value_filled is never NULL."""
    import datetime as dt

    from polymarket_data_ingestor_spark.operators.analytics import gap_fill

    h = dt.datetime(2024, 3, 2)
    df = spark.createDataFrame(
        [(1, "A", h, 5.0),
         (2, "A", h + dt.timedelta(hours=1), None),   # NULL-only bucket
         (3, "A", h + dt.timedelta(hours=2), 9.0),
         # NULL beats a real value in-bucket by (ts, id)? No: NULLs are
         # filtered BEFORE the rollup, so the real value wins
         (4, "A", h + dt.timedelta(hours=2, minutes=30), None)],
        "event_id long, event_type string, ts timestamp, value double",
    )
    out = {r.bucket_ts.hour: (r.value_filled, r.is_observed)
           for r in gap_fill(df).collect()}
    assert out == {0: (5.0, True), 1: (5.0, False), 2: (9.0, True)}, out


def test_inter_arrival_quantile_column_names(spark):
    """q=0.0/1.0 and fractional-percent quantiles get distinct, readable
    column names (the old str(q)[2:] named 1.0 'p00')."""
    import datetime as dt

    from polymarket_data_ingestor_spark.operators.analytics import (
        inter_arrival_stats,
    )

    df = spark.createDataFrame(
        [(1, "A", dt.datetime(2024, 1, 1, 0, 0, 0)),
         (2, "A", dt.datetime(2024, 1, 1, 0, 0, 1)),
         (3, "A", dt.datetime(2024, 1, 1, 0, 0, 3))],
        "event_id long, event_type string, ts timestamp")
    out = inter_arrival_stats(df, quantiles=(0.0, 0.5, 0.999, 1.0))
    assert [c for c in out.columns if c.startswith("p")] == \
        ["p0", "p50", "p99_9", "p100"]
    r = out.first()
    assert (r.p0, r.p100) == (1e6, 2e6)


def test_containment_pairs_subset_detection(spark):
    """A short doc embedded verbatim in a long one: Jaccard is tiny but
    containment is 1.0; direction is (small -> big); unrelated docs
    don't pair; blocking keeps cross-block pairs out."""
    long_text = " ".join(f"w{i}" for i in range(40))
    short_text = " ".join(f"w{i}" for i in range(10, 18))  # verbatim slice
    rows = [
        (1, "en", long_text),
        (2, "en", short_text),
        (3, "en", " ".join(f"z{i}" for i in range(20))),   # unrelated
        (4, "de", short_text),                              # other block
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {(r.id_small, r.id_big): r.containment
           for r in D.containment_pairs(df, threshold=0.8,
                                        block_col="lang").collect()}
    assert got == {(2, 1): 1.0}, got
    # the same pair is far below any useful Jaccard threshold
    jac = D.ngram_jaccard_pairs(df, threshold=0.0, block_col="lang")
    j = {(r.id_a, r.id_b): r.jaccard for r in jac.collect()}[(1, 2)]
    assert j < 0.2


def test_bpe_pair_counts_matches_naive(spark):
    """Weighted adjacent-pair counts vs a naive model: per-occurrence
    counting inside words, word-frequency weighting, single-char words
    contribute nothing, (n DESC, pair) total order."""
    from collections import Counter

    rows = [(1, "abab cd x"), (2, "abab abab"), (3, "cd")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    words = Counter()
    for _, t in rows:
        for w in t.split():
            if len(w) >= 2:
                words[w] += 1
    want = Counter()
    for w, f in words.items():
        for i in range(len(w) - 1):
            want[w[i:i + 2]] += f
    got = [(r.pair, r.n) for r in T.bpe_pair_counts(df, top_k=10).collect()]
    assert got == sorted(
        want.items(), key=lambda kv: (-kv[1], kv[0])
    )[:10]
    # 'abab' x3 -> ab:6, ba:3; 'cd' x2 -> cd:2; 'x' excluded
    assert got[0] == ("ab", 6)


def test_length_bucket_batches_invariants(spark):
    """Every batch: <= batch_size docs, single (bucket, shard), and the
    bucket is the binary digit count of n_tok; assignment deterministic."""
    import math

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )
    out = T.length_bucket_batches(docs, batch_size=4, n_shards=8).collect()
    by_batch = {}
    for r in out:
        assert r.bucket == math.floor(math.log2(r.n_tok)) + 1, r
        by_batch.setdefault((r.bucket, r.shard, r.batch_id), []).append(r)
    assert all(len(v) <= 4 for v in by_batch.values())
    again = T.length_bucket_batches(docs, batch_size=4, n_shards=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # parameter guards fail at PLAN time, not as a mid-job ANSI
    # divide-by-zero / NULL-shard merge (review finding)
    with pytest.raises(ValueError, match="batch_size must be >= 1"):
        T.length_bucket_batches(docs, batch_size=0)
    with pytest.raises(ValueError, match="n_shards must be >= 1"):
        T.length_bucket_batches(docs, n_shards=0)


def _naive_bpe(texts, n_merges):
    """Independent reference BPE trainer (greedy, (n DESC, pair) ties)."""
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in t.split():
            if len(w) >= 2:
                words[w] += 1
    segs = {w: list(w) for w in words}
    merges = []
    for _ in range(n_merges):
        counts = Counter()
        for w, f in words.items():
            s = segs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += f
        if not counts:
            break
        (left, right), n = sorted(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )[0]
        merges.append((left, right, left + right, n))
        for w in segs:
            s, out, i = segs[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            segs[w] = out
    return merges


def test_train_bpe_matches_naive_trainer(spark):
    """Full iterative BPE training vs an independent Python trainer:
    identical merge tables (order, symbols, counts) on a corpus with
    repeated morphemes, overlapping merges, and a merged-symbol pair
    ('ab'+'ab' -> 'abab') that only exists after round 2."""
    texts = ["ababab ababab low lower", "low low lowest", "ababab"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = T.train_bpe(df, n_merges=6)
    want = _naive_bpe(texts, 6)
    assert got == want, (got, want)
    # sanity: later rounds merge MERGED symbols, not just characters
    assert any(len(left) > 1 or len(right) > 1 for left, right, _, _ in got)


def test_bpe_encode_roundtrip_with_trainer(spark):
    """Train on a corpus, encode the same corpus: counts match a naive
    rank-order BPE encoder, training words segment exactly as the
    trainer left them, and unseen words fall back to finer pieces."""
    texts = ["ababab ababab low lower", "low low lowest", "ababab"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = T.train_bpe(df, n_merges=6)
    ranks = {(m[0], m[1]): i for i, m in enumerate(merges)}

    def naive_count(text):
        total = 0
        for w in text.split():
            syms = list(w)
            while len(syms) >= 2:
                cands = [(ranks[(syms[i], syms[i + 1])], i)
                         for i in range(len(syms) - 1)
                         if (syms[i], syms[i + 1]) in ranks]
                if not cands:
                    break
                _, i = min(cands)
                syms[i:i + 2] = [syms[i] + syms[i + 1]]
            total += len(syms)
        return total

    extra = spark.createDataFrame(
        [(99, "ababx lowly unseen")], "doc_id long, text string"
    )
    got = {r.doc_id: r.n_bpe_tok for r in
           T.bpe_encode(df.unionByName(extra), merges).collect()}
    for i, t in enumerate(texts):
        assert got[i] == naive_count(t), (i, t)
    assert got[99] == naive_count("ababx lowly unseen")
    # a fully-merged training word costs 1 token
    one = T.bpe_encode(
        spark.createDataFrame([(0, "ababab")], "doc_id long, text string"),
        merges,
    ).first()
    want_one = naive_count("ababab")
    assert one.n_bpe_tok == want_one


def test_quantize_dequantize_roundtrip(spark, emb):
    """int8 range respected, zero vectors stay zero with scale 0, and
    dequantization reconstructs within one quantization step; the
    dequantized column feeds cosine_topk with high agreement."""
    import numpy as np

    z = spark.createDataFrame(
        [(9001, [0.0] * 64, 0)], "vec_id long, embedding array<float>, label int"
    )
    q = S.quantize_embeddings(emb.unionByName(z))
    rows = q.collect()
    for r in rows:
        assert len(r.qvec) == 64
        assert all(-127 <= v <= 127 for v in r.qvec), r.vec_id
        if r.vec_id == 9001:
            assert r.scale == 0.0 and set(r.qvec) == {0}
    back = S.dequantize_embeddings(q.drop("embedding"))
    orig = {r.vec_id: np.array(r.embedding, dtype="float64")
            for r in emb.collect()}
    for r in back.collect():
        if r.vec_id == 9001:
            continue
        v = orig[r.vec_id]
        err = np.abs(np.array(r.embedding, dtype="float64") - v)
        # bound: one quantization step + a float32 ulp of the value —
        # the max-magnitude component's ratio v/scale lands at 127 - 1
        # ulp and floors a full step low, and the dequantized output is
        # itself float32-rounded (ulp32(~0.3) ~ 3e-8 ~ 1e-5 * scale)
        assert (err <= r.scale * (1 + 1e-4)).all(), r.vec_id


def test_quantize_null_component_propagates(spark):
    """A NULL embedding component quantizes to NULL (least/greatest
    skip NULLs — an unguarded clamp fabricated +127) and dequantizes
    back to NULL, never to the vector's absmax."""
    df = spark.createDataFrame(
        [(1, [0.5, None, -0.25])], "vec_id long, embedding array<float>"
    )
    q = S.quantize_embeddings(df).first()
    assert q.qvec == [127, None, -64], q.qvec
    back = S.dequantize_embeddings(
        S.quantize_embeddings(df).drop("embedding")
    ).first()
    assert back.embedding[1] is None


def test_quantize_nonfinite_vector_nulls_not_zero_garbage(spark):
    """A NaN/Inf component must map the WHOLE vector to (NULL scale,
    NULL qvec) — the NULL-vec representation a filter can act on.
    Unguarded, NaN poisoned the absmax fold (Spark's greatest ranks
    NaN above everything): scale went NaN/Inf, every component —
    healthy ones included — quantized to 0 via floor(NaN), and
    dequantize resurrected the vector as all-NaN garbage feeding
    every downstream cosine/centroid."""
    emb = spark.createDataFrame(
        [(1, [1.0, float("nan"), 0.5]),
         (2, [float("inf"), 1.0]),
         (3, [1.0, None, -2.0])],
        "vec_id long, embedding array<double>",
    )
    q = S.quantize_embeddings(emb)
    rows = {r.vec_id: (r.scale, r.qvec) for r in q.collect()}
    assert rows[1] == (None, None) and rows[2] == (None, None)
    # healthy vectors (NULL components allowed) are untouched
    s3, q3 = rows[3]
    assert abs(s3 - 2.0 / 127) < 1e-15 and q3 == [63, None, -127]
    back = {r.vec_id: r.embedding
            for r in S.dequantize_embeddings(q.drop("embedding")).collect()}
    assert back[1] is None and back[2] is None


def test_containment_blank_docs_never_pair(spark):
    """Blank/NULL/whitespace-only docs have EMPTY gram sets after the
    '' sentinel removal: no containment pairs, no jaccard pairs, no
    division by zero — the quadratic blank-doc junk explosion is dead."""
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "real text here")],
        "doc_id long, text string",
    )
    assert D.containment_pairs(df, threshold=0.0).count() == 0
    # blank-blank pairs vanish (NULL jaccard); a blank-vs-real pair is
    # a legitimate 0.0 and only survives a degenerate 0.0 threshold
    assert D.ngram_jaccard_pairs(df, threshold=0.001).count() == 0


# ---------------------------------------------------------------------------
# SemDeDup (r13, r12 verdict #4): cluster-then-prune semantic dedup
# ---------------------------------------------------------------------------

def _semdedup_rows(spark, vecs, **kw):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    return {r["vec_id"]: r for r in S.semdedup(df, **kw).collect()}


def test_semdedup_one_pass_chain_semantics(spark):
    """The paper's upper-triangular formulation, NOT greedy-keeper: a
    removed member still removes later members. Unit vectors in one
    cluster, keep='farthest' (rank low-centroid-cos first):
    a(ccos .5) -> b(ccos .8) -> c(ccos .95); cos(a,b)=.9196 >= .9
    removes b, cos(b,c)=.9474 >= .9 removes c EVEN THOUGH b is itself
    removed (cos(a,c)=.7454 < .9 — greedy would have kept c)."""
    a = [0.5, 0.8660254, 0.0]
    b = [0.8, 0.6, 0.0]
    c = [0.95, 0.3122499, 0.0]
    got = _semdedup_rows(
        spark, [a, b, c], eps=0.9, codebook=[[1.0, 0.0, 0.0]],
        keep="farthest",
    )
    assert {k: r["kept"] for k, r in got.items()} == {
        0: True, 1: False, 2: False,
    }
    # closest reverses the ordering: c survives, b removed by c,
    # a removed by b (earlier in THAT ordering) despite b being removed
    got = _semdedup_rows(
        spark, [a, b, c], eps=0.9, codebook=[[1.0, 0.0, 0.0]],
        keep="closest",
    )
    assert {k: r["kept"] for k, r in got.items()} == {
        0: False, 1: False, 2: True,
    }


def test_semdedup_assignment_and_tiebreaks(spark):
    """argmax-cosine assignment with smallest-cluster tie-break, and a
    high eps keeps everything."""
    c0, c1 = [1.0, 0.0, 0.0], [0.0, 0.0, 1.0]
    vecs = [
        [0.9, 0.1, 0.0],   # cluster 0
        [0.0, 0.1, 0.9],   # cluster 1
        [0.0, 1.0, 0.0],   # cos 0 with BOTH centroids -> tie -> cluster 0
    ]
    got = _semdedup_rows(spark, vecs, eps=0.9999, codebook=[c0, c1])
    assert {k: r["cluster"] for k, r in got.items()} == {0: 0, 1: 1, 2: 0}
    assert all(r["kept"] for r in got.values())
    # members of DIFFERENT clusters never pair, however similar: two
    # near-identical vectors straddling the centroid boundary both keep
    straddle = [[0.7072, 0.0, 0.7070], [0.7070, 0.0, 0.7072]]
    got = _semdedup_rows(spark, straddle, eps=0.5, codebook=[c0, c1])
    assert {k: (r["cluster"], r["kept"]) for k, r in got.items()} == {
        0: (0, True), 1: (1, True),
    }


def test_semdedup_plan_no_cartesian_and_guards(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    seeds = [
        [float(x) for x in r[0]]
        for r in emb.select("embedding").orderBy("vec_id").limit(4).collect()
    ]
    out = S.semdedup(emb, eps=0.35, codebook=seeds)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the flag table covers the corpus exactly once
    assert out.count() == emb.count()
    with pytest.raises(ValueError, match="keep"):
        S.semdedup(emb, keep="random", codebook=seeds)


def test_semdedup_removals_are_sound(spark):
    """Containment vs brute force: every removed id has a genuine
    eps-neighbor in the full all-pairs relation (cluster pruning can
    MISS pairs, never invent them)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    seeds = [
        [float(x) for x in r[0]]
        for r in emb.select("embedding").orderBy("vec_id").limit(8).collect()
    ]
    removed = {
        r["vec_id"]
        for r in S.semdedup(emb, eps=0.35, codebook=seeds).collect()
        if not r["kept"]
    }
    assert removed, "planted threshold should remove something"
    pairs = S.embedding_dup_pairs(emb, threshold=0.35, all_pairs=True)
    has_neighbor = {
        x for r in pairs.collect() for x in (r["id_a"], r["id_b"])
    }
    assert removed <= has_neighbor, removed - has_neighbor


def test_semdedup_verify_kernel_degenerate_classes(spark):
    """The r14 applyInPandas pair-verify kernel must reproduce the JVM
    fold's degenerate classes exactly: a NULL vector or NULL component
    gave a NULL pair cosine (filter drops -> never removed, never
    removes), a length-mismatched pair gave NULL via zip_with padding,
    and equal-length short vectors still pair among themselves. The
    centroid_cos NULL (vs NaN) distinction must survive the Arrow
    round trip."""
    vecs = [
        [1.0, 0.0, 0.0],      # 0
        [1.0, 0.0, 0.0],      # 1 exact dup of 0
        [0.5, 0.5],           # 2 ragged (len 2)
        [0.5, 0.5],           # 3 ragged dup of 2
        None,                 # 4 NULL vector
        [1.0, None, 0.0],     # 5 NULL component
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r
        for r in S.semdedup(
            df, eps=0.95, codebook=[[1.0, 0.0, 0.0]]
        ).collect()
    }
    kept = {k: r["kept"] for k, r in got.items()}
    # the exact-dup pairs collapse within their length class; the
    # NULL-vec/NULL-comp rows neither remove nor get removed
    assert kept == {0: True, 1: False, 2: True, 3: False, 4: True,
                    5: True}
    # ragged/NULL rows assign NULL centroid_cos (NOT NaN) — the null
    # flag must restore the true NULL through the Arrow boundary
    for i in (2, 3, 4, 5):
        assert got[i]["centroid_cos"] is None, (i, got[i])
    assert got[0]["centroid_cos"] == 1.0


def test_cluster_balanced_sample_composition(spark):
    """semdedup -> rank_sample composition: at most k per cluster, only
    kept members eligible, deterministic under partition layout."""
    from polymarket_data_ingestor_spark.operators.sampling import rank_sample

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    seeds = [
        [float(x) for x in r[0]]
        for r in emb.select("embedding").orderBy("vec_id").limit(4).collect()
    ]
    flags = S.semdedup(emb, eps=0.35, codebook=seeds)
    sel = rank_sample(
        flags.filter(F.col("kept")), k=10,
        stratum_col="cluster", id_col="vec_id", seed=5,
    )
    rows = sel.collect()
    per = {}
    for r in rows:
        per[r["cluster"]] = per.get(r["cluster"], 0) + 1
    assert per and all(v <= 10 for v in per.values()), per
    kept_ids = {r["vec_id"] for r in flags.filter(F.col("kept")).collect()}
    assert {r["vec_id"] for r in rows} <= kept_ids
    again = rank_sample(
        S.semdedup(emb.repartition(7), eps=0.35, codebook=seeds)
        .filter(F.col("kept")),
        k=10, stratum_col="cluster", id_col="vec_id", seed=5,
    )
    assert sorted(r["vec_id"] for r in again.collect()) == sorted(
        r["vec_id"] for r in rows
    )


def test_semdedup_exact_duplicates_flagged_under_any_codebook(spark):
    """Codebook-INDEPENDENT invariant backing the rows-only
    semdedup_kmeans entry: identical vectors get identical centroid
    cosines, so they land in the same cluster under ANY codebook,
    tie-break by id, and the later copy is removed (cos = 1 >= eps) —
    exact duplicates can never survive semdedup. Run against the real
    MLlib-KMeans production path."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dupes = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(dupes)
    flags = S.semdedup(corpus, eps=0.95, n_clusters=4)
    got = {r["vec_id"]: r["kept"] for r in flags.collect()}
    for i in range(5):
        assert got[i] is True, i          # first copy survives
        assert got[100000 + i] is False, i  # exact duplicate flagged
    # determinism of the production path: same seed -> same flags
    again = {
        r["vec_id"]: r["kept"]
        for r in S.semdedup(corpus, eps=0.95, n_clusters=4).collect()
    }
    assert again == got


# ---------------------------------------------------------------------------
# PCA (similarity.py::fit_pca / pca_project)
# ---------------------------------------------------------------------------

def _pca_fixture_vecs(n=60, d=6, seed=11):
    """Deterministic anisotropic cloud: variance concentrated on two
    synthetic axes so the top-2 principal directions are unambiguous."""
    import numpy as np

    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n, d))
    base[:, 0] *= 9.0
    base[:, 1] *= 4.0
    base += rng.standard_normal(d) * 2.0  # nonzero mean
    return base


def test_fit_pca_matches_numpy(spark):
    import numpy as np

    x = _pca_fixture_vecs()
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    ).repartition(5)
    # float32 storage quantizes the input: compare numpy on the SAME
    # float32-rounded values the engine saw
    x32 = x.astype(np.float32).astype(np.float64)
    model = S.fit_pca(df, k=3)
    assert model["n"] == len(x32)
    assert model["mean"] == pytest.approx(x32.mean(axis=0), abs=1e-9)
    cov = np.cov(x32, rowvar=False)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:3]
    want_ev = evals[order]
    assert model["explained_variance"] == pytest.approx(want_ev, rel=1e-9)
    got = np.array(model["components"])
    want = evecs[:, order].T
    for row in want:
        if row[np.argmax(np.abs(row))] < 0:
            row *= -1.0
    assert got == pytest.approx(want, abs=1e-8)
    # rows orthonormal
    assert got @ got.T == pytest.approx(np.eye(3), abs=1e-9)
    # variance ordering is descending
    ev = model["explained_variance"]
    assert ev == sorted(ev, reverse=True)


def test_fit_pca_partition_layout_tolerance_and_guards(spark):
    import numpy as np

    x = _pca_fixture_vecs(n=40)
    rows = [(i, [float(v) for v in row]) for i, row in enumerate(x)]
    df1 = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(2)
    df7 = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(7)
    m1, m7 = S.fit_pca(df1, k=2), S.fit_pca(df7, k=2)
    # layout moves only last-ulp float combine order, never the result
    # beyond tolerance (the documented engine-specific fit contract)
    assert np.array(m1["components"]) == pytest.approx(
        np.array(m7["components"]), abs=1e-9
    )
    with pytest.raises(ValueError, match="k must be"):
        S.fit_pca(df1, k=99)
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty input"):
        S.fit_pca(empty, k=2)
    with pytest.raises(ValueError, match="need >= 2"):
        S.fit_pca(df1.limit(1), k=2)
    with pytest.raises(Exception, match="ragged"):
        S.fit_pca(
            spark.createDataFrame(
                [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])],
                "vec_id long, embedding array<float>",
            ),
            k=1,
        )


def test_pca_project_matches_python_fold_and_reconstructs(spark):
    """Projection under a PINNED rotation is a deterministic pure
    function: exactly the sequential (v - mean) @ C fold, and with
    k = d the rotation is lossless (reconstruction recovers the
    centered vectors)."""
    import numpy as np

    x = _pca_fixture_vecs(n=30, d=4)
    rows = [(i, [float(v) for v in row]) for i, row in enumerate(x)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    model = S.fit_pca(df, k=4)
    got = {
        r["vec_id"]: r["pca"]
        for r in S.pca_project(df, model).collect()
    }

    def seq_fold(vec, mean, comp):
        out = []
        for row in comp:
            acc = 0.0
            for v, m, c in zip(vec, mean, row):
                acc += (float(np.float32(v)) - m) * c
            out.append(acc)
        return out

    for i, vec in rows:
        want = seq_fold(vec, model["mean"], model["components"])
        # BIT equality, not approx: the engine fold and the python fold
        # run the identical sequential IEEE double ops in the identical
        # order over identical literals
        assert got[i] == want, i
    # k = d: reconstruction is exact up to float tolerance
    c = np.array(model["components"])
    mu = np.array(model["mean"])
    x32 = x.astype(np.float32).astype(np.float64)
    for i, vec in rows[:5]:
        back = np.array(got[i]) @ c + mu
        assert back == pytest.approx(x32[i], abs=1e-6)
    # plan gate: projection is pure Catalyst, zero shuffle, zero Python
    plan = (
        S.pca_project(df, model)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan
    with pytest.raises(ValueError, match="dimension mismatch"):
        S.pca_project(df, {"mean": [0.0, 0.0], "components": [[1.0]]})


def test_pca_project_subspace_matches_mllib_production_path(spark):
    """Rotation-independent twin for the rows-only
    pca_project_embeddings entry, in the semdedup_kmeans style (r13
    verdict #8): fit the SAME float32-quantized cloud with our
    distributed (n, Σx, XᵀX) fit AND with MLlib's production PCA, then
    pin the projected GEOMETRY — pairwise distances in the k-space.
    Distances are invariant to the basis orientation inside the fitted
    subspace AND to centering (MLlib transforms uncentered vectors;
    ours centers — the translation cancels in differences), so the two
    independent implementations must agree on them whenever they agree
    on the principal subspace itself. The fixture's eigengaps (9x/4x
    axes) make that subspace unambiguous."""
    import numpy as np

    from pyspark.ml.feature import PCA as MLPCA
    from pyspark.ml.functions import array_to_vector

    x = _pca_fixture_vecs(n=50, d=6)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    )
    model = S.fit_pca(df, k=2)
    ours = {
        r["vec_id"]: np.array(r["pca"])
        for r in S.pca_project(df, model).collect()
    }
    vdf = df.select(
        "vec_id",
        array_to_vector(
            F.col("embedding").cast("array<double>")
        ).alias("features"),
    )
    ml = MLPCA(k=2, inputCol="features", outputCol="p").fit(vdf)
    theirs = {
        r["vec_id"]: r["p"].toArray()
        for r in ml.transform(vdf).collect()
    }
    ids = sorted(ours)
    for a in ids[:12]:
        for b in ids[12:24]:
            d_ours = float(np.linalg.norm(ours[a] - ours[b]))
            d_ml = float(np.linalg.norm(theirs[a] - theirs[b]))
            assert d_ours == pytest.approx(d_ml, rel=1e-5), (a, b)
    # and the explained top-2 variance mass agrees with MLlib's
    # explainedVariance ratios applied to the total
    x32 = x.astype(np.float32).astype(np.float64)
    total = np.trace(np.cov(x32, rowvar=False))
    ml_var = np.array(ml.explainedVariance.toArray()) * total
    assert model["explained_variance"] == pytest.approx(
        ml_var, rel=1e-4
    )


def test_fit_pca_plan_one_kernel_one_exchange(spark, emb):
    """The fit's distributed half moves <= 1+d+d^2 rows through ONE
    exchange: a single ArrowEvalPython (the numpy partial kernel) and a
    single aggregate exchange on the position key."""
    import re

    probe = emb.select(F.size("embedding").alias("d")).first()
    d = int(probe["d"])
    # exercise the real fit and check its job ran with the documented
    # shape by reconstructing the same plan fragment
    model = S.fit_pca(emb, k=4)
    assert len(model["components"]) == 4
    assert len(model["components"][0]) == d
    plan = (
        emb.select("embedding")
        .mapInPandas(lambda it: it, "vals array<double>")
        .select(F.posexplode("vals").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("v"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"ArrowEvalPython|MapInPandas", plan)) == 1, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_pca_project_guards_ride_the_value_column(spark):
    """Wrong-dimension vectors RAISE from the projected column itself
    (zip_with would otherwise pad with silent NULLs); NULL vectors pass
    through as NULL; NaN components refuse at fit time."""
    import numpy as np

    x = _pca_fixture_vecs(n=20, d=3)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    )
    model = S.fit_pca(df, k=2)
    bad = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="3-dim but vector has 2"):
        S.pca_project(bad, model).select("pca").collect()
    # ... and the raise survives projecting ONLY the output column
    with pytest.raises(Exception, match="3-dim"):
        S.pca_project(bad, model).select(
            F.element_at("pca", 1)
        ).collect()
    nulls = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<float>"
    )
    assert S.pca_project(nulls, model).first()["pca"] is None
    # NULL whole vectors are excluded from the fit; NaN components raise
    mixed = df.unionByName(nulls)
    m2 = S.fit_pca(mixed, k=2)
    assert m2["n"] == 20
    assert np.array(m2["components"]) == pytest.approx(
        np.array(model["components"]), abs=1e-12
    )
    nan = spark.createDataFrame(
        [(1, [1.0, float("nan"), 2.0]), (2, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="NaN"):
        S.fit_pca(nan, k=1)
    # a NULL COMPONENT inside a right-length vector raises from the
    # value column too (review finding: it previously flowed out as a
    # silent k-element array of NULLs)
    nullcomp = spark.createDataFrame(
        [(1, [1.0, None, 2.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="NULL vector component"):
        S.pca_project(nullcomp, model).select("pca").collect()
    # probe robustness (review finding, was layout-dependent): a NULL
    # vector physically FIRST must not fail the fit
    null_first = spark.createDataFrame(
        [(0, None)] + [(i + 1, [float(v) for v in row]) for i, row
                       in enumerate(x)],
        "vec_id long, embedding array<float>",
    ).coalesce(1)
    m3 = S.fit_pca(null_first, k=2)
    assert m3["n"] == 20
    # ragged vectors in ONE partition get the designed message, not an
    # opaque numpy inhomogeneous-shape error (review finding)
    ragged1p = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<float>",
    ).coalesce(1)
    with pytest.raises(Exception, match="ragged"):
        S.fit_pca(ragged1p, k=1)


def test_random_projection_matches_python_fold_and_determinism(spark):
    """JL sign projection: BIT-equal to the sequential python fold over
    the same hash-derived sign matrix; pure function of (seed, dims) —
    layout-independent, seed-sensitive; zero-shuffle zero-Python plan;
    shares pca_project's value-column guards."""
    import math

    from polymarket_data_ingestor_spark.operators.dedup import _h32

    x = _pca_fixture_vecs(n=25, d=6)
    rows = [(i, [float(v) for v in row]) for i, row in enumerate(x)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r["rp"]
        for r in S.random_projection(df, out_dim=4, seed=3).collect()
    }
    import numpy as np

    inv = 1.0 / math.sqrt(4.0)
    for i, vec in rows:
        want = []
        for j in range(4):
            acc = 0.0
            for p, v in enumerate(vec):
                s = 1.0 if _h32(f"rp3:{j}:{p}") % 2 == 0 else -1.0
                acc += float(np.float32(v)) * s
            want.append(acc * inv)
        assert out[i] == want, i  # BIT equality, same IEEE op sequence
    # layout independence and seed sensitivity
    again = {
        r["vec_id"]: r["rp"]
        for r in S.random_projection(
            df.repartition(7), out_dim=4, seed=3
        ).collect()
    }
    assert again == out
    other = {
        r["vec_id"]: r["rp"]
        for r in S.random_projection(df, out_dim=4, seed=4).collect()
    }
    assert other != out
    # plan: pure projection
    plan = (
        S.random_projection(df, out_dim=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "EvalPython" not in plan, plan
    # guards (the pca_project family)
    with pytest.raises(Exception, match="sign matrix is"):
        S.random_projection(
            spark.createDataFrame(
                [(1, [1.0])], "vec_id long, embedding array<float>"
            ).unionByName(df),
            out_dim=2,
        ).collect()
    with pytest.raises(ValueError, match="out_dim"):
        S.random_projection(df, out_dim=0)
    nulls = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<float>"
    )
    assert S.random_projection(
        nulls.unionByName(df).coalesce(1), out_dim=2
    ).filter(F.col("vec_id") == 1).first()["rp"] is None


def test_label_centroids_refuses_null_component(spark):
    """A NULL component silently shrank its dimension's mean toward 0
    (SUM skips NULLs, the count does not — reproduced: mean of
    [NULL, 4.0] came back 2.0). The refusal must ride the summed value
    so no projection pruning can skip it; whole-NULL vectors stay
    excluded-by-absence (posexplode emits no rows)."""
    bad = spark.createDataFrame(
        [("a", [1.0, None]), ("a", [3.0, 4.0])],
        "label string, embedding array<double>",
    )
    with pytest.raises(Exception, match="NULL vector component"):
        S.label_centroids(bad).collect()
    # a whole-NULL vector is absence, not corruption: excluded from
    # the mean AND from n_vecs
    absent = spark.createDataFrame(
        [("a", None), ("a", [3.0, 4.0])],
        "label string, embedding array<double>",
    )
    got = S.label_centroids(absent).collect()
    assert len(got) == 1
    assert got[0]["n_vecs"] == 1
    assert list(got[0]["centroid"]) == [3.0, 4.0]


def test_cosine_topk_refuses_zero_norm_vectors(spark, emb):
    """numpy yields NaN for a zero-norm cosine and Spark ranks NaN
    FIRST in a desc window (NaN > any double) while the kernel's
    lexsort ranks it LAST — a zero-norm vector surviving a sparse
    partition's local top-k would take rank 1 in the merge. Both
    kernel paths must refuse loudly instead (the JVM paths already do,
    via ANSI DIVIDE_BY_ZERO)."""
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dim = len(emb.first()["embedding"])
    zero = spark.createDataFrame(
        [(999999, [0.0] * dim)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="zero-norm or non-finite corpus"):
        S.cosine_topk(
            emb.select("vec_id", "embedding").unionByName(zero),
            queries, k=3,
        ).collect()
    zq = spark.createDataFrame(
        [(999999, [0.0] * dim)],
        "query_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="zero-norm or non-finite query"):
        S.cosine_topk(emb, queries.unionByName(zq), k=3)
    # a NaN component re-opens the same door through a non-zero norm:
    # vn/qn go NaN, pass an ==0 check, and the NaN cosine again ranks
    # first in the Spark merge — the guard must be non-finite-wide
    nanq = spark.createDataFrame(
        [(999998, [float("nan")] + [1.0] * (dim - 1))],
        "query_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="zero-norm or non-finite query"):
        S.cosine_topk(emb, queries.unionByName(nanq), k=3)
    nanv = spark.createDataFrame(
        [(999998, [float("nan")] + [1.0] * (dim - 1))],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="zero-norm or non-finite corpus"):
        S.cosine_topk(
            emb.select("vec_id", "embedding").unionByName(nanv),
            queries, k=3,
        ).collect()


def test_jvm_cosine_paths_refuse_nonfinite_norm(spark, emb):
    """The JVM cosine fold (lsh/ivf/dup_pairs/semdedup) refuses a
    NaN-component vector loudly via the _norm guard — previously the
    NaN cosine flowed silently into desc ranking windows, where Spark
    orders NaN ABOVE every real score (rank 1 garbage)."""
    dim = len(emb.first()["embedding"])
    nanv = spark.createDataFrame(
        [(999998, [float("nan")] + [1.0] * (dim - 1))],
        "vec_id long, embedding array<float>",
    )
    poisoned = emb.select("vec_id", "embedding").unionByName(nanv)
    with pytest.raises(Exception, match="non-finite vector norm"):
        S.embedding_dup_pairs(poisoned, threshold=0.9).collect()


def test_pq_topk_refuses_zero_norm_query(spark, emb):
    dim = len(emb.first()["embedding"])
    zq = spark.createDataFrame(
        [(999999, [0.0] * dim)],
        "query_id long, embedding array<float>",
    )
    codebooks = [
        [[1.0] * (dim // 4), [-1.0] * (dim // 4)] for _ in range(4)
    ]
    with pytest.raises(ValueError, match="zero-norm or non-finite query"):
        S.pq_topk(emb, zq, k=3, codebooks=codebooks)


def test_remove_boilerplate_lines_refuses_null_id(spark):
    """groupBy puts every NULL key in ONE group: two NULL-id docs came
    back as a single row with their lines INTERLEAVED ('a\\nb' + 'c\\nd'
    -> 'a\\nc\\nb\\nd', reproduced). The regroup key has no usable
    identity — refuse loudly (the pack_sequences convention), riding
    the id expression so no pruning can skip it."""
    docs = spark.createDataFrame(
        [(None, "a\nb"), (None, "c\nd"), (1, "x\ny")],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="NULL doc_id"):
        D.remove_boilerplate_lines(docs, min_docs=99).collect()


def test_drop_dup_clusters_passes_null_id_through(spark):
    """A NULL id can appear in no pair, so it is never a duplicate —
    but the old left-semi keep-join silently DROPPED it (NULL never
    equi-matches) while the sibling materializers (drop_exact_dupes,
    drop_near_dupes) pass NULL-id rows through. All three now agree."""
    df = spark.createDataFrame(
        [(1, "t1"), (2, "t1"), (None, "solo")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    kept = sorted(
        (r.doc_id for r in D.drop_dup_clusters(df, pairs).collect()),
        key=lambda x: (x is None, x),
    )
    assert kept == [1, None]
    near = sorted(
        (r.doc_id for r in D.drop_near_dupes(df, pairs).collect()),
        key=lambda x: (x is None, x),
    )
    assert near == [1, None]  # the convention drop_dup_clusters now shares


def test_hamming_pairs_refuses_degenerate_bands(spark):
    """max_distance + 1 > bits makes some band masks zero-width: every
    signature shares band key 0 and the candidate join silently goes
    quadratic (reproduced: 15/15 pairs at max_distance=40, bits=32)."""
    sig = spark.createDataFrame(
        [(i, i) for i in range(4)], "doc_id long, simhash long"
    )
    with pytest.raises(ValueError, match="all_pairs=True"):
        D.hamming_pairs(sig, max_distance=40, bits=32)
    # the all-pairs escape hatch stays available
    assert D.hamming_pairs(
        sig, max_distance=40, bits=32, all_pairs=True
    ).count() == 6


def test_extract_features_null_payload_passthrough(spark):
    """resize_media and attach_payload both emit NULL payloads for
    missing inputs, but extract_features crashed the composition with
    an opaque mid-kernel TypeError (bytes(None) / int(None) —
    reproduced). NULL payloads now flow through as NULL-feature rows;
    the featurizer is never called on them."""
    docs = spark.createDataFrame(
        [(1, "hello"), (2, None)], "doc_id long, text string"
    )
    feats = {r.doc_id: r for r in
             M.extract_features(M.attach_payload(docs)).collect()}
    assert feats[1].features is not None and feats[1].n_bytes == 5
    assert feats[2].features is None
    assert feats[2].n_bytes is None and feats[2].digest is None
    # a poisoning featurizer proves the kernel never ran on the NULL
    def boom(payload):
        raise AssertionError("featurizer called on NULL payload")
    only_null = M.attach_payload(docs.filter(F.col("doc_id") == 2))
    out = M.extract_features(only_null, featurizer=boom).collect()
    assert len(out) == 1 and out[0].features is None


def test_frame_sample_refuses_zero_stride(spark):
    """every_n_bytes=0 was a mid-job ANSI DIVIDE_BY_ZERO (the
    length_bucket_batches class); refuse at plan time."""
    docs = spark.createDataFrame([(1, "hello")], "doc_id long, text string")
    media = M.attach_payload(docs)
    with pytest.raises(ValueError, match="every_n_bytes"):
        M.frame_sample(media, every_n_bytes=0)
    with pytest.raises(ValueError, match="every_n_bytes"):
        M.frame_sample(media, every_n_bytes=-4)


def test_h32_cached_equals_h32_and_bounds_memory():
    """The r14 kernel-hash memo: identical values to _h32 (it delegates
    on miss, so this pins the cache plumbing, not the hash), and the
    memo clears at its cap instead of growing unboundedly inside a
    reused Python worker."""
    from polymarket_data_ingestor_spark.operators import dedup as D

    words = [f"tok{i}" for i in range(64)] + ["", " ", "a b", "tok1"]
    assert [D._h32_cached(w) for w in words] == [D._h32(w) for w in words]
    # hit path returns the same value
    assert D._h32_cached("tok1") == D._h32("tok1")
    old_cap, old_memo = D._H32_MEMO_CAP, dict(D._H32_MEMO)
    try:
        D._H32_MEMO_CAP = 4
        D._H32_MEMO.clear()
        for w in words:
            assert D._h32_cached(w) == D._h32(w)
        assert len(D._H32_MEMO) <= 4
    finally:
        D._H32_MEMO_CAP = old_cap
        D._H32_MEMO.clear()
        D._H32_MEMO.update(old_memo)
