"""Property-based tests for the r13 selection operators.

Hypothesis drives semdedup and the DSIR family against naive Python
models over small randomized inputs. Few examples (each runs real Spark
jobs) but adversarial shapes: duplicate vectors, centroid ties, empty
docs, single-token docs, weights that tie.

Float fidelity: vector components are multiples of 0.25 in [-2, 2] —
exactly representable in float32 — so the python model's sequential
float64 folds are bit-identical to Spark's array folds over the
float32-typed column (same IEEE ops, same order).
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter
from decimal import Decimal

from hypothesis import given, settings, strategies as st

from polymarket_data_ingestor_spark.operators.dedup import _py_tokens
from polymarket_data_ingestor_spark.operators.sampling import (
    dsir_log_weights,
    dsir_resample,
)
from polymarket_data_ingestor_spark.operators.similarity import semdedup

# non-zero guaranteed: the first component is never 0
_comp = st.sampled_from([x * 0.25 for x in range(-8, 9)])
_nz = st.sampled_from([x * 0.25 for x in range(-8, 9) if x != 0])
_vec = st.tuples(_nz, _comp, _comp).map(list)

vec_corpora = st.tuples(
    st.lists(_vec, min_size=2, max_size=8),   # corpus
    st.lists(_vec, min_size=1, max_size=3),   # codebook
    st.sampled_from([0.2, 0.5, 0.8, 0.95]),   # eps
    st.sampled_from(["farthest", "closest"]),
)


def _dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _norm(a):
    acc = 0.0
    for x in a:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def _cos(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _py_semdedup(vecs, codebook, eps, keep):
    """Pure-python SemDeDup: argmax-cosine assignment (tie -> smallest
    cluster), (ccos, id) ordering, one-pass upper-triangular removal."""
    rows = []
    for i, v in enumerate(vecs):
        cos = [_cos(v, c) for c in codebook]
        best = max(cos)
        cl = cos.index(best)  # first occurrence = smallest cluster
        rows.append({"id": i, "v": v, "cluster": cl, "ccos": best})
    out = {}
    for cl in {r["cluster"] for r in rows}:
        members = [r for r in rows if r["cluster"] == cl]
        members.sort(
            key=lambda r: (
                r["ccos"] if keep == "farthest" else -r["ccos"],
                r["id"],
            )
        )
        for j, rj in enumerate(members):
            removed = any(
                _cos(ri["v"], rj["v"]) >= eps for ri in members[:j]
            )
            out[rj["id"]] = (cl, not removed)
    return out


@given(vec_corpora)
@settings(max_examples=5, deadline=None)
def test_semdedup_matches_python_model(spark, corpus):
    vecs, codebook, eps, keep = corpus
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["cluster"], r["kept"])
        for r in semdedup(df, eps=eps, codebook=codebook, keep=keep)
        .collect()
    }
    assert got == _py_semdedup(vecs, codebook, eps, keep)


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


_B = 10_000


def _py_dsir(raw, target):
    """Pure-python DSIR: hashed unigram+bigram buckets, add-one
    smoothing, exact Decimal per-doc sums of 9-dp-rounded log ratios
    — and the Gumbel-top-k key."""

    def feats(text):
        toks = [t for t in _py_tokens(text or "") if t != ""]
        grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        return [_h32(g) % _B for g in grams]

    q = Counter(b for _, t in raw for b in feats(t))
    p = Counter(b for _, t in target for b in feats(t))
    qt, pt = sum(q.values()), sum(p.values())
    out = {}
    for did, t in raw:
        fs = feats(t)
        if not fs:
            continue
        lw = sum(
            (
                Decimal(
                    str(
                        round(
                            math.log((p.get(b, 0) + 1.0) / (pt + _B))
                            - math.log((q[b] + 1.0) / (qt + _B)),
                            9,
                        )
                    )
                )
                for b in fs
            ),
            Decimal(0),
        )
        u = (_h32(f"s1:{did}") + 0.5) / 2.0**32
        g = Decimal(str(round(-math.log(-math.log(u)), 9)))
        out[did] = (len(fs), lw, lw + g)
    return out


_doc = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=8
).map(" ".join)
doc_corpora = st.tuples(
    st.lists(_doc, min_size=1, max_size=6),
    st.lists(_doc, min_size=1, max_size=3),
    st.integers(min_value=1, max_value=4),
)


@given(doc_corpora)
@settings(max_examples=5, deadline=None)
def test_dsir_matches_python_model(spark, corpus):
    texts, ttexts, k = corpus
    raw = list(enumerate(texts))
    target = [(100 + i, t) for i, t in enumerate(ttexts)]
    rdf = spark.createDataFrame(raw, "doc_id long, text string")
    tdf = spark.createDataFrame(target, "doc_id long, text string")
    want = _py_dsir(raw, target)

    got = {
        r["doc_id"]: (r["n_feats"], r["log_weight"])
        for r in dsir_log_weights(rdf, tdf).collect()
    }
    assert got == {d: (n, float(lw)) for d, (n, lw, _) in want.items()}

    # resample = top-k of the EXACT decimal gumbel key, ties by id
    sel = sorted(
        r["doc_id"] for r in dsir_resample(rdf, tdf, k=k, seed=1).collect()
    )
    ranked = sorted(want.items(), key=lambda kv: (-kv[1][2], kv[0]))
    assert sel == sorted(d for d, _ in ranked[:k])
