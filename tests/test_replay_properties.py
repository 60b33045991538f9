"""Property-based kernel tests (SURVEY §5 plan item 2).

Hypothesis drives the packed replay kernel directly (no Spark session —
the kernel is a pure pandas function) against an independent model built
from plain dicts, over randomized message sequences: snapshots, diffs
(including deletes of missing levels), trades, interleaved assets, and
arbitrary arrival order vs sort keys.
"""

from __future__ import annotations

import json

import pandas as pd
from hypothesis import given, settings, strategies as st

from polymarket_data_ingestor_spark.operators.replay import (
    KIND_BOOK,
    KIND_CHANGE,
    KIND_TRADE,
    REPLAY_OUTPUT_SCHEMA,
    TICK_COLUMNS,
    _replay_group,
    _replay_partition,
)
from polymarket_data_ingestor_spark.streaming.live import _live_kernel

prices = st.integers(1, 60).map(lambda i: round(0.3 + i * 0.01, 2))
sizes = st.integers(0, 50).map(float)


@st.composite
def message(draw):
    kind = draw(st.sampled_from([KIND_BOOK, KIND_CHANGE, KIND_TRADE]))
    if kind == KIND_BOOK:
        def side_levels():
            ps = draw(st.lists(prices, max_size=5, unique=True))
            return [x for p in ps for x in (p, draw(sizes.filter(lambda s: s > 0)))]
        return kind, side_levels(), side_levels(), None
    if kind == KIND_CHANGE:
        n = draw(st.integers(1, 3))
        flat = []
        for _ in range(n):
            p = draw(prices)
            side = draw(st.sampled_from([1.0, 0.0]))  # BUY / SELL
            flat += [p, draw(sizes), side]  # size 0 ⇒ delete
        return kind, None, None, flat
    side = draw(st.sampled_from([1.0, 0.0]))
    return kind, None, None, [draw(prices), draw(sizes), side]


def model_replay(msgs):
    """Independent model: plain dict book, explicit rules."""
    bids, asks = {}, {}
    rows = []
    for i, (kind, b, a, c) in enumerate(msgs):
        ts, mkt, asset = str(1000 + i), "m", "x"
        if kind == KIND_TRADE:
            p, sz, sd = c
            rows.append((ts, "TRADE", mkt, asset,
                         "BID" if sd == 1.0 else "ASK", p, sz))
            continue
        if kind == KIND_BOOK:
            bids = dict(zip(b[0::2], b[1::2]))
            asks = dict(zip(a[0::2], a[1::2]))
        else:
            for p, sz, sd in zip(c[0::3], c[1::3], c[2::3]):
                levels = bids if sd == 1.0 else asks
                if sz == 0:
                    levels.pop(p, None)
                else:
                    levels[p] = sz
        ask = (min(asks), asks[min(asks)]) if asks else (0.0, 0.0)
        bid = (max(bids), bids[max(bids)]) if bids else (0.0, 0.0)
        rows.append((ts, "BBO", mkt, asset, "ASK", ask[0], ask[1]))
        rows.append((ts, "BBO", mkt, asset, "BID", bid[0], bid[1]))
    return rows


@given(st.lists(message(), min_size=1, max_size=40),
       st.randoms(use_true_random=False))
@settings(max_examples=200, deadline=None)
def test_kernel_matches_model_any_arrival_order(msgs, rng):
    pdf = pd.DataFrame(
        {
            "kind_code": [m[0] for m in msgs],
            "timestamp": [str(1000 + i) for i in range(len(msgs))],
            "market": ["m"] * len(msgs),
            "asset_id": ["x"] * len(msgs),
            "bids_flat": [m[1] for m in msgs],
            "asks_flat": [m[2] for m in msgs],
            "changes_flat": [m[3] for m in msgs],
            "file_hour": ["h"] * len(msgs),
            "line_id": list(range(len(msgs))),
            "msg_idx": [0] * len(msgs),
        }
    )
    # arrival order is adversarial: the kernel must restore sort-key order
    pdf = pdf.sample(frac=1, random_state=rng.randint(0, 2**31)).reset_index(
        drop=True
    )
    got = _replay_group(pdf)
    got_rows = [tuple(r) for r in got[TICK_COLUMNS].itertuples(index=False)]
    assert got_rows == model_replay(msgs)


@given(st.lists(message(), min_size=1, max_size=30))
@settings(max_examples=100, deadline=None)
def test_kernel_row_count_invariants(msgs):
    pdf = pd.DataFrame(
        {
            "kind_code": [m[0] for m in msgs],
            "timestamp": [str(i) for i in range(len(msgs))],
            "market": ["m"] * len(msgs),
            "asset_id": ["x"] * len(msgs),
            "bids_flat": [m[1] for m in msgs],
            "asks_flat": [m[2] for m in msgs],
            "changes_flat": [m[3] for m in msgs],
            "file_hour": ["h"] * len(msgs),
            "line_id": list(range(len(msgs))),
            "msg_idx": [0] * len(msgs),
        }
    )
    got = _replay_group(pdf)
    n_book = sum(1 for m in msgs if m[0] != KIND_TRADE)
    n_trade = len(msgs) - n_book
    assert (got["kind"] == "BBO").sum() == 2 * n_book
    assert (got["kind"] == "TRADE").sum() == n_trade
    # ask row always precedes its bid row (emit_idx 0 then 1)
    bbo = got[got["kind"] == "BBO"]
    assert (bbo[bbo["emit_idx"] == 0]["side"] == "ASK").all()
    assert (bbo[bbo["emit_idx"] == 1]["side"] == "BID").all()


@st.composite
def sorted_partition(draw):
    """Messages of several interleaved group keys, sorted as the replay
    exchange delivers a partition (group key, then the replay key) and
    cut into Arrow-batch-like frames, with at least one cut inside a
    group. Keys are plain assets, or (asset, segment) pairs that share
    assets; a rejected message (NULL flat array) may start a group."""
    split = draw(st.booleans())
    group_cols = ["asset_id", "__segment"] if split else ["asset_id"]
    assets = ["a1", "a2", "a3"]
    segments = ["", "h#1", "h#4"] if split else [""]
    keys = st.tuples(st.sampled_from(assets), st.sampled_from(segments))
    rows = []
    for i, m in enumerate(draw(st.lists(message(), min_size=2,
                                        max_size=60))):
        kind, b, a, c = m
        if draw(st.integers(0, 9)) == 0:  # rejected by the packing pass
            b, a, c = (None, None, c) if kind == KIND_BOOK else (b, a, None)
        asset, seg = draw(keys)
        rows.append({
            "asset_id": asset, "__segment": seg,
            "file_hour": draw(st.sampled_from(["h0", "h1"])),
            "line_id": i, "msg_idx": draw(st.integers(0, 2)),
            "timestamp": str(1000 + i), "market": "m" + asset,
            "kind_code": kind,
            "bids_flat": b, "asks_flat": a, "changes_flat": c,
        })
    pdf = pd.DataFrame(rows)
    if not split:
        pdf = pdf.drop(columns="__segment")
    pdf = pdf.sort_values([*group_cols, "file_hour", "line_id", "msg_idx"],
                          kind="mergesort").reset_index(drop=True)
    # one cut inside a group that has at least two rows, plus random cuts
    key = pdf[group_cols].apply(tuple, axis=1)
    inner = [i for i in range(1, len(pdf)) if key[i] == key[i - 1]]
    cuts = set(draw(st.lists(st.integers(0, len(pdf)), max_size=4)))
    if inner:
        cuts.add(draw(st.sampled_from(inner)))
    bounds = [0, *sorted(cuts), len(pdf)]
    frames = [pdf.iloc[lo:hi].reset_index(drop=True)
              for lo, hi in zip(bounds, bounds[1:])]
    return group_cols, pdf, frames


@given(sorted_partition())
@settings(max_examples=200, deadline=None)
def test_partition_kernel_matches_per_group_kernel(case):
    """One sorted pass over a partition, with keys spanning frame
    boundaries, equals the per-group kernel run on each group alone."""
    group_cols, pdf, frames = case
    got = pd.concat(list(_replay_partition(iter(frames), group_cols)),
                    ignore_index=True)
    want = pd.concat([_replay_group(g) for _, g in
                      pdf.groupby(group_cols, sort=True)],
                     ignore_index=True)
    cols = REPLAY_OUTPUT_SCHEMA.fieldNames()
    assert list(got.columns) == cols
    pd.testing.assert_frame_equal(got, want[cols])


class _FakeGroupState:
    """The slice of ``GroupState`` the live kernel uses. The state tuple
    goes through JSON on every update, as it would through a state store
    between micro-batches."""

    def __init__(self):
        self._value = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return tuple(json.loads(self._value))

    def update(self, value):
        self._value = json.dumps(list(value))


@given(st.lists(message(), min_size=1, max_size=40), st.data())
@settings(max_examples=100, deadline=None)
def test_live_kernel_carries_book_across_micro_batches(msgs, data):
    """The live state function, fed one asset's feed as random
    micro-batches (each shuffled and cut into Arrow-like chunks), emits
    what one replay of the whole feed emits."""
    rejected = data.draw(st.lists(st.booleans(), min_size=len(msgs),
                                  max_size=len(msgs)))
    rows = []
    for i, ((kind, b, a, c), bad) in enumerate(zip(msgs, rejected)):
        if bad:  # rejected by the packing pass
            b, a, c = (None, None, c) if kind == KIND_BOOK else (b, a, None)
        rows.append({
            "asset_id": "x", "file_hour": "h", "line_id": i, "msg_idx": 0,
            "timestamp": str(1000 + i), "market": "m", "kind_code": kind,
            "bids_flat": b, "asks_flat": a, "changes_flat": c,
        })
    pdf = pd.DataFrame(rows)
    cuts = data.draw(st.lists(st.integers(1, len(pdf)), max_size=4))
    bounds = sorted({0, *cuts, len(pdf)})
    state = _FakeGroupState()
    got = []
    for lo, hi in zip(bounds, bounds[1:]):
        batch = pdf.iloc[lo:hi].sample(
            frac=1, random_state=data.draw(st.integers(0, 2**31 - 1)))
        n_chunks = data.draw(st.integers(1, 3))
        chunks = [batch.iloc[j::n_chunks] for j in range(n_chunks)]
        got.extend(_live_kernel(("x",), iter(chunks), state))
    got = pd.concat(got, ignore_index=True)
    want = _replay_group(pdf)[TICK_COLUMNS]
    pd.testing.assert_frame_equal(got, want)
