"""Deterministic framed feed-log fixtures + a naive replay oracle.

Generates the FIXTURES.md §1-§2 shapes: hourly ``YYYY-MM-DD-HH.jsonl`` files
whose first line is an ``active_markets`` frame, followed by ``feed_message``
frames with double-encoded content, PONG lines, and the full golden-scenario
coverage (snapshot→diff→reset, diff-before-snapshot, side-emptying deletes,
interleaved trades/assets/markets, unknown event types).

The oracle (`naive_replay`) is an independent re-implementation of the
reference semantics over plain Python lists — deliberately structured
differently from the Spark kernel (sorted-list book vs dict book) so a shared
bug is unlikely.
"""

from __future__ import annotations

import json
import random
from decimal import Decimal
from pathlib import Path

N_MARKETS = 4
ASSETS_PER_MARKET = 2

#: Probability mass concentrated on assets[0] when generating messages —
#: 0.0 keeps the uniform spread; perfbench sets ~0.5 to build the
#: hot-asset skew fixture (one asset carrying half of all messages).
HOT_ASSET_WEIGHT = 0.0


def _mkt_id(i: int) -> str:
    return "0x" + f"{i:064x}"


def _asset_id(mkt: int, tok: int) -> str:
    # 70+ digit decimal strings like the real token ids.
    return str(10**70 + mkt * 1000 + tok)


def make_markets() -> list[dict]:
    mkts = []
    for i in range(N_MARKETS):
        tokens = [
            {
                "outcome": ["Yes", "No"][t],
                "price": round(0.3 + 0.4 * t + 0.01 * i, 4),
                "token_id": _asset_id(i, t),
                "winner": False,
            }
            for t in range(ASSETS_PER_MARKET)
        ]
        mkts.append(
            {
                "condition_id": _mkt_id(i),
                "question_id": "0x" + f"{1000 + i:064x}",
                "id": str(5000 + i),
                "question": f"Will event {i}, with a comma, Happen?",
                "description": f"desc {i}",
                "closed": i == 3,
                "accepting_orders": i != 2,
                "active": True,
                "archived": False,
                "enable_order_book": True,
                "tokens": tokens,
                "extra_dynamic_field": f"dyn{i}",
            }
        )
    return mkts


def gen_messages(rng: random.Random, n: int) -> list[dict]:
    """Random-but-deterministic feed messages covering all golden scenarios."""
    msgs: list[dict] = []
    ts = 1759240800000
    assets = [
        (_mkt_id(m), _asset_id(m, t))
        for m in range(N_MARKETS)
        for t in range(ASSETS_PER_MARKET)
    ]
    # Scenario seeds: asset[0] gets a diff BEFORE any snapshot.
    mkt, asset = assets[0]
    msgs.append(
        {
            "event_type": "price_change",
            "timestamp": str(ts),
            "market": mkt,
            "asset_id": asset,
            "changes": [{"price": "0.45", "size": "100", "side": "BUY"}],
        }
    )
    for _ in range(n):
        ts += rng.randint(1, 5000)
        if HOT_ASSET_WEIGHT and rng.random() < HOT_ASSET_WEIGHT:
            mkt, asset = assets[0]
        else:
            mkt, asset = rng.choice(assets)
        kind = rng.choices(
            ["book", "price_change", "last_trade_price", "tick_size_change"],
            weights=[2, 5, 3, 1],
        )[0]
        if kind == "book":
            def levels(lo, hi):
                prices = sorted(
                    rng.sample([round(lo + 0.001 * k, 3) for k in range(100)],
                               rng.randint(0, 6))
                )
                return [
                    {"price": f"{p:.3f}", "size": str(rng.randint(1, 500))}
                    for p in prices
                ]
            msgs.append(
                {
                    "event_type": "book",
                    "timestamp": str(ts),
                    "market": mkt,
                    "asset_id": asset,
                    "bids": levels(0.3, 0.4),
                    "asks": levels(0.5, 0.6),
                }
            )
        elif kind == "price_change":
            changes = []
            for _ in range(rng.randint(1, 3)):
                side = rng.choice(["BUY", "SELL"])
                lo = 0.3 if side == "BUY" else 0.5
                price = f"{round(lo + 0.001 * rng.randint(0, 99), 3):.3f}"
                # ~1/3 of changes are deletes (size 0), including levels that
                # may not exist (delete-on-missing must be a no-op).
                size = "0" if rng.random() < 0.35 else str(rng.randint(1, 500))
                changes.append({"price": price, "size": size, "side": side})
            msgs.append(
                {
                    "event_type": "price_change",
                    "timestamp": str(ts),
                    "market": mkt,
                    "asset_id": asset,
                    "changes": changes,
                }
            )
        elif kind == "last_trade_price":
            msgs.append(
                {
                    "event_type": "last_trade_price",
                    "timestamp": str(ts),
                    "market": mkt,
                    "asset_id": asset,
                    "side": rng.choice(["BUY", "SELL"]),
                    "price": f"{round(0.3 + 0.001 * rng.randint(0, 299), 3):.3f}",
                    "size": f"{rng.randint(1, 1000)}.{rng.randint(0, 999999):06d}",
                }
            )
        else:  # unknown event type — must be ignored by replay
            msgs.append(
                {
                    "event_type": "tick_size_change",
                    "timestamp": str(ts),
                    "market": mkt,
                    "asset_id": asset,
                }
            )
    return msgs


def write_fixture_files(
    out_dir: Path, n_hours: int = 3, msgs_per_hour: int = 120, seed: int = 42
) -> list[Path]:
    """Write n_hours hourly .jsonl files in the reference frame format."""
    from datetime import datetime, timedelta, timezone

    rng = random.Random(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    markets = make_markets()
    paths = []
    base = datetime(2025, 9, 30, 14, 0, 0, tzinfo=timezone.utc)
    for h in range(n_hours):
        # Frame timestamps strictly increase within a file, like a real
        # collector stamping each frame with now() (main.rs:28) — the live
        # streaming path orders on them. Rolls over day boundaries.
        t = base + timedelta(hours=h)
        hour = t.strftime("%Y-%m-%d-%H")

        def stamp():
            nonlocal t
            t += timedelta(microseconds=rng.randint(1, 500000))
            return t.isoformat()

        lines = []
        # Line-1 invariant: active_markets snapshot (main.rs:176-179).
        lines.append(
            json.dumps(
                {
                    "timestamp": stamp(),
                    "message_type": "active_markets",
                    "content": json.dumps(
                        {"markets": markets, "count": len(markets)}
                    ),
                }
            )
        )
        msgs = gen_messages(rng, msgs_per_hour)
        i = 0
        while i < len(msgs):
            # Frames carry 1-3 messages each (double-encoded array), with
            # occasional PONG lines interleaved.
            if rng.random() < 0.1:
                lines.append(
                    json.dumps(
                        {
                            "timestamp": stamp(),
                            "message_type": "feed_message",
                            "content": "PONG",
                        }
                    )
                )
            k = rng.randint(1, 3)
            batch = msgs[i : i + k]
            i += k
            lines.append(
                json.dumps(
                    {
                        "timestamp": stamp(),
                        "message_type": "feed_message",
                        "content": json.dumps(batch),  # double-encoded
                    }
                )
            )
        p = out_dir / f"{hour}.jsonl"
        p.write_text("\n".join(lines) + "\n")
        paths.append(p)
    return paths


# ---------------------------------------------------------------------------
# Naive oracle: independent replay over the same files.
# ---------------------------------------------------------------------------

def naive_replay(paths: list[Path], markets: set[str] | None = None) -> list[tuple]:
    """Reference-semantics replay using sorted lists (not dicts) for books.

    Returns tick rows as tuples matching TICK_COLUMNS, in strict log order.
    """
    books: dict[str, dict[str, list]] = {}  # asset -> {"bids": [(p, s)], ...}
    out: list[tuple] = []

    def get_book(asset: str) -> dict[str, list]:
        return books.setdefault(asset, {"bids": [], "asks": []})

    def top(levels: list, highest: bool) -> tuple[float, float]:
        if not levels:
            return 0.0, 0.0
        lv = max(levels) if highest else min(levels)
        return float(lv[0]), float(lv[1])

    def emit_bbo(msg: dict) -> None:
        b = get_book(msg["asset_id"])
        ask_p, ask_s = top(b["asks"], highest=False)
        bid_p, bid_s = top(b["bids"], highest=True)
        out.append((msg["timestamp"], "BBO", msg["market"], msg["asset_id"],
                    "ASK", ask_p, ask_s))
        out.append((msg["timestamp"], "BBO", msg["market"], msg["asset_id"],
                    "BID", bid_p, bid_s))

    for p in sorted(paths, key=lambda x: x.name):
        for line in p.read_text().splitlines():
            frame = json.loads(line)
            if frame["message_type"] != "feed_message":
                continue
            if frame["content"] == "PONG":
                continue
            for msg in json.loads(frame["content"]):
                if markets is not None and msg.get("market") not in markets:
                    continue
                et = msg["event_type"]
                if not _serde_ok(msg):
                    # the reference's serde rejects the whole message:
                    # unparseable Decimal, non-BUY/SELL side, or a
                    # missing/null collection (required Vec fields)
                    continue
                if et == "book":
                    b = get_book(msg["asset_id"])
                    b["bids"] = [
                        (Decimal(x["price"]), Decimal(x["size"]))
                        for x in msg["bids"]
                    ]
                    b["asks"] = [
                        (Decimal(x["price"]), Decimal(x["size"]))
                        for x in msg["asks"]
                    ]
                    emit_bbo(msg)
                elif et == "price_change":
                    b = get_book(msg["asset_id"])
                    for ch in msg["changes"]:
                        key = "bids" if ch["side"] == "BUY" else "asks"
                        price = Decimal(ch["price"])
                        size = Decimal(ch["size"])
                        b[key] = [lv for lv in b[key] if lv[0] != price]
                        if size != 0:
                            b[key].append((price, size))
                    emit_bbo(msg)
                elif et == "last_trade_price":
                    out.append(
                        (msg["timestamp"], "TRADE", msg["market"],
                         msg["asset_id"],
                         "BID" if msg["side"] == "BUY" else "ASK",
                         float(Decimal(msg["price"])),
                         float(Decimal(msg["size"])))
                    )
    return out


def _dec_ok(v) -> bool:
    try:
        Decimal(v)
        return True
    except Exception:  # noqa: BLE001 - InvalidOperation/TypeError alike
        return False


def _serde_ok(msg: dict) -> bool:
    """Mirror the reference's serde struct rules (tick_generator.rs):
    required keys present; required Vec collections present (null/missing
    rejects, empty is fine); Decimal-parseable prices/sizes; BUY/SELL
    side enums."""
    if (msg.get("asset_id") is None or msg.get("market") is None
            or msg.get("timestamp") is None):
        return False
    et = msg["event_type"]
    if et == "book":
        for side in ("bids", "asks"):
            if msg.get(side) is None:
                return False
            for lv in msg[side]:
                if not (_dec_ok(lv.get("price")) and _dec_ok(lv.get("size"))):
                    return False
        return True
    if et == "price_change":
        if msg.get("changes") is None:
            return False
        return all(
            ch.get("side") in ("BUY", "SELL")
            and _dec_ok(ch.get("price")) and _dec_ok(ch.get("size"))
            for ch in msg["changes"]
        )
    if et == "last_trade_price":
        return (msg.get("side") in ("BUY", "SELL")
                and _dec_ok(msg.get("price")) and _dec_ok(msg.get("size")))
    return True
