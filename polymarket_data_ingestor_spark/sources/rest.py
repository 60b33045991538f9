"""REST market-scan ingestion (SURVEY §2.1 S1/S2) — driver-side I/O.

The reference discovers markets via the CLOB REST API: paginated
``/markets`` (base64 numeric cursors, 500-row stride, retry + linear
backoff; ``collector/src/client/mod.rs:281-366``) and the sequential-cursor
``/sampling-markets`` (``:221-250``). The reference keeps 30 ``/markets``
pages in flight (``mod.rs:288``); :func:`fetch_markets` requests them one
after another. Pagination is I/O, not a Spark operator — the result lands
in ``spark.createDataFrame(..., MARKET_SCHEMA)`` and everything after that
is the engine.

The HTTP transport is injectable (``fetch_page``) so the pagination/cursor/
retry logic is fully testable offline; wiring a real transport is one
``requests.get`` lambda on a connected machine.
"""

from __future__ import annotations

import base64
import json
import time
from typing import Any, Callable, Iterable

PAGE_SIZE = 500  # cursor stride (collector/src/client/mod.rs:297)
MAX_RETRIES = 3
CLOB_BASE = "https://clob.polymarket.com"

#: fetch_page(cursor) -> {"data": [...], "next_cursor": str | "LTE="}
FetchPage = Callable[[str], dict]


def encode_cursor(offset: int) -> str:
    """Base64 numeric cursor (C7, ``mod.rs:363-366``)."""
    return base64.b64encode(str(offset).encode()).decode()


def decode_cursor(cursor: str) -> int:
    return int(base64.b64decode(cursor).decode())


#: The API's end-of-listing sentinel: base64("-1").
END_CURSOR = base64.b64encode(b"-1").decode()


def _fetch_with_retry(fetch_page: FetchPage, cursor: str) -> dict:
    """Retry with linear backoff (``mod.rs:307-318`` semantics)."""
    last: Exception | None = None
    for attempt in range(MAX_RETRIES):
        try:
            return fetch_page(cursor)
        except Exception as e:  # noqa: BLE001
            last = e
            if attempt + 1 < MAX_RETRIES:
                # no sleep after the FINAL failure — it only delayed
                # the raise by the longest backoff (review finding)
                time.sleep(0.5 * (attempt + 1))
    raise RuntimeError(f"page fetch failed after {MAX_RETRIES} tries") from last


def fetch_markets(fetch_page: FetchPage) -> list[dict]:
    """All markets via offset-cursor pagination (S1).

    The reference fires 30 pages concurrently with adaptive page-count
    discovery; with an injectable transport we keep the same cursor
    arithmetic (page i ⇒ cursor base64(i*500)) and stop on the first short
    page — concurrency is a transport concern (asyncio/thread pool) layered
    on the same logic.
    """
    out: list[dict] = []
    offset = 0
    while True:
        page = _fetch_with_retry(fetch_page, encode_cursor(offset))
        rows = page.get("data") or []
        out.extend(rows)
        nxt = page.get("next_cursor")
        if not rows or nxt in (None, "", END_CURSOR):
            break
        nxt_offset = decode_cursor(nxt)
        if nxt_offset <= offset:
            # A non-advancing cursor would spin this loop forever; the
            # reference's indexed concurrent pagination can't loop, so
            # treat it as a server-side protocol error.
            raise RuntimeError(
                f"non-advancing next_cursor {nxt!r} "
                f"(offset {nxt_offset} <= {offset})"
            )
        offset = nxt_offset
    return out


def fetch_sampling_markets(fetch_page: FetchPage) -> list[dict]:
    """Sequential next_cursor pagination (S2, ``mod.rs:221-250``)."""
    out: list[dict] = []
    cursor = ""
    seen: set[str] = set()
    while True:
        page = _fetch_with_retry(fetch_page, cursor)
        out.extend(page.get("data") or [])
        cursor = page.get("next_cursor") or END_CURSOR
        if cursor == END_CURSOR:
            break
        if cursor in seen:
            # same protocol-error guard as fetch_markets: a repeated
            # next_cursor would spin forever and grow `out` unboundedly
            # (review finding — the sibling guarded, this one didn't)
            raise RuntimeError(
                f"non-advancing next_cursor {cursor!r} (already visited)"
            )
        seen.add(cursor)
    return out


def active_filter(markets: Iterable[dict]) -> list[dict]:
    """F1 predicate, driver-side (``collector/src/lib.rs:69-71``)."""
    return [
        m
        for m in markets
        if m.get("enable_order_book")
        and m.get("accepting_orders")
        and not m.get("archived")
        and not m.get("closed")
    ]


def markets_to_df(spark: Any, markets: list[dict]):
    """Materialize the REST result as the markets dimension DataFrame."""
    from polymarket_data_ingestor_spark.schemas import MARKET_SCHEMA

    known = {f.name for f in MARKET_SCHEMA.fields}
    rows = []
    for m in markets:
        row = {k: m.get(k) for k in known if k != "other"}
        # JSON, not repr, for non-string dynamic values: str() turned
        # {"a": 1} into "{'a': 1}" — single-quoted python repr no JSON
        # parser downstream can decode — and True/None into 'True'/
        # 'None' (review finding). Strings pass through unchanged.
        row["other"] = {
            k: (v if isinstance(v, str) else json.dumps(v))
            for k, v in m.items()
            if k not in known
        } or None
        rows.append(row)
    return spark.createDataFrame(rows, MARKET_SCHEMA)


def http_fetch_page(endpoint: str = "/markets") -> FetchPage:
    """Real HTTP transport (requires network + the requests package)."""
    try:
        import requests
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError(
            "the requests package is unavailable in this environment; "
            "inject a FetchPage callable instead"
        ) from e

    def fetch(cursor: str) -> dict:  # pragma: no cover - needs network
        r = requests.get(
            f"{CLOB_BASE}{endpoint}", params={"next_cursor": cursor}, timeout=10
        )
        r.raise_for_status()
        return r.json()

    return fetch
