"""Page shaping: limit+1 truncation and continuation tokens (W3).

Reference: ObjectStorage.listObjectsV2 requests ``maxKeys: limit + 1`` rows,
sets ``isTruncated = rows.length > limit``, and emits a base64 cursor of
``l:<lexeme>`` / ``o:<offset-name>`` / ``c:<cursor>`` lines
(src/storage/object.ts:631-712, encode/decode at :928-952). The cursor names
the LAST emitted entry; when that entry is a folder (name ends with the
delimiter) resuming with ``name > cursor`` naturally skips the folder's
whole subtree because every child sorts >= ``folder + delimiter`` — the
byte-order invariant (O1) does the disambiguation.

The engine stays batch-first: operators return whole DataFrames; this module
exists for API parity and for incremental consumers, and is driver-side by
design (a page is small by contract — ≤1000 keys, O5 clamps).
"""

from __future__ import annotations

import base64
from dataclasses import dataclass

from pyspark.sql import DataFrame

#: O5 clamps: Math.min(maxKeys, 1000) (s3-handler.ts:219); LEAST(…,1500)
#: (0050-search-v2-optimised.sql:626-628).
MAX_KEYS_PROTOCOL = 1000
MAX_KEYS_SQL = 1500


def clamp_limit(limit: int | None, cap: int = MAX_KEYS_PROTOCOL) -> int:
    if limit is None or limit > cap:
        return cap
    return max(limit, 0)


def encode_token(name: str) -> str:
    """object.ts:928-952 cursor codec (simplified to the name lexeme)."""
    return base64.b64encode(f"l:{name}".encode()).decode()


def decode_token(token: str) -> str:
    raw = base64.b64decode(token.encode()).decode()
    if not raw.startswith("l:"):
        raise ValueError(f"invalid continuation token: {token!r}")
    return raw[2:]


@dataclass(frozen=True)
class Page:
    rows: list
    is_truncated: bool
    next_token: str | None


def take_page(listing: DataFrame, limit: int, name_col: str = "name") -> Page:
    """limit+1 truncation over an already-sorted listing DataFrame: fetch
    one extra row to learn whether more exist without a count.

    ``limit <= 0`` falls back to the protocol default like the reference's
    ``maxKeys || 1000`` (object.ts:631) — a literal 0 page would report
    is_truncated with no token and spin ``paginate`` forever."""
    limit = clamp_limit(limit) or MAX_KEYS_PROTOCOL
    rows = listing.limit(limit + 1).collect()
    is_truncated = len(rows) > limit
    rows = rows[:limit]
    next_token = (
        encode_token(rows[-1][name_col]) if is_truncated and rows else None
    )
    return Page(rows=rows, is_truncated=is_truncated, next_token=next_token)


def paginate(
    make_listing,
    limit: int,
    name_col: str = "name",
    max_pages: int = 10_000,
):
    """Generator of pages: ``make_listing(start_after: str | None)`` must
    return a sorted listing DataFrame honoring the cursor (e.g.
    ``lambda after: list_objects_with_delimiter(df, …, start_after=after)``).

    A walk whose ``max_pages``-th page is still truncated raises
    ``RuntimeError`` naming the resume token instead of ending as if the
    listing were complete; a new walk whose ``make_listing`` starts after
    ``decode_token(token)`` continues it.
    """
    token = None
    for _ in range(max_pages):
        page = take_page(make_listing(token and decode_token(token)), limit, name_col)
        yield page
        if not page.is_truncated:
            return
        token = page.next_token
    raise RuntimeError(
        f"paginate stopped after max_pages={max_pages} pages with more "
        f"rows left; resume token {token!r}"
    )
