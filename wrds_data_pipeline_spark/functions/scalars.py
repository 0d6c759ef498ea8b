"""Scalar functions F1–F14 (SURVEY.md §2.8) as Column expressions.

Everything here compiles to Catalyst expressions inside whole-stage
codegen — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def midquote(bid: Column | str, ask: Column | str) -> Column:
    """F1: (best_bid + best_ask) / 2 (cloud_TAQ/taq_chunks.py:74).
    NULL bid or ask propagates to NULL mid — matching pandas NaN."""
    b = F.col(bid) if isinstance(bid, str) else bid
    a = F.col(ask) if isinstance(ask, str) else ask
    return (b + a) / F.lit(2.0)


def symbol_root(ticker: Column | str) -> Column:
    """F2: ticker 'BRK.B' → root 'BRK' (cloud_TAQ/taq_chunks.py:44)."""
    t = F.col(ticker) if isinstance(ticker, str) else ticker
    return F.split(t, r"\.").getItem(0)


def symbol_suffix(ticker: Column | str) -> Column:
    """F2: ticker 'BRK.B' → suffix 'B', NULL when undotted
    (cloud_TAQ/taq_chunks.py:45 — pandas .str[1] yields NaN; Spark
    element_at(..., 2) yields NULL, matching)."""
    t = F.col(ticker) if isinstance(ticker, str) else ticker
    # try_element_at: NULL when no suffix (ANSI element_at would throw)
    return F.try_element_at(F.split(t, r"\."), F.lit(2))


def pin_open_end(end: Column | str, as_of) -> Column:
    """F4: open-ended validity (NULL linkenddt) pinned to an explicit
    as_of date.  The reference uses fillna(today) which makes results
    run-date-dependent (cloud_TAQ/sp500ccm_generator.py:40); we demand
    the caller pin it."""
    e = F.col(end) if isinstance(end, str) else end
    return F.coalesce(e, F.lit(as_of))


def fill_null(col: Column | str, value) -> Column:
    """F3/F5: null fill (string '' pre-join keys, numeric 0.0 features)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c, F.lit(value))


def _tod_micros(t: str) -> int:
    """'09:30:00' / '16:00:00.5' → microseconds since midnight."""
    hms, _, frac = t.partition(".")
    h, m, sec = (int(x) for x in hms.split(":"))
    return ((h * 60 + m) * 60 + sec) * 1_000_000 + int(f"{frac:<06s}")


def in_market_hours(
    ts: Column | str, open_time: str = "09:30:00", close_time: str = "16:00:00",
    closed_right: bool = True,
) -> Column:
    """P11/P12/P13: market-hours clip at microsecond precision.  A
    bare 'HH:mm:ss' compare would truncate, wrongly keeping e.g.
    16:00:00.5 inside a 09:30–16:00 BETWEEN — a Postgres TIME
    excludes it, cloud_TAQ/taq_chunks.py:63.  The notebook variant
    uses `< 16:00` (cell 14) — ``closed_right`` selects.

    Compares integer microseconds of the wall-clock day (hour, minute
    and second fields plus the sub-second micros), so the result equals
    a 'HH:mm:ss.SSSSSS' string compare in any session time zone, DST
    days included, without formatting a string per row."""
    c = F.col(ts) if isinstance(ts, str) else ts
    secs = (F.hour(c) * 60 + F.minute(c)) * 60 + F.second(c)
    # the cast lets TIMESTAMP_NTZ through unix_micros; it moves whole
    # seconds only, never the sub-second part
    frac = F.pmod(F.unix_micros(c.cast("timestamp")), F.lit(1_000_000))
    tod = secs.cast("bigint") * 1_000_000 + frac
    hi = F.lit(_tod_micros(close_time))
    in_hi = tod <= hi if closed_right else tod < hi
    return (tod >= F.lit(_tod_micros(open_time))) & in_hi


def direction_label(curr: Column | str, prev: Column | str) -> Column:
    """F14: binary next-day direction int(curr > prev)
    (graph_code/pyg_graphs.py:194); NULL prev → NULL label."""
    c = F.col(curr) if isinstance(curr, str) else curr
    p = F.col(prev) if isinstance(prev, str) else prev
    return (c > p).cast("int")
