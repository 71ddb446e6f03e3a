"""Deterministic NL→SQL template matcher — the offline fallback in
front of the injectable LLM client.

The reference's NL query surface is a live Gemini call
(`/root/reference/read/natlanguage_duckdb_queries.py:340-398`); this
engine keeps that path as an injectable ``llm`` callable (no network
here) and adds what the reference never had: a rule-based matcher
that answers the common question shapes deterministically, offline,
and identically on every run. It is NOT an LLM substitute — unmatched
phrasings still require the injected client — but it makes the NL
surface usable out of the box for the queries analysts actually type
(prices/volumes of a market, date windows, daily averages, latest
day), in Spanish or English.

Grammar (case- and diacritic-insensitive):

    [average|avg|media|medio] (price|precio|volume|volumen|volumenes)
    [daily|diario|por dia]
    of|de|del|for <market name>           -- matched against MARKETS
    [between|entre <YYYY-MM-DD> and|y <YYYY-MM-DD>
     | on|el|de <YYYY-MM-DD>
     | latest day|ultimo dia]

    total|sum|suma (price|...|volume|...) by market|por mercado
    [<date clause as above>]              -- all-market breakdown,
                                          -- no market name required

Every produced statement is a single read-only SELECT over the
registered lake views, so it passes the same ``postprocess`` safety
gate as LLM output.
"""

from __future__ import annotations

import re
import unicodedata

from ..config.market_config import MARKETS


def _fold(s: str) -> str:
    """Lowercase + strip diacritics so 'Intradiario' matches 'INTRADIARIO'
    and 'último' matches 'ultimo'."""
    return (
        unicodedata.normalize("NFKD", s.lower())
        .encode("ascii", "ignore")
        .decode("ascii")
    )


# longest market names first so 'intra 1' wins over any shorter overlap
_MARKETS_BY_LEN = sorted(MARKETS, key=lambda m: -len(m.name))

_DATE = r"(\d{4}-\d{2}-\d{2})"
_RANGE = re.compile(
    rf"(?:between|entre|desde)\s+{_DATE}\s+(?:and|y|hasta|al?)\s+{_DATE}"
)
_SINGLE_DAY = re.compile(rf"(?:\bon|\bel|\bde|\bdel)\s+{_DATE}")
_LATEST = re.compile(r"latest day|ultimo dia|most recent day")
_AVG = re.compile(r"\baverage\b|\bavg\b|\bmedio\b|\bmedia\b")
_DAILY = re.compile(r"\bdaily\b|\bdiari[oa]\b|\bpor dia\b")
_PRICE = re.compile(r"\bprecios?\b|\bprices?\b")
_VOLUME = re.compile(r"\bvolumen(?:es)?\b|\bvolumes?\b")
_TOTAL = re.compile(r"\btotal(?:es)?\b|\bsum\b|\bsuma\b")
_BY_MARKET = re.compile(r"by market|per market|por mercado")
# rolling 24-row average — the reference system prompt's own window
# example (natlanguage_duckdb_queries.py:246-252: AVG(precio) OVER
# (ORDER BY datetime_utc ROWS BETWEEN 24 PRECEDING AND CURRENT ROW))
_ROLLING = re.compile(
    r"rolling(?:\s+24h?| 24-hour)?\s+(?:average|avg)|media movil"
)
# top-k market ranking: 'top 3 markets by volume' / 'top 3 mercados
# por volumen'
_TOPK = re.compile(r"\btop\s+(\d+)\s+(?:markets?|mercados?)")


def _find_market(q: str) -> object | None:
    for m in _MARKETS_BY_LEN:
        if _fold(m.name) in q:
            return m
    return None


def match_template(question: str) -> str | None:
    """Return Spark SQL for a recognized question shape, else None."""
    q = _fold(question)

    is_price = bool(_PRICE.search(q))
    is_volume = bool(_VOLUME.search(q))
    if not (is_price or is_volume):
        return None
    by_market = bool(_TOTAL.search(q)) and bool(_BY_MARKET.search(q))
    topk = _TOPK.search(q)
    rolling = bool(_ROLLING.search(q))
    market = _find_market(q)
    if market is None and not by_market and not topk:
        return None
    if rolling and market is None:
        return None  # rolling needs one market's ordered series

    table = "precios" if is_price else "volumenes_i90"
    value = "precio" if is_price else "volumenes"

    # "total ... by market" is a breakdown across ALL markets — no
    # market-name filter required (or honored if one was given)
    conds = [] if market is None else [f"id_mercado = {market.id}"]
    m = _RANGE.search(q)
    if m:
        conds.append(
            f"datetime_utc >= TIMESTAMP '{m.group(1)} 00:00:00' "
            f"AND datetime_utc < TIMESTAMP '{m.group(2)} 00:00:00' "
            f"+ INTERVAL 1 DAY"
        )
    else:
        m = _SINGLE_DAY.search(q)
        if m:
            conds.append(
                f"datetime_utc >= TIMESTAMP '{m.group(1)} 00:00:00' "
                f"AND datetime_utc < TIMESTAMP '{m.group(1)} 00:00:00' "
                f"+ INTERVAL 1 DAY"
            )
        elif _LATEST.search(q):
            # the by-market form has no market filter: latest day is
            # the global max, not a per-market one (ADVICE r8: the
            # unguarded market.id crashed 'total ... by market latest
            # day' with AttributeError)
            scope = "" if market is None else f" WHERE id_mercado = {market.id}"
            conds.append(
                f"CAST(datetime_utc AS DATE) = (SELECT MAX(CAST(datetime_utc "
                f"AS DATE)) FROM {table}{scope})"
            )
    where = " AND ".join(conds) if conds else "1 = 1"

    if topk:
        # ranked breakdown: ORDER BY the metric, deterministic
        # id_mercado tie-break, LIMIT k — same pruned-scan + one
        # grouped aggregate plan as the by-market form
        k = int(topk.group(1))
        return (
            f"SELECT id_mercado, ROUND(SUM({value}), 2) AS total_{value} "
            f"FROM {table} WHERE {where} "
            f"GROUP BY id_mercado "
            f"ORDER BY total_{value} DESC, id_mercado LIMIT {k}"
        )
    if rolling:
        # the reference prompt's window example, partitioned by market
        # (the question names exactly one) so the sort never collapses
        # to a single global partition at scale. A market can hold
        # several values at one instant (the lake's dedup key includes
        # the value), so the value breaks ties: tied rows then carry
        # equal values and the ROWS frame is determinate.
        return (
            f"SELECT datetime_utc, {value}, "
            f"ROUND(AVG({value}) OVER (PARTITION BY id_mercado "
            f"ORDER BY datetime_utc, {value} "
            f"ROWS BETWEEN 24 PRECEDING AND CURRENT ROW), 2) "
            f"AS rolling_avg_24h "
            f"FROM {table} WHERE {where} ORDER BY datetime_utc, {value}"
        )
    if by_market:
        return (
            f"SELECT id_mercado, ROUND(SUM({value}), 2) AS total_{value} "
            f"FROM {table} WHERE {where} "
            f"GROUP BY id_mercado ORDER BY id_mercado"
        )
    if _AVG.search(q):
        if _DAILY.search(q):
            return (
                f"SELECT CAST(datetime_utc AS DATE) AS dia, "
                f"ROUND(AVG({value}), 2) AS avg_{value} "
                f"FROM {table} WHERE {where} "
                f"GROUP BY CAST(datetime_utc AS DATE) ORDER BY dia"
            )
        return (
            f"SELECT ROUND(AVG({value}), 2) AS avg_{value} "
            f"FROM {table} WHERE {where}"
        )
    return (
        f"SELECT * FROM {table} WHERE {where} ORDER BY datetime_utc"
    )
