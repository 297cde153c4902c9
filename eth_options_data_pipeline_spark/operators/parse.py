"""Symbol/ticker parsing (SURVEY §2 P1, P4, F1-F5).

The reference parses ``{C|P}-ETH-{strike}-{DDMMYY}`` symbols with
per-row Python string slicing inside try/except (main.py:177-190);
here the same semantics are single declarative expressions so Catalyst
keeps them inside whole-stage codegen. ``try_to_date``-style null-on-
failure gives the reference's skip-bad-row behavior without exceptions.

The projection is SQL text handed to one ``selectExpr``: the JVM parses
it in one call, where a ``functions.*`` Column tree costs a driver→JVM
round trip per node. Catalyst sees the same expressions either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


# P1 projection (main.py:159-169,196-212). All casts are try_cast:
# failure -> NULL, then coalesced to defaults (F5). The expiry is the
# last dash token (main.py:131-133 parts[-1]) as DDMMYY -> DateType,
# NULL on any malformation: 6-digit guard, then to_date's 2000+yy pivot
# (main.py:134-138), with try_to_date turning a failed parse into NULL
# (skip-not-fail, main.py:220-223); [0-9] is Java regex \d without the
# escaping SQL string literals would need. F4 CASE: call_options ->
# 'Call' else 'Put' (main.py:196).
_TOKEN = "element_at(split(symbol, '-'), -1)"
PARSE_EXPRS = (
    "symbol",
    "contract_type",
    "try_cast(strike_price AS DOUBLE) AS Strike",
    "try_cast(spot_price AS DOUBLE) AS spot",
    "coalesce(try_cast(mark_price AS DOUBLE), 0.0D) AS Close",
    "coalesce(try_cast(oi_contracts AS BIGINT), 0L) AS OI",
    f"CASE WHEN length({_TOKEN}) = 6 AND {_TOKEN} RLIKE '^[0-9]{{6}}$'"
    f" THEN try_to_date({_TOKEN}, 'ddMMyy') END AS Expiry_Date",
    "CASE WHEN contract_type = 'call_options' THEN 'Call' ELSE 'Put' END AS Option_Type",
)


def parse_tickers(raw: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Project the semi-structured ticker rows into typed columns
    (``PARSE_EXPRS``), keeping the ``passthrough`` columns first."""
    return raw.selectExpr(*passthrough, *PARSE_EXPRS)
