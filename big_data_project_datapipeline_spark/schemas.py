"""Column-name constants and the SQL-identifier quoting they need.

Column names keep the reference's exact spelling (``humidity_%``,
``retail_price_£_per_kWh`` — legal in Parquet, backtickable in SQL;
reference raw_data.py:40,200), so every SQL-text builder quotes them with
:func:`quote_ident`. Scans carry their schemas where they are read: the
payload normalizers declare theirs (``sources/json_payloads.py``), and the
registry's tables are parquet, which stores its own.
"""

from __future__ import annotations

# Whitelisted fuels for the generation-mix pivot (reference raw_data.py:151).
GENERATION_FUELS = ["biomass", "imports", "gas", "nuclear", "solar", "wind"]


def quote_ident(name: str) -> str:
    """``name`` as a Spark SQL identifier for SQL text: wrapped in
    backticks, each embedded backtick doubled, so any column name — the
    reference's ``humidity_%`` or one holding a backtick — parses as
    exactly one identifier, never as SQL."""
    return "`" + name.replace("`", "``") + "`"
