"""SQL-text builders for hot per-batch plans.

Each ``F.col``/``alias``/``struct`` call of the Column API is one Python
to JVM round trip, so an expression over every column of a wide row
costs a round trip per column. A streaming micro-batch rebuilds its
plans every wave, and those round trips add up to a large share of a
small wave's driver time. The same expression written as SQL text is
parsed on the JVM in one call (``F.expr`` / ``selectExpr``).
"""

from __future__ import annotations

from collections.abc import Iterable


def quote(name: str) -> str:
    """``name`` as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def string(text: str) -> str:
    """``text`` as a SQL string literal."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def named_struct(fields: Iterable[tuple[str, str]]) -> str:
    """SQL ``named_struct`` of ``(field name, SQL expression)`` pairs."""
    return "named_struct(" + ", ".join(f"{string(n)}, {e}" for n, e in fields) + ")"
