"""SQL-text builders for hot plans: streaming batches and batch kernels.

Each ``F.col``/``alias``/``struct`` call of the Column API is one Python
to JVM round trip, and each DataFrame step built from Columns is
re-analyzed on the JVM. A streaming micro-batch rebuilds its plans every
wave, and a batch kernel rebuilds its plan on every call; for small work
units those round trips are a large share of the driver time between
Spark jobs. The same expression written as SQL text is parsed on the JVM
in one call (``F.expr`` / ``selectExpr`` / ``filter(str)``).

Literal types follow the Column API's: a Python ``int`` is an INT (or
BIGINT past int32) literal in both, and ``double`` writes a Python
``float`` as a DOUBLE literal (a bare ``0.8`` in SQL is a DECIMAL).
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


def double(x: float) -> str:
    """``x`` as a SQL DOUBLE literal, the same value ``F.lit(x)`` holds."""
    return repr(float(x)) + "D"
