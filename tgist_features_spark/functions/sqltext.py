"""SQL-text pieces for building plans in few Py4J calls.

In classic PySpark a Column method, and a function such as ``col`` or
``when``, goes through ``_with_origin``: it looks up the active session,
reads a conf and sets and clears the call-site origin before its own JVM
call, 11-14 Py4J round trips per call in all. An expression string costs
one call (``F.expr``: three) however large it is, and the JVM parses it
once. The flagship plans therefore write their expressions as SQL
text; caller names and values enter that text only through these helpers.
"""

from __future__ import annotations


def ident(name: str) -> str:
    """``name`` as a quoted SQL identifier (inner backticks doubled)."""
    return "`" + name.replace("`", "``") + "`"


def epoch_us(expr: str) -> str:
    """SQL text of ``timeu.us``: epoch microseconds of the TIMESTAMP or
    TIMESTAMP_NTZ expression ``expr``."""
    return f"unix_micros(CAST({expr} AS TIMESTAMP))"
