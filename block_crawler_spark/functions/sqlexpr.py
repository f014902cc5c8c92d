"""Column expressions built as SQL text: one JVM call per output expression.

A PySpark ``Column`` tree is built on the JVM one node at a time — every
``F.when``/``F.substring``/``+`` is a py4j round trip — so a helper that
composes a few dozen nodes (``hexint.hex_to_dec`` is ~40) costs hundreds of
round trips each time it is called, and a plan built from many such helpers
spends seconds on the driver before Spark runs anything.  The expression
helpers in ``functions.hexint``, ``functions.abi`` and ``operators.oracles``
therefore compose SQL text in Python (``*_sql`` builders, str → str) and
cross into the JVM once, through ``F.expr``.  The parsed expressions are
the same built-in Catalyst expressions, so plans stay inside whole-stage
codegen; ``tests/test_hexint.py`` and ``tests/test_abi.py`` pin the results
against Python big-int arithmetic.

Keep the text shallow: the SQL parser's cost on a cold JVM grows steeply
with nesting, so a builder that would repeat a large argument (a decoded
ABI offset, say) prefers a form that uses it once (``array_repeat`` over a
guarded ``sequence``, ``try_cast`` over a digit-count guard).

Arguments: a ``str`` is SQL text already (a plain column name is valid SQL);
a ``Column`` is rendered to SQL through the session's column→expression
converter (:func:`sql_of`, two JVM calls).  Builders wrap every argument in
parentheses where it meets an operator, so any SQL expression is a safe
argument.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession


def sql_of(col: Column | str) -> str:
    """SQL text of a column argument (a ``str`` is returned as is)."""
    if isinstance(col, str):
        return col
    return SparkSession.active()._jsparkSession.expression(col._jc).sql()


def sql_str(s: str) -> str:
    """A Python string as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
