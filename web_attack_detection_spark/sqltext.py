"""SQL-text literal emitters shared by every generated Spark SQL string."""

from __future__ import annotations


def sql_double(x) -> str:
    """Spark-SQL double literal: CAST('<repr>' AS DOUBLE), or a typed
    NULL for ``None``.  Any real scalar (int, Decimal, numpy float) is
    coerced with float() first, so its repr is a plain float that
    string-parses correctly rounded; the cast constant-folds to the
    same Literal(double) the Column API's F.lit(float(x)) embeds, so
    generated SQL and Column-API builds optimize to identical plans."""
    return "CAST(NULL AS DOUBLE)" if x is None else f"CAST('{float(x)!r}' AS DOUBLE)"
