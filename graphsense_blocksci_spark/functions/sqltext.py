"""Column expressions as Spark SQL text.

The ingest helpers build each column as one SQL expression string and
hand it to the JVM whole (`F.expr`, `selectExpr`): one py4j round trip,
where the same expression built node by node through the Column API
costs one round trip per node and per lambda (30-600 per helper). The
text is stateless, so nothing is cached.
"""

from __future__ import annotations


def ident(name: str) -> str:
    """Backtick-quote a column name for SQL text."""
    return "`" + name.replace("`", "``") + "`"
