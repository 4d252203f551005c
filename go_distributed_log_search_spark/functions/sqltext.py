"""SQL-text pieces for expressions built as one ``F.expr`` / ``selectExpr``
string instead of a chain of Column-API calls.

Every Column-API call is at least one py4j round trip from the driver to
the JVM (``F.col`` and each Column operator are about a dozen, because of
the call-site capture PySpark wraps them in), while one SQL string is one
parse on the JVM side. Plans that are rebuilt per request — a search, a
parse projection — are therefore written as SQL text with these helpers.
"""

from __future__ import annotations


def string_literal(value: str) -> str:
    """A SQL string literal whose value does not depend on session conf:
    the UTF-8 bytes as a hex binary literal, cast to STRING. A quoted
    ``'...'`` literal would need its quotes and backslashes escaped, and
    how the parser reads those escapes depends on
    ``spark.sql.parser.escapedStringLiterals``."""
    return f"CAST(X'{value.encode('utf-8').hex()}' AS STRING)"


def column_ref(path: str) -> str:
    """Backquoted reference to a column or a dotted struct path, resolved
    as ``F.col(path)`` resolves it: ``resource.service`` is the
    ``service`` field of the ``resource`` struct."""
    return ".".join("`" + part.replace("`", "``") + "`" for part in path.split("."))
