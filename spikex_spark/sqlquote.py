"""Quoting for names and literals spliced into Spark SQL text.

Several operators build SQL strings (one py4j round-trip instead of dozens
of Column calls); any name or value they splice in goes through here.
"""

from __future__ import annotations


def quote_ident(name: str) -> str:
    """A Spark SQL identifier: backticks around it, inner backticks
    doubled."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """A Spark SQL string literal. Spark unescapes backslashes in literals
    and joins adjacent ones ('a''b' is 'ab'), so quotes are escaped with a
    backslash, not doubled."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
