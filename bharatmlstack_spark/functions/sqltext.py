"""SQL text for request-sized literal lists.

A lookup filters its scans by the request's keys as one SQL expression
string, parsed by a single ``F.expr`` call: ``Column.isin(*values)`` costs
a py4j round trip per value, which on a 100-key request outweighs the
Spark job the filter saves.
"""

from __future__ import annotations

import math
from typing import Iterable


def quote_ident(name: str) -> str:
    """Backquoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_literal(v) -> str | None:
    """Spark SQL literal of an int, float or str value; None for other
    types. Floats print their shortest round-trip digits as a DOUBLE, so
    the literal is the same double. Strings escape backslash and quote for
    the default parser (``spark.sql.parser.escapedStringLiterals=false``)."""
    if isinstance(v, int):  # bool included: True/False are SQL literals
        return str(v)
    if isinstance(v, float):
        if math.isfinite(v):
            return repr(v) + "D"
        if math.isnan(v):
            return "double('NaN')"
        return "double('Infinity')" if v > 0 else "double('-Infinity')"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return None


def sql_in(col: str, values: Iterable) -> str | None:
    """``col IN (...)`` over the distinct non-null ``values``; ``false``
    when there are none; None when a value has no literal form."""
    lits = {sql_literal(v) for v in values if v is not None}
    if None in lits:
        return None
    if not lits:
        return "false"
    return f"{quote_ident(col)} IN ({', '.join(sorted(lits))})"
