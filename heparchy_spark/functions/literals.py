"""Constant arrays as ONE SQL literal expression.

Every ``F.*`` call is a JVM round trip (one or more py4j commands), so
``F.array(*[F.lit(x) for x in values])`` costs O(len(values)) commands at
query-build time — thousands for a hyperplane matrix — before Spark ever
plans anything.  ``array_lit`` writes the whole 1-D or 2-D array as exact
SQL literal text and hands it to the parser in one ``F.expr`` call.

The text reproduces the types ``F.lit`` would give each element, so the
folded constant is the same value of the same type:

- ``bool`` → ``true``/``false``;
- ints → INT inside the int32 range (``F.lit``'s rule), ``<n>L`` (BIGINT)
  outside it;
- floats → ``repr(x)`` + ``D`` (DOUBLE; Python's shortest round-trip repr
  parses back to the identical IEEE double, -0.0 and subnormals
  included), NaN/±inf as ``CAST('NaN' AS DOUBLE)`` etc. (same value;
  the cast is nullable, so an array holding one reports
  ``containsNull=true`` where ``F.lit``'s would not);
- strings → single-quoted, ``\\`` and ``'`` backslash-escaped (Spark's
  default string-literal escaping).

``F.lit(np.ndarray)`` is no substitute: PySpark's ndarray converter sets
each element over py4j.  ``array_sql`` returns the same text for callers
that embed the constant in a larger SQL expression.
"""

from __future__ import annotations

import math
import numbers
from collections.abc import Sequence

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column

__all__ = ["array_lit", "array_sql", "sql_ident"]

_INT32_MIN, _INT32_MAX = -(1 << 31), (1 << 31) - 1


def _sql_literal(x) -> str:
    if isinstance(x, (bool, np.bool_)):
        return "true" if x else "false"
    if isinstance(x, numbers.Integral):
        v = int(x)
        return str(v) if _INT32_MIN <= v <= _INT32_MAX else f"{v}L"
    if isinstance(x, numbers.Real):
        v = float(x)
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'' if v > 0 else '-'}Infinity' AS DOUBLE)"
        return repr(v) + "D"
    if isinstance(x, str):
        return "'" + x.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(x, (Sequence, np.ndarray)):
        return "array(" + ", ".join(_sql_literal(v) for v in x) + ")"
    raise TypeError(f"array_lit: unsupported element {x!r} ({type(x).__name__})")


def array_sql(values) -> str:
    """A constant 1-D or 2-D array (list, tuple or ndarray) as SQL literal
    text."""
    if isinstance(values, str) or not isinstance(values, (Sequence, np.ndarray)):
        raise TypeError(f"array_lit: expected a sequence, got {type(values).__name__}")
    return _sql_literal(values)


def array_lit(values) -> Column:
    """``array_sql(values)`` as one Column (a single ``F.expr``)."""
    return F.expr(array_sql(values))


def sql_ident(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"
