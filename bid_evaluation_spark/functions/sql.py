"""SQL text fragments the plan is built from: quoted identifiers and exact
literals.

Every name and number that reaches the engine's SQL text passes through
here, so no configuration or formula string is ever pasted into a query:

- identifiers are backtick-quoted with backticks doubled;
- numbers are exact double literals (``repr(float)`` + ``D``, so the parser
  reads back the same double), negatives parenthesised so ``a - -1.0D``
  cannot become a ``--`` comment, and non-finite values spelled as casts;
- strings are single-quoted with backslashes and quotes escaped.
"""

from __future__ import annotations

import math
from typing import Any

NULL_DOUBLE = "CAST(NULL AS DOUBLE)"
NULL_BOOLEAN = "CAST(NULL AS BOOLEAN)"


def ident(name: str) -> str:
    """A quoted identifier for any column name."""
    return "`" + str(name).replace("`", "``") + "`"


def num(x: Any) -> str:
    """An exact double literal for ``x``."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
    text = repr(x) + "D"
    return f"({text})" if text.startswith("-") else text


def string(s: str) -> str:
    """A string literal."""
    return "'" + str(s).replace("\\", "\\\\").replace("'", "\\'") + "'"


def value(v: Any) -> str:
    """SQL text for a statistic or parameter: SQL text passes through, None
    is a null double, booleans and numbers become literals."""
    if isinstance(v, str):
        return v
    if v is None:
        return NULL_DOUBLE
    if isinstance(v, bool):
        return "true" if v else "false"
    return num(v)


def double(x: str) -> str:
    return f"CAST({x} AS DOUBLE)"
