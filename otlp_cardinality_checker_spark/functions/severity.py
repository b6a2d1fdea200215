"""Severity inference from log bodies.

Re-expresses `inferSeverityFromBody` (`/root/reference/internal/analyzer/
logs.go:51-65`): priority-ordered keyword scan ERROR > WARN > INFO > DEBUG,
defaulting to UNSET. Pure Catalyst (a CASE chain over `contains`), so it
stays in whole-stage codegen. The scalar :func:`severity_of` derives the
truth tables; :func:`severity_series` is its vectorized pandas form.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SEVERITY_KEYWORDS = (
    ("error", "ERROR"),
    ("warn", "WARN"),
    ("info", "INFO"),
    ("debug", "DEBUG"),
)

UNSET = "UNSET"


def severity_expr(text: Column) -> Column:
    lowered = F.lower(F.coalesce(text, F.lit("")))
    expr = F.lit(UNSET)
    for kw, level in reversed(SEVERITY_KEYWORDS):
        expr = F.when(F.contains(lowered, F.lit(kw)), F.lit(level)).otherwise(expr)
    return expr


def severity_of(text: str) -> str:
    lowered = (text or "").lower()
    for kw, level in SEVERITY_KEYWORDS:
        if kw in lowered:
            return level
    return UNSET


def severity_series(s):
    """Vectorized pandas twin of :func:`severity_expr`."""
    import numpy as np

    lowered = s.fillna("").str.lower()
    out = np.full(len(s), UNSET, dtype=object)
    # Apply in reverse priority so higher-priority keywords overwrite.
    for kw, level in reversed(SEVERITY_KEYWORDS):
        out[lowered.str.contains(kw, regex=False).to_numpy()] = level
    return out
