"""Parse stage: raw transcript turns -> parsed turns.

Reference lifecycle step 2 (`/root/reference/internal/analyzer/logs.go:103-313`):
per record the analyzer resolves severity, feeds the body to template
extraction, and flattens attributes. Here that becomes one narrow projection
appended to the input columns:

    severity_inferred : string            (logs.go:51-65 semantics)
    template          : string            (logtemplate.go:52-97 semantics)
    attrs             : map<string,string> (metrics.go:379-405 semantics)
    has_invalid_utf8  : boolean           (http.go:110-115 taint semantics)

Pure Catalyst: regexp chains + higher-order array functions, no Python.
Whole-stage codegen end to end; `.explain` shows a single Project over the
scan, so column pruning/pushdown still reach parquet. The scalar
references in ``functions/`` (``severity_of``, ``template_of``,
``extract_attrs``) derive the truth tables that the DuckDB oracle checks
this projection against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.attributes import attrs_map_expr
from ..functions.masking import load_patterns_yaml, masked_frame, template_from_masked
from ..functions.severity import severity_expr

INVALID_UTF8_MARKER = "�"

PARSED_COLUMNS = ("severity_inferred", "template", "attrs", "has_invalid_utf8")


def parse_turns(df: DataFrame, patterns_yaml: str | None = None) -> DataFrame:
    """Parse stage. ``patterns_yaml`` overrides the built-in mask table
    with a user YAML file (reference: config/patterns.yaml +
    patterns.go:35-63)."""
    patterns = load_patterns_yaml(patterns_yaml) if patterns_yaml else None
    # masked_frame: stacked-projection mask chain with leaf-guarded
    # pattern skips — ~35% cheaper on the mask passes than the inline
    # single-Column chain it replaced (see masking.masked_frame docstring;
    # OPTIMIZATION_r06.md has the measurements).
    text = F.col("text")
    base = df.columns
    masked = masked_frame(df, src="text", out="__masked", patterns=patterns)
    return masked.select(
        *base,
        severity_expr(text).alias("severity_inferred"),
        template_from_masked(F.col("__masked")).alias("template"),
        attrs_map_expr(text).alias("attrs"),
        F.coalesce(text.contains(INVALID_UTF8_MARKER), F.lit(False)).alias(
            "has_invalid_utf8"
        ),
    )
