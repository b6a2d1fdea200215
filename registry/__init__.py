"""The query registry behind ``__spark_entry__.queries()`` and ``oracle_sql()``.

One module per input family. Each exports ``RECORDS``, a dict of query
name -> ``(builder, oracle)``:

- ``builder(spark, sf_dir)`` returns the query's Spark DataFrame;
- ``oracle(pre)`` returns the DuckDB SQL whose rows must hash-match it,
  given ``pre``, the pipeline-prefix CTEs (``common._oracle_prefix``).
  It is ``None`` for a rows-only entry (COVERAGE.md marks it ✓R): no
  SQL reproduces it, and a pytest checks it instead.

Adding or deleting a query is one builder and one record in one module;
deleting a family is deleting its module and its name below.
"""

FAMILIES = (
    "routed",
    "transcripts",
    "documents",
    "documents_dedup",
    "events",
    "streaming",
)
