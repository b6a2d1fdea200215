"""PySpark-native metadata/cardinality pipeline.

A brand-new Spark-first rebuild of the capabilities of
``fiddeb/otlp_cardinality_checker`` (reference at /root/reference, Go,
single-node): a parse -> enrich -> route -> aggregate pipeline over a table of
multi-turn agent transcripts (conv_id, turn_idx, role, text, tool, ts),
producing mergeable per-key cardinality statistics, log templates, attribute
catalogs, session snapshots/diffs, and severity-graded reports.

Everything is expressed with the public DataFrame/SQL API, and the parse
stage runs entirely inside Catalyst/whole-stage-codegen, with no Python in
the hot path.
"""

__version__ = "0.1.0"
