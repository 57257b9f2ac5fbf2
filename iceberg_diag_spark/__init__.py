"""iceberg_diag_spark — a PySpark-native analytics engine.

Re-expresses the query semantics of the reference diagnostics tool
(Upsolver/iceberg-diag, see SURVEY.md) as idiomatic Spark DataFrame
pipelines, and extends them with large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, streaming).

Design principles (100 TB-first):
- Declarative DataFrame/SQL plans; Catalyst picks physical strategy.
- Shuffle-light: partial aggregation, broadcast of small sides,
  two-level (partial/final) aggregation patterns.
- Python only where relational ops can't express semantics (one
  per-key Arrow fold, ``functions.parallel.fold_by_key``: bin-pack
  group and file assignment, sequence packing). The diagnostics
  panel's bin-pack simulation is a JVM-side higher-order fold.
"""

__version__ = "0.1.0"
