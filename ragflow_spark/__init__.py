"""ragflow_spark — a PySpark-native re-implementation of RAGFlow's DeepDoc
extraction tier, plus the large-scale training-data operators (dedup,
similarity search, text analysis) such a pipeline needs.

Layers
------
- ``ragflow_spark.core``       pure-Python parity core (no Spark imports):
  parsers + chunk-merge templates matching the reference semantics
  (holdgh/ragflow v0.13.0; citations in each module's docstring).
- ``ragflow_spark.functions``  native Column helpers (JVM-side, no UDFs).
- ``ragflow_spark.operators``  DataFrame operators: extraction pipeline,
  dedup family, similarity search, text statistics.
- ``ragflow_spark.sources``    input loaders + deterministic synthetic
  web-page corpus generator.
- ``ragflow_spark.plans``      partitioning/skew strategy + checkpoint
  manifest & resume protocol.
- ``ragflow_spark.streaming``  Structured Streaming variants of the event
  operators.
"""

__version__ = "0.1.0"

# Every Python worker imports this package when it unpickles a UDF; from
# then on its per-task import-cache reset stops re-reading unchanged zip
# archives (see _zipcache).
from ragflow_spark import _zipcache

_zipcache.install()
