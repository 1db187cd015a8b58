"""sdi-spark: a PySpark-native engine with the query and data-processing
capabilities of OSU-IDEA-Lab/scalable-data-integration-with-LLMs.

The reference is a single-node pandas/SQLite pipeline for LLM-assisted
schema matching and schema mapping.  This package re-expresses its semantics as
declarative Spark DataFrame plans (Catalyst/Tungsten pick the physical
strategy), with the LLM inference isolated behind one arrow-batched
``mapInPandas`` boundary, plus the large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing) the reference's
100 TB-scale north star requires.

Layout:
  catalog/    schema catalog + matching-case construction (SURVEY §1)
  sources/    readers for parquet/CSV/JSON test tables (SURVEY §2.1)
  functions/  scalar/array helpers incl. cross-engine deterministic rand (§2.8)
  operators/  sampling, candidates, preferences, ensembles, stable matching,
              metrics, audit, dedup, similarity, overlap (§2.2–§2.9)
  plans/      SQL admission/namespace-rewrite + job-timeout (§3.3, §4)
  streaming/  Structured Streaming event path (§2.10, additive)
  llm/        the mapInPandas LLM boundary + deterministic mock scorer (§2.9 U1/U2)
  queries/    the declared query surface exposed through __spark_entry__
"""

__version__ = "0.1.0"
