"""fcs_etl_reactor_spark — a PySpark-native analytics engine with the
capability surface of SD2E/fcs-etl-reactor (see SURVEY.md).

The reference is an FCS (flow-cytometry) ETL orchestration reactor whose
compute pipeline is scan → calibrate/compensate → gate → summarize →
histogram → export.  This package re-expresses that surface — plus the
relational/window/streaming/LLM-pipeline operators inventoried in
SURVEY.md §2 — as idiomatic Spark DataFrame programs.

Layout:
  session.py    SparkSession factory with scale-tuned defaults
  io.py         fixture-table loaders + view registry (SURVEY §2.1 S1/S6)
  functions/    exact-arithmetic helpers for oracle parity + vector math
  queries/      the public query registry (queries() / oracle_sql() pairs)
  operators/    custom operators (as-of join, dedup, similarity, gates, …)
  sources/      non-parquet sources (FCS binary parser, …)
  streaming/    Structured Streaming forms of the windowed operators
  testkit.py    the driver's oracle check (schema, row count, value hash)
"""

__version__ = "0.1.0"
