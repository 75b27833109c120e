"""emr_with_custom_metrics_spark — a PySpark-native analytics engine.

A brand-new, Spark-first re-expression of the query and data-processing
capabilities of the reference repo ``tmusabbir/emr-with-custom-metrics``
(an EMR autoscaling demo whose data surface is one PySpark ETL job, a
30 s metrics dataflow, and a threshold-rule control loop — see SURVEY.md §0),
extended with the relational, streaming, and LLM-data-pipeline operators a
100 TB training-data platform needs.

Design stance (SURVEY.md §7): pure PySpark library + thin engine façade.
Everything is declared through the DataFrame/SQL API so Catalyst + AQE pick
the physical plan; no custom Catalyst rules are needed (SURVEY.md §4.3).

Layout:
  session     — SparkSession factory with scale-oriented defaults (AQE, Arrow)
  catalog     — test-table loaders / temp-view registration
  registry    — the (query, oracle-SQL) registry consumed by __spark_entry__
  operators/  — relational operators (project/filter/agg/join/window/setops/asof)
  functions/  — scalar + vector function surfaces (string/date/math/json, cosine)
  sources/    — batch sources & sinks (csv/tsv, parquet, json, orc) + reference
                pipeline parity (spark_converter semantics)
  streaming/  — metrics dataflow re-imagined in-engine: windows, alarms,
                cooldown suppression, structured-streaming wiring
  llm/        — dedup (exact/minhash/simhash/ngram/embedding), similarity
                search (brute-force + IVF + LSH), text analysis, multimodal
  zip_guard   — keeps Spark Python workers from re-reading pyspark.zip on
                every task (installed on import inside a worker)
"""

from emr_with_custom_metrics_spark import zip_guard

zip_guard.install_in_worker()

from emr_with_custom_metrics_spark.session import get_spark  # noqa: E402, F401
from emr_with_custom_metrics_spark.registry import QUERIES, ORACLES  # noqa: E402, F401

__version__ = "0.1.0"
