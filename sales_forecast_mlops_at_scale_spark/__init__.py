"""PySpark-native analytics engine with the query & data-processing
capabilities of the reference system ``jomariya23156/sales-forecast-mlops-at-scale``.

The reference (surveyed in SURVEY.md) is a micro-service MLOps stack whose
"query engine" is spread across four substrates: PySpark Structured Streaming
(ingest), Postgres SQL via SQLAlchemy (relational queries), pandas
(transforms), and Ray (per-group model fan-out).  This package re-expresses
that entire surface — plus LLM-scale data-pipeline operators — as a single
idiomatic Spark DataFrame/SQL/Structured-Streaming engine designed for
100 TB-class inputs:

- ``session``    SparkSession factory (Arrow on, AQE on, UTC, injectable clock)
- ``schemas``    every declared StructType (analog of the reference's db_tables)
- ``catalog``    loads the parquet fixtures as DataFrames with scale-aware options
- ``operators``  relational operator library (dedup, top-n, scaffold, metrics, ...)
- ``operators.llm``  dedup / similarity / text-analysis / multimodal operators
- ``sources``    batch + streaming sources and sinks (parquet/csv/jsonl/kafka/jdbc)
- ``streaming``  Structured Streaming ingest with idempotent exactly-once sink
- ``ml``         grouped-map train / predict (sorted_group_map), pluggable models
- ``plans``      concrete query definitions + DuckDB oracle SQL for testing
"""

__version__ = "0.1.0"

from . import session  # noqa: F401


def _register_udf_modules_by_value() -> None:
    """Ship UDF-bearing modules inside the pickled closures.

    cloudpickle serializes module-level functions *by reference*; if the
    engine is imported via a bare ``sys.path`` entry (as a test harness
    may do) the executors' Python workers can't resolve that reference
    and every ``applyInPandas``/``mapInPandas`` stage dies with
    ModuleNotFoundError.  Registering the (small, dependency-light)
    modules that define executor-side functions for pickle-by-value makes
    the engine location-independent — no ``--py-files`` / PYTHONPATH
    coupling.  Only these modules run Python on executors; everything
    else in the engine is JVM-side Catalyst expressions.
    """
    from pyspark import cloudpickle

    from .ml import models, predict, train
    from .operators.llm import multimodal

    for mod in (models, predict, train, multimodal):
        cloudpickle.register_pickle_by_value(mod)


_register_udf_modules_by_value()
