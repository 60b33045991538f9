"""polymarket_data_ingestor_spark — a PySpark-native analytics engine.

A from-scratch Spark re-expression of the capability surface of
``matthewdowney/polymarket-data-ingestor`` (reference snapshot at
``/root/reference``): streaming ingestion of framed order-book feed logs,
batch replay (stateful limit-order-book reconstruction -> tick table), and a
query layer over markets and ticks — plus the large-scale training-data
operators (dedup, similarity search, text analysis) a 100 TB pipeline
needs.

Design principles (see SURVEY.md):

* DataFrame/SQL-first: every operator is declared with the DataFrame API so
  Catalyst can push filters, prune columns and pick join strategies.
* Exactly one grouped-map pandas UDF in the hot path (the order-book replay
  kernel, SURVEY §2.10 O1); everything else is built-in JVM expressions.
* Explicit schemas everywhere — never ``inferSchema`` on a correctness path.
* Scale-aware: partition counts, broadcast hints and AQE are configured for a
  multi-executor cluster even though tests run on ``local[*]``.
"""

__all__ = ["get_spark"]
__version__ = "0.1.0"


def __getattr__(name):
    # PEP 562: importing a submodule (the collector, the manifest) does
    # not start importing pyspark; ``get_spark`` loads it on first use.
    if name == "get_spark":
        from polymarket_data_ingestor_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
