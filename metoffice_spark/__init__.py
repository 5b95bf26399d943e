"""metoffice_spark — a PySpark-native analytics engine.

Re-expresses the query/data-processing capabilities of the reference
ETL job (``/root/reference/MetOffice_WOW_Connect.txt``, cited as
``MWC:N`` throughout) as an idiomatic Spark engine:

- ``functions/``  — the meteorological / unit formulas as
  dialect-common SQL text (``weather``) and distributed order
  statistics (``distributed``).
- ``operators/``  — DataFrame query builders, one module per surface:
  ``relational`` (scans/joins/aggs/windows/set ops), ``weather`` +
  ``rain`` + ``ingest`` (the reference's REF surface incl. sources and
  sinks), ``llm`` (dedup / similarity search / multimodal), ``text``
  (text analysis), ``udf`` (pandas UDF/UDAF/UDTF), and
  ``streaming_batch`` (Structured Streaming re-expressions of the
  reference's incremental logic).
- ``obs.py``      — the deterministic observation substrate derived
  from the ``events`` driver table (dialect-common SQL).
- ``io.py`` / ``session.py`` / ``parity.py`` — parquet IO, session
  factory, and cross-engine rounding/encoding helpers.
- ``registry.py`` — qid -> (query builder, DuckDB oracle SQL) map
  that backs ``__spark_entry__.py``.
"""

from metoffice_spark.session import get_spark, tune

__all__ = ["get_spark", "tune"]
