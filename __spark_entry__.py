"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship query (the full WOW observation payload —
every REF derivation end-to-end) at sf0.001; ``queries`` /
``oracle_sql`` expose the full operator registry from
``metoffice_spark.registry`` (one entry per SURVEY.md §2 qid).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from metoffice_spark import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: ingest sf0.001 → dew point, wind decode + mast
    correction, SMHI pressure reduction, stateful daily-rain machine,
    imperial conversions → one WOW-shaped record per observation.

    ``wow_payload`` is a helper, not a registered builder, so the
    runtime confs are applied here the way the registry applies them
    to every builder."""
    from metoffice_spark.operators.ingest import wow_payload
    from metoffice_spark.session import tune

    tune(spark)
    return wow_payload(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (omitted ⇒ rows-only check)."""
    return registry.all_oracles()
