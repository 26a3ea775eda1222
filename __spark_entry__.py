"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over :mod:`backend_model_spark.plans.registry` — all real
logic lives in the package. The driver runs ``entry(spark)`` as a
smoke check, then each ``queries()[name]`` at sf=0.01 against the
matching ``oracle_sql()[name]`` via DuckDB.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from backend_model_spark.plans import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shape pricing summary) on sf0.001."""
    from backend_model_spark.operators.relational import q1_pricing_summary

    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> Mapping[str, Callable[[SparkSession, str], DataFrame]]:
    return registry.queries()


def oracle_sql() -> Mapping[str, str]:
    return registry.oracle_sql()
