"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001; ``queries()`` /
``oracle_sql()`` expose the full operator catalog from
``knime_core_columnar_spark.catalog`` (one entry per implemented operator
from SURVEY.md §2, each with a DuckDB-equivalent oracle where the
semantics are SQL-expressible).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from knime_core_columnar_spark import catalog  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return catalog.entry_query(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(catalog.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per query; keys absent here are
    non-SQL-expressible ops checked rows-only by the driver."""
    return dict(catalog.ORACLES)
