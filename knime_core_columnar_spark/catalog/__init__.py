"""Query catalog: every implemented operator as a ``(spark, sf_dir) ->
DataFrame`` callable plus its DuckDB oracle, one module per operator
family.

Importing a family module registers its queries through
``_registry.query``, which refuses a name registered twice.
``rotation.rotate_window`` then orders the registry by (evidence round,
name), so the order of ``QUERIES`` does not depend on which family is
imported first.
"""

from __future__ import annotations

from knime_core_columnar_spark.catalog import (  # noqa: F401 (registration)
    dedup,
    formats,
    relational,
    retrieval,
    stats,
    table_algebra,
    text,
    tpch,
)
from knime_core_columnar_spark.catalog._registry import (
    ORACLES,
    QUERIES,
    _t,
    _table_meta,
)
from knime_core_columnar_spark.catalog.dedup import SEMDEDUP_ORACLE
from knime_core_columnar_spark.catalog.rotation import (
    EVIDENCE,
    WINDOW_SIZE,
    rotate_window,
)
from knime_core_columnar_spark.catalog.text import (
    BIGRAM_LM_ORACLE,
    BPE_ENCODE_MERGES,
)
from knime_core_columnar_spark.catalog.tpch import entry_query

__all__ = [
    "BIGRAM_LM_ORACLE",
    "BPE_ENCODE_MERGES",
    "EVIDENCE",
    "ORACLES",
    "QUERIES",
    "SEMDEDUP_ORACLE",
    "WINDOW_SIZE",
    "_t",
    "_table_meta",
    "entry_query",
    "rotate_window",
]

rotate_window()
