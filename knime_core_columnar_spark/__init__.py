"""knime_core_columnar_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of KNIME's columnar table backend
(knime/knime-core-columnar), re-expressed Spark-first.

The reference implements a columnar storage layer plus a lazy structural
dataflow algebra (see SURVEY.md). Here the physical layer (Arrow stores,
caches, dictionary encoding, async batching) maps onto Spark / Catalyst /
Tungsten / Parquet built-ins; this package implements the *semantics*:

- ``table.ColumnarTable``    — RowID-anchored lazy table algebra
  (select / slice / filter / map / hstack-append / union-concatenate /
  row-index / observe / schema ops), mirroring
  ``ColumnarVirtualTable`` + ``ColumnarTableBackend`` in the reference.
- ``schema``                 — type promotion lattice, logical-type +
  domain metadata conventions (mirrors ``knime.logical_type`` Arrow
  extension metadata).
- ``operators``              — full relational surface (joins, aggregation,
  windows, set ops) and the LLM-data-pipeline extensions (dedup,
  similarity search, text analysis, multimodal columns).
- ``sources`` / ``plans`` / ``streaming`` — IO, JSON plan persistence
  (mirrors ``TableTransformNodeSettingsPersistor``), Structured Streaming.

Everything is designed for 100 TB scale: declarative DataFrame plans so
Catalyst does pruning/pushdown, broadcast-aware joins, no driver-side
collection in any operator, Pandas UDFs only where built-ins cannot
express the semantics.
"""

import sys

from knime_core_columnar_spark.schema import ROW_KEY
from knime_core_columnar_spark.session import get_spark
from knime_core_columnar_spark.table import ColumnarTable

__all__ = ["ColumnarTable", "ROW_KEY", "get_spark"]
__version__ = "0.1.0"

if "pyspark.worker" in sys.modules:
    # inside a Spark Python worker: stop every later task from re-parsing
    # each zip archive on sys.path (see pyworker)
    from knime_core_columnar_spark import pyworker

    pyworker.install()
