"""noaa_etl_daily_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first engine covering the query and data-processing
capabilities of the ``kkarns/noaa-etl-daily`` reference (daily batch ETL
over observation-style time-series data) plus LLM-data-pipeline operators
(dedup, similarity search, multimodal columns, text analysis), designed
for 100 TB scale but verified against a DuckDB oracle at small scale.

Provenance note: the reference checkout at /root/reference is empty
(SURVEY.md §0), so no reference file:line citations are possible; the
normative spec is SURVEY.md §2.
"""

from .registry import REGISTRY, load_all, register
from .session import configure_session, get_spark
from .tables import load

__all__ = [
    "REGISTRY",
    "load_all",
    "register",
    "configure_session",
    "get_spark",
    "load",
]
