"""bigdataprojectspring16_spark — a PySpark-native analytics engine.

A brand-new, idiomatic DataFrame/SQL/Catalyst/Structured-Streaming
engine with the query and data-processing capabilities attributed to
``anirudhbharadwaj/BigDataProjectSpring16`` (reference checkout at
/root/reference is empty — see SURVEY.md §0; the capability envelope is
fixed by SURVEY.md §2's operator inventory instead).

Public surface:
    get_session()        — tuned SparkSession factory (SURVEY §4 configs)
    load_tables()        — parquet star-schema loader
    registry.QUERIES     — name -> (spark, sf_dir) -> DataFrame
    registry.ORACLES     — name -> DuckDB oracle SQL string
"""

from .session import get_session
from .sql import PORTABLE_SQL_KEYS, register_views
from .tables import TABLE_NAMES, load_tables
from .registry import QUERIES, ORACLES, query

# Importing the operator modules populates the registry.
from .operators import setops, analytics  # noqa: F401
from .functions import scalars, udfs  # noqa: F401
from .streaming import batch_windows  # noqa: F401
from .llmops import curation, dedup, graph, similarity, text, pipeline, corpus  # noqa: F401
from .multimodal import ops as multimodal_ops  # noqa: F401
from .operators import scans, projection, joins, aggregates, windows, sorts  # noqa: F401
from .operators import tpch  # noqa: F401

__all__ = [
    "get_session",
    "load_tables",
    "TABLE_NAMES",
    "QUERIES",
    "ORACLES",
    "query",
]
