"""pywdcollections_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch batch KG builder with the query and data-processing
capabilities of peter17/pyWDcollections (reference semantics cited per
module as ``pywdcollections.py:<line>``), re-expressed as idiomatic
Spark: DataFrame plans, broadcast dimension joins, Arrow-vectorized
pandas UDFs for parsing, map-side-combined last-wins canonicalization, and
partitioned table materialization with per-partition lineage.

Pipeline stages (SURVEY.md §3.2):
    pages scan -> extract_text -> parse_templates -> explode
    -> template_map broadcast join -> coercion -> entity linking
    -> canonicalize (max_by last-wins) -> validate -> materialize
"""

__version__ = "0.1.0"

from pywdcollections_spark.config import CollectionConfig  # noqa: F401
from pywdcollections_spark.session import get_spark  # noqa: F401
