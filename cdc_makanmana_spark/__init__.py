"""cdc_makanmana_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and
data-processing capabilities of the reference app
``zootato/cdc-makanmana`` (a client-side TS data pipeline + query SPA),
generalized to arbitrary tables and extended with the large-scale
training-data-pipeline operators (dedup, similarity search, text
analysis, multimodal plumbing).

Design rules (see SURVEY.md §7):
- DataFrame/SQL only; Catalyst owns optimization. No RDDs.
- UDFs are a last resort; when needed they are Arrow-batched pandas
  UDFs over pre-blocked inputs, never row-at-a-time Python.
- Every operator is designed for 100 TB: blocked joins instead of
  nested loops, broadcast for dims, bounding-box pre-filters before
  exact geo math, no driver-side collects in the data path.
"""

from cdc_makanmana_spark.engine import MakanmanaEngine
from cdc_makanmana_spark.session import get_spark

__all__ = ["MakanmanaEngine", "get_spark"]
__version__ = "0.1.0"
