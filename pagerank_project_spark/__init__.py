"""pagerank_project_spark — a PySpark-native link-graph analytics engine.

A from-scratch engine with the query/data-processing capabilities of the
reference repo QuinceyWilliams/Pagerank_Project (see SURVEY.md):
damped personalized PageRank with dangling-mass redistribution
(reference: pagerank.py:100-139), in-link-ratio spam filtering
(pagerank.py:42-47), substring query predicates with negation
(pagerank.py:190-258) and search-score boosting (pagerank.py:142-186) —
generalized with connected components, label propagation, triangle counting,
dedup / similarity / text-analysis operators for training-data pipelines,
all expressed Spark-first: DataFrame joins + vectorized pandas/Arrow UDFs,
no per-row Python.
"""

from pagerank_project_spark.config import PageRankConfig
from pagerank_project_spark.session import get_spark

__all__ = ["PageRankConfig", "get_spark"]

__version__ = "0.1.0"
