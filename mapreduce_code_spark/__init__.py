"""mapreduce_code_spark — a PySpark-native analytics engine.

A ground-up re-expression of the capabilities of whiker92/MapReduce_code
(Apriori frequent-itemset mining + association rules, iterative logistic /
multiple-linear regression via parameter-averaged SGD) as idiomatic Spark
DataFrame programs, extended with the LLM-data-pipeline operators a 100 TB
training-data pipeline needs: deduplication (exact / MinHash-LSH / SimHash /
n-gram Jaccard / embedding-cosine), similarity search, text analysis,
multimodal column plumbing, and Structured Streaming over events.

Design principles (SURVEY.md §1.2, §4.2):
- DataFrame/SQL first; Catalyst plans ARE the engine's plans.
- No external KV store: the reference's HBase point-lookups become broadcast
  hash joins; its HDFS theta side-files become broadcast variables.
- Python only off the hot path: Arrow-batched pandas UDFs / mapInPandas for
  the SGD kernel and subset expansion; built-in functions everywhere else.
  Local sessions start those Python workers through ``graft_daemon``
  (repository root), which imports pyspark from site-packages when its
  version equals the one in Spark's ``pyspark.zip`` and otherwise keeps
  Spark's path, so no task pays for re-reading the zip's directory. A
  cluster master keeps Spark's default daemon (``session.session_conf``).
"""

from mapreduce_code_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
