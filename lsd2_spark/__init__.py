"""lsd2_spark — a PySpark-native spatial OLAP engine with the query and
data-processing capabilities of astronomy-commons/lsd2, rebuilt
Spark-first (DataFrame/Catalyst, not a port of the reference's Dask
machinery), plus large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, multimodal columns).
"""

from lsd2_spark import pyworker
from lsd2_spark.session import get_spark  # noqa: F401

# inside a PySpark Python worker: stop re-reading pyspark.zip per task
pyworker.install()

__version__ = "0.1.0"
