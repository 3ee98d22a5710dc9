"""kmtricks_spark — a from-scratch PySpark-native sketch/counting engine.

Re-expresses the computational semantics of tlemane/kmtricks (k-mer
counting, cross-sample merge matrices, partitioned Bloom filters; see
/root/reference) over Common-Crawl-style web text, as idiomatic Spark
DataFrame plans plus Arrow-vectorized UDFs, and adds sketches built as
Spark aggregates (HLL register max, Spark's native KLL, count-min cell
sums, Bloom bitmaps) and large-scale training-data operators (dedup,
similarity search, text analysis).

Nothing here is a port: the reference is a single-node C++ thread-pooled
engine; this package declares logical plans and lets Catalyst/Tungsten
pick physical strategy. Reference citations (file:line) in docstrings
are for semantic parity only.
"""

from kmtricks_spark.config import KmConfig, get_spark

__all__ = ["KmConfig", "get_spark"]
__version__ = "0.1.0"
