"""Sketch library.

``sketches/spark.py`` builds every sketch as a Spark aggregate, one
payload row per group (``sketch_agg``):

- hll: a JVM register max (same hashing as ``hll.add_hashes``) and an
  SQL estimate (``hll.estimate``'s formula);
- kll: Spark's native ``kll_sketch_*`` functions;
- cms: numpy Kirsch-Mitzenmacher cells (``cms.flat_cells``), summed in
  the JVM and packed per group into ``cms.serialize``.

The numpy kernels here are what the Spark paths must reproduce:
``hll`` (create / add_hashes / estimate) is the register and estimate
reference, ``cms`` holds the cell layout, payload format and driver-side
point queries, and ``bloom`` holds the test references of the JVM Bloom
code in operators/bloom_stage.py: the layouts its builds reproduce and
the bit check its probe answers like.
"""

from kmtricks_spark.sketches import bloom, cms, hll  # noqa: F401
