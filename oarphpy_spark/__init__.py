"""oarphpy_spark — a PySpark-native analytics engine.

A ground-up, Spark-first rebuild of the capabilities of the reference
library ``pwais/oarphpy`` (a PySpark utility layer: object<->row codecs,
composed relational operators, archive sources, cluster utilities), plus
the large-scale training-data-pipeline operators (dedup, similarity
search, multimodal columns, text analysis) that a 100 TB corpus needs.

Design stance (see SURVEY.md):
  * Every operator is a ``DataFrame -> DataFrame`` transform declared via
    the DataFrame/SQL API so Catalyst can push down filters, prune
    columns, pick join strategies, and codegen the hot path.
  * No driver-side data collection inside operators — collection happens
    only in tests / rendering layers, so every operator scales with the
    cluster rather than the driver.
  * Python executes only where the JVM genuinely cannot express the
    semantics, and then always via Arrow-vectorized pandas UDFs /
    ``mapInPandas`` / ``mapInArrow`` — never row-at-a-time Python UDFs.
"""

__version__ = "0.1.0"

from pyspark import TaskContext as _TaskContext

from oarphpy_spark.session import SessionFactory  # noqa: F401

# In a Python worker (a task is running): stop every later task of this
# worker from re-reading pyspark.zip (see util/zipimports).
if _TaskContext.get() is not None:
    from oarphpy_spark.util import zipimports as _zipimports

    _zipimports.install()
