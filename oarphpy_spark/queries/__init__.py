"""Query definitions, grouped by SURVEY.md §2 category.

Importing this package registers every declared query into
``oarphpy_spark.registry``, in import order.
"""

import oarphpy_spark.queries.analytics_extras  # noqa: F401
import oarphpy_spark.queries.codec_queries  # noqa: F401
import oarphpy_spark.queries.corpus_extras  # noqa: F401
import oarphpy_spark.queries.curation  # noqa: F401
import oarphpy_spark.queries.engineering  # noqa: F401
import oarphpy_spark.queries.experiment_extras  # noqa: F401
import oarphpy_spark.queries.fidelity  # noqa: F401
import oarphpy_spark.queries.graph_queries  # noqa: F401
import oarphpy_spark.queries.inventory_extras  # noqa: F401
import oarphpy_spark.queries.joins  # noqa: F401
import oarphpy_spark.queries.llm_queries  # noqa: F401
import oarphpy_spark.queries.order_stats  # noqa: F401
import oarphpy_spark.queries.ml_eval  # noqa: F401
import oarphpy_spark.queries.pipeline_extras  # noqa: F401
import oarphpy_spark.queries.profiling  # noqa: F401
import oarphpy_spark.queries.relational  # noqa: F401
import oarphpy_spark.queries.scalar_fns  # noqa: F401
import oarphpy_spark.queries.spatial  # noqa: F401
import oarphpy_spark.queries.sql_api  # noqa: F401
import oarphpy_spark.queries.streaming_queries  # noqa: F401
import oarphpy_spark.queries.tpch  # noqa: F401
import oarphpy_spark.queries.windows_events  # noqa: F401
