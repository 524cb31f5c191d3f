"""openmldb_spark — a brand-new PySpark-native feature-engineering engine.

Re-expresses the query/data-processing capabilities of OpenMLDB
(reference: /root/reference, lukeAyin/OpenMLDB snapshot 2025-01-17) as
idiomatic Spark DataFrame transformations:

- ``last_join`` — LAST JOIN / as-of join (reference semantics:
  docs/en/reference/sql/dql/JOIN_CLAUSE.md; batch impl
  java/openmldb-batch/.../nodes/JoinPlan.scala:149-196).
- ``window_agg`` — per-row backward-looking ROWS / ROWS_RANGE windows with
  the OpenMLDB extensions MAXSIZE, EXCLUDE CURRENT_TIME, EXCLUDE
  CURRENT_ROW, OPEN bounds, WINDOW UNION, INSTANCE_NOT_IN_WINDOW
  (reference: hybridse/include/vm/mem_catalog.h:243-560,
  java/openmldb-batch/.../nodes/WindowAggPlan.scala).
- ``sessionize`` / ``backfill`` / lag-lead — derived temporal features.
- aggregate surface (sum_where/count_where/.../top/topn_frequency/*_cate —
  hybridse/src/udf/default_udf_library.cc) as Catalyst expressions.
- skew handling (salting with history replication — reference
  java/openmldb-batch/.../utils/SkewDataFrameUtils.scala).
- checkpointed, resumable job layer (modeled on slowRunWithHDFSCache,
  java/openmldb-batch/.../SparkPlanner.scala:291-327).

All computation is declarative DataFrame / Catalyst; Python appears only in
Arrow-vectorized ``applyInPandas`` / ``mapInPandas`` kernels (no per-row
Python UDFs anywhere in the engine).
"""

from openmldb_spark._zipstamp import install_on_worker
from openmldb_spark.session import get_spark  # noqa: F401
from openmldb_spark.operators.last_join import last_join  # noqa: F401
from openmldb_spark.operators.window_agg import (  # noqa: F401
    WindowSpecFE, Agg, SkewConfig, window_agg, multi_window_agg)
from openmldb_spark.operators.sessionize import sessionize  # noqa: F401
from openmldb_spark.operators.backfill import ffill, bfill  # noqa: F401
from openmldb_spark.operators.ttl import (  # noqa: F401
    time_live, count_live, time_and_count_live)
from openmldb_spark.operators.table_io import (  # noqa: F401
    load_data, select_into, Warehouse)
from openmldb_spark.ddl import (  # noqa: F401
    DDLError, TableDef, parse_create_table, ttl_filter)
from openmldb_spark.jobs import CheckpointedJob  # noqa: F401

# A Python worker imports the engine when it unpickles its first kernel;
# from then on its tasks stop re-reading unchanged zip archives.
install_on_worker()

__version__ = "0.2.0"
