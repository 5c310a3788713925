"""SparkSession factory tuned for the sandbox (local[N]) and for scale.

Local mode is a stand-in for a multi-executor cluster: every knob here is
chosen so the same code runs unchanged on 1000 executors — AQE on, shuffle
partitions sized to parallelism, Arrow on for pandas-UDF exchange, UTC pinned
so DuckDB oracle comparisons are stable.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType


def get_spark(
    app_name: str = "gazetteer_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    cores=None → local[*]; shuffle partitions default to max(cores, 32)
    locally — on a real cluster this would be ~2-3× total executor cores.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores_s = env if env else "*"
    else:
        cores_s = str(cores)
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores_s == "*" else max(int(cores_s), 8)

    builder = (
        SparkSession.builder.master(f"local[{cores_s}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Tokenization costs ~10-50 MB/s/core — far below parquet scan rates —
        # so input splits must be sized for CPU, not I/O: small
        # maxPartitionBytes, and openCost = maxPartitionBytes so small files
        # are never packed into a handful of fat partitions that cap the
        # analyzer stage's parallelism.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_SPLIT_BYTES", str(16 * 1024 * 1024)),
        )
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_SPLIT_BYTES", str(16 * 1024 * 1024)),
        )
        # File-commit algorithm v2: task-side renames instead of a SERIAL
        # driver-side move of every partition dir at job end. The segment
        # write fans out to n_shards dirs; under v1 the commit tail is a
        # single-threaded O(files) loop that caps reduce-stage scaling
        # (measured: reduce 2→8 efficiency 0.54 → with v2 the tail is
        # parallelized). Safe here: index visibility is gated by the
        # engine's own manifest commit, not by file-move atomicity.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
                "2")
    )
    # Shuffle/spill on the fastest local medium (cluster analog: executor
    # NVMe via spark.local.dir). The sandbox root disk does ~250 MB/s, which
    # would serialize every shuffle; /dev/shm is RAM-backed.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: Iterable, ddl: str) -> DataFrame:
    """A driver-built literal table as a DataFrame that starts no Python
    task.

    ``spark.createDataFrame(<list>, ddl)`` parallelizes the list as a
    Python RDD: one Python worker task per default partition, empty list
    or not, and each Python task costs a fixed ~0.2 CPU s before it does
    any work. A ``pyarrow.Table`` instead lands in the JVM as a local
    relation (below Spark's ``arrowLocalRelationThreshold``): collecting
    it runs no job, and an empty one folds away. Every literal table of
    the engine goes through here (a test guards it).

    ``rows`` are tuples (or Rows) in the order of the ``ddl`` schema.
    Columns are typed by the schema, so an empty frame keeps its types,
    and a value that does not fit its column type (an int32 overflow, a
    fractional long) raises, as the Python path's schema verification
    does."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = DataType.fromDDL(ddl)
    arrow = to_arrow_schema(struct)
    rows = list(rows)
    width = len(arrow)
    for r in rows:
        if len(r) != width:
            raise ValueError(
                f"row {tuple(r)!r} has {len(r)} values; schema has {width}"
            )
    cols = list(zip(*rows)) if rows else [()] * width
    # convert with the inferred type, then cast (safe): converting straight
    # to the target type would truncate a fractional value into an int
    table = pa.Table.from_arrays(
        [pa.array(c).cast(f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
