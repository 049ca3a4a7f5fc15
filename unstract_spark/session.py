"""SparkSession factory.

Local test profile mirrors what the driver uses (local[N], AQE on,
shuffle partitions sized to cores, Arrow enabled for pandas-UDF stages).
On a real cluster the same builder applies; only master/memory change.

Scale notes (100 TB):
- AQE handles skew-join splitting and partition coalescing at runtime.
- `spark.sql.files.maxPartitionBytes` 128m keeps scan tasks bounded.
- shuffle partitions: set explicitly per-job for the big shuffles
  (bench uses 32 locally; a 1000-executor cluster wants ~2-4x cores).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "unstract_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    Defaults come from env so the driver/bench can steer without code
    changes: SPARK_GRAFT_CPUS controls local parallelism.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Spark 4.1's UnionExec partitioning propagation
        # (spark.sql.unionOutputPartitioning, default true) claims the
        # children's common hash partitioning for the union's
        # CONCATENATED (n_children x P)-partition output; a downstream
        # sort-merge join then skips its exchange and dies in
        # zipPartitions ("Can't zip RDDs with unequal numbers of
        # partitions: List(3P, P)"). Reproduced on 4.1.2 with three
        # co-partitioned-on-doc_id union branches joined back on
        # doc_id (dedup.remove_duplicated_spans). Engine sessions turn
        # the feature off; operators that union co-partitioned
        # branches also carry a structural shield for vanilla
        # sessions.
        .config("spark.sql.unionOutputPartitioning", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def empty_frame(spark: SparkSession, schema: StructType | str) -> DataFrame:
    """A zero-row frame (StructType or DDL schema) that Catalyst can see
    is empty: its plan is an empty LocalRelation, so joins, unions and
    aggregates over it fold away at optimization time. An empty Python
    list through createDataFrame is instead an opaque Python-backed RDD
    that costs a job of Python tasks every time a plan touches it."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema)

