"""SparkSession factory with the engine's pinned configuration.

All knobs that affect determinism or the oracle comparison are pinned here
(UTC timezone, AQE, Arrow batching) so every entry point — tests, bench,
driver harness — runs the same way.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(
    master: str | None = None,
    app_name: str = "tiledspark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # match shuffle partitions to parallelism, not the 200 default
    if shuffle_partitions is None:
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        if master.startswith("local-cluster"):
            w, c, _ = inner.split(",")
            shuffle_partitions = int(w) * int(c)
        else:
            shuffle_partitions = cpus if inner == "*" else int(inner)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("TILEDSPARK_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # single-file synthetic corpora must still split across all cores:
        # 32 MB input partitions → a 1.5 GB file feeds 48 tasks, not 12
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # uniform local executors: never idle a core waiting for cache locality
        .config("spark.locality.wait", "0s")
    )
    # AQE advisory partition size: Spark's 64m default measured BEST here
    # (16m tried and slightly worse — more tasks than work); env override
    # kept for experiments only, no config is set otherwise.
    if "SPARK_GRAFT_ADVISORY" in os.environ:
        b = b.config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ["SPARK_GRAFT_ADVISORY"],
        )
    if master.startswith("local-cluster"):
        # multi-executor-process mode: workers need the engine on their
        # python path, and the dist must be resolvable
        os.environ.setdefault("SPARK_HOME", "/opt/spark-4.1.2-bin-hadoop3")
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        b = b.config("spark.executorEnv.PYTHONPATH", repo_root)
    # bench experiments: semicolon-separated k=v pairs, applied last
    for pair in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            b = b.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, data: pa.Table | dict, schema: StructType | str) -> DataFrame:
    """A frame of rows the driver holds: a pyarrow Table, or a dict of
    column lists, with a Spark schema (StructType or DDL string). Spark
    plans it as a LocalRelation, so collecting or broadcasting it runs no
    job. createDataFrame over a Python list instead plans an RDD that a
    Python worker unpickles: one job, and about 1 cpu-s, per use."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if not isinstance(data, pa.Table):
        data = pa.Table.from_pydict(data, schema=to_arrow_schema(schema))
    return spark.createDataFrame(data, schema)
