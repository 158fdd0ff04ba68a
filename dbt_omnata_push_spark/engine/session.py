"""SparkSession factory with scale-oriented defaults.

The reference (dbt-omnata-push) delegates all execution to Snowflake; our
engine delegates to Spark/Catalyst. Every knob here exists so the same code
runs unchanged from local[32] tests to a 1000-executor cluster:

- AQE on (runtime join re-planning, partition coalescing, skew-join
  handling) so plan shapes survive 100x data-scale changes.
- Arrow on for every pandas-UDF boundary (the connector push path).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-independent.
- ``spark.sql.legacy.parquet.nanosAsLong`` because the events testdata uses
  nanosecond parquet timestamps, which Spark otherwise refuses to read
  (see catalog.load_table for the ns->us conversion).

``local_frame`` is the package's one way to turn driver-held rows into a
DataFrame (a JVM LocalRelation, whatever the session's Arrow setting).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType

DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Push stages have remote side effects; speculative duplicates of a
    # task would double-call the SaaS API (SURVEY.md §4 item 2).
    "spark.speculation": "false",
    # 128MB parquet split targets keep partition counts sane at 100TB.
    "spark.sql.files.maxPartitionBytes": "134217728",
}


def get_spark(
    app_name: str = "dbt-omnata-push-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Return (or create) a SparkSession with engine defaults applied."""
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession():
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        builder = builder.master(f"local[{cpus}]")
    conf = dict(DEFAULT_CONF)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Session-level confs apply even when we join an existing session.
    for k in (
        "spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.adaptive.enabled",
    ):
        spark.conf.set(k, conf[k])
    return spark


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """A DataFrame over rows the driver already holds, as a JVM
    ``LocalRelation``.

    ``spark.createDataFrame(list)`` parallelizes the rows as a Python
    RDD, so every evaluation of the frame runs Python worker tasks
    (hundreds of ms even for one row), and pandas input takes the same
    path when Arrow is off. An Arrow table reaches the JVM as a
    ``LocalRelation`` on any session: evaluating it runs no Python, and
    the optimizer sees its rows (an empty one folds away).

    ``rows`` is a list of tuples in ``schema`` order or a pandas frame
    holding ``schema``'s columns; ``schema`` is a StructType or a DDL
    string. Row values convert as ``createDataFrame(list)`` converts
    them.
    """
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    if isinstance(rows, pd.DataFrame):
        table = pa.Table.from_pandas(
            rows[schema.names], schema=arrow_schema, preserve_index=False
        )
    else:
        columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
        table = pa.Table.from_arrays(
            [
                # timestamps as epoch micros, converted exactly as
                # createDataFrame(list) converts them: naive datetimes
                # are local time of the Python process
                pa.array(
                    [f.dataType.toInternal(v) for v in col]
                    if isinstance(f.dataType, TimestampType)
                    else col,
                    type=af.type,
                )
                for col, f, af in zip(columns, schema.fields, arrow_schema)
            ],
            schema=arrow_schema,
        )
    return spark.createDataFrame(table, schema)

