"""Driver-side rows as Spark local relations.

A `pyarrow.Table` handed to `createDataFrame` with a StructType becomes a
`LocalRelation`, empty or not: collecting it, or any deterministic
projection of it, runs no Spark job. Every driver-side frame here is built
that way, from a table cast to the Arrow form of its schema. The pandas
route is slower and has an exception: pyspark 4.1 turns an EMPTY pandas
frame, and `createDataFrame([], ddl)`, into a `LogicalRDD`, whose collect
runs one job of Python tasks.

Only `collect()` keeps that promise: the optimizer folds a deterministic
Filter/Project into the `LocalRelation` and the rows come back with no job,
while `toPandas()` and `toArrow()` of the same plan each run one job (the
Arrow collect path submits one even over a local relation). Collect a
filtered local relation with `collect()` and build the pandas frame from its
rows.
"""

from __future__ import annotations

import functools

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


_parse_ddl = functools.lru_cache(maxsize=None)(StructType.fromDDL)


def struct_of(schema: str | StructType) -> StructType:
    """`schema` as a StructType. A DDL string is parsed in the JVM once and
    the parse is shared by every later call: treat it as read-only."""
    if isinstance(schema, StructType):
        return schema
    return _parse_ddl(schema)


def empty_pdf(schema: str | StructType) -> pd.DataFrame:
    """Zero-row pandas frame with the columns and dtypes of `schema`."""
    return to_arrow_schema(struct_of(schema)).empty_table().to_pandas()


def empty_frame(spark: SparkSession, schema: str | StructType) -> DataFrame:
    """Zero-row DataFrame of `schema` that collects without a Spark job."""
    struct = struct_of(schema)
    return spark.createDataFrame(to_arrow_schema(struct).empty_table(),
                                 struct)


def local_frame(spark: SparkSession, pdf: pd.DataFrame,
                schema: str | StructType) -> DataFrame:
    """`pdf` (a superset of the schema's columns, when it has rows) as an
    Arrow local relation with `schema`."""
    struct = struct_of(schema)
    if not len(pdf):
        return empty_frame(spark, struct)
    table = pa.Table.from_pandas(pdf[struct.names], to_arrow_schema(struct),
                                 preserve_index=False)
    return spark.createDataFrame(table, struct)


def as_frame(spark: SparkSession, result: pd.DataFrame | DataFrame,
             schema: str | StructType) -> DataFrame:
    """An operator result projected to the columns of `schema` as a
    DataFrame: a driver-side pandas frame becomes a local relation, a
    Spark DataFrame stays a lazy plan."""
    if isinstance(result, pd.DataFrame):
        return local_frame(spark, result, schema)
    return result.select(*struct_of(schema).names)
