"""Driver-side rows as Spark local relations.

A non-empty pandas frame handed to `createDataFrame` over Arrow becomes a
`LocalRelation`: collecting it, or any deterministic projection of it, runs
no Spark job. pyspark 4.1 turns an EMPTY pandas frame, and
`createDataFrame([], ddl)`, into a `LogicalRDD` instead, whose collect runs
one job of Python tasks; an empty result is therefore a typed one-row frame
cut by `.limit(0)`, which the optimizer keeps a local relation.

Only `collect()` keeps that promise: the optimizer folds a deterministic
Filter/Project into the `LocalRelation` and the rows come back with no job,
while `toPandas()` and `toArrow()` of the same plan each run one job (the
Arrow collect path submits one even over a local relation). Collect a
filtered local relation with `collect()` and build the pandas frame from its
rows.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType


def struct_of(schema: str | StructType) -> StructType:
    if isinstance(schema, StructType):
        return schema
    return StructType.fromDDL(schema)


def empty_pdf(schema: str | StructType) -> pd.DataFrame:
    """Zero-row pandas frame with the columns and dtypes of `schema`."""
    return to_arrow_schema(struct_of(schema)).empty_table().to_pandas()


def empty_frame(spark: SparkSession, schema: str | StructType) -> DataFrame:
    """Zero-row DataFrame of `schema` that collects without a Spark job.
    The placeholder row is all nulls, so every field is made nullable."""
    struct = StructType([StructField(f.name, f.dataType, True)
                         for f in struct_of(schema).fields])
    row = pd.DataFrame({n: pd.Series([None], dtype=object)
                        for n in struct.names})
    return spark.createDataFrame(row, struct).limit(0)


def local_frame(spark: SparkSession, pdf: pd.DataFrame,
                schema: str | StructType) -> DataFrame:
    """`pdf` (a superset of the schema's columns) as an Arrow local
    relation with `schema`."""
    struct = struct_of(schema)
    if not len(pdf):
        return empty_frame(spark, struct)
    return spark.createDataFrame(pdf[struct.names], struct)


def as_frame(spark: SparkSession, result: pd.DataFrame | DataFrame,
             schema: str | StructType) -> DataFrame:
    """An operator result projected to the columns of `schema` as a
    DataFrame: a driver-side pandas frame becomes a local relation, a
    Spark DataFrame stays a lazy plan."""
    if isinstance(result, pd.DataFrame):
        return local_frame(spark, result, schema)
    return result.select(*struct_of(schema).names)
