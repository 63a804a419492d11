"""Driver-local segment writes: the parquet I/O of a segment append or a
segment merge small enough to run without Spark stages.

`streaming.ingest.append_segment` and `plans.compact.compact_segments` take
this path when the write's size estimate is at most
`operators.wand.DRIVER_MAX_POSTINGS` (SCALE.md §3, "Driver-local segment
writes"). The blocks still come from `plans.build._block_builder`, the
closure the Spark path's applyInArrow stage runs, called here once per
(shard, field) group. This module reads and writes the artifact rows with
pyarrow in the layout Spark writes: hive partition dirs (`shard=`, `seg=`),
zstd, one file per partition dir, each table cast to the Arrow schema of
the files already in its artifact directory — so a Spark reader sees the
same schema and the same rows whichever path wrote a segment.
"""

from __future__ import annotations

import glob
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from liresolr_spark.frames import struct_of
from liresolr_spark.plans.build import BLOCK_SCHEMA

# File columns (partition column excluded) of each artifact, as the Spark
# plans write them, and the hive partition column each is written under.
_FILE_DDL = {
    "docstats": "docID long, repo string, path string, commit string, "
                "lang string, doclen int, sha256 string",
    "blocks": BLOCK_SCHEMA.replace("shard int, ", ""),
    "dictionary": "field string, term string, df long, max_tf_norm double",
    "manifest": "term_lo string, term_hi string, bytes_written long, "
                "docs_indexed long, status string",
    "tombstones": "docID long, shard int",
}
_PART_COL = {"docstats": "shard", "blocks": "shard", "dictionary": "seg",
             "manifest": "shard", "tombstones": "seg"}


def read_table(base_dir: str, columns: list[str] | None = None,
               filter=None, schema: pa.Schema | None = None
               ) -> pa.Table | None:
    """Rows of a hive-partitioned artifact dir, partition columns
    included, typed as `schema` when given (columns=[]: footer row counts
    only); None when the dir holds no parquet file. pyarrow's default
    ignore_prefixes ('.', '_') skip what Spark's file index hides."""
    if not os.path.isdir(base_dir):
        return None
    dset = ds.dataset(base_dir, schema=schema, format="parquet",
                      partitioning="hive")
    if not dset.files:
        return None
    return dset.to_table(columns=columns, filter=filter)


def reader_schema(artifact: str) -> StructType:
    """The schema of a Spark reader of an artifact dir, in the order
    Spark's inference gives: the file columns, then the partition column."""
    return struct_of(f"{_FILE_DDL[artifact]}, {_PART_COL[artifact]} int")


def spark_reader(spark: SparkSession, index_dir: str,
                 artifact: str) -> DataFrame:
    """A Spark reader of an index's artifact dir given its files' schema
    (reader_schema), so building it runs no schema-inference job."""
    return spark.read.schema(reader_schema(artifact)).parquet(
        f"{index_dir}/{artifact}")


def serving_table(index_dir: str, artifact: str,
                  columns: list[str]) -> pa.Table:
    """`columns` of an index's artifact dir read with pyarrow, typed as its
    Spark reader (reader_schema); empty when the dir holds no parquet file."""
    schema = to_arrow_schema(reader_schema(artifact))
    tbl = read_table(f"{index_dir}/{artifact}", columns, schema=schema)
    return schema.empty_table().select(columns) if tbl is None else tbl


def file_schema(base_dir: str, artifact: str) -> pa.Schema:
    """The Arrow schema of the artifact's existing files (Spark's row
    metadata included), or the plans' schema for an empty dir."""
    files = sorted(glob.glob(os.path.join(base_dir, "*", "*.parquet")))
    if files:
        return pq.read_schema(files[0])
    return _arrow_schema(_FILE_DDL[artifact])


def _arrow_schema(ddl: str) -> pa.Schema:
    # DDL parsing goes through the active Spark session's JVM (no job)
    return to_arrow_schema(struct_of(ddl))


def write_partitions(tbl: pa.Table, base_dir: str, artifact: str,
                     sort_keys: list[str]) -> None:
    """One file per value of the artifact's partition column (_PART_COL),
    rows sorted by `sort_keys`, cast to the artifact dir's schema."""
    schema = file_schema(base_dir, artifact)
    part_col = _PART_COL[artifact]
    os.makedirs(base_dir, exist_ok=True)
    for value in sorted(set(tbl.column(part_col).to_pylist())):
        part = tbl.filter(pc.equal(tbl[part_col], value)).sort_by(
            [(k, "ascending") for k in sort_keys])
        d = os.path.join(base_dir, f"{part_col}={value}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            part.select(schema.names).cast(schema),
            os.path.join(d, f"part-00000-{uuid.uuid4()}.c000.zstd.parquet"),
            compression="zstd")


def build_blocks(rows: pa.Table, builder) -> pa.Table:
    """`builder` over each (shard, field) group of the kernel-input `rows`
    — the groups the applyInArrow stage hands it — concatenated."""
    if not rows.num_rows:
        return _arrow_schema(BLOCK_SCHEMA).empty_table()
    keys = rows.group_by(["shard", "field"]).aggregate([])
    return pa.concat_tables([
        builder((shard, field), rows.filter(
            (pc.field("shard") == shard) & (pc.field("field") == field)))
        for shard, field in sorted(zip(keys["shard"].to_pylist(),
                                       keys["field"].to_pylist()))])


def write_segment(blocks: pa.Table, docs: pa.Table, paths: dict,
                  seg: int) -> None:
    """Write a segment's blocks, then the manifest and the dictionary
    fragment (`seg=<seg>`) derived from the in-memory `blocks` and the
    segment's docstats rows `docs` — the rows `plans.build.write_manifest`
    and `write_dictionary` aggregate from the just-written files."""
    write_partitions(blocks, paths["blocks"], "blocks",
                     ["field", "term", "block_seq"])

    # manifest: a full join of per-shard block and doc aggregates
    stream_bytes = pc.add(pc.add(pc.binary_length(blocks["docids"]),
                                 pc.binary_length(blocks["tfs"])),
                          pc.binary_length(blocks["doclens"]))
    per_shard = blocks.append_column("b", stream_bytes).group_by(
        "shard").aggregate([("term", "min"), ("term", "max"), ("b", "sum")])
    per_shard = pa.table({
        "shard": per_shard["shard"], "term_lo": per_shard["term_min"],
        "term_hi": per_shard["term_max"],
        "bytes_written": per_shard["b_sum"]})
    counts = docs.group_by("shard").aggregate([("shard", "count")])
    counts = pa.table({"shard": counts["shard"],
                       "docs_indexed": counts["shard_count"]})
    manifest = per_shard.join(counts, "shard", join_type="full outer")
    manifest = manifest.append_column(
        "status", pa.array(["done"] * manifest.num_rows, pa.string()))
    write_partitions(manifest, paths["manifest"], "manifest", ["shard"])

    terms = blocks.group_by(["field", "term"]).aggregate(
        [("count", "sum"), ("max_tf_norm", "max")])
    dictionary = pa.table({
        "field": terms["field"], "term": terms["term"],
        "df": terms["count_sum"], "max_tf_norm": terms["max_tf_norm_max"],
        "seg": pa.array(np.full(terms.num_rows, seg, np.int32))})
    write_partitions(dictionary, paths["dictionary"], "dictionary",
                     ["field", "term"])


def segment_bytes(manifest_dir: str, first_shard: int) -> int:
    """Σ block stream bytes (the manifest's bytes_written) of the shards
    from `first_shard` up — the segment a write just added."""
    tbl = read_table(manifest_dir, ["bytes_written"],
                     ds.field("shard") >= first_shard)
    if tbl is None:
        return 0
    return int(pc.sum(tbl["bytes_written"]).as_py() or 0)
