"""Boolean query composition (Lucene BooleanQuery Occur.MUST / SHOULD /
MUST_NOT) over the block index.

The reference's own query builder emits SHOULD-only clauses
(createQuery, LireRequestHandler.java:576-592), but the Solr surface it
lives in accepts the full +term / -term syntax; Lucene semantics:

- SHOULD terms contribute score (the OR pool WAND already serves);
- MUST terms restrict the candidate set AND contribute score;
- MUST_NOT terms exclude documents and never score.

Spark shape: MUST becomes a docID ALLOW set (posting-list intersection,
operators/phrase.conjunctive_docids), MUST_NOT a docID DENY set
(posting-list union, `disjunctive_docids` here); both are (shard, docID)
frames cogrouped into the WAND shard kernel exactly like fq pushdown, so
the top-k is exact UNDER the boolean restriction — no candidate-pool
recall loss. Scoring terms = SHOULD ∪ MUST with their query tfs.

Scale: both set builders read only the named terms' posting blocks
(term-pruned scan, per-shard Arrow kernel, no posting shuffle). A hot
MUST_NOT term costs its posting list — same as Lucene, where the
exclusion iterator advances through the full postings of the negated
term.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from liresolr_spark.functions.codec import decode_block
from liresolr_spark.operators.phrase import conjunctive_docids
from liresolr_spark.operators.wand import _run_shard_kernel, postings_estimate
from liresolr_spark.plans.build import read_meta


def disjunctive_docids(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    field: str = "text",
    blocks_df: DataFrame | None = None,
    meta=None,
    dictionary_map: dict | None = None,
) -> DataFrame:
    """DataFrame(shard, docID) of docs whose `field` contains ANY term —
    the boolean-OR doc set (the MUST_NOT exclusion input). Per shard:
    decode each term's docID stream and take the sorted union.
    dictionary_map: the driver-side {field: {term: df}} snapshot; it sizes
    the request for the kernel dispatch (operators.wand._run_shard_kernel)."""
    uniq = sorted(set(terms))
    if not uniq:
        return spark.createDataFrame([], "shard int, docID long")
    meta = meta or read_meta(index_dir)
    src = (blocks_df if blocks_df is not None
           else spark.read.parquet(f"{index_dir}/blocks"))
    blocks = src.filter(
        (F.col("field") == field) & F.col("term").isin(uniq)
    ).select("shard", "term", "block_seq", "docids")

    def kernel(bl: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"shard": pd.Series(dtype="int32"),
                              "docID": pd.Series(dtype="int64")})
        if len(bl) == 0:
            return empty
        shard = int(bl["shard"].iloc[0])
        ids = np.unique(np.concatenate([
            decode_block(bytes(d), b"", b"")[0].astype(np.int64)
            for d in bl["docids"].values]))
        return pd.DataFrame({"shard": np.full(len(ids), shard, dtype="int32"),
                             "docID": ids})

    return _run_shard_kernel(
        spark, blocks, kernel, "shard int, docID long", meta,
        postings=postings_estimate(dictionary_map, field, uniq))


def boolean_restriction(
    spark: SparkSession,
    index_dir: str,
    must: list[str] | None,
    must_not: list[str] | None,
    field: str = "text",
    blocks_df: DataFrame | None = None,
    meta=None,
    dictionary_map: dict | None = None,
) -> tuple[DataFrame | None, DataFrame | None]:
    """(allow, deny) docID restriction frames for a boolean query: allow =
    docs containing ALL `must` terms (None when no MUST clauses — no
    restriction), deny = docs containing ANY `must_not` term (None when
    empty). Both plug into wand_topk / phrase_topk unchanged.
    dictionary_map: see disjunctive_docids."""
    allow = deny = None
    if must:
        allow = conjunctive_docids(spark, index_dir, must, field=field,
                                   blocks_df=blocks_df, meta=meta,
                                   dictionary_map=dictionary_map)
    if must_not:
        deny = disjunctive_docids(spark, index_dir, must_not, field=field,
                                  blocks_df=blocks_df, meta=meta,
                                  dictionary_map=dictionary_map)
    return allow, deny
