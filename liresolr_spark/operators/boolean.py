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
from pyspark.sql import DataFrame, SparkSession

from liresolr_spark.frames import as_frame, empty_pdf
from liresolr_spark.functions.codec import decode_blocks
from liresolr_spark.operators.phrase import (DOCSET_SCHEMA,
                                             _conjunctive_docids, _lacks_term)
from liresolr_spark.operators.wand import (_run_shard_kernel,
                                           postings_estimate, prune_blocks)
from liresolr_spark.plans.build import read_meta


def disjunctive_docids(spark: SparkSession, *args, **kwargs) -> DataFrame:
    """The boolean-OR doc set as a DataFrame(shard, docID): the arguments
    and result of _disjunctive_docids, a driver-side result wrapped as a
    local relation."""
    return as_frame(spark, _disjunctive_docids(spark, *args, **kwargs),
                    DOCSET_SCHEMA)


def _disjunctive_docids(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    field: str = "text",
    blocks_df: DataFrame | None = None,
    meta=None,
    dictionary_map: dict | None = None,
):
    """(shard, docID) rows of docs whose `field` contains ANY term — the
    boolean-OR doc set (the MUST_NOT exclusion input); a pandas frame when
    the kernel ran in the driver, else a lazy DataFrame. One kernel over
    the blocks of one shard or of all: decode every term's docID stream and
    take the sorted union, each docID with its block's shard.
    dictionary_map: the driver-side {field: {term: df}} snapshot; it sizes
    the request for the kernel dispatch (operators.wand._run_shard_kernel)."""
    uniq = sorted(set(terms))
    if not uniq:
        return empty_pdf(DOCSET_SCHEMA)
    meta = meta or read_meta(index_dir)
    blocks = prune_blocks(spark, index_dir, blocks_df, field, uniq,
                          ["shard", "term", "block_seq", "docids"])

    def kernel(bl: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"shard": pd.Series(dtype="int32"),
                              "docID": pd.Series(dtype="int64")})
        if len(bl) == 0:
            return empty
        ids, _, _, counts = decode_blocks(bl["docids"])
        ids, first = np.unique(ids, return_index=True)
        shards = np.repeat(bl["shard"].to_numpy(np.int32), counts)[first]
        return pd.DataFrame({"shard": shards, "docID": ids})

    return _run_shard_kernel(
        spark, blocks, kernel, DOCSET_SCHEMA, meta,
        postings=postings_estimate(dictionary_map, field, uniq))


def boolean_restriction(spark: SparkSession, *args, **kwargs
                        ) -> tuple[DataFrame | None, DataFrame | None]:
    """(allow, deny) docID restriction frames for a boolean query: the
    arguments and result of _boolean_restriction, each driver-side set
    wrapped as a local relation. Both plug into wand_topk / phrase_topk
    unchanged."""
    return tuple(None if side is None else as_frame(spark, side, DOCSET_SCHEMA)
                 for side in _boolean_restriction(spark, *args, **kwargs))


def _boolean_restriction(
    spark: SparkSession,
    index_dir: str,
    must: list[str] | None,
    must_not: list[str] | None,
    field: str = "text",
    blocks_df: DataFrame | None = None,
    meta=None,
    dictionary_map: dict | None = None,
):
    """(allow, deny) docID restriction for a boolean query: allow = docs
    containing ALL `must` terms (None when no MUST clauses — no
    restriction), deny = docs containing ANY `must_not` term (None when
    empty); each a pandas frame when its kernel ran in the driver, else a
    lazy DataFrame. dictionary_map: see _disjunctive_docids; a MUST term
    missing from it empties allow without a kernel."""
    allow = deny = None
    if must and _lacks_term(dictionary_map, field, must):
        allow = empty_pdf(DOCSET_SCHEMA)
    elif must:
        allow = _conjunctive_docids(spark, index_dir, must, field=field,
                                    blocks_df=blocks_df, meta=meta,
                                    dictionary_map=dictionary_map)
    if must_not:
        deny = _disjunctive_docids(spark, index_dir, must_not, field=field,
                                   blocks_df=blocks_df, meta=meta,
                                   dictionary_map=dictionary_map)
    return allow, deny
