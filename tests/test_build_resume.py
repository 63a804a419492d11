"""Resumability (SURVEY §5.2.4, north_rule): a build killed part-way and
restarted must (a) skip completed shards via the lineage manifest, (b) clean
up orphaned partial writes, and (c) produce an index bit-identical to an
uninterrupted build.

The reference has no resume story — ParallelSolrIndexer.java:338-385 restarts
from the file list and relies on Solr overwrite=true to paper over
duplicates; our manifest anti-join is the principled replacement.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest

from liresolr_spark.plans.build import build_index


def _fingerprint(spark, index_dir: str):
    """Order-insensitive content fingerprint of the block index + docstats."""
    blocks = (
        spark.read.parquet(f"{index_dir}/blocks")
        .select("shard", "field", "term", "block_seq", "count",
                "first_docid", "last_docid",
                F.md5(F.base64("docids")).alias("d"),
                F.md5(F.base64("tfs")).alias("t"),
                F.md5(F.base64("doclens")).alias("l"),
                "max_tf_norm", "max_tf", "min_dl")
        .orderBy("shard", "field", "term", "block_seq")
        .collect()
    )
    stats = (
        spark.read.parquet(f"{index_dir}/docstats")
        .select("docID", "shard", "repo", "path", "commit", "doclen", "sha256")
        .orderBy("docID")
        .collect()
    )
    return [tuple(r) for r in blocks], [tuple(r) for r in stats]


@pytest.fixture(scope="module")
def baseline_index(spark, corpus200, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_full"))
    m = build_index(corpus200, d, num_shards=8, block_size=64)
    assert m["finished"]
    return d


def test_interrupted_then_resumed_is_bit_identical(
    spark, corpus200, baseline_index, tmp_path_factory
):
    d = str(tmp_path_factory.mktemp("idx_resume"))
    # simulate a kill: 4 waves of 2 shards, stop after 2 waves
    m1 = build_index(corpus200, d, num_shards=8, block_size=64,
                     shard_waves=4, max_waves=2)
    assert not m1["finished"]
    assert not os.path.exists(f"{d}/meta.json")
    man = spark.read.parquet(f"{d}/manifest")
    done_before = {int(r["shard"]) for r in man.collect()}
    assert 0 < len(done_before) < 8

    # restart: manifest anti-join must skip exactly the completed shards
    m2 = build_index(corpus200, d, num_shards=8, block_size=64, shard_waves=4)
    assert m2["finished"]
    assert m2["resumed_shards_skipped"] == len(done_before)

    assert _fingerprint(spark, d) == _fingerprint(spark, baseline_index)

    # lineage manifest is complete and consistent
    man = spark.read.parquet(f"{d}/manifest")
    rows = man.collect()
    assert {int(r["shard"]) for r in rows} == set(range(8))
    assert all(r["status"] == "done" for r in rows)
    assert sum(int(r["docs_indexed"]) for r in rows) == m2["n_docs"]
    assert all(int(r["bytes_written"]) > 0 for r in rows)
    assert all(r["term_lo"] <= r["term_hi"] for r in rows)


def test_mid_wave_kill_orphan_cleanup(
    spark, corpus200, baseline_index, tmp_path_factory
):
    """Kill between the blocks write and the manifest commit: the orphaned
    shard partitions must be dropped on restart, not duplicated."""
    d = str(tmp_path_factory.mktemp("idx_orphan"))
    build_index(corpus200, d, num_shards=8, block_size=64,
                shard_waves=4, max_waves=2)
    # fake the mid-wave kill by deleting the manifest rows of one completed
    # shard while leaving its docstats/blocks partitions in place
    man = spark.read.parquet(f"{d}/manifest")
    victim = int(man.agg(F.min("shard")).first()[0])
    keep = man.filter(F.col("shard") != victim).collect()
    shutil.rmtree(f"{d}/manifest")
    if keep:
        spark.createDataFrame(keep, man.schema).write.parquet(f"{d}/manifest")
    assert os.path.exists(f"{d}/blocks/shard={victim}")

    m = build_index(corpus200, d, num_shards=8, block_size=64, shard_waves=4)
    assert m["finished"]
    assert m["resumed_shards_skipped"] == len(keep)
    assert _fingerprint(spark, d) == _fingerprint(spark, baseline_index)


def test_fresh_build_overwrites_with_resume_false(
    spark, corpus200, baseline_index, tmp_path_factory
):
    d = str(tmp_path_factory.mktemp("idx_fresh"))
    build_index(corpus200, d, num_shards=8, block_size=64)
    m = build_index(corpus200, d, num_shards=8, block_size=64, resume=False)
    assert m["finished"] and m["resumed_shards_skipped"] == 0
    assert _fingerprint(spark, d) == _fingerprint(spark, baseline_index)


def test_group_salt_is_query_invariant(spark, corpus200, tmp_path_factory):
    """The blocks-stage term-hash salt (the 100x-scale memory bound) must
    not change ANY observable: same dictionary df, same WAND top-k ids and
    scores — only the grouping of work differs."""
    import math

    import pyspark.sql.functions as F

    import liresolr_spark.plans.build as build
    from liresolr_spark.functions.tokenizer import py_tokenize
    from liresolr_spark.operators.wand import wand_topk
    from liresolr_spark.plans.build import build_index

    d1 = str(tmp_path_factory.mktemp("salt1"))
    d4 = str(tmp_path_factory.mktemp("salt4"))
    m1 = build_index(corpus200, d1, num_shards=4, block_size=64)
    # 4 salts: TARGET_GROUP_ROWS at a quarter of one shard's tokens
    total = build.read_meta(d1).total_doclen
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(build, "TARGET_GROUP_ROWS", math.ceil(total / 4 / 4))
        m4 = build_index(corpus200, d4, num_shards=4, block_size=64)
    assert m1["group_salts"] == 1 and m4["group_salts"] == 4

    dict1 = {(r["field"], r["term"]): r["df"]
             for r in spark.read.parquet(f"{d1}/dictionary").collect()}
    dict4 = {(r["field"], r["term"]): r["df"]
             for r in spark.read.parquet(f"{d4}/dictionary").collect()}
    assert dict1 == dict4

    for q in ["readFile bufPack", "import return def"]:
        r1 = [(r["docID"], round(r["score"], 10))
              for r in wand_topk(spark, d1, py_tokenize(q), k=15).collect()]
        r4 = [(r["docID"], round(r["score"], 10))
              for r in wand_topk(spark, d4, py_tokenize(q), k=15).collect()]
        assert r1 == r4, q
