"""WAND safety property (SURVEY §5.2.5): block-max WAND must return EXACTLY
the exhaustive top-k — it is a safe optimization, unlike the reference's
lossy 20000-candidate cap (LireRequestHandler.java:59).

Randomized multi-term queries (seeded) drawn from the corpus vocabulary,
including hot skewed terms, rare terms, repeated terms, and out-of-vocab
terms, compared against the exhaustive index scorer and the block upper
bound invariant.
"""

from __future__ import annotations

import random

import pyspark.sql.functions as F
import pytest

from liresolr_spark.functions.codec import decode_block
from liresolr_spark.operators.bm25 import bm25_topk_from_index
from liresolr_spark.operators.wand import wand_topk


@pytest.fixture(scope="module")
def indexed(spark, corpus200, tmp_path_factory):
    from liresolr_spark.plans.build import build_index

    d = str(tmp_path_factory.mktemp("wand_index"))
    build_index(corpus200, d, num_shards=8, block_size=64)
    return d


@pytest.fixture(scope="module")
def vocab(spark, indexed):
    rows = (
        spark.read.parquet(f"{indexed}/dictionary")
        .filter(F.col("field") == "text")
        .orderBy(F.desc("df"), "term")
        .select("term", "df")
        .collect()
    )
    return [(r["term"], r["df"]) for r in rows]


def test_wand_equals_exhaustive_on_random_queries(spark, indexed, vocab):
    rng = random.Random(1234)
    hot = [t for t, _ in vocab[:10]]
    rare = [t for t, df in vocab if df <= 3][:20] or [t for t, _ in vocab[-20:]]
    mid = [t for t, _ in vocab[10:60]]
    for trial in range(8):
        nterms = rng.randint(1, 6)
        pool = rng.choice([hot, mid, rare, hot + mid + rare])
        q = [rng.choice(pool) for _ in range(nterms)]
        if trial % 3 == 0:
            q.append(q[0])            # repeated term -> qtf > 1
        if trial % 4 == 0:
            q.append("zz_out_of_vocab_zz")
        k = rng.choice([1, 5, 20, 60])
        want = [(r["docID"], r["score"])
                for r in bm25_topk_from_index(spark, indexed, q, k=k).collect()]
        got = [(r["docID"], r["score"])
               for r in wand_topk(spark, indexed, q, k=k).collect()]
        assert len(got) == len(want), (q, k)
        for (gid, gs), (wid, ws) in zip(got, want):
            assert gid == wid, (q, k, got, want)
            assert abs(gs - ws) < 1e-9 * max(1.0, abs(ws))


def test_wand_actually_prunes(spark, corpus200, tmp_path_factory):
    """The observable WAND saving: for a small k, a strict subset of
    aligned docID ranges is decoded (ranges never visited are never
    decompressed). Needs several ranges per shard, so a dedicated 2-shard,
    block-16 index. Accumulators count considered vs decoded."""
    from liresolr_spark.plans.build import build_index
    from liresolr_spark.operators.wand import wand_topk

    d = str(tmp_path_factory.mktemp("prune_index"))
    # the uniform synthetic corpus has no rare terms (every stem lands in
    # dozens of docs), so inject two docs holding a unique marker token
    rare_rows = spark.createDataFrame(
        [("org9/rare", f"src/r{i}.py", f"c{i}", "python",
          "zebraquux marker " + "filler pad " * 30)
         for i in range(2)],
        "repo string, path string, commit string, lang string, content string",
    )
    build_index(corpus200.unionByName(rare_rows), d, num_shards=2,
                block_size=16, with_hash_tokens=False)
    dict_rows = (
        spark.read.parquet(f"{d}/dictionary")
        .orderBy(F.desc("df"), "term").collect()
    )
    # rare + mid mix: ranges holding the rare (high-idf) term dominate the
    # upper bounds; mid-only ranges fall under theta once the rare ranges
    # are scored — the case WAND is built for (uniform same-df queries are
    # its worst case: all bounds tie and nothing can be skipped)
    mid = dict_rows[len(dict_rows) // 2]["term"]
    q = ["zebraquux", mid]
    stats: dict = {}
    out = wand_topk(spark, d, q, k=2, stats_out=stats)
    got = out.collect()
    assert len(got) == 2
    total = stats["ranges_total"].value
    visited = stats["ranges_visited"].value
    assert 0 < visited < total, (visited, total)

    # and the pruned result still equals the exhaustive scorer
    want = [(r["docID"], r["score"])
            for r in bm25_topk_from_index(spark, d, q, k=2).collect()]
    assert [(r["docID"], r["score"]) for r in got] == want


def test_block_max_is_upper_bound(spark, indexed):
    """Per-block max_tf_norm must bound every contained posting's tf-norm
    (WAND pruning is only safe under this invariant — SURVEY §7.4.6)."""
    from liresolr_spark.plans.build import read_meta

    meta = read_meta(indexed)
    k1, b, avgdl = meta.k1, meta.b, meta.avgdl
    rows = (
        spark.read.parquet(f"{indexed}/blocks")
        .sample(0.2, seed=7)
        .limit(300)
        .collect()
    )
    assert rows
    for r in rows:
        ids, tfs, dls = decode_block(
            bytes(r["docids"]), bytes(r["tfs"]), bytes(r["doclens"]))
        assert len(ids) == r["count"]
        assert ids[0] == r["first_docid"] and ids[-1] == r["last_docid"]
        tf = tfs.astype(float)
        dl = dls.astype(float)
        norm = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        assert norm.max() <= r["max_tf_norm"] + 1e-12
        # the avgdl-independent bound inputs (what WAND actually prunes
        # with): exact per-block maxima/minima of the raw streams
        assert tf.max() == r["max_tf"] and dl.min() == r["min_dl"]
        mtf, mdl = float(r["max_tf"]), float(r["min_dl"])
        ub = mtf * (k1 + 1.0) / (mtf + k1 * (1.0 - b + b * mdl / avgdl))
        assert norm.max() <= ub + 1e-12


def test_fq_allow_pushdown_exact_under_filter(spark, indexed, vocab):
    """fq pushed into the shard kernel: top-k must be exact UNDER the
    filter — equal to the full exhaustive ranking restricted to fq-passing
    docs — even when k is small enough that the unfiltered pool would have
    lost filtered matches (the round-2 post-filter recall bug)."""
    stats = spark.read.parquet(f"{indexed}/docstats")
    langs = [r["lang"] for r in stats.groupBy("lang").count()
             .orderBy("count").collect()]
    lang = langs[0]  # rarest language -> most selective filter
    allow = stats.filter(F.col("lang") == lang).select("shard", "docID")
    allowed_ids = {r["docID"] for r in allow.collect()}
    assert 0 < len(allowed_ids) < 200

    q = [vocab[0][0], vocab[5][0], vocab[20][0]]
    full = bm25_topk_from_index(spark, indexed, q, k=200).collect()
    want = [(r["docID"], r["score"]) for r in full
            if r["docID"] in allowed_ids][:5]
    got = [(r["docID"], r["score"])
           for r in wand_topk(spark, indexed, q, k=5,
                              allow_docids=allow).collect()]
    assert got == want
    # the scenario is the dangerous one: unfiltered top-5 differs
    assert [(r["docID"], r["score"]) for r in full[:5]] != want


def test_deny_tombstones_excluded(spark, indexed, vocab):
    """deny_docids (tombstoned docs) are excluded from results BEFORE the
    heap — the survivors are exactly the full ranking minus the denied."""
    q = [vocab[0][0], vocab[3][0]]
    full = bm25_topk_from_index(spark, indexed, q, k=200).collect()
    denied = {r["docID"] for r in full[:3]}  # kill the top 3
    stats = spark.read.parquet(f"{indexed}/docstats")
    deny = stats.filter(F.col("docID").isin(list(denied))).select(
        "shard", "docID")
    want = [(r["docID"], r["score"]) for r in full
            if r["docID"] not in denied][:10]
    got = [(r["docID"], r["score"])
           for r in wand_topk(spark, indexed, q, k=10,
                              deny_docids=deny).collect()]
    assert got == want


def test_batched_merge_rank_identical(spark, indexed, vocab):
    """The batched final merge (_merge_topk_per_qid) must return each
    qid's IDENTICAL top-k under (score desc, docID asc) as the single-query
    path — including ties, k larger than the candidate pool, and
    single-candidate qids."""
    from liresolr_spark.operators.wand import wand_topk_many

    hot = [t for t, _ in vocab[:6]]
    rare = [t for t, df in vocab if df <= 3][:6] or [t for t, _ in vocab[-6:]]
    queries = {
        "qa": [hot[0], hot[1], hot[2]],
        "qb": [rare[0]],                      # tiny candidate pool
        "qc": [hot[0], rare[1], hot[3]],
        "qd": [hot[4], hot[4], hot[5]],       # repeated term
        "qe": ["zz_out_of_vocab_zz", hot[2]],
    }
    by_qid: dict = {}
    for r in wand_topk_many(spark, indexed, queries, k=15).collect():
        by_qid.setdefault(r["qid"], []).append(
            (r["docID"], round(r["score"], 9)))
    for qid in by_qid:
        by_qid[qid].sort(key=lambda t: (-t[1], t[0]))
    for qid, terms in queries.items():
        want = [(r["docID"], round(r["score"], 9))
                for r in wand_topk(spark, indexed, terms, k=15).collect()]
        assert by_qid.get(qid, []) == want, qid
        if qid == "qc":  # a batch of one
            one = [(r["docID"], round(r["score"], 9)) for r in
                   wand_topk_many(spark, indexed, {qid: terms}, k=15)
                   .collect()]
            assert one == want


def test_batched_kernel_axis_bounded_by_postings():
    """The batched kernel's dense axis is the postings' distinct docIDs,
    not their docID span: blocks whose docIDs lie ~1e9 apart (one request
    over every shard of a large index) score exactly and allocate no more
    than a few MB."""
    import tracemalloc

    import numpy as np
    import pandas as pd

    from liresolr_spark.functions.codec import encode_block
    from liresolr_spark.operators.wand import _shard_kernel_many

    k1, b, avgdl = 1.2, 0.75, 10.0
    postings = {  # term -> blocks of (docIDs, tfs, doclens), one per shard
        "a": [([5, 9], [1, 3], [8, 12]), ([1_000_000_005], [2], [10]),
              ([2_000_000_005], [1], [7])],
        "b": [([5], [4], [8]), ([2_000_000_005, 2_000_000_006], [2, 1],
                                [7, 20])],
    }
    rows = [(t, *encode_block(*(np.array(c, dtype=np.int64) for c in blk)))
            for t, blks in postings.items() for blk in blks]
    blocks = pd.DataFrame(rows, columns=["term", "docids", "tfs", "doclens"])
    idfs = {"q1": {"a": 1.0, "b": 2.0}, "q2": {"b": 1.5}, "q3": {"a": 0.5}}

    want = {}
    for qid, ws in idfs.items():
        acc = {}
        for t, w in ws.items():
            for ids, tfs, dls in postings[t]:
                for d, tf, dl in zip(ids, tfs, dls):
                    acc[d] = acc.get(d, 0.0) + w * tf * (k1 + 1.0) / (
                        tf + k1 * (1.0 - b + b * dl / avgdl))
        want[qid] = sorted(acc.items(), key=lambda x: (-x[1], x[0]))[:3]

    tracemalloc.start()
    try:
        got = _shard_kernel_many(idfs, 3, k1, b, avgdl)(blocks)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 8 << 20, peak
    for qid in idfs:
        part = got[got["qid"] == qid]
        assert [(int(d), round(s, 9)) for d, s in
                zip(part["docID"], part["score"])] == \
            [(d, round(s, 9)) for d, s in want[qid]], qid
