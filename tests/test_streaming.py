"""Incremental/streaming index refresh (SURVEY §2.8): segment append through
Structured Streaming must leave the index rank-identical to the brute-force
oracle over the UNION corpus with updated global stats (N, avgdl, df), and
batch retries must be idempotent.

Analog of Solr near-real-time commitWithin (ref: scripts/add_histograms.py:40)
on Lucene's segment model.
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from liresolr_spark.functions.tokenizer import py_tokenize
from liresolr_spark.operators.bm25 import bm25_topk_from_index
from liresolr_spark.operators.wand import wand_topk
from liresolr_spark.oracle import brute_force_topk
from liresolr_spark.plans.build import read_meta
from liresolr_spark.streaming.ingest import append_segment, incremental_index

QUERIES = ["readFile bufPack", "import return", "zzz_nothing",
           "dataNode hash_map sortMerge"]


@pytest.fixture(scope="module")
def streamed_index(spark, tmp_path_factory):
    from liresolr_spark.sources.corpus import synthetic_code_corpus

    base = tmp_path_factory.mktemp("stream")
    stream_in = str(base / "in")
    idx = str(base / "idx")
    cp = str(base / "cp")

    corpus = (synthetic_code_corpus(spark, 300, seed=7, partitions=4)
              .dropDuplicates(["repo", "path", "commit"]))
    corpus.persist()
    b1 = corpus.filter(F.abs(F.hash("repo", "path", "commit")) % 2 == 0)
    b2 = corpus.filter(F.abs(F.hash("repo", "path", "commit")) % 2 == 1)

    b1.write.parquet(stream_in)
    incremental_index(spark, stream_in, idx, cp,
                      num_shards=4, block_size=64)
    n1 = read_meta(idx).n_docs
    assert n1 == b1.count()

    b2.write.mode("append").parquet(stream_in)
    incremental_index(spark, stream_in, idx, cp,
                      num_shards=4, block_size=64)
    return idx, corpus, n1, stream_in, cp


def test_appended_index_global_stats(spark, streamed_index):
    idx, corpus, n1, _in, _cp = streamed_index
    meta = read_meta(idx)
    assert meta.n_docs == corpus.count() > n1
    stats = spark.read.parquet(f"{idx}/docstats")
    assert stats.count() == meta.n_docs
    assert stats.select("docID").distinct().count() == meta.n_docs
    got_avg = stats.agg(F.avg("doclen")).first()[0]
    assert abs(got_avg - meta.avgdl) < 1e-6


@pytest.mark.parametrize("query", QUERIES)
def test_appended_index_rank_identity(spark, streamed_index, query):
    idx, corpus, _n1, _in, _cp = streamed_index
    stats = spark.read.parquet(f"{idx}/docstats").select(
        "docID", "repo", "path", "commit")
    joined = stats.join(corpus, ["repo", "path", "commit"]).select(
        "docID", "content").collect()
    docs_local = [(r["docID"], r["content"]) for r in joined]
    assert len(docs_local) == read_meta(idx).n_docs

    want = brute_force_topk(docs_local, query, k=20)
    for path_fn in (wand_topk, bm25_topk_from_index):
        got = [(r["docID"], r["score"])
               for r in path_fn(spark, idx, py_tokenize(query), k=20).collect()]
        assert len(got) == len(want), (path_fn.__name__, query)
        for (gid, gs), (wid, ws) in zip(got, want):
            assert gid == wid, (path_fn.__name__, query, got, want)
            assert abs(gs - ws) < 1e-9 * max(1.0, abs(ws))


def test_stream_restart_is_idempotent(spark, streamed_index):
    idx, _corpus, _n1, stream_in, cp = streamed_index
    before = read_meta(idx).n_docs
    # re-run with no new files: checkpoint says everything is committed
    incremental_index(spark, stream_in, idx, cp, num_shards=4, block_size=64)
    assert read_meta(idx).n_docs == before


def test_epoch_retry_skipped(spark, streamed_index):
    idx, corpus, _n1, _in, _cp = streamed_index
    applied = read_meta(idx).applied_epochs
    assert applied, "append must record its epoch in the meta.json ledger"
    some_batch = corpus.limit(10)
    out = append_segment(some_batch, idx, epoch_id=applied[-1])
    assert out == {"skipped_epoch": applied[-1]}
    assert read_meta(idx).n_docs == spark.read.parquet(
        f"{idx}/docstats").count()


def test_uncommitted_append_retry_does_not_double_df(spark, write_leg,
                                                     streamed_index):
    """Crash-before-commit simulation: restore the pre-append meta.json
    (data files already on disk, commit point not yet written) and re-run
    the same epoch. The retry must clean the orphaned segment artifacts —
    including the dictionary fragment, whose duplication would silently
    skew idf for every term in the segment — and converge to the same df
    totals as a single clean append."""
    import shutil

    idx, corpus, _n1, _in, _cp = streamed_index
    meta_before = read_meta(idx)
    shutil.copy(f"{idx}/meta.json", f"{idx}/meta.json.save")

    batch = corpus.limit(25)
    epoch = {"driver": 777, "spark": 778}[write_leg]
    out1 = append_segment(batch, idx, epoch_id=epoch)
    assert out1["appended_docs"] > 0
    df_after_clean = {
        (r["field"], r["term"]): r["df"]
        for r in spark.read.parquet(f"{idx}/dictionary")
        .groupBy("field", "term").agg(F.sum("df").alias("df")).collect()
    }

    # crash between the data/fragment writes and the meta commit: meta.json
    # reverts, every other artifact of epoch 777 is left orphaned on disk
    shutil.move(f"{idx}/meta.json.save", f"{idx}/meta.json")
    assert read_meta(idx).n_docs == meta_before.n_docs

    out2 = append_segment(batch, idx, epoch_id=epoch)  # foreachBatch retry
    assert out2["appended_docs"] == out1["appended_docs"]
    df_after_retry = {
        (r["field"], r["term"]): r["df"]
        for r in spark.read.parquet(f"{idx}/dictionary")
        .groupBy("field", "term").agg(F.sum("df").alias("df")).collect()
    }
    assert df_after_retry == df_after_clean
    assert read_meta(idx).n_docs == spark.read.parquet(
        f"{idx}/docstats").count()


def test_within_batch_overwrite_last_write_wins(spark, tmp_path):
    """Two versions of the same UNIQUE_KEY (repo, path) in ONE micro-batch
    must resolve to a single live doc — Solr overwrite=true last-write-wins
    (round-3 advice: before the fix both versions stayed live forever, since
    cross-segment tombstones only supersede EARLIER segments). The winner is
    deterministic: highest commit."""
    idx = str(tmp_path / "lww_idx")
    base = spark.createDataFrame(
        [("r1", "a.py", "c_base", "python", "alpha beta gamma")],
        "repo string, path string, commit string, lang string, content string")
    append_segment(base, idx, num_shards=2, block_size=32)

    dup = spark.createDataFrame(
        [("r1", "b.py", "c1", "python", "delta one"),
         ("r1", "b.py", "c2", "python", "delta two"),   # same key, new commit
         ("r1", "c.py", "c1", "python", "epsilon")],
        "repo string, path string, commit string, lang string, content string")
    out = append_segment(dup, idx, epoch_id=1)
    assert out["appended_docs"] == 2  # b.py collapsed to its winner

    stats = spark.read.parquet(f"{idx}/docstats")
    b_rows = stats.filter(F.col("path") == "b.py").collect()
    assert len(b_rows) == 1 and b_rows[0]["commit"] == "c2"

    # the winning version is queryable; the loser's content never indexed
    hits = wand_topk(spark, idx, py_tokenize("delta"), k=5).collect()
    assert len(hits) == 1


def test_maintain_index_tier_gate_retires_big_segment(spark, tmp_path):
    """The adaptive size tier: a previously merged (big) appended segment
    must NOT be re-merged on every trigger — only the small segments
    coalesce, so long-running-ingest write amplification is logarithmic,
    not quadratic (Lucene's merge ladder)."""
    from liresolr_spark.plans.compact import _segments
    from liresolr_spark.sources.corpus import synthetic_code_corpus
    from liresolr_spark.streaming.ingest import maintain_index

    corpus = (synthetic_code_corpus(spark, 180, seed=13)
              .dropDuplicates(["repo", "path", "commit"]).persist())
    n = corpus.count()
    # deterministic split: big ~5/6 of the corpus (> tier_factor x median
    # of the small segments => retired from merging), four smalls ~1/24
    g = F.abs(F.hash("repo", "path", "commit")) % 24
    big = corpus.filter(g < 20)
    smalls = [corpus.filter(g == 20 + i) for i in range(4)]
    idx = str(tmp_path / "tier_idx")
    append_segment(smalls[0], idx, epoch_id=0, num_shards=4, block_size=64)
    append_segment(big, idx, epoch_id=1)  # the accumulated merged segment
    for i, s in enumerate(smalls[1:], start=2):
        append_segment(s, idx, epoch_id=i)

    before = {s[0] for s in _segments(spark, idx) if s[0] != 0}
    big_seg = min(before)  # first append = lowest appended seg id
    m = maintain_index(spark, idx, max_appended_segments=2)
    assert m is not None and m["merged_segments"] == 3  # the 3 small ones
    after = {s[0] for s in _segments(spark, idx) if s[0] != 0}
    assert big_seg in after, "big segment was re-merged (quadratic hazard)"
    assert len(after) == 2  # big + one fresh merged segment
    assert read_meta(idx).n_docs == n
    corpus.unpersist()


def test_maintain_index_bounds_segment_count(spark, tmp_path):
    """Streaming ingest with maintain_after_segments: appended segments are
    merged whenever their count reaches the policy, so a long-running
    ingest keeps read amplification bounded — and ranking stays identical
    to a from-scratch build of the same corpus."""
    from liresolr_spark.plans.compact import _segments
    from liresolr_spark.plans.build import build_index
    from liresolr_spark.sources.corpus import synthetic_code_corpus
    from liresolr_spark.streaming.ingest import maintain_index

    corpus = (synthetic_code_corpus(spark, 240, seed=11, partitions=4)
              .dropDuplicates(["repo", "path", "commit"]))
    corpus.persist()
    idx = str(tmp_path / "m_idx")
    parts = [corpus.filter(F.abs(F.hash("repo", "path", "commit")) % 4 == i)
             for i in range(4)]
    stream_in = str(tmp_path / "m_in")
    cp = str(tmp_path / "m_cp")
    # maxFilesPerTrigger=16 and single-file writes make each part one batch
    for p in parts:
        p.coalesce(1).write.mode("append").parquet(stream_in)
        incremental_index(spark, stream_in, idx, cp, num_shards=4,
                          block_size=64, maintain_after_segments=2)
    appended = [s for s in _segments(spark, idx) if s[0] != 0]
    assert len(appended) < 2 + 1, f"policy breached: {appended}"
    assert read_meta(idx).n_docs == corpus.count()

    # below threshold -> no-op
    assert maintain_index(spark, idx, max_appended_segments=99) is None

    # rank identity vs a from-scratch build
    ref = str(tmp_path / "m_ref")
    build_index(corpus, ref, num_shards=4, block_size=64)
    for q in QUERIES[:2]:
        want = [(r["docID"] is not None, round(r["score"], 9))
                for r in wand_topk(spark, ref, py_tokenize(q), k=15).collect()]
        got = [(r["docID"] is not None, round(r["score"], 9))
               for r in wand_topk(spark, idx, py_tokenize(q), k=15).collect()]
        assert got == want, q
    corpus.unpersist()


def test_incremental_index_with_positions(spark, tmp_path, corpus200):
    """Streaming ingest can create a POSITIONAL index from scratch: the
    first micro-batch builds with_positions=True, every later append
    follows the meta flag, and phrase queries serve index-only."""
    from liresolr_spark.operators.phrase import phrase_topk
    from liresolr_spark.plans.build import read_meta as _rm

    src = str(tmp_path / "pos_src")
    corpus200.limit(60).write.parquet(src)
    idx = str(tmp_path / "pos_stream_idx")
    ckpt = str(tmp_path / "pos_ckpt")
    incremental_index(spark, src, idx, ckpt, available_now=True,
                      num_shards=2, block_size=32, with_positions=True)
    assert _rm(idx).with_positions
    assert phrase_topk(spark, idx, None, "import return", k=5).count() >= 0


def test_append_refuses_cross_format_index(spark, tmp_path, corpus200):
    """An append onto an older-format index would mix block layouts inside
    one parquet dir — it must refuse and point at compact_index (the full-
    rewrite upgrade path)."""
    import json

    import pytest as _pytest

    d = str(tmp_path / "oldfmt")
    half = corpus200.limit(50)
    append_segment(half, d, epoch_id=0, num_shards=2, block_size=32)
    mpath = f"{d}/meta.json"
    m = json.load(open(mpath))
    m["format_version"] -= 1
    json.dump(m, open(mpath, "w"))
    with _pytest.raises(RuntimeError, match="format"):
        append_segment(corpus200.limit(10), d, epoch_id=1)
