"""Segment compaction + cross-segment overwrite semantics (SURVEY §2.8 —
the Lucene background-merge analog behind the reference's commitWithin,
ref: scripts/add_histograms.py:40).

Gates (round-2 verdict items 1-2):
  - re-appending an existing UNIQUE_KEY (repo, path) tombstones the old
    version: results exclude it, docstats views show one live row;
  - compact_index physically drops tombstoned docs, renumbers, recomputes
    exact stats: rank identity with a from-scratch build of the surviving
    docs, shard/fragment counts reduced;
  - a no-tombstone compact is a pure merge (rank identity with the
    uncompacted index), in_place swap keeps the index queryable.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from liresolr_spark.api import LireQueryEngine
from liresolr_spark.operators.wand import wand_topk
from liresolr_spark.plans.build import build_index, read_meta
from liresolr_spark.plans.compact import compact_index
from liresolr_spark.streaming.ingest import append_segment

QUERY = ["read", "file", "data"]


def _hits_keyed(spark, idx, terms, k=20):
    """[(repo, path, score)] — docID-independent rank identity form."""
    hits = wand_topk(spark, idx, terms, k=k)
    stats = spark.read.parquet(f"{idx}/docstats").select(
        "docID", "repo", "path")
    return [
        (r["repo"], r["path"], round(r["score"], 9))
        for r in hits.join(stats, "docID")
        .orderBy(F.desc("score"), "repo", "path").collect()
    ]


@pytest.fixture(scope="module")
def overwritten(spark, corpus200, tmp_path_factory):
    """Index: epoch 0 = all 200 docs with STALE content, epoch 1 = the even
    half re-added with the true content (same repo/path, new commit)."""
    d = str(tmp_path_factory.mktemp("ow")) + "/ix"
    stale = corpus200.withColumn(
        "content", F.concat(F.col("content"), F.lit("\nstale marker line")))
    half = corpus200.filter(F.crc32(F.col("path")) % 2 == 0).withColumn(
        "commit", F.concat(F.col("commit"), F.lit("_v2")))
    m0 = append_segment(stale, d, epoch_id=0, num_shards=4, block_size=64)
    m1 = append_segment(half, d, epoch_id=1)
    return d, m0, m1, corpus200


def test_overwrite_records_tombstones(spark, overwritten):
    d, m0, m1, corpus = overwritten
    n_half = corpus.filter(F.crc32(F.col("path")) % 2 == 0).count()
    assert m1["tombstoned_docs"] == n_half > 0


def test_overwritten_docs_excluded_from_results(spark, overwritten):
    d, _, _, corpus = overwritten
    eng = LireQueryEngine(spark, d, pin_blocks=False)
    tomb_ids = {r["docID"] for r in spark.read.parquet(f"{d}/tombstones")
                .collect()}
    hits = eng.search(text=" ".join(QUERY), rows=50)
    assert not ({r["docID"] for r in hits.collect()} & tomb_ids)
    # docstats views: exactly one live row per unique key
    dup = (eng._docstats().groupBy("repo", "path")
           .count().filter(F.col("count") > 1).count())
    assert dup == 0


def test_compact_matches_from_scratch_build(spark, overwritten,
                                            tmp_path_factory):
    d, _, _, corpus = overwritten
    out = str(tmp_path_factory.mktemp("ow_compact")) + "/ix"
    m = compact_index(spark, d, out_dir=out, num_shards=4)
    n_total = corpus.count()
    assert m["compacted_docs"] == n_total          # every key live once
    assert m["dropped_docs"] > 0

    # expected final corpus: stale odd half + true even half
    even = F.crc32(F.col("path")) % 2 == 0
    expect_df = (
        corpus.filter(~even)
        .withColumn("content",
                    F.concat(F.col("content"), F.lit("\nstale marker line")))
        .unionByName(corpus.filter(even).withColumn(
            "commit", F.concat(F.col("commit"), F.lit("_v2"))))
    )
    ref = str(tmp_path_factory.mktemp("ow_ref")) + "/ix"
    build_index(expect_df, ref, num_shards=4, block_size=64)

    assert _hits_keyed(spark, out, QUERY) == _hits_keyed(spark, ref, QUERY)
    # exact statistics restored (not the deleted-docs-drifted ones)
    assert read_meta(out).n_docs == read_meta(ref).n_docs
    assert abs(read_meta(out).avgdl - read_meta(ref).avgdl) < 1e-9
    # per-row content invariant survives the rewrite
    sha_out = {r["sha256"] for r in
               spark.read.parquet(f"{out}/docstats").collect()}
    sha_ref = {r["sha256"] for r in
               spark.read.parquet(f"{ref}/docstats").collect()}
    assert sha_out == sha_ref


def test_compact_reduces_segment_fanout(spark, corpus200, tmp_path_factory):
    """Many micro-appends -> compact: shard dirs and dictionary fragments
    collapse; results stay rank-identical to the uncompacted index."""
    d = str(tmp_path_factory.mktemp("frag")) + "/ix"
    # 5 disjoint micro-batches (no overwrites: pure merge case)
    for i in range(5):
        batch = corpus200.filter(F.crc32(F.col("path")) % 5 == i)
        append_segment(batch, d, epoch_id=i, num_shards=2, block_size=64)
    before = _hits_keyed(spark, d, QUERY)
    n_shards_before = read_meta(d).num_shards
    n_frags_before = len([x for x in os.listdir(f"{d}/dictionary")
                          if x.startswith("seg=")])
    assert n_shards_before > 4 and n_frags_before == 5

    m = compact_index(spark, d, num_shards=4, in_place=True)
    assert m["out_dir"] == d
    meta = read_meta(d)
    assert meta.num_shards == 4
    assert len([x for x in os.listdir(f"{d}/dictionary")
                if x.startswith("seg=")]) == 1
    assert meta.applied_epochs == [0, 1, 2, 3, 4]  # ledger survives
    assert _hits_keyed(spark, d, QUERY) == before
    # engine opens and serves the compacted index
    eng = LireQueryEngine(spark, d, pin_blocks=False)
    assert eng.search(text="read file", rows=5).count() == 5


# ---------------------------------------------------------------------------
# Tiered / partial compaction (round-3 verdict #6)
# ---------------------------------------------------------------------------

@pytest.fixture()
def tiered(spark, corpus200, tmp_path):
    """base = 3/5 of the corpus; seg A and seg B appended; B re-adds half of
    A's keys (overwrites -> tombstones targeting A ONLY, never the base)."""
    from liresolr_spark.plans.compact import compact_segments

    d = str(tmp_path / "tiered_ix")
    g = F.crc32(F.col("path")) % 5
    base = corpus200.filter(g <= 2)
    seg_a = corpus200.filter(g == 3)
    ow = (seg_a.filter(F.crc32(F.col("repo")) % 2 == 0)
          .withColumn("commit", F.concat(F.col("commit"), F.lit("_v2")))
          .withColumn("content", F.concat(F.col("content"), F.lit(" upd"))))
    seg_b = corpus200.filter(g == 4).unionByName(ow)
    append_segment(base, d, epoch_id=0, num_shards=4, block_size=64)
    append_segment(seg_a, d, epoch_id=1)
    m_b = append_segment(seg_b, d, epoch_id=2)
    # expected surviving corpus after the merge applies the tombstones
    ow_keys = ow.select("repo", "path")
    expect = (base
              .unionByName(seg_a.join(ow_keys, ["repo", "path"], "left_anti"))
              .unionByName(seg_b))
    return d, m_b, expect, compact_segments


def test_partial_compaction_rank_identity_and_untouched_base(
        spark, tiered, tmp_path):
    d, m_b, expect, compact_segments = tiered
    assert m_b["tombstoned_docs"] > 0
    base_rows_before = sorted(
        (r["docID"], r["shard"], r["path"]) for r in
        spark.read.parquet(f"{d}/docstats").filter(F.col("shard") < 4).collect())
    n_before = read_meta(d).n_docs

    m = compact_segments(spark, d)
    assert m["merged_segments"] == 2
    assert m["dropped_docs"] == m_b["tombstoned_docs"]
    assert read_meta(d).n_docs == n_before - m["dropped_docs"]

    # the base segment is byte-identical territory: same docIDs, same shards
    base_rows_after = sorted(
        (r["docID"], r["shard"], r["path"]) for r in
        spark.read.parquet(f"{d}/docstats").filter(F.col("shard") < 4).collect())
    assert base_rows_after == base_rows_before
    # tombstones all targeted merged segments -> physically applied
    from liresolr_spark.plans.build import load_tombstones
    t = load_tombstones(spark, d)
    assert t is None or t.count() == 0
    # dictionary fanout: base fragment + ONE merged fragment
    frags = [x for x in os.listdir(f"{d}/dictionary") if x.startswith("seg=")]
    assert len(frags) == 2

    # rank identity vs a from-scratch build of the surviving corpus:
    # partial compaction restores EXACT global stats (N, avgdl, df)
    ref = str(tmp_path / "tiered_ref")
    build_index(expect, ref, num_shards=4, block_size=64)
    assert _hits_keyed(spark, d, QUERY) == _hits_keyed(spark, ref, QUERY)
    assert abs(read_meta(d).avgdl - read_meta(ref).avgdl) < 1e-9


def test_append_after_partial_compaction_no_docid_collision(spark, tiered,
                                                            corpus200):
    d, _, _, compact_segments = tiered
    compact_segments(spark, d)
    meta = read_meta(d)
    assert meta.next_docid > meta.n_docs  # allocator ahead of live count
    fresh = corpus200.limit(30).withColumn(
        "repo", F.concat(F.lit("new/"), F.col("repo")))
    append_segment(fresh, d, epoch_id=3)
    stats = spark.read.parquet(f"{d}/docstats")
    assert stats.count() == stats.select("docID").distinct().count()
    eng = LireQueryEngine(spark, d, pin_blocks=False)
    assert eng.search(text="read file", rows=5).count() == 5


def test_partial_compaction_crash_rolls_back(spark, write_leg, tiered,
                                             monkeypatch):
    """Crash BEFORE the delete phase (old artifacts intact): read_meta must
    refuse the ambiguous index; repair rolls back to the pre-merge state."""
    import liresolr_spark.plans.compact as pc
    from liresolr_spark.plans.compact import repair_segment_compaction

    d, _, _, compact_segments = tiered
    before = _hits_keyed(spark, d, QUERY)

    real_rmtree = pc.shutil.rmtree
    def boom(*a, **k):
        raise RuntimeError("simulated crash in delete phase")
    monkeypatch.setattr(pc.shutil, "rmtree", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_segments(spark, d)
    monkeypatch.setattr(pc.shutil, "rmtree", real_rmtree)

    with pytest.raises(RuntimeError, match="unfinished partial compaction"):
        read_meta(d)

    # a marker written by a LIVE foreign process marks an in-progress
    # merge, not a crash: read_meta says so, repair refuses without force
    import json as _json
    mpath = os.path.join(d, "compact_segments.json")
    with open(mpath) as f:
        marker = _json.load(f)
    own_pid = marker["pid"]
    marker["pid"] = 1  # init: always alive, never us
    with open(mpath, "w") as f:
        _json.dump(marker, f)
    with pytest.raises(RuntimeError, match="IN-PROGRESS"):
        read_meta(d)
    with pytest.raises(RuntimeError, match="still be running"):
        repair_segment_compaction(d)
    marker["pid"] = own_pid
    with open(mpath, "w") as f:
        _json.dump(marker, f)

    assert repair_segment_compaction(d) == "rolled_back"
    assert _hits_keyed(spark, d, QUERY) == before


def test_partial_compaction_crash_rolls_forward(spark, write_leg, tiered,
                                                tmp_path, monkeypatch):
    """Crash AFTER the delete phase but before the meta commit: repair must
    finish the merge (commit the marker's meta) and results must equal a
    completed merge's."""
    import liresolr_spark.plans.compact as pc
    from liresolr_spark.plans.compact import repair_segment_compaction

    d, _, expect, compact_segments = tiered

    real_write_meta = pc.write_meta
    def boom(*a, **k):
        raise RuntimeError("simulated crash at commit")
    monkeypatch.setattr(pc, "write_meta", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_segments(spark, d)
    monkeypatch.setattr(pc, "write_meta", real_write_meta)

    assert repair_segment_compaction(d) == "rolled_forward"
    ref = str(tmp_path / "fwd_ref")
    build_index(expect, ref, num_shards=4, block_size=64)
    assert _hits_keyed(spark, d, QUERY) == _hits_keyed(spark, ref, QUERY)
