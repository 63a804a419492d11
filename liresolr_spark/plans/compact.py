"""Segment merge / compaction — the Lucene background-merge analog.

The reference never manages segments itself: `commitWithin=1000` on the
Solr sink (ref: scripts/add_histograms.py:40) lets Lucene merge the
micro-batch segments in the background, bounding segment count and
physically dropping deleted (overwritten) docs. Our append path
(streaming.ingest.append_segment) has the same failure mode Lucene merges
exist to fix: every micro-batch adds `shard=` dirs, a dictionary `seg=`
fragment, and possibly tombstones — unbounded, the per-shard WAND fan-out
degrades, and superseded docs keep distorting df/N/avgdl.

`compact_index` rewrites an appended index into a fresh, single-segment
index with exact statistics:

  1. live docs   = docstats MINUS tombstoned docIDs (overwrite semantics
                   were decided at append time; compaction just applies
                   them physically);
  2. renumber    = dense new docIDs by old-docID rank (assign_doc_ids'
                   two-pass scheme — deterministic, no global window), new
                   docID-range shards sized to `num_shards`;
  3. postings    = decode every block back to (field, term, docID, tf,
                   doclen) — vectorized mapInArrow, the codec in reverse —
                   drop tombstoned postings, remap docIDs (shuffle join on
                   docID, the only corpus-sized shuffle), and re-run the
                   SAME block builder as the batch build (delta+varint,
                   aligned block_seq, WAND bounds) under the recomputed
                   avgdl;
  4. artifacts   = fresh docstats / blocks / manifest / dictionary(seg=0),
                   meta.json written LAST as the commit point, with the
                   streaming epoch ledger carried over so a checkpointed
                   ingest can keep appending after compaction.

Rank identity: a compacted index answers every query exactly like a
from-scratch build over the surviving docs (pytest-gated) — statistics are
recomputed from live docs only, so the Lucene deleted-docs df drift ends
here, just like a real merge.

`compact_segments` (the tiered partial merge, below) writes a small merged
segment from the driver: when Σ df over the merged segments' dictionary
fragments is within `operators.wand.DRIVER_MAX_POSTINGS`, `_DriverMerge`
reads the merged docstats, blocks and tombstones with pyarrow, decodes the
blocks with `decode_postings` (the function the Spark path's mapInPandas
stage runs), rebuilds them with the same `_block_builder` closure and
writes through `plans.local_write` — no Spark job. A larger merge runs
`_SparkMerge`. Both keep the two-phase commit: marker -> new dirs ->
delete old dirs -> meta -> marker removed.

Scale shape: `compact_index` and `_SparkMerge` share one Spark body,
`_rewrite`, and the build's write stage (`plans.build.write_blocks`,
`write_manifest`, `write_dictionary`); the decode reads only the block
streams (never the corpus) and the docID remap is an equi-join. Output
lands in `out_dir` (a complete new index); `in_place=True` swaps
directories afterwards — atomic enough for the single-writer local layout,
and on a real deployment the swap is an Iceberg snapshot commit / HDFS dir
rename.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from liresolr_spark import BM25_B, BM25_K1, INDEX_FORMAT_VERSION
from liresolr_spark.functions.codec import decode_blocks, positions_byte_slices
from liresolr_spark.operators import wand
from liresolr_spark.plans.build import (
    IndexMeta,
    _block_builder,
    _paths,
    load_tombstones,
    read_meta,
    write_blocks,
    write_dictionary,
    write_manifest,
    write_meta,
)
from liresolr_spark.plans.local_write import (build_blocks, read_table,
                                              segment_bytes, write_partitions,
                                              write_segment)


def decode_postings(pdf, with_positions: bool = False):
    """One batch of block rows (field, term, docids, tfs, doclens[,
    positions]) -> its postings (field, term, docID, tf, doclen[,
    positions]) as a pandas frame: one codec.decode_blocks call, field and
    term repeated per posting. The one decode of both merge paths:
    `_decoded_postings`' mapInPandas stage and the driver merge.

    with_positions=True carries each posting's positions as its PRE-ENCODED
    byte slice (codec.positions_byte_slices over the joined streams; the
    hash family's blocks carry none): positions are delta-gapped within
    the posting, so the slice is docID-independent and the rebuild kernel
    re-concatenates slices into valid blocks with zero recoding — a docID
    remap never touches position bytes."""
    ids, tfs, dls, counts = decode_blocks(pdf["docids"], pdf["tfs"],
                                          pdf["doclens"])
    out = {"field": np.repeat(pdf["field"].to_numpy(), counts),
           "term": np.repeat(pdf["term"].to_numpy(), counts),
           "docID": ids, "tf": tfs, "doclen": dls}
    if with_positions:
        has = np.repeat(pdf["positions"].map(len).to_numpy() > 0, counts)
        out["positions"] = np.asarray(positions_byte_slices(
            b"".join(pdf["positions"]), np.where(has, tfs, 0)), dtype=object)
    return pd.DataFrame(out)


def _decoded_postings(blocks_df, with_positions: bool = False):
    """blocks -> (field, term, docID, tf, doclen[, positions]) rows: a
    mapInPandas of `decode_postings` over each Arrow batch of block rows."""

    def explode(batches):
        for pdf in batches:
            yield decode_postings(pdf, with_positions)

    schema = ("field string, term string, docID long, tf long, doclen long"
              + (", positions binary" if with_positions else ""))
    cols = ["field", "term", "docids", "tfs", "doclens"] \
        + (["positions"] if with_positions else [])
    return blocks_df.select(*cols).mapInPandas(explode, schema=schema)


def _rewrite(ranked, blocks, paths: dict, docid, shard, builder,
             with_positions: bool, doclen: float, n_shards: int,
             mode: str) -> None:
    """The Spark body of both compactions: write the live docs `ranked`
    (assign_doc_ids over old_docID) under the new `docid`/`shard` columns,
    then decode `blocks`, move each posting to its doc's new docID and
    shard — the inner join drops tombstoned postings — and rebuild the
    blocks with `builder` (positions ride as pre-encoded per-posting byte
    slices, so the remap never recodes them)."""
    stats = ["repo", "path", "commit", "lang", "doclen", "sha256"]
    (ranked.select(docid.alias("docID"), shard.alias("shard"), *stats)
     .write.mode(mode).partitionBy("shard").parquet(paths["docstats"]))
    id_map = ranked.select(F.col("old_docID").alias("docID"),
                           docid.alias("new_docID"), shard.alias("shard"))
    remapped = (
        _decoded_postings(blocks, with_positions).join(id_map, "docID")
        .select("shard", "field", "term", F.col("new_docID").alias("docID"),
                "tf", "doclen", *(["positions"] if with_positions else [])))
    write_blocks(remapped, paths["blocks"], builder, doclen, n_shards, mode)


def compact_index(
    spark: SparkSession,
    index_dir: str,
    out_dir: str | None = None,
    num_shards: int | None = None,
    block_size: int | None = None,
    in_place: bool = False,
) -> dict:
    """Merge all segments of `index_dir` into a fresh index at `out_dir`
    (default `<index_dir>.compact`), dropping tombstoned docs and
    recomputing exact global statistics. Returns a metrics dict.

    in_place=True: after the new index fully commits, swap it over
    `index_dir` (old artifacts removed). Single-writer only — pause ingest
    around the swap; restart-safety comes from the new index being fully
    committed (meta.json last) before the old one is touched.
    """
    import time

    t0 = time.time()
    out = out_dir or (index_dir.rstrip("/") + ".compact")
    meta = read_meta(index_dir)
    p_in = _paths(index_dir)
    p_out = _paths(out)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    docstats = spark.read.parquet(p_in["docstats"])
    tombs = load_tombstones(spark, index_dir)
    dropped = (tombs.select("docID").distinct()
               if tombs is not None else None)
    live = docstats
    if dropped is not None:
        live = live.join(dropped, "docID", "left_anti")

    # dense renumbering by old-docID rank: deterministic, window-free
    # (assign_doc_ids' two-pass scheme over the single key old_docID)
    from liresolr_spark.sources.corpus import assign_doc_ids

    relabeled = live.withColumnRenamed("docID", "old_docID") \
        .withColumnRenamed("shard", "old_shard")
    mapped = assign_doc_ids(relabeled, keys=["old_docID"], cache=True)
    cache_handle = mapped._lsr_cached_part

    row = mapped.agg(F.count("*").alias("n"),
                     F.sum("doclen").alias("s")).first()
    n_docs = int(row["n"])
    total_doclen = float(row["s"] or 0.0)
    if n_docs == 0:
        raise ValueError("compaction would produce an empty index")
    avgdl = total_doclen / n_docs
    n_shards = num_shards or meta.num_shards
    blk = block_size or meta.block_size
    docs_per_shard = max(1, -(-n_docs // n_shards))

    _rewrite(mapped, spark.read.parquet(p_in["blocks"]), p_out,
             F.col("docID"),
             (F.col("docID") / F.lit(docs_per_shard)).cast("int"),
             _block_builder(blk, BM25_K1, BM25_B, avgdl),
             meta.with_positions, total_doclen, n_shards, "overwrite")
    write_manifest(spark, p_out, F.lit(True), mode="overwrite")
    write_dictionary(spark, p_out, F.lit(True), 0, mode="overwrite")
    cache_handle and cache_handle.unpersist()

    new_meta = IndexMeta(
        n_docs=n_docs, avgdl=avgdl, num_shards=n_shards,
        docs_per_shard=docs_per_shard, block_size=blk,
        hash_version=meta.hash_version, k1=meta.k1, b=meta.b,
        # a full rewrite re-encodes every block in the CURRENT layout, so
        # it stamps the current version — the upgrade path for old indexes
        # (appends and partial merges refuse cross-version work instead,
        # since they would mix block layouts inside one parquet dir)
        format_version=INDEX_FORMAT_VERSION, total_doclen=total_doclen,
        next_docid=n_docs,  # full compaction renumbers densely
        # epoch ledger survives: a checkpointed ingest resumed after
        # compaction must still skip already-applied epochs
        applied_epochs=meta.applied_epochs,
        with_positions=meta.with_positions,
    )
    write_meta(out, new_meta)  # the new index's commit point

    metrics = {
        "compacted_docs": n_docs,
        "dropped_docs": int(docstats.count()) - n_docs,
        "num_shards": n_shards,
        "avgdl": avgdl,
        "bytes_written": segment_bytes(p_out["manifest"], 0),
        "wall_sec": round(time.time() - t0, 3),
        "out_dir": out,
    }

    if in_place:
        # whole-directory swap, never artifact-by-artifact: the previous
        # scheme deleted old artifact dirs and moved new ones BEFORE writing
        # the new meta.json, so a crash in that window left the OLD meta
        # (old n_docs/docs_per_shard/avgdl) over renumbered artifacts —
        # silently wrong query results (round-3 advice). With the dir swap a
        # crash leaves, at every instant, two internally-consistent indexes
        # on disk: before the first rename the old index serves unchanged;
        # between the renames index_dir is briefly ABSENT (a loud, detectable
        # state — recover by renaming either .old or .compact back); after
        # the second rename the new index is fully live. The new index's own
        # meta.json was already committed above, so whichever directory wins
        # is complete.
        old = index_dir.rstrip("/") + ".old"
        shutil.rmtree(old, ignore_errors=True)
        shutil.move(index_dir, old)
        shutil.move(out, index_dir)
        shutil.rmtree(old, ignore_errors=True)
        metrics["out_dir"] = index_dir

    import json

    with open(_paths(metrics["out_dir"])["metrics"], "w") as f:
        json.dump(metrics, f)
    return metrics


# ---------------------------------------------------------------------------
# Tiered / partial compaction (round-3 verdict #6)
# ---------------------------------------------------------------------------

def _segments(spark: SparkSession, index_dir: str) -> list[tuple[int, int, int]]:
    """[(seg_id, shard_lo, shard_hi)] — a segment is one append unit: the
    base build is seg 0 covering shards [0, first_append); each append's
    seg id is the shard it started at (the layout append_segment writes:
    dictionary seg=<base_shard> fragments)."""
    p = _paths(index_dir)
    segs = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(p["dictionary"]) if d.startswith("seg="))
    hi = read_meta(index_dir).num_shards
    bounds = segs + [hi]
    return [(segs[i], bounds[i], bounds[i + 1]) for i in range(len(segs))]


def compact_segments(
    spark: SparkSession,
    index_dir: str,
    max_segment_docs: int | None = None,
    min_segments: int = 2,
) -> dict:
    """TIERED partial compaction: merge only SMALL appended segments into
    one fresh segment, leaving the (large) base segment untouched — the
    TieredMergePolicy shape behind the reference's commitWithin appends
    (ref: scripts/add_histograms.py:40; Lucene merges candidate segments by
    size, never the whole index). `compact_index` rewrites everything and
    costs O(index); this costs O(merged segments) — the right cadence at
    100 TB is frequent small-segment merges with a rare full rewrite.

    Semantics:
    - candidate segments: appended segments (seg != 0) holding
      <= max_segment_docs docs (None = every appended segment). Fewer than
      `min_segments` candidates and no tombstones to apply -> no-op.
    - surviving docs KEEP their docIDs (no global renumber — that is what
      makes the base untouchable); they are re-sharded into fresh shard ids
      allocated above meta.num_shards, so readers' dir listing stays
      collision-free and the next append's base_shard stays valid.
    - tombstones whose target lies INSIDE the merged segments are applied
      physically (docs + postings dropped, exactly a Lucene merge);
      tombstones recorded BY merged segments but targeting the base/kept
      segments are rewritten under the new segment's seg dir (they must
      outlive the merge). Dangling tombstones in kept segments that target
      now-dropped docIDs are harmless (the deny-list just never matches).
    - statistics become exact for the dropped docs: n_docs/total_doclen
      shrink, avgdl is recomputed, the merged segments' dictionary
      fragments are replaced by one fragment over live postings — df no
      longer counts the physically removed docs (base-fragment df never
      counted them: appends only tombstone EARLIER segments' docs, so a
      doc's own fragment is always older than its tombstone).
    - meta.next_docid is the append allocator and is NOT reduced.

    Crash safety (two-phase commit, the segments_N analog): a marker file
    (compact_segments.json) carrying the full recovery payload is written
    FIRST; read_meta refuses to open the index while it exists, and
    `repair_segment_compaction` rolls an interrupted run back (new dirs
    removed) or forward (old dirs removed, meta committed) depending on how
    far it got. The marker is deleted last.
    """
    import json
    import time

    t0 = time.time()
    meta = read_meta(index_dir)
    if meta.format_version != INDEX_FORMAT_VERSION:
        raise RuntimeError(
            f"index format v{meta.format_version} != current "
            f"v{INDEX_FORMAT_VERSION}: a partial merge would mix block "
            "layouts in one parquet dir — run compact_index (full rewrite) "
            "to upgrade first")
    p = _paths(index_dir)
    segs = _segments(spark, index_dir)
    appended = [s for s in segs if s[0] != segs[0][0]]

    if max_segment_docs is None:
        merge = list(appended)  # ungated: skip the per-segment size job
    else:
        # live docs per appended segment, aggregated from per-shard counts
        per_seg: dict[int, int] = {}
        for r in spark.read.parquet(p["docstats"]).groupBy("shard").agg(
                F.count("*").alias("n")).collect():
            for seg_lo, lo, hi in appended:
                if lo <= int(r["shard"]) < hi:
                    per_seg[seg_lo] = per_seg.get(seg_lo, 0) + int(r["n"])
        merge = [s for s in appended
                 if per_seg.get(s[0], 0) <= max_segment_docs]
    merge_shards = [sh for _, lo, hi in merge for sh in range(lo, hi)]
    merge_seg_ids = [s[0] for s in merge]

    # where the merged segment is written: Σ df of the merged segments'
    # dictionary fragments (a pyarrow read, no job) against the driver
    # bound, read at call time like the request dispatch
    frags = read_table(p["dictionary"], ["df"],
                       ds.field("seg").isin(merge_seg_ids))
    postings = (int(pc.sum(frags["df"]).as_py() or 0)
                if frags is not None else 0)
    write_path = "driver" if postings <= wand.DRIVER_MAX_POSTINGS else "spark"
    merger = (_DriverMerge if write_path == "driver" else _SparkMerge)(
        spark, index_dir, merge_shards)

    # too few candidates: merge anyway only if tombstones inside them
    # need physical application (the count runs ONLY on this path)
    if len(merge) < min_segments and merger.tombstoned_inside() == 0:
        return {"merged_segments": 0, "reason": "nothing to merge"}

    # fresh shard ids above every existing one; survivors keep their docIDs
    new_base = meta.num_shards
    n_live, live_doclen, n_merged_total, merged_doclen = merger.live_stats()
    n_dropped = n_merged_total - n_live
    new_shards = -(-n_live // meta.docs_per_shard)
    new_total_doclen = meta.total_doclen - (merged_doclen - live_doclen)

    new_meta = IndexMeta(
        n_docs=meta.n_docs - n_dropped,
        avgdl=new_total_doclen / max(meta.n_docs - n_dropped, 1),
        num_shards=new_base + new_shards,
        docs_per_shard=meta.docs_per_shard, block_size=meta.block_size,
        hash_version=meta.hash_version, k1=meta.k1, b=meta.b,
        format_version=meta.format_version,
        total_doclen=new_total_doclen,
        next_docid=(meta.next_docid if meta.next_docid is not None
                    else meta.n_docs),
        applied_epochs=meta.applied_epochs,
        with_positions=meta.with_positions,
    )

    # ---- phase 1: marker with the full recovery payload -------------------
    # old_dirs_present records which old artifact dirs EXIST at start: an
    # old dir that legitimately never existed (e.g. a merged shard whose
    # docs are all empty-content writes no blocks/shard=K) must not make a
    # pre-delete crash look like "delete phase begun" to repair. pid lets
    # repair refuse to touch a merge that is still running.
    old_rel = (
        [f"docstats/shard={s}" for s in merge_shards]
        + [f"blocks/shard={s}" for s in merge_shards]
        + [f"dictionary/seg={s}" for s in merge_seg_ids])
    marker = {
        "new_seg": new_base,
        "new_shards": list(range(new_base, new_base + new_shards)),
        "merged_shards": merge_shards,
        "merged_seg_ids": merge_seg_ids,
        "new_meta": {k: v for k, v in new_meta.__dict__.items()},
        "old_dirs_present": [
            d for d in old_rel
            if os.path.exists(os.path.join(index_dir, d))],
        "pid": os.getpid(),
    }
    tmp = p["segmarker"] + ".tmp"
    with open(tmp, "w") as f:
        json.dump(marker, f)
    os.replace(tmp, p["segmarker"])

    # ---- phase 2: write the merged segment under NEW shard/seg ids --------
    merger.write(new_base, meta, new_meta.avgdl, merge_seg_ids)

    # ---- phase 3: drop the old merged artifacts ----------------------------
    for key, prefix, ids in (
        ("docstats", "shard=", merge_shards), ("blocks", "shard=", merge_shards),
        ("manifest", "shard=", merge_shards),
        ("dictionary", "seg=", merge_seg_ids),
        ("tombstones", "seg=", merge_seg_ids),
    ):
        base_dir = p[key]
        if os.path.exists(base_dir):
            for d in os.listdir(base_dir):
                if d.startswith(prefix) and int(d.split("=", 1)[1]) in ids:
                    shutil.rmtree(os.path.join(base_dir, d), ignore_errors=True)

    # ---- phase 4+5: commit meta, clear the marker --------------------------
    write_meta(index_dir, new_meta)
    os.remove(p["segmarker"])

    return {
        "merged_segments": len(merge), "merged_docs": n_merged_total,
        "dropped_docs": n_dropped, "new_seg": new_base,
        "new_shards": new_shards, "n_docs": new_meta.n_docs,
        "write_path": write_path, "postings": postings,
        "bytes_written": segment_bytes(p["manifest"], new_base),
        "wall_sec": round(time.time() - t0, 3),
    }


class _SparkMerge:
    """compact_segments' reads and merged-segment writes as Spark plans."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 merge_shards: list[int]):
        self.spark, self.p, self.merge_shards = \
            spark, _paths(index_dir), merge_shards
        self.tombs = load_tombstones(spark, index_dir)
        self.inside = (self.tombs.filter(F.col("shard").isin(merge_shards))
                       .select("docID").distinct()
                       if self.tombs is not None else None)

    def tombstoned_inside(self) -> int:
        return self.inside.count() if self.inside is not None else 0

    def live_stats(self) -> tuple[int, float, int, float]:
        """(live docs, their Σ doclen, merged docs, their Σ doclen)."""
        from liresolr_spark.sources.corpus import assign_doc_ids

        mstats = self.spark.read.parquet(self.p["docstats"]).filter(
            F.col("shard").isin(self.merge_shards))
        live = (mstats if self.inside is None
                else mstats.join(self.inside, "docID", "left_anti"))
        self.ranked = assign_doc_ids(
            live.withColumnRenamed("docID", "old_docID")
            .withColumnRenamed("shard", "old_shard"),
            keys=["old_docID"], cache=True)
        agg = self.ranked.agg(F.count("*").alias("n"),
                              F.sum("doclen").alias("s")).first()
        # ONE pass over the merged segments' stats for count + doclen (each
        # extra action here is a whole fixed-cost Spark job — at the
        # frequent-small-merge cadence this function exists for, job count
        # IS the cost)
        magg = mstats.agg(F.count("*").alias("n"),
                          F.sum("doclen").alias("s")).first()
        self.n_live, self.live_doclen = int(agg["n"]), float(agg["s"] or 0.0)
        return (self.n_live, self.live_doclen,
                int(magg["n"]), float(magg["s"] or 0.0))

    def write(self, new_base: int, meta: IndexMeta, avgdl: float,
              merge_seg_ids: list[int]) -> None:
        spark, p = self.spark, self.p
        merged = spark.read.parquet(p["blocks"]).filter(
            F.col("shard").isin(self.merge_shards))
        shard = F.lit(new_base) + (F.col("docID")
                                   / F.lit(meta.docs_per_shard)).cast("int")
        _rewrite(self.ranked, merged, p, F.col("old_docID"), shard,
                 _block_builder(meta.block_size, BM25_K1, BM25_B, avgdl),
                 meta.with_positions, self.live_doclen,
                 -(-self.n_live // meta.docs_per_shard), "append")
        segment = F.col("shard") >= new_base
        write_manifest(spark, p, segment)
        write_dictionary(spark, p, segment, new_base)

        # tombstones recorded by merged segments but targeting docs we did
        # NOT rebuild (base / kept segments) must survive under the new
        # seg dir
        if self.tombs is not None:
            surviving = self.tombs.filter(
                F.col("seg").isin(merge_seg_ids)
                & ~F.col("shard").isin(self.merge_shards))
            (surviving.select("docID", "shard")
             .withColumn("seg", F.lit(new_base))
             .write.mode("append").partitionBy("seg").parquet(
                 p["tombstones"]))

        if self.ranked._lsr_cached_part is not None:
            self.ranked._lsr_cached_part.unpersist()


class _DriverMerge:
    """The same reads and writes in the driver with pyarrow: no Spark job.
    Blocks are decoded by `decode_postings` and rebuilt by the same
    `_block_builder` closure, once per (shard, field) group."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 merge_shards: list[int]):
        self.p, self.merge_shards = _paths(index_dir), merge_shards
        self.tombs = read_table(self.p["tombstones"],
                                ["docID", "shard", "seg"])
        self.inside = pa.array([], pa.int64())
        if self.tombs is not None:
            self.inside = pc.unique(self.tombs.filter(
                pc.is_in(self.tombs["shard"],
                         pa.array(merge_shards, pa.int32())))["docID"])

    def tombstoned_inside(self) -> int:
        return len(self.inside)

    def live_stats(self) -> tuple[int, float, int, float]:
        """(live docs, their Σ doclen, merged docs, their Σ doclen)."""
        mstats = read_table(self.p["docstats"],
                            filter=ds.field("shard").isin(self.merge_shards))
        self.live = mstats.filter(
            pc.invert(pc.is_in(mstats["docID"], self.inside))
        ).sort_by("docID")

        def doclen(t):
            return float(pc.sum(t["doclen"]).as_py() or 0.0)

        return (self.live.num_rows, doclen(self.live),
                mstats.num_rows, doclen(mstats))

    def write(self, new_base: int, meta: IndexMeta, avgdl: float,
              merge_seg_ids: list[int]) -> None:
        p, live = self.p, self.live
        rank = np.arange(live.num_rows, dtype=np.int64)
        shards = (new_base + rank // meta.docs_per_shard).astype(np.int32)
        docs = live.set_column(live.schema.get_field_index("shard"), "shard",
                               pa.array(shards))
        write_partitions(docs, p["docstats"], "docstats", ["docID"])

        cols = ["field", "term", "docids", "tfs", "doclens"] \
            + (["positions"] if meta.with_positions else [])
        merged_blocks = read_table(
            p["blocks"], cols, ds.field("shard").isin(self.merge_shards))
        postings = decode_postings(
            merged_blocks.to_pandas() if merged_blocks is not None
            else pa.table({c: [] for c in cols}).to_pandas(),
            meta.with_positions)
        # inner join with the new shard map drops tombstoned postings
        shard_of = pd.Series(shards, index=live["docID"].to_numpy())
        postings = postings[postings["docID"].isin(shard_of.index)]
        postings = postings.assign(
            shard=shard_of.loc[postings["docID"]].to_numpy())
        builder = _block_builder(meta.block_size, BM25_K1, BM25_B, avgdl)
        write_segment(
            build_blocks(pa.Table.from_pandas(postings, preserve_index=False),
                         builder),
            docs, p, seg=new_base)

        if self.tombs is not None:
            t = self.tombs
            surviving = t.filter(pc.and_(
                pc.is_in(t["seg"], pa.array(merge_seg_ids, pa.int32())),
                pc.invert(pc.is_in(t["shard"], pa.array(self.merge_shards,
                                                        pa.int32())))))
            write_partitions(
                surviving.set_column(
                    2, "seg", pa.array(np.full(surviving.num_rows, new_base,
                                               np.int32))),
                p["tombstones"], "tombstones", ["docID"])


def repair_segment_compaction(index_dir: str, force: bool = False) -> str:
    """Resolve a crashed compact_segments run (marker present).

    If every old merged artifact recorded as present at merge start still
    exists, the merge had not reached its delete phase: ROLL BACK by
    removing the new segment's dirs. If any is already gone, the merge was
    past the point of no return: ROLL FORWARD by removing the remaining
    old dirs and committing the meta payload stored in the marker. Either
    way the marker is cleared and the index is consistent. Returns
    'rolled_back' or 'rolled_forward'.

    Refuses (RuntimeError) while the process that wrote the marker is
    still alive on this host — a marker under a LIVE compact_segments is
    an in-progress merge, not a crash, and repairing underneath it would
    corrupt the index. `force=True` overrides (e.g. the pid was recycled
    by an unrelated process after a host reboot)."""
    import json

    p = _paths(index_dir)
    with open(p["segmarker"]) as f:
        marker = json.load(f)

    pid = marker.get("pid")
    from liresolr_spark.plans.build import _pid_alive

    if (not force and pid is not None and pid != os.getpid()
            and _pid_alive(pid)):
        raise RuntimeError(
            f"compact_segments (pid {pid}) appears to still be running on "
            f"this host; the marker marks an IN-PROGRESS merge, not a "
            "crash. Wait for it, or pass force=True if the pid is stale")

    def _dirs(key, prefix, ids):
        return [os.path.join(p[key], f"{prefix}{i}") for i in ids]

    # markers from before old_dirs_present fall back to the full expected
    # list (the old, stricter behavior)
    if "old_dirs_present" in marker:
        old_dirs = [os.path.join(index_dir, d)
                    for d in marker["old_dirs_present"]]
    else:
        old_dirs = (
            _dirs("docstats", "shard=", marker["merged_shards"])
            + _dirs("blocks", "shard=", marker["merged_shards"])
            + _dirs("dictionary", "seg=", marker["merged_seg_ids"]))
    new_dirs = (
        _dirs("docstats", "shard=", marker["new_shards"])
        + _dirs("blocks", "shard=", marker["new_shards"])
        + _dirs("manifest", "shard=", marker["new_shards"])
        + _dirs("dictionary", "seg=", [marker["new_seg"]])
        + _dirs("tombstones", "seg=", [marker["new_seg"]]))

    if all(os.path.exists(d) for d in old_dirs):
        for d in new_dirs:
            shutil.rmtree(d, ignore_errors=True)
        os.remove(p["segmarker"])
        return "rolled_back"
    # past the delete phase: finish it
    for d in old_dirs + _dirs("manifest", "shard=", marker["merged_shards"]) \
            + _dirs("tombstones", "seg=", marker["merged_seg_ids"]):
        shutil.rmtree(d, ignore_errors=True)
    write_meta(index_dir, IndexMeta(**marker["new_meta"]))
    os.remove(p["segmarker"])
    return "rolled_forward"
