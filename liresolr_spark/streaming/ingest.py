"""Incremental index refresh: Structured Streaming ingest + segment append.

The reference's nearest analog is Solr near-real-time indexing —
`commitWithin=1000` on the REST update sink (ref: scripts/add_histograms.py:40)
— backed by Lucene's segment model: new docs land in NEW segments, queries
see the union, and per-segment statistics merge at read time. We reproduce
exactly that shape on Spark:

- `append_segment(batch_df, index_dir)` turns one micro-batch of corpus rows
  into fresh shards appended after the existing ones: docIDs continue from
  `meta.n_docs`, blocks/docstats land in new `shard=` partitions, a
  dictionary FRAGMENT (df per term for this segment alone) is appended, and
  meta.json is rewritten last (n_docs, total_doclen -> avgdl, num_shards) as
  the commit point. Query paths already merge fragments (df summed per term)
  and use the avgdl-independent per-block (max_tf, min_dl) WAND bound, so
  appended indexes stay rank-identical to a from-scratch oracle with the
  updated global statistics.

- `incremental_index(spark, input_dir, index_dir, checkpoint_dir)` wires the
  same append through Structured Streaming's file source: `readStream` over
  a directory of corpus parquet files, `foreachBatch(append_segment)`,
  `trigger(availableNow)`, checkpointed so restarts resume from the last
  committed file offset. Batch retries are made idempotent by an epoch
  ledger committed atomically inside meta.json, plus pre-cleanup of ALL of
  the segment's partition dirs (docstats/blocks shard=, manifest shard=,
  dictionary seg=) before re-writing.

Small appends are written from the driver. `append_segment` first sums
the batch's lexical tokens in one scalar job. A batch within
`operators.wand.DRIVER_MAX_POSTINGS` (read at call time, the bound of the
request dispatch) is collected once — tokens, sha256 and md5 still come
from the JVM — and `_append_in_driver` derives the within-batch winners,
docIDs, hash tokens, kernel input and tombstones in the driver, runs the
same `plans.build._block_builder` closure once per (shard, field) group
and writes every artifact with pyarrow (`plans.local_write`): 2 Spark jobs
in all. A larger batch runs `_append_in_spark`, which writes through the
build's Spark write stage (`plans.build.write_blocks`, `write_manifest`,
`write_dictionary`). Both paths write the same rows under the same
cleanup -> write -> meta-commit order (tests/test_write_paths.py), and
the result's `write_path` says which one ran.

Live query engines cache index handles; after a committed append, call
`LireQueryEngine.refresh()` (the Solr searcher-reopen analog) to pick up
the new segments and updated global statistics.

Cross-segment OVERWRITE semantics (ref: scripts/add_histograms.py:40
`overwrite=true` — Solr's unique-key replace): when an appended batch
carries a UNIQUE_KEY (repo, path) already present in earlier segments, the
older docIDs are recorded as TOMBSTONES (`tombstones/seg=<segment>` rows,
committed under the same idempotent retry discipline as the dictionary
fragments). Query paths exclude tombstoned docs from RESULTS via the WAND
kernels' deny-list and a docstats anti-join; index-level statistics
(df/N/avgdl) keep counting superseded docs until compaction — exactly
Lucene's deleted-docs behavior, where docFreq includes deletes until a
segment merge. `plans.compact.compact_index` (the Lucene merge analog)
physically drops tombstoned docs, renumbers, and restores exact statistics.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from liresolr_spark import BM25_B, BM25_K1
from liresolr_spark.operators import wand
from liresolr_spark.plans.build import (
    NATURAL_KEY,
    _block_builder,
    _paths,
    build_index,
    kernel_input,
    load_tombstones,
    read_meta,
    write_blocks,
    write_dictionary,
    write_manifest,
    write_meta,
)
from liresolr_spark.plans.local_write import segment_bytes
from liresolr_spark.functions.tokenizer import tokenize_expr
from liresolr_spark.sources.corpus import assign_doc_ids

# Solr-style unique key for overwrite semantics: re-adding the same
# (repo, path) — a new commit/content of the same file — supersedes the old
# version (last-write-wins, like the reference's overwrite=true). Applied
# BOTH across segments (tombstones) and within a micro-batch (deterministic
# winner per key before indexing — see append_segment).
UNIQUE_KEY = ["repo", "path"]


def _applied_epochs(index_dir: str) -> set[int]:
    """Applied-epoch ledger lives INSIDE meta.json: the ledger and the index
    statistics commit in one atomic rename, so a crash can never record one
    without the other (which would double- or re-append on retry)."""
    p = _paths(index_dir)["meta"]
    if os.path.exists(p):
        return set(read_meta(index_dir).applied_epochs or [])
    return set()


def append_segment(
    batch: DataFrame,
    index_dir: str,
    epoch_id: int | None = None,
    num_shards: int | None = None,
    block_size: int | None = None,
    with_positions: bool = False,
) -> dict:
    """Append one batch of corpus rows as new shards of an existing index.

    First call (no meta.json yet) delegates to `build_index`. Returns the
    per-append metrics dict. Idempotent per epoch_id: a retried micro-batch
    (foreachBatch at-least-once contract) is skipped if its epoch committed,
    and a half-written attempt's shard dirs are cleaned before re-writing.

    with_positions applies to the FIRST build only; appended segments
    always follow the existing meta flag so every segment agrees (a mixed
    index would silently lose phrase coverage on some segments).

    Where the segment is written: one scalar job sums the batch's lexical
    tokens (before the within-batch dedup, so an upper bound on the rows
    the text block kernel receives and on the segment's postings in
    either field). Within `operators.wand.DRIVER_MAX_POSTINGS`, read at
    call time, the driver writes it (`_append_in_driver`, one more job to
    collect the batch); above it the Spark plans do (`_append_in_spark`).
    The result's `write_path`, `tokens` and `bytes_written` say which path
    ran, on what estimate, and how many block stream bytes it wrote.
    """
    p = _paths(index_dir)
    if not os.path.exists(p["meta"]):
        # first build: the epoch ledger rides INSIDE build_index's single
        # meta commit — stats and ledger land in one atomic rename, so a
        # crash can't leave meta committed but the epoch unrecorded (the
        # retry would then re-append this same batch)
        return build_index(
            _batch_winners(batch), index_dir,
            num_shards=num_shards or 8,
            block_size=block_size or 128,
            with_positions=with_positions,
            applied_epochs=[epoch_id] if epoch_id is not None else None)

    if epoch_id is not None and epoch_id in _applied_epochs(index_dir):
        return {"skipped_epoch": epoch_id}

    meta = read_meta(index_dir)
    from liresolr_spark import INDEX_FORMAT_VERSION

    if meta.format_version != INDEX_FORMAT_VERSION:
        raise RuntimeError(
            f"index format v{meta.format_version} != current "
            f"v{INDEX_FORMAT_VERSION}: an append would mix block layouts "
            "in one parquet dir — run plans.compact.compact_index (full "
            "rewrite) to upgrade first")
    # allocator, not count: after a partial compaction n_docs < max docID+1
    base_docid = meta.next_docid if meta.next_docid is not None else meta.n_docs
    base_shard = meta.num_shards

    # ONE scalar job: rows and lexical tokens of the raw batch. An observed
    # no-op write, because a global agg runs its shuffle map stage as a
    # second job under AQE.
    size = Observation()
    (batch.select(F.size(tokenize_expr(F.col("content"))).alias("n"))
     .observe(size, F.count(F.lit(1)).alias("rows"),
              F.sum("n").alias("tokens"))
     .write.format("noop").mode("overwrite").save())
    tokens = int(size.get["tokens"] or 0)
    write_path = "driver" if tokens <= wand.DRIVER_MAX_POSTINGS else "spark"
    if size.get["rows"] == 0:
        return {"appended_docs": 0, "tombstoned_docs": 0,
                "write_path": write_path, "tokens": 0, "bytes_written": 0}

    # clean any half-written attempt of this segment (crash between data
    # write and the meta commit), then write. EVERY pre-commit artifact of
    # the segment lives under a shard>=base_shard or seg=base_shard
    # partition dir, so this cleanup makes the whole append idempotent —
    # including the dictionary fragment and manifest rows, which are
    # mode('append') writes (round-1 advice: a crash between the fragment
    # append and the meta commit must not double df on retry).
    for key, prefix in (("docstats", "shard="), ("blocks", "shard="),
                        ("manifest", "shard="), ("dictionary", "seg="),
                        ("tombstones", "seg=")):
        base = p[key]
        if os.path.exists(base):
            for d in os.listdir(base):
                if d.startswith(prefix) and int(d.split("=", 1)[1]) >= base_shard:
                    shutil.rmtree(os.path.join(base, d), ignore_errors=True)

    write = _append_in_driver if write_path == "driver" else _append_in_spark
    n_new, dl_new, n_tombs = write(batch, index_dir, meta, base_docid,
                                   base_shard)

    # commit point: meta + epoch ledger in ONE atomic rename, written last
    new_shard_hi = base_shard + (n_new - 1) // meta.docs_per_shard + 1
    meta.total_doclen += dl_new
    meta.n_docs += n_new
    meta.avgdl = meta.total_doclen / meta.n_docs
    meta.num_shards = new_shard_hi
    meta.next_docid = base_docid + n_new
    if epoch_id is not None:
        applied = set(meta.applied_epochs or [])
        applied.add(epoch_id)
        meta.applied_epochs = sorted(applied)
    write_meta(index_dir, meta)
    return {"appended_docs": n_new, "new_shards": new_shard_hi - base_shard,
            "n_docs": meta.n_docs, "avgdl": meta.avgdl,
            "tombstoned_docs": n_tombs, "write_path": write_path,
            "tokens": tokens,
            "bytes_written": segment_bytes(p["manifest"], base_shard)}


def _batch_winners(batch: DataFrame) -> DataFrame:
    """One row per UNIQUE_KEY: highest commit, ties broken by content md5.

    WITHIN-batch overwrite: two versions of the same (repo, path) arriving
    in one micro-batch resolve to a single winner BEFORE indexing — Solr
    overwrite=true is last-write-wins, and without this both versions
    stayed live indefinitely (the cross-segment tombstones only supersede
    EARLIER segments; round-3 advice). The reference's arrival order is
    racy (parallel indexer), so the winner is made deterministic. One
    shuffle keyed by UNIQUE_KEY, bounded by the batch size;
    `_append_in_driver` applies the same order in pyarrow."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*UNIQUE_KEY).orderBy(
        F.desc("commit"), F.desc(F.md5("content")))
    return (batch.withColumn("_ver", F.row_number().over(w))
            .filter(F.col("_ver") == 1).drop("_ver"))


def _segment_avgdl(meta, n_new: int, dl_new: float) -> float:
    """The index avgdl once the segment commits — the one the blocks'
    max_tf_norm is built under."""
    return (meta.total_doclen + dl_new) / (meta.n_docs + n_new)


def _append_in_spark(batch: DataFrame, index_dir: str, meta,
                     base_docid: int, base_shard: int) -> tuple[int, float, int]:
    """Write the segment with Spark stages -> (docs, Σ doclen, tombstones)."""
    spark = batch.sparkSession
    p = _paths(index_dir)
    # cache=True: the per-partition count job and the docID-materializing
    # jobs must share ONE materialization of the repartitionByRange output —
    # re-executing the lineage could re-sample range bounds and mis-align
    # the cumulative offsets (duplicate/skipped docIDs). Same hardening as
    # the batch build path.
    docs = assign_doc_ids(_batch_winners(batch), NATURAL_KEY, dedup=True,
                          cache=True)
    ranged_part = docs._lsr_cached_part
    docs = (
        docs.withColumn("docID", F.col("docID") + F.lit(base_docid))
        .withColumn("tokens", tokenize_expr(F.col("content")))
        .withColumn("doclen", F.size("tokens"))
        .withColumn(
            "shard",
            (F.lit(base_shard)
             + ((F.col("docID") - base_docid) / F.lit(meta.docs_per_shard))
             .cast("int")),
        )
    )
    row = docs.agg(F.count("*").alias("n"),
                   F.sum("doclen").alias("s")).first()
    n_new, dl_new = int(row["n"]), float(row["s"] or 0.0)
    new_shard_hi = base_shard + (n_new - 1) // meta.docs_per_shard + 1

    docstats = docs.select(
        "docID", "shard", "repo", "path", "commit", "lang", "doclen",
        F.sha2(F.col("content"), 256).alias("sha256"),
    )
    docstats.write.mode("append").partitionBy("shard").parquet(p["docstats"])

    # cross-segment overwrite (Solr overwrite=true, ref:
    # scripts/add_histograms.py:40): docIDs in EARLIER segments whose
    # UNIQUE_KEY reappears in this batch are superseded — last write wins.
    # Recorded as tombstones under this segment's seg= dir (same idempotent
    # retry unit as the dictionary fragment); the shuffle is bounded by the
    # batch's key count (leftsemi against a batch-sized key set), never a
    # corpus-wide dedup. Query paths deny-list these docIDs; compaction
    # physically removes them.
    existing = spark.read.parquet(p["docstats"]).filter(
        F.col("shard") < base_shard).select("docID", "shard", *UNIQUE_KEY)
    new_keys = docs.select(*UNIQUE_KEY).distinct()
    (existing.join(new_keys, UNIQUE_KEY, "leftsemi")
     .select("docID", F.col("shard").cast("int").alias("shard"))
     .withColumn("seg", F.lit(base_shard))
     .write.mode("append").partitionBy("seg").parquet(p["tombstones"]))
    n_tombs = load_tombstones(spark, index_dir).filter(
        F.col("seg") == base_shard).count()

    builder = _block_builder(meta.block_size, BM25_K1, BM25_B,
                             _segment_avgdl(meta, n_new, dl_new))
    write_blocks(kernel_input(docs, True, meta.with_positions), p["blocks"],
                 builder, dl_new, new_shard_hi - base_shard)
    segment = F.col("shard") >= base_shard
    write_manifest(spark, p, segment)
    write_dictionary(spark, p, segment, base_shard)

    if ranged_part is not None:
        ranged_part.unpersist()
    return n_new, dl_new, n_tombs


def _append_in_driver(batch: DataFrame, index_dir: str, meta,
                      base_docid: int, base_shard: int
                      ) -> tuple[int, float, int]:
    """Write the segment from the driver with pyarrow -> (docs, Σ doclen,
    tombstones). The same rows as `_append_in_spark`, from one collect:
    the tokenizer, sha256 and md5 still run in the JVM."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from liresolr_spark.functions.tokenizer import py_hash_token
    from liresolr_spark.plans.local_write import (build_blocks, read_table,
                                                  write_partitions,
                                                  write_segment)

    p = _paths(index_dir)
    tbl = batch.select(
        "repo", "path", "commit", "lang",
        tokenize_expr(F.col("content")).alias("tokens"),
        F.sha2(F.col("content"), 256).alias("sha256"),
        F.md5(F.col("content")).alias("md5")).toArrow()

    # within-batch winner per UNIQUE_KEY (highest commit, then md5, as
    # _batch_winners), then docIDs by rank of NATURAL_KEY. Arrow and Spark
    # both order strings by their UTF-8 bytes.
    tbl = tbl.sort_by([("repo", "ascending"), ("path", "ascending"),
                       ("commit", "descending"), ("md5", "descending")])
    repo = np.asarray(tbl["repo"].to_pylist(), dtype=object)
    path = np.asarray(tbl["path"].to_pylist(), dtype=object)
    first = np.ones(len(repo), dtype=bool)
    first[1:] = (repo[1:] != repo[:-1]) | (path[1:] != path[:-1])
    docs = tbl.filter(pa.array(first)).sort_by(
        [(k, "ascending") for k in NATURAL_KEY])
    n_new = docs.num_rows
    rank = np.arange(n_new, dtype=np.int64)
    doc_ids = base_docid + rank
    shards = (base_shard + rank // meta.docs_per_shard).astype(np.int32)
    tokens = docs["tokens"].combine_chunks()
    doclens = pc.fill_null(pc.list_value_length(tokens), 0) \
        .to_numpy().astype(np.int32)
    dl_new = float(doclens.sum())

    docstats = pa.table({
        "docID": doc_ids, "shard": shards, "repo": docs["repo"],
        "path": docs["path"], "commit": docs["commit"],
        "lang": docs["lang"], "doclen": doclens, "sha256": docs["sha256"]})
    write_partitions(docstats, p["docstats"], "docstats", ["docID"])

    # cross-segment overwrite: earlier docs with a (repo, path) of this
    # batch, found by a docstats scan pushed down to the batch's repos and
    # paths, then matched on exact pairs
    existing = read_table(
        p["docstats"], ["docID", "shard", "repo", "path"],
        (ds.field("shard") < base_shard)
        & ds.field("repo").isin(pc.unique(docs["repo"]))
        & ds.field("path").isin(pc.unique(docs["path"])))
    tombs = pa.table({"docID": pa.array([], pa.int64()),
                      "shard": pa.array([], pa.int32())})
    if existing is not None and existing.num_rows:
        keys = set(zip(docs["repo"].to_pylist(), docs["path"].to_pylist()))
        hit = [k in keys for k in zip(existing["repo"].to_pylist(),
                                      existing["path"].to_pylist())]
        tombs = existing.filter(pa.array(hit, pa.bool_())) \
            .select(["docID", "shard"])
    write_partitions(
        tombs.append_column("seg", pa.array(
            np.full(tombs.num_rows, base_shard, np.int32))),
        p["tombstones"], "tombstones", ["docID"])

    # kernel input, as positional_postings_input / tf_aggregate shape it:
    # lexical occurrence rows (with pos) on a positional index, else (term,
    # doc) tf rows; hash-family rows always pre-aggregated
    flat = pc.list_flatten(tokens)
    parent = pc.list_parent_indices(tokens).to_numpy()
    starts = np.cumsum(doclens, dtype=np.int64) - doclens
    uniq = pc.dictionary_encode(flat)
    hashed = np.asarray([py_hash_token(t) for t in
                         uniq.dictionary.to_pylist()], dtype=object)
    ha_flat = pa.array(hashed[uniq.indices.to_numpy()], pa.string())

    def rows(field, doc_idx, terms, tf=None, pos=None):
        n = len(doc_idx)
        out = {"docID": doc_ids[doc_idx], "shard": shards[doc_idx],
               "doclen": doclens[doc_idx],
               "field": pa.array([field] * n, pa.string()), "term": terms}
        if meta.with_positions:
            out["pos"] = pos if pos is not None else pa.nulls(n, pa.int32())
        out["tf"] = tf if tf is not None else pa.nulls(n, pa.int64())
        return pa.table(out)

    def tf_rows(field, terms):
        agg = pa.table({"doc": parent, "term": terms}).group_by(
            ["doc", "term"]).aggregate([("doc", "count")])
        return rows(field, agg["doc"].to_numpy(), agg["term"],
                    tf=agg["doc_count"])

    if meta.with_positions:
        pos = np.arange(len(flat), dtype=np.int64) - starts[parent]
        text = rows("text", parent, flat, pos=pa.array(pos.astype(np.int32)))
    else:
        text = tf_rows("text", flat)
    kernel_rows = pa.concat_tables([text, tf_rows("ha", ha_flat)])

    builder = _block_builder(meta.block_size, BM25_K1, BM25_B,
                             _segment_avgdl(meta, n_new, dl_new))
    write_segment(build_blocks(kernel_rows, builder), docstats, p,
                  seg=base_shard)
    return n_new, dl_new, tombs.num_rows


def maintain_index(
    spark: SparkSession,
    index_dir: str,
    max_appended_segments: int = 8,
    max_segment_docs: int | None = None,
    tier_factor: int = 8,
) -> dict | None:
    """Background-merge policy trigger (the TieredMergePolicy maintenance
    loop Lucene runs behind commitWithin, ref: scripts/add_histograms.py:40):
    when the number of APPENDED segments reaches `max_appended_segments`,
    merge the small ones via `plans.compact.compact_segments` (O(merged),
    base segment untouched). Below the threshold: no-op, returns None.

    Why a count policy: every appended segment adds dictionary/tombstone
    fragments that each query's planning must union — unbounded appends
    degrade read amplification linearly. Bounding the segment count keeps
    the serving engine's per-query planning cost flat while never paying
    the O(index) full rewrite (`compact_index`) on the hot path.

    Why a size tier and not merge-everything: the output of a previous
    merge is itself an appended segment; remerging it on every trigger
    would rewrite the whole appended history each time — O(N²) total
    write cost over a long-running ingest. `max_segment_docs` gates
    merging to segments at most that large; the default (None) derives
    the gate adaptively as `tier_factor × median(live docs per appended
    segment)`: fresh micro-batch segments dominate the median, so an
    accumulated merged segment retires from merging once it outgrows its
    tier, and same-tier merged segments still coalesce into the next tier
    when enough accumulate — Lucene's logarithmic merge ladder."""
    from liresolr_spark.plans.compact import _segments, compact_segments

    appended = [s for s in _segments(spark, index_dir) if s[0] != 0]
    if len(appended) < max_appended_segments:
        return None
    if max_segment_docs is None:
        # LIVE docs per appended segment (tombstoned docs excluded — the
        # merge itself drops them, so counting them would keep a mostly-
        # superseded merged segment above its tier forever): one
        # O(#shards)-row agg
        stats = spark.read.parquet(f"{index_dir}/docstats")
        tombs = load_tombstones(spark, index_dir)
        if tombs is not None:
            stats = stats.join(tombs.select("docID").distinct(), "docID",
                               "left_anti")
        per_shard = {
            int(r["shard"]): int(r["n"])
            for r in stats.groupBy("shard").agg(
                F.count("*").alias("n")).collect()}
        sizes = sorted(
            sum(per_shard.get(sh, 0) for sh in range(lo, hi))
            for _, lo, hi in appended)
        median = sizes[len(sizes) // 2]
        max_segment_docs = max(1, tier_factor * median)
    return compact_segments(spark, index_dir,
                            max_segment_docs=max_segment_docs)


def incremental_index(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    num_shards: int = 8,
    block_size: int = 128,
    maintain_after_segments: int | None = None,
    maintain_max_segment_docs: int | None = None,
    with_positions: bool = False,
):
    """Stream corpus parquet files into the index (file source -> foreachBatch
    segment append). With available_now=True the query drains all unread
    files and terminates — the batch-refresh cadence of the reference's
    commitWithin; pass False for a continuous micro-batch ingest.

    maintain_after_segments: if set, run `maintain_index` after each
    committed append — appended segments are merged whenever their count
    reaches the threshold (Lucene's background merge during indexing), so
    a long-running ingest keeps bounded read amplification without any
    external maintenance job. Safe on retry: the merge is itself
    crash-recoverable (compact_segments two-phase commit) and idempotence
    of the append is unaffected (the epoch ledger gates re-appends, not
    segment layout)."""
    from liresolr_spark.sources.corpus import CORPUS_SCHEMA

    stream = (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        append_segment(batch_df, index_dir, epoch_id=epoch_id,
                       num_shards=num_shards, block_size=block_size,
                       with_positions=with_positions)
        if maintain_after_segments is not None:
            maintain_index(spark, index_dir,
                           max_appended_segments=maintain_after_segments,
                           max_segment_docs=maintain_max_segment_docs)

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if available_now:
        q.awaitTermination()
    return q
