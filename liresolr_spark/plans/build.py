"""Index build plan: corpus -> sharded, block-compressed inverted index.

Pipeline (the Spark-first re-expression of ParallelSolrIndexer's
producer/consumer/XML/Solr pipeline, ref: ParallelSolrIndexer.java:124-182,
266-305,338-493):

  corpus (repo,path,commit,lang,content)
    -> dropDuplicates(natural key)           # Solr overwrite=true semantics
                                             # (ref: scripts/add_histograms.py:40)
    -> assign_doc_ids                        # deterministic global rank
    -> docstats  (docID, keys, doclen, sha256(content))  [per-row invariant]
    -> tokenize (built-in exprs) -> explode
       BOTH token families in ONE postings table, like cl_ha..su_ha coexist
       in one Lucene index (ref: README.md:144-160): field='text' lexical
       terms, field='ha' liresolr-style hex hash tokens
    -> tf = groupBy(field,term,docID).count()     # ref: Lucene tf at index time
    -> shard = docID // docs_per_shard       # document-sharded layout =
                                             # Solr collection shards
                                             # (ref: AddImages.java:46)
    -> write_blocks: groupBy(shard,field[,gsalt]) applyInArrow ->
       delta-gap+varint blocks of <=block_size docs with per-block
       (max_tf, min_dl) WAND bounds, parquet partitioned by shard, sorted
       by (field,term) for row-group stat pruning
    -> write_manifest (per-shard lineage: term range, bytes_written,
       docs_indexed, status) and write_dictionary (field,term,df) over the
       written files
    + meta.json (N, avgdl, versions) + metrics.

write_blocks, write_manifest and write_dictionary are the one Spark write
stage of every segment: this build, a Spark-path segment append
(streaming.ingest) and both compactions (plans.compact) call them with
their own docID/shard columns. plans.local_write is their pyarrow twin for
writes small enough to run in the driver.

Skew: hot terms ('import', 'return') appear in EVERY shard, so their
posting-list build is split across shards by construction — the grouping key
(shard, field, term) is never hot. This is the explicit salting strategy:
salt = docID-range shard, chosen so salted runs stay docID-sorted and never
need re-merging (SURVEY §7.4.2).

Resumability: shards are processed in WAVES; after each wave its manifest
rows (status='done', docs_indexed, bytes_written, term range) are committed.
A restarted build reads the manifest, anti-joins completed shards out of the
work set, and appends only the missing shard partitions (north_rule lineage
requirement). docID assignment is deterministic, so a resumed build is
bit-identical to an uninterrupted one.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from liresolr_spark import BM25_B, BM25_K1, HASH_VERSION, INDEX_FORMAT_VERSION
from liresolr_spark.functions.codec import (
    delta_encode_blocked,
    varint_encode_slices,
)
from liresolr_spark.functions.tokenizer import tokenize_expr
from liresolr_spark.sources.corpus import assign_doc_ids

BLOCK_SCHEMA = (
    "shard int, field string, term string, block_seq int, count int, "
    "first_docid long, last_docid long, docids binary, tfs binary, "
    "doclens binary, positions binary, max_tf_norm double, max_tf long, "
    "min_dl long"
)

NATURAL_KEY = ["repo", "path", "commit"]

# Blocks-stage Arrow groups are salted (see write_blocks) so one group's
# posting rows stay near this bound regardless of shard size — ~3 u64
# numpy streams per row, so ~200 MB working set per task at the default.
TARGET_GROUP_ROWS = 8_000_000


@dataclass
class IndexMeta:
    n_docs: int
    avgdl: float
    num_shards: int
    docs_per_shard: int
    block_size: int
    hash_version: int
    k1: float
    b: float
    format_version: int = 1  # pre-doclens indexes carry no key -> 1
    total_doclen: float = 0.0  # sum of doclens; lets appends update avgdl
    # docID allocator for the next append. n_docs stopped being a safe
    # allocator once partial compaction (plans.compact.compact_segments)
    # could physically drop docs WITHOUT renumbering survivors: n_docs then
    # shrinks below max(docID)+1 and an append starting at n_docs would
    # collide. None (older indexes) falls back to n_docs.
    next_docid: int | None = None
    # applied streaming epochs ride INSIDE meta.json so the ledger and the
    # index statistics commit in ONE atomic rename — a crash can never leave
    # meta updated but the epoch unrecorded (which would double-append on
    # the foreachBatch retry)
    applied_epochs: list | None = None
    # positional index (Lucene .pos analog): blocks carry a 4th stream —
    # per posting, within-doc token positions delta-gapped + varint'd.
    # Appends read this flag so every segment agrees; phrase queries use it
    # to skip the corpus-verify stage entirely (operators/phrase.py)
    with_positions: bool = False


def _paths(index_dir: str) -> dict:
    return {
        "docstats": os.path.join(index_dir, "docstats"),
        "blocks": os.path.join(index_dir, "blocks"),
        "dictionary": os.path.join(index_dir, "dictionary"),
        "manifest": os.path.join(index_dir, "manifest"),
        "tombstones": os.path.join(index_dir, "tombstones"),
        "meta": os.path.join(index_dir, "meta.json"),
        "metrics": os.path.join(index_dir, "metrics.json"),
        # partial-compaction two-phase-commit marker (plans.compact)
        "segmarker": os.path.join(index_dir, "compact_segments.json"),
    }


def _pid_alive(pid: int) -> bool:
    """Portable process-liveness probe (signal 0): /proc/<pid> exists only
    on Linux, and a false 'dead' verdict lets repair roll back a LIVE
    merge. PermissionError means the pid exists but belongs to another
    user — alive for our purpose."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    except OSError:
        return False
    return True


def load_tombstones(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """(docID, shard, seg) rows for docs superseded by a cross-segment
    overwrite (see streaming.ingest), None if the index has none; read with
    local_write.spark_reader (the files' schema given), so a dir of empty
    segments reads cleanly."""
    from liresolr_spark.plans.local_write import spark_reader

    if not os.path.exists(_paths(index_dir)["tombstones"]):
        return None
    return spark_reader(spark, index_dir, "tombstones")


def read_meta(index_dir: str) -> IndexMeta:
    """Load the index commit point. Refuses to open an index with a live
    partial-compaction marker: between the marker write and the meta commit
    the directory may hold BOTH the old and the rebuilt copy of the merged
    segments (duplicate postings) — a crashed compact_segments must be
    resolved by `plans.compact.repair_segment_compaction` first (the
    segments_N-style visibility gate Lucene gets from its commit file)."""
    p = _paths(index_dir)
    if os.path.exists(p["segmarker"]):
        pid = None
        try:
            with open(p["segmarker"]) as mf:
                pid = json.load(mf).get("pid")
        except (OSError, ValueError):
            pass
        # own pid = the marker is from THIS process's crashed (synchronous)
        # run, not a concurrent live one
        live = pid is not None and pid != os.getpid() and _pid_alive(pid)
        raise RuntimeError(
            f"index {index_dir} has an "
            + (f"IN-PROGRESS partial compaction (pid {pid} is alive); "
               "wait for it to commit"
               if live else
               "unfinished partial compaction (compact_segments.json "
               "present); run liresolr_spark.plans.compact."
               "repair_segment_compaction() to roll it forward or back"))
    with open(p["meta"]) as f:
        return IndexMeta(**json.load(f))


def write_meta(index_dir: str, meta: IndexMeta) -> None:
    """Atomic meta commit: temp file + rename. meta.json is the index's
    single commit point (segment appends become visible exactly when it
    lands), so it must never be observable half-written."""
    path = _paths(index_dir)["meta"]
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(asdict(meta), f)
    os.replace(tmp, path)


def _block_builder(block_size: int, k1: float, b: float, avgdl: float):
    """applyInArrow kernel: one (shard, field) group -> encoded blocks.

    Arrow-native on purpose: the group holds millions of posting rows, and
    applyInPandas would materialize every term as a Python object. Here the
    term column is dictionary-encoded (pyarrow), so only the UNIQUE terms
    (10^4-10^5) become Python strings; the posting rows themselves stay in
    numpy from Arrow buffers end-to-end.

    Blocks are ALIGNED docID ranges: block_seq = docID // block_size, so the
    same block_seq covers the same docID interval for every term. Alignment
    lets the WAND operator sum per-term block maxima into an exact upper
    bound per docID range and skip whole ranges without decoding — the
    block-max WAND structure (cf. Lucene's BlockMax codecs; reference's
    two-phase cap analog at LireRequestHandler.java:59,458).

    Vectorized: sort by docID, np.unique on the range key, numpy codec.
    Per-posting BM25 tf-norm tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) maxed per
    block = the upper bound (idf is applied at query time).
    """

    def build(key, tbl):
        import pyarrow as pa
        import pyarrow.compute as pc

        shard = key[0].as_py() if hasattr(key[0], "as_py") else key[0]
        field = key[1].as_py() if hasattr(key[1], "as_py") else key[1]
        tbl = tbl.combine_chunks()
        enc = pc.dictionary_encode(tbl.column("term").combine_chunks())
        raw_codes = enc.indices.to_numpy().astype(np.int64)
        dict_strings = np.asarray(enc.dictionary.to_pylist(), dtype=object)
        # dictionary order is first-appearance; remap codes to sorted-term
        # order so the output (and block layout) is term-sorted
        sort_perm = np.argsort(dict_strings)
        rank = np.empty_like(sort_perm)
        rank[sort_perm] = np.arange(len(sort_perm))
        codes = rank[raw_codes]
        terms_u = dict_strings[sort_perm]
        doc_ids = tbl.column("docID").to_numpy().astype(np.int64)
        flat_positions = None       # set by the occurrence path below
        posting_flat_starts = None
        order = None                # per-posting input order (agg paths)
        if "pos" in tbl.column_names:
            pos_np = pc.fill_null(tbl.column("pos").combine_chunks(), -1) \
                .to_numpy(zero_copy_only=False).astype(np.int64)
            has_pos = bool((pos_np >= 0).any())
        else:
            has_pos = False
        if has_pos:
            # OCCURRENCE rows (positional build, lexical family only): one
            # row per token occurrence, NO upstream (term,docID) aggregate
            # — tf and the position stream both fall out of a single
            # lexsort here. The hash family arrives PRE-AGGREGATED in the
            # same union (it carries no positions, and shipping its ~2x
            # occurrence volume through the shuffle measured +50%% blocks-
            # stage wall for nothing), so a group is either all-occurrence
            # (text) or all-aggregated (ha) — never mixed, field is in the
            # group key.
            o = np.lexsort((pos_np, doc_ids, codes))
            codes_o, ids_o, pos_o = codes[o], doc_ids[o], pos_np[o]
            dls_o = tbl.column("doclen").to_numpy()[o]
            brk_p = (codes_o[1:] != codes_o[:-1]) | (ids_o[1:] != ids_o[:-1])
            pstart = np.flatnonzero(np.concatenate(([True], brk_p)))
            tfs = np.diff(np.append(pstart, len(codes_o))).astype(np.uint64)
            codes = codes_o[pstart]
            doc_ids = ids_o[pstart].astype(np.uint64)
            dls = dls_o[pstart].astype(np.float64)
            flat_positions = pos_o.astype(np.uint64)
            posting_flat_starts = pstart
        else:
            order = np.lexsort((doc_ids, codes))
            codes = codes[order]
            doc_ids = doc_ids[order].astype(np.uint64)
            tfs = tbl.column("tf").to_numpy()[order].astype(np.uint64)
            dls = tbl.column("doclen").to_numpy()[order].astype(np.float64)
        tf_f = tfs.astype(np.float64)
        norm = tf_f * (k1 + 1.0) / (tf_f + k1 * (1.0 - b + b * dls / avgdl))
        # block boundary wherever the term or the aligned docID range changes
        # (sorted by (term, docID), so blocks are contiguous slices; boundary
        # test instead of a composite int key — term << 32 | range would
        # overflow at 10^12 docIDs)
        rk = (doc_ids // np.uint64(block_size)).astype(np.int64)
        brk = (codes[1:] != codes[:-1]) | (rk[1:] != rk[:-1])
        starts = np.flatnonzero(np.concatenate(([True], brk)))
        bounds = np.append(starts, len(doc_ids))
        ends = bounds[1:] - 1

        # whole-group vectorized encode: one numpy pass per stream, then
        # self-delimiting LEB128 slices per block (no per-block Python codec)
        d_slices = varint_encode_slices(
            delta_encode_blocked(doc_ids, starts), bounds)
        t_slices = varint_encode_slices(tfs, bounds)
        l_slices = varint_encode_slices(dls.astype(np.uint64), bounds)
        max_norm = np.maximum.reduceat(norm, starts)
        # avgdl-independent bound inputs: tf_norm is increasing in tf and
        # decreasing in dl, so (max_tf, min_dl) bounds every posting's
        # contribution under ANY query-time avgdl — required once segments
        # can be appended after the initial build (avgdl drifts, so the
        # stored max_tf_norm — exact for the build-time avgdl — would be
        # unsafe to prune with)
        max_tf = np.maximum.reduceat(tfs, starts).astype(np.int64)
        min_dl = np.minimum.reduceat(dls, starts).astype(np.int64)

        nblocks = len(starts)
        # positions stream (Lucene .pos analog), three input forms:
        #  - occurrence rows (positional build, handled above): the sorted
        #    pos column IS the flat stream, already posting-aligned
        #  - binary column (compaction path): per-posting PRE-ENCODED slices
        #    (codec.positions_byte_slices) — self-contained streams, so the
        #    remapped block is a zero-recode byte concatenation
        #  - absent / all-empty (ha family, positionless index): b"" blocks
        p_slices = [b""] * nblocks
        if flat_positions is not None:
            deltas = delta_encode_blocked(flat_positions,
                                          posting_flat_starts)
            post_flat = np.append(posting_flat_starts, len(flat_positions))
            p_slices = varint_encode_slices(deltas, post_flat[bounds])
        elif "positions" in tbl.column_names:
            pos_col = tbl.column("positions").combine_chunks()
            pos_np = np.asarray(pos_col.to_pylist(), dtype=object)[order]
            p_slices = [
                b"".join(x or b"" for x in pos_np[s:e])
                for s, e in zip(bounds[:-1], bounds[1:])]
        return pa.table(
            {
                "shard": pa.array(np.full(nblocks, int(shard), dtype=np.int32),
                                  type=pa.int32()),
                "field": pa.array([field] * nblocks, type=pa.string()),
                "term": pa.array(terms_u[codes[starts]], type=pa.string()),
                "block_seq": pa.array(rk[starts].astype(np.int32),
                                      type=pa.int32()),
                "count": pa.array((bounds[1:] - starts).astype(np.int32),
                                  type=pa.int32()),
                "first_docid": pa.array(doc_ids[starts].astype(np.int64),
                                        type=pa.int64()),
                "last_docid": pa.array(doc_ids[ends].astype(np.int64),
                                       type=pa.int64()),
                "docids": pa.array(d_slices, type=pa.binary()),
                "tfs": pa.array(t_slices, type=pa.binary()),
                "doclens": pa.array(l_slices, type=pa.binary()),
                "positions": pa.array(p_slices, type=pa.binary()),
                "max_tf_norm": pa.array(max_norm, type=pa.float64()),
                "max_tf": pa.array(max_tf, type=pa.int64()),
                "min_dl": pa.array(min_dl, type=pa.int64()),
            }
        )

    return build


def exploded_terms(docs: DataFrame, with_hash_tokens: bool,
                   with_positions: bool = False) -> DataFrame:
    """docs(docID, shard, doclen, tokens) -> (docID, shard, doclen, field,
    term[, pos]).

    Emits the lexical family and (optionally) the liresolr hash-token family,
    all with built-in expressions (no Python). The hash family is derived
    AFTER the explode as a scalar md5 projection unioned with the lexical
    rows — array higher-order functions (transform/concat-of-structs) are
    interpreted CodegenFallback and were a measured 2x drag on the postings
    stage at 10^8 tokens; explode + union of two codegen'd projections keeps
    the whole path in whole-stage codegen.

    with_positions=True adds the 0-based within-doc token index as `pos` —
    NULL on the hash-family rows (positions are a lexical-field feature;
    collect_list downstream skips NULLs, so ha postings aggregate an empty
    position list at zero storage cost)."""
    if with_positions:
        lex = docs.select(
            "docID", "shard", "doclen",
            F.posexplode("tokens").alias("pos", "tok"),
        )
        pos_text = [F.col("pos").cast("int").alias("pos")]
        pos_ha = [F.lit(None).cast("int").alias("pos")]
    else:
        lex = docs.select(
            "docID", "shard", "doclen",
            F.explode("tokens").alias("tok"),
        )
        pos_text = pos_ha = []
    text_rows = lex.select(
        "docID", "shard", "doclen",
        F.lit("text").alias("field"), F.col("tok").alias("term"), *pos_text)
    if not with_hash_tokens:
        return text_rows
    # scalar twin of hash_tokens_expr (substring(md5(token), 1, 8))
    ha_rows = lex.select(
        "docID", "shard", "doclen",
        F.lit("ha").alias("field"),
        F.substring(F.md5("tok"), 1, 8).alias("term"), *pos_ha)
    return text_rows.unionAll(ha_rows)


def tf_aggregate(exploded: DataFrame) -> DataFrame:
    """(shard, field, term, docID) -> tf: the postings aggregate of the
    POSITIONLESS build/append path — a pure count, map-side combinable.

    The positional path deliberately has no aggregate: occurrence rows go
    straight to the block kernel, where tf and the position stream both
    fall out of one lexsort (a collect_list+sort_array aggregate here
    measured ~3x slower — per-posting JVM array buffers — and added a
    whole shuffle stage)."""
    return exploded.groupBy("shard", "field", "term", "docID").agg(
        F.count("*").alias("tf"), F.first("doclen").alias("doclen"))


def positional_postings_input(exploded: DataFrame) -> DataFrame:
    """Positional-build feed for the block kernel: lexical OCCURRENCE rows
    unioned with PRE-AGGREGATED hash-family rows.

    The ha family carries no positions, so shipping its occurrence volume
    through the blocks shuffle bought nothing (measured +50%% blocks-stage
    wall); aggregating it first restores the positionless volume for that
    half. Schema: (docID, shard, doclen, field, term, pos, tf) with tf NULL
    on occurrence rows and pos NULL on aggregated rows — the kernel
    branches per group, and a group is never mixed (field is in the group
    key)."""
    text = exploded.filter(F.col("field") == "text").withColumn(
        "tf", F.lit(None).cast("long"))
    ha = tf_aggregate(exploded.filter(F.col("field") == "ha")).withColumn(
        "pos", F.lit(None).cast("int"))
    return text.unionByName(ha)


def kernel_input(docs: DataFrame, with_hash_tokens: bool,
                 with_positions: bool) -> DataFrame:
    """docs(docID, shard, doclen, tokens) -> the block kernel's input:
    lexical occurrence rows plus pre-aggregated hash rows on a positional
    write (positional_postings_input), else tf rows (tf_aggregate)."""
    exploded = exploded_terms(docs, with_hash_tokens, with_positions)
    return (positional_postings_input(exploded) if with_positions
            else tf_aggregate(exploded))


def write_blocks(rows: DataFrame, blocks_dir: str, builder, postings: float,
                 n_shards: int, mode: str = "append") -> int:
    """Kernel-input `rows` (shard, field, term, docID, ...) -> encoded
    blocks under `blocks_dir`, partitioned by shard and sorted by (field,
    term, block_seq). Returns the number of term-hash salts per group.

    One Arrow group is (shard, field, gsalt): each holds ~1/salts of one
    shard's postings — balanced by construction (shard = docID range; the
    term hash is uniform), and term-level grouping happens vectorized
    inside the kernel. Grouping by (shard, field, term) instead would
    create millions of tiny Arrow groups (per-group overhead dominates);
    grouping by (shard, field) alone puts a whole shard in one task — the
    memory ceiling at 100x scale. The salt count follows the group
    estimate: ceil(postings per shard / TARGET_GROUP_ROWS), where
    `postings` is the segment's Σ doclen (positional writes feed one row
    per lexical token occurrence, positionless ones at most that many
    aggregated postings) — 1 at small scale, no gsalt column. Blocks stay
    term-contiguous (a term maps to one salt) and docID alignment is
    untouched, so the output rows do not depend on the salt count."""
    per_group = postings / max(n_shards, 1)
    salts = max(1, int(-(-per_group // TARGET_GROUP_ROWS)))
    keys = ["shard", "field"]
    if salts > 1:
        rows = rows.withColumn(
            "gsalt", F.pmod(F.xxhash64("term"), F.lit(salts)).cast("int"))
        keys.append("gsalt")
    (rows.groupBy(*keys).applyInArrow(builder, schema=BLOCK_SCHEMA)
     .sortWithinPartitions("field", "term", "block_seq")
     .write.partitionBy("shard").mode(mode).parquet(blocks_dir))
    return salts


def write_manifest(spark: SparkSession, paths: dict, shards,
                   mode: str = "append") -> None:
    """Manifest rows (term range, block stream bytes, docs_indexed,
    status='done') of the written shards the Column predicate `shards`
    selects, from their blocks and docstats files. Partitioned by shard,
    so a retried segment write drops its own rows (shard=N dirs) without
    touching earlier ones."""
    def read(key):
        return spark.read.parquet(paths[key]).filter(shards).groupBy("shard")

    (read("blocks").agg(
        F.min("term").alias("term_lo"), F.max("term").alias("term_hi"),
        F.sum(F.length("docids") + F.length("tfs")
              + F.length("doclens")).alias("bytes_written"))
     .join(read("docstats").agg(F.count("*").alias("docs_indexed")),
           "shard", "full")
     .withColumn("status", F.lit("done"))
     .write.mode(mode).partitionBy("shard").parquet(paths["manifest"]))


def write_dictionary(spark: SparkSession, paths: dict, shards, seg: int,
                     mode: str = "append") -> None:
    """The `seg=<seg>` dictionary fragment — df and max tf-norm per (field,
    term) — over the written blocks of the shards `shards` selects. The
    base build is segment 0; an appended or merged segment is its first
    shard id, so a retried write deletes exactly its own fragment, and
    queries sum df over fragments."""
    (spark.read.parquet(paths["blocks"]).filter(shards)
     .groupBy("field", "term")
     .agg(F.sum("count").alias("df"),
          F.max("max_tf_norm").alias("max_tf_norm"))
     .withColumn("seg", F.lit(seg))
     .write.mode(mode).partitionBy("seg").parquet(paths["dictionary"]))


def build_index(
    corpus: DataFrame,
    index_dir: str,
    num_shards: int = 32,
    block_size: int = 128,
    resume: bool = True,
    with_hash_tokens: bool = True,
    with_positions: bool = False,
    shard_waves: int = 1,
    max_waves: int | None = None,
    applied_epochs: list | None = None,
) -> dict:
    """Build (or resume) the index. Returns the per-stage metrics dict.

    shard_waves > 1 commits lineage incrementally (resume granularity);
    max_waves (tests only) stops early to simulate a killed build.

    applied_epochs: streaming-epoch ledger entries to commit WITH the meta —
    a foreachBatch first build passes its epoch so the ledger and the index
    statistics land in ONE atomic rename (a crash can never record one
    without the other, which would re-append the batch on retry).
    """
    spark = corpus.sparkSession
    p = _paths(index_dir)
    os.makedirs(index_dir, exist_ok=True)
    # group_salts: write_blocks' salt count (None when no wave ran)
    metrics: dict = {"stages": {}, "hash_version": HASH_VERSION,
                     "group_salts": None}
    t_all = time.time()

    def stage(name):
        class _T:
            def __enter__(self):
                self.t = time.time()

            def __exit__(self, *a):
                metrics["stages"][name] = round(
                    metrics["stages"].get(name, 0.0) + time.time() - self.t, 3)

        return _T()

    # ---- resume bookkeeping -------------------------------------------------
    import shutil

    done_shards: set[int] = set()
    if resume and os.path.exists(p["manifest"]):
        man = spark.read.parquet(p["manifest"])
        done_shards = {
            int(r["shard"]) for r in man.filter(F.col("status") == "done").collect()
        }
    elif not resume:
        for key in ("docstats", "blocks", "manifest"):
            shutil.rmtree(p[key], ignore_errors=True)
    # a build killed MID-wave leaves shard partitions in docstats/blocks with
    # no manifest row; drop them so the re-run is exactly-once (local-FS
    # analog of a Hadoop FileSystem delete of the orphaned shard dirs /
    # an Iceberg snapshot rollback)
    for key in ("docstats", "blocks"):
        base = p[key]
        if os.path.exists(base):
            for d in os.listdir(base):
                if d.startswith("shard="):
                    if int(d.split("=", 1)[1]) not in done_shards:
                        shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    metrics["resumed_shards_skipped"] = len(done_shards)

    # ---- docID assignment (deterministic global rank) -----------------------
    with stage("assign_doc_ids"):
        # Solr overwrite semantics, made deterministic: one winner per natural
        # key, chosen by content order (ref overwrite=true is last-write-wins,
        # which is racy in the reference's parallel indexer). Dedup is fused
        # into the range-sort pass — no separate window shuffle — and the
        # ranged intermediate is cached so the count and id passes share it.
        docs = assign_doc_ids(corpus, NATURAL_KEY, dedup=True, cache=True)
        ranged_part = docs._lsr_cached_part
        # tokens are NOT cached: materializing 10^8 small strings into the
        # block cache costs ~7x the tokenize itself (measured), so each
        # downstream pass recomputes tokenize from the cached ranged rows
        docs = docs.withColumn("tokens", tokenize_expr(F.col("content")))
        docs = docs.withColumn("doclen", F.size("tokens"))
        row = docs.agg(F.count("*").alias("n"),
                       F.sum("doclen").alias("s")).first()
        n_docs = int(row["n"])
        total_doclen = float(row["s"] or 0.0)

    docs_per_shard = max(1, -(-n_docs // num_shards))  # ceil
    docs = docs.withColumn(
        "shard", (F.col("docID") / F.lit(docs_per_shard)).cast("int")
    )
    avgdl = total_doclen / n_docs if n_docs else 0.0

    all_shards = list(range(num_shards))
    todo = [s for s in all_shards if s not in done_shards]
    waves = max(1, min(shard_waves, len(todo))) if todo else 0
    wave_lists = [todo[i::waves] for i in range(waves)] if todo else []
    if max_waves is not None:
        wave_lists = wave_lists[:max_waves]

    builder = _block_builder(block_size, BM25_K1, BM25_B, avgdl)

    for wave_shards in wave_lists:
        wave = docs.filter(F.col("shard").isin(wave_shards))

        with stage("docstats"):
            docstats = wave.select(
                "docID", "shard", "repo", "path", "commit", "lang", "doclen",
                F.sha2(F.col("content"), 256).alias("sha256"),
            )
            docstats.write.mode("append").partitionBy("shard").parquet(p["docstats"])

        with stage("postings_tf"):
            tf = kernel_input(wave, with_hash_tokens, with_positions)

        with stage("blocks"):
            metrics["group_salts"] = write_blocks(
                tf, p["blocks"], builder, total_doclen, num_shards)

        with stage("manifest"):
            write_manifest(spark, p, F.col("shard").isin(wave_shards))

    finished = (max_waves is None) or (len(wave_lists) == waves)
    if finished:
        # ---- dictionary: df per (field, term) across ALL shards --------------
        with stage("dictionary"):
            write_dictionary(spark, p, F.lit(True), 0, mode="overwrite")

        meta = IndexMeta(
            n_docs=n_docs, avgdl=avgdl, num_shards=num_shards,
            docs_per_shard=docs_per_shard, block_size=block_size,
            hash_version=HASH_VERSION, k1=BM25_K1, b=BM25_B,
            format_version=INDEX_FORMAT_VERSION,
            total_doclen=total_doclen, next_docid=n_docs,
            with_positions=with_positions,
            applied_epochs=(sorted(applied_epochs)
                            if applied_epochs is not None else None),
        )
        write_meta(index_dir, meta)

    if ranged_part is not None:
        ranged_part.unpersist()
    from liresolr_spark.plans.local_write import segment_bytes

    metrics["n_docs"] = n_docs
    metrics["finished"] = finished
    metrics["bytes_written"] = segment_bytes(p["manifest"], 0)
    metrics["wall_sec"] = round(time.time() - t_all, 3)
    metrics["files_per_sec"] = round(n_docs / max(metrics["wall_sec"], 1e-9), 2)
    with open(p["metrics"], "w") as f:
        json.dump(metrics, f)
    return metrics
