"""Distributed block-max WAND top-k BM25 over the compressed block index.

Execution model = the Solr sharded collection (ref: AddImages.java:46
`media_shard1_replica1`): the query fans out to every docID-range shard,
each shard runs a block-max top-k kernel locally over its own posting
blocks, and the per-shard top-k's merge to a global top-k — exactly how a
SolrCloud query distributes LireRequestHandler's candidate search
(ref: LireRequestHandler.java:458) across shards. A request small enough
for the driver runs the kernel once over every shard's blocks instead (see
below).

The kernel exploits ALIGNED blocks (block_seq = docID // block_size for
every term, see plans/build._block_builder; one docID range r may hold a
block of the same term in each of several shards):

  1. upper bound per docID range r:  UB(r) = sum_t idf_t * max_tf_norm(t, r),
     max_tf_norm(t, r) the largest bound among t's blocks in r (a doc sits
     in one block per term, so a sum over them would be looser);
  2. visit ranges in DESCENDING UB order, maintaining the running top-k
     threshold theta (k-th best exact score);
  3. stop as soon as UB(next) <= theta — no remaining range can beat the
     heap. Ranges never visited are never decoded (the WAND saving).
  4. visited ranges are scored exactly & vectorized: decode delta+varint,
     accumulate sum_t idf_t * tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) via
     np.bincount on the range's docIDs.

This is a SAFE optimization: results are exactly the exhaustive top-k
(property-tested in tests/test_wand.py), unlike the reference's lossy
candidate cap of 20000 (LireRequestHandler.java:59).

A single query is a batch of one: `_wand_topk` answers {qid: terms} with
one idf resolution, one block prune and one kernel run. It runs the
kernel above for one query and a term-at-a-time kernel for a batch
(_shard_kernel_many: each hot block decoded once for every query).

Spark plan: every operator prunes blocks to the query's terms through one
helper, `prune_blocks` (shard-dir partition pruning, parquet row-group
stats on `term`), then the kernel runs on one of two paths, chosen per
request in `_run_shard_kernel` before any job runs:

  - driver: when the request's posting count (sum of df over its distinct
    terms, read from the pinned dictionary snapshot) is at most
    DRIVER_MAX_POSTINGS, the kernel closure runs ONCE in the driver
    process, over every shard's block rows and one global docID mask. A
    served request moves KB of postings, so the pandas-UDF stage (shuffle,
    Python worker round trip) would cost far more than the arithmetic, and
    so would a kernel call per shard. block_seq is a global docID range,
    so the one WAND run keeps one global theta over the union of the
    shards' ranges. Its block rows come from a `BlockSnapshot` when the
    caller holds one (a driver-resident index: no Spark job), else from
    one collect of the pruned scan. The kernel rows stay a pandas frame
    and the global merge is a numpy sort;
  - spark: otherwise (or with no dictionary snapshot) the same closure runs
    as applyInPandas grouped by shard over the lazy pruned scan — one Arrow
    batch per shard, no driver-side posting materialization, no shuffle of
    raw postings — and the merge is a Spark top-k (TakeOrderedAndProject
    for one query, a per-qid aggregate for a batch). So every kernel
    takes the blocks of any set of shards, one or all of them.

The public operators always return a DataFrame: a driver-side result is
wrapped as an Arrow local relation (liresolr_spark.frames), which collects
without a Spark job, and a Spark-path result stays a lazy plan. The serving
engine (api.LireQueryEngine) calls the underscored bodies instead and
collects their bounded top-k into the driver on either path, where its
response is built. Doclens travel INSIDE each block (codec third
stream, the analog of Lucene per-segment norms), so a query's input is
proportional to the posting lists of its terms — it never scans a
corpus-sized doc-stats table (critical at 10^12 docs).
"""

from __future__ import annotations

from contextvars import ContextVar

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from liresolr_spark.frames import as_frame, empty_pdf, local_frame, struct_of
from liresolr_spark.functions.codec import decode_blocks
from liresolr_spark.operators.bm25 import idf_lucene
from liresolr_spark.plans.build import read_meta
from liresolr_spark.plans.local_write import serving_table, spark_reader

# Postings (sum of df over a request's distinct terms) at or under which the
# shard kernels run in the driver instead of a pandas-UDF stage. Both paths
# took equal wall time at ~255k postings (local[4], positional index; SCALE.md
# §3, "Driver-local kernel dispatch"); the bound sits well below that,
# because the driver path is single-threaded and the Spark path gains
# from every added core.
DRIVER_MAX_POSTINGS = 100_000
# the posting estimate of every shard kernel a request runs, in call order:
# _run_shard_kernel appends to the list a served request (api._counted) set
_kernel_log: ContextVar[list | None] = ContextVar("kernel_log", default=None)


def postings_estimate(dictionary_map: dict | None, field: str,
                      terms) -> int | None:
    """Sum of df over the distinct `terms` of `field` from a driver-side
    {field: {term: df}} snapshot — the request's posting count, known
    before any job runs. None when there is no snapshot."""
    if dictionary_map is None:
        return None
    dmap = dictionary_map.get(field, {})
    return sum(dmap.get(t, 0) for t in set(terms))


def kernel_dispatch(postings: int | None) -> str:
    """'driver' when a request's posting estimate is known and at most
    DRIVER_MAX_POSTINGS, else 'spark' (see _run_shard_kernel)."""
    if postings is not None and postings <= DRIVER_MAX_POSTINGS:
        return "driver"
    return "spark"


class BlockSnapshot:
    """The posting blocks of a driver-resident index (api.LireQueryEngine:
    Σ df of the whole dictionary within DRIVER_MAX_POSTINGS), read into
    driver memory once with pyarrow (serving_table), typed as `df`, the
    lazy, uncached Spark reader kept beside it for the Spark path.

    Rows are held in (field, shard, term, block_seq) order — for one field
    the order of a collected pruned scan, since the build writes each
    (shard, field) group sorted by (term, block_seq) — with a (field, term)
    -> row positions lookup, so a request's blocks are a take, not a
    scan."""

    COLUMNS = ["shard", "field", "term", "block_seq", "first_docid",
               "last_docid", "docids", "tfs", "doclens", "positions",
               "max_tf", "min_dl"]

    def __init__(self, df: DataFrame, index_dir: str):
        self.df = df
        table = serving_table(index_dir, "blocks", self.COLUMNS).sort_by(
            [(c, "ascending") for c in ("field", "shard", "term",
                                        "block_seq")])
        self.rows = table.to_pandas()
        self._at = self.rows.groupby(["field", "term"], sort=False).indices

    def take(self, field: str, terms, columns: list[str]) -> pd.DataFrame:
        """The block rows of `terms` in `field`, in snapshot order."""
        at = [self._at[(field, t)] for t in set(terms)
              if (field, t) in self._at]
        idx = np.sort(np.concatenate(at)) if at else np.empty(0, np.int64)
        return self.rows.take(idx)[columns].reset_index(drop=True)

    def covering(self, shard: int, field: str, doc_id: int) -> pd.DataFrame:
        """The `field` block rows of `shard` whose [first_docid,
        last_docid] range covers doc_id."""
        r = self.rows
        return r[(r["shard"] == shard) & (r["field"] == field)
                 & (r["first_docid"] <= doc_id) & (r["last_docid"] >= doc_id)]


def prune_blocks(spark, index_dir: str, blocks_df, field: str, terms,
                 columns: list[str]):
    """A request's pruned block scan, as `_run_shard_kernel` takes it: the
    (scan, rows) pair for the blocks of `terms` in `field`, projected to
    `columns`. scan() returns the lazy Spark plan (shard dirs
    partition-pruned, row-group stats prune term) over `blocks_df` — a
    pre-loaded reader, a BlockSnapshot's reader, or a fresh spark_reader
    when None; it is built only when called, because building it analyzes
    a plan in the JVM, which a request served from the snapshot never
    needs. rows are the same rows from driver memory when `blocks_df` is a
    BlockSnapshot, else None."""
    terms = list(terms)
    snap = blocks_df if isinstance(blocks_df, BlockSnapshot) else None

    def scan() -> DataFrame:
        src = snap.df if snap is not None else blocks_df
        if src is None:
            src = spark_reader(spark, index_dir, "blocks")
        return src.filter(
            (F.col("field") == field) & F.col("term").isin(terms)
        ).select(*columns)

    return scan, None if snap is None else snap.take(field, terms, columns)


def _mask_from_pdf(mask_pdf: pd.DataFrame | None, allow_mode: bool):
    """The docID restriction a kernel takes, from (docID, allow) rows: one
    shard's cogrouped rows on the Spark path, every shard's rows on the
    driver path (docIDs are global, so one mask serves all shards).

    Returns (allow_sorted | None, deny_sorted | None). allow_mode=True means
    an allow-list is ACTIVE (fq pushdown): with zero allow rows the kernel
    then matches nothing — an empty sorted array, not None."""
    allow = deny = None
    if mask_pdf is not None and len(mask_pdf):
        ids = mask_pdf["docID"].values.astype(np.int64)
        flags = mask_pdf["allow"].values.astype(bool)
        if allow_mode:
            allow = np.sort(ids[flags])
        if (~flags).any():
            deny = np.sort(ids[~flags])
    elif allow_mode:
        allow = np.empty(0, dtype=np.int64)
    return allow, deny


def _in_sorted(ids: np.ndarray, sorted_arr: np.ndarray) -> np.ndarray:
    """Vectorized membership against a SORTED array via searchsorted —
    O(n log m) with a tight constant (no hash table / no np.isin sort),
    the right kernel since _mask_from_pdf pre-sorts both mask sides."""
    if not len(sorted_arr):
        return np.zeros(len(ids), dtype=bool)
    pos = np.searchsorted(sorted_arr, ids)
    hit = pos < len(sorted_arr)
    hit[hit] = sorted_arr[pos[hit]] == ids[hit]
    return hit


def _apply_mask(allow, deny, ids, *cols):
    """(ids, *cols) cut to the rows whose docID is in `allow` (when given)
    and not in `deny` — the sorted mask sides of _mask_from_pdf."""
    if allow is None and deny is None:
        return (ids, *cols)
    keep = np.ones(len(ids), dtype=bool)
    if allow is not None:
        keep &= _in_sorted(ids, allow)
    if deny is not None:
        keep &= ~_in_sorted(ids, deny)
    return (ids[keep], *(c[keep] for c in cols))


def _shard_kernel(idf: dict, k: int, k1: float, b: float, avgdl: float,
                  block_size: int, acc_total=None, acc_visited=None):
    """Returns the WAND kernel: (query-term blocks of one shard or of
    many) -> top-k (docID, score) rows.

    acc_total/acc_visited: optional Spark accumulators counting aligned
    docID ranges considered vs actually decoded — the observable WAND
    saving (ranges never visited are never decompressed).

    The kernel optionally takes a docID restriction, the sorted
    allow and deny arrays of _mask_from_pdf. allow forms an fq allow-list
    (pushed-down filter query: top-k is then exact UNDER the filter, ref fq
    semantics LireRequestHandler.java:539-550); deny holds tombstones (docs
    superseded by a cross-segment overwrite, excluded from results but
    still counted in df/avgdl until compaction — exactly Lucene's
    deleted-docs statistics behavior). Masking happens
    BEFORE the running top-k/theta update, so a filtered doc can never
    displace an eligible one; the block upper bounds remain valid bounds
    for the masked subset, so WAND pruning stays safe."""

    def kernel(blocks: pd.DataFrame, allow=None, deny=None) -> pd.DataFrame:
        if len(blocks) == 0:
            return pd.DataFrame({"docID": pd.Series(dtype="int64"),
                                 "score": pd.Series(dtype="float64")})
        terms = blocks["term"].values
        seqs = blocks["block_seq"].values.astype(np.int64)
        w = np.array([idf[t] for t in terms], dtype=np.float64)
        # avgdl-independent block bound: tf_norm is increasing in tf,
        # decreasing in dl, so tf_norm(max_tf, min_dl) >= every posting's
        # contribution — stays a valid upper bound after segment appends
        # shift the global avgdl (stored max_tf_norm is exact only for the
        # segment's build-time avgdl)
        mtf = blocks["max_tf"].values.astype(np.float64)
        mdl = blocks["min_dl"].values.astype(np.float64)
        ub_contrib = w * mtf * (k1 + 1.0) / (
            mtf + k1 * (1.0 - b + b * mdl / avgdl))

        # UB per aligned range: sum over terms of the term's largest block
        # bound in the range (shards sharing a range each hold a block)
        uniq_seq, inv = np.unique(seqs, return_inverse=True)
        uniq_terms, tcode = np.unique(terms, return_inverse=True)
        pairs, pinv = np.unique(inv * len(uniq_terms) + tcode,
                                return_inverse=True)
        pmax = np.full(len(pairs), -np.inf)
        np.maximum.at(pmax, pinv, ub_contrib)
        ub = np.bincount(pairs // len(uniq_terms), weights=pmax,
                         minlength=len(uniq_seq))
        visit_order = np.argsort(-ub, kind="stable")
        # group block rows by range ONCE (argsort + offsets): members of
        # range ri are a contiguous slice — keeps the visit loop
        # O(blocks log blocks), not O(ranges * blocks)
        grp = np.argsort(inv, kind="stable")
        counts = np.bincount(inv, minlength=len(uniq_seq))
        offsets = np.concatenate(([0], np.cumsum(counts)))

        top_ids = np.empty(0, dtype=np.int64)
        top_scores = np.empty(0, dtype=np.float64)
        theta = -np.inf

        docid_col = blocks["docids"].values
        tf_col = blocks["tfs"].values
        dl_col = blocks["doclens"].values

        visited = 0
        for ri in visit_order:
            # prune on STRICT inequality: a range whose bound exactly ties
            # theta may still hold a doc with score == theta and a smaller
            # docID, which outranks the current k-th under the total order
            # (score desc, docID asc)
            if len(top_ids) >= k and ub[ri] < theta:
                break  # no remaining range can beat the k-th result
            visited += 1
            members = grp[offsets[ri]:offsets[ri + 1]]
            ids_cat, tfs, dls, n = decode_blocks(
                docid_col[members], tf_col[members], dl_col[members])
            tf_f = tfs.astype(np.float64)
            sc_cat = np.repeat(w[members], n) * tf_f * (k1 + 1.0) / (
                tf_f + k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl))
            # restriction BEFORE the heap/theta update: a filtered doc must
            # never occupy a top-k slot or raise theta
            ids_cat, sc_cat = _apply_mask(allow, deny, ids_cat, sc_cat)
            if not len(ids_cat):
                continue
            # accumulate per docID within the range (<= block_size docs)
            lo = ids_cat.min()
            acc = np.bincount(ids_cat - lo, weights=sc_cat)
            nz = np.nonzero(acc)[0]
            new_ids = nz + lo
            new_scores = acc[nz]
            # merge into running top-k with total order (score desc, docID asc)
            top_ids = np.concatenate([top_ids, new_ids])
            top_scores = np.concatenate([top_scores, new_scores])
            order = np.lexsort((top_ids, -top_scores))[:k]
            top_ids, top_scores = top_ids[order], top_scores[order]
            if len(top_ids) >= k:
                theta = top_scores[-1]

        if acc_total is not None:
            acc_total.add(int(len(uniq_seq)))
            acc_visited.add(int(visited))
        return pd.DataFrame({"docID": top_ids, "score": top_scores})

    return kernel


def _shard_kernel_many(idfs: dict, k: int, k1: float, b: float, avgdl: float):
    """Batched variant: Q queries against the blocks of one shard or of
    many in a single kernel invocation, fully vectorized TERM-AT-A-TIME
    exhaustive scoring.

    Why not per-query WAND here: the scan is already restricted to the
    UNION of the batch's query terms (pruned at the parquet scan), every
    hot block is shared by many queries, and profiling showed the Python
    range-visit loop — not decompression or scoring — dominating batch
    latency. So each posting block is decoded exactly once, and scoring is
    a scatter-add of per-term contributions into a dense (Q x docs) score
    matrix whose axis is the DISTINCT docIDs the surviving postings hold,
    in ascending order. Its width is at most the posting count, however
    far apart those docIDs lie: one shard's postings on the Spark path,
    and every shard's on the driver path, where the request holds at most
    DRIVER_MAX_POSTINGS postings. Exhaustive scoring
    is trivially exact — same guarantee as WAND, no pruning proof needed.
    Result stays rank-identical to per-query `wand_topk` (pytest-gated).

    Memory guard: the dense matrix is capped at ~512 MB; a batch too large
    for it falls back to per-query bincount accumulation (vector per query,
    never Q x docs); each such vector is as wide as the posting count.

    Optional allow/deny = docID restriction (see _shard_kernel);
    query-independent, applied once at decode."""

    DENSE_BUDGET = 64_000_000  # doubles: Q * span cap (~512 MB)

    def kernel(blocks: pd.DataFrame, allow=None, deny=None) -> pd.DataFrame:
        empty = pd.DataFrame({"qid": pd.Series(dtype="object"),
                              "docID": pd.Series(dtype="int64"),
                              "score": pd.Series(dtype="float64")})
        # decode every block once; group postings per unique term
        uniq_terms, term_codes = np.unique(blocks["term"].values,
                                           return_inverse=True)
        ids, tfs, dls, n = decode_blocks(blocks["docids"].values,
                                         blocks["tfs"].values,
                                         blocks["doclens"].values)
        tf_f = tfs.astype(np.float64)
        part = tf_f * (k1 + 1.0) / (
            tf_f + k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl))
        # mask once; `kept` indexes the surviving postings
        ids, kept = _apply_mask(allow, deny, ids, np.arange(len(ids)))
        if not len(ids):
            return empty
        codes = np.repeat(term_codes, n)[kept]
        # dense axis = the distinct docIDs the postings hold (ascending, so
        # column order is docID order): bounded by the posting count, never
        # by how far apart the docIDs lie
        doc_axis, cols = np.unique(ids, return_inverse=True)
        span = len(doc_axis)
        by_term = np.argsort(codes, kind="stable")
        cuts = np.cumsum(np.bincount(codes, minlength=len(uniq_terms)))[:-1]
        cols_by_term = np.split(cols[by_term], cuts)
        part_by_term = np.split(part[kept][by_term], cuts)

        qids = list(idfs)
        # per-query weight over the blocks' unique terms (0 = not queried)
        W = np.zeros((len(qids), len(uniq_terms)), dtype=np.float64)
        tindex = {t: i for i, t in enumerate(uniq_terms)}
        for qi, qid in enumerate(qids):
            for t, w in idfs[qid].items():
                ti = tindex.get(t)
                if ti is not None:
                    W[qi, ti] = w

        out = []

        def topk_rows(qid, dense):
            # exact top-k under the total order (score desc, docID asc):
            # partition finds the k-th score; ties AT it are filled in
            # ascending docID order (nz is ascending by construction)
            nz = np.flatnonzero(dense)
            if not len(nz):
                return
            sc = dense[nz]
            if len(nz) > k:
                kth = np.partition(sc, len(sc) - k)[len(sc) - k]
                above = np.flatnonzero(sc > kth)
                eq = np.flatnonzero(sc == kth)[:k - len(above)]
                sel = np.concatenate([above, eq])
                nz, sc = nz[sel], sc[sel]
            order = np.lexsort((nz, -sc))[:k]
            out.append(pd.DataFrame({
                "qid": qid, "docID": doc_axis[nz[order]].astype(np.int64),
                "score": sc[order]}))

        if len(qids) * span <= DENSE_BUDGET:
            scores = np.zeros((len(qids), span), dtype=np.float64)
            for t in range(len(uniq_terms)):
                qs = np.flatnonzero(W[:, t])
                if not len(qs) or not len(cols_by_term[t]):
                    continue
                # (|qs| x n_t) outer contribution scattered into the dense
                # matrix — one vectorized op per (term, querying-subset)
                scores[np.ix_(qs, cols_by_term[t])] += (
                    W[qs, t][:, None] * part_by_term[t][None, :])
            for qi, qid in enumerate(qids):
                topk_rows(qid, scores[qi])
        else:
            for qi, qid in enumerate(qids):
                ts = np.flatnonzero(W[qi])
                if not len(ts):
                    continue
                cols_cat = np.concatenate([cols_by_term[t] for t in ts])
                sc_cat = np.concatenate(
                    [W[qi, t] * part_by_term[t] for t in ts])
                if not len(cols_cat):
                    continue
                dense = np.zeros(span, dtype=np.float64)
                np.add.at(dense, cols_cat, sc_cat)
                topk_rows(qid, dense)
        return pd.concat(out, ignore_index=True) if out else empty

    return kernel


def _sides(restriction) -> list:
    """A restriction argument as a list of (shard, docID) sides: None, one
    frame (Spark or pandas) or a list of frames."""
    if restriction is None:
        return []
    if isinstance(restriction, (list, tuple)):
        return list(restriction)
    return [restriction]


def _spark_side(spark, side) -> DataFrame:
    if isinstance(side, pd.DataFrame):
        return local_frame(spark, side, "shard int, docID long")
    return side.select("shard", "docID")


def _restrict_df(spark, allow_docids, deny_docids) -> DataFrame | None:
    """Combine the allow (fq, MUST) / deny (tombstones, MUST_NOT) sides
    into ONE (shard, docID, allow) frame for the cogrouped kernel: allow
    sides intersect (join), deny sides union — a plain narrow unionByName,
    no distinct: the sides are cached and the kernel mask is duplicate-
    tolerant (sorted-array searchsorted membership), while a distinct
    would re-shuffle up to corpus/2 deny rows per query. Scale note: the
    deny side is tiny (only superseded docs); the allow side is
    proportional to fq selectivity — the pushdown is meant for SELECTIVE
    filters, exactly the case the post-filter silently breaks. At 10^12
    docs an unselective fq would instead use a per-shard bitmap artifact;
    the cogroup seam stays the same."""
    allow = [_spark_side(spark, a) for a in _sides(allow_docids)]
    deny = [_spark_side(spark, d) for d in _sides(deny_docids)]
    out = None
    if allow:
        a = allow[0]
        for nxt in allow[1:]:
            a = a.join(nxt, ["shard", "docID"])
        out = a.select("shard", "docID", F.lit(True).alias("allow"))
    for d in deny:
        d = d.select("shard", "docID", F.lit(False).alias("allow"))
        out = d if out is None else out.unionByName(d)
    return out


def _mask_rows(allow_docids, deny_docids, seqs, block_size: int
               ) -> pd.DataFrame:
    """Driver-side (shard, docID, allow) restriction rows, the pandas twin
    of _restrict_df: allow sides intersect, deny sides union. Spark sides
    (cached fq allow-lists, tombstones) are collected together in ONE job,
    restricted to the aligned docID ranges `seqs` (block_seq = docID //
    block_size) — the kernels only mask decoded docIDs, so rows outside
    the collected blocks' ranges can never matter, and the collected rows
    stay bounded by block_size per block. Pandas sides (driver-kernel
    boolean sets) are used as they are."""
    allow, deny = _sides(allow_docids), _sides(deny_docids)
    sides = allow + deny
    spark_ids = [i for i, s in enumerate(sides) if isinstance(s, DataFrame)]
    got = None
    if spark_ids:
        union = None
        for i in spark_ids:
            f = sides[i].select("shard", "docID", F.lit(i).alias("_side"))
            union = f if union is None else union.unionByName(f)
        ranges = sorted({int(q) for q in seqs})
        got = union.filter(
            F.expr(f"docID div {int(block_size)}").isin(ranges)).toPandas()

    def rows(i):
        side = got[got["_side"] == i] if i in spark_ids else sides[i]
        return side[["shard", "docID"]]

    parts = []
    if allow:
        a = rows(0)
        for i in range(1, len(allow)):
            a = a.merge(rows(i), on=["shard", "docID"])
        parts.append(a.assign(allow=True))
    parts += [rows(i).assign(allow=False)
              for i in range(len(allow), len(sides))]
    return pd.concat(parts, ignore_index=True)


def top_k(hits: pd.DataFrame, k: int, group: str | None = None
          ) -> pd.DataFrame:
    """Exact top-k of driver-side hits under (score desc, docID asc), per
    `group` value when given (rows ordered by group first) — the driver
    twin of the Spark merges below."""
    keys = [group] if group else []
    ranked = hits.sort_values(keys + ["score", "docID"],
                              ascending=[True] * len(keys) + [False, True],
                              kind="stable")
    ranked = ranked.groupby(group).head(k) if group else ranked.head(k)
    return ranked.reset_index(drop=True)


def _run_shard_kernel(spark, blocks, kernel, schema, meta, allow=None,
                      deny=None, postings=None):
    """Run the kernel over the pruned `blocks` (prune_blocks' (scan, rows)
    pair), optionally restricted by the `allow`/`deny` docID sides (as in
    _restrict_df), and return the kernel rows with `schema`: a pandas frame
    on the driver path, a lazy DataFrame on the Spark path. `postings` is
    the request's posting estimate (postings_estimate); kernel_dispatch
    picks the path, and the estimate is appended to the request's kernel
    log (_kernel_log) when it has one.

    Every operator restricts here, WAND and the phrase matches alike: a
    restricted request calls `kernel(blocks, allow, deny)` with the sorted
    allow and deny docIDs (_mask_from_pdf; None for a side the request
    lacks), and the kernel masks its candidate docIDs before it scores or
    matches them; an unrestricted one calls `kernel(blocks)`. An empty
    driver allow side (an fq or MUST set no doc is in) admits no doc: no
    block is read, no kernel is logged, the result is empty.

    Driver path (small requests): the kernel is called ONCE, over every
    shard's block rows — the snapshot rows when there are any, else one
    collect of the scan — and one mask built from the restriction rows
    that fall in the blocks' aligned docID ranges (_mask_rows: no job when
    every side is a pandas frame, else one collect). The rows stay in the
    driver: callers merge them with numpy, and the public operators wrap
    their result as a local relation.

    Spark path: applyInPandas, once per shard (cogroup when restricted: a
    shard with blocks but no mask rows gets an empty mask, a shard with
    mask rows but no blocks no call), after an EXPLICIT hash repartition
    on shard, pinned to min(num_shards, default parallelism). Why: the
    pruned block rows for a query batch are tiny (KB-MB), so AQE's
    partition coalescing folds the pre-kernel shuffle into ONE partition
    and the shard kernels run serially — measured 2x batch latency at 32
    cores. A user-specified repartition count is exempt from AQE
    coalescing, and hashpartitioning(shard, P) already satisfies the
    kernel's required distribution, so no second shuffle appears. The
    kernel's cost is CPU (decode + score), not data size — parallelism
    should follow shard count, not shuffle bytes."""
    scan, rows = blocks
    if any(isinstance(s, pd.DataFrame) and s.empty for s in _sides(allow)):
        return empty_pdf(schema)
    allow_mode = bool(_sides(allow))
    restricted = allow_mode or bool(_sides(deny))
    if (log := _kernel_log.get()) is not None:
        log.append(postings)
    if kernel_dispatch(postings) == "driver":
        bl = scan().toPandas() if rows is None else rows
        mask = ()
        if restricted:
            mk = (_mask_rows(allow, deny, bl["block_seq"], meta.block_size)
                  if len(bl) else None)
            mask = _mask_from_pdf(mk, allow_mode)
        return kernel(bl, *mask)[struct_of(schema).names]
    n_parts = max(1, min(int(meta.num_shards),
                         spark.sparkContext.defaultParallelism))
    blocks = scan().repartition(n_parts, "shard")
    if not restricted:
        return blocks.groupBy("shard").applyInPandas(
            lambda bl: kernel(bl), schema=schema)
    restrict = _restrict_df(spark, allow, deny).repartition(n_parts, "shard")
    return blocks.groupBy("shard").cogroup(
        restrict.groupBy("shard")
    ).applyInPandas(
        lambda bl, mk: kernel(bl, *_mask_from_pdf(mk, allow_mode)),
        schema=schema)


MANY_SCHEMA = "qid string, docID long, score double"
WAND_SCHEMA = "docID long, score double"
# block columns the WAND kernels read
KERNEL_COLUMNS = ["shard", "term", "block_seq", "docids", "tfs", "doclens",
                  "max_tf", "min_dl"]


def wand_topk(spark: SparkSession, index_dir: str, query_terms: list[str],
              *args, **kwargs) -> DataFrame:
    """Block-max WAND top-k as a DataFrame(docID, score) ordered by (score
    desc, docID asc): _wand_topk over the batch of one `query_terms`,
    projected to (docID, score), a driver-side result wrapped as a local
    relation. Further arguments as _wand_topk (stats_out included)."""
    return as_frame(spark, _wand_topk(spark, index_dir, {"": query_terms},
                                      *args, **kwargs), WAND_SCHEMA)


def wand_topk_many(spark: SparkSession, *args, **kwargs) -> DataFrame:
    """Batched block-max WAND as a DataFrame(qid, docID, score): the
    arguments and result of _wand_topk, a driver-side result wrapped as a
    local relation."""
    return as_frame(spark, _wand_topk(spark, *args, **kwargs), MANY_SCHEMA)


def _wand_topk(
    spark: SparkSession,
    index_dir: str,
    queries: dict[str, list[str]],
    k: int = 60,
    field: str = "text",
    blocks_df: DataFrame | None = None,
    dictionary_df: DataFrame | None = None,
    dictionary_map: dict | None = None,
    meta=None,
    stats_out: dict | None = None,
    allow_docids: DataFrame | None = None,
    deny_docids: DataFrame | None = None,
):
    """Exact BM25 top-k of every query of `queries` ({qid: [terms...]}),
    answered in ONE distributed job: (qid, docID, score) rows, each qid's
    rows its exact top-k under (score desc, docID asc) — a pandas frame
    ordered by (qid, score desc, docID) when the shard kernels ran in the
    driver, else a lazy DataFrame. A single query is the batch of one.

    The number of queries that know at least one term picks the kernel and
    the merge (_merge_topk). One query runs the block-max WAND kernel
    (_shard_kernel). A batch runs the term-at-a-time kernel
    (_shard_kernel_many), which decodes each hot block once for every query
    that touches it, and on the Spark path the per-qid merge: per-job
    overhead (scheduling, Python worker round trip, shuffle setup) is paid
    once for the whole batch.

    allow_docids / deny_docids: optional (shard, docID) restriction — one
    frame, Spark or pandas, or a list of them (allow sides intersect, deny
    sides union) — cogrouped into the shard kernel. allow = pushed-down fq
    or MUST set (top-k is exact UNDER the filter — no candidate-pool recall
    loss); deny = tombstoned docs (cross-segment overwrites) or MUST_NOT
    set. See _shard_kernel.

    blocks_df / dictionary_df / meta: optional pre-loaded handles (a serving
    layer caches these once per index — repeated queries then skip file
    listing and footer reads); blocks_df may be a BlockSnapshot (see
    prune_blocks). dictionary_map, if given, is a driver-side
    {field: {term: df}} snapshot: idf is then computed WITHOUT any Spark job,
    leaving at most ONE job per request (the pruned block scan, none on a
    BlockSnapshot) — the hot serving path. stats_out, if given, receives
    'ranges_total' / 'ranges_visited' accumulators of the WAND kernel (one
    query only), valid AFTER the returned DataFrame is acted on — the
    measured WAND pruning saving."""
    from collections import Counter

    meta = meta or read_meta(index_dir)
    all_terms = sorted({t for ts in queries.values() for t in ts})
    dmap = {} if dictionary_map is None else dictionary_map.get(field, {})
    if dictionary_map is None and all_terms:
        # sum df across dictionary fragments: appended segments each add one
        # (the Lucene multi-segment term-dictionary merge)
        dictionary = (dictionary_df if dictionary_df is not None
                      else spark_reader(spark, index_dir, "dictionary"))
        rows = (
            dictionary.filter((F.col("field") == field)
                              & F.col("term").isin(all_terms))
            .groupBy("term").agg(F.sum("df").alias("df")).collect()
        )
        dmap = {r["term"]: int(r["df"]) for r in rows}
    idfs = {}
    for qid, terms in queries.items():
        m = {t: idf_lucene(meta.n_docs, dmap[t]) * n
             for t, n in Counter(terms).items() if t in dmap}
        if m:
            idfs[qid] = m
    if not idfs:
        return empty_pdf(MANY_SCHEMA)
    union_terms = sorted({t for m in idfs.values() for t in m})

    blocks = prune_blocks(spark, index_dir, blocks_df, field, union_terms,
                          KERNEL_COLUMNS)
    if len(idfs) == 1:
        (qid, idf), = idfs.items()
        acc_total = acc_visited = None
        if stats_out is not None:
            acc_total = spark.sparkContext.accumulator(0)
            acc_visited = spark.sparkContext.accumulator(0)
            stats_out["ranges_total"] = acc_total
            stats_out["ranges_visited"] = acc_visited
        wand = _shard_kernel(idf, k, meta.k1, meta.b, meta.avgdl,
                             meta.block_size, acc_total, acc_visited)

        def kernel(bl, allow=None, deny=None):
            return wand(bl, allow, deny).assign(qid=qid)
    else:
        kernel = _shard_kernel_many(idfs, k, meta.k1, meta.b, meta.avgdl)
    per_shard = _run_shard_kernel(
        spark, blocks, kernel, MANY_SCHEMA, meta, allow_docids, deny_docids,
        postings_estimate(dictionary_map, field, union_terms))
    return _merge_topk(per_shard, k, batch=len(idfs) > 1)


def _merge_topk(hits, k: int, batch: bool):
    """The final merge of ranked (qid, docID, score) rows into each qid's
    exact top-k under (score desc, docID asc), shared by the WAND and
    phrase bodies: driver rows go to top_k per qid; on Spark, one query
    goes to a TakeOrderedAndProject (orderBy + limit: bounded heap per
    partition + driver merge) and a batch to _merge_topk_per_qid."""
    if isinstance(hits, pd.DataFrame):
        return top_k(hits, k, group="qid")
    if not batch:
        return hits.orderBy(F.desc("score"), F.asc("docID")).limit(k)
    return _merge_topk_per_qid(hits, k)


def _merge_topk_per_qid(per_shard: DataFrame, k: int) -> DataFrame:
    """Global merge of the per-shard candidate rows (<= k per (qid, shard))
    into each qid's exact top-k under (score desc, docID asc) — the last
    barrier of the batched Spark path. A hash aggregate collects each
    qid's candidates into one array, sorted and sliced to k INSIDE the
    aggregate row (sort_array on a (-score, docID) struct), then exploded:
    per-qid sorts of tiny (<= shards*k) arrays instead of a partition-wide
    sort, with partial (map-side) aggregation of the collect. The rows
    come out in no particular order. A row_number window and a
    groupBy(qid).applyInPandas merge measured no better (960-query batch,
    20k-doc index, local[32]; BASELINE.md round-4 notes)."""
    merged = per_shard.groupBy("qid").agg(
        F.slice(
            F.sort_array(F.collect_list(
                F.struct((-F.col("score")).alias("_ns"), F.col("docID"),
                         F.col("score")))),
            1, k).alias("_top"))
    ex = merged.select("qid", F.explode("_top").alias("_e"))
    return ex.select("qid", F.col("_e.docID").alias("docID"),
                     F.col("_e.score").alias("score"))
