"""Query API facade — the analog of the reference's three request handlers
registered in solrconfig.xml (ref: README.md:108-132):

  /lireq    -> LireQueryEngine.search(...)        (LireRequestHandler)
  /lireId   -> LireQueryEngine.identity(...)      (IdentityRequestHandler)
  /lireSim  -> LireQueryEngine.similar(...)       (SimilarRequestHandler)
  lirefunc  -> LireQueryEngine.function_sort(...) (LireValueSource)

Each method returns a DataFrame. Every kernel-backed handler returns an
EXECUTED local relation, not a lazy plan: its ranked hits, a bounded top-k,
become driver rows at one point (_collect) whichever path its shard kernels
took (operators.wand.kernel_dispatch); pagination, the identity/similar
steps and the payload merge run in pandas, so the caller's collect() runs
no job. The non-kernel handlers (function_sort, random_sample) return a
lazy plan. The term-query handlers (search, search_many and the
multi-term rewrites) share one step, _serve: a single query is served as
the batch of one.

A small index is DRIVER-RESIDENT (see _open): its posting blocks, the
docstats payload and the tombstones are read into driver memory once per
open, and a request takes its block rows, masks and payload from there —
the Solr searcher holding its segments in-process. Such a request runs
no Spark job, an fq that misses the filter cache included (it filters a
local relation of the open commit's docstats rows, see _fq_allow); only
the returned local relation touches Spark. A larger index reads its
blocks, masks and payload through Spark jobs.
Per-request metrics are returned alongside via `last_metrics` — the analog
of RawDocsSearchTime / ReRankSearchTime in the reference's responses
(ref: LireRequestHandler.java:460-461,493-494); its dispatch path is
recorded by each shard kernel where the path is picked (_counted).
"""

from __future__ import annotations

import functools
import random
import time

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from liresolr_spark import DEFAULT_CANDIDATES, DEFAULT_ROWS, MAX_QUERY_TERMS
from liresolr_spark.frames import local_frame
from liresolr_spark.functions.codec import decode_blocks
from liresolr_spark.functions.tokenizer import py_hash_token, py_tokenize
from liresolr_spark.operators.wand import (BlockSnapshot, _kernel_log,
                                           _spark_side, _wand_topk,
                                           kernel_dispatch, top_k)
# unused here; perfbench's layer tracer hooks it by name as api.wand_topk
from liresolr_spark.operators.wand import wand_topk  # noqa: F401
from liresolr_spark.plans.build import load_tombstones, read_meta
from liresolr_spark.plans.filters import (artifact_side,
                                          load_filter_manifests,
                                          refresh_filter_artifacts)
from liresolr_spark.plans.local_write import (read_table, reader_schema,
                                              serving_table, spark_reader)


def _counted(fn):
    """Cumulative request statistics, the analog of the reference's
    per-handler numRequests / numErrors / totalTime counters
    (ref: LireRequestHandler.java:51-53, reported at :568-574). Timed span
    is the handler call: the whole execution for a kernel-backed handler
    (see the module docstring), plan construction for function_sort and
    random_sample. Also resets the request's `last_metrics`, sets the
    request's shard-kernel log (operators.wand._kernel_log: the posting
    estimate of every kernel it runs, appended where its path is picked)
    and fills in the keys every request has: RawDocsSearchTime_ms (the
    timed span) and its older name RawDocsSearchTime_planning_ms (same
    value), resident (the engine serves from a driver-resident snapshot,
    see _open), fq_tier (the tier that resolved the request's fq, see
    _fq_allow; None without an fq), dispatch and postings_est
    (_dispatch_metrics). Handlers add their own fields."""

    @functools.wraps(fn)
    def wrapper(self, *a, **kw):
        t0 = time.time()
        log = _kernel_log.set([])
        self.last_metrics = {}
        self.request_stats["numRequests"] += 1
        try:
            out = fn(self, *a, **kw)
        except Exception:
            self.request_stats["numErrors"] += 1
            raise
        finally:
            ms = (time.time() - t0) * 1000.0
            self.request_stats["totalTime_ms"] += ms
            kernels = _kernel_log.get()
            _kernel_log.reset(log)
        ms = round(ms, 1)
        self.last_metrics.update(
            RawDocsSearchTime_ms=ms, RawDocsSearchTime_planning_ms=ms,
            resident=self.resident,
            fq_tier=self.last_metrics.get("fq_tier"),
            **_dispatch_metrics(kernels))
        return out

    return wrapper


def _dispatch_metrics(kernels: list) -> dict:
    """last_metrics fields naming the path that served a request, from the
    posting estimates of the shard kernels it ran: dispatch = 'driver'
    when every kernel ran in the driver process, 'spark' when at least one
    ran as a pandas-UDF stage, None when no kernel ran; postings_est = the
    summed estimate (None when the dictionary is not pinned)."""
    if not kernels:
        return {"dispatch": None, "postings_est": 0}
    paths = {kernel_dispatch(p) for p in kernels}
    return {"dispatch": "spark" if "spark" in paths else "driver",
            "postings_est": None if None in kernels else sum(kernels)}


def _unpersist(sides) -> None:
    """Release the Spark-cached frames among fq sides or readers."""
    for side in sides:
        if isinstance(side, DataFrame) and side.is_cached:
            side.unpersist()


def _terms_containing(blocks: pd.DataFrame, doc_id: int) -> list[str]:
    """Terms of the (term, docids) block rows whose docID stream holds
    doc_id: one decode of every row, each hit mapped back to its row."""
    ids, _, _, counts = decode_blocks(blocks["docids"])
    rows = np.repeat(np.arange(len(counts)), counts)[ids == doc_id]
    return blocks["term"].to_numpy()[rows].tolist()


def _collect(hits, cache=()) -> pd.DataFrame:
    """Ranked operator rows as driver rows in response order ([qid,] score
    desc, docID asc). A lazy result (some shard kernel ran as a pandas-UDF
    stage) is a bounded top-k: it is collected, re-ordered — the batched
    Spark merge emits rows in no particular order — and the `cache`
    handles its plan read are released. Driver rows pass through."""
    if isinstance(hits, pd.DataFrame):
        return hits
    rows = hits.toPandas()
    for cached in cache:
        cached.unpersist()
    return top_k(rows, len(rows), group="qid" if "qid" in rows else None)


class LireQueryEngine:
    """Query interface over a built index directory."""

    # above this many dictionary entries the driver-side snapshot is not
    # pinned (a 10^8-term dictionary belongs on the cluster, not the driver)
    MAX_DRIVER_DICT_TERMS = 2_000_000
    # distinct fq strings whose allow-lists stay pinned (LRU): the
    # CachingWrapperFilter analog (ref: LireRequestHandler.java:547) — Solr
    # caches each filter query's bitset so repeated fq's skip the scan
    FQ_CACHE_SIZE = 32

    def __init__(self, spark: SparkSession, index_dir: str,
                 pin_blocks: bool = True):
        """pin_blocks: persist the blocks and docstats tables of an index
        that is not driver-resident (see _open) in the cluster cache
        (MEMORY_AND_DISK — Spark spills gracefully, the Lucene page-cache
        analog). Right for a serving deployment where the index fits
        aggregate cluster memory+disk; pass False for one-off queries
        against an index far larger than the cache. A driver-resident
        index caches nothing in Spark either way."""
        self.spark = spark
        self.index_dir = index_dir
        self.pin_blocks = pin_blocks
        self.last_metrics: dict = {}
        self.request_stats: dict = {
            "numRequests": 0, "numErrors": 0, "totalTime_ms": 0.0}
        from collections import OrderedDict

        # fq -> (allow, deny) pair; exactly one side non-None (see _fq_allow)
        self._fq_cache: OrderedDict[str, tuple] = OrderedDict()
        # response payload columns: docID + the stored fields (docstats' 1st 5)
        self._payload = StructType(reader_schema("docstats").fields[:5])
        self._open()

    def _open(self) -> None:
        """Open the serving state of the current commit (the Solr
        searcher-reuse analog): meta first (read_meta refuses a live
        compaction marker, so no torn state is read), the fresh filter
        artifacts, the Spark readers of blocks, docstats and the dictionary
        — given their files' schema (spark_reader), so building one runs
        no job, and each keeps this commit's file list until the next open
        — and the dictionary pinned driver-side (_pin_dictionary): idf for
        a query is then pure arithmetic.

        The index is DRIVER-RESIDENT when the dictionary is pinned and its
        total posting count (Σ df over every field) is within the kernel
        dispatch bound (operators.wand.DRIVER_MAX_POSTINGS). No request
        can then exceed it, so every shard kernel runs in the driver, and
        the posting blocks (wand.BlockSnapshot), every docstats column
        sorted by docID and the distinct tombstones, a pandas (shard,
        docID) frame, are read into driver memory with pyarrow, typed as
        the readers (serving_table). Such an open runs no Spark job, and
        neither does its fq miss, which filters a local relation of these
        rows (_snapshot_docstats, built at the first miss); only
        random_sample and function_sort scan the readers. Otherwise blocks
        and docstats are the readers (cached when pin_blocks), tombstones a
        cached frame."""
        self.meta = read_meta(self.index_dir)
        # persisted filter artifacts (plans/filters.py — the warmed tier
        # under the in-memory fq cache), indexed by predicate string for
        # transparent use by _fq_allow
        self._load_fresh_filters()
        blocks, self._docstats_df, self._dictionary = (
            spark_reader(self.spark, self.index_dir, a)
            for a in ("blocks", "docstats", "dictionary"))
        self._docs_rel = None
        self._dict_map = self._pin_dictionary()
        postings = (None if self._dict_map is None else
                    sum(sum(m.values()) for m in self._dict_map.values()))
        self.resident = kernel_dispatch(postings) == "driver"
        # tombstones: docs superseded by cross-segment overwrites — excluded
        # from RESULTS (kernel deny-list + docstats anti-join) while df/N
        # keep counting them until compaction, exactly Lucene's deleted-docs
        # statistics behavior (see streaming.ingest / plans.compact)
        if self.resident:
            self._blocks = BlockSnapshot(blocks, self.index_dir)
            self._docs = serving_table(
                self.index_dir, "docstats",
                reader_schema("docstats").names).sort_by("docID").to_pandas()
            deny = serving_table(self.index_dir, "tombstones",
                                 ["shard", "docID"]).to_pandas()
            self._deny = (deny.drop_duplicates(ignore_index=True)
                          if len(deny) else None)
            return
        self._blocks, self._docs = blocks, None
        if self.pin_blocks:
            self._blocks.cache()
            self._docstats_df.cache()
        tombs = load_tombstones(self.spark, self.index_dir)
        self._deny = (tombs.select("shard", "docID").distinct().cache()
                      if tombs is not None and tombs.head(1) else None)

    def _pin_dictionary(self) -> dict | None:
        """The dictionary as {field: {term: Σ df over its fragments}}, read
        with pyarrow, or None over MAX_DRIVER_DICT_TERMS (field, term)
        entries: idf is then a cluster lookup over the `_dictionary` reader,
        cached. The fragments' footer row counts bound the entry count, so
        only a sum over the cap takes the exact scalar Spark count."""
        cap = self.MAX_DRIVER_DICT_TERMS
        frags = read_table(f"{self.index_dir}/dictionary", [])  # footers
        if frags is not None and frags.num_rows > cap:
            merged = self._dictionary.groupBy("field", "term").agg(
                F.sum("df"))
            if merged.limit(cap + 1).count() > cap:
                self._dictionary.cache()
                return None
        tbl = serving_table(self.index_dir, "dictionary",
                            ["field", "term", "df"])
        merged = tbl.group_by(["field", "term"]).aggregate([("df", "sum")])
        dmap: dict = {}
        for field, term, df in zip(*(merged[c].to_pylist()
                                     for c in ("field", "term", "df_sum"))):
            dmap.setdefault(field, {})[term] = df
        return dmap

    def refresh(self, rebuild_filters: bool = False) -> None:
        """Reopen the index after a committed segment append (the Solr
        searcher-reopen analog): re-reads meta (n_docs/avgdl/num_shards),
        releases every Spark-cached reader, and rebuilds every serving
        cache through _open(), so df, idf and the block listing agree with
        the new commit — on a driver-resident index with no Spark job. A
        live engine that skips this serves the PREVIOUS snapshot
        consistently — caches are never half-refreshed.

        rebuild_filters=True additionally re-materializes every stale
        persisted filter artifact against the new commit BEFORE the caches
        rebuild (the Solr `newSearcher` warming listener): known filters
        are then warm for the first request instead of falling back to the
        docstats scan."""
        if rebuild_filters:
            refresh_filter_artifacts(self.spark, self.index_dir)
        self._drop_fq_cache()
        if not self.resident:
            _unpersist([self._deny, self._blocks, self._docstats_df,
                        self._dictionary])
        self._open()

    def _drop_fq_cache(self) -> None:
        """Unpersist and clear every cached fq (allow, deny) pair — the
        single eviction path shared by refresh() and reload_filters()."""
        for pair in self._fq_cache.values():
            _unpersist(pair)
        self._fq_cache.clear()

    def _load_fresh_filters(self) -> None:
        """(Re)index FRESH persisted-artifact manifests by predicate string
        — shared by _open() and reload_filters(); stale ones (index mutated
        since build) are ignored, never served."""
        self._filter_by_predicate = {
            m["predicate"]: m
            for m in load_filter_manifests(self.index_dir).values()
            if m["fresh"]}

    def reload_filters(self) -> int:
        """Re-scan persisted filter artifacts (plans/filters.py) without a
        full searcher reopen — manifests are tiny driver-side file reads,
        and the index itself is unchanged (artifact freshness is pinned to
        meta.json, which a filter build never touches). Drops the fq cache
        so predicates newly backed by an artifact re-resolve through it.
        Returns the number of FRESH artifacts now visible."""
        self._drop_fq_cache()
        self._load_fresh_filters()
        return len(self._filter_by_predicate)

    # -- internals ----------------------------------------------------------

    def _wand(self, queries, k, field, restriction) -> pd.DataFrame:
        """WAND top-k of every query of a {qid: terms} batch — or of one
        term list, the batch of one returned without its qid column —
        under `restriction` (_restriction), as driver rows in response
        order (_collect)."""
        allow, deny = restriction
        batch = queries if isinstance(queries, dict) else {"": queries}
        hits = _collect(_wand_topk(
            self.spark, self.index_dir, batch, k=k, field=field,
            blocks_df=self._blocks, dictionary_df=self._dictionary,
            dictionary_map=self._dict_map, meta=self.meta,
            allow_docids=allow, deny_docids=deny))
        return hits if batch is queries else hits.drop(columns="qid")

    def _phrases(self, texts, k, restriction, corpus) -> pd.DataFrame:
        """The phrase analog of _wand: exact phrase top-k of every phrase
        of a {qid: phrase} batch — or of one phrase, the batch of one
        returned without its qid column — under `restriction`
        (_restriction), as driver rows in response order (_collect).
        Matches scored in Spark are cached for the one collect (scores and
        phrase df both read them) and released right after it."""
        from liresolr_spark.operators.phrase import _phrase_topk

        allow, deny = restriction
        batch = texts if isinstance(texts, dict) else {"": texts}
        cache: list = []
        hits = _collect(_phrase_topk(
            self.spark, self.index_dir, corpus, batch, k=k,
            blocks_df=self._blocks, meta=self.meta, allow_docids=allow,
            deny_docids=deny, cache_out=cache,
            dictionary_map=self._dict_map), cache)
        return hits if batch is texts else hits.drop(columns="qid")

    def _docstats(self) -> DataFrame:
        if self._deny is None:
            return self._docstats_df
        return self._docstats_df.join(
            _spark_side(self.spark, self._deny).select("docID"), "docID",
            "left_anti")

    def _snapshot_docstats(self) -> DataFrame:
        """The live docstats rows of the commit a driver-resident engine
        opened — `_docs` minus the tombstoned docIDs, anti-joined on docID
        as _docstats() does — as a local relation typed as the docstats
        reader. Built at the first fq miss after an open, from the rows
        read at open, never from disk: the files may since have been
        merged away or renumbered by a compaction."""
        if self._docs_rel is None:
            docs = self._docs
            if self._deny is not None:
                docs = docs[~docs["docID"].isin(self._deny["docID"])]
            self._docs_rel = local_frame(self.spark, docs,
                                         reader_schema("docstats"))
        return self._docs_rel

    def _fq_allow(self, fq: str) -> tuple:
        """(allow, deny) docID restriction for an fq, cached per fq string —
        the CachingWrapperFilter analog (Solr computes a filter query's
        bitset once per searcher and reuses it,
        ref: LireRequestHandler.java:547). Without this, every repeated-fq
        search re-scanned the corpus-sized docstats table (the common
        dashboard pattern: same filter, many queries). LRU-bounded at
        FQ_CACHE_SIZE; `refresh()` drops the whole cache, since a new
        segment changes every allow-list (the searcher-reopen analog —
        Solr's filterCache is likewise per-searcher).

        Resolution order, exactly Solr's warming tiers, each named in the
        request's last_metrics["fq_tier"]:
        1. "cache": an in-memory cache hit (this searcher already computed
           it);
        2. "artifact": a FRESH persisted artifact whose predicate string
           matches (plans/filters.py): a parquet read, no corpus scan —
           allow-mode fills the allow side, deny-mode the deny side;
        3. compute from docstats (and cache): "snapshot" on a
           driver-resident engine, the fq filtered over a local relation
           of the docstats rows read at open (_snapshot_docstats) — Spark
           SQL's own semantics (LIKE, NULLs, ANSI errors) — or "spark", a
           scan of the docstats reader.
        Exactly one side of the returned tuple is non-None: a (shard,
        docID) pandas frame on a driver-resident engine, which resolves
        every tier with no Spark job (the artifact is read with pyarrow,
        the snapshot collect()ed, see frames.py) — else a cached Spark
        frame."""
        cached = self._fq_cache.get(fq)
        if cached is not None:
            self._fq_cache.move_to_end(fq)
            self.last_metrics["fq_tier"] = "cache"
            return cached
        art = self._filter_by_predicate.get(fq)
        if not self.resident:
            side = (self._docstats().filter(F.expr(fq)) if art is None
                    else artifact_side(self.spark, art["data_path"]))
            side = side.select("shard", "docID").cache()
        elif art is not None:
            side = read_table(art["data_path"], ["shard", "docID"]).to_pandas()
        else:
            side = pd.DataFrame(
                self._snapshot_docstats().filter(F.expr(fq))
                .select("shard", "docID").collect(),
                columns=["shard", "docID"]).astype(
                    {"shard": "int32", "docID": "int64"})
        self.last_metrics["fq_tier"] = (
            "artifact" if art is not None
            else "snapshot" if self.resident else "spark")
        allow = art is None or art["mode"] == "allow"
        pair = (side, None) if allow else (None, side)
        self._fq_cache[fq] = pair
        if len(self._fq_cache) > self.FQ_CACHE_SIZE:
            _unpersist(self._fq_cache.popitem(last=False)[1])
        return pair

    def _clause_terms(self, must, must_not, field):
        """(must_terms, not_terms) of the boolean clauses: strings are
        tokenized, lists are taken as tokens. On the hash-token field
        ('ha') the clause tokens are hashed like the query's own, so they
        match its postings."""
        must_terms = (py_tokenize(must) if isinstance(must, str)
                      else list(must or []))
        not_terms = (py_tokenize(must_not) if isinstance(must_not, str)
                     else list(must_not or []))
        if field == "ha":
            must_terms = [py_hash_token(t) for t in must_terms]
            not_terms = [py_hash_token(t) for t in not_terms]
        return must_terms, not_terms

    def _restriction(self, fq=None, must_terms=(), not_terms=(),
                     field="text"):
        """(allow, deny) docID restriction sides of a request, shared by
        every kernel-backed handler. The operators intersect the allow
        sides and union the deny sides inside the shard kernel's mask
        (operators.wand._restrict_df / _mask_rows), so the top-k is exact
        under the full restriction. deny always holds the tombstones; the
        fq filter resolves through the cached/warmed tiers (_fq_allow);
        boolean clauses (Lucene BooleanQuery semantics, the Solr
        +term/-term surface — MUST restricts AND scores, MUST_NOT excludes)
        resolve from posting lists only (operators/boolean.py): a driver
        pandas set when its kernel ran in the driver, else a lazy frame —
        the operators take either. Callers add must_terms to the scored
        term set (Occur.MUST scores)."""
        allow = []
        deny = [] if self._deny is None else [self._deny]
        if fq:
            fq_allow, fq_deny = self._fq_allow(fq)
            allow += [fq_allow] if fq_allow is not None else []
            deny += [fq_deny] if fq_deny is not None else []
        if must_terms or not_terms:
            from liresolr_spark.operators import boolean

            b_allow, b_deny = boolean._boolean_restriction(
                self.spark, self.index_dir, list(must_terms), list(not_terms),
                field=field, blocks_df=self._blocks, meta=self.meta,
                dictionary_map=self._dict_map)
            allow += [b_allow] if b_allow is not None else []
            deny += [b_deny] if b_deny is not None else []
        return allow, deny

    def _field_present(self, field: str) -> bool:
        """True iff the index carries any terms for `field` (e.g. an index
        built with with_hash_tokens=False has no 'ha' field)."""
        if self._dict_map is not None:
            return bool(self._dict_map.get(field))
        return bool(self._dictionary.filter(F.col("field") == field).head(1))

    def _check_clauses(self, terms: list[str]) -> list[str]:
        # ref: BooleanQuery.setMaxClauseCount(10000), SimilarRequestHandler.java:101
        if len(terms) > MAX_QUERY_TERMS:
            raise ValueError(
                f"too many query terms: {len(terms)} > {MAX_QUERY_TERMS}")
        return terms

    # -- response tail -----------------------------------------------------

    def _respond(self, hits: pd.DataFrame, start: int = 0,
                 rows: int | None = None) -> DataFrame:
        """The response for ranked driver rows (_collect) — (docID, score[,
        dist]) rows, or (qid, docID, score) for a batch — sliced to [start,
        start+rows) when rows is given (ref: LireRequestHandler.java:519-528).
        The page's payload is a docID lookup in the driver-resident
        docstats (no job), or else the request's last Spark job (a docID
        filter over docstats); it is merged in pandas and returned in the
        page's order as an Arrow local relation — an executed result whose
        collect() runs no job. The kernels applied the tombstone masks, so
        there is no anti-join. Columns: [qid,] docID, payload, score[,
        dist]."""
        end = None if rows is None else start + rows
        page = hits.iloc[start:end]
        lead = [StructField("qid", StringType())] if "qid" in page else []
        tail = [StructField(c, DoubleType()) for c in page.columns
                if c not in ("qid", "docID")]
        struct = StructType(lead + list(self._payload.fields) + tail)
        if len(page):
            ids = sorted({int(d) for d in page["docID"]})
            if self._docs is not None:
                payload = self._docs.loc[self._docs["docID"].isin(ids),
                                         self._payload.names]
            else:
                payload = (self._docstats_df.filter(F.col("docID").isin(ids))
                           .select(*self._payload.names).toPandas())
            page = page.merge(payload, on="docID")
        return local_frame(self.spark, page, struct)

    def _serve(self, queries, field, pool, fq=None, must_terms=(),
               not_terms=(), start=0, rows=None, fl_expr=None, **label
               ) -> DataFrame:
        """The one served term-query step behind search, search_many and
        the multi-term rewrites (prefix/wildcard/fuzzy, prefix_search_many):
        clause guard per query, the request's restriction (fq, MUST,
        MUST_NOT, tombstones; _restriction), the top-`pool` WAND hits of
        `queries` — a {qid: terms} batch, or one term list (_wand) —
        the response page [start, start+rows) (_respond), the fl_expr
        projection and the request's metrics (field, pool, `label`). No
        query term at all: no restriction, no kernel, an empty page."""
        batch = queries if isinstance(queries, dict) else {"": queries}
        for terms in batch.values():
            self._check_clauses(terms)
        restriction = ([], [])
        if any(batch.values()):
            restriction = self._restriction(fq, must_terms, not_terms, field)
        out = self._respond(self._wand(queries, pool, field, restriction),
                            start, rows)
        if fl_expr is not None:
            out = out.withColumn("fval", F.expr(fl_expr))
        self.last_metrics.update(field=field, pool=pool, **label)
        return out

    # -- /lireq analog ------------------------------------------------------

    @_counted
    def search(
        self,
        text: str | None = None,
        hashes: list[str] | None = None,
        doc_id: int | None = None,
        start: int = 0,
        rows: int = DEFAULT_ROWS,
        fq: str | None = None,
        candidates: int = DEFAULT_CANDIDATES,
        subsample: float | None = None,
        seed: int = 42,
        fl_expr: str | None = None,
        must: str | list[str] | None = None,
        must_not: str | list[str] | None = None,
    ) -> DataFrame:
        """Dispatch on query source, exactly like handleRequestBody
        (ref: LireRequestHandler.java:103-130):

        - text=...   : tokenize and search the lexical field ('url=' analog —
                       query feature computed from a supplied payload)
        - hashes=... : pre-computed hash tokens against the 'ha' field
                       (ref: handleHashSearch :379-424)
        - doc_id=... : query-by-example: fetch the indexed doc's content
                       hashes and search with them (ref: handleIdSearch
                       :141-197 — hashes re-generated from the payload, :180)
        - neither    : random sample (ref: handleRandomSearch :207-232)

        subsample: optional fraction of query terms kept (seeded), the
        reference's 50%-hash trade-off (ref: createQuery :576-592) — unlike
        the reference we default to NO subsampling because WAND makes the
        full query affordable; pass 0.5 to reproduce reference behavior.

        Two-phase shape: WAND gives top-`candidates`; exact re-rank then
        orders by the same exact score (our exact phase IS the BM25 score,
        so candidates=k suffices; the parameter exists for parity with the
        20000-candidate pool, LireRequestHandler.java:59).

        must / must_not: boolean clauses (Lucene BooleanQuery
        Occur.MUST / Occur.MUST_NOT; the Solr +term/-term surface): MUST
        terms restrict the candidate set AND contribute score, MUST_NOT
        terms exclude. Strings are tokenized; lists are taken as tokens.
        Resolved from posting lists only (operators/boolean.py) and pushed
        into the shard kernel as docID masks — exact top-k under the full
        restriction, composing with fq.

        fl_expr: optional SQL expression over the projected columns (repo,
        path, commit, lang, score), returned as an extra `fval` column —
        the `fl=lirefunc(...)` projection analog (ref: README.md:204-212,
        LireValueSource.java:85-109: the function value is usable in the
        field list, not just the sort). E.g.
        fl_expr="url_encode(concat(repo, '/', path))" reproduces the
        reference's URL-encoded title field (ParallelSolrIndexer.java:456).
        """
        field = "text"
        if (must or must_not) and text is None and hashes is None:
            # the boolean-clause block runs only on the term-scored
            # dispatches; silently dropping clauses on the by-example /
            # random paths would return unfiltered results
            raise ValueError(
                "must/must_not require a text= or hashes= query "
                "(use text='' for a MUST-only query)")
        if hashes is not None:
            field, terms = "ha", list(hashes)
        elif text is not None:
            terms = py_tokenize(text)
        elif doc_id is not None:
            return self._search_by_example(doc_id, start, rows)
        else:
            return self._random_sample(rows, seed)
        self._check_clauses(terms)
        if subsample is not None and terms:
            rng = random.Random(seed)  # seeded, unlike ref Collections.shuffle
            keep = max(5, int(len(terms) * subsample))
            terms = rng.sample(terms, min(keep, len(terms)))
        pool = max(start + rows, min(candidates, DEFAULT_CANDIDATES))
        # fq is PUSHED DOWN into the shard kernel as a docID allow-list
        # (cogrouped per shard), so the top-`pool` is exact UNDER the filter
        # — a selective fq can no longer silently lose matches that fell
        # outside an unfiltered candidate pool (round-2 verdict fix). The
        # allow-list is proportional to fq selectivity; Lucene's analog is
        # the filter bitset ANDed into the collector. Cached per fq string
        # (see _fq_allow), so repeated filters skip the docstats scan.
        # Boolean clauses compose with fq through the same mask seam.
        must_terms, not_terms = self._clause_terms(must, must_not, field)
        # MUST clauses also score (Lucene Occur.MUST)
        terms = terms + must_terms
        return self._serve(terms, field, pool, fq, must_terms, not_terms,
                           start, rows, fl_expr, n_terms=len(terms))

    @_counted
    def search_many(self, texts: dict[str, str], rows: int = DEFAULT_ROWS,
                    field: str = "text", fq: str | None = None,
                    must: str | list[str] | None = None,
                    must_not: str | list[str] | None = None) -> DataFrame:
        """Batched search: ALL queries in ONE distributed job (the serving-
        throughput path — per-job overhead amortizes across the batch, and
        the kernel decodes each hot posting block once per shard regardless
        of how many queries touch it). texts: {query_id: query_text}.
        Returns DataFrame(qid, docID, repo, path, commit, lang, score) with
        each qid's exact top-`rows` — rank-identical to per-query search().

        fq / must / must_not: ONE restriction applied to the whole batch
        (the dashboard pattern: same filter, many queries) — resolved
        through the same cached/warmed tiers and posting-derived boolean
        masks as search() and pushed into the batched kernel as shared
        docID masks, so every qid's top-k is exact under the restriction.
        MUST terms also score, appended to every query's term set (Lucene
        Occur.MUST), exactly as search() does per query."""
        must_terms, not_terms = self._clause_terms(must, must_not, field)
        queries = {}
        for qid, text in texts.items():
            terms = py_tokenize(text)
            if field == "ha":
                terms = [py_hash_token(t) for t in terms]
            queries[qid] = terms + must_terms
        return self._serve(queries, field, rows, fq, must_terms, not_terms,
                           n_queries=len(queries))

    @_counted
    def prefix_search_many(self, prefixes: dict[str, str],
                           rows: int = DEFAULT_ROWS, field: str = "text",
                           fq: str | None = None,
                           max_expansions: int | None = None) -> DataFrame:
        """Batched prefix serving: every prefix expanded against the pinned
        dictionary (or one pruned aggregate each), then ALL rewritten
        queries answered in one batched WAND job — rank-identical per qid
        to prefix_search(). A prefix with no expansion simply contributes
        no rows for its qid (same contract as an unknown-term query in
        search_many). fq applies to the whole batch."""
        from liresolr_spark.operators.multiterm import expand_prefix

        cap = self._expansion_cap(max_expansions)
        queries = {}
        for qid, prefix in prefixes.items():
            terms = expand_prefix(
                self.spark, self.index_dir, prefix, field=field,
                max_expansions=cap, dictionary_df=self._dictionary,
                dictionary_map=self._dict_map)
            if terms:
                queries[qid] = terms
        return self._serve(queries, field, rows, fq, n_queries=len(prefixes),
                           n_expanded=len(queries))

    def _search_by_example(self, doc_id: int, start: int, rows: int) -> DataFrame:
        """Query-by-example: point-lookup the doc, re-generate its hash tokens
        from the payload (recompute-vs-store, ref: LireRequestHandler.java:179-180),
        search the ha field, excluding the example itself.

        The doc's terms come from its shard's 'ha' blocks whose
        [first_docid, last_docid] range covers it — the Lucene "fetch
        doc's terms" analog: taken from the driver-resident snapshot and
        probed in-process, or else partition- and row-group-pruned and
        probed in a mapInPandas stage."""
        if self._docs is not None:
            docs = self._docs[self._docs["docID"] == doc_id]
            if not len(docs) or (self._deny is not None and (
                    self._deny["docID"] == doc_id).any()):
                raise KeyError(f"docID {doc_id} not in index")
            hit_terms = _terms_containing(self._blocks.covering(
                int(docs["shard"].iloc[0]), "ha", doc_id), doc_id)
        else:
            hit_terms = self._example_terms(doc_id)
        hits = self._wand(hit_terms, start + rows + 1, "ha",
                          self._restriction())
        self.last_metrics.update(field="ha", n_terms=len(hit_terms),
                                 doc_id=doc_id)
        return self._respond(hits[hits["docID"] != doc_id], start, rows)

    def _example_terms(self, doc_id: int) -> list[str]:
        """_search_by_example's term lookup through Spark: a docstats point
        lookup for the doc's shard (one collect of the filtered shard
        column: a docID is unique among live docs, and `first()` would
        scan the partitions a few at a time), then a distributed probe
        that decodes only that shard's 'ha' blocks (partition pruned)
        whose range covers the doc (row-group stat pruned)."""
        shards = self._docstats().filter(
            F.col("docID") == doc_id).select("shard").collect()
        if not shards:
            raise KeyError(f"docID {doc_id} not in index")
        from liresolr_spark.ship import ship_package

        ship_package(self.spark)
        blocks = spark_reader(self.spark, self.index_dir, "blocks").filter(
            (F.col("shard") == int(shards[0]["shard"]))
            & (F.col("field") == "ha")
            & (F.col("first_docid") <= doc_id) & (F.col("last_docid") >= doc_id)
        )

        def find_terms(batches):
            for pdf in batches:
                yield pd.DataFrame({"term": _terms_containing(pdf, doc_id)})

        return [r["term"] for r in blocks.select("term", "docids")
                .mapInPandas(find_terms, schema="term string").collect()]

    @_counted
    def prefix_search(
        self,
        prefix: str,
        start: int = 0,
        rows: int = DEFAULT_ROWS,
        fq: str | None = None,
        field: str = "text",
        max_expansions: int | None = None,
        fl_expr: str | None = None,
    ) -> DataFrame:
        """Wildcard/prefix query (`prefix*`): the MultiTermQuery
        scoring-boolean rewrite (operators/multiterm.py) served through the
        same pipeline as search() — fq pushdown, pagination, projection.

        Expansion resolves against the driver-pinned dictionary snapshot
        when present (NO Spark job — string-prefix scan of the pinned map),
        else one pruned dictionary aggregate; either way the expanded term
        set is bounded by max_expansions (df DESC, term ASC — deterministic
        under the cap) and then subject to the same MAX_QUERY_TERMS clause
        guard as every query (ref: BooleanQuery.setMaxClauseCount,
        SimilarRequestHandler.java:101)."""
        from liresolr_spark.operators.multiterm import expand_prefix

        terms = expand_prefix(
            self.spark, self.index_dir, prefix, field=field,
            max_expansions=self._expansion_cap(max_expansions),
            dictionary_df=self._dictionary, dictionary_map=self._dict_map)
        return self._serve(terms, field, start + rows, fq, start=start,
                           rows=rows, fl_expr=fl_expr, n_terms=len(terms),
                           prefix=prefix)

    @_counted
    def wildcard_search(
        self,
        pattern: str,
        start: int = 0,
        rows: int = DEFAULT_ROWS,
        fq: str | None = None,
        field: str = "text",
        max_expansions: int | None = None,
        fl_expr: str | None = None,
    ) -> DataFrame:
        """General wildcard query (`te?t`, `fe1a*2b`, `read*`): Lucene
        MultiTermQuery rewrite with `?`/`*` metacharacters
        (operators/multiterm.expand_wildcard — leading wildcard rejected,
        Solr's allowLeadingWildcard=false default) served through the same
        pipeline as prefix_search(): capped deterministic expansion, WAND
        scoring with qtf=1 per expanded term, fq pushdown, pagination,
        projection. Resolves against the driver-pinned dictionary when
        present (no Spark job for the expansion)."""
        from liresolr_spark.operators.multiterm import expand_wildcard

        terms = expand_wildcard(
            self.spark, self.index_dir, pattern, field=field,
            max_expansions=self._expansion_cap(max_expansions),
            dictionary_df=self._dictionary, dictionary_map=self._dict_map)
        return self._serve(terms, field, start + rows, fq, start=start,
                           rows=rows, fl_expr=fl_expr, n_terms=len(terms),
                           pattern=pattern)

    @_counted
    def fuzzy_search(
        self,
        term: str,
        max_edits: int = 1,
        prefix_length: int = 0,
        start: int = 0,
        rows: int = DEFAULT_ROWS,
        fq: str | None = None,
        field: str = "text",
        max_expansions: int | None = None,
        fl_expr: str | None = None,
    ) -> DataFrame:
        """Fuzzy term query (Lucene `term~1` / `term~2` syntax): enumerate
        dictionary terms within `max_edits` plain-Levenshtein edits
        (operators/multiterm.expand_fuzzy — banded DP on the pinned
        dictionary, threshold `levenshtein()` pushdown on the Spark path),
        then serve the capped expansion through the same pipeline as
        prefix/wildcard_search: WAND scoring with qtf=1 per expanded term,
        fq pushdown, pagination, projection."""
        from liresolr_spark.operators.multiterm import expand_fuzzy

        terms = expand_fuzzy(
            self.spark, self.index_dir, term, max_edits=max_edits,
            prefix_length=prefix_length, field=field,
            max_expansions=self._expansion_cap(max_expansions),
            dictionary_df=self._dictionary, dictionary_map=self._dict_map)
        return self._serve(terms, field, start + rows, fq, start=start,
                           rows=rows, fl_expr=fl_expr, n_terms=len(terms),
                           term=term, max_edits=max_edits)

    @staticmethod
    def _expansion_cap(max_expansions: int | None) -> int:
        from liresolr_spark.operators.multiterm import DEFAULT_MAX_EXPANSIONS

        return (DEFAULT_MAX_EXPANSIONS if max_expansions is None
                else max_expansions)

    @_counted
    def phrase_search(
        self,
        text: str,
        start: int = 0,
        rows: int = DEFAULT_ROWS,
        fq: str | None = None,
        corpus: DataFrame | None = None,
    ) -> DataFrame:
        """Exact phrase query (Solr `"..."` syntax) served through the same
        pipeline as search() — fq pushdown, pagination, projection — as the
        batch of one of the phrase step (_phrases).

        On a positional index (build_index(with_positions=True)) the phrase
        is answered entirely from the posting blocks (Lucene PhraseQuery
        semantics, operators/phrase.py); otherwise the two-stage verify
        path runs and needs `corpus` (the index stores sha256, not
        content): without it the request raises. The fq and the
        tombstones restrict the match kernel's docIDs, so the phrase df
        counts only the docs the request can return."""
        positional = getattr(self.meta, "with_positions", False)
        hits = self._phrases(text, start + rows, self._restriction(fq),
                             corpus)
        self.last_metrics.update(
            field="text", phrase=text,
            path="positions" if positional else "verify")
        return self._respond(hits, start, rows)

    @_counted
    def phrase_search_many(self, texts: dict[str, str],
                           rows: int = DEFAULT_ROWS,
                           corpus: DataFrame | None = None) -> DataFrame:
        """Batched phrase serving through the phrase step (_phrases): ALL
        phrases in ONE distributed job — on a positional index the union
        of the phrases' terms is scanned and decoded once per shard (the
        search_many amortization). Returns DataFrame(qid, docID, repo,
        path, commit, lang, score), each qid's exact top-`rows`,
        rank-identical to per-phrase phrase_search(); the tombstones
        restrict the match kernel's docIDs.

        On a POSITIONLESS index the batch runs the two-stage verify path
        per phrase (needs `corpus` — the index stores sha256, not content;
        a non-empty batch without it raises), unioned under one merge:
        results stay rank-identical to phrase_search, but the per-shard
        decode is NOT shared across phrases, so throughput is the
        single-query rate times parallel subtree overlap — build with
        with_positions=True for the batched fast path."""
        hits = self._phrases(texts, rows, self._restriction(), corpus)
        self.last_metrics.update(field="text", n_queries=len(texts),
                                 pool=rows)
        return self._respond(hits)

    # -- /lireId analog -----------------------------------------------------

    @_counted
    def identity(
        self, text: str, threshold: float,
        verify_threshold: float | None = None,
        candidates: int = 25000, rows: int = DEFAULT_ROWS,
    ) -> DataFrame:
        """Near-identity check, the reference's DUAL-FEATURE TWO-PHASE
        cascade (ref: IdentityRequestHandler.java:116-133,230-261: a cheap
        CL-feature pass under one threshold, then SURF verification under a
        second): phase 1 retrieves candidates on the cheap HASH-TOKEN field
        and keeps those under `threshold`; phase 2 (if `verify_threshold`
        is set) re-scores the survivors on the exact lexical field and
        ANTI-FILTERS those at or above it (SURVEY P4 predicate + P5
        anti-predicate). Our distance is 1/(1+BM25) mapped to (0,1] so
        lower = closer, like LIRE distances; ordering is by the verify
        distance when present, else the phase-1 distance.

        Threshold scale note: since round 2, phase 1 runs on the 'ha'
        HASH-TOKEN field (the cheap-feature analog), not the lexical field —
        hash collisions fold distinct tokens together, so a threshold
        calibrated on text-field scores should be re-calibrated. On an index
        built with with_hash_tokens=False the engine falls back to the
        lexical field for phase 1 (instead of silently matching nothing)."""
        terms = py_tokenize(text)
        # phase 1: cheap candidate pass on the hash field; an index without
        # hash tokens degrades to the lexical field (documented fallback)
        if self._field_present("ha"):
            phase1 = ("ha", [py_hash_token(t) for t in terms])
        else:
            phase1 = ("text", terms)
        restriction = self._restriction()
        cand = self._wand(phase1[1], candidates, phase1[0], restriction)
        self.last_metrics.update(n_terms=len(terms))
        passed = cand.assign(dist=1.0 / (1.0 + cand["score"]))
        passed = passed[passed["dist"] < threshold]
        if verify_threshold is not None:
            # phase 2: exact verification on the lexical field, restricted
            # to the phase-1 survivors; the anti-predicate then drops those
            # failing the second threshold
            verify = self._wand(terms, candidates, "text", restriction)
            passed = passed[["docID"]].merge(verify, on="docID")
            passed = passed.assign(dist=1.0 / (1.0 + passed["score"]))
            passed = passed[passed["dist"] < verify_threshold]
        return self._respond(passed.sort_values(
            ["dist", "docID"], kind="stable")[["docID", "score", "dist"]],
            0, rows)

    # -- /lireSim analog ----------------------------------------------------

    @_counted
    def similar(
        self, text: str, rows: int = 30,
        pool_text: int = 25000, pool_ha: int = 30,
    ) -> DataFrame:
        """Dual-field candidate retrieval merged into one re-rank pool
        (ref: SimilarRequestHandler.java:154-205 — CL candidates + SURF
        visual-word candidates, union, dedupe, bounded re-rank): here the
        lexical field and the hash-token field each contribute candidates;
        union + dropDuplicates + re-rank by combined score (SURVEY U1/J4)."""
        terms = py_tokenize(text)
        ha_terms = [py_hash_token(t) for t in terms]
        restriction = self._restriction()
        c1 = self._wand(terms, pool_text, "text", restriction)
        c2 = self._wand(ha_terms, pool_ha, "ha", restriction)
        self.last_metrics.update(n_terms=len(terms))
        pool = pd.concat([c1, c2]).groupby(
            "docID", as_index=False)["score"].max()
        return self._respond(top_k(pool, rows))

    # -- lirefunc analog ----------------------------------------------------

    @_counted
    def function_sort(self, expr: str, rows: int = DEFAULT_ROWS,
                      ascending: bool = True,
                      default: float | None = None) -> DataFrame:
        """Sort the whole corpus by a per-doc scalar expression — the
        `sort=lirefunc(...)` path (ref: README.md:204-212,
        LireValueSource.java:85-109). expr is a SQL expression over docstats
        columns (docID, repo, path, commit, lang, doclen, sha256).

        default: degrade value substituted when the expression evaluates
        NULL for a doc (missing payload) — the reference returns a constant
        maxDistance when a doc has no stored feature instead of erroring or
        dropping the doc (ref: LireValueSource.java:111-134). With
        default=None, NULL fvals sort last (Spark's NULLS LAST under ASC),
        i.e. the 'infinitely far' convention."""
        stats = self._docstats()
        val = F.expr(expr)
        if default is not None:
            val = F.coalesce(val, F.lit(default))
        ordered = stats.withColumn("fval", val).orderBy(
            F.asc("fval") if ascending else F.desc("fval"), F.asc("docID"))
        return ordered.select("docID", "repo", "path", "fval").limit(rows)

    # -- random (ref: handleRandomSearch) ------------------------------------

    @_counted
    def random_sample(self, rows: int, seed: int = 42) -> DataFrame:
        """Seeded random docs (ref: LireRequestHandler.java:207-232 uses
        Math.random(); we hash with a seed for reproducibility)."""
        return self._random_sample(rows, seed)

    def _random_sample(self, rows: int, seed: int) -> DataFrame:
        """random_sample's body, also search()'s no-query dispatch: one
        counted request either way."""
        stats = self._docstats()
        return (
            stats.withColumn(
                "score",
                F.xxhash64(F.col("docID"), F.lit(seed)).cast("double"))
            .orderBy("score").select("docID", "repo", "path", "commit", "lang",
                                     F.lit(0.0).alias("score"))
            .limit(rows)
        )
