"""Exact phrase query over the block index (positional or two-stage verify).

Lucene answers PhraseQuery from term POSITIONS stored in the postings
(.pos file). This engine supports both layouts:

- **Positional index** (`build_index(with_positions=True)`): blocks carry a
  4th stream — per posting, the doc's token positions delta-gapped +
  varint'd. A phrase query is then answered ENTIRELY inside the index: per
  shard, decode the phrase terms' postings + positions, intersect docIDs,
  and count sliding matches by intersecting (doc, position - offset) key
  sets across the terms — one term-pruned block scan, no corpus access,
  no shuffle of postings. tf = Lucene's phrase frequency (every match
  position counts, including self-overlapping ones).

- **Positionless index** (the default; per-doc payload is the content
  sha256, the north-rule invariant): the classic two-stage plan —
  1. CANDIDATES: docs containing ALL phrase terms, per-shard posting-list
     intersection (same kernel dispatch as WAND);
  2. VERIFY + SCORE candidates only: join back to the corpus by natural
     key (content pinned to the indexed sha256) and count the phrase in
     the re-tokenized content with built-in string expressions.
  The string kernel counts NON-OVERLAPPING occurrences left-to-right
  (`length - length(replace(...))`) — identical in Spark and the DuckDB
  oracle; it differs from the positional/Lucene count only for
  self-overlapping phrases ("a a" in "a a a": 1 here, 2 positionally) — a
  documented deviation taken so the verify path stays a pure
  SQL-expressible function.

Every doc containing the phrase contains all its terms, so the candidate
set is a strict superset and BOTH paths are exact — including the phrase
df (count of matching docs), which makes the scores identical to an
index-free recompute (gated by the q18/w04/w05 DuckDB oracles).

Scoring: the phrase is ONE BM25 clause whose tf is the phrase frequency
(PhraseQuery feeding the standard similarity).

Scale shape: the positional path reads only the phrase terms' posting
blocks — the right physical plan at any corpus size (positions cost the
usual Lucene premium at index time: the full token stream shuffles into
the postings aggregate instead of a map-side-combined count). The verify
path additionally scans docstats + corpus restricted to the candidate set;
the candidate side is NOT force-broadcast (a stop-word phrase's candidates
are as big as its rarest term's postings — the optimizer decides by size).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from liresolr_spark.functions.codec import decode_block, decode_positions
from liresolr_spark.functions.tokenizer import py_tokenize, tokenize_expr
from liresolr_spark.operators.wand import (_in_sorted, _run_shard_kernel,
                                           postings_estimate)
from liresolr_spark.plans.build import NATURAL_KEY, read_meta


def _pre_intersect_blocks(bl: pd.DataFrame, n_required: int
                          ) -> pd.DataFrame | None:
    """Block-range pre-intersection (the block-max-WAND flavored saving):
    blocks are ALIGNED docID ranges, so an AND hit can only live in a
    block_seq present for EVERY term — decode nothing outside that range
    set. A rare+hot phrase then decodes only the hot term's blocks that
    overlap the rare term's, not its full posting list. Returns the pruned
    frame sorted by block_seq, or None if the shard can't match."""
    if len(bl) == 0 or bl["term"].nunique() < n_required:
        return None
    seq_sets = [set(g["block_seq"]) for _, g in bl.groupby("term", sort=False)]
    live = set.intersection(*seq_sets)
    if not live:
        return None
    return bl[bl["block_seq"].isin(live)].sort_values("block_seq",
                                                      kind="stable")


def conjunctive_docids(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    field: str = "text",
    blocks_df: DataFrame | None = None,
    meta=None,
    dictionary_map: dict | None = None,
) -> DataFrame:
    """DataFrame(shard, docID) of docs whose `field` contains EVERY term —
    the boolean-AND candidate set, from posting-list intersection.
    dictionary_map: the driver-side {field: {term: df}} snapshot; it sizes
    the request for the kernel dispatch (operators.wand._run_shard_kernel).

    Per shard (one Arrow batch, same dispatch as the WAND kernel): decode
    each term's docID stream (blocks are docID-sorted and block_seq-ordered,
    so per-term concatenation is already sorted), then intersect smallest
    list first so the working set only shrinks. A term absent from a shard
    empties that shard; absent from every shard -> empty result."""
    uniq = sorted(set(terms))
    if not uniq:
        return spark.createDataFrame([], "shard int, docID long")
    meta = meta or read_meta(index_dir)
    src = (blocks_df if blocks_df is not None
           else spark.read.parquet(f"{index_dir}/blocks"))
    blocks = src.filter(
        (F.col("field") == field) & F.col("term").isin(uniq)
    ).select("shard", "term", "block_seq", "docids")
    n_required = len(uniq)

    def kernel(bl: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"shard": pd.Series(dtype="int32"),
                              "docID": pd.Series(dtype="int64")})
        bl = _pre_intersect_blocks(bl, n_required)
        if bl is None:
            return empty
        shard = int(bl["shard"].iloc[0])
        per_term = []
        for _, grp in bl.groupby("term", sort=False):
            ids = np.concatenate([
                decode_block(bytes(d), b"", b"")[0].astype(np.int64)
                for d in grp["docids"].values])
            per_term.append(ids)
        per_term.sort(key=len)
        cur = per_term[0]
        for ids in per_term[1:]:
            if not len(cur):
                return empty
            # both sides sorted & unique (docIDs unique within a term)
            cur = np.intersect1d(cur, ids, assume_unique=True)
        if not len(cur):
            return empty
        return pd.DataFrame({"shard": np.full(len(cur), shard, dtype="int32"),
                             "docID": cur})

    return _run_shard_kernel(
        spark, blocks, kernel, "shard int, docID long", meta,
        postings=postings_estimate(dictionary_map, field, uniq))


def _decode_term_postings(bl: pd.DataFrame) -> dict:
    """{term: (docIDs, doclens, tfs, flat_positions)} for one shard's block
    rows — block streams concatenate in block_seq order, so every stream
    stays docID-sorted."""
    per = {}
    for term, grp in bl.groupby("term", sort=False):
        ids_l, dls_l, tfs_l, flat_l = [], [], [], []
        for d, t, ln, pz in zip(grp["docids"], grp["tfs"],
                                grp["doclens"], grp["positions"]):
            ids, tfs, dls = decode_block(bytes(d), bytes(t), bytes(ln))
            flat, _ = decode_positions(bytes(pz), tfs)
            if len(flat) != int(tfs.sum()):
                raise ValueError(
                    "positions stream inconsistent with tfs — index "
                    "corrupt or built without positions")
            ids_l.append(ids.astype(np.int64))
            dls_l.append(dls.astype(np.int64))
            tfs_l.append(tfs.astype(np.int64))
            flat_l.append(flat.astype(np.int64))
        per[term] = (
            np.concatenate(ids_l), np.concatenate(dls_l),
            np.concatenate(tfs_l), np.concatenate(flat_l))
    return per


def _sliding_match(per: dict, seq: list[str]):
    """SLIDING phrase matches against decoded per-term postings: returns
    (docIDs, tf, doclen) numpy arrays, or None when nothing matches.

    docID AND across the unique terms (smallest posting list first), then
    per sequence slot i intersect (doc_rank << 32) | (pos - i) key sets —
    the vectorized ExactPhraseMatcher advance loop; tf counts every match
    position (self-overlapping included); doc_rank (dense index into the
    candidate array) keeps the composite key inside int64 regardless of
    global docID width."""
    uniq = sorted(set(seq))
    if any(t not in per for t in uniq):
        return None
    ordered = sorted(uniq, key=lambda t: len(per[t][0]))
    cand = per[ordered[0]][0]
    for t in ordered[1:]:
        if not len(cand):
            return None
        cand = np.intersect1d(cand, per[t][0], assume_unique=True)
    if not len(cand):
        return None

    running = None
    for i, t in enumerate(seq):
        ids, _, tfs, flat = per[t]
        sel = np.flatnonzero(_in_sorted(ids, cand))
        lens = tfs[sel]
        offs = np.concatenate(([0], np.cumsum(tfs)))[sel]
        total = int(lens.sum())
        out_starts = np.concatenate(([0], np.cumsum(lens)[:-1])) \
            if len(lens) else np.array([], dtype=np.int64)
        gidx = (np.repeat(offs - out_starts, lens)
                + np.arange(total)) if total else \
            np.array([], dtype=np.int64)
        pos = flat[gidx] - i
        ranks = np.searchsorted(cand, ids[sel])
        valid = pos >= 0  # a slot-i term before position i can't match
        keys = ((np.repeat(ranks, lens)[valid] << np.int64(32))
                | pos[valid])
        # already sorted: ranks are non-decreasing (ids sorted), and
        # within a doc a term has ONE posting with ascending positions
        running = keys if running is None else \
            np.intersect1d(running, keys, assume_unique=True)
        if not len(running):
            return None

    doc_rank = (running >> np.int64(32)).astype(np.int64)
    tf = np.bincount(doc_rank, minlength=len(cand))
    hit = np.flatnonzero(tf)
    # doclen per doc from any term's postings (denormalized in-block)
    ids0, dls0, _, _ = per[ordered[0]]
    dl_map_idx = np.searchsorted(ids0, cand[hit])
    return (cand[hit], tf[hit].astype(np.int64),
            dls0[dl_map_idx].astype(np.int64))


def positional_matches(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    field: str = "text",
    blocks_df: DataFrame | None = None,
    meta=None,
    dictionary_map: dict | None = None,
) -> DataFrame:
    """DataFrame(shard, docID, tf, doclen) of SLIDING phrase matches,
    answered entirely from the positional index (no corpus access).

    Per shard: decode the phrase terms' postings + position streams, AND
    the docIDs, then intersect (doc, position - i) key sets across the
    sequence — the vectorized form of Lucene's ExactPhraseMatcher advance
    loop. tf counts every match position (self-overlapping included). All
    numpy: the per-doc loop Lucene runs is replaced by one sorted-array
    intersection per phrase term over composite int64 keys."""
    if not terms:
        return spark.createDataFrame(
            [], "shard int, docID long, tf long, doclen long")
    meta = meta or read_meta(index_dir)
    if not getattr(meta, "with_positions", False):
        raise ValueError(
            f"index {index_dir} was built with_positions=False — the "
            "positional phrase path needs the positions stream; use the "
            "corpus-verify path (phrase_topk mode='verify') or rebuild")
    uniq = sorted(set(terms))
    src = (blocks_df if blocks_df is not None
           else spark.read.parquet(f"{index_dir}/blocks"))
    blocks = src.filter(
        (F.col("field") == field) & F.col("term").isin(uniq)
    ).select("shard", "term", "block_seq", "docids", "tfs", "doclens",
             "positions")
    n_required = len(uniq)
    seq = list(terms)

    def kernel(bl: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({
            "shard": pd.Series(dtype="int32"),
            "docID": pd.Series(dtype="int64"),
            "tf": pd.Series(dtype="int64"),
            "doclen": pd.Series(dtype="int64")})
        bl = _pre_intersect_blocks(bl, n_required)
        if bl is None:
            return empty
        shard = int(bl["shard"].iloc[0])
        m = _sliding_match(_decode_term_postings(bl), seq)
        if m is None:
            return empty
        ids, tf, dls = m
        return pd.DataFrame({
            "shard": np.full(len(ids), shard, dtype="int32"),
            "docID": ids, "tf": tf, "doclen": dls})

    return _run_shard_kernel(
        spark, blocks, kernel,
        "shard int, docID long, tf long, doclen long", meta,
        postings=postings_estimate(dictionary_map, field, uniq))


def positional_matches_many(
    spark: SparkSession,
    index_dir: str,
    phrases: dict[str, list[str]],
    field: str = "text",
    blocks_df: DataFrame | None = None,
    meta=None,
    dictionary_map: dict | None = None,
) -> DataFrame:
    """Batched positional phrase matching: DataFrame(qid, shard, docID, tf,
    doclen) for ALL phrases in ONE distributed job — the blocks of the
    UNION of every phrase's terms are scanned and decoded once per shard,
    then each phrase sliding-matches against the shared decoded postings
    (the search_many amortization applied to phrases: a hot term's posting
    list is decoded once no matter how many phrases use it)."""
    phrases = {q: list(t) for q, t in phrases.items() if t}
    if not phrases:
        return spark.createDataFrame(
            [], "qid string, shard int, docID long, tf long, doclen long")
    meta = meta or read_meta(index_dir)
    if not getattr(meta, "with_positions", False):
        raise ValueError(
            f"index {index_dir} was built with_positions=False — batched "
            "phrase matching needs the positions stream")
    all_terms = sorted({t for ts in phrases.values() for t in ts})
    src = (blocks_df if blocks_df is not None
           else spark.read.parquet(f"{index_dir}/blocks"))
    blocks = src.filter(
        (F.col("field") == field) & F.col("term").isin(all_terms)
    ).select("shard", "term", "block_seq", "docids", "tfs", "doclens",
             "positions")
    specs = sorted(phrases.items())

    def kernel(bl: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({
            "qid": pd.Series(dtype="object"),
            "shard": pd.Series(dtype="int32"),
            "docID": pd.Series(dtype="int64"),
            "tf": pd.Series(dtype="int64"),
            "doclen": pd.Series(dtype="int64")})
        if len(bl) == 0:
            return empty
        shard = int(bl["shard"].iloc[0])
        per = _decode_term_postings(bl.sort_values("block_seq",
                                                   kind="stable"))
        frames = []
        for qid, seq in specs:
            m = _sliding_match(per, seq)
            if m is None:
                continue
            ids, tf, dls = m
            frames.append(pd.DataFrame({
                "qid": np.repeat(qid, len(ids)),
                "shard": np.full(len(ids), shard, dtype="int32"),
                "docID": ids, "tf": tf, "doclen": dls}))
        return pd.concat(frames, ignore_index=True) if frames else empty

    return _run_shard_kernel(
        spark, blocks, kernel,
        "qid string, shard int, docID long, tf long, doclen long", meta,
        postings=postings_estimate(dictionary_map, field, all_terms))


def phrase_topk_many(
    spark: SparkSession,
    index_dir: str,
    phrases: dict[str, str],
    k: int = 60,
    field: str = "text",
    blocks_df: DataFrame | None = None,
    meta=None,
    deny_docids: DataFrame | None = None,
    cache_out: list | None = None,
    dictionary_map: dict | None = None,
) -> DataFrame:
    """Batched exact phrase top-k (positional indexes only):
    DataFrame(qid, docID, score) with each qid's matches ranked by its own
    phrase-BM25 (per-qid df from a small keyed aggregate, broadcast back).
    Rank-identical per qid to phrase_topk. Final merge reuses the batched
    serving merge (operators.wand._merge_topk_per_qid)."""
    specs = {q: py_tokenize(p) for q, p in phrases.items()}
    meta = meta or read_meta(index_dir)
    matched = positional_matches_many(spark, index_dir, specs, field=field,
                                      blocks_df=blocks_df, meta=meta,
                                      dictionary_map=dictionary_map)
    if deny_docids is not None:
        matched = matched.join(deny_docids.select("shard", "docID"),
                               ["shard", "docID"], "left_anti")
    if cache_out is not None:
        matched = matched.persist()
        cache_out.append(matched)
    dfc = matched.groupBy("qid").agg(F.count("*").alias("_df_phrase"))
    idf = F.log(
        F.lit(1.0) + (F.lit(float(meta.n_docs)) - F.col("_df_phrase") + 0.5)
        / (F.col("_df_phrase") + 0.5))
    tf = F.col("tf").cast("double")
    k1, b = meta.k1, meta.b
    scored = (
        matched.join(F.broadcast(dfc), "qid")
        .withColumn(
            "score",
            idf * tf * (k1 + 1.0)
            / (tf + k1 * (1.0 - b
                          + b * F.col("doclen").cast("double")
                          / F.lit(float(meta.avgdl)))))
        .select("qid", "docID", "score")
    )
    from liresolr_spark.operators.wand import _merge_topk_per_qid

    return _merge_topk_per_qid(scored, k)


def _score_phrase_matches(
    matched: DataFrame,
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    cache_out: list | None = None,
) -> DataFrame:
    """BM25-score a phrase match set (needs `tf` and `_dl` columns): df is
    the match count, computed INSIDE the plan (1-row aggregate cross-joined
    back — no second action).

    cache_out: the matched set has TWO consumers (scoring and the df
    aggregate) and Catalyst cannot reuse the subtree between them — without
    a cache the whole upstream pipeline runs twice. Pass a list and the
    matched relation is persisted and appended to it; release after the
    consuming action (operators.bm25.materialize_and_release). None is the
    leak-proof double-pass default, same contract as bm25_scores_all."""
    if cache_out is not None:
        matched = matched.persist()
        cache_out.append(matched)
    dfc = matched.agg(F.count("*").alias("_df_phrase"))
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("_df_phrase") + 0.5)
                / (F.col("_df_phrase") + 0.5))
    tf = F.col("tf").cast("double")
    return (
        matched.crossJoin(dfc)
        .withColumn(
            "score",
            idf * tf * (k1 + 1.0)
            / (tf + k1 * (1.0 - b + b * F.col("_dl") / F.lit(float(avgdl)))))
        .drop("_df_phrase", "_dl")
    )


def phrase_scores(
    docs: DataFrame,
    phrase: str,
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    content_col: str = "content",
    doclen_col: Column | None = None,
    cache_out: list | None = None,
) -> DataFrame:
    """Append exact phrase-BM25 columns to `docs`: tf (non-overlapping
    phrase frequency, rows with tf=0 dropped) and score — the INDEX-FREE /
    verify-stage string kernel. Index-free callers pass the corpus itself;
    the index verify path passes the candidate set (the df is identical
    either way because candidates ⊇ matches). cache_out: see
    _score_phrase_matches."""
    terms = py_tokenize(phrase)
    if not terms:
        return docs.filter(F.lit(False)).withColumn(
            "tf", F.lit(0).cast("long")).withColumn("score", F.lit(0.0))
    # STAGED projections (the CollapseProject lesson from ops/clean.py's
    # quality gate): inlining the tf expression into filter + score
    # re-evaluates tokenize + array_join + replace once per reference —
    # measured 12.0s vs 4.9s staged on a 20k-doc hot phrase at local[32].
    # Stage 1 materializes the token array once; stage 2 the joined string
    # (non-cheap, multiply-referenced aliases — exactly the condition under
    # which the optimizer preserves the projection split); the match filter
    # is a single `contains` scan (tf >= 1 ⟺ contains), and the tf replace
    # pass runs only over the surviving rows.
    # DOUBLE-space join: tokens separated by two spaces, needle wrapped in
    # single spaces. Adjacent phrase repetitions then leave one boundary
    # space each ("a b a b" -> "␣a␣␣b␣" twice), so the non-overlapping
    # string count equals the maximal non-overlapping count in TOKEN
    # domain — with a single-space join, back-to-back repeats shared the
    # boundary space and were undercounted (found by the positional-parity
    # test on the phrase "return def").
    needle = " " + "  ".join(terms) + " "
    passthrough = [c for c in docs.columns if c != content_col]
    toked = docs.select(
        *passthrough, tokenize_expr(F.col(content_col)).alias("_toks"))
    staged = toked.select(
        *passthrough,
        (doclen_col if doclen_col is not None
         else F.size("_toks")).cast("double").alias("_dl"),
        F.concat(F.lit(" "), F.array_join("_toks", "  "),
                 F.lit(" ")).alias("_js"),
    )
    tf = (
        (F.length("_js")
         - F.length(F.replace(F.col("_js"), F.lit(needle), F.lit(""))))
        / F.length(F.lit(needle))
    ).cast("long")
    matched = (
        staged.filter(F.col("_js").contains(needle))
        .select(*passthrough, F.col("_dl"), tf.alias("tf"))
    )
    return _score_phrase_matches(matched, n_docs, avgdl, k1, b, cache_out)


def phrase_topk(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame | None,
    phrase: str,
    k: int = 60,
    field: str = "text",
    content_col: str = "content",
    blocks_df: DataFrame | None = None,
    meta=None,
    allow_docids: DataFrame | None = None,
    deny_docids: DataFrame | None = None,
    cache_out: list | None = None,
    mode: str = "auto",
    dictionary_map: dict | None = None,
) -> DataFrame:
    """Exact phrase top-k through the index: DataFrame(docID, score), the
    phrase matches ranked by phrase-BM25 (score DESC, docID ASC).

    mode: 'auto' uses the positional path when the index carries positions
    (corpus may then be None), else the two-stage verify; 'positions' /
    'verify' force one path ('verify' requires `corpus`; the two differ
    only on self-overlapping phrases — see module docstring).

    allow_docids / deny_docids: the same (shard, docID) restriction frames
    as wand_topk (fq pushdown / tombstones), applied to the match/candidate
    set BEFORE the df aggregate (a filtered phrase query scores under the
    filter, consistent across both paths). cache_out: see
    _score_phrase_matches — without it the match pipeline runs twice.
    dictionary_map: the driver-side {field: {term: df}} snapshot that sizes
    the match kernel's dispatch (operators.wand._run_shard_kernel)."""
    terms = py_tokenize(phrase)
    if not terms:
        return spark.createDataFrame([], "docID long, score double")
    meta = meta or read_meta(index_dir)
    positional = getattr(meta, "with_positions", False) \
        if mode == "auto" else (mode == "positions")

    if positional:
        matched = positional_matches(spark, index_dir, terms, field=field,
                                     blocks_df=blocks_df, meta=meta,
                                     dictionary_map=dictionary_map)
        if allow_docids is not None:
            matched = matched.join(allow_docids.select("shard", "docID"),
                                   ["shard", "docID"])
        if deny_docids is not None:
            matched = matched.join(deny_docids.select("shard", "docID"),
                                   ["shard", "docID"], "left_anti")
        scored = _score_phrase_matches(
            matched.withColumn("_dl", F.col("doclen").cast("double")),
            meta.n_docs, meta.avgdl, meta.k1, meta.b, cache_out)
    else:
        if corpus is None:
            raise ValueError(
                "phrase_topk verify path needs the corpus DataFrame (the "
                "index stores sha256, not content); build the index "
                "with_positions=True for corpus-free phrase queries")
        cand = conjunctive_docids(spark, index_dir, terms, field=field,
                                  blocks_df=blocks_df, meta=meta,
                                  dictionary_map=dictionary_map)
        if allow_docids is not None:
            cand = cand.join(allow_docids.select("shard", "docID"),
                             ["shard", "docID"])
        if deny_docids is not None:
            cand = cand.join(deny_docids.select("shard", "docID"),
                             ["shard", "docID"], "left_anti")
        stats = spark.read.parquet(f"{index_dir}/docstats").select(
            "shard", "docID", "doclen", "sha256", *NATURAL_KEY)
        # the sha256 equality pin (the north-rule per-row invariant, stored
        # in docstats at build time) keeps the verify honest under duplicate
        # natural keys in the corpus: the build keeps one winner per key
        # (assign_doc_ids dedup), and without the pin the content join could
        # fan out to — and verify against — a LOSING duplicate's content
        keyed = (
            cand.join(stats, ["shard", "docID"])
            .join(corpus.select(*NATURAL_KEY, content_col), NATURAL_KEY)
            .filter(F.sha2(F.col(content_col), 256) == F.col("sha256"))
            .drop("sha256")
            # byte-identical duplicate corpus rows all pass the sha pin —
            # without this dedup one indexed doc scores (and counts toward
            # the phrase df) once per duplicate
            .dropDuplicates(["docID"])
        )
        scored = phrase_scores(
            keyed, phrase, meta.n_docs, meta.avgdl, meta.k1, meta.b,
            content_col=content_col, doclen_col=F.col("doclen"),
            cache_out=cache_out)
    return (
        scored.select("docID", "score")
        .orderBy(F.desc("score"), F.asc("docID"))
        .limit(k)
    )
