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
  position counts, including self-overlapping ones). One matcher serves a
  batch of phrases, decoding the union of their terms once per kernel; a
  single phrase is the batch of one (_positional_matches).

- **Positionless index** (the default; per-doc payload is the content
  sha256, the north-rule invariant): the classic two-stage plan —
  1. CANDIDATES: docs containing ALL phrase terms, posting-list
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

One body serves both paths, `_phrase_topk` over {qid: phrase}: a single
phrase is the batch of one. A restriction (fq, tombstones) is the match
or candidate kernel's docID mask, as for WAND, so the phrase df counts
only the matches inside it; the final merge is WAND's too.

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

import functools

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from liresolr_spark.frames import as_frame, empty_pdf
from liresolr_spark.functions.codec import decode_blocks, decode_positions
from liresolr_spark.functions.tokenizer import py_tokenize, tokenize_expr
from liresolr_spark.operators.wand import (MANY_SCHEMA, WAND_SCHEMA,
                                           _apply_mask, _in_sorted,
                                           _merge_topk, _run_shard_kernel,
                                           postings_estimate, prune_blocks)
from liresolr_spark.plans.build import NATURAL_KEY, read_meta
from liresolr_spark.plans.local_write import spark_reader

DOCSET_SCHEMA = "shard int, docID long"
MATCH_SCHEMA = "shard int, docID long, tf long, doclen long"
MATCH_MANY_SCHEMA = "qid string, " + MATCH_SCHEMA
# block columns the positional match kernels read
POSITIONAL_COLUMNS = ["shard", "term", "block_seq", "first_docid", "docids",
                      "tfs", "doclens", "positions"]


def _pre_intersect_blocks(bl: pd.DataFrame, n_required: int
                          ) -> pd.DataFrame | None:
    """Block-range pre-intersection (the block-max-WAND flavored saving):
    blocks are ALIGNED docID ranges, so an AND hit can only live in a
    block_seq present for EVERY term — decode nothing outside that range
    set. A rare+hot phrase then decodes only the hot term's blocks that
    overlap the rare term's, not its full posting list. Returns the pruned
    frame sorted by (term, first_docid), or None if the blocks can't
    match."""
    if len(bl) == 0 or bl["term"].nunique() < n_required:
        return None
    seq_sets = [set(g["block_seq"]) for _, g in bl.groupby("term", sort=False)]
    live = set.intersection(*seq_sets)
    if not live:
        return None
    return bl[bl["block_seq"].isin(live)].sort_values(
        ["term", "first_docid"], kind="stable")


def _term_runs(bl: pd.DataFrame, counts: np.ndarray):
    """(terms, cuts) of block rows sorted by (term, first_docid) — each
    term's blocks in docID order across shards, which a snapshot or a scan
    holds shard by shard — that decoded to `counts` postings each:
    np.split(stream, cuts) splits a decoded per-posting stream into the
    terms' runs, each docID-sorted, in `terms` order."""
    terms = bl["term"].to_numpy()
    first = np.flatnonzero(terms[1:] != terms[:-1]) + 1
    return terms[np.append(0, first)], np.cumsum(counts)[first - 1]


def _lacks_term(dictionary_map: dict | None, field: str, terms) -> bool:
    """True when the pinned {field: {term: df}} snapshot holds one of
    `terms` in no doc: a served AND or phrase over them matches nothing,
    so it reads no block and runs no kernel. The match operators
    themselves (_conjunctive_docids, _positional_matches) do not look: they
    run their kernel on whichever path the dispatch picks."""
    return dictionary_map is not None and not all(
        dictionary_map.get(field, {}).get(t, 0) for t in terms)


def conjunctive_docids(spark: SparkSession, *args, **kwargs) -> DataFrame:
    """The boolean-AND doc set as a DataFrame(shard, docID): the arguments
    and result of _conjunctive_docids, a driver-side result wrapped as a
    local relation."""
    return as_frame(spark, _conjunctive_docids(spark, *args, **kwargs),
                    DOCSET_SCHEMA)


def _conjunctive_docids(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    field: str = "text",
    blocks_df: DataFrame | None = None,
    meta=None,
    dictionary_map: dict | None = None,
    allow_docids=None,
    deny_docids=None,
):
    """(shard, docID) rows of docs whose `field` contains EVERY term — the
    boolean-AND candidate set, from posting-list intersection; a pandas
    frame when the kernel ran in the driver, else a lazy DataFrame.
    dictionary_map: the driver-side {field: {term: df}} snapshot; it sizes
    the request for the kernel dispatch (operators.wand._run_shard_kernel).
    allow_docids / deny_docids: the (shard, docID) restriction sides of
    operators.wand._wand_topk, the kernel's docID mask.

    One kernel over the blocks of one shard or of all (same dispatch as
    the WAND kernel): decode the docID streams at once, split them into
    per-term runs (each already sorted), then intersect smallest list first
    so the working set only shrinks; each posting carries its block's
    shard. A term absent from every block -> empty result."""
    uniq = sorted(set(terms))
    if not uniq:
        return empty_pdf(DOCSET_SCHEMA)
    meta = meta or read_meta(index_dir)
    blocks = prune_blocks(spark, index_dir, blocks_df, field, uniq,
                          ["shard", "term", "block_seq", "first_docid",
                           "docids"])
    n_required = len(uniq)

    def kernel(bl: pd.DataFrame, allow=None, deny=None) -> pd.DataFrame:
        empty = pd.DataFrame({"shard": pd.Series(dtype="int32"),
                              "docID": pd.Series(dtype="int64")})
        bl = _pre_intersect_blocks(bl, n_required)
        if bl is None:
            return empty
        ids, _, _, counts = decode_blocks(bl["docids"])
        cuts = _term_runs(bl, counts)[1]
        shards = np.split(np.repeat(bl["shard"].to_numpy(np.int32), counts),
                          cuts)
        per_term = sorted(zip(np.split(ids, cuts), shards),
                          key=lambda run: len(run[0]))
        ids0, shards0 = per_term[0]
        cur = _apply_mask(allow, deny, ids0)[0]
        for ids, _ in per_term[1:]:
            if not len(cur):
                return empty
            # both sides sorted & unique (docIDs unique within a term)
            cur = np.intersect1d(cur, ids, assume_unique=True)
        if not len(cur):
            return empty
        return pd.DataFrame({"shard": shards0[np.searchsorted(ids0, cur)],
                             "docID": cur})

    return _run_shard_kernel(
        spark, blocks, kernel, DOCSET_SCHEMA, meta, allow_docids,
        deny_docids, postings_estimate(dictionary_map, field, uniq))


def _decode_term_postings(bl: pd.DataFrame) -> dict:
    """{term: (docIDs, doclens, tfs, flat_positions, shards)} for block
    rows sorted by (term, first_docid): one decode of the blocks and one
    of their joined positions streams, split into the terms' runs."""
    ids, tfs, dls, counts = decode_blocks(bl["docids"], bl["tfs"],
                                          bl["doclens"])
    flat, offsets = decode_positions(b"".join(bl["positions"]), tfs)
    shards = np.repeat(bl["shard"].to_numpy(np.int32), counts)
    terms, cuts = _term_runs(bl, counts)
    return dict(zip(terms, zip(
        np.split(ids, cuts), np.split(dls, cuts), np.split(tfs, cuts),
        np.split(flat, offsets[cuts]), np.split(shards, cuts))))


def _sliding_match(per: dict, seq: list[str], allow=None, deny=None):
    """SLIDING phrase matches against decoded per-term postings: returns
    (docIDs, tf, doclen, shard) numpy arrays, or None when nothing matches.

    docID AND across the unique terms (smallest posting list first, cut to
    the sorted `allow`/`deny` docID mask), then
    per sequence slot i intersect (doc_rank << 32) | (pos - i) key sets —
    the vectorized ExactPhraseMatcher advance loop; tf counts every match
    position (self-overlapping included); doc_rank (dense index into the
    candidate array) keeps the composite key inside int64 regardless of
    global docID width."""
    uniq = sorted(set(seq))
    if any(t not in per for t in uniq):
        return None
    ordered = sorted(uniq, key=lambda t: len(per[t][0]))
    cand = _apply_mask(allow, deny, per[ordered[0]][0])[0]
    for t in ordered[1:]:
        if not len(cand):
            return None
        cand = np.intersect1d(cand, per[t][0], assume_unique=True)
    if not len(cand):
        return None

    running = None
    for i, t in enumerate(seq):
        ids, _, tfs, flat, _ = per[t]
        hit = _in_sorted(ids, cand)
        pos = flat[np.repeat(hit, tfs)] - i
        ranks = np.repeat(np.searchsorted(cand, ids[hit]), tfs[hit])
        valid = pos >= 0  # a slot-i term before position i can't match
        keys = (ranks[valid] << np.int64(32)) | pos[valid]
        # already sorted: ranks are non-decreasing (ids sorted), and
        # within a doc a term has ONE posting with ascending positions
        running = keys if running is None else \
            np.intersect1d(running, keys, assume_unique=True)
        if not len(running):
            return None

    doc_rank = (running >> np.int64(32)).astype(np.int64)
    tf = np.bincount(doc_rank, minlength=len(cand))
    hit = np.flatnonzero(tf)
    # doclen and shard per doc from any term's postings (denormalized
    # in-block)
    ids0, dls0, _, _, shards0 = per[ordered[0]]
    at = np.searchsorted(ids0, cand[hit])
    return (cand[hit], tf[hit].astype(np.int64), dls0[at].astype(np.int64),
            shards0[at])


def positional_matches(spark: SparkSession, index_dir: str,
                       terms: list[str], *args, **kwargs) -> DataFrame:
    """Sliding phrase matches of one phrase as a DataFrame(shard, docID,
    tf, doclen): _positional_matches over the batch of one `terms`,
    projected to MATCH_SCHEMA, a driver-side result wrapped as a local
    relation."""
    return as_frame(spark, _positional_matches(
        spark, index_dir, {"": terms}, *args, **kwargs), MATCH_SCHEMA)


def positional_matches_many(spark: SparkSession, *args, **kwargs
                            ) -> DataFrame:
    """Batched sliding phrase matches as a DataFrame(qid, shard, docID, tf,
    doclen): the arguments and result of _positional_matches, a
    driver-side result wrapped as a local relation."""
    return as_frame(spark, _positional_matches(spark, *args, **kwargs),
                    MATCH_MANY_SCHEMA)


def _positional_matches(
    spark: SparkSession,
    index_dir: str,
    phrases: dict[str, list[str]],
    field: str = "text",
    blocks_df: DataFrame | None = None,
    meta=None,
    dictionary_map: dict | None = None,
    allow_docids=None,
    deny_docids=None,
):
    """(qid, shard, docID, tf, doclen) rows of SLIDING phrase matches for
    every phrase of `phrases` ({qid: [terms...]}), answered entirely from
    the positional index (no corpus access) in ONE distributed job; a
    pandas frame when the kernel ran in the driver, else a lazy DataFrame.
    A single phrase is the batch of one. allow_docids / deny_docids: the
    restriction sides of operators.wand._wand_topk, the kernel's docID
    mask: only docs inside it match.

    One kernel over the blocks of one shard or of all: the blocks of the
    UNION of the phrases' terms are decoded once — a hot term's posting
    list once no matter how many phrases use it — then each phrase ANDs
    the docIDs of its terms and intersects (doc, position - i) key sets
    across its sequence — the vectorized form of Lucene's
    ExactPhraseMatcher advance loop. tf counts every match position
    (self-overlapping included). All numpy: the per-doc loop Lucene runs
    is replaced by one sorted-array intersection per phrase term over
    composite int64 keys. A batch of one first drops the blocks
    outside the docID ranges every one of its terms covers
    (_pre_intersect_blocks)."""
    phrases = {q: list(t) for q, t in phrases.items() if t}
    if not phrases:
        return empty_pdf(MATCH_MANY_SCHEMA)
    meta = meta or read_meta(index_dir)
    if not getattr(meta, "with_positions", False):
        raise ValueError(
            f"index {index_dir} was built with_positions=False — the "
            "positional phrase path needs the positions stream; use the "
            "corpus-verify path (phrase_topk mode='verify') or rebuild")
    all_terms = sorted({t for ts in phrases.values() for t in ts})
    blocks = prune_blocks(spark, index_dir, blocks_df, field, all_terms,
                          POSITIONAL_COLUMNS)
    specs = sorted(phrases.items())

    def kernel(bl: pd.DataFrame, allow=None, deny=None) -> pd.DataFrame:
        empty = pd.DataFrame({
            "qid": pd.Series(dtype="object"),
            "shard": pd.Series(dtype="int32"),
            "docID": pd.Series(dtype="int64"),
            "tf": pd.Series(dtype="int64"),
            "doclen": pd.Series(dtype="int64")})
        if len(specs) == 1:
            bl = _pre_intersect_blocks(bl, len(all_terms))
        elif len(bl):
            bl = bl.sort_values(["term", "first_docid"], kind="stable")
        if bl is None or not len(bl):
            return empty
        per = _decode_term_postings(bl)
        frames = []
        for qid, seq in specs:
            m = _sliding_match(per, seq, allow, deny)
            if m is None:
                continue
            ids, tf, dls, shards = m
            frames.append(pd.DataFrame({
                "qid": np.repeat(qid, len(ids)), "shard": shards,
                "docID": ids, "tf": tf, "doclen": dls}))
        return pd.concat(frames, ignore_index=True) if frames else empty

    return _run_shard_kernel(
        spark, blocks, kernel, MATCH_MANY_SCHEMA, meta, allow_docids,
        deny_docids, postings_estimate(dictionary_map, field, all_terms))


def _phrase_bm25(matched: pd.DataFrame, meta) -> np.ndarray:
    """Driver twin of the Spark phrase scoring: the phrase is ONE BM25
    clause whose df is the match count of its qid (_positional_matches
    rows), evaluated in the same operation order as the Spark expressions.
    Only the logarithm differs (libm here, StrictMath in Spark): scores
    may differ in the last ulp, never in rank order beyond exact ties."""
    df = matched.groupby("qid")["docID"].transform("size").to_numpy(
        np.float64)
    idf = np.log(1.0 + (float(meta.n_docs) - df + 0.5) / (df + 0.5))
    tf = matched["tf"].to_numpy(np.float64)
    dl = matched["doclen"].to_numpy(np.float64)
    k1, b = meta.k1, meta.b
    return idf * tf * (k1 + 1.0) / (
        tf + k1 * (1.0 - b + b * dl / float(meta.avgdl)))


def _score_phrase_matches(
    matched: DataFrame,
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    cache_out: list | None = None,
) -> DataFrame:
    """BM25-score a phrase match set (needs `tf` and `_dl` columns): df is
    the match count, computed INSIDE the plan (no second action) — per qid
    when the matches carry one (_positional_matches rows: a small keyed
    aggregate broadcast back), else a 1-row aggregate cross-joined back.

    cache_out: the matched set has TWO consumers (scoring and the df
    aggregate) and Catalyst cannot reuse the subtree between them — without
    a cache the whole upstream pipeline runs twice. Pass a list and the
    matched relation is persisted and appended to it; release after the
    consuming action (operators.bm25.materialize_and_release). None is the
    leak-proof double-pass default, same contract as bm25_scores_all."""
    if cache_out is not None:
        matched = matched.persist()
        cache_out.append(matched)
    keys = [c for c in ("qid",) if c in matched.columns]
    dfc = matched.groupBy(*keys).agg(F.count("*").alias("_df_phrase"))
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("_df_phrase") + 0.5)
                / (F.col("_df_phrase") + 0.5))
    tf = F.col("tf").cast("double")
    return (
        (matched.join(F.broadcast(dfc), keys) if keys
         else matched.crossJoin(dfc))
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


def phrase_topk(spark: SparkSession, index_dir: str,
                corpus: DataFrame | None, phrase: str, *args, **kwargs
                ) -> DataFrame:
    """Exact phrase top-k as a DataFrame(docID, score): _phrase_topk over
    the batch of one `phrase`, projected to (docID, score), a driver-side
    result wrapped as a local relation."""
    return as_frame(spark, _phrase_topk(spark, index_dir, corpus,
                                        {"": phrase}, *args, **kwargs),
                    WAND_SCHEMA)


def phrase_topk_many(spark: SparkSession, index_dir: str,
                     phrases: dict[str, str], *args, **kwargs) -> DataFrame:
    """Batched exact phrase top-k on a positional index as a
    DataFrame(qid, docID, score): _phrase_topk over `phrases` with no
    corpus (further arguments as _phrase_topk), a driver-side result
    wrapped as a local relation."""
    return as_frame(spark, _phrase_topk(spark, index_dir, None, phrases,
                                        *args, **kwargs), MANY_SCHEMA)


def _phrase_topk(
    spark: SparkSession,
    index_dir: str,
    corpus: DataFrame | None,
    phrases: dict[str, str],
    k: int = 60,
    field: str = "text",
    content_col: str = "content",
    blocks_df: DataFrame | None = None,
    meta=None,
    allow_docids=None,
    deny_docids=None,
    cache_out: list | None = None,
    mode: str = "auto",
    dictionary_map: dict | None = None,
):
    """Exact phrase top-k of every phrase of `phrases` ({qid: phrase})
    through the index: (qid, docID, score) rows, each qid's matches ranked
    by its own phrase-BM25 — a pandas frame when the positional match
    kernel ran in the driver, else a lazy DataFrame, merged by
    operators.wand._merge_topk. A single phrase is the batch of one.

    mode: 'auto' uses the positional path when the index carries positions
    (corpus may then be None), else the two-stage verify, run per phrase;
    'positions' / 'verify' force one path ('verify' requires `corpus`, and
    a non-empty batch without it raises; the two differ only on
    self-overlapping phrases — see module docstring).

    allow_docids / deny_docids: the (shard, docID) restriction sides of
    operators.wand._wand_topk (fq pushdown, tombstones), the match or
    candidate kernel's docID mask, so the phrase df counts only docs
    inside the restriction. A phrase with a term the pinned
    `dictionary_map` lacks matches nothing and reads no block; the map
    also sizes the kernels' dispatch (operators.wand._run_shard_kernel).
    cache_out: see _score_phrase_matches — without it the match pipeline
    runs twice."""
    meta = meta or read_meta(index_dir)
    positional = getattr(meta, "with_positions", False) \
        if mode == "auto" else (mode == "positions")
    if phrases and not positional and corpus is None:
        raise ValueError(
            f"index {index_dir} was built with_positions=False — the "
            "phrase verify path needs the corpus DataFrame (the index "
            "stores sha256, not content); pass corpus= or rebuild "
            "with_positions=True for corpus-free phrase queries")
    specs = {q: py_tokenize(p) for q, p in phrases.items()}
    specs = {q: t for q, t in specs.items()
             if t and not _lacks_term(dictionary_map, field, t)}
    if not specs:
        return empty_pdf(MANY_SCHEMA)
    kw = dict(field=field, blocks_df=blocks_df, meta=meta,
              dictionary_map=dictionary_map, allow_docids=allow_docids,
              deny_docids=deny_docids)

    if positional:
        matched = _positional_matches(spark, index_dir, specs, **kw)
        if isinstance(matched, pd.DataFrame):
            scored = matched.assign(score=_phrase_bm25(matched, meta))[
                ["qid", "docID", "score"]]
        else:
            scored = _score_phrase_matches(
                matched.withColumn("_dl", F.col("doclen").cast("double")),
                meta.n_docs, meta.avgdl, meta.k1, meta.b, cache_out
            ).select("qid", "docID", "score")
    else:
        stats = spark_reader(spark, index_dir, "docstats").select(
            "shard", "docID", "doclen", "sha256", *NATURAL_KEY)
        per = []
        for qid, terms in sorted(specs.items()):
            cand = conjunctive_docids(spark, index_dir, terms, **kw)
            # the sha256 equality pin (the north-rule per-row invariant,
            # stored in docstats at build time) keeps the verify honest
            # under duplicate natural keys in the corpus: the build keeps
            # one winner per key (assign_doc_ids dedup), and without the
            # pin the content join could fan out to — and verify against —
            # a LOSING duplicate's content
            keyed = (
                cand.join(stats, ["shard", "docID"])
                .join(corpus.select(*NATURAL_KEY, content_col), NATURAL_KEY)
                .filter(F.sha2(F.col(content_col), 256) == F.col("sha256"))
                .drop("sha256")
                # byte-identical duplicate corpus rows all pass the sha
                # pin — without this dedup one indexed doc scores (and
                # counts toward the phrase df) once per duplicate
                .dropDuplicates(["docID"])
            )
            per.append(phrase_scores(
                keyed, phrases[qid], meta.n_docs, meta.avgdl, meta.k1,
                meta.b, content_col=content_col, doclen_col=F.col("doclen"),
                cache_out=cache_out,
            ).select(F.lit(qid).alias("qid"), "docID", "score"))
        scored = functools.reduce(DataFrame.unionByName, per)
    return _merge_topk(scored, k, batch=len(specs) > 1)
