"""BM25 scoring — the DataFrame-native path.

Semantics: Lucene 4.10 BM25 as configured by the reference
(ref: SimilarRequestHandler.java:98 `new BM25Similarity()`, defaults
k1=1.2, b=0.75), over an OR-of-terms query (ref: createQuery
LireRequestHandler.java:576-592 builds SHOULD TermQuery per token;
disjunction score = sum of per-term contributions).

  idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
  score(d,q)  = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))

Deviation from Lucene (documented): exact doc lengths, not 8-bit-quantized
norms — our rank-identity target is the pytest/DuckDB oracle sharing this
spec (SURVEY §7 milestone 3).

Plan shape (the reference's retrieval "join", SURVEY J1/A1):
  postings ⋈ broadcast(query_terms) on term   [broadcast hash join]
  -> groupBy(docID).agg(sum(score))            [partial + final hash agg]
  -> orderBy(score desc, docID asc).limit(k)   [TakeOrderedAndProject =
       bounded per-partition heap + driver merge, the TreeSet analog of
       LireRequestHandler.java:479-490 with a total-order tie-break]
"""

from __future__ import annotations

import math

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import broadcast

from liresolr_spark import BM25_B, BM25_K1
from liresolr_spark.frames import local_frame
from liresolr_spark.functions.tokenizer import tokenize_expr


def idf_lucene(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def corpus_stats(docs: DataFrame, text_col: str = "content") -> tuple[int, float]:
    """(N, avgdl) for index-free scoring — ONE full tokenize scan.

    At scale these are index-time artifacts (meta.json n_docs/avgdl, the
    Lucene CollectionStatistics analog); callers that score the same corpus
    repeatedly compute them once and pass them to `bm25_scores_all` so each
    query costs a single corpus scan (the posting join), not two."""
    row = (
        docs.select(F.size(tokenize_expr(F.col(text_col))).alias("dl"))
        .agg(F.count("*").alias("N"), F.avg("dl").alias("avgdl"))
        .first()
    )
    return int(row["N"]), float(row["avgdl"] or 0.0)


def _query_terms_df(spark: SparkSession, terms: list[str]) -> DataFrame:
    """Distinct query terms with their query-side multiplicity (qtf).

    Lucene's BooleanQuery scores a repeated SHOULD term once per occurrence;
    we keep qtf explicit so repeated query tokens boost like the reference's
    visual-word queries (ref: SimilarRequestHandler.java:148 QueryParser over
    repeated visual words)."""
    from collections import Counter

    c = Counter(terms)
    return spark.createDataFrame(
        [(t, int(n)) for t, n in c.items()], "term string, qtf int"
    )


def bm25_scores_all(
    docs: DataFrame,
    query_terms: list[str],
    doc_id_col: str = "docID",
    text_col: str = "content",
    k1: float = BM25_K1,
    b: float = BM25_B,
    fq=None,
    keep_cols: list[str] | None = None,
    stats: tuple[int, float] | None = None,
    cache_out: list | None = None,
) -> DataFrame:
    """Index-free BM25 top-k straight off a corpus DataFrame.

    Everything is built-in expressions: tokenize -> explode -> tf ->
    broadcast-join query terms -> sum BM25 -> top-k. Used for oracle-checked
    correctness queries and as the semantics spec for the index paths.

    fq: optional Column predicate restricting the CANDIDATE set (ref: filter
    queries LireRequestHandler.java:539-550; note the reference builds but
    fails to apply them — we apply, as Solr semantics intend). Index-level
    statistics (N, avgdl, df) stay global, exactly like Lucene: fq narrows
    matches, it does not re-weight terms.

    stats: optional precomputed (N, avgdl) — see `corpus_stats`. Without it
    every call pays an extra full tokenize scan just for the two scalars.

    Query terms are a bounded driver-side list (clause-count guarded), so
    they enter the plan as LITERALS — an `IN` filter on the exploded
    postings plus a literal qtf map — not as a broadcast-joined DataFrame.
    Measured at sf0.1 the createDataFrame roundtrip + broadcast exchange
    of the join formulation cost 2-4s per action; the literal filter is
    free and pushes into the scan.

    cache_out: the slim (docID, term) tf AGGREGATE has two consumers
    (scoring and df) and Catalyst cannot reuse the exchange between them,
    so it is worth persisting — but a persisted relation needs an owner.
    Pass a list and the handle is appended to it; release it after the
    consuming action (`materialize_and_release(topk, cache_out)` does
    both). With cache_out=None the tf aggregate is NOT persisted: the
    corpus is tokenized twice (once per consumer) but nothing can leak —
    the safe default for one-off callers. (Round-3 advice: the previous
    `._lsr_cached` monkey-patched attribute was lost on any DataFrame
    transformation, silently leaking one persisted relation per call.)"""
    # fq is evaluated HERE, where every corpus column is still in scope,
    # and carried as one boolean — the filter itself applies downstream of
    # the query-term join (candidate restriction), while df stays global
    toks = docs.select(
        F.col(doc_id_col).alias("docID"),
        *(keep_cols or []),
        (fq if fq is not None else F.lit(True)).alias("_fq_pass"),
        tokenize_expr(F.col(text_col)).alias("tokens"),
    ).withColumn("doclen", F.size("tokens"))

    if stats is None:
        row = toks.agg(
            F.count("*").alias("N"), F.avg("doclen").alias("avgdl")
        ).first()
        n_docs, avgdl = row["N"], row["avgdl"]
    else:
        n_docs, avgdl = stats

    posting = toks.select(
        "docID", "doclen", "_fq_pass", *(keep_cols or []),
        F.explode("tokens").alias("term")
    )
    from collections import Counter

    qtf_counts = Counter(query_terms)
    uniq_terms = sorted(qtf_counts)
    if not uniq_terms:
        matched = posting.filter(F.lit(False))
    else:
        matched = posting.filter(F.col("term").isin(uniq_terms))
    qtf_map = F.create_map(
        *[x for t in uniq_terms for x in (F.lit(t), F.lit(int(qtf_counts[t])))]
    ) if uniq_terms else F.create_map()
    # tf over ALL matched postings with the fq verdict carried per doc; the
    # fq filter applies AFTER df derivation so index statistics stay global
    # (Lucene semantics: fq narrows candidates, never re-weights terms).
    # tf is persisted (when the caller owns release via cache_out) because
    # two aggregations consume it (scoring and df) and Catalyst cannot
    # reuse the exchange between them — column pruning rewrites the df
    # branch's partial aggregate down to the bare group keys, the subtrees
    # stop being canonically identical, and the corpus would be scanned and
    # tokenized twice (verified in the plan). Unlike rounds 1-2 (which
    # persisted the raw query-joined POSTINGS), the cached relation is the
    # (docID, term) AGGREGATE: at most |matching docs| x |query terms|
    # slim rows.
    tf = (
        matched
        .groupBy("docID", "term")
        .agg(
            F.count("*").alias("tf"),
            F.first("doclen").alias("doclen"),
            F.first("_fq_pass").alias("_fq_pass"),
            *[F.first(c).alias(c) for c in (keep_cols or [])],
        )
    )
    if cache_out is not None:
        tf = tf.persist()
        cache_out.append(tf)
    # df per term = row count of the cached (docID, term) aggregate
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(F.lit(1.0) + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    candidates = tf if fq is None else tf.filter(F.col("_fq_pass"))
    scored = (
        candidates.join(broadcast(dfreq), "term")
        .withColumn(
            "term_score",
            F.element_at(qtf_map, F.col("term")) * idf * (F.col("tf") * (k1 + 1.0))
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("doclen") / F.lit(avgdl))),
        )
        .groupBy("docID")
        .agg(
            F.sum("term_score").alias("score"),
            *[F.first(c).alias(c) for c in (keep_cols or [])],
        )
    )
    return scored


def bm25_score_corpus(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 60,
    doc_id_col: str = "docID",
    text_col: str = "content",
    k1: float = BM25_K1,
    b: float = BM25_B,
    fq=None,
    keep_cols: list[str] | None = None,
    stats: tuple[int, float] | None = None,
) -> DataFrame:
    """Top-k wrapper over `bm25_scores_all` with the engine's total order
    (score desc, docID asc — the deterministic TreeSet analog).

    Eager: materializes the k result rows (bounded, driver-safe) so the
    persisted posting join can be released before returning — repeated
    calls leave nothing behind in the cluster cache."""
    cache: list = []
    scored = bm25_scores_all(docs, query_terms, doc_id_col, text_col, k1, b,
                             fq, keep_cols, stats, cache_out=cache)
    topk = scored.orderBy(F.desc("score"), F.asc("docID")).limit(k)
    return materialize_and_release(topk, cache)


def materialize_and_release(topk: DataFrame, cache: list) -> DataFrame:
    """Collect a BOUNDED top-k result, then unpersist every handle in
    `cache` (the list populated via `bm25_scores_all(cache_out=...)`).
    The k collected rows come straight back as an Arrow local relation
    with the same schema (built from pandas, not from Rows, which would be
    a LogicalRDD whose every collect runs a job), so downstream
    re-consumption never recomputes the corpus scan."""
    rows = topk.collect()
    for cached in cache or []:
        cached.unpersist()
    pdf = pd.DataFrame.from_records(rows, columns=topk.columns)
    return local_frame(topk.sparkSession, pdf, topk.schema)


def bm25_topk_from_index(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    k: int = 60,
    field: str = "text",
) -> DataFrame:
    """BM25 top-k over the persisted block index, DataFrame path.

    Blocks for the query terms are pruned at scan time (parquet row-group
    stats on `term`, SURVEY O6 analog of Lucene term-dictionary seeks),
    decoded vectorized in mapInPandas, then scored exactly like
    `bm25_score_corpus`. Scales: no driver-side posting materialization.
    """
    import numpy as np

    from liresolr_spark.functions.codec import decode_block
    from liresolr_spark.plans.build import read_meta

    meta = read_meta(index_dir)
    qdf = _query_terms_df(spark, query_terms)
    qrows = qdf.collect()  # one job: terms and qtf come from the same rows
    terms = [r["term"] for r in qrows]
    qtf = {r["term"]: r["qtf"] for r in qrows}

    dictionary = spark.read.parquet(f"{index_dir}/dictionary")
    dstats = (
        dictionary.filter((F.col("field") == field) & F.col("term").isin(terms))
        .groupBy("term").agg(F.sum("df").alias("df")).collect()
    )
    idf = {
        r["term"]: idf_lucene(meta.n_docs, r["df"]) * qtf[r["term"]] for r in dstats
    }
    if not idf:
        return spark.createDataFrame([], "docID long, score double")
    b_idf = spark.sparkContext.broadcast(idf)

    blocks = spark.read.parquet(f"{index_dir}/blocks").filter(
        (F.col("field") == field) & F.col("term").isin(list(idf))
    ).select("term", "docids", "tfs", "doclens")
    k1, b, avgdl = meta.k1, meta.b, meta.avgdl

    # a per-row decode_block loop on purpose: this is the rank-identity
    # tests' index-side reference, so it stays as written instead of being
    # rewritten alongside the batched kernels (codec.decode_blocks) it checks
    def score_blocks(batches):
        for pdf in batches:
            outs = []
            for term, d_bytes, t_bytes, l_bytes in zip(
                pdf["term"], pdf["docids"], pdf["tfs"], pdf["doclens"]
            ):
                ids, tfs, dls = decode_block(
                    bytes(d_bytes), bytes(t_bytes), bytes(l_bytes))
                tf = tfs.astype(np.float64)
                dl = dls.astype(np.float64)
                sc = b_idf.value[term] * tf * (k1 + 1.0) / (
                    tf + k1 * (1.0 - b + b * dl / avgdl))
                outs.append(pd.DataFrame({
                    "docID": ids.astype(np.int64), "term_score": sc}))
            yield pd.concat(outs) if outs else pd.DataFrame(
                {"docID": pd.Series(dtype="int64"),
                 "term_score": pd.Series(dtype="float64")})

    # doclens ride inside each block (codec third stream — the Lucene-norms
    # analog), so scoring never joins a corpus-sized docstats table: the
    # query's input is exactly the posting blocks of its terms.
    flat = blocks.mapInPandas(
        score_blocks, schema="docID long, term_score double"
    )
    scored = flat.groupBy("docID").agg(F.sum("term_score").alias("score"))
    return scored.orderBy(F.desc("score"), F.asc("docID")).limit(k)
