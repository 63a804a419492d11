"""Multi-term (prefix / wildcard) query rewrite over the term dictionary.

Solr accepts wildcard queries on any analyzed field; Lucene executes them
as a MultiTermQuery: enumerate the matching terms from the term dictionary,
rewrite into a bounded boolean OR, and score the rewritten query (the
reference exposes this through its Solr text fields — the `ha` hash field
is whitespace-analyzed plain text, README.md:144-160, so `fe1a2b*` style
prefix probes work against it in stock Solr).

This module is the Spark-native rewrite:

- `expand_prefix` enumerates dictionary terms with the given prefix and
  keeps the top `max_expansions` by (df DESC, term ASC) — the
  TopTermsScoringBooleanQueryRewrite shape with a deterministic tiebreak
  (Lucene's default rewrite also caps expansion; its cap is
  maxBooleanClauses, BooleanQuery.setMaxClauseCount — the same guard the
  reference relies on at SimilarRequestHandler.java:101). Ranking by df
  keeps the expansions that can actually score (highest-coverage terms)
  when the cap binds.
- `prefix_topk` feeds the expansion to block-max WAND with qtf=1 per
  expanded term — the scoring-boolean rewrite (each matched term is one
  SHOULD clause).

Scale shape: the dictionary scan is pruned to `field` and the prefix
range; its output is at most `max_expansions` rows collected to the
driver (the same bounded driver materialization as query terms). The
scoring pass is the ordinary WAND path — term-pruned block scan, per-shard
kernel, no extra shuffle. A serving layer with the dictionary pinned
driver-side expands with NO Spark job at all (see
LireQueryEngine.prefix_search).
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from liresolr_spark.frames import empty_frame
from liresolr_spark.operators.wand import WAND_SCHEMA, wand_topk
from liresolr_spark.plans.local_write import spark_reader

# the tokenizer's output alphabet (functions/tokenizer.py spec step d):
# a prefix outside it can never match a dictionary term
_PREFIX_RE = re.compile(r"[a-z0-9]+\Z")
# wildcard pattern surface: literal alphabet plus Lucene's two wildcard
# metacharacters (`?` = one character, `*` = zero or more)
_WILDCARD_RE = re.compile(r"[a-z0-9?*]+\Z")

DEFAULT_MAX_EXPANSIONS = 16


def expand_prefix(
    spark: SparkSession,
    index_dir: str,
    prefix: str,
    field: str = "text",
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    dictionary_df: DataFrame | None = None,
    dictionary_map: dict | None = None,
) -> list[str]:
    """Dictionary terms starting with `prefix`, top `max_expansions` by
    (df DESC, term ASC) — a deterministic total order, so the expansion set
    is stable across engines and runs even when the cap cuts inside a df
    tie. df sums across segment dictionary fragments (the Lucene
    multi-segment term-dictionary merge, same as wand_topk's idf lookup).

    dictionary_map, if given, is the driver-pinned {field: {term: df}}
    snapshot — expansion then runs without any Spark job (the hot serving
    path)."""
    if not _PREFIX_RE.match(prefix):
        raise ValueError(
            f"prefix must be a lowercase [a-z0-9]+ token fragment: {prefix!r}")
    if dictionary_map is not None:
        dmap = dictionary_map.get(field, {})
        matched = [(t, df) for t, df in dmap.items() if t.startswith(prefix)]
        matched.sort(key=lambda p: (-p[1], p[0]))
        return [t for t, _ in matched[:max_expansions]]
    dictionary = (dictionary_df if dictionary_df is not None
                  else spark_reader(spark, index_dir, "dictionary"))
    rows = (
        dictionary
        .filter((F.col("field") == field) & F.col("term").startswith(prefix))
        .groupBy("term").agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .collect()
    )
    return [r["term"] for r in rows]


def wildcard_regex(pattern: str) -> str:
    """Translate a Lucene wildcard pattern to an (unanchored) regex over
    the tokenizer's output alphabet: `?` matches exactly one token
    character, `*` zero or more, everything else is literal. The caller
    anchors it (fullmatch / regexp_full_match) — the same translation on
    both engines keeps the oracle's expansion identical."""
    out = []
    for ch in pattern:
        if ch == "?":
            out.append("[a-z0-9]")
        elif ch == "*":
            out.append("[a-z0-9]*")
        else:
            out.append(re.escape(ch))
    return "".join(out)


def wildcard_literal_prefix(pattern: str) -> str:
    """The literal run before the first wildcard metacharacter — the
    dictionary-range prune every wildcard enumeration starts from."""
    for i, ch in enumerate(pattern):
        if ch in "?*":
            return pattern[:i]
    return pattern


def expand_wildcard(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    field: str = "text",
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    dictionary_df: DataFrame | None = None,
    dictionary_map: dict | None = None,
) -> list[str]:
    """Dictionary terms matching a Lucene wildcard pattern (`te?t`,
    `fe1a*2b`, `read*`), top `max_expansions` by (df DESC, term ASC) —
    the same deterministic TopTermsScoringBooleanQueryRewrite cap as
    expand_prefix, so the two rewrites rank expansions identically.

    Guards, both stock-Lucene behavior over the reference's
    whitespace-analyzed text fields (README.md:144-160):
    - pattern alphabet is [a-z0-9?*] (anything else can never match a
      dictionary term — fail loudly rather than match nothing);
    - a LEADING wildcard is rejected (Solr's allowLeadingWildcard=false
      default: without a literal prefix the enumeration is a full
      dictionary scan — on a 10^8-term dictionary that is the operator
      you never want to ship silently). At least one literal prefix
      character is required.

    A pattern with no metacharacters degrades to the single-term query;
    a pure trailing-`*` pattern delegates to expand_prefix (identical
    semantics, and the pinned-map path skips regex entirely). Everything
    else anchors wildcard_regex over the prefix-pruned dictionary range:
    pinned map -> driver-side fullmatch (no Spark job); else one pruned
    dictionary aggregate with the regex pushed into the scan filter."""
    if not _WILDCARD_RE.match(pattern):
        raise ValueError(
            "wildcard pattern must be lowercase [a-z0-9] with ?/* "
            f"metacharacters: {pattern!r}")
    lit = wildcard_literal_prefix(pattern)
    if not lit:
        raise ValueError(
            f"leading wildcard not allowed (full-dictionary scan): "
            f"{pattern!r} — give at least one literal prefix character")
    if lit == pattern:  # no metacharacters: a plain term query
        return [pattern]
    if pattern == lit + "*":
        return expand_prefix(
            spark, index_dir, lit, field=field,
            max_expansions=max_expansions,
            dictionary_df=dictionary_df, dictionary_map=dictionary_map)
    if dictionary_map is not None:
        rx = re.compile(wildcard_regex(pattern) + r"\Z")
        dmap = dictionary_map.get(field, {})
        matched = [(t, df) for t, df in dmap.items()
                   if t.startswith(lit) and rx.match(t)]
        matched.sort(key=lambda p: (-p[1], p[0]))
        return [t for t, _ in matched[:max_expansions]]
    dictionary = (dictionary_df if dictionary_df is not None
                  else spark_reader(spark, index_dir, "dictionary"))
    rows = (
        dictionary
        .filter((F.col("field") == field) & F.col("term").startswith(lit)
                & F.col("term").rlike("^" + wildcard_regex(pattern) + "$"))
        .groupBy("term").agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .collect()
    )
    return [r["term"] for r in rows]


def levenshtein_within(a: str, b: str, k: int) -> int | None:
    """Plain Levenshtein distance (insert/delete/substitute, no
    transposition — FuzzyQuery's transpositions=false mode) between `a`
    and `b`, computed in an O(len·k) band with early exit; returns None
    when the distance exceeds `k`. Plain-DP semantics match Spark SQL's
    `levenshtein()` and DuckDB's `levenshtein()` exactly — the property
    the oracle gate depends on."""
    if abs(len(a) - len(b)) > k:
        return None
    if a == b:
        return 0
    # band of width 2k+1 around the diagonal; cells outside are > k
    inf = k + 1
    prev = list(range(min(k, len(b)) + 1)) + [inf] * max(0, len(b) - k)
    for i, ca in enumerate(a, start=1):
        cur = [i if i <= k else inf] + [inf] * len(b)
        lo = max(1, i - k)
        hi = min(len(b), i + k)
        for j in range(lo, hi + 1):
            cb = b[j - 1]
            cur[j] = min(prev[j] + 1,          # delete from a
                         cur[j - 1] + 1,       # insert into a
                         prev[j - 1] + (ca != cb))
        # early exit over the live cells (j=0 included — when b is shorter
        # than the band's left edge it is the only candidate left)
        if min(cur[max(0, lo - 1):hi + 1]) > k:
            return None
        prev = cur
    return prev[len(b)] if prev[len(b)] <= k else None


def expand_fuzzy(
    spark: SparkSession,
    index_dir: str,
    term: str,
    max_edits: int = 1,
    prefix_length: int = 0,
    field: str = "text",
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    dictionary_df: DataFrame | None = None,
    dictionary_map: dict | None = None,
) -> list[str]:
    """Dictionary terms within `max_edits` plain-Levenshtein edits of
    `term` (Lucene FuzzyQuery's `term~1` / `term~2` surface over the
    reference's whitespace-analyzed fields, README.md:144-160), top
    `max_expansions` by (df DESC, term ASC) — the same deterministic cap
    as expand_prefix/expand_wildcard, and the df-ranked keep is Lucene's
    own TopTermsBlendedFreqScoringRewrite keep-criterion (docFreq).

    Deviations from Lucene, both documented for parity review:
    - plain Levenshtein (no transposition) so the engine, Spark SQL's
      `levenshtein(threshold=)` and DuckDB's `levenshtein()` agree
      cell-for-cell (FuzzyQuery exposes the same via transpositions=false);
    - `prefix_length` filters to terms SHARING the exact prefix but the
      distance is still computed over the full strings (Lucene computes it
      over the suffix only; with edits confined past the shared prefix the
      two agree, and the full-string form is what both SQL engines can
      express).
    - expansions score with qtf=1 each (scoring-boolean rewrite), not
      Lucene's blended per-term boost 1-ed/minLen — consistent with the
      prefix/wildcard rewrites so the whole MultiTermQuery family ranks
      one way.

    max_edits is capped at 2 (the LevenshteinAutomata bound Lucene
    enforces): beyond 2 the candidate set on a natural-language dictionary
    degrades toward everything, and the automaton construction Lucene uses
    is defined only for ed<=2.

    Enumeration cost: the dictionary is metadata-scale (vocabulary grows
    sublinearly with the corpus). The pinned-map path scans it driver-side
    with an O(len·k) banded DP and a length-window pre-filter; the Spark
    path prunes the scan with the length window (+ the prefix range when
    prefix_length>0) before the levenshtein call — at 10^8-term dictionary
    scale set prefix_length>=1, the same guidance Lucene ships."""
    if not _PREFIX_RE.match(term):
        raise ValueError(
            f"fuzzy term must be a lowercase [a-z0-9]+ token: {term!r}")
    if not 0 <= max_edits <= 2:
        raise ValueError(
            f"max_edits must be 0..2 (LevenshteinAutomata cap): {max_edits}")
    if max_edits == 0:
        return [term]
    pre = term[:prefix_length] if prefix_length > 0 else ""
    if dictionary_map is not None:
        dmap = dictionary_map.get(field, {})
        matched = [
            (t, df) for t, df in dmap.items()
            if t.startswith(pre)
            and levenshtein_within(t, term, max_edits) is not None
        ]
        matched.sort(key=lambda p: (-p[1], p[0]))
        return [t for t, _ in matched[:max_expansions]]
    dictionary = (dictionary_df if dictionary_df is not None
                  else spark_reader(spark, index_dir, "dictionary"))
    cond = (
        (F.col("field") == field)
        # length window: a cheap pushdown-able prune before the DP
        & (F.length("term") >= len(term) - max_edits)
        & (F.length("term") <= len(term) + max_edits)
        # threshold form: early-exit DP JVM-side, returns -1 when above
        & (F.levenshtein(F.col("term"), F.lit(term), max_edits) >= 0)
    )
    if pre:
        cond = F.col("term").startswith(pre) & cond
    rows = (
        dictionary
        .filter(cond)
        .groupBy("term").agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .collect()
    )
    return [r["term"] for r in rows]


def prefix_topk(
    spark: SparkSession,
    index_dir: str,
    prefix: str,
    k: int = 60,
    field: str = "text",
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    **wand_kwargs,
) -> DataFrame:
    """Prefix query -> scoring-boolean rewrite -> block-max WAND top-k.

    Returns DataFrame(docID, score): the exact top-k under the rewritten
    query (sum of BM25 contributions of the expanded terms, qtf=1 each).
    Extra kwargs (allow_docids, deny_docids, cached handles) pass through
    to wand_topk unchanged."""
    terms = expand_prefix(
        spark, index_dir, prefix, field=field, max_expansions=max_expansions,
        dictionary_df=wand_kwargs.get("dictionary_df"),
        dictionary_map=wand_kwargs.get("dictionary_map"))
    if not terms:
        return empty_frame(spark, WAND_SCHEMA)
    return wand_topk(spark, index_dir, terms, k=k, field=field, **wand_kwargs)
