"""Phrase query (positionless two-stage) + multi-term prefix rewrite.

Property under test for phrases: the index path (posting intersection ->
candidate verify) must EXACTLY equal an index-free recompute over the
corpus — same matched docs, same phrase tf, same BM25 scores (candidates
are a strict superset of matches, so even df agrees). For prefixes: the
capped expansion is deterministic under (df DESC, term ASC) and the scored
result is rank-identical to WAND over the manually expanded OR.
"""

from __future__ import annotations

import random

import pyspark.sql.functions as F
import pytest

from liresolr_spark.functions.tokenizer import tokenize_expr
from liresolr_spark.operators.multiterm import expand_prefix, prefix_topk
from liresolr_spark.operators.phrase import (
    conjunctive_docids,
    phrase_scores,
    phrase_topk,
)
from liresolr_spark.operators.wand import wand_topk
from liresolr_spark.plans.build import read_meta


@pytest.fixture(scope="module")
def indexed(spark, corpus200, tmp_path_factory):
    from liresolr_spark.plans.build import build_index

    d = str(tmp_path_factory.mktemp("phrase_index"))
    build_index(corpus200, d, num_shards=8, block_size=64)
    return d


@pytest.fixture(scope="module")
def vocab(spark, indexed):
    rows = (
        spark.read.parquet(f"{indexed}/dictionary")
        .filter(F.col("field") == "text")
        .orderBy(F.desc("df"), "term")
        .select("term", "df")
        .collect()
    )
    return [(r["term"], int(r["df"])) for r in rows]


@pytest.fixture(scope="module")
def bigrams(spark, corpus200):
    """Most frequent in-corpus bigrams — phrases guaranteed to match."""
    t = tokenize_expr("content")
    rows = (
        corpus200.select(
            F.explode(F.zip_with(F.slice(t, 1, 1 << 20),
                                 F.slice(tokenize_expr("content"), 2, 1 << 20),
                                 lambda a, b: F.concat_ws(" ", a, b))).alias("bg"))
        .filter(F.col("bg").rlike("^[a-z0-9]+ [a-z0-9]+$"))
        .groupBy("bg").count().orderBy(F.desc("count"), "bg").limit(5)
        .collect()
    )
    return [r["bg"] for r in rows]


def _brute_and_docids(spark, indexed, corpus200, terms):
    """Docs containing ALL terms, via docstats natural-key mapping."""
    cond = None
    for t in set(terms):
        c = F.array_contains(tokenize_expr("content"), t)
        cond = c if cond is None else (cond & c)
    keys = corpus200.filter(cond).select("repo", "path", "commit")
    stats = spark.read.parquet(f"{indexed}/docstats")
    return {r["docID"] for r in
            stats.join(keys, ["repo", "path", "commit"]).collect()}


def test_conjunctive_equals_bruteforce(spark, indexed, corpus200, vocab):
    rng = random.Random(99)
    hot = [t for t, _ in vocab[:10]]
    mid = [t for t, _ in vocab[10:60]]
    for trial in range(5):
        terms = [rng.choice(hot if trial % 2 else mid)
                 for _ in range(rng.randint(1, 3))]
        got = {r["docID"]
               for r in conjunctive_docids(spark, indexed, terms).collect()}
        want = _brute_and_docids(spark, indexed, corpus200, terms)
        assert got == want, terms


def test_conjunctive_out_of_vocab_is_empty(spark, indexed, vocab):
    terms = [vocab[0][0], "zz_not_a_term_zz"]
    assert conjunctive_docids(spark, indexed, terms).count() == 0


def test_phrase_index_equals_indexfree(spark, indexed, corpus200, bigrams):
    meta = read_meta(indexed)
    stats = spark.read.parquet(f"{indexed}/docstats")
    matched_any = False
    for ph in bigrams[:3]:
        hits = phrase_topk(spark, indexed, corpus200, ph, k=500).collect()
        free = phrase_scores(corpus200, ph, meta.n_docs, meta.avgdl,
                             meta.k1, meta.b)
        free_keyed = (
            free.join(stats.select("docID", "repo", "path", "commit"),
                      ["repo", "path", "commit"])
            .select("docID", "tf", "score").collect())
        assert {r["docID"] for r in hits} == {r["docID"] for r in free_keyed}
        fs = {r["docID"]: r["score"] for r in free_keyed}
        for r in hits:
            assert abs(r["score"] - fs[r["docID"]]) < 1e-9, ph
        matched_any = matched_any or len(hits) > 0
    assert matched_any, "fixture bigrams never matched — test is vacuous"


def test_phrase_topk_is_topk(spark, indexed, corpus200, bigrams):
    """k smaller than the match count truncates by (score DESC, docID ASC)."""
    full = phrase_topk(spark, indexed, corpus200, bigrams[0], k=500).collect()
    if len(full) < 3:
        pytest.skip("hot bigram unexpectedly rare")
    k = max(1, len(full) // 2)
    cut = phrase_topk(spark, indexed, corpus200, bigrams[0], k=k).collect()
    order = sorted(full, key=lambda r: (-r["score"], r["docID"]))[:k]
    assert [(r["docID"], round(r["score"], 9)) for r in cut] \
        == [(r["docID"], round(r["score"], 9)) for r in order]


def test_phrase_cache_out_identical_and_released(spark, indexed, corpus200,
                                                 bigrams):
    """cache_out collapses the duplicated verify subtree (scores + df both
    consume `matched`) without changing results, and the handle releases."""
    from liresolr_spark.operators.bm25 import materialize_and_release

    plain = phrase_topk(spark, indexed, corpus200, bigrams[0], k=50).collect()
    cache: list = []
    cached = materialize_and_release(
        phrase_topk(spark, indexed, corpus200, bigrams[0], k=50,
                    cache_out=cache), cache)
    assert [(r["docID"], round(r["score"], 9)) for r in cached.collect()] \
        == [(r["docID"], round(r["score"], 9)) for r in plain]
    assert cache and all(c.storageLevel.useMemory is False for c in cache)


def test_phrase_zero_matches_empty(spark, indexed, corpus200, vocab):
    # both terms exist but (almost surely) never adjacently in this order;
    # use a rare pair and assert against the index-free recompute instead of
    # assuming emptiness
    meta = read_meta(indexed)
    ph = f"{vocab[-1][0]} {vocab[-2][0]}"
    n_free = phrase_scores(corpus200, ph, meta.n_docs, meta.avgdl,
                           meta.k1, meta.b).count()
    n_idx = phrase_topk(spark, indexed, corpus200, ph, k=50).count()
    assert n_idx == n_free
    assert phrase_topk(spark, indexed, corpus200,
                       "zz_not_a_term_zz also_missing", k=10).count() == 0
    assert phrase_topk(spark, indexed, corpus200, "...", k=10).count() == 0


def test_phrase_overlap_semantics(spark):
    """Non-overlapping left-to-right count (documented deviation from
    Lucene's positional count for self-overlapping phrases)."""
    rows = [("r", "p1", "c", "py", "x a a a y"),     # 'a a' once (not twice)
            ("r", "p2", "c", "py", "a a b a a"),     # twice
            ("r", "p3", "c", "py", "no match here")]
    df = spark.createDataFrame(rows, "repo string, path string, commit string,"
                               " lang string, content string")
    got = {r["path"]: r["tf"]
           for r in phrase_scores(df, "a a", 3, 4.0, 1.2, 0.75).collect()}
    assert got == {"p1": 1, "p2": 2}


@pytest.mark.parametrize("dispatch", ["spark", "driver"])
@pytest.mark.parametrize("layout", ["verify", "positions"])
def test_phrase_allow_deny(spark, request, corpus200, bigrams, monkeypatch,
                           layout, dispatch):
    """allow/deny restrict the match (positional) or candidate (verify)
    kernel's docIDs on both index layouts — the positionless index with
    the corpus, the positional one with corpus=None — and on both kernel
    dispatch legs: bound 0 (pandas-UDF stage) and a huge bound with the
    index's dictionary_map (driver)."""
    import liresolr_spark.operators.wand as wand

    if layout == "verify":
        d, corpus = request.getfixturevalue("indexed"), corpus200
    else:
        d, corpus = request.getfixturevalue("indexed_pos"), None
    dmap = None
    if dispatch == "driver":
        dmap = {"text": {r["term"]: int(r["df"]) for r in (
            spark.read.parquet(f"{d}/dictionary")
            .filter(F.col("field") == "text")
            .groupBy("term").agg(F.sum("df").alias("df")).collect())}}
    monkeypatch.setattr(wand, "DRIVER_MAX_POSTINGS",
                        0 if dispatch == "spark" else 10**12)

    def run(**restriction):
        return phrase_topk(spark, d, corpus, bigrams[0], k=500,
                           dictionary_map=dmap, **restriction).collect()

    full = run()
    if len(full) < 2:
        pytest.skip("hot bigram unexpectedly rare")
    stats = spark.read.parquet(f"{d}/docstats").select("shard", "docID")
    victim = full[0]["docID"]
    deny = stats.filter(F.col("docID") == victim)
    got = run(deny_docids=deny)
    assert {r["docID"] for r in got} == {r["docID"] for r in full} - {victim}
    allow = stats.filter(F.col("docID") == victim)
    got2 = run(allow_docids=allow)
    assert {r["docID"] for r in got2} == {victim}


def test_verify_plan_runs_no_job(spark, indexed, corpus200, bigrams):
    """Building a verify phrase_topk plan with no dictionary_map (every
    kernel on the Spark path) runs no Spark job: the docstats side is read
    with the files' schema (local_write.spark_reader), not inferred."""
    from liresolr_spark.session import jobs_run

    plan, n = jobs_run(spark, lambda: phrase_topk(
        spark, indexed, corpus200, bigrams[0], k=10))
    assert n == 0
    assert plan.collect()


def test_phrase_duplicate_natural_key_pins_to_indexed_content(spark, tmp_path):
    """Duplicate (repo,path,commit) rows: the build keeps the
    lexicographically-least content (assign_doc_ids dedup); the verify join
    must score THAT content, not a losing duplicate's — pinned by the
    stored sha256 (without the pin, a losing duplicate containing the
    phrase would produce a hit the index's own document does not have)."""
    from liresolr_spark.plans.build import build_index

    rows = [
        # winner (min content) has NO phrase; loser HAS it
        ("r", "dup1", "c", "py", "alpha beta gamma"),
        ("r", "dup1", "c", "py", "zz magic words zz"),
        # winner HAS the phrase; loser does not
        ("r", "dup2", "c", "py", "aa magic words aa"),
        ("r", "dup2", "c", "py", "zz nothing zz"),
        # BYTE-IDENTICAL duplicates: both pass the sha pin — the verify
        # join must still score the doc ONCE (df and top-k slots)
        ("r", "dup3", "c", "py", "magic words twice twin"),
        ("r", "dup3", "c", "py", "magic words twice twin"),
        ("r", "solo", "c", "py", "magic words solo"),
    ]
    df = spark.createDataFrame(rows, "repo string, path string, commit string,"
                               " lang string, content string")
    d = str(tmp_path / "dup_idx")
    build_index(df, d, num_shards=2, block_size=16)
    hits = phrase_topk(spark, d, df, "magic words", k=10).collect()
    stats = spark.read.parquet(f"{d}/docstats").select("docID", "path")
    paths = {r["path"] for r in
             stats.join(spark.createDataFrame(
                 [(h["docID"],) for h in hits], "docID long"),
                 "docID").collect()}
    assert paths == {"dup2", "dup3", "solo"}  # dup1's winner has no phrase
    assert len(hits) == 3  # dup3 appears once despite identical duplicates


# ---- positional index (Lucene .pos analog) ---------------------------------


@pytest.fixture(scope="module")
def indexed_pos(spark, corpus200, tmp_path_factory):
    from liresolr_spark.plans.build import build_index

    d = str(tmp_path_factory.mktemp("phrase_pos_index"))
    build_index(corpus200, d, num_shards=8, block_size=64,
                with_positions=True)
    return d


def test_positional_equals_verify(spark, corpus200, indexed_pos, bigrams):
    """The two paths must agree on the MATCHED DOC SET always; scores are
    exactly equal on non-self-overlapping phrases, and positional >= verify
    on self-overlapping ones (sliding vs non-overlapping tf — the
    documented deviation)."""
    matched_any = False
    for ph in bigrams[:4]:
        a, b = ph.split(" ")
        pos = {r["docID"]: r["score"] for r in
               phrase_topk(spark, indexed_pos, None, ph, k=500).collect()}
        ver = {r["docID"]: r["score"] for r in
               phrase_topk(spark, indexed_pos, corpus200, ph, k=500,
                           mode="verify").collect()}
        assert set(pos) == set(ver), ph
        for d in pos:
            if a != b:
                assert abs(pos[d] - ver[d]) < 1e-9, (ph, d)
            else:
                assert pos[d] >= ver[d] - 1e-12, (ph, d)
        matched_any = matched_any or (len(pos) > 0 and a != b)
    assert matched_any, "no non-self-overlapping bigram matched — vacuous"


def test_positional_wand_unaffected(spark, indexed, indexed_pos, vocab):
    """The positions stream must not change BM25 retrieval: WAND over the
    positional index is rank/score-identical to the positionless one."""
    terms = [vocab[0][0], vocab[5][0]]
    a = wand_topk(spark, indexed, terms, k=20).collect()
    b = wand_topk(spark, indexed_pos, terms, k=20).collect()
    assert [(r["docID"], round(r["score"], 9)) for r in a] \
        == [(r["docID"], round(r["score"], 9)) for r in b]


def test_positional_sliding_semantics(spark, tmp_path):
    """Positional tf is the SLIDING count (Lucene-exact): 'a a' occurs
    twice in 'a a a'; the string-verify path counts once (documented
    deviation, only observable on self-overlapping phrases)."""
    from liresolr_spark.operators.phrase import positional_matches
    from liresolr_spark.plans.build import build_index

    rows = [("r", "p1", "c", "py", "x a a a y"),
            ("r", "p2", "c", "py", "a a b a a"),
            ("r", "p3", "c", "py", "nothing")]
    df = spark.createDataFrame(rows, "repo string, path string, commit string,"
                               " lang string, content string")
    d = str(tmp_path / "pos_sem")
    build_index(df, d, num_shards=2, block_size=16, with_positions=True)
    stats = {r["docID"]: r["path"] for r in
             spark.read.parquet(f"{d}/docstats").collect()}
    got = {stats[r["docID"]]: r["tf"]
           for r in positional_matches(spark, d, ["a", "a"]).collect()}
    assert got == {"p1": 2, "p2": 2}
    ver = phrase_topk(spark, d, df, "a a", k=10, mode="verify").count()
    assert ver == 2  # same docs; tf differs for p1 (1 vs 2)


def test_positional_survives_compaction_and_append(spark, corpus200,
                                                   tmp_path):
    """Positions flow through segment append (tf_aggregate path) and full
    compaction (decode -> byte-slice remap -> zero-recode rebuild): phrase
    results on the compacted index equal the pre-compaction ones for the
    surviving docs."""
    import pyspark.sql.functions as FF

    from liresolr_spark.plans.build import build_index, read_meta
    from liresolr_spark.plans.compact import compact_index
    from liresolr_spark.streaming.ingest import append_segment

    g = FF.abs(FF.hash("repo", "path", "commit")) % 4
    first = corpus200.filter(g < 3)
    second = corpus200.filter(g == 3)
    d = str(tmp_path / "pos_stream")
    build_index(first, d, num_shards=4, block_size=64, with_positions=True)
    assert read_meta(d).with_positions
    append_segment(second, d, epoch_id=1)
    assert read_meta(d).with_positions  # appends follow the meta flag

    t = tokenize_expr("content")
    bg = (corpus200.select(
            FF.explode(FF.zip_with(FF.slice(t, 1, 1 << 20),
                                   FF.slice(tokenize_expr("content"), 2, 1 << 20),
                                   lambda a, b: FF.concat_ws(" ", a, b))).alias("bg"))
          .groupBy("bg").count().orderBy(FF.desc("count"), "bg").first()["bg"])
    before = phrase_topk(spark, d, None, bg, k=500).collect()
    assert before, "fixture bigram matched nothing"
    key_before = {r["docID"] for r in before}

    out = str(tmp_path / "pos_stream_compact")
    compact_index(spark, d, out_dir=out)
    assert read_meta(out).with_positions
    after = phrase_topk(spark, out, None, bg, k=500).collect()
    # docIDs are renumbered by compaction; compare via natural keys + score
    def keyed(idx, rows):
        st = spark.read.parquet(f"{idx}/docstats").select(
            "docID", "repo", "path", "commit")
        ids = spark.createDataFrame(
            [(r["docID"], round(r["score"], 6)) for r in rows],
            "docID long, s double")
        return {(r["repo"], r["path"], r["commit"], r["s"])
                for r in st.join(ids, "docID").collect()}

    assert keyed(d, before) == keyed(out, after)
    assert len(key_before) == len(after)


def test_phrase_many_rank_identical_to_single(spark, indexed_pos, bigrams):
    """Batched phrase matching (one scan for the whole batch) must be
    rank- and score-identical per qid to the per-phrase path; a no-match
    phrase simply contributes no rows."""
    from liresolr_spark.operators.phrase import phrase_topk_many

    texts = {f"q{i}": ph for i, ph in enumerate(bigrams[:3])}
    texts["qz"] = "zz_not_a_term_zz nope"
    got = phrase_topk_many(spark, indexed_pos, texts, k=20).collect()
    by_qid: dict = {}
    for r in got:
        by_qid.setdefault(r["qid"], []).append((r["docID"],
                                                round(r["score"], 9)))
    assert "qz" not in by_qid
    any_rows = False
    for i, ph in enumerate(bigrams[:3]):
        want = [(r["docID"], round(r["score"], 9)) for r in
                phrase_topk(spark, indexed_pos, None, ph, k=20).collect()]
        assert by_qid.get(f"q{i}", []) == want, ph
        any_rows = any_rows or bool(want)
        if i == 0:  # a batch of one
            one = [(r["docID"], round(r["score"], 9)) for r in
                   phrase_topk_many(spark, indexed_pos, {"q0": ph}, k=20)
                   .collect()]
            assert one == want
    assert any_rows


def test_engine_phrase_search_many(spark, indexed_pos, bigrams):
    from liresolr_spark.api import LireQueryEngine

    eng = LireQueryEngine(spark, indexed_pos)
    out = eng.phrase_search_many({"a": bigrams[0], "b": bigrams[1]},
                                 rows=5).collect()
    for qid, ph in (("a", bigrams[0]), ("b", bigrams[1])):
        batch = [r["docID"] for r in out if r["qid"] == qid]
        single = [r["docID"] for r in
                  eng.phrase_search(ph, rows=5).collect()]
        assert batch == single, qid


def test_engine_phrase_search(spark, indexed_pos, bigrams):
    from liresolr_spark.api import LireQueryEngine

    eng = LireQueryEngine(spark, indexed_pos)
    out = eng.phrase_search(bigrams[0], rows=10).collect()
    op = phrase_topk(spark, indexed_pos, None, bigrams[0], k=10).collect()
    assert [r["docID"] for r in out] == [r["docID"] for r in op]
    assert eng.last_metrics["path"] == "positions"
    langs = {r["lang"] for r in out}
    if len(langs) > 1:
        pick = sorted(langs)[0]
        fq_out = eng.phrase_search(bigrams[0], rows=10,
                                   fq=f"lang = '{pick}'").collect()
        assert fq_out and all(r["lang"] == pick for r in fq_out)
    # pagination: page 2 continues the ranking
    p1 = eng.phrase_search(bigrams[0], rows=3).collect()
    p2 = eng.phrase_search(bigrams[0], start=3, rows=3).collect()
    full = eng.phrase_search(bigrams[0], rows=6).collect()
    assert [r["docID"] for r in p1 + p2] == [r["docID"] for r in full]


# ---- prefix / multi-term rewrite -------------------------------------------


def test_expand_prefix_cap_and_order(spark, indexed, vocab):
    for prefix, cap in [("s", 3), ("re", 2), ("a", 100)]:
        want = [t for t, _ in sorted(
            [(t, df) for t, df in vocab if t.startswith(prefix)],
            key=lambda p: (-p[1], p[0]))][:cap]
        got = expand_prefix(spark, indexed, prefix, max_expansions=cap)
        assert got == want, prefix


def test_expand_prefix_pinned_map_matches_cluster(spark, indexed, vocab):
    dmap = {"text": {t: df for t, df in vocab}}
    for prefix in ["s", "re", "zz"]:
        assert expand_prefix(spark, indexed, prefix, max_expansions=4,
                             dictionary_map=dmap) \
            == expand_prefix(spark, indexed, prefix, max_expansions=4)


def test_expand_prefix_rejects_non_token(spark, indexed):
    for bad in ["", "Re", "a*", "a b", "é"]:
        with pytest.raises(ValueError):
            expand_prefix(spark, indexed, bad)


def test_prefix_topk_equals_manual_wand(spark, indexed):
    terms = expand_prefix(spark, indexed, "s", max_expansions=4)
    assert terms, "fixture corpus has no s-terms?"
    got = prefix_topk(spark, indexed, "s", k=20, max_expansions=4).collect()
    want = wand_topk(spark, indexed, terms, k=20).collect()
    assert [(r["docID"], round(r["score"], 9)) for r in got] \
        == [(r["docID"], round(r["score"], 9)) for r in want]


def test_prefix_topk_no_match_empty(spark, indexed):
    out = prefix_topk(spark, indexed, "zzqq", k=10)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["docID", "score"]


def test_engine_prefix_search(spark, indexed):
    from liresolr_spark.api import LireQueryEngine

    eng = LireQueryEngine(spark, indexed)
    out = eng.prefix_search("s", rows=10, max_expansions=4).collect()
    op = prefix_topk(spark, indexed, "s", k=10, max_expansions=4).collect()
    assert [r["docID"] for r in out] == [r["docID"] for r in op]
    assert {"repo", "path", "commit", "lang", "score"} <= set(out[0].asDict())
    # fq pushdown through the same cache/pushdown path as search()
    langs = [r["lang"] for r in out]
    if len(set(langs)) > 1:
        pick = langs[-1]
        fq_out = eng.prefix_search("s", rows=10, max_expansions=4,
                                   fq=f"lang = '{pick}'").collect()
        assert fq_out and all(r["lang"] == pick for r in fq_out)
    # no expansion -> empty projected frame, not an error; fl_expr column
    # and per-request metrics must still be present on this path
    empty = eng.prefix_search("zzqq", rows=5, fl_expr="concat(repo, path)")
    assert empty.count() == 0 and "fval" in empty.columns
    assert eng.last_metrics.get("prefix") == "zzqq"

# ---- general wildcard rewrite ----------------------------------------------


def _wild_want(vocab, pat, cap):
    import re

    from liresolr_spark.operators.multiterm import wildcard_regex

    rx = re.compile(wildcard_regex(pat) + r"\Z")
    return [t for t, _ in sorted(
        [(t, df) for t, df in vocab if rx.match(t)],
        key=lambda p: (-p[1], p[0]))][:cap]


def test_expand_wildcard_cap_and_order(spark, indexed, vocab):
    from liresolr_spark.operators.multiterm import expand_wildcard

    # patterns derived from the corpus vocabulary so at least one matches
    t = vocab[0][0]
    pats = [t[0] + "*" + t[-1], t[0] + "?" + t[2:] if len(t) >= 3 else t,
            "s*a*", "re*d", "a?c*"]
    for pat in pats:
        for cap in (2, 100):
            got = expand_wildcard(spark, indexed, pat, max_expansions=cap)
            assert got == _wild_want(vocab, pat, cap), (pat, cap)


def test_expand_wildcard_pinned_map_matches_cluster(spark, indexed, vocab):
    from liresolr_spark.operators.multiterm import expand_wildcard

    dmap = {"text": {t: df for t, df in vocab}}
    t = vocab[0][0]
    for pat in [t[0] + "*" + t[-1], "s*a*", "zz?q", "re*"]:
        assert expand_wildcard(spark, indexed, pat, max_expansions=4,
                               dictionary_map=dmap) \
            == expand_wildcard(spark, indexed, pat, max_expansions=4), pat


def test_expand_wildcard_guards_and_degenerate(spark, indexed):
    from liresolr_spark.operators.multiterm import expand_wildcard

    # leading wildcard = unbounded dictionary scan -> rejected (Solr's
    # allowLeadingWildcard=false); bad alphabet rejected loudly
    for bad in ["", "*tail", "?x", "Re*", "a b", "a-b*"]:
        with pytest.raises(ValueError):
            expand_wildcard(spark, indexed, bad)
    # no metacharacters degrades to the single-term query (even unindexed:
    # WAND treats an unknown term as zero-df, same as search())
    assert expand_wildcard(spark, indexed, "zzqq") == ["zzqq"]
    # pure trailing star == prefix expansion
    assert expand_wildcard(spark, indexed, "s*", max_expansions=4) \
        == expand_prefix(spark, indexed, "s", max_expansions=4)


def test_engine_wildcard_search(spark, indexed, vocab):
    from liresolr_spark.api import LireQueryEngine
    from liresolr_spark.operators.multiterm import expand_wildcard

    eng = LireQueryEngine(spark, indexed)
    t = vocab[0][0]
    pat = t[0] + "*" + t[-1]
    terms = expand_wildcard(spark, indexed, pat, max_expansions=3)
    assert terms, "vocabulary-derived pattern must match"
    out = eng.wildcard_search(pat, rows=10, max_expansions=3).collect()
    want = wand_topk(spark, indexed, terms, k=10).collect()
    assert [r["docID"] for r in out] == [r["docID"] for r in want]
    with pytest.raises(ValueError):
        eng.wildcard_search("*" + t)
    # empty expansion -> empty projected frame + metrics, not an error
    empty = eng.wildcard_search("zz?q", rows=5)
    assert empty.count() == 0
    assert eng.last_metrics.get("pattern") == "zz?q"
    assert eng.last_metrics.get("n_terms") == 0


# ---- fuzzy rewrite ----------------------------------------------------------


def _lev_ref(a, b):
    """Textbook full-matrix Levenshtein — the reference the banded kernel
    is checked against."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


def _fuzzy_want(vocab, term, k, cap, pre=""):
    from liresolr_spark.operators.multiterm import levenshtein_within

    return [t for t, _ in sorted(
        [(t, df) for t, df in vocab
         if t.startswith(pre) and levenshtein_within(t, term, k) is not None],
        key=lambda p: (-p[1], p[0]))][:cap]


def test_levenshtein_within_matches_full_dp(vocab):
    from liresolr_spark.operators.multiterm import levenshtein_within

    words = [t for t, _ in vocab][:12] + ["", "a", "ab", "abc",
                                          "abcd", "acbd", "xabc"]
    for a in words:
        for b in words:
            ref = _lev_ref(a, b)
            for k in (0, 1, 2):
                got = levenshtein_within(a, b, k)
                assert got == (ref if ref <= k else None), (a, b, k)


def test_levenshtein_within_matches_duckdb(vocab):
    """The banded DP must agree with DuckDB's levenshtein() — the oracle
    gate computes the expansion with it."""
    import duckdb

    from liresolr_spark.operators.multiterm import levenshtein_within

    con = duckdb.connect()
    words = [t for t, _ in vocab][:10]
    for a in words:
        for b in words:
            (ref,) = con.execute(
                "SELECT levenshtein(?, ?)", [a, b]).fetchone()
            got = levenshtein_within(a, b, 2)
            assert got == (ref if ref <= 2 else None), (a, b)


def test_levenshtein_within_property():
    """Property: the banded kernel equals the full DP truncated at k, for
    arbitrary token-alphabet strings (covers band-edge and early-exit
    paths the vocabulary pairs may miss)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from liresolr_spark.operators.multiterm import levenshtein_within

    tok = st.text(alphabet="ab9", max_size=8)

    @settings(max_examples=300, deadline=None)
    @given(a=tok, b=tok, k=st.integers(min_value=0, max_value=2))
    def check(a, b, k):
        ref = _lev_ref(a, b)
        assert levenshtein_within(a, b, k) == (ref if ref <= k else None)

    check()


def test_expand_fuzzy_cap_and_order(spark, indexed, vocab):
    from liresolr_spark.operators.multiterm import expand_fuzzy

    # probes derived from the vocabulary: the term itself (ed 0 included),
    # a one-edit corruption, and a two-edit corruption
    t = vocab[0][0]
    probes = [(t, 1), (t[:-1] + "9", 1), ("x" + t[1:-1] + "9", 2)]
    for probe, k in probes:
        for cap in (2, 100):
            got = expand_fuzzy(spark, indexed, probe, max_edits=k,
                               max_expansions=cap)
            assert got == _fuzzy_want(vocab, probe, k, cap), (probe, k, cap)


def test_expand_fuzzy_pinned_map_matches_cluster(spark, indexed, vocab):
    """Pinned-map path (banded DP) vs Spark path (levenshtein threshold
    pushdown): identical expansion — three Levenshtein implementations
    (banded DP, Spark SQL, DuckDB) must agree."""
    from liresolr_spark.operators.multiterm import expand_fuzzy

    dmap = {"text": {t: df for t, df in vocab}}
    t = vocab[0][0]
    for probe, k in [(t, 2), (t[:-1] + "9", 1), ("zzqq", 2)]:
        assert expand_fuzzy(spark, indexed, probe, max_edits=k,
                            max_expansions=4, dictionary_map=dmap) \
            == expand_fuzzy(spark, indexed, probe, max_edits=k,
                            max_expansions=4), (probe, k)


def test_expand_fuzzy_prefix_length(spark, indexed, vocab):
    from liresolr_spark.operators.multiterm import expand_fuzzy

    t = vocab[0][0]
    probe = t[:-1] + "9"
    dmap = {"text": {t: df for t, df in vocab}}
    for pl in (1, 2):
        want = _fuzzy_want(vocab, probe, 2, 100, pre=probe[:pl])
        assert expand_fuzzy(spark, indexed, probe, max_edits=2,
                            prefix_length=pl, max_expansions=100) == want
        assert expand_fuzzy(spark, indexed, probe, max_edits=2,
                            prefix_length=pl, max_expansions=100,
                            dictionary_map=dmap) == want


def test_expand_fuzzy_guards(spark, indexed):
    from liresolr_spark.operators.multiterm import expand_fuzzy

    for bad in ["", "Re", "a*", "a b"]:
        with pytest.raises(ValueError):
            expand_fuzzy(spark, indexed, bad)
    with pytest.raises(ValueError):
        expand_fuzzy(spark, indexed, "part", max_edits=3)
    # ed 0 degrades to the single-term query without touching the dictionary
    assert expand_fuzzy(spark, indexed, "zzqq", max_edits=0) == ["zzqq"]


def test_engine_fuzzy_search(spark, indexed, vocab):
    from liresolr_spark.api import LireQueryEngine
    from liresolr_spark.operators.multiterm import expand_fuzzy

    eng = LireQueryEngine(spark, indexed)
    t = vocab[0][0]
    probe = t[:-1] + "9"
    terms = expand_fuzzy(spark, indexed, probe, max_edits=1,
                         max_expansions=3)
    assert terms, "one-edit corruption of a vocabulary term must match"
    out = eng.fuzzy_search(probe, max_edits=1, rows=10,
                           max_expansions=3).collect()
    want = wand_topk(spark, indexed, terms, k=10).collect()
    assert [r["docID"] for r in out] == [r["docID"] for r in want]
    # empty expansion -> empty projected frame + metrics, not an error
    empty = eng.fuzzy_search("zzqq99", max_edits=1, rows=5)
    assert empty.count() == 0
    assert eng.last_metrics.get("term") == "zzqq99"
    assert eng.last_metrics.get("n_terms") == 0


def test_phrase_search_many_verify_fallback(spark, indexed, corpus200,
                                            bigrams):
    """Batched phrase serving on a POSITIONLESS index: raises a steering
    error without corpus; with corpus, degrades to the per-phrase verify
    path unioned under one action, rank-identical to phrase_search."""
    from liresolr_spark.api import LireQueryEngine

    eng = LireQueryEngine(spark, indexed)
    with pytest.raises(ValueError, match="with_positions"):
        eng.phrase_search_many({"a": bigrams[0]}, rows=5)
    out = eng.phrase_search_many({"a": bigrams[0], "b": bigrams[1]},
                                 rows=5, corpus=corpus200).collect()
    for qid, ph in (("a", bigrams[0]), ("b", bigrams[1])):
        batch = [(r["docID"], round(r["score"], 9))
                 for r in out if r["qid"] == qid]
        single = [(r["docID"], round(r["score"], 9))
                  for r in eng.phrase_search(ph, rows=5,
                                             corpus=corpus200).collect()]
        assert batch == single, qid
