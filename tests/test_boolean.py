"""Boolean query composition (MUST / SHOULD / MUST_NOT) — Lucene
BooleanQuery semantics over the block index, pushed into the WAND kernel
as docID masks (operators/boolean.py + api.search(must=, must_not=)).

Fixtures use a purpose-built corpus with DISCRIMINATIVE terms: the shared
200-doc synthetic corpus saturates its syllable vocabulary (every term in
every doc), which makes boolean clauses vacuous there."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from liresolr_spark.functions.tokenizer import tokenize_expr
from liresolr_spark.operators.boolean import (
    boolean_restriction,
    disjunctive_docids,
)
from liresolr_spark.operators.phrase import conjunctive_docids
from liresolr_spark.operators.wand import wand_topk

_DOCS = [
    # (path, content) — alpha/beta/gamma/delta are the boolean clause
    # terms; filler words vary tf so rankings are non-trivial
    ("d0", "alpha beta common common read"),
    ("d1", "alpha gamma common read read read"),
    ("d2", "alpha beta gamma common common common"),
    ("d3", "beta delta read common"),
    ("d4", "alpha delta read read common common"),
    ("d5", "gamma delta common"),
    ("d6", "alpha alpha beta read"),
    ("d7", "common read"),
]


@pytest.fixture(scope="module")
def bidx(spark, tmp_path_factory):
    from liresolr_spark.plans.build import build_index

    df = spark.createDataFrame(
        [("r", p, "c", "py", t) for p, t in _DOCS],
        "repo string, path string, commit string, lang string, content string")
    d = str(tmp_path_factory.mktemp("bool_idx"))
    build_index(df, d, num_shards=2, block_size=16)
    return d, df


def _paths_of(spark, d, docids):
    stats = spark.read.parquet(f"{d}/docstats").select("docID", "path")
    return {r["path"] for r in stats.collect() if r["docID"] in docids}


def _brute(mode, *terms):
    out = set()
    for p, t in _DOCS:
        toks = t.split()
        hit = (all(x in toks for x in terms) if mode == "all"
               else any(x in toks for x in terms))
        if hit:
            out.add(p)
    return out


def test_disjunctive_equals_bruteforce(spark, bidx):
    d, _ = bidx
    for terms in (["alpha"], ["beta", "gamma"], ["delta", "zz_nope"]):
        got = _paths_of(spark, d, {
            r["docID"] for r in disjunctive_docids(spark, d, terms).collect()})
        assert got == _brute("any", *terms), terms
    assert disjunctive_docids(spark, d, ["zz_nope"]).count() == 0
    assert disjunctive_docids(spark, d, []).count() == 0


def test_boolean_search_equals_operator_composition(spark, bidx):
    """api.search(must=, must_not=) must equal WAND over SHOULD∪MUST with
    the conjunctive allow / disjunctive deny masks applied directly."""
    from liresolr_spark.api import LireQueryEngine

    eng = LireQueryEngine(spark, bidx[0])
    out = eng.search(text="read common", must=["alpha"], must_not=["gamma"],
                     rows=10).collect()
    allow = conjunctive_docids(spark, bidx[0], ["alpha"])
    deny = disjunctive_docids(spark, bidx[0], ["gamma"])
    want = wand_topk(spark, bidx[0], ["read", "common", "alpha"], k=10,
                     allow_docids=allow, deny_docids=deny).collect()
    assert [r["docID"] for r in out] == [r["docID"] for r in want]
    for a, b in zip(out, want):
        assert abs(a["score"] - b["score"]) < 1e-9


def test_boolean_semantics(spark, bidx):
    from liresolr_spark.api import LireQueryEngine

    d, _ = bidx
    eng = LireQueryEngine(spark, d)
    out = eng.search(text="read", must=["alpha", "beta"], must_not=["gamma"],
                     rows=10).collect()
    got = _paths_of(spark, d, {r["docID"] for r in out})
    assert got == _brute("all", "alpha", "beta") - _brute("any", "gamma")
    assert got == {"d0", "d6"}
    # MUST also scores: a must-only query (empty SHOULD) still ranks, and
    # higher tf of the MUST term ranks first (d6 has alpha twice)
    out2 = eng.search(text="", must=["alpha"], must_not=["gamma"],
                      rows=10).collect()
    assert all(r["score"] > 0 for r in out2)
    ranked = [r["docID"] for r in out2]
    assert _paths_of(spark, d, {ranked[0]}) == {"d6"}
    # fq composes with boolean clauses (same mask seam)
    out3 = eng.search(text="read", must=["alpha"], fq="path = 'd4'",
                      rows=10).collect()
    assert _paths_of(spark, d, {r["docID"] for r in out3}) == {"d4"}


def test_boolean_clauses_require_term_query(spark, bidx):
    """must/must_not on the by-example/random dispatch paths must raise —
    silently dropping them would return unfiltered results."""
    from liresolr_spark.api import LireQueryEngine

    eng = LireQueryEngine(spark, bidx[0])
    with pytest.raises(ValueError, match="must/must_not"):
        eng.search(doc_id=0, must_not=["gamma"])
    with pytest.raises(ValueError, match="must/must_not"):
        eng.search(must=["alpha"])  # random-sample dispatch
    # the documented MUST-only form still works
    assert eng.search(text="", must=["alpha"], rows=3).count() > 0


def test_boolean_restriction_none_sides(spark, bidx):
    allow, deny = boolean_restriction(spark, bidx[0], None, None)
    assert allow is None and deny is None
    allow, deny = boolean_restriction(spark, bidx[0], ["alpha"], None)
    assert allow is not None and deny is None


def test_boolean_clauses_on_hash_field_equal_oracle(spark, bidx):
    """must/must_not on the hash-token field ('ha') are hashed like the
    query's own tokens — search(hashes=..., must=...) and
    search_many(field='ha', must=...) equal the brute-force 'ha' ranking
    restricted by the clauses, MUST terms scored (they used to match no
    'ha' postings and silently return nothing)."""
    from liresolr_spark.api import LireQueryEngine
    from liresolr_spark.functions.tokenizer import py_hash_token
    from liresolr_spark.oracle import brute_force_topk

    d, _ = bidx
    eng = LireQueryEngine(spark, d)
    content = dict(_DOCS)
    docs = [(r["docID"], content[r["path"]]) for r in
            spark.read.parquet(f"{d}/docstats").select("docID", "path")
            .collect()]
    keep = {i for i, text in docs
            if "alpha" in text.split() and "gamma" not in text.split()}
    want = [(i, s) for i, s in brute_force_topk(
        docs, "read common alpha", k=100, field="ha") if i in keep][:10]
    assert want

    single = eng.search(hashes=[py_hash_token(t) for t in ("read", "common")],
                        must=["alpha"], must_not=["gamma"], rows=10).collect()
    batched = eng.search_many({"q": "read common"}, field="ha",
                              must=["alpha"], must_not=["gamma"],
                              rows=10).collect()
    for got in (single, batched):
        assert [r["docID"] for r in got] == [i for i, _ in want]
        for r, (_, s) in zip(got, want):
            assert abs(r["score"] - s) < 1e-9
