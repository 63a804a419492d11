"""Two-path identity of the shard-kernel dispatch (operators/wand.py
`_run_shard_kernel`): the same kernel closures run either as a pandas-UDF
stage (applyInPandas / cogroup) or in the driver process, chosen by the
request's posting estimate against DRIVER_MAX_POSTINGS. Every served
kernel must return identical rows — and the WAND range accumulators
identical counts — on both paths. The bound is monkeypatched to 0 (force
the Spark path) and to a huge value (force the driver path), so the small
fixtures here cover both."""

from __future__ import annotations

import random

import pyspark.sql.functions as F
import pytest

import liresolr_spark.operators.wand as wand
from liresolr_spark.operators.bm25 import bm25_topk_from_index
from liresolr_spark.operators.boolean import disjunctive_docids
from liresolr_spark.operators.phrase import (
    conjunctive_docids,
    positional_matches,
    positional_matches_many,
)
from liresolr_spark.operators.wand import wand_topk, wand_topk_many

BOUNDS = {"spark": 0, "driver": 10**12}


def _dict_map(spark, index_dir):
    dmap: dict = {}
    for r in (spark.read.parquet(f"{index_dir}/dictionary")
              .groupBy("field", "term").agg(F.sum("df").alias("df"))
              .collect()):
        dmap.setdefault(r["field"], {})[r["term"]] = int(r["df"])
    return dmap


def _uses_pandas_udf(df) -> bool:
    return "InPandas" in df._jdf.queryExecution().optimizedPlan().toString()


def _both_paths(monkeypatch, run):
    """{path: (rows, stats)} of `run()` under each dispatch path. run()
    returns (DataFrame, stats callable or None); stats is read after the
    rows are collected, so accumulator values are final."""
    out = {}
    for path, bound in BOUNDS.items():
        monkeypatch.setattr(wand, "DRIVER_MAX_POSTINGS", bound)
        df, stats = run()
        assert _uses_pandas_udf(df) == (path == "spark"), path
        rows = [tuple(r) for r in df.collect()]
        out[path] = (rows, stats() if stats else None)
    return out


@pytest.fixture(scope="module")
def pos_index(spark, corpus200, tmp_path_factory):
    from liresolr_spark.plans.build import build_index

    d = str(tmp_path_factory.mktemp("dispatch_pos_index"))
    build_index(corpus200, d, num_shards=8, block_size=64,
                with_positions=True)
    return d, _dict_map(spark, d)


@pytest.fixture(scope="module")
def vocab(spark, pos_index):
    dmap = pos_index[1]["text"]
    return sorted(dmap, key=lambda t: (-dmap[t], t))


@pytest.fixture(scope="module")
def prune_index(spark, corpus200, tmp_path_factory):
    """The pruning case of tests/test_wand.py: 2 shards, block 16, a rare
    high-idf marker term in two docs."""
    from liresolr_spark.plans.build import build_index

    d = str(tmp_path_factory.mktemp("dispatch_prune_index"))
    rare_rows = spark.createDataFrame(
        [("org9/rare", f"src/r{i}.py", f"c{i}", "python",
          "zebraquux marker " + "filler pad " * 30)
         for i in range(2)],
        "repo string, path string, commit string, lang string, content string",
    )
    build_index(corpus200.unionByName(rare_rows), d, num_shards=2,
                block_size=16, with_hash_tokens=False)
    return d, _dict_map(spark, d)


def _wand_with_stats(spark, d, dmap, q, k, **kw):
    def run():
        st: dict = {}
        df = wand_topk(spark, d, q, k=k, dictionary_map=dmap, stats_out=st,
                       **kw)
        return df, lambda: (st["ranges_total"].value,
                            st["ranges_visited"].value)
    return run


def test_wand_topk_two_paths(spark, pos_index, vocab, monkeypatch):
    d, dmap = pos_index
    rng = random.Random(7)
    for q, k in (([vocab[0], vocab[3]], 5),
                 ([vocab[-3], vocab[-3], vocab[-1], "zz_nope"], 20),
                 ([rng.choice(vocab) for _ in range(5)], 60)):
        got = _both_paths(monkeypatch, _wand_with_stats(spark, d, dmap, q, k))
        assert got["spark"] == got["driver"], q
        want = [(r["docID"], r["score"]) for r in
                bm25_topk_from_index(spark, d, q, k=k).collect()]
        assert [r[0] for r in got["driver"][0]] == [w[0] for w in want]


def test_wand_pruning_two_paths(spark, prune_index, monkeypatch):
    d, dmap = prune_index
    terms = sorted(dmap["text"], key=lambda t: (-dmap["text"][t], t))
    q = ["zebraquux", terms[len(terms) // 2]]
    got = _both_paths(monkeypatch, _wand_with_stats(spark, d, dmap, q, 2))
    assert got["spark"] == got["driver"]
    total, visited = got["driver"][1]
    assert 0 < visited < total, (visited, total)


def test_wand_topk_many_two_paths(spark, pos_index, vocab, monkeypatch):
    d, dmap = pos_index
    queries = {"qa": vocab[:3], "qb": [vocab[-1]],
               "qc": [vocab[4], vocab[4], vocab[-2]],
               "qd": ["zz_nope", vocab[2]]}

    def run():
        return (wand_topk_many(spark, d, queries, k=15, dictionary_map=dmap)
                .orderBy("qid", F.desc("score"), "docID"), None)

    got = _both_paths(monkeypatch, run)
    assert got["spark"] == got["driver"]
    assert {r[0] for r in got["driver"][0]} == set(queries)


@pytest.mark.parametrize("op", [conjunctive_docids, disjunctive_docids])
def test_docid_sets_two_paths(spark, pos_index, vocab, monkeypatch, op):
    d, dmap = pos_index
    for terms in ([vocab[0], vocab[len(vocab) // 2]], [vocab[-1], vocab[-2]],
                  ["zz_nope", vocab[5]]):
        got = _both_paths(monkeypatch, lambda: (
            op(spark, d, terms, dictionary_map=dmap)
            .orderBy("shard", "docID"), None))
        assert got["spark"] == got["driver"], (op.__name__, terms)


def test_positional_matches_two_paths(spark, pos_index, corpus200, monkeypatch):
    from liresolr_spark.functions.tokenizer import py_tokenize

    d, dmap = pos_index
    toks = [py_tokenize(r["content"]) for r in corpus200.limit(3).collect()]
    phrases = [t[i:i + 2] for t in toks for i in (0, 7)] + [
        [toks[0][3], toks[0][3]], [toks[1][1], "zz_nope"]]
    matched = 0
    for ph in phrases:
        got = _both_paths(monkeypatch, lambda: (
            positional_matches(spark, d, ph, dictionary_map=dmap)
            .orderBy("shard", "docID"), None))
        assert got["spark"] == got["driver"], ph
        matched += len(got["driver"][0])
    assert matched, "no phrase matched — test is vacuous"

    specs = {f"p{i}": ph for i, ph in enumerate(phrases)}
    got = _both_paths(monkeypatch, lambda: (
        positional_matches_many(spark, d, specs, dictionary_map=dmap)
        .orderBy("qid", "shard", "docID"), None))
    assert got["spark"] == got["driver"]
    assert len(got["driver"][0]) == matched


def test_fq_allow_shard_without_allow_rows(spark, pos_index, vocab,
                                          monkeypatch):
    """Allow-mode mask covering ONE shard: every other shard has query
    blocks but no allow rows and must match nothing on both paths."""
    d, dmap = pos_index
    stats = spark.read.parquet(f"{d}/docstats")
    allow = stats.filter(F.col("shard") == 3).select("shard", "docID")
    allowed = {r["docID"] for r in allow.collect()}
    q = [vocab[0], vocab[8], vocab[-4]]
    got = _both_paths(monkeypatch, _wand_with_stats(
        spark, d, dmap, q, 10, allow_docids=allow))
    assert got["spark"] == got["driver"]
    full = bm25_topk_from_index(spark, d, q, k=500).collect()
    want = [r["docID"] for r in full if r["docID"] in allowed][:10]
    assert [r[0] for r in got["driver"][0]] == want
    assert want


def test_tombstone_deny_two_paths(spark, pos_index, vocab, monkeypatch):
    d, dmap = pos_index
    q = [vocab[1], vocab[6]]
    full = bm25_topk_from_index(spark, d, q, k=500).collect()
    denied = [r["docID"] for r in full[:4]]
    deny = (spark.read.parquet(f"{d}/docstats")
            .filter(F.col("docID").isin(denied)).select("shard", "docID"))
    got = _both_paths(monkeypatch, _wand_with_stats(
        spark, d, dmap, q, 8, deny_docids=deny))
    assert got["spark"] == got["driver"]
    want = [r["docID"] for r in full if r["docID"] not in denied][:8]
    assert [r[0] for r in got["driver"][0]] == want

    queries = {"qa": q, "qb": [vocab[2]]}
    got = _both_paths(monkeypatch, lambda: (
        wand_topk_many(spark, d, queries, k=8, dictionary_map=dmap,
                       deny_docids=deny)
        .orderBy("qid", F.desc("score"), "docID"), None))
    assert got["spark"] == got["driver"]
    assert not {r[1] for r in got["driver"][0]} & set(denied)


def test_unpinned_dictionary_takes_spark_path(spark, pos_index, vocab,
                                              monkeypatch):
    """No dictionary snapshot, no estimate: always the Spark path."""
    monkeypatch.setattr(wand, "DRIVER_MAX_POSTINGS", 10**12)
    assert _uses_pandas_udf(wand_topk(spark, pos_index[0], vocab[:2], k=5))
    assert wand.kernel_dispatch(None) == "spark"
    assert wand.kernel_dispatch(10**12) == "driver"


def test_engine_records_dispatch(spark, pos_index, vocab, monkeypatch):
    from liresolr_spark.api import LireQueryEngine

    d, dmap = pos_index
    eng = LireQueryEngine(spark, d)
    est = dmap["text"][vocab[0]] + dmap["text"][vocab[9]]
    for path, bound in BOUNDS.items():
        monkeypatch.setattr(wand, "DRIVER_MAX_POSTINGS", bound)
        eng.search(text=f"{vocab[0]} {vocab[9]} {vocab[0]}", rows=3).collect()
        assert eng.last_metrics["dispatch"] == path
        assert eng.last_metrics["postings_est"] == est
        eng.similar(vocab[0], rows=3).collect()
        assert eng.last_metrics["dispatch"] == path
    # one dispatch over the bound puts the whole request on Spark: the
    # MUST clause alone fits, the scored SHOULD+MUST set does not
    monkeypatch.setattr(wand, "DRIVER_MAX_POSTINGS", dmap["text"][vocab[0]])
    eng.search(text=vocab[0], rows=3).collect()
    assert eng.last_metrics["dispatch"] == "driver"
    eng.search(text=vocab[0], must=[vocab[9]], rows=3).collect()
    assert eng.last_metrics["dispatch"] == "spark"
