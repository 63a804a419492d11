"""Two-path identity of the shard-kernel dispatch (operators/wand.py
`_run_shard_kernel`): the same kernel closures run either as a pandas-UDF
stage (applyInPandas / cogroup, once per shard) or once in the driver
process over every shard's blocks, chosen by the request's posting
estimate against DRIVER_MAX_POSTINGS. Every served kernel must return
identical rows on both paths — and the driver's one WAND run no more
range counts than the per-shard runs together — and so must every engine
handler, whose requests finish in the driver on either path
(api.LireQueryEngine's one response tail). The bound is monkeypatched to 0
(force the Spark path) and to a huge value (force the driver path), so the
small fixtures here cover both. The engine handlers run a third leg: a
driver-RESIDENT engine (Σ df of its index within the bound when it opened)
serves its driver path from an in-memory snapshot instead of collecting
blocks, masks and payload."""

from __future__ import annotations

import random

import pyspark.sql.functions as F
import pytest

import liresolr_spark.operators.wand as wand
from liresolr_spark.functions.tokenizer import py_hash_token
from liresolr_spark.operators.bm25 import bm25_topk_from_index
from liresolr_spark.operators.boolean import disjunctive_docids
from liresolr_spark.operators.phrase import (
    conjunctive_docids,
    positional_matches,
    positional_matches_many,
)
from liresolr_spark.operators.wand import wand_topk, wand_topk_many
from liresolr_spark.session import jobs_run as _jobs_run

BOUNDS = {"spark": 0, "driver": 10**12}
# engine legs: (engine opened resident?, request-time bound); the driver
# leg's engine was opened with the bound below its index's postings
LEGS = {"resident": (True, 10**12), "driver": (False, 10**12),
        "spark": (True, 0)}


def _dict_map(spark, index_dir):
    dmap: dict = {}
    for r in (spark.read.parquet(f"{index_dir}/dictionary")
              .groupBy("field", "term").agg(F.sum("df").alias("df"))
              .collect()):
        dmap.setdefault(r["field"], {})[r["term"]] = int(r["df"])
    return dmap


def _engines(spark, index_dir, dmap):
    """{resident: engine}: one engine opened under the dispatch bound (the
    index is driver-resident) and one opened with the bound just below the
    index's total postings (not resident)."""
    from liresolr_spark.api import LireQueryEngine

    total = sum(sum(m.values()) for m in dmap.values())
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(wand, "DRIVER_MAX_POSTINGS", total - 1)
        collect = LireQueryEngine(spark, index_dir)
    engines = {True: LireQueryEngine(spark, index_dir), False: collect}
    assert [e.resident for e in engines.values()] == [True, False]
    return engines


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


def _no_more_ranges(got):
    """The driver's one WAND run over every shard's blocks counts its
    docID ranges globally and keeps one theta, so it considers and visits
    no more ranges than the Spark path's per-shard runs together."""
    (d_total, d_visited), (s_total, s_visited) = (got["driver"][1],
                                                  got["spark"][1])
    assert d_total <= s_total and d_visited <= s_visited, (got["driver"][1],
                                                           got["spark"][1])


def test_wand_topk_two_paths(spark, pos_index, vocab, monkeypatch):
    d, dmap = pos_index
    rng = random.Random(7)
    for q, k in (([vocab[0], vocab[3]], 5),
                 ([vocab[-3], vocab[-3], vocab[-1], "zz_nope"], 20),
                 ([rng.choice(vocab) for _ in range(5)], 60)):
        got = _both_paths(monkeypatch, _wand_with_stats(spark, d, dmap, q, k))
        assert got["spark"][0] == got["driver"][0], q
        _no_more_ranges(got)
        want = [(r["docID"], r["score"]) for r in
                bm25_topk_from_index(spark, d, q, k=k).collect()]
        assert [r[0] for r in got["driver"][0]] == [w[0] for w in want]


def test_unloaded_readers_run_no_inference_job(spark, pos_index, vocab):
    """A public operator handed no pre-loaded reader builds its own with the
    files' schema (local_write.spark_reader), so it runs no
    schema-inference job: wand_topk with neither blocks nor a dictionary
    runs at most 4 jobs (6 with inferred readers), and a prefix, wildcard
    or fuzzy expansion over an unpinned dictionary at most 2 (3 with an
    inferred reader), each returning the pinned dictionary's expansion."""
    from liresolr_spark.operators.multiterm import (expand_fuzzy,
                                                    expand_prefix,
                                                    expand_wildcard)

    d, dmap = pos_index
    hits, n = _jobs_run(spark, lambda: wand_topk(
        spark, d, [vocab[0], vocab[3]], k=5).collect())
    assert hits and n <= 4, n
    term = next(t for t in vocab if t.isalnum() and t.islower()
                and len(t) >= 3)
    for expand, arg in ((expand_prefix, term[:2]),
                        (expand_wildcard, term[:2] + "*"),
                        (expand_fuzzy, term)):
        terms, n = _jobs_run(spark, lambda: expand(spark, d, arg))
        assert terms == expand(spark, d, arg, dictionary_map=dmap)
        assert terms and n <= 2, (expand.__name__, n)


def test_wand_pruning_two_paths(spark, prune_index, monkeypatch):
    d, dmap = prune_index
    terms = sorted(dmap["text"], key=lambda t: (-dmap["text"][t], t))
    q = ["zebraquux", terms[len(terms) // 2]]
    got = _both_paths(monkeypatch, _wand_with_stats(spark, d, dmap, q, 2))
    assert got["spark"][0] == got["driver"][0]
    _no_more_ranges(got)
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
    assert got["spark"][0] == got["driver"][0]
    _no_more_ranges(got)
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
    assert got["spark"][0] == got["driver"][0]
    _no_more_ranges(got)
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
    d, dmap = pos_index
    engines = _engines(spark, d, dmap)
    est = dmap["text"][vocab[0]] + dmap["text"][vocab[9]]
    for leg, (resident, bound) in LEGS.items():
        path = "spark" if leg == "spark" else "driver"
        eng = engines[resident]
        monkeypatch.setattr(wand, "DRIVER_MAX_POSTINGS", bound)
        eng.search(text=f"{vocab[0]} {vocab[9]} {vocab[0]}", rows=3).collect()
        assert eng.last_metrics["dispatch"] == path
        assert eng.last_metrics["postings_est"] == est
        assert eng.last_metrics["resident"] is resident
        eng.similar(vocab[0], rows=3).collect()
        assert eng.last_metrics["dispatch"] == path
        # no query term is in the dictionary: no kernel runs on any leg
        eng.search(text="qqqnotaterm zzzalsonot", rows=3).collect()
        assert eng.last_metrics["dispatch"] is None
        assert eng.last_metrics["postings_est"] == 0
    # one dispatch over the bound puts the whole request on Spark: the
    # MUST clause alone fits, the scored SHOULD+MUST set does not
    eng = engines[True]
    monkeypatch.setattr(wand, "DRIVER_MAX_POSTINGS", dmap["text"][vocab[0]])
    eng.search(text=vocab[0], rows=3).collect()
    assert eng.last_metrics["dispatch"] == "driver"
    eng.search(text=vocab[0], must=[vocab[9]], rows=3).collect()
    assert eng.last_metrics["dispatch"] == "spark"


def test_request_time_metrics(spark, pos_index, vocab):
    """Every request names the whole timed span RawDocsSearchTime_ms,
    keeps RawDocsSearchTime_planning_ms as an alias of it, and records
    whether its engine serves from a driver-resident snapshot."""
    d, dmap = pos_index
    for resident, eng in _engines(spark, d, dmap).items():
        for call in (lambda: eng.search(text=vocab[3], rows=3),
                     lambda: eng.function_sort("doclen", rows=3)):
            call().collect()
            m = eng.last_metrics
            assert m["RawDocsSearchTime_ms"] >= 0
            assert m["RawDocsSearchTime_planning_ms"] \
                == m["RawDocsSearchTime_ms"]
            assert m["resident"] is resident


# -- engine handlers: driver vs Spark dispatch -----------------------------

@pytest.fixture(scope="module")
def tomb_index(spark, corpus200, tmp_path_factory):
    """A positional two-segment index whose second segment overwrites ~1/5
    of the first one's docs (same repo/path, new commit and content), so
    the superseded docs are tombstoned."""
    from liresolr_spark.streaming.ingest import append_segment

    d = str(tmp_path_factory.mktemp("dispatch_tomb_index"))
    append_segment(corpus200, d, epoch_id=0, num_shards=4, block_size=32,
                   with_positions=True)
    over = (corpus200.filter(F.abs(F.hash("repo", "path")) % 5 == 0)
            .withColumn("commit", F.concat("commit", F.lit("-v2")))
            .withColumn("content", F.concat("content", F.lit(" revised"))))
    append_segment(over, d, epoch_id=1)
    return d, _dict_map(spark, d)


@pytest.fixture(scope="module", params=["plain", "tombstoned"])
def served(request, spark, corpus200, pos_index, tomb_index):
    """({resident: engine} (_engines), vocab by df desc, two indexed
    phrases) per index."""
    from liresolr_spark.functions.tokenizer import py_tokenize

    d, dmap = pos_index if request.param == "plain" else tomb_index
    engines = _engines(spark, d, dmap)
    for eng in engines.values():
        assert (eng._deny is not None) == (request.param == "tombstoned")
    vocab = sorted(dmap["text"], key=lambda t: (-dmap["text"][t], t))
    toks = [py_tokenize(r["content"]) for r in corpus200.limit(2).collect()]
    return engines, vocab, [" ".join(t[2:4]) for t in toks]


HANDLERS = {
    "search_start": lambda e, v, p: e.search(
        text=f"{v[0]} {v[5]} {v[-3]}", start=3, rows=5),
    "search_fq_fl_expr": lambda e, v, p: e.search(
        text=f"{v[1]} {v[7]}", fq="lang != 'go'", rows=6,
        fl_expr="concat(repo, '/', path)"),
    "search_fq_must": lambda e, v, p: e.search(
        text=v[2], fq="lang != 'js'", must=[v[4]], rows=6),
    "search_must_not": lambda e, v, p: e.search(
        text=f"{v[0]} {v[3]}", must_not=[v[-1]], start=1, rows=6),
    "search_hashes": lambda e, v, p: e.search(
        hashes=[py_hash_token(t) for t in (v[0], v[9], v[20])], rows=5),
    "search_doc_id": lambda e, v, p: e.search(doc_id=5, start=1, rows=4),
    "search_many": lambda e, v, p: e.search_many(
        {"a": v[0], "b": f"{v[3]} {v[-2]}", "c": "zz_nope"}, rows=4,
        fq="lang != 'java'", must_not=[v[-1]]),
    "prefix_search_many": lambda e, v, p: e.prefix_search_many(
        {"a": v[0][:2], "b": v[11][:3], "c": "zzq"}, rows=4),
    "prefix_search": lambda e, v, p: e.prefix_search(
        v[1][:2], start=2, rows=4, fq="lang != 'go'"),
    "wildcard_search": lambda e, v, p: e.wildcard_search(
        v[3][:2] + "*" + v[3][-1], rows=4),
    "fuzzy_search": lambda e, v, p: e.fuzzy_search(
        v[2][:-1] + "q", max_edits=1, rows=4),
    "phrase_search": lambda e, v, p: e.phrase_search(p[0], start=1, rows=4),
    "phrase_search_fq": lambda e, v, p: e.phrase_search(
        p[1], fq="lang != 'js'", rows=4),
    "phrase_search_many": lambda e, v, p: e.phrase_search_many(
        {"a": p[0], "b": p[1], "c": "zz_nope zz_nope"}, rows=3),
    "identity": lambda e, v, p: e.identity(
        f"{v[0]} {v[4]} {v[12]}", threshold=0.99, verify_threshold=0.99,
        rows=5),
    "similar": lambda e, v, p: e.similar(f"{v[1]} {v[6]}", rows=5),
    "empty_search": lambda e, v, p: e.search(
        text="zz_nope", rows=5, fl_expr="repo"),
    "empty_fuzzy": lambda e, v, p: e.fuzzy_search("qqqqqqqq", rows=4),
    "empty_search_many": lambda e, v, p: e.search_many({}, rows=4),
    "empty_phrase_search_many": lambda e, v, p: e.phrase_search_many({}),
}


@pytest.mark.parametrize("case", list(HANDLERS))
def test_engine_handlers_two_paths(served, monkeypatch, case):
    """Every kernel-backed handler returns identical full rows (payload,
    qid, dist, fval) on the three legs (LEGS): a resident engine's driver
    path, a non-resident engine's driver path and the Spark dispatch.
    Phrase scores are compared at 9 decimals (Spark's log is StrictMath,
    the driver's is libm) with an identical docID order."""
    engines, vocab, phrases = served
    got = {}
    for leg, (resident, bound) in LEGS.items():
        eng = engines[resident]
        monkeypatch.setattr(wand, "DRIVER_MAX_POSTINGS", bound)
        rows = [tuple(r) for r in HANDLERS[case](eng, vocab, phrases)
                .collect()]
        if case.startswith("phrase"):
            rows = [tuple(round(x, 9) if isinstance(x, float) else x
                          for x in r) for r in rows]
        if not case.startswith("empty"):  # an empty request is 0 postings
            want = "spark" if leg == "spark" else "driver"
            assert eng.last_metrics["dispatch"] == want, case
        assert eng.last_metrics["resident"] is resident
        got[leg] = rows
    assert got["spark"] == got["driver"] == got["resident"]
    assert bool(got["driver"]) != case.startswith("empty"), got["driver"]


KERNEL_CALLS = {
    "search": lambda e, v, p: e.search(text=f"{v[0]} {v[5]} {v[-3]}",
                                       fq="lang != 'go'", rows=5),
    "search_many": lambda e, v, p: e.search_many(
        {"a": v[0], "b": f"{v[3]} {v[-2]}"}, rows=4),
    "phrase_search": lambda e, v, p: e.phrase_search(p[0], rows=4),
    "search_must": lambda e, v, p: e.search(text=v[2], must=[v[4]], rows=6),
}


@pytest.mark.parametrize("case", list(KERNEL_CALLS))
def test_resident_request_calls_kernel_once(served, monkeypatch, case):
    """On a driver-resident engine a request calls each of its kernels
    ONCE, over every shard's blocks: one WAND (or phrase match) call, plus
    one AND call for a MUST clause. Its rows equal the forced-Spark leg's,
    which calls the same closures once per shard."""
    import liresolr_spark.operators.boolean as boolean
    import liresolr_spark.operators.phrase as phrase

    engines, vocab, phrases = served
    eng = engines[True]
    calls = []
    run = wand._run_shard_kernel

    def counting(spark, blocks, kernel, *args, **kwargs):
        def counted(*kargs):
            calls.append(kernel.__qualname__.split(".")[0])
            return kernel(*kargs)
        return run(spark, blocks, counted, *args, **kwargs)

    for mod in (wand, phrase, boolean):
        monkeypatch.setattr(mod, "_run_shard_kernel", counting)
    got = {}
    for leg in ("resident", "spark"):
        monkeypatch.setattr(wand, "DRIVER_MAX_POSTINGS", LEGS[leg][1])
        calls.clear()
        rows = [tuple(round(x, 9) if isinstance(x, float) else x for x in r)
                for r in KERNEL_CALLS[case](eng, vocab, phrases).collect()]
        got[leg] = (rows, list(calls))
    want = {"search_many": ["_shard_kernel_many"],
            "phrase_search": ["_positional_matches"],
            "search_must": ["_conjunctive_docids", "_wand_topk"]}
    assert got["resident"][1] == want.get(case, ["_wand_topk"])
    assert got["spark"][0] == got["resident"][0] and got["resident"][0]


@pytest.mark.parametrize("n", [0, 10])
def test_local_frame_runs_no_job(spark, n):
    """An Arrow local relation, empty or not, is built and collected
    without a Spark job and keeps the schema it was given."""
    import pandas as pd

    from liresolr_spark.frames import local_frame

    pdf = pd.DataFrame({"qid": [f"q{i}" for i in range(n)],
                        "docID": range(n),
                        "score": [0.5 * i for i in range(n)]})
    schema = "qid string, docID long, score double"
    rows, jobs = _jobs_run(
        spark, lambda: local_frame(spark, pdf, schema).collect())
    assert jobs == 0
    assert [tuple(r) for r in rows] == list(pdf.itertuples(index=False))
    assert local_frame(spark, pdf, schema).schema.simpleString() == \
        "struct<qid:string,docID:bigint,score:double>"


def test_driver_dispatched_job_counts(spark, pos_index, vocab, corpus200,
                                      monkeypatch):
    """Every engine handler returns an executed local relation: collecting
    the page runs no Spark job on any leg. A driver-resident engine runs
    NO Spark job for call + collect of a search, phrase_search,
    identity(verify_threshold=), similar, warm-fq search or
    search(doc_id=). On an engine that is not resident, a
    driver-dispatched search() or phrase_search() runs at most 2 — the
    pruned block collect and the page's payload fetch — and
    search(doc_id=) at most 4 (6 while its docstats shard lookup used
    `first()`, 7 before its blocks probe was given the files' schema).
    With every kernel
    on the Spark path, search() runs at most 3 and identity() with
    verify_threshold at most 5: the top-k is collected once, then one
    payload fetch."""
    from liresolr_spark.functions.tokenizer import py_tokenize

    engines = _engines(spark, *pos_index)
    phrase = " ".join(py_tokenize(corpus200.first()["content"])[2:4])
    fq = "lang != 'go'"

    def calls(eng):
        search = lambda: eng.search(text=f"{vocab[0]} {vocab[5]}", rows=5)
        identity = lambda: eng.identity(
            f"{vocab[0]} {vocab[4]} {vocab[12]}", threshold=0.99,
            verify_threshold=0.99, rows=5)
        return {
            "search": search,
            "phrase_search": lambda: eng.phrase_search(phrase, rows=5),
            "identity": identity,
            "similar": lambda: eng.similar(f"{vocab[1]} {vocab[6]}", rows=5),
            "search_fq": lambda: eng.search(text=vocab[2], fq=fq, rows=5),
            "search_doc_id": lambda: eng.search(doc_id=5, rows=4),
        }

    resident = calls(engines[True])
    resident["search_fq"]().collect()  # warm the fq cache entry
    legs = {
        "resident": (resident, dict.fromkeys(resident, 0)),
        "driver": (calls(engines[False]), {"search": 2, "phrase_search": 2,
                                           "search_doc_id": 4}),
        "spark": (calls(engines[False]), {"search": 3, "identity": 5}),
    }
    for leg, (handlers, bounded) in legs.items():
        eng = engines[leg == "resident"]
        path = "spark" if leg == "spark" else "driver"
        monkeypatch.setattr(wand, "DRIVER_MAX_POSTINGS", BOUNDS[path])
        for name, most in bounded.items():
            page, n_call = _jobs_run(spark, handlers[name])
            rows, n_collect = _jobs_run(spark, page.collect)
            assert eng.last_metrics["dispatch"] == path
            assert rows and n_call + n_collect <= most, (
                leg, name, n_call, n_collect)
            assert n_collect == 0


def test_unknown_term_reads_no_block(spark, pos_index, vocab, monkeypatch):
    """A phrase, or a MUST clause, with a term missing from the pinned
    dictionary cannot match: on an engine that is not resident it runs no
    kernel and no Spark job, and returns no rows."""
    eng = _engines(spark, *pos_index)[False]
    monkeypatch.setattr(wand, "DRIVER_MAX_POSTINGS", BOUNDS["driver"])
    for call in (lambda: eng.phrase_search(f"zz_nope {vocab[0]}", rows=5),
                 lambda: eng.search(text=vocab[0], must=["zz_nope"], rows=5)):
        page, n_call = _jobs_run(spark, call)
        rows, n_collect = _jobs_run(spark, page.collect)
        assert (rows, n_call + n_collect) == ([], 0)
        assert eng.last_metrics["dispatch"] is None


def test_refresh_keeps_resident_snapshot_exact(spark, corpus200,
                                               tmp_path_factory):
    """A resident engine refreshed after an append with overwrites serves
    exactly what a fresh, non-resident engine on the same directory
    serves: the new tombstones, df/N and docs are all in the rebuilt
    snapshot, and an fq allow-list cached before the refresh is not
    served after it."""
    from liresolr_spark.api import LireQueryEngine
    from liresolr_spark.streaming.ingest import append_segment

    d = str(tmp_path_factory.mktemp("dispatch_refresh_index"))
    append_segment(corpus200.limit(120), d, epoch_id=0, num_shards=4,
                   block_size=32, with_positions=True)
    eng = LireQueryEngine(spark, d)
    assert eng.resident and eng._deny is None
    fq = "lang != 'zz'"
    marker = "zebraquux"
    assert not eng.search(text=marker, fq=fq, rows=5).collect()
    assert fq in eng._fq_cache

    # overwrites of 30 indexed docs (each now holding the marker) plus 40
    # docs the index has not seen
    over = (corpus200.limit(30)
            .withColumn("commit", F.concat("commit", F.lit("-v2")))
            .withColumn("content", F.concat(
                "content", F.lit(f" {marker} revised"))))
    fresh = corpus200.subtract(corpus200.limit(120)).limit(40)
    append_segment(over.unionByName(fresh), d, epoch_id=1)
    eng.refresh()
    assert eng.resident and eng._deny is not None

    collect = _engines(spark, d, eng._dict_map)[False]
    vocab = sorted(eng._dict_map["text"],
                   key=lambda t: (-eng._dict_map["text"][t], t))
    requests = [
        lambda e: e.search(text=f"{vocab[0]} {vocab[7]} {marker}", rows=10),
        lambda e: e.search(text=marker, fq=fq, rows=10),
        lambda e: e.phrase_search(f"{marker} revised", rows=10),
    ]
    for request in requests:
        got = [tuple(r) for r in request(eng).collect()]
        assert got == [tuple(r) for r in request(collect).collect()]
        # only docs of the new segment hold the marker: the fq search
        # finds them only through an allow-list computed after the refresh
        assert got


def test_resident_open_and_refresh_run_no_job(spark, corpus200,
                                              tmp_path_factory):
    """Opening and refreshing a driver-resident engine run no Spark job —
    after a driver append with overwrites (tombstones) and after a segment
    merge — and neither does its fq miss, with or without tombstones: it
    filters a local relation of the docstats rows read at open."""
    from liresolr_spark.api import LireQueryEngine
    from liresolr_spark.plans.compact import compact_segments
    from liresolr_spark.streaming.ingest import append_segment

    d = str(tmp_path_factory.mktemp("dispatch_open_index"))
    append_segment(corpus200.limit(100), d, epoch_id=0, num_shards=4,
                   block_size=32, with_positions=True)
    eng, n_open = _jobs_run(spark, lambda: LireQueryEngine(spark, d))
    assert eng.resident and eng._deny is None and n_open == 0

    def fq_miss_jobs(fq):
        n = _jobs_run(spark, lambda: eng.search(
            text="import return", fq=fq, rows=5).collect())[1]
        assert eng.last_metrics["fq_tier"] == "snapshot"
        return n

    assert fq_miss_jobs("lang != 'zz'") == 0
    for rnd, n in ((1, 10), (2, 15)):
        over = (corpus200.limit(n)
                .withColumn("commit", F.concat("commit", F.lit(f"-v{rnd}"))))
        fresh = corpus200.subtract(corpus200.limit(100)).orderBy(
            "repo", "path").limit(n)
        res = append_segment(over.unionByName(fresh), d, epoch_id=rnd)
        assert res["write_path"] == "driver" and res["tombstoned_docs"]
        assert _jobs_run(spark, eng.refresh)[1] == 0
        assert eng.resident and eng._deny is not None
        assert fq_miss_jobs(f"lang != 'zz{rnd}'") == 0
    assert compact_segments(spark, d)["merged_docs"]
    assert _jobs_run(spark, eng.refresh)[1] == 0
    eng, n_open = _jobs_run(spark, lambda: LireQueryEngine(spark, d))
    assert eng.resident and n_open == 0
    assert fq_miss_jobs("lang != 'zz'") == 0
