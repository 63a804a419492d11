"""API surface tests: the /lireq, /lireId, /lireSim, lirefunc analogs
(SURVEY §3), driven through LireQueryEngine over a built index."""

from __future__ import annotations

import pytest

from liresolr_spark.api import LireQueryEngine
from liresolr_spark.oracle import brute_force_topk


@pytest.fixture(scope="module")
def engine(spark, corpus200, tmp_path_factory):
    from liresolr_spark.plans.build import build_index

    d = str(tmp_path_factory.mktemp("apiindex"))
    build_index(corpus200, d, num_shards=4, block_size=64)
    return LireQueryEngine(spark, d)


@pytest.fixture(scope="module")
def docs_local(spark, corpus200):
    from liresolr_spark.plans.build import NATURAL_KEY
    from liresolr_spark.sources.corpus import assign_doc_ids

    rows = assign_doc_ids(corpus200, NATURAL_KEY).select("docID", "content").collect()
    return [(r["docID"], r["content"]) for r in rows]


def test_search_text_matches_oracle(engine, docs_local):
    q = "readFile tokenBlock sortMerge"
    got = engine.search(text=q, rows=10).collect()
    want = brute_force_topk(docs_local, q, k=10)
    assert [(r["docID"], round(r["score"], 9)) for r in got] == [
        (d, round(s, 9)) for d, s in want
    ]
    assert {"repo", "path", "commit", "lang", "score"} <= set(got[0].asDict())
    assert engine.last_metrics["n_terms"] == 6  # camel-split


def test_search_pagination(engine):
    q = "import return def"
    page1 = [r["docID"] for r in engine.search(text=q, rows=10).collect()]
    page2 = [r["docID"] for r in engine.search(text=q, start=10, rows=10).collect()]
    full = [r["docID"] for r in engine.search(text=q, rows=20).collect()]
    assert page1 + page2 == full


def test_search_fq_filter(engine):
    hits = engine.search(text="import return", rows=50, fq="lang = 'python'").collect()
    assert len(hits) > 0
    assert all(r["lang"] == "python" for r in hits)


def test_search_by_hashes(engine, docs_local):
    from liresolr_spark.functions.tokenizer import py_hash_token, py_tokenize

    q = "readFile tokenBlock"
    hashes = [py_hash_token(t) for t in py_tokenize(q)]
    got = engine.search(hashes=hashes, rows=10).collect()
    want = brute_force_topk(docs_local, q, k=10, field="ha")
    assert [(r["docID"], round(r["score"], 9)) for r in got] == [
        (d, round(s, 9)) for d, s in want
    ]


def test_search_by_example(engine):
    got = engine.search(doc_id=5, rows=10).collect()
    assert len(got) == 10
    assert all(r["docID"] != 5 for r in got)  # example excluded


def test_random_sample_seeded(engine):
    a = [r["docID"] for r in engine.search(rows=15).collect()]
    b = [r["docID"] for r in engine.search(rows=15).collect()]
    assert a == b  # deterministic under fixed seed
    assert len(set(a)) == 15


def test_subsample_deterministic(engine):
    q = "readFile tokenBlock sortMerge dataNode hash_map"
    a = [r["docID"] for r in engine.search(text=q, subsample=0.5).collect()]
    b = [r["docID"] for r in engine.search(text=q, subsample=0.5).collect()]
    assert a == b  # seeded subsampling, unlike ref's unseeded shuffle


def test_identity_threshold(engine):
    out = engine.identity("import return def public", threshold=0.999).collect()
    assert all(r["dist"] < 0.999 for r in out)


def test_similar_dual_field(engine):
    out = engine.similar("readFile tokenBlock", rows=10).collect()
    assert 0 < len(out) <= 10
    ids = [r["docID"] for r in out]
    assert len(ids) == len(set(ids))  # deduped pool


def test_function_sort(engine):
    out = engine.function_sort("abs(doclen - 2000)", rows=5).collect()
    vals = [r["fval"] for r in out]
    assert vals == sorted(vals)


def test_max_clause_guard(engine):
    with pytest.raises(ValueError):
        engine.search(text=" ".join(f"t{i}" for i in range(10001)))


def test_search_many_rank_identical(engine, docs_local):
    """Batched serving path: one job for Q queries must return, per query,
    exactly the same top-k (ids AND scores) as the per-query path."""
    queries = {
        "q_a": "readFile tokenBlock sortMerge",
        "q_b": "import return def public",
        "q_c": "dataNode hash_map",
        "q_d": "zzz_nothing_matches",
    }
    batched = engine.search_many(queries, rows=15).collect()
    assert engine.last_metrics["n_queries"] == 4
    by_qid: dict[str, list] = {}
    for r in batched:
        by_qid.setdefault(r["qid"], []).append((r["docID"], round(r["score"], 9)))
    for qid, text in queries.items():
        want = [(r["docID"], round(r["score"], 9))
                for r in engine.search(text=text, rows=15).collect()]
        assert by_qid.get(qid, []) == want, qid
        if qid == "q_a":  # a batch of one runs the WAND kernel
            one = [(r["docID"], round(r["score"], 9)) for r in
                   engine.search_many({qid: text}, rows=15).collect()]
            assert one == want


def test_search_many_fq_rank_identical(engine):
    """Batched serving with ONE shared filter (the dashboard pattern):
    per-qid results must equal the per-query fq path exactly, and every
    row must satisfy the filter."""
    queries = {"q_a": "readFile tokenBlock sortMerge",
               "q_b": "import return def public"}
    fq = "lang = 'python'"
    batched = engine.search_many(queries, rows=10, fq=fq).collect()
    assert batched and all(r["lang"] == "python" for r in batched)
    by_qid: dict[str, list] = {}
    for r in batched:
        by_qid.setdefault(r["qid"], []).append(
            (r["docID"], round(r["score"], 9)))
    for qid, text in queries.items():
        want = [(r["docID"], round(r["score"], 9))
                for r in engine.search(text=text, fq=fq, rows=10).collect()]
        assert by_qid.get(qid, []) == want, qid


def test_search_many_boolean_rank_identical(engine):
    """Batched serving with ONE shared boolean restriction (must/must_not
    pushed into the batched kernel as docID masks, MUST also scoring):
    per-qid results must equal the per-query boolean path exactly."""
    queries = {"q_a": "readFile tokenBlock sortMerge",
               "q_b": "import return def public"}
    must, must_not = ["return"], ["public"]
    batched = engine.search_many(queries, rows=10, must=must,
                                 must_not=must_not).collect()
    by_qid: dict[str, list] = {}
    for r in batched:
        by_qid.setdefault(r["qid"], []).append(
            (r["docID"], round(r["score"], 9)))
    any_rows = False
    for qid, text in queries.items():
        want = [(r["docID"], round(r["score"], 9))
                for r in engine.search(text=text, must=must,
                                       must_not=must_not, rows=10).collect()]
        assert by_qid.get(qid, []) == want, qid
        any_rows = any_rows or bool(want)
    assert any_rows  # the restriction must actually pass something


def test_prefix_search_many_rank_identical(engine):
    """Batched prefix serving: per-qid results equal prefix_search; an
    unmatched prefix contributes no rows (and is counted in metrics)."""
    prefixes = {"p_a": "re", "p_b": "s", "p_c": "zzqq"}
    batched = engine.prefix_search_many(prefixes, rows=10,
                                        max_expansions=4).collect()
    m = dict(engine.last_metrics)
    assert m["n_queries"] == 3 and m["n_expanded"] == 2
    by_qid: dict[str, list] = {}
    for r in batched:
        by_qid.setdefault(r["qid"], []).append(
            (r["docID"], round(r["score"], 9)))
    assert "p_c" not in by_qid
    for qid, p in prefixes.items():
        want = [(r["docID"], round(r["score"], 9))
                for r in engine.prefix_search(p, rows=10,
                                              max_expansions=4).collect()]
        assert by_qid.get(qid, []) == want, qid


def test_refresh_sees_appended_segment(spark, corpus200, tmp_path_factory):
    """A live engine serves a consistent snapshot until refresh(); after a
    committed append + refresh it must serve the union with updated stats."""
    import pyspark.sql.functions as F

    from liresolr_spark.streaming.ingest import append_segment

    d = str(tmp_path_factory.mktemp("refreshidx"))
    half1 = corpus200.filter(F.abs(F.hash("repo", "path", "commit")) % 2 == 0)
    half2 = corpus200.filter(F.abs(F.hash("repo", "path", "commit")) % 2 == 1)
    append_segment(half1, d, epoch_id=0, num_shards=2, block_size=64)
    eng = LireQueryEngine(spark, d)
    n_before = eng.meta.n_docs
    append_segment(half2, d, epoch_id=1)
    # stale until reopened — the cached snapshot is still the old commit
    assert eng.meta.n_docs == n_before
    eng.refresh()
    assert eng.meta.n_docs > n_before
    hits = eng.search(text="import return", rows=50).collect()
    assert len(hits) > 0


def test_identity_dual_threshold_cascade(engine):
    """Two-phase identity: phase-1 hash-field pool under threshold, phase-2
    exact lexical verification under a second threshold (the reference's
    CL-then-SURF cascade). The verified set must be a subset of the
    phase-1-only set, every row must pass the verify anti-filter, and
    ordering must follow the verify distance."""
    q = "readFile tokenBlock sortMerge"
    phase1_only = engine.identity(q, threshold=0.9999, rows=50).collect()
    assert len(phase1_only) > 0
    verify_t = sorted(r["dist"] for r in phase1_only)[len(phase1_only) // 2]
    both = engine.identity(q, threshold=0.9999, verify_threshold=verify_t,
                           rows=50).collect()
    assert 0 < len(both) <= len(phase1_only)
    assert all(r["dist"] < verify_t for r in both)
    dists = [r["dist"] for r in both]
    assert dists == sorted(dists)
    assert set(r["docID"] for r in both) <= set(
        r["docID"] for r in phase1_only)


def test_fl_expr_projection(engine):
    """lirefunc as a PROJECTION column (fl= analog), including the F9
    URL-encode: the expression is evaluated over the projected fields."""
    out = engine.search(text="readFile tokenBlock", rows=5,
                        fl_expr="url_encode(concat(repo, '/', path))").collect()
    assert len(out) > 0
    for r in out:
        assert r["fval"] == r["repo"].replace("/", "%2F") + "%2F" + \
            r["path"].replace("/", "%2F")


def test_dedup_components_closes_chains(spark):
    """A~B, B~C verified (J=0.5 each) but A!~C (J=0.2): greedy keeplist
    leaves the chain ambiguous (C's dup_of is the also-dropped B);
    component semantics keep exactly the min id of the whole chain.
    Token labels chosen so the 2-band/4-hash LSH deterministically
    collides on both chain edges (md5 construction is engine-stable)."""
    from liresolr_spark.ops.dedup import dedup_components, dedup_keeplist

    A = ['w16996', 'w642549', 'w615592', 'w120952', 'w510073', 'w351556',
         'w86374', 'w340079']
    B = ['w615592', 'w120952', 'w510073', 'w351556', 'w86374', 'w340079',
         'w886128', 'w254841']
    C = ['w510073', 'w351556', 'w86374', 'w340079', 'w886128', 'w254841',
         'w660757', 'w199626']
    rows = [(0, " ".join(A)), (1, " ".join(B)), (2, " ".join(C)),
            (3, "completely unrelated text about nothing shared")]
    df = spark.createDataFrame(rows, "id long, text string")

    comp = {r["id"]: (r["keep"], r["root"])
            for r in dedup_components(df, "id", "text").collect()}
    assert comp == {0: (True, 0), 1: (False, 0), 2: (False, 0),
                    3: (True, 3)}

    greedy = {r["id"]: (r["keep"], r["dup_of"])
              for r in dedup_keeplist(df, "id", "text").collect()}
    # greedy drops C against B even though B itself is dropped — the gap
    # component closure fixes
    assert greedy[2] == (False, 1) and greedy[1] == (False, 0)


def test_no_query_search_is_one_request(engine):
    """search() with no query dispatches to the random sample (ref:
    handleRandomSearch) as ONE request: numRequests grows by exactly 1,
    and last_metrics holds this request's figures, not the previous
    request's."""
    engine.search(text="read file", rows=3).collect()
    before = engine.request_stats["numRequests"]
    assert len(engine.search(rows=3).collect()) == 3
    assert engine.request_stats["numRequests"] == before + 1
    m = engine.last_metrics
    assert m["dispatch"] is None and "n_terms" not in m
    assert m["RawDocsSearchTime_planning_ms"] >= 0


def test_request_counters_and_function_sort_degrade(spark, corpus200,
                                                    tmp_path_factory):
    """Cumulative numRequests/numErrors/totalTime counters (ref:
    LireRequestHandler.java:51-53,568-574) and the lirefunc missing-value
    degrade (ref: LireValueSource.java:111-134 constant maxDistance)."""
    from liresolr_spark.api import LireQueryEngine
    from liresolr_spark.plans.build import build_index

    d = str(tmp_path_factory.mktemp("cnt")) + "/ix"
    build_index(corpus200, d, num_shards=4, block_size=64,
                with_hash_tokens=False)
    eng = LireQueryEngine(spark, d, pin_blocks=False)
    eng.search(text="read file", rows=3).count()
    eng.similar("read file", rows=3).count()
    with __import__("pytest").raises(Exception):
        eng.search(text=" ".join(f"t{i}" for i in range(20001)))
    st = eng.request_stats
    assert st["numRequests"] == 3 and st["numErrors"] == 1
    assert st["totalTime_ms"] > 0

    # degrade: an expression NULL for some docs takes the default constant
    out = eng.function_sort(
        "CASE WHEN lang = 'python' THEN doclen END",
        rows=200, ascending=True, default=1e9).collect()
    assert all(r["fval"] is not None for r in out)
    assert any(r["fval"] == 1e9 for r in out)  # non-python docs degraded
    # and identity() on a hash-less index falls back instead of zero rows
    hits = eng.identity("read file data", threshold=0.999)
    assert hits.count() > 0
