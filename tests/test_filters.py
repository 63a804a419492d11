"""Persisted filter artifacts (plans/filters.py): the warmed tier of the
fq cache. Gates: artifact-served results are identical to on-the-fly fq,
both allow- and deny-mode; stale artifacts are never served; tombstones
stay excluded when the artifact pre-dates them; commit is atomic."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

import liresolr_spark.operators.wand as wand
from liresolr_spark.api import LireQueryEngine
from liresolr_spark.plans.build import build_index
from liresolr_spark.plans.filters import (
    artifact_side,
    build_filter_artifact,
    drop_filter_artifact,
    load_filter_manifests,
    meta_fingerprint,
    read_filter_artifact,
)
from liresolr_spark.session import jobs_run
from liresolr_spark.sources.corpus import synthetic_code_corpus


@pytest.fixture(scope="module")
def idx(spark, corpus200, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("filters_idx"))
    build_index(corpus200, d, num_shards=4, block_size=64)
    return d


def _ranked(rows):
    return [(r["docID"], round(r["score"], 9)) for r in rows]


def test_modes_pick_the_smaller_side(spark, idx):
    stats = spark.read.parquet(f"{idx}/docstats")
    langs = {r["lang"]: r["n"] for r in
             stats.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    total = sum(langs.values())
    minority = min(langs, key=langs.get)
    m1 = build_filter_artifact(spark, idx, "minority", f"lang = '{minority}'")
    assert m1["mode"] == "allow" and m1["rows_stored"] == langs[minority]
    m2 = build_filter_artifact(spark, idx, "majority", f"lang <> '{minority}'")
    assert m2["mode"] == "deny"
    assert m2["rows_stored"] == langs[minority]  # stores the complement
    assert m2["n_matched"] == total - langs[minority]
    for name in ("minority", "majority"):
        df, m = read_filter_artifact(spark, idx, name)
        assert df.count() == m["rows_stored"]


def _served(spark, eng, q, fq):
    """(ranked page, Spark jobs run, fq tier) of one fq search."""
    rows, n = jobs_run(spark, lambda: eng.search(text=q, fq=fq,
                                                 rows=10).collect())
    return _ranked(rows), n, eng.last_metrics["fq_tier"]


def test_artifact_serving_matches_scan_both_modes(spark, idx, monkeypatch):
    """Artifact-served pages equal the docstats-computed ones, allow- and
    deny-mode. The driver-resident engine resolves both the fq miss and
    the artifact with no Spark job; an engine that is not resident serves
    the same pages through its Spark tiers. last_metrics["fq_tier"] names
    the tier each time."""
    q = "readFile tokenBlock sortMerge"
    fq_allow = "lang = 'python'"
    fq_deny = "doclen >= 10"  # matches nearly everything -> deny mode
    eng = LireQueryEngine(spark, idx)  # no artifacts yet
    assert eng.resident
    want_allow, n, tier = _served(spark, eng, q, fq_allow)
    assert (n, tier) == (0, "snapshot")
    want_deny, n, tier = _served(spark, eng, q, fq_deny)
    assert (n, tier) == (0, "snapshot")
    assert want_allow and want_deny
    assert _served(spark, eng, q, fq_allow) == (want_allow, 0, "cache")
    eng.search(text=q, rows=10)
    assert eng.last_metrics["fq_tier"] is None

    ma = build_filter_artifact(spark, idx, "flt-allow", fq_allow)
    md = build_filter_artifact(spark, idx, "flt-deny", fq_deny)
    assert ma["mode"] == "allow" and md["mode"] == "deny"
    eng2 = LireQueryEngine(spark, idx, pin_blocks=False)
    assert fq_allow in eng2._filter_by_predicate
    assert fq_deny in eng2._filter_by_predicate
    assert _served(spark, eng2, q, fq_allow) == (want_allow, 0, "artifact")
    assert _served(spark, eng2, q, fq_deny) == (want_deny, 0, "artifact")
    # the artifact side landed in the fq cache (no docstats scan next time)
    allow_df, deny_df = eng2._fq_cache[fq_allow]
    assert allow_df is not None and deny_df is None
    allow_df, deny_df = eng2._fq_cache[fq_deny]
    assert allow_df is None and deny_df is not None

    with monkeypatch.context() as mp:
        mp.setattr(wand, "DRIVER_MAX_POSTINGS", 0)
        spark_eng = LireQueryEngine(spark, idx)
    assert not spark_eng.resident
    for fq, want in ((fq_allow, want_allow), (fq_deny, want_deny)):
        assert _served(spark, spark_eng, q, fq)[::2] == (want, "artifact")
    assert _served(spark, spark_eng, q, "lang = 'go'")[2] == "spark"


def test_artifact_fq_on_engine_not_resident_reads_with_schema(
        spark, idx, monkeypatch):
    """An engine that is not resident reads an fq's artifact with the
    artifact's known schema (plans/filters.artifact_side), so resolving
    the fq runs no schema-inference job: an artifact-backed fq search runs
    at most 3 Spark jobs with its kernel in the driver and 5 with it on
    Spark (4 and 6 with an inferring reader)."""
    q, fq = "readFile tokenBlock sortMerge", "lang = 'python' AND doclen > 0"
    build_filter_artifact(spark, idx, "flt-schema", fq)
    side = artifact_side(spark, f"{idx}/filters/flt-schema/data")
    assert side.schema.simpleString() == "struct<shard:int,docID:bigint>"
    try:
        with monkeypatch.context() as mp:
            mp.setattr(wand, "DRIVER_MAX_POSTINGS", 0)
            eng = LireQueryEngine(spark, idx, pin_blocks=False)
        assert not eng.resident
        want = None
        for bound, most in ((10**12, 3), (0, 5)):
            eng._drop_fq_cache()
            monkeypatch.setattr(wand, "DRIVER_MAX_POSTINGS", bound)
            page, n, tier = _served(spark, eng, q, fq)
            assert tier == "artifact" and page and n <= most, (bound, n)
            assert want in (None, page)
            want = page
    finally:
        drop_filter_artifact(idx, "flt-schema")


def test_stale_artifact_ignored_after_index_mutation(spark, idx, corpus200,
                                                     tmp_path_factory):
    from liresolr_spark.streaming.ingest import append_segment

    d = str(tmp_path_factory.mktemp("filters_stale"))
    build_index(corpus200, d, num_shards=4, block_size=64)
    fq = "lang = 'python'"
    build_filter_artifact(spark, d, "pyflt", fq)
    assert load_filter_manifests(d)["pyflt"]["fresh"]
    fp_before = meta_fingerprint(d)

    extra = synthetic_code_corpus(spark, 40, seed=99).withColumn(
        "repo", F.concat(F.lit("extra/"), F.col("repo")))
    append_segment(extra, d, epoch_id=1)
    assert meta_fingerprint(d) != fp_before
    assert not load_filter_manifests(d)["pyflt"]["fresh"]
    with pytest.raises(ValueError, match="stale"):
        read_filter_artifact(spark, d, "pyflt")
    # the engine falls back to the scan and still answers correctly:
    # every hit satisfies the fq, including docs from the NEW segment
    eng = LireQueryEngine(spark, d, pin_blocks=False)
    assert fq not in eng._filter_by_predicate
    rows = eng.search(text="readFile bufPack", fq=fq, rows=20).collect()
    assert rows and all(r["lang"] == "python" for r in rows)
    # rebuild re-freshens
    build_filter_artifact(spark, d, "pyflt", fq)
    assert load_filter_manifests(d)["pyflt"]["fresh"]


def test_artifact_predates_tombstones_still_excludes_them(
        spark, corpus200, tmp_path_factory):
    """Allow-mode artifact built BEFORE an overwrite: the superseded doc is
    in the artifact's allow side, but the kernel's deny precedence keeps it
    out of results — and the artifact is stale anyway (meta changed), so
    this guards the raw read_filter_artifact path used by power users."""
    from liresolr_spark.streaming.ingest import append_segment

    d = str(tmp_path_factory.mktemp("filters_tomb"))
    build_index(corpus200, d, num_shards=4, block_size=64)
    fq = "lang = 'python'"
    build_filter_artifact(spark, d, "pyflt", fq)
    side, m = read_filter_artifact(spark, d, "pyflt")
    # overwrite one python doc (same natural key, new commit)
    stats = spark.read.parquet(f"{d}/docstats")
    victim = stats.filter(F.col("lang") == "python").orderBy("docID").first()
    upd = (corpus200.filter((F.col("repo") == victim["repo"])
                            & (F.col("path") == victim["path"]))
           .withColumn("commit", F.concat(F.col("commit"), F.lit("_v2"))))
    append_segment(upd, d, epoch_id=7)
    from liresolr_spark.operators.wand import wand_topk
    from liresolr_spark.plans.build import load_tombstones

    deny = load_tombstones(spark, d).select("shard", "docID")
    assert deny.filter(F.col("docID") == victim["docID"]).count() == 1
    hits = wand_topk(spark, d, ["def", "return"], k=200,
                     allow_docids=side, deny_docids=deny).collect()
    got_ids = {r["docID"] for r in hits}
    assert victim["docID"] not in got_ids


def test_refresh_rebuilds_only_stale(spark, corpus200, tmp_path_factory):
    """refresh_filter_artifacts is the newSearcher warming hook: after an
    index mutation it rebuilds exactly the stale artifacts (skipping fresh
    ones) and the rebuilt artifact covers the NEW segment's docs."""
    from liresolr_spark.plans.filters import refresh_filter_artifacts
    from liresolr_spark.streaming.ingest import append_segment

    d = str(tmp_path_factory.mktemp("filters_refresh"))
    build_index(corpus200, d, num_shards=4, block_size=64)
    build_filter_artifact(spark, d, "pyflt", "lang = 'python'")
    extra = synthetic_code_corpus(spark, 40, seed=99).withColumn(
        "repo", F.concat(F.lit("extra/"), F.col("repo")))
    append_segment(extra, d, epoch_id=1)
    build_filter_artifact(spark, d, "goflt", "lang = 'go'")  # fresh already
    assert not load_filter_manifests(d)["pyflt"]["fresh"]

    assert refresh_filter_artifacts(spark, d) == {
        "goflt": "fresh", "pyflt": "rebuilt"}
    ms = load_filter_manifests(d)
    assert ms["pyflt"]["fresh"] and ms["goflt"]["fresh"]
    # the rebuilt allow side now includes new-segment python docs
    side, m = read_filter_artifact(spark, d, "pyflt")
    stats = spark.read.parquet(f"{d}/docstats")
    n_py = stats.filter(F.col("lang") == "python").count()
    assert m["n_matched"] == n_py
    # named subset restricts the scope
    append_segment(extra.withColumn(
        "repo", F.concat(F.lit("x2/"), F.col("repo"))), d, epoch_id=2)
    assert refresh_filter_artifacts(spark, d, names=["goflt"]) == {
        "goflt": "rebuilt"}
    assert not load_filter_manifests(d)["pyflt"]["fresh"]

    # engine-level warming: refresh(rebuild_filters=True) re-materializes
    # the stale artifact before the caches rebuild, so the reopened engine
    # serves the fq through the artifact (no docstats scan) immediately
    eng = LireQueryEngine(spark, d, pin_blocks=False)
    assert "lang = 'python'" not in eng._filter_by_predicate  # stale: unusable
    eng.refresh(rebuild_filters=True)
    assert load_filter_manifests(d)["pyflt"]["fresh"]
    assert "lang = 'python'" in eng._filter_by_predicate
    rows = eng.search(text="readFile bufPack", fq="lang = 'python'",
                      rows=20).collect()
    assert rows and all(r["lang"] == "python" for r in rows)


def test_atomic_commit_and_drop(spark, idx):
    root = f"{idx}/filters"
    # a leftover .tmp dir (crashed build) is invisible to manifests
    os.makedirs(f"{root}/crashed.tmp", exist_ok=True)
    with open(f"{root}/crashed.tmp/filter.json", "w") as f:
        json.dump({"name": "crashed", "predicate": "1=1", "mode": "allow",
                   "fingerprint": "x"}, f)
    assert "crashed" not in load_filter_manifests(idx)
    # rebuild over an existing name replaces it atomically
    m = build_filter_artifact(spark, idx, "minority",
                              "lang = 'python'")
    assert load_filter_manifests(idx)["minority"]["predicate"] == m["predicate"]
    assert drop_filter_artifact(idx, "minority")
    assert "minority" not in load_filter_manifests(idx)
    assert not drop_filter_artifact(idx, "minority")
    with pytest.raises(FileNotFoundError):
        read_filter_artifact(spark, idx, "minority")


def test_concurrent_commit_fails_stale_safe(spark, idx, monkeypatch):
    """An index commit landing between the artifact's docstats scan and its
    manifest write must NOT produce an artifact stamped fresh against the
    new commit (silently-served-stale): the build re-verifies the
    fingerprint after the data write and fails without committing."""
    import liresolr_spark.plans.filters as pf

    real = pf.meta_fingerprint
    calls = {"n": 0}

    def racing(index_dir):
        calls["n"] += 1
        # second call = the post-write re-check: simulate a commit landing
        # mid-build by returning a different fingerprint
        return real(index_dir) if calls["n"] == 1 else "f" * 32

    monkeypatch.setattr(pf, "meta_fingerprint", racing)
    with pytest.raises(RuntimeError, match="committed while"):
        build_filter_artifact(spark, idx, "racy", "lang = 'python'")
    monkeypatch.setattr(pf, "meta_fingerprint", real)
    assert "racy" not in load_filter_manifests(idx)  # nothing committed
    assert not os.path.isdir(f"{idx}/filters/racy.tmp")  # staging cleaned


def test_bad_name_rejected(spark, idx):
    with pytest.raises(ValueError):
        build_filter_artifact(spark, idx, "Bad Name!", "lang = 'python'")
