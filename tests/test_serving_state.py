"""The serving state a driver-resident engine reads with pyarrow
(api.LireQueryEngine._open) against what Spark reads from the same index
dir: the same rows (the file-set rule: pyarrow's '.'/'_' ignore prefixes
hide what Spark's file index hides), the Spark readers' given schemas
against the inferred ones, an engine that skips refresh() keeping its
snapshot, the compaction-marker gate, and
the MAX_DRIVER_DICT_TERMS pin rule with its exact Spark fallback."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest
from test_dispatch import _jobs_run

import liresolr_spark.operators.wand as wand
from liresolr_spark.api import LireQueryEngine
from liresolr_spark.plans.build import build_index, load_tombstones
from liresolr_spark.plans.compact import compact_segments
from liresolr_spark.plans.local_write import read_table, reader_schema
from liresolr_spark.streaming.ingest import append_segment


def _overwrites(corpus, n):
    """The first n docs of `corpus` re-added under a new commit."""
    return corpus.limit(n).withColumn("commit", F.concat("commit",
                                                         F.lit("-v2")))


def _rows(df, columns):
    return sorted(tuple(r) for r in df.select(*columns).collect())


def _assert_state_matches_spark(spark, d, eng):
    """Every part of the engine's pyarrow serving state equals the rows a
    Spark reader of the same dir collects."""
    assert eng.resident
    cols = wand.BlockSnapshot.COLUMNS
    blocks = spark.read.parquet(f"{d}/blocks")
    assert sorted(eng._blocks.rows[cols].itertuples(index=False, name=None)
                  ) == _rows(blocks, cols)
    docs = reader_schema("docstats").names
    assert list(eng._docs.columns) == docs
    assert list(eng._docs.itertuples(index=False, name=None)) == sorted(
        _rows(spark.read.parquet(f"{d}/docstats"), docs),
        key=lambda r: r[docs.index("docID")])
    merged = (spark.read.parquet(f"{d}/dictionary").groupBy("field", "term")
              .agg(F.sum("df")).collect())
    assert eng._dict_map == {
        f: {r[1]: r[2] for r in merged if r[0] == f} for f, *_ in merged}
    tombs = load_tombstones(spark, d)
    want = [] if tombs is None else sorted(set(_rows(tombs,
                                                     ["shard", "docID"])))
    got = [] if eng._deny is None else sorted(
        eng._deny.itertuples(index=False, name=None))
    assert got == want


def test_pyarrow_state_matches_spark_readers(spark, corpus200,
                                             tmp_path_factory, monkeypatch):
    """Spark-written dirs (with `.crc` sidecars and `_SUCCESS`), a
    driver-written segment and a tombstones dir holding only empty segment
    files, then tombstone rows: the pyarrow state equals Spark's rows. A
    live compaction marker makes _open() raise before any parquet read."""
    d = str(tmp_path_factory.mktemp("serving_state_index"))
    build_index(corpus200.limit(100), d, num_shards=4, block_size=32,
                with_positions=True)
    rest = corpus200.subtract(corpus200.limit(100)).cache()
    with monkeypatch.context() as mp:
        mp.setattr(wand, "DRIVER_MAX_POSTINGS", 0)
        assert append_segment(rest.limit(20), d)["write_path"] == "spark"
    fresh = rest.subtract(rest.limit(20)).limit(20)
    res = append_segment(fresh, d)
    assert (res["write_path"], res["tombstoned_docs"]) == ("driver", 0)
    assert any(f.endswith(".crc") for f in os.listdir(f"{d}/blocks"))
    assert "_SUCCESS" in os.listdir(f"{d}/tombstones")
    empty = f"{d}/tombstones/seg=99"
    os.makedirs(empty)
    pq.write_table(pa.schema([("docID", pa.int64()), ("shard", pa.int32())])
                   .empty_table(), f"{empty}/part-00000.parquet")

    eng = LireQueryEngine(spark, d)
    assert eng._deny is None
    _assert_state_matches_spark(spark, d, eng)

    assert append_segment(_overwrites(corpus200, 15), d)["tombstoned_docs"]
    eng.refresh()
    assert eng._deny is not None
    _assert_state_matches_spark(spark, d, eng)

    def no_read(*a, **k):
        raise AssertionError("parquet read under a live compaction marker")

    marker = f"{d}/compact_segments.json"
    with open(marker, "w") as f:
        json.dump({"pid": os.getpid()}, f)
    try:
        monkeypatch.setattr(ds, "dataset", no_read)
        with pytest.raises(RuntimeError, match="partial compaction"):
            eng.refresh()
        with pytest.raises(RuntimeError, match="partial compaction"):
            LireQueryEngine(spark, d)
    finally:
        os.remove(marker)


def test_reader_schemas_match_inferred(spark, corpus200, tmp_path_factory):
    """Each Spark reader an engine opens carries the schema Spark would infer
    from its dir, on a built, an appended and a compacted index."""
    d = str(tmp_path_factory.mktemp("reader_schema_index"))

    def check():
        eng = LireQueryEngine(spark, d)
        assert eng.resident
        readers = {"blocks": eng._blocks.df, "docstats": eng._docstats_df,
                   "dictionary": eng._dictionary}
        for artifact, reader in readers.items():
            assert (reader.schema
                    == spark.read.parquet(f"{d}/{artifact}").schema), artifact
        tombs = load_tombstones(spark, d)
        if tombs is not None and tombs.head(1):
            assert tombs.schema == spark.read.parquet(f"{d}/tombstones").schema

    build_index(corpus200.limit(80), d, num_shards=4, block_size=32,
                with_positions=True)
    check()
    append_segment(_overwrites(corpus200, 20), d)
    append_segment(_overwrites(corpus200, 10)
                   .withColumn("commit", F.concat("commit", F.lit("-v3"))), d)
    check()
    assert compact_segments(spark, d)["merged_docs"]
    check()


def test_unrefreshed_engine_keeps_its_snapshot(spark, corpus200,
                                               tmp_path_factory):
    """An engine that skips refresh() answers from the commit it opened:
    after an append, an fq miss and its Spark fallbacks (random_sample,
    function_sort) return what an engine opened at that commit returns.
    After compact_segments, which deletes the merged files, an fq miss
    still does — it filters the docstats rows read at open — while the
    fallbacks raise: never rows of a later commit."""
    d = str(tmp_path_factory.mktemp("stale_engine_index"))
    build_index(corpus200.limit(100), d, num_shards=4, block_size=32,
                with_positions=True)
    append_segment(_overwrites(corpus200, 10), d)

    def fq_leg(eng, fq):
        rows = [tuple(r) for r in eng.search(
            text="import return", fq=fq, rows=50).collect()]
        assert eng.last_metrics["fq_tier"] == "snapshot"
        return rows

    def answers(eng):
        return [fq_leg(eng, "lang != 'zz'")] + [
            [tuple(r) for r in df.collect()] for df in (
                eng.random_sample(rows=500),
                eng.function_sort("doclen", rows=500))]

    before = answers(LireQueryEngine(spark, d))
    stale = LireQueryEngine(spark, d)
    assert stale.resident and stale._deny is not None
    fresh = corpus200.subtract(corpus200.limit(100)).orderBy(
        "repo", "path").limit(20)
    res = append_segment(_overwrites(corpus200, 15).withColumn(
        "commit", F.concat("commit", F.lit("-v3"))).unionByName(fresh), d)
    assert res["tombstoned_docs"]
    staler = LireQueryEngine(spark, d)
    between = answers(LireQueryEngine(spark, d))
    assert answers(stale) == before and between != before
    assert compact_segments(spark, d)["merged_docs"]
    for eng, want in ((stale, before), (staler, between)):
        # an fq string neither engine has cached, matching every doc as
        # the one `want` was answered under
        assert fq_leg(eng, "lang != 'zy'") == want[0]
        for fallback in (lambda: eng.random_sample(rows=500),
                         lambda: eng.function_sort("doclen", rows=500)):
            with pytest.raises(Exception, match="FILE_NOT_EXIST"):
                fallback().collect()


def test_fq_snapshot_matches_spark_scan(spark, corpus200, tmp_path_factory,
                                       monkeypatch):
    """On a tombstoned index, a resident engine's fq misses (filtered over
    its docstats snapshot, no Spark job) resolve to the allow-lists and
    pages of a non-resident engine's docstats scan, for predicates over
    every docstats column, a NULL-yielding one included; an invalid fq
    raises on both engines, every time, and never yields a page."""
    d = str(tmp_path_factory.mktemp("fq_snapshot_index"))
    build_index(corpus200.limit(100), d, num_shards=4, block_size=32)
    assert append_segment(_overwrites(corpus200, 20), d)["tombstoned_docs"]
    with monkeypatch.context() as mp:
        mp.setattr(wand, "DRIVER_MAX_POSTINGS", 0)
        scan = LireQueryEngine(spark, d)
    snap = LireQueryEngine(spark, d)
    assert snap.resident and snap._deny is not None and not scan.resident
    langs = sorted(snap._docs["lang"].unique())
    repo, path = snap._docs[["repo", "path"]].iloc[0]
    fqs = ["doclen >= 10", "sha256 LIKE 'a%'", "commit != ''",
           f"lang IN ('{langs[0]}', '{langs[-1]}')",
           f"repo LIKE '{repo.split('/')[0]}/%'",
           f"path LIKE '{path.rsplit('/', 1)[0]}/%'",
           f"nullif(lang, '{langs[0]}') = '{langs[-1]}'",
           "shard = 1 AND docID % 2 = 0"]
    for fq in fqs:
        pages = []
        for eng in (snap, scan):
            page, n = _jobs_run(spark, lambda: eng.search(
                text="import return", fq=fq, rows=50).collect())
            assert n == 0 or eng is scan
            pages.append([tuple(r) for r in page])
        assert snap.last_metrics["fq_tier"] == "snapshot"
        assert scan.last_metrics["fq_tier"] == "spark"
        assert pages[0] == pages[1], fq
        allow = (sorted(snap._fq_allow(fq)[0].itertuples(index=False,
                                                         name=None)),
                 _rows(scan._fq_allow(fq)[0], ["shard", "docID"]))
        assert allow[0] == allow[1] and allow[0], fq
    for fq in ("no_such_col = 1", "CAST(repo AS INT) = 1"):
        for eng in (snap, scan, snap):
            with pytest.raises(Exception):
                eng.search(text="import return", fq=fq, rows=5).collect()


@pytest.fixture(scope="module")
def overlapping_dict(spark, corpus200, tmp_path_factory):
    """An index whose two dictionary fragments share terms: (dir, resident
    engine, distinct (field, term) count, Σ fragment rows)."""
    d = str(tmp_path_factory.mktemp("dict_cap_index"))
    build_index(corpus200.limit(80), d, num_shards=4, block_size=32)
    append_segment(_overwrites(corpus200, 20), d)
    eng = LireQueryEngine(spark, d)
    distinct = sum(len(m) for m in eng._dict_map.values())
    rows = read_table(f"{d}/dictionary", []).num_rows
    assert eng.resident and distinct < rows
    return d, eng, distinct, rows


def test_dict_cap_below_terms_unpins(spark, overlapping_dict, monkeypatch):
    """A dictionary over the cap is not pinned, the engine is not resident,
    and its answers equal the resident engine's."""
    d, ref, distinct, _ = overlapping_dict
    monkeypatch.setattr(LireQueryEngine, "MAX_DRIVER_DICT_TERMS",
                        distinct - 1)
    eng = LireQueryEngine(spark, d)
    assert eng._dict_map is None and not eng.resident
    vocab = sorted(ref._dict_map["text"],
                   key=lambda t: (-ref._dict_map["text"][t], t))
    for text in (f"{vocab[0]} {vocab[5]}", f"{vocab[2]} {vocab[40]} zz_nope"):
        assert ([tuple(r) for r in eng.search(text=text, rows=10).collect()]
                == [tuple(r) for r in ref.search(text=text, rows=10).collect()])


def test_dict_cap_between_distinct_and_fragment_rows_pins(
        spark, overlapping_dict, monkeypatch):
    """Σ fragment rows over the cap but the distinct count within it: the
    exact Spark count decides, and the engine still pins."""
    d, ref, distinct, rows = overlapping_dict
    monkeypatch.setattr(LireQueryEngine, "MAX_DRIVER_DICT_TERMS", distinct)
    eng, n_open = _jobs_run(spark, lambda: LireQueryEngine(spark, d))
    assert n_open > 0 and eng.resident and eng._dict_map == ref._dict_map
