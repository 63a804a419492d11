"""Two-path identity of segment writes (SCALE.md §3, "Driver-local segment
writes"): `append_segment` and `compact_segments` write a segment whose
size estimate fits DRIVER_MAX_POSTINGS from the driver with pyarrow, and a
larger one through Spark stages. The same base index gets the same writes
on two copies — once under the default bound (driver) and once with the
bound monkeypatched to 0 (Spark) — and every artifact must hold the same
rows, binary block streams included, under the same Spark-read schema,
with the same meta.json. Both a positional and a positionless index are
covered; the batch carries overwrites of base keys, two versions of one
key (and a commit tie broken by the content md5), non-ASCII keys and
content, and one empty-content doc. A third leg, `spark_salted`, runs the
Spark stages with TARGET_GROUP_ROWS monkeypatched to 50, so every block
write groups by a term-hash salt; its rows must not change either."""

from __future__ import annotations

import glob
import json
import shutil

import pandas as pd
import pyspark.sql.functions as F
import pytest

import liresolr_spark.operators.wand as wand
import liresolr_spark.plans.build as build
import liresolr_spark.plans.compact as compact
import liresolr_spark.streaming.ingest as ingest
from liresolr_spark.plans.build import build_index
from liresolr_spark.plans.compact import compact_index, compact_segments
from liresolr_spark.sources.corpus import CORPUS_SCHEMA
from liresolr_spark.streaming.ingest import append_segment
from test_dispatch import _jobs_run

ARTIFACTS = ["docstats", "blocks", "dictionary", "manifest", "tombstones"]
LEGS = ["driver", "spark"]
SALTED = "spark_salted"


def _salted(mp, salts: list) -> None:
    """Force salted Spark block writes (TARGET_GROUP_ROWS = 50) and record
    the salt count of every write_blocks call in `salts`."""
    write_blocks = build.write_blocks

    def record(*a, **kw):
        salts.append(write_blocks(*a, **kw))
        return salts[-1]

    mp.setattr(build, "TARGET_GROUP_ROWS", 50)
    for mod in (build, compact, ingest):
        mp.setattr(mod, "write_blocks", record)


def _snapshot(spark, d: str) -> dict:
    """meta.json, and per artifact that has files its Spark-read schema
    and sorted rows."""
    with open(f"{d}/meta.json") as f:
        out = {"meta": json.load(f)}
    for art in ARTIFACTS:
        if not glob.glob(f"{d}/{art}/*/*.parquet"):
            continue
        df = spark.read.parquet(f"{d}/{art}")
        out[art] = (df.schema, sorted(map(tuple, df.collect()), key=repr))
    return out


def _batches(spark, corpus200):
    """Two appends: the first overwrites base keys and carries the edge
    cases, the second overwrites some of the first's keys (so the merge
    drops docs) and adds fresh ones."""
    g = F.crc32(F.col("path")) % 10
    base_rows = corpus200.filter(g < 3).orderBy("repo", "path", "commit") \
        .limit(6).collect()
    fresh = corpus200.filter(g == 5).orderBy("repo", "path", "commit") \
        .limit(14).collect()
    fresh2 = corpus200.filter(g == 6).orderBy("repo", "path", "commit") \
        .limit(8).collect()
    rows = [(r["repo"], r["path"], r["commit"] + "_v2", r["lang"],
             r["content"] + "\nrewritten readFile") for r in base_rows]
    rows += [tuple(r) for r in fresh]
    rows += [
        ("zz/dup", "two.py", "c1", "python", "def old_version(): return 1"),
        ("zz/dup", "two.py", "c2", "python", "def newVersion(): return 2"),
        ("zz/tie", "tie.py", "c9", "python", "import alpha"),
        ("zz/tie", "tie.py", "c9", "python", "import beta"),
        ("zz/ünï", "src/ünïcode.py", "c1", "python",
         "déjà vu 🚀 naïveCamelCase ΣigmaTest 数据 readFile"),
        ("zz/ünï", "src/😀.py", "c1", "python", "emoji 😀 only parseHTTPResponse"),
        ("zz/empty", "empty.py", "c1", "python", ""),
    ]
    rows2 = [(r[0], r[1], r[2] + "_v3", r[3], r[4] + " again")
             for r in rows[:3] + rows[6:9]]
    rows2 += [tuple(r) for r in fresh2]

    def frame(rs):
        return spark.createDataFrame(
            pd.DataFrame(rs, columns=CORPUS_SCHEMA.names), CORPUS_SCHEMA)

    return frame(rows), frame(rows2)


@pytest.fixture(scope="module", params=[True, False],
                ids=["positional", "positionless"])
def legs(request, spark, corpus200, tmp_path_factory):
    """Per leg: the snapshot after each write, each write's result and its
    Spark job count."""
    root = tmp_path_factory.mktemp("write_paths")
    base = str(root / "base")
    built = build_index(corpus200.filter(F.crc32(F.col("path")) % 10 < 3),
                        base, num_shards=3, block_size=32,
                        with_positions=request.param)
    b1, b2 = _batches(spark, corpus200)
    out = {"base": _snapshot(spark, base), "build": built, "root": root}
    for leg in LEGS + [SALTED]:
        d = str(root / leg)
        shutil.copytree(base, d)
        with pytest.MonkeyPatch.context() as mp:
            if leg != "driver":
                mp.setattr(wand, "DRIVER_MAX_POSTINGS", 0)
            if leg == SALTED:
                _salted(mp, out.setdefault("salts", []))
            a1, j1 = _jobs_run(spark, lambda: append_segment(b1, d))
            s1 = _snapshot(spark, d)
            a2, j2 = _jobs_run(spark, lambda: append_segment(b2, d))
            m, jm = _jobs_run(spark, lambda: compact_segments(spark, d))
        out[leg] = {"append": a1, "append2": a2, "merge": m,
                    "jobs": (j1, j2, jm), "after_append": s1,
                    "after_merge": _snapshot(spark, d)}
    return out


@pytest.mark.parametrize("stage", ["after_append", "after_merge"])
def test_driver_and_spark_segments_row_identical(legs, stage):
    drv, spk = legs["driver"][stage], legs["spark"][stage]
    assert drv["meta"] == spk["meta"]
    assert set(drv) == set(spk) == {"meta", *ARTIFACTS}
    for art in ARTIFACTS:
        assert drv[art][0] == spk[art][0], art
        assert drv[art][1] == spk[art][1], art
        if art in legs["base"]:
            assert drv[art][0] == legs["base"][art][0], art


@pytest.mark.parametrize("stage", ["after_append", "after_merge"])
def test_salted_spark_segments_row_identical(legs, stage):
    """Salted Spark writes (append, append, merge) hold the driver's rows."""
    assert len(legs["salts"]) == 3 and min(legs["salts"]) >= 2, legs["salts"]
    drv, salted = legs["driver"][stage], legs[SALTED][stage]
    assert drv["meta"] == salted["meta"]
    assert set(drv) == set(salted)
    for art in ARTIFACTS:
        assert drv[art] == salted[art], art


def test_compact_index_salted_rows_identical(spark, legs):
    """compact_index writes the same rows with and without a group salt,
    and returns the manifest's Σ bytes_written, as build_index does."""
    src, root = str(legs["root"] / "spark"), legs["root"]
    plain = compact_index(spark, src, out_dir=str(root / "full_plain"))
    salts: list = []
    with pytest.MonkeyPatch.context() as mp:
        _salted(mp, salts)
        compact_index(spark, src, out_dir=str(root / "full_salted"))
    assert salts and min(salts) >= 2, salts
    snaps = [_snapshot(spark, str(root / d))
             for d in ("full_plain", "full_salted")]
    assert snaps[0] == snaps[1]
    for m, snap in ((plain, snaps[0]), (legs["build"], legs["base"])):
        assert m["bytes_written"] == sum(r[2] or 0 for r in snap["manifest"][1])
        assert m["bytes_written"] > 0


def test_write_results_say_where_they_ran(legs):
    drv, spk = legs["driver"], legs["spark"]
    for step, size in (("append", "tokens"), ("append2", "tokens"),
                       ("merge", "postings")):
        assert drv[step]["write_path"] == "driver", step
        assert spk[step]["write_path"] == "spark", step
        assert 0 < drv[step][size] <= wand.DRIVER_MAX_POSTINGS, step
        assert drv[step][size] == spk[step][size], step
        assert drv[step]["bytes_written"] > 0, step
        assert ({k: v for k, v in drv[step].items()
                 if k not in ("write_path", "wall_sec")}
                == {k: v for k, v in spk[step].items()
                    if k not in ("write_path", "wall_sec")}), step
    assert drv["append"]["tombstoned_docs"] > 0
    assert drv["merge"]["dropped_docs"] > 0
    manifest = legs["driver"]["after_append"]["manifest"][1]
    assert drv["append"]["bytes_written"] + sum(
        r[2] or 0 for r in legs["base"]["manifest"][1]) \
        == sum(r[2] or 0 for r in manifest)


def test_driver_writes_job_counts(legs):
    """A driver-path append runs at most 2 Spark jobs (the token-sum
    scalar, the batch collect); a driver-path merge, with no size gate,
    runs none."""
    j1, j2, jm = legs["driver"]["jobs"]
    assert j1 <= 2 and j2 <= 2, (j1, j2)
    assert jm == 0


@pytest.mark.parametrize("leg", LEGS)
def test_empty_append_result_keys(spark, tmp_path, leg, monkeypatch):
    d = str(tmp_path / "ix")
    rows = [("r", "a.py", "c", "python", "alpha beta")]
    append_segment(spark.createDataFrame(rows, CORPUS_SCHEMA), d,
                   num_shards=2, block_size=32)
    if leg == "spark":
        monkeypatch.setattr(wand, "DRIVER_MAX_POSTINGS", -1)
    out = append_segment(spark.createDataFrame([], CORPUS_SCHEMA), d)
    assert out["appended_docs"] == 0 and out["tombstoned_docs"] == 0
    assert out["write_path"] == leg
