"""Self-test of the benchmark's stage-to-layer attribution.

    python3 -m pytest perfbench/tests -q

The pure tests pin the sweep and the scope classifier; the Spark test
builds a tiny index, serves one traced search under its own job group with
the event log on, and checks that the log is windowed to that group and
that the layer split adds up to the operation's wall time.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from tracing import EventLog, classify_stage, sweep  # noqa: E402


def _rdd(scope: str, name: str = "MapPartitionsRDD") -> dict:
    return {"Name": name, "Scope": json.dumps({"id": "1", "name": scope})}


def test_classify_stage_by_scope():
    assert classify_stage([_rdd("Exchange"), _rdd("FlatMapGroupsInPandas")]) \
        == "kernel"
    assert classify_stage([_rdd("FlatMapCoGroupsInPandas")]) == "kernel"
    docstats = ("*(1) ColumnarToRow\n+- FileScan parquet [docID#1L,"
                "sha256#7,shard#8] Location: InMemoryFileIndex[file:/x/doc...")
    assert classify_stage([_rdd("Scan parquet ", docstats),
                           _rdd("Exchange")]) == "project"
    assert classify_stage([_rdd("TakeOrderedAndProject"),
                           _rdd("BroadcastExchange")]) == "merge"
    assert classify_stage([_rdd("InMemoryTableScan"), _rdd("Exchange")]) \
        == "scan"
    assert classify_stage([_rdd("AQEShuffleRead")]) == "other"


def test_sweep_partitions_the_window():
    tasks = [(1.0, 3.0, "scan"), (2.0, 4.0, "kernel"), (6.0, 7.0, "project"),
             (9.0, 12.0, "merge")]
    busy, idle = sweep(0.0, 10.0, tasks)
    # kernel outranks scan where they overlap; the merge task is clipped
    assert busy["scan"] == pytest.approx(1.0)
    assert busy["kernel"] == pytest.approx(2.0)
    assert busy["project"] == pytest.approx(1.0)
    assert busy["merge"] == pytest.approx(1.0)
    assert idle == pytest.approx(5.0)
    assert sum(busy.values()) + idle == pytest.approx(10.0)


def test_event_log_attribution_on_tiny_index(tmp_path):
    from liresolr_spark.api import LireQueryEngine
    from liresolr_spark.plans.build import build_index
    from liresolr_spark.session import get_spark
    from liresolr_spark.sources.corpus import synthetic_code_corpus

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    spark = get_spark("perfbench-selftest", cores=2, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    })
    sc = spark.sparkContext
    try:
        idx = str(tmp_path / "index")
        sc.setJobGroup("build", "build")
        build_index(synthetic_code_corpus(spark, 40, seed=3, partitions=2),
                    idx, num_shards=4, block_size=64)
        eng = LireQueryEngine(spark, idx)
        sc.setJobGroup("warm", "warm-up")
        eng.search(text="import return", rows=5).collect()
        sc.setJobGroup("op-1", "search")
        t0 = time.time()
        rows = eng.search(text="import return data", rows=5).collect()
        t1 = time.time()
        sc.setJobGroup("after", "after")
        eng.search(text="return", rows=5).collect()
    finally:
        spark.stop()
    assert rows

    ev = EventLog(str(log_dir))
    prof = ev.op_profile("op-1", t0, t1)
    assert prof["jobs"] >= 2 and prof["stages"] >= 2 and prof["tasks"] >= 2
    classes = {ev.stage_class[s] for s in ev.stages("op-1")}
    # the served search: block scan, shard kernel, top-k merge, projection
    assert {"scan", "kernel", "merge", "project"} <= classes
    assert sum(prof["busy"].values()) + prof["idle"] == pytest.approx(t1 - t0)
    assert prof["busy"]["kernel"] > 0
    # windowing: neither the build nor the later search leaks into op-1
    op_stages = set(ev.stages("op-1"))
    assert op_stages.isdisjoint(ev.stages("after"))
    assert op_stages.isdisjoint(ev.stages("build"))
    assert ev.group_sums("build")["shuffle_bytes"] > 0
