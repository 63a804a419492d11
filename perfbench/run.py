"""liresolr_spark benchmark.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 5 --trace 0

Runs one workload from the root of a checkout, checks every answer, and
prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
--trace 0 reports the end-to-end metrics; --trace 1 runs with Spark job
groups, layer spans and the event log on and reports the per-layer metrics.
A context line (host, versions, source, sample counts) is printed just
before it, and the full record is kept under perfbench/.work/results/.
See perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

T_PROCESS = time.time()

WORKLOADS = ("serve", "ingest")

END_TO_END = {
    "setup_s": "s", "index_bytes_per_input_byte": "ratio",
    "read_cpu_s": "s", "cycle_cpu_s": "s",
}
# wall-clock read figures: printed in the context stamp of every run, not
# bounded (see README.md, "End-to-end metrics")
WALL = ("read_mean_s", "read_queries_per_s", "cycle_s")

PER_LAYER = {
    "session.start_s": "s", "corpus.gen_s": "s", "session.peak_rss_mb": "MB",
    "build.assign_doc_ids_s": "s", "build.docstats_s": "s",
    "build.postings_tf_s": "s", "build.blocks_s": "s",
    "build.manifest_s": "s", "build.dictionary_s": "s",
    "build.shuffle_bytes": "bytes", "build.spill_bytes": "bytes",
    "build.index_bytes": "bytes", "build.docs_per_s": "1/s",
    "api.open_s": "s", "api.wall_s": "s", "api.plan_s": "s",
    "api.jobs_per_op": "count", "api.stages_per_op": "count",
    "api.tasks_per_op": "count", "api.idle_s": "s", "api.project_s": "s",
    "api.other_stage_s": "s", "api.residual_s": "s", "api.refresh_s": "s",
    "wand.scan_s": "s", "wand.kernel_s": "s", "wand.merge_s": "s",
    "wand.pruned_rows": "count", "wand.pruned_bytes": "bytes",
    "wand.python_run_s": "s",
    "wand.python_bytes_in": "bytes", "wand.ranges_visited_ratio": "ratio",
    "codec.decode_s": "s", "codec.postings_decoded": "count",
    "multiterm.expand_s": "s", "multiterm.terms_expanded": "count",
    "boolean.restriction_s": "s", "boolean.allow_rows": "count",
    "phrase.match_s": "s", "phrase.candidates": "count",
    "ingest.append_s": "s", "ingest.append_docs_per_s": "1/s",
    "ingest.append_shuffle_bytes": "bytes",
    "ingest.tombstoned_docs": "count", "ingest.segments": "count",
    "compact.merge_s": "s", "compact.bytes_read": "bytes",
    "compact.bytes_written": "bytes", "compact.decode_stage_s": "s",
    "trace.read_mean_s": "s", "trace.overhead_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    end = time.time() + timeout
    live = list(pids)
    while live and time.time() < end:
        live = [p for p in live if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it started and that JVM's Python
    workers, and wait until each has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = _children(proc.pid) if proc is not None else []
    workers += [c for w in workers for c in _children(w)]
    spark.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    _wait_gone(workers, 15)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    trace = bool(args.trace)
    import hostenv

    run_dir = hostenv.prepare_work_dir(args.workload, args.seed)
    try:
        import checks
        import workloads

        checks.memoize_oracle_tokenizer()
        run = workloads.Run(args.seed, args.seconds, trace, run_dir, T_PROCESS)
        try:
            m = (workloads.run_serve if args.workload == "serve"
                 else workloads.run_ingest)(run)
            if trace:
                run.build_layers()
        finally:
            if getattr(run, "spark", None) is not None:
                stop_spark(run.spark)
        if trace:
            workloads.finish_trace(run, os.path.join(run_dir, "eventlog"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if trace:
        metrics = {k: {"value": float(run.layer.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(m[k]), "unit": u}
                   for k, u in END_TO_END.items()}

    ctx = hostenv.context(args.workload, args.seed, trace, args.seconds)
    ctx["samples"] = run.samples
    ctx["wall"] = {k: m[k] for k in WALL}
    ctx["errors"] = run.errors
    result = {"correct": run.failed == 0, "attempted": run.attempted,
              "failed": run.failed, "metrics": metrics}
    res_dir = os.path.join(hostenv.WORK, "results")
    os.makedirs(res_dir, exist_ok=True)
    stem = os.path.join(res_dir, f"{args.workload}-{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({"context": ctx, "result": result,
                   "op_profiles": getattr(run, "op_profiles", None)}, f,
                  indent=1)
    run.tracer.write(stem + ".spans.jsonl")
    print(json.dumps({"context": ctx}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(here))
    sys.exit(main())
