"""The two workloads. Both share one set-up: start the session, generate
the seeded corpus, build a positional index and open a LireQueryEngine.

serve  — a closed loop of single requests from one client, mixing every
         served handler; fixed per-request overhead dominates.
ingest — segment appends with overwrites (tombstones), a searcher refresh
         and fresh reads after each commit, then a tiered segment merge and
         the same reads again.
"""

from __future__ import annotations

import os
import statistics
import time

import hostenv
import inputs
from checks import ServeChecker, expected, ranked_oracle, same_ranking
from tracing import Tracer, install_layer_hooks, peak_rss_mb


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total


class Run:
    """Set-up state shared by both workloads, plus the run's tallies."""

    def __init__(self, seed: int, seconds: int, trace: bool, run_dir: str,
                 t_process: float):
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.run_dir = run_dir
        self.t_process = t_process
        self.nproc = hostenv.cores()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layer: dict = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    # -- set-up ----------------------------------------------------------------

    def setup(self, warm_kinds: list[str]) -> None:
        from liresolr_spark.api import LireQueryEngine
        from liresolr_spark.plans.build import build_index
        from liresolr_spark.session import get_spark
        from liresolr_spark.sources.corpus import synthetic_code_corpus

        t = time.time()
        self.spark = get_spark(
            "perfbench", cores=self.nproc,
            extra_conf=hostenv.spark_conf(self.run_dir, self.trace))
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark, self.trace)
        if self.trace:
            install_layer_hooks(self.tracer)
        self.layer["session.start_s"] = time.time() - t

        t = time.time()
        with self.tracer.op("corpus", "synthetic_code_corpus"):
            self.corpus = synthetic_code_corpus(
                self.spark, inputs.N_DOCS, seed=self.seed,
                partitions=self.nproc).cache()
            self.corpus.count()
        self.layer["corpus.gen_s"] = time.time() - t

        # JIT warm-up: a throwaway build of a few docs through the same code
        # paths, so the timed build measures indexing, not class loading
        with self.tracer.op("warm-build", "build_index"):
            build_index(self.corpus.limit(inputs.WARM_DOCS),
                        os.path.join(self.run_dir, "warm-index"),
                        num_shards=inputs.num_shards(self.nproc),
                        block_size=inputs.BLOCK_SIZE, with_positions=True)

        self.index_dir = os.path.join(self.run_dir, "index")
        t = time.time()
        with self.tracer.op("build", "build_index"):
            self.build = build_index(
                self.corpus, self.index_dir,
                num_shards=inputs.num_shards(self.nproc),
                block_size=inputs.BLOCK_SIZE, with_positions=True)
        self.build_s = time.time() - t

        t = time.time()
        with self.tracer.op("open", "LireQueryEngine"):
            self.eng = LireQueryEngine(self.spark, self.index_dir)
        self.layer["api.open_s"] = time.time() - t

        # warm-up: first Python-worker round trips and code paths; its
        # calls are not recorded as layer spans
        self.tracer.hooks_on = False
        for kind in warm_kinds:
            if kind == "phrase":
                self.eng.phrase_search("import return", rows=inputs.ROWS).collect()
            else:
                self.eng.search(text="import return", rows=inputs.ROWS).collect()
        self.tracer.hooks_on = self.trace
        self.setup_s = time.time() - self.t_process

        self._load_check_data()

    def _load_check_data(self) -> None:
        """Corpus rows with the engine's docIDs (untimed)."""
        import hashlib

        self.tracer.untimed()
        rows = self.corpus.collect()
        self.input_bytes = sum(len(r["content"].encode()) for r in rows)
        self.content_by_sha = {
            hashlib.sha256(r["content"].encode()).hexdigest(): r["content"]
            for r in rows}
        self.base_rows = [r.asDict() for r in rows]
        self.docs = self.live_docs()
        self.vocab = inputs.Vocab(self.docs)
        self.index_bytes = dir_bytes(self.index_dir)

    def live_docs(self) -> list[dict]:
        """Every docstats row of the index (tombstoned ones included) with
        its content, matched by content hash."""
        ds = self.spark.read.parquet(f"{self.index_dir}/docstats").select(
            "docID", "repo", "path", "lang", "sha256").collect()
        return [{"docID": r["docID"], "repo": r["repo"], "path": r["path"],
                 "lang": r["lang"], "content": self.content_by_sha[r["sha256"]]}
                for r in ds]

    # -- shared metrics ----------------------------------------------------------

    def common_metrics(self) -> dict:
        self.layer["build.docs_per_s"] = self.build["n_docs"] / self.build_s
        return {
            "setup_s": self.setup_s,
            "index_bytes_per_input_byte": self.index_bytes / self.input_bytes,
        }

    def build_layers(self) -> None:
        st = self.build["stages"]
        for k in ("assign_doc_ids", "docstats", "postings_tf", "blocks",
                  "manifest", "dictionary"):
            self.layer[f"build.{k}_s"] = float(st.get(k, 0.0))
        self.layer["build.index_bytes"] = float(self.index_bytes)
        self.layer["session.peak_rss_mb"] = peak_rss_mb(self.spark)


# -- serve ---------------------------------------------------------------------

def call(eng, req: dict):
    kind, rows = req["kind"], req["rows"]
    if kind.startswith("search"):
        src = ({"hashes": req["hashes"]} if "hashes" in req
               else {"text": req["text"]})
        return eng.search(**src, start=req["start"], rows=rows,
                          fq=req.get("fq"), must=req.get("must"),
                          must_not=req.get("must_not"))
    if kind == "prefix":
        return eng.prefix_search(req["prefix"], rows=rows, fq=req.get("fq"))
    if kind == "wildcard":
        return eng.wildcard_search(req["pattern"], rows=rows)
    if kind == "fuzzy":
        return eng.fuzzy_search(req["term"], max_edits=1, rows=rows)
    if kind == "phrase":
        return eng.phrase_search(req["text"], rows=rows)
    if kind == "identity":
        return eng.identity(req["text"], threshold=req["threshold"], rows=rows)
    if kind == "similar":
        return eng.similar(req["text"], rows=rows)
    raise ValueError(kind)


def timed_request(run: Run, req: dict, group: str) -> dict:
    out = {"req": req, "group": group, "rows": None, "error": None}
    with run.tracer.op(group, req["kind"]) as span:
        c0 = hostenv.tree_cpu_s()
        t0 = time.time()
        try:
            df = call(run.eng, req)
            out["plan_s"] = time.time() - t0
            out["rows"] = [r.asDict() for r in df.collect()]
        except Exception as e:  # counted, never fatal
            out["error"] = f"{type(e).__name__}: {e}"
        t1 = time.time()
        c1 = hostenv.tree_cpu_s()
    out.update(t0=t0, t1=t1, lat=t1 - t0, cpu=c1 - c0, span=span["id"])
    return out


def run_serve(run: Run) -> dict:
    run.setup(["search", "phrase"])
    stream = inputs.serve_stream(run.seed, run.docs, run.vocab, cycles=8)
    done = []
    t_start = time.time()
    # whole cycles only, so every run measures the same mix of handlers
    cycle = len(inputs.SERVE_KINDS)
    while len(done) < len(stream) and (
            len(done) % cycle or time.time() - t_start < run.seconds):
        req = stream[len(done)]
        done.append(timed_request(run, req, f"op-{len(done)}"))

    checker = ServeChecker(run.docs, run.vocab)
    for d in done:
        run.attempted += 1
        if d["error"] is not None:
            run.fail(f"{d['req']['kind']}: {d['error']}")
        elif not checker.check(d["req"], d["rows"]):
            run.fail(f"{d['req']['kind']}: wrong answer for {d['req']['id']}")

    lats = [d["lat"] for d in done]
    cpus = [d["cpu"] for d in done]
    m = run.common_metrics()
    m["read_mean_s"] = statistics.mean(lats)
    m["read_queries_per_s"] = len(lats) / sum(lats)
    m["cycle_s"] = sum(lats) / (len(lats) // cycle)
    m["read_cpu_s"] = statistics.mean(cpus)
    m["cycle_cpu_s"] = sum(cpus) / (len(cpus) // cycle)
    run.samples = {"reads": len(lats), "read_p50_s": statistics.median(lats)}
    if run.trace:
        trace_reads(run, done, [d["req"] for d in done[:4]])
    return m


# -- ingest ----------------------------------------------------------------------

def run_ingest(run: Run) -> dict:
    import hashlib

    import pandas as pd

    from liresolr_spark.plans.build import load_tombstones
    from liresolr_spark.plans.compact import compact_segments
    from liresolr_spark.sources.corpus import (CORPUS_SCHEMA,
                                               synthetic_code_corpus)
    from liresolr_spark.streaming.ingest import append_segment

    run.setup([])
    gen = synthetic_code_corpus(
        run.spark, inputs.APPEND_ROUNDS * inputs.APPEND_DOCS,
        seed=run.seed + 1_000_003, partitions=run.nproc).collect()
    gen_docs = [r.asDict() for r in gen]
    for r in gen_docs:
        run.content_by_sha[hashlib.sha256(r["content"].encode()).hexdigest()] \
            = r["content"]
    batches = inputs.ingest_rows(run.seed, run.base_rows, gen_docs)
    singles, batch = inputs.ingest_reads(run.seed, run.vocab)

    single_lats, single_cpus, read_time, read_queries = [], [], 0.0, 0
    cycle_cpu = 0.0
    reads: list[dict] = []
    cpu = hostenv.tree_cpu_s

    def do_reads(tag: str, with_batch: bool) -> dict:
        nonlocal read_time, read_queries, cycle_cpu
        got = {"single": {}, "batch": None}
        for qid, text in singles.items():
            req = {"kind": "search", "text": text, "rows": inputs.ROWS,
                   "start": 0}
            d = timed_request(run, req, f"read-{tag}-{qid}")
            reads.append(d)
            run.attempted += 1
            single_lats.append(d["lat"])
            single_cpus.append(d["cpu"])
            cycle_cpu += d["cpu"]
            read_time += d["lat"]
            read_queries += 1
            if d["error"] is not None:
                run.fail(f"read {qid}: {d['error']}")
                continue
            got["single"][qid] = [(r["docID"], r["score"]) for r in d["rows"]]
        if not with_batch:
            return got
        run.attempted += 1
        with run.tracer.op(f"batch-{tag}", "search_many") as span:
            c0 = cpu()
            t0 = time.time()
            plan_s, err, rows = None, None, []
            try:
                df = run.eng.search_many(batch, rows=inputs.ROWS)
                plan_s = time.time() - t0
                rows = df.collect()
            except Exception as e:
                err = f"{type(e).__name__}: {e}"
            t1 = time.time()
            cycle_cpu += cpu() - c0
        reads.append({"group": f"batch-{tag}", "t0": t0, "t1": t1,
                      "lat": t1 - t0, "span": span["id"], "plan_s": plan_s,
                      "req": {"kind": "search_many"}})
        read_time += t1 - t0
        read_queries += len(batch)
        if err is not None:
            run.fail(f"search_many: {err}")
        else:
            per: dict = {}
            for r in rows:
                per.setdefault(r["qid"], []).append((r["docID"], r["score"]))
            got["batch"] = per
        return got

    def check_round(got: dict) -> None:
        """Singles against the oracle (stats over every doc, tombstoned docs
        excluded from results); batched twins against their singles."""
        run.tracer.untimed()
        docs = run.live_docs()
        tombs = load_tombstones(run.spark, run.index_dir)
        dead = ({r["docID"] for r in tombs.select("docID").collect()}
                if tombs is not None else set())
        pairs = [(d["docID"], d["content"]) for d in docs]
        for qid, text in singles.items():
            if qid not in got["single"]:
                continue
            want = expected(ranked_oracle(pairs, text), 0, inputs.ROWS,
                            excluded=dead)
            if not same_ranking(got["single"][qid], want):
                run.fail(f"read {qid}: wrong answer")
        if got["batch"] is not None and not all(
                same_ranking(got["batch"].get(q, []), got["single"][q])
                for q in got["single"]):
            run.fail("search_many: batched answer differs from its single twin")

    written, tombstoned, append_s, refresh_s = 0, 0, [], []
    for rnd, rows in enumerate(batches):
        df = run.spark.createDataFrame(pd.DataFrame(rows), CORPUS_SCHEMA)
        run.attempted += 2
        with run.tracer.op(f"append-{rnd}", "append_segment"):
            c0, t = cpu(), time.time()
            res = append_segment(df, run.index_dir)
            append_s.append(time.time() - t)
        with run.tracer.op(f"refresh-{rnd}", "refresh"):
            t = time.time()
            run.eng.refresh()
            refresh_s.append(time.time() - t)
            cycle_cpu += cpu() - c0
        written += res.get("appended_docs", 0)
        tombstoned += res.get("tombstoned_docs", 0)
    answers = do_reads("appended", with_batch=True)
    check_round(answers)
    segments = len([d for d in os.listdir(f"{run.index_dir}/dictionary")
                    if d.startswith("seg=")])

    run.attempted += 2
    with run.tracer.op("merge", "compact_segments"):
        c0, t = cpu(), time.time()
        merged = compact_segments(run.spark, run.index_dir)
        merge_s = time.time() - t
    with run.tracer.op("refresh-merge", "refresh"):
        t = time.time()
        run.eng.refresh()
        refresh_s.append(time.time() - t)
        cycle_cpu += cpu() - c0
    post = do_reads("merged", with_batch=False)
    if post["single"] != answers["single"] and not all(
            same_ranking(post["single"].get(q, []), answers["single"][q])
            for q in answers["single"]):
        run.fail("merged index answers differ from pre-merge answers")
    if merged.get("merged_docs", 0) != written:
        run.fail(f"segment merge kept {merged.get('merged_docs')} of "
                 f"{written} appended docs")

    m = run.common_metrics()
    m["read_mean_s"] = statistics.mean(single_lats)
    m["read_queries_per_s"] = read_queries / read_time
    m["cycle_s"] = sum(append_s) + sum(refresh_s) + merge_s + read_time
    m["read_cpu_s"] = statistics.mean(single_cpus)
    m["cycle_cpu_s"] = cycle_cpu
    run.samples = {"reads": len(single_lats),
                   "read_p50_s": statistics.median(single_lats)}
    run.layer.update({
        "ingest.append_s": statistics.mean(append_s),
        "ingest.append_docs_per_s":
            written / (sum(append_s) + sum(refresh_s[:len(append_s)])),
        "ingest.tombstoned_docs": float(tombstoned),
        "ingest.segments": float(segments),
        "api.refresh_s": statistics.mean(refresh_s),
        "compact.merge_s": merge_s,
    })
    if run.trace:
        probe = [{"kind": "search", "text": t, "rows": inputs.ROWS, "start": 0}
                 for t in list(singles.values())[:2]]
        trace_reads(run, reads, probe)
    return m


# -- traced-run extras -------------------------------------------------------------

def trace_reads(run: Run, done: list[dict], probe: list[dict]) -> None:
    """Overhead probe, then isolated re-runs of the lazy layers. The event
    log itself is read after the session stops (finish_trace)."""
    # hooks-off vs hooks-on on the same requests (event log on for both)
    lat = {False: [], True: []}
    for i, req in enumerate(probe):
        for hooks in (False, True):
            run.tracer.hooks_on = hooks
            with run.tracer.op(f"probe-{i}-{int(hooks)}", req["kind"]):
                t = time.time()
                call(run.eng, req).collect()
                lat[hooks].append(time.time() - t)
    run.tracer.hooks_on = True
    traced_lats = [d["lat"] for d in done
                   if d["req"]["kind"] != "search_many"]
    run.layer["trace.read_mean_s"] = statistics.mean(traced_lats)
    run.layer["trace.overhead_s"] = (statistics.median(lat[True])
                                     - statistics.median(lat[False]))
    run.tracer.unhook()
    run.tracer.sc.setJobGroup("isolated", "isolated layer re-runs")
    isolated_layers(run)
    run.ops = done


def isolated_layers(run: Run) -> None:
    import pyspark.sql.functions as F

    from liresolr_spark.functions.codec import decode_block
    from liresolr_spark.operators.phrase import phrase_topk
    from liresolr_spark.operators.wand import wand_topk

    calls = run.tracer.calls
    lay = run.layer

    # WAND pruning: the engine's own handles, re-run with stats_out
    visited = total = 0
    for c in calls.get("wand.topk", [])[:3]:
        st: dict = {}
        wand_topk(*c["args"], **c["kwargs"], stats_out=st).collect()
        if "ranges_total" in st:
            total += st["ranges_total"].value
            visited += st["ranges_visited"].value
    lay["wand.ranges_visited_ratio"] = visited / total if total else 0.0

    # pruned block scan and in-process decode of the same blocks
    rows_n, bytes_n, dec_s, postings, n = 0, 0, 0.0, 0, 0
    wcalls = calls.get("wand.topk", [])[:4] + calls.get("wand.topk_many", [])[:2]
    for c in wcalls:
        kw = c["kwargs"]
        q = c["args"][2]  # query terms, or {qid: terms} for a batch
        terms = sorted({t for ts in q.values() for t in ts}
                       if isinstance(q, dict) else set(q))
        src = kw.get("blocks_df")
        if src is None or not terms:
            continue
        blocks = src.filter((F.col("field") == kw.get("field", "text"))
                            & F.col("term").isin(terms)).select(
            "docids", "tfs", "doclens").collect()
        n += 1
        rows_n += len(blocks)
        bytes_n += sum(len(b["docids"]) + len(b["tfs"]) + len(b["doclens"])
                       for b in blocks)
        t = time.time()
        for b in blocks:
            ids, _, _ = decode_block(bytes(b["docids"]), bytes(b["tfs"]),
                                     bytes(b["doclens"]))
            postings += len(ids)
        dec_s += time.time() - t
    n = max(n, 1)
    lay["wand.pruned_rows"] = rows_n / n
    lay["wand.pruned_bytes"] = bytes_n / n
    lay["codec.decode_s"] = dec_s / n
    lay["codec.postings_decoded"] = postings / n

    exp = calls.get("multiterm.expand", [])
    lay["multiterm.expand_s"] = (statistics.mean(c["s"] for c in exp)
                                 if exp else 0.0)
    lay["multiterm.terms_expanded"] = (statistics.mean(len(c["result"])
                                                       for c in exp)
                                       if exp else 0.0)

    allow_rows, bool_s = [], []
    for c in calls.get("boolean.restriction", [])[:2]:
        t = time.time()
        allow, deny = c["result"]
        allow_rows.append(allow.count() if allow is not None else 0)
        if deny is not None:
            deny.count()
        bool_s.append(c["s"] + time.time() - t)
    lay["boolean.restriction_s"] = statistics.mean(bool_s) if bool_s else 0.0
    lay["boolean.allow_rows"] = (statistics.mean(allow_rows)
                                 if allow_rows else 0.0)

    cands = []
    for c in calls.get("phrase.topk", [])[:2]:
        spark, index_dir, _corpus, text = c["args"][:4]
        cands.append(phrase_topk(
            spark, index_dir, None, text, k=10**6,
            blocks_df=c["kwargs"].get("blocks_df"),
            meta=c["kwargs"].get("meta")).count())
    lay["phrase.candidates"] = statistics.mean(cands) if cands else 0.0


def finish_trace(run: Run, log_dir: str) -> None:
    """Event-log attribution, after the session stopped and the log closed."""
    from tracing import EventLog

    ev = EventLog(log_dir)
    lay = run.layer
    b = ev.group_sums("build")
    lay["build.shuffle_bytes"] = b["shuffle_bytes"]
    lay["build.spill_bytes"] = b["spill_bytes"]
    appends = [g for g in ev.group_jobs if g.startswith("append-")]
    lay["ingest.append_shuffle_bytes"] = (
        sum(ev.group_sums(g)["shuffle_bytes"] for g in appends) / len(appends)
        if appends else 0.0)
    mg = ev.group_sums("merge")
    lay["compact.bytes_read"] = mg["input_bytes"]
    lay["compact.bytes_written"] = mg["output_bytes"]
    lay["compact.decode_stage_s"] = mg["kernel_stage_s"]

    ops = getattr(run, "ops", [])
    profs = []
    for d in ops:
        p = ev.op_profile(d["group"], d["t0"], d["t1"])
        p["wall"] = d["t1"] - d["t0"]
        p["plan"] = d.get("plan_s") or 0.0
        p["phrase"] = d["req"]["kind"] == "phrase"
        profs.append(p)
    n = max(len(profs), 1)

    def mean(f):
        return sum(f(p) for p in profs) / n

    lay["api.wall_s"] = mean(lambda p: p["wall"])
    lay["api.plan_s"] = mean(lambda p: p["plan"])
    lay["api.jobs_per_op"] = mean(lambda p: p["jobs"])
    lay["api.stages_per_op"] = mean(lambda p: p["stages"])
    lay["api.tasks_per_op"] = mean(lambda p: p["tasks"])
    lay["api.idle_s"] = mean(lambda p: p["idle"])
    lay["wand.scan_s"] = mean(lambda p: p["busy"]["scan"])
    lay["wand.kernel_s"] = mean(
        lambda p: 0.0 if p["phrase"] else p["busy"]["kernel"])
    lay["phrase.match_s"] = mean(
        lambda p: p["busy"]["kernel"] if p["phrase"] else 0.0)
    lay["wand.merge_s"] = mean(lambda p: p["busy"]["merge"])
    lay["api.project_s"] = mean(lambda p: p["busy"]["project"])
    lay["api.other_stage_s"] = mean(lambda p: p["busy"]["other"])
    lay["api.residual_s"] = mean(
        lambda p: p["wall"] - sum(p["busy"].values()) - p["idle"])
    lay["wand.python_run_s"] = mean(lambda p: p["python"]["run"])
    lay["wand.python_bytes_in"] = mean(lambda p: p["python"]["bytes_in"])
    run.op_profiles = [
        {"group": d["group"], "kind": d["req"]["kind"], "wall_s": p["wall"],
         "idle_s": p["idle"], "busy_s": p["busy"],
         "residual_s": p["wall"] - sum(p["busy"].values()) - p["idle"]}
        for d, p in zip(ops, profs)]
