"""Generate PLANS.md: physical-plan evidence for the judged queries —
pushed filters on the block index scan, broadcast joins on the query-term
and dimension sides, exchange counts. Run after index/bench artifacts exist:

  PYTHONPATH=/root/repo python tools/plan_audit.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    import pyspark.sql.functions as F

    from liresolr_spark.entry_queries import REGISTRY
    from liresolr_spark.session import get_spark
    from liresolr_spark.ship import ship_package

    spark = get_spark("plan-audit", cores="8", shuffle_partitions=8)
    ship_package(spark)
    sf = "/root/testdata/sf0.01"
    out = ["# PLANS — physical-plan audit (generated by tools/plan_audit.py)",
           "",
           "Evidence that the hot paths compile to the plans the design",
           "claims: term filters pushed into the parquet scan of the block",
           "index, query-term and dimension joins broadcast, projections",
           "pruned to read columns. Regenerate after plan-affecting changes.",
           ""]

    # the WAND block scan: pushdown + column pruning
    idx = "/tmp/liresolr_bench_index_0.1_20000"
    if os.path.exists(f"{idx}/meta.json"):
        blocks = spark.read.parquet(f"{idx}/blocks").filter(
            (F.col("field") == "text")
            & F.col("term").isin(["read", "file", "data"])
        ).select("shard", "term", "block_seq", "docids")
        plan = blocks._jdf.queryExecution().executedPlan().toString()
        scan = [l.strip() for l in plan.splitlines() if "PushedFilters" in l]
        out += ["## WAND block-index scan (term-pruned)", "", "```"]
        out += [s[:400] for s in scan[:2]] + ["```", ""]

    # round-4: batched-serving final merge must be a hash aggregate over
    # bounded per-qid arrays, NOT a partition-wide sort (window) — and the
    # filter-artifact read must be a slim 2-column scan
    if os.path.exists(f"{idx}/meta.json"):
        from liresolr_spark.operators.wand import wand_topk_many

        many = wand_topk_many(spark, idx, {
            "q1": ["read", "file"], "q2": ["data", "merge"]}, k=10)
        plan = many._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        agg = [l.strip()[:160] for l in lines if "Aggregate" in l][:3]
        sorts = [l.strip()[:120] for l in lines
                 if (l.strip().startswith("Sort") or "+- Sort" in l)
                 and "false, 0" not in l]  # partition-local sorts excluded
        out += ["## batched-serving final merge (agg strategy)", "",
                f"- GLOBAL sorts in plan: {len(sorts)} (the only Sort is "
                "the partition-local pre-kernel grouping on shard; the "
                "merge itself is a partial+final hash aggregate, per-qid "
                "ordering inside sort_array over bounded arrays)", "", "```"]
        out += agg + ["```", ""]

        from liresolr_spark.plans.filters import (
            build_filter_artifact, load_filter_manifests)

        if "audit-py" not in load_filter_manifests(idx):
            build_filter_artifact(spark, idx, "audit-py", "lang = 'python'")
        side = spark.read.parquet(f"{idx}/filters/audit-py/data")
        plan = side._jdf.queryExecution().executedPlan().toString()
        scan = [l.strip()[:300] for l in plan.splitlines()
                if "ReadSchema" in l or "FileScan" in l]
        out += ["## filter-artifact read (warmed fq tier)", "", "```"]
        out += scan[:2] + ["```", ""]

    # identity() single-pass: no plan to audit any more. Every served
    # handler collects its ranked top-k and returns the page as an executed
    # local relation, so the plan identity() returns holds no shard kernel;
    # each cascade phase's kernel runs once per request by construction
    # (tests/test_dispatch.py::test_driver_dispatched_job_counts bounds the
    # request's Spark jobs on both dispatch paths).

    # round-4b: prefix/phrase paths — the conjunctive candidate scan must
    # push field + both terms into the blocks scan and read ONLY docids;
    # the phrase verify with cache_out must consume the matched relation
    # from the cache TWICE (scores + df), not re-run the verify subtree
    corpus_path = "/tmp/liresolr_bench_corpus_20000"
    if os.path.exists(f"{idx}/meta.json") and os.path.exists(corpus_path):
        from liresolr_spark.operators.phrase import (
            conjunctive_docids, phrase_topk)

        cand = conjunctive_docids(spark, idx, ["import", "return"])
        plan = cand._jdf.queryExecution().executedPlan().toString()
        scan = [l.strip()[:400] for l in plan.splitlines()
                if "PushedFilters" in l or "ReadSchema" in l]
        out += ["## phrase stage 1: conjunctive candidate scan", "", "```"]
        out += scan[:2] + ["```", ""]

        corpus = spark.read.parquet(corpus_path)
        ph_cache: list = []
        ph = phrase_topk(spark, idx, corpus, "import return", k=10,
                         cache_out=ph_cache)
        ph.collect()  # materializes the cache so the reuse is visible
        plan = ph._jdf.queryExecution().executedPlan().toString()
        n_mem = sum(1 for l in plan.splitlines()
                    if "InMemoryTableScan" in l or "TableCacheQueryStage" in l)
        joins = [l.strip()[:160] for l in plan.splitlines() if "Join" in l][:4]
        out += ["## phrase stage 2: verify + df share ONE cached matched set",
                "",
                f"- cached-relation consumers in plan: {n_mem} "
                "(scores + df aggregate; without cache_out the whole "
                "candidate/verify subtree appears twice)", "", "```"]
        out += joins + ["```", ""]
        for c in ph_cache:
            c.unpersist()

    # round-4c: positional phrase — one term-pruned scan (positions column
    # included), one per-shard kernel, score from the cached match set; NO
    # corpus/docstats access anywhere in the plan
    from liresolr_spark.plans.build import build_index
    from liresolr_spark.sources.corpus import synthetic_code_corpus

    pos_idx = "/tmp/liresolr_plan_audit_pos"
    if not os.path.exists(f"{pos_idx}/meta.json"):
        build_index(synthetic_code_corpus(spark, 500, seed=42), pos_idx,
                    num_shards=4, block_size=64, with_positions=True)
    from liresolr_spark.operators.phrase import phrase_topk as _pt

    pph = _pt(spark, pos_idx, None, "import return", k=10)
    plan = pph._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    scans = [l.strip()[:300] for l in lines if "ReadSchema" in l]
    n_corpus = sum(1 for l in lines if "corpus" in l.lower())
    out += ["## positional phrase (index-only, no corpus/docstats scan)", "",
            f"- parquet scans in plan: {len(scans)} (blocks only); "
            f"corpus references: {n_corpus}", "", "```"]
    out += scans[:2] + ["```", ""]

    # index-free BM25 pipeline (q01's engine; the registry entry itself
    # returns an eagerly-materialized local relation since round 3, so the
    # audit inspects the underlying scoring plan directly)
    from liresolr_spark.functions.tokenizer import py_tokenize
    from liresolr_spark.operators.bm25 import bm25_scores_all

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    _audit_cache: list = []
    scored = bm25_scores_all(docs, py_tokenize("merge sort join window"),
                             doc_id_col="doc_id", text_col="text",
                             cache_out=_audit_cache)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    out += ["## q01 engine (bm25_scores_all pipeline)", "",
            f"- broadcast exchanges: "
            f"{sum(1 for l in lines if 'BroadcastExchange' in l)}; "
            f"shuffle exchanges: "
            f"{sum(1 for l in lines if 'Exchange' in l and 'Broadcast' not in l)}",
            "", "```"]
    out += [l.strip()[:160] for l in lines if "Join" in l][:5]
    out += ["```", ""]
    for cached in _audit_cache:
        cached.unpersist()

    # IVF query: the probe must be a partition filter on word
    from liresolr_spark.ops.vocab import ivf_build, train_visual_words, ivf_query

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    centers = train_visual_words(emb, k=8, seed=42)
    ivf_dir = "/tmp/liresolr_plan_audit_ivf"
    ivf_build(emb, centers, ivf_dir)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 1)
            .first()["embedding"]]
    iq = ivf_query(spark, ivf_dir, centers, qvec, k=10, nprobe=2)
    plan = iq._jdf.queryExecution().executedPlan().toString()
    pf = [l.strip()[:300] for l in plan.splitlines() if "PartitionFilters" in l]
    out += ["## IVF query (word-partition pruning)", "", "```"]
    out += pf[:2] + ["```", ""]

    for name in ["q04_overlap_candidates",
                 "r02_top_customers", "e04_band_join_neardup",
                 "d03_minhash_lsh_pairs", "q13_candidate_union",
                 "d09_line_dedup", "p04_token_budget", "t06_pii_redaction",
                 "t07_quality_filter", "p05_pretraining_mix"]:
        df = REGISTRY[name][0](spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        joins = [l.strip()[:160] for l in lines if "Join" in l]
        exch = [l.strip()[:120] for l in lines if "Exchange" in l
                and "Broadcast" not in l]
        bcast = sum(1 for l in lines if "BroadcastExchange" in l)
        out += [f"## {name}", "",
                f"- broadcast exchanges: {bcast}; shuffle exchanges: {len(exch)}",
                "", "```"]
        out += [f"{j}" for j in joins[:5]]
        out += [f"{e}" for e in exch[:5]]
        out += ["```", ""]

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
