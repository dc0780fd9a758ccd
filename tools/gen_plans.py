"""Dump formatted physical plans of the headline queries to BENCH/PLANS.md.

Usage: python tools/gen_plans.py
The session is bench.py's (``build_spark`` on local[$SPARK_GRAFT_CPUS],
default 8), so the plans are the ones the bench executes.
"""
import os, sys, re
root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, root)

from bench import bench_queries, build_spark  # noqa: E402

spark = build_spark(int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
spark.sparkContext.setLogLevel("ERROR")

from osm_addr_tools_spark import queries as Q  # noqa: E402

base = "/tmp/spark_graft_bench_0.1_100000"
qs = bench_queries(spark, "/root/testdata/sf0.1", 100000, base)

def fmt(df):
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

def summarize(plan):
    ops = [l.strip() for l in plan.splitlines() if re.match(r"^\(\d+\)", l.strip())]
    from collections import Counter
    c = Counter(re.sub(r"\[.*", "", o.split(") ",1)[1]).strip() for o in ops)
    return dict(sorted(c.items(), key=lambda kv: -kv[1]))

targets = {
    "conflate_join (headline, stored inputs, salted)": qs["conflate_join"](),
    "geo_knn_nearest_supplier (ring kNN r=3)": Q.QUERIES["geo_knn_nearest_supplier"](spark, "/root/testdata/sf0.1"),
    "q1_pricing_summary": Q.QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.1"),
    "dedup_minhash_lsh (banding)": Q.QUERIES["dedup_minhash_lsh"](spark, "/root/testdata/sf0.01"),
    "emb_ann_lsh_top3 (bucketed ANN)": Q.QUERIES["emb_ann_lsh_top3"](spark, "/root/testdata/sf0.01"),
    "dedup_simhash (multi-block banding b=12, h=6)": Q.QUERIES["dedup_simhash"](spark, "/root/testdata/sf0.01"),
    "docs_winnow_partial_dups (capped containment join)": Q.QUERIES["docs_winnow_partial_dups"](spark, "/root/testdata/sf0.01"),
    # NOTE: the cluster-label table below is the output of the CC loop —
    # the plan shown is the final checkpointed read + projection; the
    # per-round join/agg plans are the dedup_minhash_lsh-style shapes
    "geo_customer_clusters (distance-band + CC labels)": Q.QUERIES["geo_customer_clusters"](spark, "/root/testdata/sf0.01"),
    # r5: the distributed two-pass prefix sum — the thing to see is a
    # Window whose partition spec carries the bucket column (never an
    # empty spec), fed by a broadcast join of the offset table
    "docs_token_shards (distributed prefix sum)": Q.QUERIES["docs_token_shards"](spark, "/root/testdata/sf0.1"),
    # r5: banded-LSH semantic pair generation feeding the retention
    # anti-join (the CC labels in between are an eager loop, as above)
    "emb_dedup_retention (banded LSH -> CC -> anti-join)": Q.QUERIES["emb_dedup_retention"](spark, "/root/testdata/sf0.01"),
    # r6: the four new training-data families. pack_assign should show a
    # single Window partitioned by (_psb, bucket_cap) — never an empty
    # partition spec; decontaminate an AQE-decided equi-join on distinct
    # grams; repetition_filter two hash aggs and NO window; boilerplate
    # an anti-join on the raw line + a per-doc ordered reassembly agg
    "docs_pack_assign (length-bucketed packing, grouped prefix-sum rank)": Q.QUERIES["docs_pack_assign"](spark, "/root/testdata/sf0.1"),
    "docs_decontaminate (5-gram overlap vs benchmark set)": Q.QUERIES["docs_decontaminate"](spark, "/root/testdata/sf0.1"),
    "docs_repetition_filter (Gopher repetition signals)": Q.QUERIES["docs_repetition_filter"](spark, "/root/testdata/sf0.1"),
    "docs_boilerplate_removal (C4 corpus-level line removal)": Q.QUERIES["docs_boilerplate_removal"](spark, "/root/testdata/sf0.1"),
    # r6: dup-span windows must be partitioned BY doc_id (never global)
    "docs_dup_spans (ExactSubstr k-gram spans + islands merge)": Q.QUERIES["docs_dup_spans"](spark, "/root/testdata/sf0.1"),
    "docs_quality_classifier (hashed linear scoring, zero-shuffle)": Q.QUERIES["docs_quality_classifier"](spark, "/root/testdata/sf0.1"),
    "docs_paragraph_dedup (global first-occurrence paragraphs)": Q.QUERIES["docs_paragraph_dedup"](spark, "/root/testdata/sf0.1"),
    "docs_shuffle_order (Feistel permutation + prefix-sum positions)": Q.QUERIES["docs_shuffle_order"](spark, "/root/testdata/sf0.1"),
    # r6: incremental ingest gate — batch bands equi-join the corpus
    # index on (band, bucket); the within-batch CC labels are an eager
    # loop (as above); final assembly is two left joins on doc_id
    "docs_incremental_dedup (batch vs persisted corpus index)": Q.QUERIES["docs_incremental_dedup"](spark, "/root/testdata/sf0.01"),
    # r7: BPE counts are ONE ArrowEvalPython island over a scan (the
    # merge table rides the closure; learning ran at build as a separate
    # bounded-collect job); the manifest composition should show
    # ids-only hash joins between stages and the packing/shuffle tail
    # reading the (id, n_tok) localCheckpoint leaf — never re-running
    # minhash/gram-join/BPE subtrees
    "docs_bpe_token_stats (corpus-learned BPE, Arrow-batched counts)": Q.QUERIES["docs_bpe_token_stats"](spark, "/root/testdata/sf0.1"),
    "docs_training_manifest (capstone: dedup -> decontam -> quality -> BPE -> pack -> shuffle)": Q.QUERIES["docs_training_manifest"](spark, "/root/testdata/sf0.01"),
    # r7: mixture application (fib_bucket keep + posexplode repeats) and
    # the span-removal applier (per-doc sorted collect_list + one Arrow
    # reconstruction — windows partitioned by doc_id only)
    "docs_mix_epoch (epoch mixture materialization)": Q.QUERIES["docs_mix_epoch"](spark, "/root/testdata/sf0.1"),
    "docs_spans_applied (span-removal applier)": Q.QUERIES["docs_spans_applied"](spark, "/root/testdata/sf0.1"),
}

with open(os.path.join(root, "BENCH", "PLANS.md"), "w") as f:
    f.write("""# BENCH/PLANS — physical-plan audit of the headline queries

Generated by tools/gen_plans.py (Spark `explain("formatted")`, AQE on,
initial static plans — AQE re-optimizes at runtime from real sizes).
What to look for, per the scale design: joins are ShuffledHashJoin /
BroadcastHashJoin on int64 cell or bucket keys (never
BroadcastNestedLoopJoin / CartesianProduct — plan-shape-tested), Python
appears only as ArrowEvalPython / MapInPandas islands (Arrow-batched
kernels), scans carry PushedFilters / pruned ReadSchema, and relational
stages sit inside WholeStageCodegen spans.

""")
    for name, df in targets.items():
        plan = fmt(df)
        f.write(f"## {name}\n\nOperator histogram: `{summarize(plan)}`\n\n")
        body = plan[:6000]
        f.write("```\n" + body + ("\n... [truncated]\n" if len(plan) > 6000 else "") + "```\n\n")
    # the no-cartesian guarantee, asserted live here too
    joined = fmt(qs["conflate_join"]())
    if "CartesianProduct" in joined or "BroadcastNestedLoopJoin" in joined:
        raise ValueError("conflate plan degenerated to a nested-loop join")
    f.write("Conflate plan verified free of CartesianProduct/BroadcastNestedLoopJoin at generation time.\n")
print("written")
spark.stop()
