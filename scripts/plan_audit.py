"""Physical-plan audit of the pipeline's hot path — the `.explain`
evidence loop behind SURVEY §7's scale posture.

For each hot stage, print a compact operator summary of the EXECUTED
(post-AQE) plan plus the properties that matter at 100 TB:

- parquet scans: `PushedFilters` / `ReadSchema` (predicate pushdown +
  column pruning actually reached the scan);
- joins: Broadcast vs SortMerge vs ShuffledHash (small sides must
  broadcast; the block-pair path must NOT contain a self-join at all —
  it is a single groupBy + explode by design);
- exchange count (every one is a shuffle — the budget per stage is
  documented inline);
- WholeStageCodegen spans (JVM-side expression work; Python appears
  only at the two pandas-UDF sites: signatures and content verify).

Usage: python scripts/plan_audit.py [sf_dir]   (default sf0.01)
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def summarize(name: str, df, budget: str) -> None:
    plan = df._jdf.queryExecution().executedPlan().toString()
    ops = Counter(
        m.group(1)
        for m in re.finditer(r"^\s*[+:*-]*\s*\(?\d*\)?\s*([A-Za-z]+)", plan, re.M)
    )
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    schemas = re.findall(r"ReadSchema: ([^\n]+)", plan)
    print(f"\n== {name} — shuffle budget: {budget}")
    print(
        "   exchanges={} reused={} bhj={} smj={} shj={} codegen_spans={} "
        "python_udf_sites={}".format(
            ops.get("Exchange", 0),
            ops.get("ReusedExchange", 0),
            ops.get("BroadcastHashJoin", 0),
            ops.get("SortMergeJoin", 0),
            ops.get("ShuffledHashJoin", 0),
            ops.get("WholeStageCodegen", 0) or plan.count("*("),
            plan.count("ArrowEvalPython") + plan.count("FlatMapGroupsInPandas"),
        )
    )
    for p in pushed[:3]:
        print(f"   PushedFilters: [{p}]")
    for s in schemas[:2]:
        print(f"   ReadSchema: {s.strip()}")


def main() -> None:
    from dedup_spark.config import DedupConfig
    from dedup_spark.plans.pipeline import DedupPipeline
    from dedup_spark.session import get_spark
    from dedup_spark.sources.loader import documents_as_code_files, prepare_code_files

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = DedupConfig()
    pipe = DedupPipeline(spark, cfg)

    raw = documents_as_code_files(spark, sf_dir)
    summarize(
        "scan+filter (pushdown check)",
        raw.filter(F.length("content") > 0).select("repo", "path", "size"),
        "0 (scan only)",
    )
    files = prepare_code_files(raw, cfg)

    # run()'s own collapse: signatures, the fused hash window (one
    # shuffle yields both the rep rank and exact_rep), its two cuts
    members, reps = pipe.collapse(files)
    summarize(
        "candidates (LSH ∪ SimHash bucket forms)",
        pipe.candidates(reps),
        "3: band groupBy, block-pair groupBy, union distinct — NO self-join",
    )
    verified = pipe.verify(
        pipe.candidates(reps), reps, content_df=files.select("file_id", "content")
    )
    summarize(
        "verify (cheap tiers → content UDF)",
        verified,
        "pair joins vs rep signatures (broadcast when small) + 1 repartition "
        "before the Python verify site",
    )
    summarize(
        "cluster (exact_rep + CC labels)",
        pipe.cluster(members, verified),
        "CC + one merge label join on exact_rep + size window (no hash "
        "shuffle: exact_rep comes from collapse()'s cut frame)",
    )

    # ANN scale paths: the candidate join must be a bucket/cell
    # equi-join (never a cross join), with Python only at the
    # Arrow-batched key UDF sites
    emb_path = f"{sf_dir}/embeddings.parquet"
    if os.path.exists(emb_path):
        from dedup_spark.operators.similarity import ann_topk_rhp, ivf_topk

        emb = spark.read.parquet(emb_path)
        q = emb.filter(F.col("vec_id") < 20)
        summarize(
            "ANN RHP-LSH (bucket join + re-rank)",
            ann_topk_rhp(emb, q, k=5, dim=64),
            "tb equi-join + pair dedup + top-k window (partial WindowGroupLimit "
            "before the exchange)",
        )
        summarize(
            "ANN IVF (cell join + re-rank)",
            ivf_topk(emb, q, k=5, n_centroids=16, n_probe=4),
            "cell equi-join + pair dedup + top-k window; centroid train is a "
            "bounded driver sample, not part of the distributed plan",
        )

    # span-level curation: single-chain plans — the span UDF must
    # appear exactly ONCE (no branch recompute), 2 exchanges, no joins
    from dedup_spark.operators.spans import decontaminate, span_dup_stats

    summarize(
        "span dup stats (single-chain window form)",
        span_dup_stats(raw),
        "2: window over span_hash + groupBy doc; UDF eval x1, no joins",
    )
    bench = raw.filter(F.col("file_id") % 20 == 0)
    corp = raw.filter(F.col("file_id") % 20 != 0)
    summarize(
        "decontaminate (broadcast bench span set)",
        decontaminate(corp, bench),
        "2: bench-side distinct + groupBy doc; bench set broadcast, corpus UDF eval x1",
    )

    # code-curation surface: pure projections (regex in codegen) must
    # show ZERO exchanges; the funnel pays exactly its two dedup
    # windows + per-stage aggregates, no Python anywhere
    from dedup_spark.queries import q_code_stats, q_curation_funnel, q_session_dedup

    summarize(
        "code stats + PII + license (projection only)",
        q_code_stats(spark, sf_dir),
        "0: scan → regex projections in codegen, no shuffle, no Python",
    )
    summarize(
        "curation funnel (filters → dedup windows → aggregates)",
        q_curation_funnel(spark, sf_dir),
        "3: hash window + tokenset window + ONE conditional aggregate for all "
        "6 stages (single content scan — stack() unpivot, no union rescans; "
        "counts here double AQE's initial-plan copy)",
    )
    summarize(
        "session dedup (batch lag-chain)",
        q_session_dedup(spark, sf_dir),
        "1: one (user,type) window chain — lag + running sum share the sort",
    )

    # media near-dup paths: decode+fingerprint is ONE mapInPandas site
    # (lineage-cut before the fan-out so it is not re-evaluated per
    # branch); clustering must reuse the block-pair groupBy+explode
    # form — NO self-join, NO cross join, Python only at the decode UDF
    from dedup_spark.operators.multimodal import (
        audio_near_dup_clusters,
        image_near_dup_clusters,
    )
    from dedup_spark.sources.assets import documents_as

    summarize(
        "image near-dup (real PNG decode → pHash → block-pair join)",
        image_near_dup_clusters(documents_as(spark, sf_dir, "png")),
        "exact-collapse window + block-pair groupBy + CC + one label join on "
        "exact_rep + size window; decode UDF evaluated once behind the "
        "collapse's lineage cut",
    )
    summarize(
        "audio near-dup (real WAV decode → band fingerprint → block-pair join)",
        audio_near_dup_clusters(documents_as(spark, sf_dir, "wav")),
        "same machinery as image/text SimHash — one join family for every "
        "modality",
    )
    spark.stop()


if __name__ == "__main__":
    main()
