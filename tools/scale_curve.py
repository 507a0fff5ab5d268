#!/usr/bin/env python
"""Scaling-curve measurement (VERDICT r03 #5): time the headline kernels
at sf0.1 and at the 10x dataset from tools/gen_scale_data.py, print the
per-query ratio. A ~linear (<=10x) time ratio at 10x data is the
empirical evidence behind the plan-shape 100x arguments in SCALE.md.

Usage: python tools/scale_curve.py [SF01_DIR] [SF1_DIR]
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

HEADLINE = [
    "marts_kernel",
    "minhash_lsh_pairs",
    "setsim_prefix_join",
    "setsim_containment_join",
    "ivfpq_topk",
    "winsorized_scalable",
    "weekly_p90_scalable",
    "pagerank_topk",
    "kcore_peel_counts",
    "lpa_communities",
    "bfs_reachability",
    "triangle_count_sampled",
    "tfidf_topk_terms",
    "chunk_dedup_stats",
    "duplicate_span_stats",
    "hard_negative_mining",
    "semantic_decontamination",
    "item_similarity_topk",
    "lsh_quality_eval",
    "corpus_release_gate",
    # late-r05 additions (retrieval-quality + link-analysis families)
    "bm25_topk",
    "rrf_fusion_topk",
    "bigram_lm_familiarity",
    "ra_linkpred_topk",
    "hits_topk",
    "source_wjaccard",
    "chisq_source_drift",
]

# Optional subset selection: SCALE_CURVE_ONLY=q1,q2 restricts the run
# (used to extend the curve with new queries without re-timing the rest).
_ONLY = os.environ.get("SCALE_CURVE_ONLY")
if _ONLY:
    only = {s.strip() for s in _ONLY.split(",") if s.strip()}
    # Union, not filter-with-fallback: requested names already in HEADLINE
    # keep their curve order, NON-headline names are appended (sorted) so
    # mixing a headline query with a new one runs both (ADVICE r05 — the
    # old `or` fallback silently dropped the new name).
    HEADLINE = [n for n in HEADLINE if n in only] + sorted(
        only - set(HEADLINE)
    )


def main() -> None:
    sf01 = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sf1 = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scaledata/sf1.0"

    from reddit_data_pipeline_engineering_spark.plans.queries import (
        REGISTRY,
        queries,
    )
    from reddit_data_pipeline_engineering_spark.session import get_spark
    from reddit_data_pipeline_engineering_spark.sources.tables import load_table

    queries()
    spark = get_spark(app_name="rdpe-scale-curve")

    out: dict[str, dict[str, float]] = {}
    for sf_name, sf_dir in (("sf0.1", sf01), ("sf1.0", sf1)):
        for t in ("lineitem", "events", "customer", "documents", "embeddings"):
            load_table(spark, sf_dir, t).count()
        for name in HEADLINE:
            REGISTRY[name].fn(spark, sf_dir).count()  # warm-up pass
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                REGISTRY[name].fn(spark, sf_dir).count()
                best = min(best, time.perf_counter() - t0)
            out.setdefault(name, {})[sf_name] = round(best, 3)
            print(f"{name} @ {sf_name}: {best:.3f}s", file=sys.stderr)

    for name, d in out.items():
        d["ratio"] = round(d["sf1.0"] / d["sf0.1"], 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
