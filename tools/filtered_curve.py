#!/usr/bin/env python
"""Measured recall-vs-selectivity curve for filtered vector search's
``ann_postfilter`` strategy (VERDICT r6 #5) — turns the documented
``oversample >= 1/s`` heuristic into a measured rule like the
nprobe/ef/refine triad (SCALE.md).

Setup: the hard-geometry corpus (Zipf cluster sizes, low-rank centers,
anisotropy, outliers — the recall audit's stress fixture), the celled
cogrouped graph tier at the production defaults (16 cells, nprobe=4,
ef=50, trained centroids), and an id-hash predicate INDEPENDENT of the
geometry (each selectivity keeps a uniform random s of every cluster —
the regime post-filtering is for; the anti-correlated worst case is
documented and tested separately in tests/test_search.py).

For each (selectivity s, oversample o): recall@k of
``filtered_knn(strategy='ann_postfilter')`` against the exact
filter-first relation over the same predicate.

Usage::

    python -m tools.filtered_curve [--k 5] [--n 2000]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--n", type=int, default=2000)
    ap.add_argument("--n-queries", type=int, default=50)
    args = ap.parse_args()

    from tools.recall_audit import _hard_geometry
    from vector_search_question_answer_api_spark.functions import vector as V
    from vector_search_question_answer_api_spark.operators import ann_hnsw
    from vector_search_question_answer_api_spark.operators.ivf import (
        train_centroids,
    )
    from vector_search_question_answer_api_spark.operators.search import (
        filtered_knn,
        knn_exact_expr,
    )
    from vector_search_question_answer_api_spark.session import get_spark

    spark = get_spark(app_name="filtered_curve")
    k = args.k
    idx = (
        _hard_geometry(spark, n=args.n)
        .select(
            F.col("vec_id").alias("doc_id"),
            V.l2_normalize(F.col("embedding"))
            .cast("array<double>")
            .alias("norm_embedding"),
            # id-hash bucket in [0,100): selectivity s keeps bucket < 100s
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(100)).alias("bucket"),
        )
        .cache()
    )
    idx.count()
    q = idx.filter(F.col("doc_id") < args.n_queries).select(
        F.col("doc_id").alias("query_id"),
        F.col("norm_embedding").alias("qvec"),
    )
    cents = train_centroids(idx, dim=64, n_cells=16, n_iters=5)
    graphs = ann_hnsw.build_celled_hnsw(
        idx, centroids=cents, dim=64, n_cells=16
    ).cache()
    graphs.count()

    def tier(queries, kk):
        return ann_hnsw.celled_hnsw_topk_cogrouped(
            graphs, queries, centroids=cents, k=kk, ef=50, dim=64,
            n_cells=16, nprobe=4,
        )

    def sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(int(r["query_id"]), set()).add(int(r["doc_id"]))
        return out

    rows = []
    for s in (0.5, 0.25, 0.1, 0.05):
        pred = F.col("bucket") < int(round(100 * s))
        exact = sets(knn_exact_expr(q, idx.filter(pred), k=k))
        for o in (1, 2, 4, 8, 16, 32):
            got = sets(
                filtered_knn(
                    q, idx, pred, k=k, strategy="ann_postfilter",
                    oversample=o, ann_topk=tier,
                )
            )
            hits = sum(len(exact[qq] & got.get(qq, set())) for qq in exact)
            total = sum(len(v) for v in exact.values())
            row = {
                "selectivity": s,
                "oversample": o,
                "recall": round(hits / total, 4),
                "k": k,
                "n": args.n,
            }
            print(json.dumps(row), flush=True)
            rows.append(row)
    # the rule check: smallest oversample reaching >=0.95 per selectivity
    for s in (0.5, 0.25, 0.1, 0.05):
        ok = [r["oversample"] for r in rows
              if r["selectivity"] == s and r["recall"] >= 0.95]
        print(json.dumps({
            "selectivity": s,
            "min_oversample_for_0.95": min(ok) if ok else None,
            "heuristic_1_over_s": round(1.0 / s, 1),
        }), flush=True)
    graphs.unpersist()
    idx.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
