#!/usr/bin/env python
"""Measured HNSW ef-vs-recall curve at multiple corpus sizes — the sizing
rule for the graph tier's search breadth, companion to the PQ refine rule
(tools/refine_curve.py, SCALE.md).

The interesting contrast with PQ: the refine depth for a recall target
grows LINEARLY with the scored-set size (measured: constant ~4% shortlist
fraction), while HNSW's ef for the same target should be roughly
corpus-size-INDEPENDENT — the graph walk is ~O(ef * log n) distance
evaluations and the beam only needs to cover the local neighborhood, not
a corpus fraction.  This tool measures both claims on the same clustered
fixture so the rule is data, not folklore.

Usage::

    python -m tools.ef_curve [--k 5] [--sizes 500,2000,8000]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np


def _clustered(n, dim=64, n_modes=20, seed=7):
    rng = np.random.RandomState(seed)
    cents = rng.standard_normal((n_modes, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    pts = cents[np.arange(n) % n_modes] + 0.08 * rng.standard_normal((n, dim))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    return pts


def _load_fixture(path):
    """Load an embeddings parquet (vec_id long, embedding array<float>) as
    a float32 matrix — the seam for the frozen realistic-geometry fixture
    (tests/fixtures/realistic_embeddings_384.parquet) or any real-model
    embedding dump supplied out-of-band."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["embedding"])
    return np.array(t.column("embedding").to_pylist(), dtype=np.float32)


def curve(n, k, efs, n_queries=50, dim=64, pts=None, tag=None):
    """Single-graph measurement (NumpyHNSW, M=16/efC=200 — the
    reference's build constants): per-partition recall of the Spark tier
    equals single-graph recall at the same ef (each partition answers
    exactly over its shard and the merge is lossless), so the graph-local
    curve IS the tier's curve."""
    from vector_search_question_answer_api_spark.operators.hnsw_numpy import (
        NumpyHNSW,
    )

    if pts is None:
        pts = _clustered(n, dim=dim)
    else:
        n, dim = pts.shape
    g = NumpyHNSW(dim, m=16, ef_construction=200)
    g.add_items(pts, np.arange(n))
    q = pts[:n_queries]
    sims = q @ pts.T
    out = []
    for ef in efs:
        labels, dists = g.knn_query(q, k=k, ef=ef)
        hits = total = 0
        for i in range(n_queries):
            d = 1.0 - sims[i]
            want = set(np.lexsort((np.arange(n), d))[:k].tolist())
            got = {int(x) for x in labels[i] if x >= 0}
            hits += len(want & got)
            total += k
        row = {"n": n, "k": k, "ef": ef, "recall": round(hits / total, 4)}
        if tag:
            row["corpus"] = tag
        print(json.dumps(row), flush=True)
        out.append(row)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--sizes", default="500,2000,8000")
    ap.add_argument("--target", type=float, default=0.95)
    ap.add_argument(
        "--fixture",
        default="",
        help="path[:name] of an embeddings parquet (vec_id long, embedding "
        "array<float>) to run the curve on INSTEAD of the synthetic sizes "
        "— e.g. tests/fixtures/realistic_embeddings_384.parquet",
    )
    args = ap.parse_args()
    efs = [5, 10, 15, 25, 50, 100, 200]
    fit = {}
    if args.fixture:
        path, _, name = args.fixture.partition(":")
        pts = _load_fixture(path)
        rows = curve(0, args.k, efs, pts=pts,
                     tag=name or os.path.basename(path))
        ok = [r["ef"] for r in rows if r["recall"] >= args.target]
        fit[pts.shape[0]] = min(ok) if ok else None
    else:
        for n in [int(s) for s in args.sizes.split(",")]:
            rows = curve(n, args.k, efs)
            ok = [r["ef"] for r in rows if r["recall"] >= args.target]
            fit[n] = min(ok) if ok else None
    print(json.dumps({"min_ef_for_recall": fit, "target": args.target}),
          flush=True)


if __name__ == "__main__":
    main()
