#!/usr/bin/env python
"""Insert-time ef_construction curve (VERDICT r13 next #6): the per-row
graph-insert cost is ~efc beam searches, and r13's amortization table
measured ~7 ms/row at the reference's BUILD constant efc=200
(services/index_service.py:91) applied unchanged at MAINTENANCE time.
This tool measures, on the realistic-geometry 384-dim fixture
(tests/fixtures/realistic_embeddings_384.parquet), what INSERT-time efc
actually buys: per-row insert wall time and recall@5 at the standard
serving breadth (ef=50, nprobe=4 over 16 cells) vs exact cosine ground
truth — both after one 10% insert wave and after a 5-batch 2% soak (the
cumulative-degradation check a single wave can hide).

Build-time efc stays 200 everywhere; only the insert beam varies — the
exact knob ``refresh_celled_hnsw_index(insert_efc=)`` exposes.

Usage::

    python -m tools.insert_efc_curve [--out measurements/r14_insert_efc_curve.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pyarrow.parquet as pq

from vector_search_question_answer_api_spark.operators.hnsw_numpy import NumpyHNSW
from vector_search_question_answer_api_spark.operators.ivf import centroid_grid

FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "fixtures", "realistic_embeddings_384.parquet",
)
DIM, N_CELLS, M, BUILD_EFC = 384, 16, 16, 200
K, SERVE_EF, NPROBE = 5, 50, 4


def _load() -> np.ndarray:
    t = pq.read_table(FIXTURE)
    mat = np.array([list(v) for v in t["embedding"].to_pylist()],
                   dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    return mat


def _cells(mat: np.ndarray, cents: np.ndarray) -> np.ndarray:
    # nearest grid centroid by cosine (the ivf.assign_cell rule)
    cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    return np.argmax(mat @ cn.T, axis=1)


def _build(mat, labels, cell_of):
    graphs = {}
    for c in range(N_CELLS):
        idx = np.where(cell_of == c)[0]
        if not len(idx):
            continue
        g = NumpyHNSW(DIM, m=M, ef_construction=BUILD_EFC)
        g.add_items(mat[idx], labels[idx])
        graphs[c] = g
    return graphs


def _serve(graphs, qmat, cents, live_n):
    cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    out = []
    for q in qmat:
        probes = np.argsort(-(q @ cn.T))[:NPROBE]
        cand = []
        for c in probes:
            g = graphs.get(int(c))
            if g is None:
                continue
            kk = min(K, g.get_live_count())
            if kk <= 0:
                continue
            labs, dists = g.knn_query(q[None, :], kk, ef=SERVE_EF)
            cand.extend(
                (d, int(l)) for d, l in zip(dists[0], labs[0]) if l >= 0
            )
        cand.sort()
        out.append([int(l) for _, l in cand[:K]])
    return out


def _exact(mat, labels, qmat):
    sims = qmat @ mat.T
    out = []
    for row in sims:
        top = np.argsort(-row, kind="stable")[:K]
        out.append([int(labels[i]) for i in top])
    return out


def _recall(got, want):
    return float(
        np.mean([len(set(g) & set(w)) / len(w) for g, w in zip(got, want)])
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    ap.add_argument("--efcs", default="10,25,50,100,200")
    args = ap.parse_args()
    mat = _load()
    n = len(mat)
    labels = np.arange(n, dtype=np.int64)
    cents = np.array(centroid_grid(DIM, N_CELLS), dtype=np.float64)
    cell_of = _cells(mat, cents)
    rng = np.random.RandomState(31)
    perm = rng.permutation(n)
    ins = np.sort(perm[: n // 10])          # the 10% insert wave
    base = np.sort(perm[n // 10:])
    qidx = np.arange(0, n, 10)              # held-out-style query mix
    qmat = mat[qidx]
    want = _exact(mat, labels, qmat)

    results = {}
    for efc in [int(x) for x in args.efcs.split(",")]:
        # one-wave: build base at efc=200, insert the 10% at insert_efc
        graphs = _build(mat, labels, np.where(
            np.isin(np.arange(n), base), cell_of, -1))
        t0 = time.perf_counter()
        for c in range(N_CELLS):
            rows = ins[cell_of[ins] == c]
            if not len(rows):
                continue
            g = graphs.get(c)
            if g is None:
                g = graphs[c] = NumpyHNSW(DIM, m=M, ef_construction=BUILD_EFC)
            old = g.efc
            g.efc = efc
            try:
                g.add_items(mat[rows], labels[rows])
            finally:
                g.efc = old
        wave_sec = time.perf_counter() - t0
        rec_wave = _recall(_serve(graphs, qmat, cents, n), want)
        # soak: the same 10% in 5 sequential 2% batches
        graphs = _build(mat, labels, np.where(
            np.isin(np.arange(n), base), cell_of, -1))
        chunks = np.array_split(ins, 5)
        t0 = time.perf_counter()
        for ch in chunks:
            for c in range(N_CELLS):
                rows = ch[cell_of[ch] == c]
                if not len(rows):
                    continue
                g = graphs.get(c)
                if g is None:
                    g = graphs[c] = NumpyHNSW(
                        DIM, m=M, ef_construction=BUILD_EFC)
                old = g.efc
                g.efc = efc
                try:
                    g.add_items(mat[rows], labels[rows])
                finally:
                    g.efc = old
        soak_sec = time.perf_counter() - t0
        rec_soak = _recall(_serve(graphs, qmat, cents, n), want)
        results[efc] = {
            "ms_per_row": round(1000 * wave_sec / len(ins), 3),
            "recall_at5_wave": round(rec_wave, 4),
            "recall_at5_soak": round(rec_soak, 4),
            "soak_ms_per_row": round(1000 * soak_sec / len(ins), 3),
        }
        print(json.dumps({str(efc): results[efc]}), flush=True)

    # ---- single-graph regime (the discriminating experiment) ----------
    # In the celled layout above every blob holds ~n/16 rows, so ef=50 is
    # near-exhaustive per blob and recall is bottlenecked by nprobe cell
    # routing — insert-efc CANNOT show there.  Graph quality only matters
    # when ef << graph size: one 2000-node graph, ef=50, is the regime a
    # production cell (>=10^5 rows) lives in.
    single = {}

    def _graph_recall(g):
        got = []
        for q in qmat:
            labs, _d = g.knn_query(q[None, :], K, ef=SERVE_EF)
            got.append([int(l) for l in labs[0] if l >= 0])
        return _recall(got, want)

    for efc in [int(x) for x in args.efcs.split(",")]:
        g = NumpyHNSW(DIM, m=M, ef_construction=BUILD_EFC)
        g.add_items(mat[base], labels[base])
        t0 = time.perf_counter()
        old = g.efc
        g.efc = efc
        try:
            for ch in np.array_split(ins, 5):  # soak-shaped: 5 x 2%
                g.add_items(mat[ch], labels[ch])
        finally:
            g.efc = old
        sec = time.perf_counter() - t0
        # recall over the held-out mix AND over the inserted rows
        # themselves (their connectivity is what a narrow beam hurts)
        got_ins = []
        for q in mat[ins]:
            labs, _d = g.knn_query(q[None, :], K, ef=SERVE_EF)
            got_ins.append([int(l) for l in labs[0] if l >= 0])
        want_ins = _exact(mat, labels, mat[ins])
        single[efc] = {
            "ms_per_row": round(1000 * sec / len(ins), 3),
            "recall_at5": round(_graph_recall(g), 4),
            "recall_at5_inserted_queries": round(
                _recall(got_ins, want_ins), 4
            ),
        }
        print(json.dumps({f"single_{efc}": single[efc]}), flush=True)
    g = NumpyHNSW(DIM, m=M, ef_construction=BUILD_EFC)
    g.add_items(mat, labels)
    single_ref = round(_graph_recall(g), 4)

    # reference: recall of a full efc=200 from-scratch build (no inserts)
    graphs = _build(mat, labels, cell_of)
    ref = _recall(_serve(graphs, qmat, cents, n), want)
    out = {
        "fixture": os.path.basename(FIXTURE),
        "n": int(n), "dim": DIM, "n_cells": N_CELLS, "m": M,
        "build_efc": BUILD_EFC, "k": K, "serve_ef": SERVE_EF,
        "nprobe": NPROBE, "insert_fraction": 0.1,
        "recall_full_build_efc200": round(ref, 4),
        "curve": results,
        "single_graph": {
            "note": "one 2000-node graph, serve ef=50 << n — the regime "
                    "a production cell lives in; celled recall above is "
                    "nprobe-routing-bottlenecked (125-row blobs are "
                    "near-exhaustive at ef=50)",
            "recall_full_build_efc200": single_ref,
            "curve": single,
        },
    }
    print(json.dumps(out))
    if args.out:
        with open(args.out, "w", encoding="utf-8") as f:
            json.dump(out, f)


if __name__ == "__main__":
    main()
