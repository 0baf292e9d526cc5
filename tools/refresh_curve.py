#!/usr/bin/env python
"""Measured incremental-refresh economics (VERDICT r8 #1, carried from r7).

The managed cell stores (``sources/cell_store``) promise refresh cost
proportional to the DIRTY-CELL fraction — rebuild only the cells an upsert
batch touches, instead of the reference's whole-index rebuild
(``/refresh-index``, services/index_service.py:112-115).  This harness
MEASURES that claim for both artifacts:

- ``pq.refresh_ivfpq_index``   (re-encode dirty cells, manifest swap)
- ``ann_hnsw.refresh_celled_hnsw_index``  (re-build dirty cells' graphs,
  manifest swap, membership-sidecar update — the sidecar write is INSIDE
  the timed region: it is part of every production refresh)

against the full managed rebuild (``write_ivfpq_index_managed`` /
``build_celled_hnsw`` + ``write_celled_hnsw_index_managed``) it replaces,
across upsert-batch footprints x batch LOCALITY:

- ``local``     — the batch is drawn from ONE coarse cell (localized
  updates: re-crawl of one domain, one shard's corrections).  Dirty cells
  = 1 regardless of batch size; the regime where incrementality pays most.
- ``scattered`` — the batch is a uniform sample of the corpus (random
  updates).  Dirty cells ~= min(n_cells, batch size): a scattered batch
  of >= n_cells rows dirties EVERYTHING, so refresh degenerates to the
  full rebuild plus manifest/sidecar overhead — the honest upper bound.

Corpus: the sf embeddings table replicated ``--rep`` times under the same
isometric sign-flip salting ``tools/scaling.py`` uses (within-shard
geometry preserved bit-for-bit, vec_id offset per shard).  Upserts re-use
the rows' existing values: refresh cost is a function of WHICH cells are
dirty, not of what the new values are (the dirty cells are rebuilt from
scratch either way), and same-value upserts let the serving == rebuild
pin stay exact.

Each (artifact, n_cells, fraction, locality) point is best-of-2 (the
in-session straggler rule from tools/scaling.py); each configuration ends
with a serving == rebuild equality pin (top-k rows against the refreshed
store vs a from-scratch managed write).

Usage::

    python -m tools.refresh_curve [--base /root/testdata/sf0.1] [--rep 4]
                                  [--n-cells 16,64] [--fracs 0.001,0.01,0.1]

Prints one JSON object; SCALE.md records the run + the crossover rule.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_search_question_answer_api_spark.functions import vector as V
from vector_search_question_answer_api_spark.operators import ann_hnsw
from vector_search_question_answer_api_spark.operators.ivf import (
    assign_cell,
    centroid_grid,
)
from vector_search_question_answer_api_spark.operators.pq import (
    codebook_grid,
    ivfpq_topk_ondisk,
    refresh_ivfpq_index,
    write_ivfpq_index_managed,
)
from vector_search_question_answer_api_spark.session import get_spark
from vector_search_question_answer_api_spark.sources.tables import load_table

DIM = 64


def _corpus(spark: SparkSession, base: str, rep: int) -> DataFrame:
    """sf embeddings x rep, sign-flip salted per shard (see tools/scaling.py):
    within-shard cosine geometry is bit-identical, ids offset per shard."""
    emb = load_table(spark, base, "embeddings", parallelize=False)
    n0 = int(emb.agg(F.max("vec_id")).first()[0]) + 1
    rng = random.Random(20260814)
    signs = [
        (k, [1.0] * DIM if k == 0
         else [1.0 if rng.random() < 0.5 else -1.0 for _ in range(DIM)])
        for k in range(rep)
    ]
    sdf = spark.createDataFrame(signs, "shard int, signs array<float>")
    out = (
        emb.select("*", F.explode(F.sequence(F.lit(0), F.lit(rep - 1))).alias("shard"))
        .join(F.broadcast(sdf), "shard")
        .select(
            (F.col("vec_id") + F.col("shard").cast("long") * n0).alias("doc_id"),
            V.l2_normalize(
                F.zip_with("embedding", "signs", lambda x, s: x * s)
            ).cast("array<double>").alias("norm_embedding"),
        )
    )
    return out.repartition(32).persist()


def _pick_delta(
    with_cell: DataFrame, n: int, frac: float, locality: str, seed: int
) -> DataFrame:
    rows = max(1, int(n * frac))
    if locality == "local":
        top = with_cell.groupBy("cell").count().orderBy(F.desc("count")).first()
        pool = with_cell.filter(F.col("cell") == int(top["cell"]))
        return pool.drop("cell").limit(rows)
    # scattered: deterministic uniform id-hash sample (2x oversampled so
    # hash variance does not undershoot the target row count, then capped)
    mod = max(1, n // (rows * 2))
    return (
        with_cell.filter(F.pmod(F.xxhash64("doc_id") + seed, F.lit(mod)) == 0)
        .drop("cell")
        .limit(rows)
    )


def run(base: str, rep: int, cells_list: list[int], fracs: list[float]) -> dict:
    spark = get_spark(app_name="refresh_curve")
    root = tempfile.mkdtemp(prefix="refresh_curve_")
    corpus = _corpus(spark, base, rep)
    n = corpus.count()
    q = corpus.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"), F.col("norm_embedding").alias("qvec")
    ).persist()
    q.count()
    cbs = codebook_grid(DIM, 8, 16)
    out: dict = {"base": base, "rep": rep, "n_vectors": n, "points": []}

    for n_cells in cells_list:
        cents = centroid_grid(DIM, n_cells)
        with_cell = corpus.withColumn(
            "cell", assign_cell(F.col("norm_embedding"), cents)
        ).persist()
        occupied = with_cell.select("cell").distinct().count()
        ids = with_cell.select("doc_id", "cell")

        # ---- full-rebuild baselines (best-of-2) ----
        def rebuild_pq(dest: str) -> float:
            shutil.rmtree(dest, ignore_errors=True)
            t0 = time.perf_counter()
            write_ivfpq_index_managed(
                corpus, dest, cbs, centroids=cents, dim=DIM, n_cells=n_cells
            )
            return time.perf_counter() - t0

        def rebuild_hnsw(dest: str) -> float:
            shutil.rmtree(dest, ignore_errors=True)
            t0 = time.perf_counter()
            graphs = ann_hnsw.build_celled_hnsw(
                corpus, centroids=cents, dim=DIM, n_cells=n_cells,
            )
            ann_hnsw.write_celled_hnsw_index_managed(graphs, dest, ids=ids)
            return time.perf_counter() - t0

        pq_path = f"{root}/pq_{n_cells}"
        g_path = f"{root}/g_{n_cells}"
        pq_rebuild = min(rebuild_pq(pq_path), rebuild_pq(pq_path))
        g_rebuild = min(rebuild_hnsw(g_path), rebuild_hnsw(g_path))

        for frac in fracs:
            for locality in ("local", "scattered"):
                delta = _pick_delta(
                    with_cell, n, frac, locality, seed=int(frac * 1e6)
                ).persist()
                d_rows = delta.count()

                pq_times, g_times, pq_dirty, g_dirty = [], [], None, None
                for _ in range(2):
                    t0 = time.perf_counter()
                    dirty = refresh_ivfpq_index(
                        spark, pq_path, corpus, delta, cbs, centroids=cents,
                        dim=DIM, n_cells=n_cells,
                    )
                    pq_times.append(time.perf_counter() - t0)
                    pq_dirty = len(dirty)
                for _ in range(2):
                    t0 = time.perf_counter()
                    dirty = ann_hnsw.refresh_celled_hnsw_index(
                        spark, g_path, corpus, delta, centroids=cents,
                        dim=DIM, n_cells=n_cells,
                    )
                    g_times.append(time.perf_counter() - t0)
                    g_dirty = len(dirty)
                delta.unpersist()
                out["points"].append({
                    "n_cells": n_cells,
                    "occupied_cells": occupied,
                    "frac": frac,
                    "locality": locality,
                    "batch_rows": d_rows,
                    "ivfpq": {
                        "refresh_sec": round(min(pq_times), 3),
                        "rebuild_sec": round(pq_rebuild, 3),
                        "dirty_cells": pq_dirty,
                    },
                    "hnsw": {
                        "refresh_sec": round(min(g_times), 3),
                        "rebuild_sec": round(g_rebuild, 3),
                        "dirty_cells": g_dirty,
                    },
                })

        # ---- serving == rebuild pins (once per n_cells, after all the
        # refreshes above mutated the stores) ----
        ref_pq = f"{root}/pqref_{n_cells}"
        rebuild_pq(ref_pq)

        def pq_rows(p):
            return {
                (r["query_id"], r["rank"]): (r["doc_id"], round(r["distance"], 9))
                for r in ivfpq_topk_ondisk(
                    spark, q, p, corpus, cbs, centroids=cents, k=5, dim=DIM,
                    n_cells=n_cells, nprobe=4, refine=8,
                ).collect()
            }

        assert pq_rows(pq_path) == pq_rows(ref_pq), (
            f"ivfpq store diverged from rebuild at n_cells={n_cells}"
        )

        def g_rows(graphs):
            return {
                (r["query_id"], r["rank"]): (r["doc_id"], round(r["distance"], 9))
                for r in ann_hnsw.celled_hnsw_topk_cogrouped(
                    graphs, q, centroids=cents, k=5, ef=int(n), dim=DIM,
                    n_cells=n_cells, nprobe=n_cells,
                ).collect()
            }

        assert g_rows(ann_hnsw.read_celled_hnsw_index(spark, g_path)) == g_rows(
            ann_hnsw.build_celled_hnsw(
                corpus, centroids=cents, dim=DIM, n_cells=n_cells,
            )
        ), f"hnsw store diverged from rebuild at n_cells={n_cells}"
        out["points"] = out["points"]  # keep ordering stable
        with_cell.unpersist()

    shutil.rmtree(root, ignore_errors=True)
    spark.stop()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--base",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--rep", type=int, default=4)
    ap.add_argument("--n-cells", default="16,64")
    ap.add_argument("--fracs", default="0.001,0.01,0.1")
    args = ap.parse_args()
    print(
        json.dumps(
            run(
                args.base,
                args.rep,
                [int(c) for c in args.n_cells.split(",")],
                [float(f) for f in args.fracs.split(",")],
            )
        )
    )


if __name__ == "__main__":
    main()
