"""The benchmark's workloads.  Each drives the engine only through its
public functions, times each operation from the client's side and checks
its output.

A workload class provides:

- ``generate()``: write the seeded inputs (``gen.py``);
- ``setup()``: build the engine state the operations need;
- ``warmup()``: untimed operations, each code path once;
- ``op(i)``: one timed, checked client operation; returns its record;
- ``at_boundary(i)``: whether the loop may stop before op ``i``;
- ``final_checks()``, ``metrics(ops)``;
- ``TRACED_OPS``, ``probes()``, ``layer_metrics(spans, probes)`` for the
  traced run, which runs a fixed number of operations so its counters
  repeat exactly.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import functions as F

import gen
from vector_search_question_answer_api_spark.caching import cache_scope
from vector_search_question_answer_api_spark.operators import ann
from vector_search_question_answer_api_spark.operators.embed import hashing_embed_numpy
from vector_search_question_answer_api_spark.operators.index_build import build_index

DIM = 64


class CheckFailed(Exception):
    """An operation returned output that fails the benchmark's check."""


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from the suffixes of its name's parts."""
    parts = name.split(".")
    for suffix, unit in (("per_s", "1/s"), ("bytes", "bytes"), ("bytes_written", "bytes"),
                         ("_ms", "ms"), ("_s", "s")):
        if any(p.endswith(suffix) for p in parts):
            return unit
    if any(w in name for w in ("frac", "recall", "write_amp")):
        return "ratio"
    return "count"


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def _pct(xs, q: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return float(xs[min(len(xs) - 1, max(0, int(np.ceil(q * len(xs))) - 1))])


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _unit_rows(texts: list[str]) -> np.ndarray:
    """The engine's embedding of already-preprocessed texts, L2-normalized
    in float64 like ``functions.vector.l2_normalize``."""
    m = hashing_embed_numpy(texts, DIM).astype(np.float64)
    n = np.linalg.norm(m, axis=1, keepdims=True)
    return np.divide(m, n, out=np.zeros_like(m), where=n > 0)


def _phase(spans, s) -> str | None:
    """The phase (setup, warmup, measure, probe) of the top-level span
    that ``s`` belongs to."""
    by_id = {x["id"]: x for x in spans}
    while s["parent"] is not None:
        s = by_id[s["parent"]]
    return s["attrs"].get("phase")


def _spans_named(spans, name, **attrs):
    return [
        s for s in spans
        if s["name"] == name and all(s["attrs"].get(k) == v for k, v in attrs.items())
    ]


# ------------------------------------------------------------ ingest_search


class IngestSearch:
    """The served corpus under the reference's three calls: micro-batches
    of inserts, updates and deletes through the composed ingest (index
    refresh), each followed by hybrid search requests at the committed
    epoch, the dense tier cycling over the run's requests, and one batch
    replay of the /qa event log per retrieval tier against the same
    epoch."""

    DENSE = ("exact", "lsh", "graph", "ivfpq")
    TIERS = ("exact", "lsh")  # /qa retrieval tiers
    N_CELLS = 8
    COMPACT_EVERY = 2
    POOL = 20
    CHECK_SAMPLE = 300
    # a round: one micro-batch, its search requests, one replay per tier
    ROUND = 1 + gen.INGEST["queries_per_batch"] + len(TIERS)
    # two rounds, so each dense tier is searched once and the second
    # micro-batch compacts
    TRACED_OPS = 2 * ROUND

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        from vector_search_question_answer_api_spark.operators.ivf import centroid_grid
        from vector_search_question_answer_api_spark.operators.pq import codebook_grid

        self.centroids = centroid_grid(DIM, self.N_CELLS)
        self.codebooks = codebook_grid(DIM, 8, 16)
        self.progress: list[dict] = []
        self.store_stats: list[dict] = []
        self.last_exact = None  # (epoch, queries, k, rows) of the last exact request
        self.last_rows: dict[str, list] = {}  # tier -> rows of its last replay

    def generate(self) -> None:
        self.inp = gen.ingest_search(self.ctx.seed, os.path.join(self.ctx.work, "inputs"))
        self.schema = self.spark.read.parquet(self.inp["batches"][0]).schema

    def input_facts(self) -> dict:
        return {
            "n_batches": len(self.inp["batches"]) - 1,
            "user_bytes": self.inp["user_bytes"],
            "live_docs": [len(x) for x in self.inp["live_after"]],
            "requests": len(self.inp["requests"]),
            **{k: self.inp[k] for k in ("n_events", "n_sessions", "planted_off_frac", "planted_switch_frac")},
        }

    def at_boundary(self, i: int) -> bool:
        return i % self.ROUND == 0

    def _maintain(self):
        from vector_search_question_answer_api_spark.streaming import ingest_stream as IG

        q = IG.maintain_corpus(
            self.spark.readStream.schema(self.schema).option("maxFilesPerTrigger", 1).parquet(self.src),
            self.root,
            checkpoint=self.ckpt,
            dim=DIM,
            n_cells=self.N_CELLS,
            centroids=self.centroids,
            codebooks=self.codebooks,
            ann_graphs=True,
            lsh_artifact=self.art,
            docs_store=True,
            postings_store=True,
            postings_buckets=32,
            compact_index_every=self.COMPACT_EVERY,
            compact_lsh_every=self.COMPACT_EVERY,
            compact_postings_every=self.COMPACT_EVERY,
            trigger_once=True,
        )
        self.ctx.tracer.adopt_group(str(q.runId))
        q.awaitTermination()
        return q.lastProgress

    def setup(self) -> None:
        """Bootstrap a corpus with every store a serving tier reads."""
        d = os.path.join(self.ctx.work, "setup")
        self.root, self.src, self.ckpt = f"{d}/corpus", f"{d}/src", f"{d}/ckpt"
        os.makedirs(self.src)
        shutil.copy(self.inp["batches"][0], self.src)
        # the LSH artifact's centre: the mean of the bootstrap's embeddings,
        # computed here with the engine's numpy embedder (the value only
        # parameterizes the hash planes; no Spark job needed)
        boot = list(self.inp["live_after"][0].values())
        self.art = {
            "family": ann.LSH_FAMILY, "dim": DIM, "n_planes": ann.recommended_n_planes(len(boot)),
            "n_tables": ann.DEFAULT_N_TABLES, "center": tuple(_unit_rows(boot).mean(axis=0).tolist()),
        }
        with self.ctx.span("ingest_stream.maintain_corpus", batch=0):
            self._maintain()
        self.batch = 0

    def _queries(self, texts: list[str]):
        vec = _unit_rows(texts)
        return self.spark.createDataFrame(
            [(j, t, [float(x) for x in v]) for j, (t, v) in enumerate(zip(texts, vec))],
            "query_id long, query_text string, qvec array<double>",
        )

    def _search(self, texts, k, dense):
        from vector_search_question_answer_api_spark.operators import hybrid_store as HS

        with cache_scope(), self.ctx.span("hybrid_store.hybrid_search_stored", dense=dense):
            return HS.hybrid_search_stored(
                self.spark, self.root, self._queries(texts), k=k, pool=self.POOL, dense=dense,
                centroids=self.centroids, dim=DIM, n_cells=self.N_CELLS, nprobe=4, ef=50,
                codebooks=self.codebooks,
            ).collect()

    def _replay(self, tier: str, events=None):
        from vector_search_question_answer_api_spark.operators.sessions import replay_sessions
        from vector_search_question_answer_api_spark.streaming import ingest_stream as IG

        index = IG.read_corpus_index(self.spark, self.root, up_to_batch=self.batch)
        kw = {} if tier == "exact" else {"retrieval": "lsh", "lsh_index_path": IG.corpus_lsh_path(self.root)}
        if events is None:
            events = self.spark.read.parquet(self.inp["events"])
        with cache_scope(), self.ctx.span("sessions.replay_sessions", tier=tier):
            return replay_sessions(events, index, **kw).select(
                "event_id", "context_doc_id", "context_changed", "is_new_topic", "used_fallback"
            ).collect()

    def warmup(self) -> None:
        req = next(r for r in self.inp["requests"] if r["batch"] == 1)
        self._search(req["queries"], req["k"], self.DENSE[0])
        # an event sample spread over every input file, so every Python
        # worker the full replay uses is started and warm
        few = self.spark.read.parquet(self.inp["events"]).filter(F.col("event_id") % 16 == 0)
        for tier in self.TIERS:
            self._replay(tier, few)
        ev = self.spark.read.parquet(self.inp["events"]).select("event_id", "question").collect()
        self.questions = {r[0]: r[1] for r in ev}

    def _store_files(self) -> dict[str, dict[str, tuple[int, int]]]:
        out: dict[str, dict] = {}
        for store in sorted(os.listdir(self.root)):
            files = {}
            for dp, _, fs in os.walk(os.path.join(self.root, store)):
                for f in fs:
                    p = os.path.join(dp, f)
                    st = os.stat(p)
                    files[p] = (st.st_size, st.st_mtime_ns)
            out[store] = files
        return out

    def _batch_op(self) -> dict:
        from vector_search_question_answer_api_spark.streaming import ingest_stream as IG

        b = self.batch + 1
        before = self._store_files()
        failures = []
        shutil.copy(self.inp["batches"][b], self.src)
        t = time.perf_counter()
        for _attempt in range(3):
            try:
                with self.ctx.span("ingest_stream.maintain_corpus", batch=b):
                    prog = self._maintain()
                break
            except Exception as e:  # noqa: BLE001 - the stream replays the batch on restart
                # a streaming query's message wraps the handler's traceback;
                # keep its last exception line, the root cause
                msg = str(e)
                cause = [ln for ln in msg.splitlines() if "Exception:" in ln or "Error:" in ln]
                failures.append(f"{type(e).__name__}: {(cause[-1] if cause else msg)[:800]}")
        else:
            raise RuntimeError(f"batch {b} failed three times: {failures[-1]}")
        epoch = IG.corpus_committed_epoch(self.root)
        s = time.perf_counter() - t
        check(epoch == b, f"committed epoch {epoch} after batch {b}")
        self.batch = b
        after = self._store_files()
        written = {
            store: sum(sz for p, (sz, mt) in files.items() if before.get(store, {}).get(p) != (sz, mt))
            for store, files in after.items()
        }
        self.store_stats.append({"batch": b, "written": written})
        self.progress.append(prog["durationMs"])
        return {"kind": "batch", "s": s, "items": gen.INGEST["batch_rows"], "batch": b,
                "failures": failures}

    def _request_op(self, j: int) -> dict:
        req = [r for r in self.inp["requests"] if r["batch"] == self.batch][j]
        # the dense tier cycles over the run's requests, across batches
        q = gen.INGEST["queries_per_batch"]
        dense = self.DENSE[((self.batch - 1) * q + j) % len(self.DENSE)]
        k = req["k"]
        t = time.perf_counter()
        rows = self._search(req["queries"], k, dense)
        s = time.perf_counter() - t
        live = self.inp["live_after"][self.batch]
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        check(set(by_q) <= set(range(len(req["queries"]))), f"{dense}: unknown query ids")
        for qid, rs in by_q.items():
            rs.sort(key=lambda r: r["rank"])
            check([r["rank"] for r in rs] == list(range(1, len(rs) + 1)) and len(rs) <= k,
                  f"{dense}: ranks {[r['rank'] for r in rs]} for k={k}")
            check(all(r["doc_id"] in live for r in rs), f"{dense}: result not live at epoch {self.batch}")
            check(all(a["rrf_score"] >= b["rrf_score"] for a, b in zip(rs, rs[1:])),
                  f"{dense}: scores not descending")
        if dense == "exact":
            self.last_exact = (self.batch, req["queries"], k, rows)
        return {"kind": dense, "s": s, "items": len(req["queries"]), "k": k}

    def _replay_op(self, tier: str) -> dict:
        t = time.perf_counter()
        rows = self._replay(tier)
        s = time.perf_counter() - t
        n = self.inp["n_events"]
        check(len(rows) == n, f"replay {tier}: {len(rows)} output rows for {n} events")
        check(len({r[0] for r in rows}) == n, f"replay {tier}: duplicate event ids in the fold output")
        self.last_rows[tier] = (self.batch, rows)
        return {"kind": f"replay_{tier}", "s": s, "items": n,
                "topic_switch": sum(bool(r[3]) for r in rows), "fallback": sum(bool(r[4]) for r in rows)}

    def op(self, i: int) -> dict:
        j = i % self.ROUND
        q = gen.INGEST["queries_per_batch"]
        if j == 0:
            return self._batch_op()
        if j <= q:
            return self._request_op(j - 1)
        return self._replay_op(self.TIERS[j - 1 - q])

    def final_checks(self) -> list[dict]:
        """After the last batch the exact tier equals the one-shot hybrid
        over the generator's own corpus state at the committed epoch.  The
        loop's exact request is the stored side when it ran at that epoch;
        otherwise one more exact request is made."""
        from vector_search_question_answer_api_spark.operators.keyword_search import bm25_topk, rrf_fuse
        from vector_search_question_answer_api_spark.operators.search import knn_exact_expr

        e = self.batch
        live = self.inp["live_after"][e]
        docs = self.spark.createDataFrame(sorted(live.items()), "doc_id long, text string")
        if self.last_exact is not None and self.last_exact[0] == e:
            _, texts, k, stored = self.last_exact
        else:
            texts = [q for r in self.inp["requests"] if r["batch"] == max(e, 1) for q in r["queries"]]
            k = 10
            stored = self._search(texts, k, "exact")
        with cache_scope():
            with self.ctx.span("index_build.build_index", n_docs=len(live)):
                idx = build_index(docs).persist()
                idx.count()
            q = self._queries(texts)
            one = rrf_fuse(
                [
                    bm25_topk(docs, q.select("query_id", "query_text"), k=self.POOL).select("query_id", "doc_id", "rank"),
                    knn_exact_expr(q.select("query_id", "qvec"), idx, k=self.POOL).select("query_id", "doc_id", "rank"),
                ],
                k=k,
            ).collect()
            idx.unpersist()

        def rel(rows):
            return sorted((r["query_id"], r["doc_id"], round(r["rrf_score"], 9), r["rank"]) for r in rows)

        same = rel(one) == rel(stored) and len(one) > 0
        return [{
            "name": "ingest_search.exact_equals_oneshot",
            "ok": same,
            "detail": f"epoch {e}: {len(stored)} stored rows vs {len(one)} one-shot rows",
        }] + self._replay_checks()

    def _replay_checks(self) -> list[dict]:
        """Each context a replay adopted is the question's exact k=1 hit
        in the corpus at the replay's epoch, under the fold's 0.4 distance
        gate, by numpy brute force over a sample; the LSH tier adopts only
        docs whose true distance passes the gate."""
        from vector_search_question_answer_api_spark.streaming import ingest_stream as IG

        out = []
        rng = np.random.default_rng([self.ctx.seed, 99])
        mats: dict[int, tuple] = {}
        for tier in self.TIERS:
            epoch, rows = self.last_rows.get(tier, (None, []))
            rows = [r for r in rows if r[2]]
            if not rows:
                out.append({"name": f"ingest_search.replay_{tier}_hits", "ok": False, "detail": "no adopted contexts"})
                continue
            if epoch not in mats:
                idx = IG.read_corpus_index(self.spark, self.root, up_to_batch=epoch)
                got = idx.select("doc_id", "norm_embedding").collect()
                mats[epoch] = (np.array([r[0] for r in got], dtype=np.int64),
                               np.array([r[1] for r in got], dtype=np.float64))
            doc_ids, doc_mat = mats[epoch]
            pick = rng.choice(len(rows), min(self.CHECK_SAMPLE, len(rows)), replace=False)
            sample = [rows[j] for j in pick]
            sims = _unit_rows([self.questions[r[0]] for r in sample]) @ doc_mat.T
            bad = 0
            for j, r in enumerate(sample):
                hit = np.where(doc_ids == r[1])[0]
                if len(hit) == 0:
                    bad += 1
                    continue
                d_got = 1.0 - sims[j, hit[0]]
                if tier == "exact":
                    best = int(np.argmax(sims[j]))
                    ok = (hit[0] == best or abs(sims[j, best] - sims[j, hit[0]]) < 1e-6) and d_got < 0.4
                else:
                    ok = d_got < 0.4 + 1e-6
                bad += not ok
            out.append({
                "name": f"ingest_search.replay_{tier}_hits", "ok": bad == 0,
                "detail": f"epoch {epoch}: {len(sample) - bad}/{len(sample)} sampled adopted contexts match",
            })
        return out

    def _dir_bytes(self) -> int:
        return sum(sz for files in self._store_files().values() for sz, _ in files.values())

    def metrics(self, ops: list[dict]) -> dict:
        batches = [o for o in ops if o["kind"] == "batch"]
        reqs = [o for o in ops if o["kind"] in self.DENSE]
        lat = [o["s"] * 1e3 for o in reqs]
        user = sum(self.inp["user_bytes"][: self.batch + 1])
        docs_per_s = sum(o["items"] for o in batches) / sum(o["s"] for o in batches) if batches else float("nan")
        n = self.inp["n_events"]
        out = {
            # closed-loop client operations (micro-batches, search requests
            # and replays) completed per second of operation time
            "throughput_per_s": (len(ops) / sum(o["s"] for o in ops), "1/s"),
            "search_ms_p50": (_median(lat), "ms"),
            "search_ms_p90": (_pct(lat, 0.9) if lat else float("nan"), "ms"),
            "search_requests": (len(lat), "count"),
            "ingest_commit_s_p50": (_median([o["s"] for o in batches]), "s"),
            "ingest_docs_per_s": (docs_per_s, "docs/s"),
            "store_bytes_per_user_byte": (self._dir_bytes() / user, "ratio"),
            **{
                f"replay_{tier}_events_per_s": (
                    n / _median([o["s"] for o in ops if o["kind"] == f"replay_{tier}"]), "events/s")
                for tier in self.TIERS
            },
        }
        return out

    # ---- traced run

    def probes(self) -> dict:
        """The sparse side alone on every request's queries, and each dense
        tier's recall@k against exact, at the final epoch."""
        from vector_search_question_answer_api_spark.operators import ann_hnsw
        from vector_search_question_answer_api_spark.operators import lexical_store as LXS
        from vector_search_question_answer_api_spark.operators.pq import ivfpq_topk_ondisk
        from vector_search_question_answer_api_spark.operators.search import knn_exact_expr
        from vector_search_question_answer_api_spark.streaming import ingest_stream as IG

        e, k = self.batch, 10
        texts = [q for r in self.inp["requests"] if r["batch"] == e for q in r["queries"]]
        bm25_ms = []
        for r in self.inp["requests"]:
            if r["batch"] == e:
                t = time.perf_counter()
                with cache_scope(), self.ctx.span("lexical_store.bm25_topk_stored"):
                    LXS.bm25_topk_stored(
                        self.spark, IG.corpus_postings_path(self.root),
                        self._queries(r["queries"]).select("query_id", "query_text"),
                        k=self.POOL, up_to_batch=e,
                    ).collect()
                bm25_ms.append((time.perf_counter() - t) * 1e3)
        out = {"lexical_store.bm25_topk_stored_ms": _median(bm25_ms)}
        with cache_scope():
            q = self._queries(texts).select("query_id", "qvec")
            idx = IG.read_corpus_index(self.spark, self.root, up_to_batch=e).persist()

            def rel(df):
                got: dict[int, set] = {}
                for r in df.collect():
                    got.setdefault(r["query_id"], set()).add(r["doc_id"])
                return got

            exact = rel(knn_exact_expr(q, idx, k=k))
            tiers = {
                "ann.recall_at_k.lsh": ann.ann_lsh_topk_ondisk(
                    self.spark, q, IG.corpus_lsh_path(self.root), idx, k=k, up_to_batch=e),
                "ann_hnsw.recall_at_k.graph": ann_hnsw.celled_hnsw_topk_cogrouped(
                    ann_hnsw.read_celled_hnsw_index(self.spark, IG.corpus_graphs_path(self.root), up_to_batch=e),
                    q, centroids=self.centroids, k=k, ef=50, dim=DIM, n_cells=self.N_CELLS, nprobe=4),
                "pq.recall_at_k.ivfpq": ivfpq_topk_ondisk(
                    self.spark, q, IG.corpus_codes_path(self.root), idx, self.codebooks,
                    centroids=self.centroids, k=k, dim=DIM, n_cells=self.N_CELLS, nprobe=4,
                    refine=8, up_to_batch=e),
            }
            for name, df in tiers.items():
                got = rel(df)
                hit = sum(len(got.get(qid, set()) & want) for qid, want in exact.items())
                out[name] = hit / max(1, sum(len(w) for w in exact.values()))
            idx.unpersist()
        return {**out, **self._qa_probes()}

    def _qa_probes(self) -> dict:
        """Prepared /qa events per tier (forced with all columns) at the
        final epoch, LSH candidate counts and recall@1 against the exact
        tier."""
        from vector_search_question_answer_api_spark.operators.sessions import prepare_qa_events
        from vector_search_question_answer_api_spark.streaming import ingest_stream as IG

        index = IG.read_corpus_index(self.spark, self.root, up_to_batch=self.batch)
        lsh_path = IG.corpus_lsh_path(self.root)
        events = self.spark.read.parquet(self.inp["events"])
        hits = {}
        for tier in self.TIERS:
            kw = {} if tier == "exact" else {"retrieval": "lsh", "lsh_index_path": lsh_path}
            with cache_scope(), self.ctx.span("sessions.prepare_qa_events", tier=tier):
                rows = prepare_qa_events(events, index, **kw).collect()
            hits[tier] = {r["event_id"]: r["cand_doc_id"] for r in rows}
            if tier == "exact":
                qrows = [(r["event_id"], [float(x) for x in r["q_vec"]]) for r in rows]
                # recall counts the events whose exact hit passes the 0.4 gate
                gated = [r["event_id"] for r in rows if r["cand_dist"] is not None and r["cand_dist"] < 0.4]
        recall = sum(hits["lsh"].get(e) == hits["exact"][e] for e in gated) / max(1, len(gated))
        q = self.spark.createDataFrame(qrows, "query_id long, qvec array<double>")
        with cache_scope(), self.ctx.span("ann.lsh_candidates_ondisk"):
            n_cand = ann.lsh_candidates_ondisk(self.spark, q, lsh_path, index).count()
        ex = self.last_rows["exact"][1]
        return {
            "ann.lsh_candidates_per_query": n_cand / len(qrows),
            "ann.lsh_recall_at_1": recall,
            "sessions.topic_switch_frac": sum(bool(r[3]) for r in ex) / len(ex),
            "sessions.fallback_frac": sum(bool(r[4]) for r in ex) / len(ex),
        }

    def layer_metrics(self, spans, probes) -> dict:
        from vector_search_question_answer_api_spark.streaming import ingest_stream as IG

        out = dict(probes)
        b = _spans_named(spans, "index_build.build_index")[-1]
        out["index_build.build_index_s"] = b["wall_s"]
        out["embed.docs_per_s"] = b["attrs"]["n_docs"] / b["wall_s"]
        for dense in self.DENSE:
            out[f"hybrid_store.search_ms.{dense}"] = _median(
                [s["wall_s"] * 1e3 for s in _spans_named(spans, "hybrid_store.hybrid_search_stored", dense=dense)
                 if _phase(spans, s) == "measure"])
        for tier in self.TIERS:
            # the last round's replay ran at the epoch the probes use
            rep = [s for s in _spans_named(spans, "sessions.replay_sessions", tier=tier)
                   if _phase(spans, s) == "measure"][-1]
            prep = _spans_named(spans, "sessions.prepare_qa_events", tier=tier)[0]
            out[f"sessions.replay_sessions_s.{tier}"] = rep["wall_s"]
            out[f"sessions.prepare_qa_events_s.{tier}"] = prep["wall_s"]
            out[f"sessions.fold_s.{tier}"] = rep["wall_s"] - prep["wall_s"]
            out[f"sessions.attach_shuffle_bytes.{tier}"] = prep["spark"]["shuffle_write_bytes"]
            out[f"sessions.fold_shuffle_bytes.{tier}"] = (
                rep["spark"]["shuffle_write_bytes"] - prep["spark"]["shuffle_write_bytes"]
            )
        for key, name in (("triggerExecution", "ingest_stream.batch_s"), ("addBatch", "ingest_stream.add_batch_ms"),
                          ("queryPlanning", "ingest_stream.query_planning_ms"), ("walCommit", "ingest_stream.wal_commit_ms")):
            vals = [p.get(key, 0) for p in self.progress]
            out[name] = _median(vals) / (1e3 if name.endswith("_s") else 1.0)
        written_total = 0
        for store in ("index", "docs", "postings", "lsh", "graphs", "codes", "profile", "spans"):
            vals = [st["written"].get(store, 0) for st in self.store_stats]
            out[f"store.{store}.bytes_written"] = int(sum(vals) / max(1, len(vals)))
            written_total += sum(vals)
        status = IG.corpus_status(self.root)["stores"]
        depth = {
            "index": status["index"].get("log_files"),
            "docs": status["docs"].get("batch_dirs"),
            "postings": status["postings"].get("log_batches"),
            "lsh": status["lsh"].get("log_batches"),
            "profile": status["profile"].get("batch_dirs"),
            "spans": status["spans"].get("batch_dirs"),
        }
        for store, v in depth.items():
            out[f"store.{store}.log_depth"] = v
        # the cell stores maintain in place: no log, a cell count
        for store in ("graphs", "codes"):
            out[f"store.{store}.cells"] = status[store].get("cells")
        user = sum(self.inp["user_bytes"][1: self.batch + 1])
        out["store.write_amp"] = written_total / max(1, user)
        out["store.files"] = sum(len(f) for f in self._store_files().values())
        return out


# ------------------------------------------------------------------- curate


class Curate:
    """One LLM-data curation pass: exact dedup, MinHash near-dup pairs and
    clusters, duplicate-span stripping, text metrics and quality scores,
    the filter funnel, embedding near-dups and a heavy-hitter sketch."""

    TRACED_OPS = 1
    PLANTED_RECALL_FLOOR = 0.85

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def generate(self) -> None:
        self.inp = gen.curate(self.ctx.seed, os.path.join(self.ctx.work, "inputs"))

    def input_facts(self) -> dict:
        return {k: v for k, v in self.inp.items() if k not in ("docs", "planted_near")}

    def at_boundary(self, i: int) -> bool:
        return True

    def setup(self) -> None:
        """The corpus read and cached."""
        self.docs = self.spark.read.parquet(self.inp["docs"]).persist()
        self.docs.count()

    def warmup(self) -> None:
        # a sample spread over every input file, so every Python worker the
        # full pass uses is started and warm
        self._pass(self.docs.filter(F.col("doc_id") % 20 == 0))

    def _pass(self, docs) -> dict:
        from vector_search_question_answer_api_spark.operators import dedup, pipeline, sketches, spans
        from vector_search_question_answer_api_spark.operators import text_analysis as TA

        sp = self.ctx.span
        r: dict = {}
        with cache_scope():
            with sp("dedup.dedup_exact_survivors"):
                surv = dedup.dedup_exact_survivors(docs).select("doc_id").persist()
                r["survivors"] = surv.count()
            kept = docs.join(surv, "doc_id", "left_semi")
            with sp("dedup.minhash_lsh_pairs"):
                pairs = dedup.minhash_lsh_pairs(kept).persist()
                r["pairs"] = pairs.count()
            with sp("dedup.dup_clusters"):
                r["clusters"] = {(c["doc_id"], c["cluster_id"]) for c in dedup.dup_clusters(pairs).collect()}
            with sp("spans.strip_duplicate_spans"):
                _noop(spans.strip_duplicate_spans(kept))
            with sp("text_analysis.text_metrics"):
                _noop(TA.text_metrics(kept))
            with sp("text_analysis.quality_scores"):
                _noop(TA.quality_scores(kept))
            with sp("pipeline.filter_funnel"):
                r["funnel"] = [(f["stage_name"], f["n_docs"]) for f in pipeline.filter_funnel(docs).collect()]
            with sp("index_build.build_index", n_docs=r["survivors"]):
                emb = build_index(kept).select("vec_id", F.col("norm_embedding").alias("embedding")).persist()
                emb.count()
            with sp("dedup.embedding_near_dup_pairs"):
                r["emb_pairs"] = dedup.embedding_near_dup_pairs(emb).count()
            with sp("sketches.heavy_hitters_sketch"):
                r["heavy"] = [h["token"] for h in sketches.heavy_hitters_sketch(kept).collect()]
        return r

    def op(self, i: int) -> dict:
        t = time.perf_counter()
        r = self._pass(self.docs)
        s = time.perf_counter() - t
        check(r["survivors"] == self.inp["n_exact_survivors"],
              f"exact survivors {r['survivors']} != {self.inp['n_exact_survivors']} unique texts")
        cluster_of = {d: c for d, c in r["clusters"]}
        found = sum(
            a in cluster_of and cluster_of.get(a) == cluster_of.get(b) for a, b in self.inp["planted_near"]
        )
        recall = found / len(self.inp["planted_near"])
        check(recall >= self.PLANTED_RECALL_FLOOR, f"planted near-dup recall {recall:.3f}")
        counts = [n for _, n in r["funnel"]]
        check(counts[0] == self.inp["n_docs"] and counts == sorted(counts, reverse=True),
              f"funnel rows {counts}")
        check(len(r["heavy"]) > 0, "no heavy hitters")
        self.last = {**r, "planted_recall": recall}
        return {"kind": "pass", "s": s, "items": self.inp["n_docs"], "planted_recall": recall,
                "funnel": r["funnel"], "pairs": r["pairs"]}

    def final_checks(self) -> list[dict]:
        return []

    def metrics(self, ops: list[dict]) -> dict:
        s = _median([o["s"] for o in ops])
        return {
            "throughput_per_s": (self.inp["n_docs"] / s, "1/s"),
            "curate_docs_per_s": (self.inp["n_docs"] / s, "docs/s"),
            "passes": (len(ops), "count"),
        }

    # ---- traced run

    def probes(self) -> dict:
        from vector_search_question_answer_api_spark.operators import dedup

        with cache_scope(), self.ctx.span("dedup.minhash_lsh_pairs", candidates=True):
            kept = self.docs.join(dedup.dedup_exact_survivors(self.docs).select("doc_id"), "doc_id", "left_semi")
            cand = dedup.minhash_lsh_pairs(kept, threshold=0.0).count()
        return {"dedup.minhash_candidate_pairs": cand,
                "dedup.minhash_verified_frac": self.last["pairs"] / max(1, cand),
                "dedup.planted_recall": self.last["planted_recall"]}

    def layer_metrics(self, spans, probes) -> dict:
        out = dict(probes)
        measured = [s for s in spans if _phase(spans, s) == "measure"]

        def wall(name):
            return sum(s["wall_s"] for s in measured if s["name"] == name)

        for name, key in (
            ("dedup.dedup_exact_survivors", "dedup.exact_survivors_s"),
            ("dedup.minhash_lsh_pairs", "dedup.minhash_lsh_pairs_s"),
            ("dedup.dup_clusters", "dedup.dup_clusters_s"),
            ("dedup.embedding_near_dup_pairs", "dedup.embedding_near_dup_pairs_s"),
            ("spans.strip_duplicate_spans", "spans.strip_duplicate_spans_s"),
            ("text_analysis.text_metrics", "text_analysis.text_metrics_s"),
            ("text_analysis.quality_scores", "text_analysis.quality_scores_s"),
            ("pipeline.filter_funnel", "pipeline.filter_funnel_s"),
            ("sketches.heavy_hitters_sketch", "sketches.heavy_hitters_sketch_s"),
        ):
            out[key] = wall(name)
        b = [s for s in measured if s["name"] == "index_build.build_index"][0]
        out["index_build.build_index_s"] = b["wall_s"]
        out["embed.docs_per_s"] = b["attrs"]["n_docs"] / b["wall_s"]
        for stage, n in self.last["funnel"]:
            out[f"pipeline.funnel_rows.{stage}"] = n
        return out


WORKLOADS = {"ingest_search": IngestSearch, "curate": Curate}
