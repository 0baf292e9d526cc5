"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``(workload, seed)``: numpy's PCG64 drives
every draw, and the parquet files are written by pyarrow without Spark, so
the same seed yields byte-identical files.  The engine sees only these
files (or DataFrames read from them).

Text is lower-case ASCII words separated by single spaces, so the engine's
``preprocess_text`` is the identity on it and the benchmark's numpy checks
can embed the same strings the engine embeds.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes and rates per workload.  BENCHMARK.json's "why" lines and the doc
# in this directory quote these numbers; change them together.
INGEST = dict(
    n_boot=300,  # bootstrap corpus (batch 0)
    vocab=4000,
    zipf_s=1.1,
    doc_words=(12, 40),
    batch_rows=100,  # rows per micro-batch
    insert_frac=0.7,
    update_frac=0.2,  # the rest are deletes
    n_batches=8,  # generated ahead; the loop stops at its time budget
    queries_per_batch=2,  # search requests after each commit; the dense tier cycles
    oov_p=0.2,  # query made of words outside the vocabulary
    k_range=(1, 20),
    batch_sizes=(1, 32),  # requests alternate between these query counts
)
# The /qa event log replayed against the same corpus after each commit.
QA = dict(
    n_sessions=60,
    turns=(14, 26),  # per session, so sessions run past the 5-exchange bound
    switch_p=0.30,  # turn moves to another doc
    off_corpus_p=0.15,  # turn asks about words no doc contains
    keep_frac=0.8,  # share of a doc's words a question repeats
    ttl_gap_p=0.03,  # gap longer than the 30-min session TTL
)
CURATE = dict(
    n_unique=600,  # distinct base documents
    exact_dup_frac=0.10,  # planted byte-identical copies
    near_dup_frac=0.10,  # planted edited copies (one word in 40 changed)
    vocab=6000,
    zipf_s=1.1,
    median_words=60,
    long_frac=0.02,  # docs at 10-20x the median length
    boilerplate_p=0.3,  # docs carrying one of a few repeated spans
    pii_p=0.1,  # docs carrying an email / phone / ip string
    langs=(("en", 0.7), ("es", 0.1), ("fr", 0.1), ("de", 0.1)),
)

_SYL = [a + b for a in "bcdfghjklmnprstvz" for b in "aeiou"]


def _words(n: int, rng: np.random.Generator, prefix: str = "") -> list[str]:
    """``n`` distinct pseudo-words of 2-4 syllables."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(2, 5))
        w = prefix + "".join(_SYL[i] for i in rng.integers(0, len(_SYL), k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _write(table: pa.Table, path: str, parts: int = 1) -> str:
    """Write ``table`` to ``path`` (one file), or as ``parts`` files of
    contiguous rows under the directory ``path``, so Spark scans it with
    more than one task."""
    if parts == 1:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path, compression="snappy")
        return path
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"),
            compression="snappy",
        )
    return path


PARTS = 4  # files per table (fixed, so inputs do not depend on the box)


# -------------------------------------------------------------- ingest_search


def ingest_search(seed: int, out_dir: str) -> dict:
    """Bootstrap batch, a sequence of upsert/delete micro-batches, and the
    search requests issued after each one."""
    c = INGEST
    rng = np.random.default_rng([seed, 2])
    vocab = _words(c["vocab"], rng)
    p = _zipf_p(len(vocab), c["zipf_s"])
    oov = _words(300, rng, prefix="x")

    def text() -> str:
        n = int(rng.integers(*c["doc_words"]))
        return " ".join(vocab[i] for i in rng.choice(len(vocab), n, p=p))

    t0 = dt.datetime(2026, 1, 1)
    live: dict[int, str] = {}
    next_id = 0
    batches = []
    user_bytes = []
    live_after: list[dict[int, str]] = []  # corpus state at each epoch

    def emit(rows, b):
        ids, ts, txt, nch, dele = zip(*rows)
        tab = pa.table(
            {
                "doc_id": pa.array(ids, type=pa.int64()),
                "ts": pa.array(ts, type=pa.timestamp("us")),
                "text": pa.array(txt, type=pa.string()),
                "n_chars": pa.array(nch, type=pa.int32()),
                "_delete": pa.array(dele, type=pa.bool_()),
            }
        )
        batches.append(_write(tab, os.path.join(out_dir, f"src/b{b:04d}.parquet")))
        user_bytes.append(sum(len(t.encode()) for t in txt if t is not None))
        live_after.append(dict(live))

    rows = []
    ts = t0
    for _ in range(c["n_boot"]):
        t = text()
        live[next_id] = t
        rows.append((next_id, ts, t, len(t), False))
        next_id += 1
    emit(rows, 0)
    for b in range(1, c["n_batches"] + 1):
        ts = t0 + dt.timedelta(hours=b)
        n = c["batch_rows"]
        n_ins = int(round(n * c["insert_frac"]))
        n_upd = int(round(n * c["update_frac"]))
        n_del = n - n_ins - n_upd
        ids = np.array(sorted(live))
        touched = rng.choice(ids, n_upd + n_del, replace=False)
        rows = []
        for d in touched[:n_upd]:
            t = text()
            live[int(d)] = t
            rows.append((int(d), ts, t, len(t), False))
        for d in touched[n_upd:]:
            del live[int(d)]
            rows.append((int(d), ts, None, None, True))
        for _ in range(n_ins):
            t = text()
            live[next_id] = t
            rows.append((next_id, ts, t, len(t), False))
            next_id += 1
        emit(rows, b)

    # Search requests: (request id, query texts, k).  Live-doc words make
    # in-vocabulary queries; ``oov_p`` of them use words no doc contains.
    requests = []
    rid = 0
    for b in range(1, c["n_batches"] + 1):
        for j in range(c["queries_per_batch"]):
            nq = c["batch_sizes"][(j + b) % len(c["batch_sizes"])]
            k = int(rng.integers(c["k_range"][0], c["k_range"][1] + 1))
            qs = []
            for _ in range(nq):
                if rng.random() < c["oov_p"]:
                    qs.append(" ".join(rng.choice(oov, int(rng.integers(2, 6)))))
                else:
                    qs.append(" ".join(vocab[i] for i in rng.choice(len(vocab), int(rng.integers(2, 6)), p=p)))
            requests.append({"request": rid, "batch": b, "k": k, "queries": qs})
            rid += 1
    return {
        "batches": batches,
        "user_bytes": user_bytes,
        "requests": requests,
        "live_after": live_after,
        **_qa_events(seed, live_after[1], oov, out_dir),
    }


def _qa_events(seed: int, corpus: dict[int, str], off_vocab: list[str], out_dir: str) -> dict:
    """/qa sessions asking about the corpus as it stands after micro-batch
    1: follow-up turns repeat most words of the session's current doc,
    switch turns move to another doc, off-corpus turns use words no doc
    contains."""
    c = QA
    rng = np.random.default_rng([seed, 4])
    ids = sorted(corpus)
    t0 = dt.datetime(2026, 1, 1)
    ev_ts, ev_sess, ev_q, ev_kind = [], [], [], []
    for s in range(c["n_sessions"]):
        ts = t0 + dt.timedelta(seconds=int(rng.integers(0, 86400)))
        doc = None
        for _ in range(int(rng.integers(*c["turns"]))):
            u = rng.random()
            if u < c["off_corpus_p"]:
                kind = "off"
                q = list(rng.choice(off_vocab, int(rng.integers(4, 9))))
            else:
                if doc is None or u < c["off_corpus_p"] + c["switch_p"]:
                    doc = ids[int(rng.integers(len(ids)))]
                    kind = "switch"
                else:
                    kind = "follow"
                toks = corpus[doc].split()
                keep = max(2, int(round(len(toks) * c["keep_frac"])))
                q = [toks[i] for i in sorted(rng.choice(len(toks), keep, replace=False))]
            ev_ts.append(ts)
            ev_sess.append(f"s{s:05d}")
            ev_q.append(" ".join(q))
            ev_kind.append(kind)
            gap = (
                int(rng.integers(2400, 4000))
                if rng.random() < c["ttl_gap_p"]
                else int(rng.exponential(120)) + 1
            )
            ts = ts + dt.timedelta(seconds=gap)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(len(ev_q), dtype=np.int64)),
            "ts": pa.array(ev_ts, type=pa.timestamp("us")),
            "session_id": pa.array(ev_sess),
            "question": pa.array(ev_q),
        }
    )
    kinds = np.asarray(ev_kind)
    return {
        "events": _write(events, os.path.join(out_dir, "qa_events"), PARTS),
        "n_events": len(ev_q),
        "n_sessions": c["n_sessions"],
        "planted_off_frac": float((kinds == "off").mean()),
        "planted_switch_frac": float((kinds == "switch").mean()),
    }


# --------------------------------------------------------------------- curate

_BOILER = [
    "subscribe to our newsletter for weekly deals and updates on new arrivals today",
    "all rights reserved terms of service privacy policy cookie settings contact us",
    "free shipping on orders over fifty dollars returns accepted within thirty days",
]
_STOP = {
    "en": ["the", "and", "of", "to", "is", "in", "it", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se"],
    "fr": ["le", "la", "de", "et", "les", "des", "est", "un"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "den", "mit"],
}


def curate(seed: int, out_dir: str) -> dict:
    """Doc corpus with planted exact duplicates, edited near-duplicates,
    boilerplate spans, PII strings, a language mix and a long length
    tail."""
    c = CURATE
    rng = np.random.default_rng([seed, 3])
    vocab = _words(c["vocab"], rng)
    p = _zipf_p(len(vocab), c["zipf_s"])
    langs = [l for l, _ in c["langs"]]
    lang_p = np.array([w for _, w in c["langs"]])

    base_txt, base_lang = [], []
    # The long tail is fixed in count and lengths (10x to 20x the median),
    # so per-row costs that grow with length weigh the same for every seed.
    n_long = int(round(c["n_unique"] * c["long_frac"]))
    long_len = dict(zip(
        rng.choice(c["n_unique"], n_long, replace=False).tolist(),
        np.linspace(10, 20, n_long) * c["median_words"],
    ))
    for i in range(c["n_unique"]):
        if i in long_len:
            n = int(long_len[i])
        else:
            n = max(8, int(rng.lognormal(np.log(c["median_words"]), 0.5)))
        lang = langs[int(rng.choice(len(langs), p=lang_p))]
        stops = _STOP[lang]
        words = [
            stops[int(rng.integers(len(stops)))] if rng.random() < 0.25 else vocab[j]
            for j in rng.choice(len(vocab), n, p=p)
        ]
        # a unique marker keeps every base doc distinct after canonicalization
        words.insert(int(rng.integers(0, n)), f"doc{seed % 1000}n{i}")
        if rng.random() < c["boilerplate_p"]:
            words += _BOILER[int(rng.integers(len(_BOILER)))].split()
        if rng.random() < c["pii_p"]:
            kind = int(rng.integers(3))
            words.append(
                [f"user{i}@example.com", f"555-{i % 1000:03d}-{i % 10000:04d}", f"10.0.{i % 256}.{i % 200}"][kind]
            )
        base_txt.append(" ".join(words))
        base_lang.append(lang)

    texts, lang_col, group = list(base_txt), list(base_lang), list(range(c["n_unique"]))
    n_exact = int(round(c["n_unique"] * c["exact_dup_frac"]))
    n_near = int(round(c["n_unique"] * c["near_dup_frac"]))
    # duplicates copy only normal-length docs, keeping the long tail fixed
    normal = [i for i in range(c["n_unique"]) if i not in long_len]
    for src in rng.choice(normal, n_exact, replace=True):
        texts.append(base_txt[src])
        lang_col.append(base_lang[src])
        group.append(int(src))
    # Near-duplicates copy a doc of at least 40 words and change one word
    # in every 40, which keeps 3-shingle Jaccard above 0.85.
    long_enough = [i for i in normal if len(base_txt[i].split()) >= 40]
    near_src = []
    for src in rng.choice(long_enough, n_near, replace=False):
        words = base_txt[src].split()
        for _ in range(len(words) // 40):
            j = int(rng.integers(len(words)))
            new = words[j]
            while new == words[j]:
                new = vocab[int(rng.integers(len(vocab)))]
            words[j] = new
        near_src.append((int(src), len(texts)))
        texts.append(" ".join(words))
        lang_col.append(base_lang[src])
        group.append(len(group))
    order = rng.permutation(len(texts))
    pos = np.empty_like(order)
    pos[order] = np.arange(len(order))
    # exact-dedup keeps the smallest doc id of each identical-text group
    survivor: dict[int, int] = {}
    for i, g in enumerate(group):
        survivor[g] = min(survivor.get(g, len(texts)), int(pos[i]))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
            "text": pa.array([texts[i] for i in order]),
            "lang": pa.array([lang_col[i] for i in order]),
        }
    )
    lens = np.array([len(t.split()) for t in texts])
    return {
        "docs": _write(docs, os.path.join(out_dir, "curate_docs"), PARTS),
        "n_docs": len(texts),
        "n_exact_survivors": len(survivor),
        # (surviving original, edited copy) as doc ids, smaller id first
        "planted_near": sorted(
            tuple(sorted((survivor[a], int(pos[b])))) for a, b in near_src
        ),
        "len_p50": float(np.median(lens)),
        "len_max_over_p50": float(lens.max() / np.median(lens)),
    }
