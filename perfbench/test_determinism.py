"""Counter determinism: two traced runs of one seed give identical work
counters.

    python3 -m pytest perfbench/test_determinism.py        # from the checkout root

Each case runs ``perfbench/run.py --trace 1`` twice (about one to two
minutes per run) and compares the report's counters: Spark jobs, stages,
tasks and shuffle bytes, for the whole measured phase and for every traced
call, and every other count, byte or ratio metric (the curation funnel
rows, the ingest stores' bytes written, recall, ...).
Counters matching ``DRIFTS`` were seen to differ between runs; they stay
in the report but out of the exact-match set.
"""

from __future__ import annotations

import fnmatch
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 3
COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes")

# workload -> name patterns of counters seen to differ between two traced
# runs of one seed.  In ingest_search the batch handler runs its store
# writes on concurrent threads: the number of jobs (and so stages, tasks and
# shuffle bytes) the handler and the stores' readers run varies with thread
# timing, and every store's bytes written differ by a few bytes to a few
# hundred between runs.
DRIFTS: dict[str, tuple[str, ...]] = {
    "curate": (),
    "ingest_search": (
        "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_*_bytes",
        "layer.*/ingest_search.setup.*", "layer.*/ingest_search.op.*",
        "layer.*/ingest_stream.maintain_corpus.*",
        "layer.*/ingest_search.probes.shuffle_*",
        "layer.*/hybrid_store.hybrid_search_stored.shuffle_*",
        "store.*.bytes_written", "store.files", "store.write_amp",
    ),
}


def _traced(workload: str) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(SEED), "--seconds", "8", "--trace", "1"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=600)
    assert proc.returncode == 0, proc.stdout[-2000:]
    path = os.path.join(ROOT, ".perfbench_out", f"{workload}-seed{SEED}-trace1.json")
    with open(path, encoding="utf-8") as f:
        report = json.load(f)
    failures = [o.get("error") or o.get("failures") for o in report["ops"] if not o["ok"] or o.get("failures")]
    failures += [c for c in report["checks"] if not c["ok"]]
    assert json.loads(proc.stdout.strip().splitlines()[-1])["correct"], failures
    return report


def _counters(report: dict) -> dict[str, float]:
    """Every per-layer count, byte and ratio metric (times, memory and the
    traced run's end-to-end figures excluded) and the Spark counters of
    every traced call."""
    out = {
        name: m["value"] for name, m in report["metrics"].items()
        if m["unit"] in ("count", "bytes", "ratio") and not name.startswith("traced.")
    }
    for layer, row in report["layers"].items():
        for c in COUNTERS:
            out[f"layer.{layer}.{c}"] = row[c]
    return out


@pytest.mark.parametrize("workload", ["curate", "ingest_search"])
def test_counters_repeat_exactly(workload):
    a, b = _counters(_traced(workload)), _counters(_traced(workload))
    assert a.keys() == b.keys()
    differ = {k: (a[k], b[k]) for k in sorted(a) if a[k] != b[k]}
    unexpected = {
        k: v for k, v in differ.items()
        if not any(fnmatch.fnmatchcase(k, p) for p in DRIFTS[workload])
    }
    assert not unexpected, "\n".join(f"{k}: {v}" for k, v in unexpected.items())
    assert any(k.endswith("shuffle_write_bytes") and a[k] > 0 for k in a)
