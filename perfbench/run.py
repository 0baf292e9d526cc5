"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_search --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  Each invocation is one fresh process:
it generates the workload's inputs from ``--seed``, starts Spark on
``local[<nproc>]`` through the engine's ``session.get_spark``, sets the
workload up, runs one untimed warm-up operation (``setup_s`` is the time
from process start to here), then drives the engine from one closed-loop
client for ``--seconds`` and checks every operation's output.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
workload's fixed traced schedule with Spark's event log on and prints the
per-layer metrics.  Every metric is printed as ``metric <name> <value>
<unit>``; the last line of standard output is the JSON result.  The full
report (every metric, the per-layer table, the spans) is written to
``.perfbench_out/<workload>-seed<seed>-trace<0|1>.json``.  Scratch files
live under ``.perfbench_work/`` and are removed at exit.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(root: str, work: str, trace: bool) -> None:
    """Keep every file Spark, its JVM and its Python workers write inside
    the checkout, and make the engine importable by the workers.  Must run
    before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    # every JVM (the launcher's too) would otherwise keep its perf-data
    # file under /tmp/hsperfdata_<user>, outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData"
    ).strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    conf = ["--conf spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{log_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])


def main(argv=None) -> int:
    args = _parse(argv)
    # on SIGTERM, unwind through the finally blocks: stop Spark, remove scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(root, work, bool(args.trace))
    sys.path[:0] = [root, HERE]
    try:
        import harness  # imports the engine: fails outside a full checkout

        result = harness.run(
            args.workload, args.seed, args.seconds, bool(args.trace),
            work=work, out_dir=os.path.join(root, ".perfbench_out"),
            process_start=PROCESS_START,
        )
    except Exception:  # noqa: BLE001 - the boundary: report and exit non-zero
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
