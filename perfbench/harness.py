"""One benchmark run: Spark start and stop, set-up, warm-up, the
closed-loop client, output checks, memory sampling and reporting.
``run.py`` is the command-line entry point."""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import traceback

import tracing as T
import workloads
from vector_search_question_answer_api_spark.session import get_spark

# The JSON result carries exactly the metrics BENCHMARK.json declares;
# every other metric is printed as a ``metric`` line and kept in the report.
END_TO_END = ("setup_s", "throughput_per_s")
PER_LAYER = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.spill_bytes",
    "spark.driver_gap_s",
    "index_build.build_index_s",
    "embed.docs_per_s",
)


class RssSampler:
    """Peak resident memory of a process tree (the JVM and the Python
    workers it forks), sampled from ``/proc`` every ``period`` seconds."""

    def __init__(self, root_pid: int, period: float = 0.2):
        self.root_pid = root_pid
        self.period = period
        self.peak_kb = 0
        self.pids: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree(self) -> list[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        out, todo = [], [self.root_pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo += kids.get(p, [])
        return out

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> None:
        tree = self._tree()
        self.pids.update(tree)
        self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in tree))

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _stop_spark(spark, sampler: RssSampler) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    until the JVM and every Python worker it started have exited."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - best effort; the JVM is ended below
        pass
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in sampler.pids - {os.getpid()}:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)


def _fmt(v) -> str:
    return repr(float(v)) if isinstance(v, float) else str(v)


def run(
    workload: str,
    seed: int,
    seconds: float,
    trace: bool,
    work: str,
    out_dir: str,
    process_start: float,
) -> dict:
    if workload not in workloads.WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; one of {sorted(workloads.WORKLOADS)}")
    spark = get_spark()
    sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
    sampler.start()
    tracer = T.Tracer(spark.sparkContext, trace)
    ctx = workloads.Ctx(spark=spark, tracer=tracer, work=work, seed=seed)
    wl = workloads.WORKLOADS[workload](ctx)
    ops: list[dict] = []
    try:
        t = time.perf_counter()
        with tracer.span(f"{workload}.generate", phase="generate"):
            wl.generate()
        gen_s = time.perf_counter() - t
        with tracer.span(f"{workload}.setup", phase="setup"):
            wl.setup()
        with tracer.span(f"{workload}.warmup", phase="warmup"):
            wl.warmup()
        # process start -> first timed operation: JVM start, input
        # generation, the workload's set-up and the warm-up
        setup_s = time.perf_counter() - process_start
        t_loop = time.perf_counter()
        i = 0
        while True:
            if trace:
                if i >= wl.TRACED_OPS:
                    break
            elif i > 0 and wl.at_boundary(i) and time.perf_counter() - t_loop >= seconds:
                break
            rec: dict = {"i": i}
            try:
                with tracer.span(f"{workload}.op", request=i, phase="measure"):
                    rec.update(wl.op(i))
                rec["ok"] = True
            except workloads.CheckFailed as e:
                rec.update(ok=False, error=f"check: {e}")
            except Exception as e:  # noqa: BLE001 - count the failure, keep the client going
                traceback.print_exc()
                rec.update(ok=False, error=f"{type(e).__name__}: {str(e)[:300]}")
            ops.append(rec)
            i += 1
        loop_s = time.perf_counter() - t_loop
        good = [o for o in ops if o["ok"]]
        if not good:
            raise RuntimeError(f"{workload}: every operation failed: {ops[0]['error']}")
        with tracer.span(f"{workload}.checks", phase="check"):
            checks = wl.final_checks()
        probes = {}
        if trace:
            with tracer.span(f"{workload}.probes", phase="probe"):
                probes = wl.probes()
        named = wl.metrics(good)
    finally:
        sampler.sample()
        sampler.stop()
        _stop_spark(spark, sampler)

    retries = sum(len(o.get("failures", ())) for o in ops)
    attempted = len(ops) + len(checks) + retries
    failed = sum(not o["ok"] for o in ops) + sum(not c["ok"] for c in checks) + retries
    named = {
        "setup_s": (setup_s, "s"),
        **named,
        "peak_rss_mb": (sampler.peak_kb / 1024.0, "MB"),
        "failed_frac": (failed / attempted, "ratio"),
        "gen_s": (gen_s, "s"),
        "loop_s": (loop_s, "s"),
        "ops": (len(ops), "count"),
    }
    report = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "ops": ops,
        "checks": checks,
        "inputs": wl.input_facts(),
    }
    if trace:
        lost = T.attribute(tracer.spans, T.read_event_log(os.path.join(work, "eventlog")))
        layer = {**T.totals(tracer.spans), **wl.layer_metrics(tracer.spans, probes)}
        layer["spark.unattributed_jobs"] = lost
        report["layers"] = T.layer_table(tracer.spans)
        report["spans"] = tracer.spans
        printed = {k: (v, workloads.unit_of(k)) for k, v in layer.items()}
        printed.update({f"traced.{k}": v for k, v in named.items()})
        declared = PER_LAYER
        for name, row in report["layers"].items():
            print(
                f"layer {name} calls={row['calls']} wall_s={row['wall_s']:.3f} "
                f"self_s={row['self_s']:.3f} driver_gap_s={row['driver_gap_s']:.3f} "
                f"jobs={row['jobs']} stages={row['stages']} tasks={row['tasks']} "
                f"shuffle_w={row['shuffle_write_bytes']} shuffle_r={row['shuffle_read_bytes']}"
            )
    else:
        printed = named
        declared = END_TO_END
    report["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in printed.items()}
    for k, (v, u) in printed.items():
        print(f"metric {k} {_fmt(v)} {u}")
    for c in checks:
        print(f"check {c['name']} {'ok' if c['ok'] else 'FAILED'} {c.get('detail', '')}")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{workload}-seed{seed}-trace{int(trace)}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1, default=str)
    missing = [k for k in declared if k not in printed]
    if missing:
        raise RuntimeError(f"{workload}: declared metrics not measured: {missing}")
    sys.stdout.flush()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": printed[k][0], "unit": printed[k][1]} for k in declared},
    }
