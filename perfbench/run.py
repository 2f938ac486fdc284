#!/usr/bin/env python3
"""Entity-resolution benchmark for spikex_spark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload entity-link --seed 1 --seconds 5 --trace 0

One invocation generates the workload's inputs from ``--seed``, starts a
local Spark session sized to the machine, warms the JIT up, then times
runs of the public pipeline entry point for ``--seconds`` (closed loop: the
next run starts when the previous one has returned its complete result).
It checks every output and prints, as its last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``:

* ``--trace 0``: the end-to-end metrics named in ``BENCHMARK.json``.
* ``--trace 1``: the per-layer metrics (see ``tracing.py``); the spans are
  written to ``.perfbench_work/traces/``.

Workloads (``workloads.py``; inputs from ``gen.py``):

* ``entity-link``: ``pipeline.resolve_entities(pages, titles)``.
* ``incremental``: ``lineage.resolve_documents_incremental`` extending a
  ledger that set-up bootstraps with ``resolve_documents_resumable``.

The command exits 1 when any output is wrong, and 2 when it is not run
from a checkout that holds the ``spikex_spark`` package.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# local[N] with N at most the cores this process may use, and at most 4, so
# the benchmark stays small on a shared machine
CPUS = max(1, min(4, len(os.sched_getaffinity(0))))
# local mode runs every task in the driver JVM; 2g holds these inputs with
# room to spare (the engine's own default of 48g exceeds small machines)
DRIVER_MEM = "2g"
# set-up steps that can repeat within one process (input generation) run
# this often and report their median
SETUP_REPEATS = 3
# untimed runs before timing: the first run of a fresh JVM is 1.4-3x
# slower than warm ones (JIT, codegen, Python worker start-up)
WARMUP_RUNS = 1
MIN_TIMED_RUNS = 2


class RssSampler:
    """Peak summed resident memory of a process and all its descendants
    (the Spark JVM and the Python workers it forks), sampled from /proc.

    Each process counts its proportional set size: pages shared between
    processes, such as the libraries a forked Python worker shares with
    its daemon, are split between them instead of counted once per
    process, so the sum is the memory the tree holds."""

    def __init__(self, root_pid: int, interval: float = 0.2) -> None:
        self.root_pid = root_pid
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            total = 0
            for pid in process_tree(self.root_pid):
                try:
                    with open(f"/proc/{pid}/smaps_rollup") as f:
                        for line in f:
                            if line.startswith("Pss:"):
                                total += int(line.split()[1]) * 1024
                                break
                except (OSError, IndexError, ValueError):
                    pass  # the process ended between listing and reading
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def configure_env(work: str) -> None:
    """Environment for the Spark session; set before the JVM starts."""
    local = os.path.join(work, "spark-local")
    os.makedirs(os.path.join(local, "jvmtmp"), exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the Python workers import spikex_spark by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    # replaces the engine's default JVM options, so it repeats the one
    # that is not about scratch space. The heap is committed at its full
    # size from the start: otherwise G1's timing-dependent heap growth
    # makes peak RSS differ by a gigabyte between identical runs
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = (
        f"-Xms{DRIVER_MEM} -XX:-DontCompileHugeMethods "
        f"-Djava.io.tmpdir={local}/jvmtmp")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def start_session(trace: bool):
    from spikex_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        # the status REST API is served by the UI
        conf.update({"spark.ui.enabled": "true",
                     "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    return get_spark(master=f"local[{CPUS}]", app_name="perfbench",
                     extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until the JVM and every process
    it started have ended."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    tree = process_tree(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    for pid in tree:
        while os.path.exists(f"/proc/{pid}"):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
            time.sleep(0.05)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def emit(spec_metrics: list[dict], values: dict) -> dict:
    missing = [m["name"] for m in spec_metrics if m["name"] not in values]
    if missing:
        raise RuntimeError(f"no value for metrics {missing}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec_metrics}


def measure(args, work: str) -> tuple[dict, int, int, list[str]]:
    """Set up, run and check one workload. Returns (metrics, attempted,
    failed, errors)."""
    from workloads import WORKLOADS, digest

    wl = WORKLOADS[args.workload](args.seed, work)
    errors: list[str] = []
    attempted = failed = 0

    gen_s, input_digests = [], set()
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        input_digests.add(wl.prepare())
        gen_s.append(time.perf_counter() - t0)

    t0 = time.perf_counter()
    spark = start_session(args.trace)
    session_s = time.perf_counter() - t0
    try:
        bootstrap_s = wl.open(spark)
        ref = None
        run_s: list[float] = []

        def one_run(timed: bool) -> None:
            nonlocal attempted, failed, ref
            attempted += 1
            try:
                t0 = time.perf_counter()
                out = wl.run()
                dt = time.perf_counter() - t0
            except Exception:
                traceback.print_exc()
                failed += 1
                errors.append("a run raised")
                return
            finally:
                wl.after_run()
            if ref is None:
                ref = out
            elif digest(out, wl.id_col) != digest(ref, wl.id_col):
                failed += 1
                errors.append("a run gave another (id, cluster_id) result")
                return
            if timed:
                run_s.append(dt)

        t0 = time.perf_counter()
        for _ in range(WARMUP_RUNS):
            one_run(timed=False)
        warmup_s = time.perf_counter() - t0
        setup_s = statistics.median(gen_s) + session_s + bootstrap_s + warmup_s
        if ref is None:
            raise RuntimeError("no warm-up run succeeded")
        ref_digest = digest(ref, wl.id_col)

        # the once-per-invocation output check, untimed; it also fails on a
        # wrong input or a quality under the floor. It runs before timing,
        # so the engine code it shares with the timed runs is warm too
        attempted += 1
        check_errors = wl.check(ref)
        f1 = wl.quality(ref)
        if f1 < wl.min_pair_f1:
            check_errors.append(f"pair_f1 {f1:.4f} is under {wl.min_pair_f1}")
        if len(input_digests) != 1:
            check_errors.append("the generator gave different inputs for one "
                                "seed")
        if check_errors:
            failed += 1
            errors += check_errors

        if args.trace:
            from tracing import traced_run

            path = os.path.join(WORK_ROOT, "traces",
                                f"{wl.name}-seed{args.seed}.json")
            values, trace_errors = traced_run(wl, spark, args.seconds,
                                              ref_digest, path)
            attempted += 1
            if trace_errors:
                failed += 1
                errors += trace_errors
        else:
            from pyspark import SparkContext

            with RssSampler(SparkContext._gateway.proc.pid) as rss:
                t_begin = time.perf_counter()
                for i in itertools.count():
                    if (i >= MIN_TIMED_RUNS and
                            time.perf_counter() - t_begin >= args.seconds):
                        break
                    one_run(timed=True)
            if not run_s:
                raise RuntimeError("no timed run succeeded")
            med = statistics.median(run_s)
            values = {
                "run_s": med,
                "pages_per_s": wl.input_pages() / med,
                "setup_s": setup_s,
                "peak_rss_mb": rss.peak_bytes / 2**20,
                "pair_f1": f1,
            }
            print(f"perfbench {wl.name} seed={args.seed}: "
                  f"{len(run_s)} timed runs, run_s median {med:.3f} "
                  f"(min {min(run_s):.3f}, max {max(run_s):.3f}); set-up "
                  f"{setup_s:.2f} s = inputs {statistics.median(gen_s):.2f} "
                  f"+ session {session_s:.2f} + bootstrap {bootstrap_s:.2f} "
                  f"+ warm-up {warmup_s:.2f}")

    finally:
        stop_session(spark)
    return values, attempted, failed, errors


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "spikex_spark", "pipeline.py")):
        print(f"perfbench: no spikex_spark package under {ROOT}; run it from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    spec = load_spec()
    work = os.path.join(WORK_ROOT, f"{args.workload}-seed{args.seed}-"
                                   f"{os.getpid()}")
    configure_env(work)
    try:
        values, attempted, failed, errors = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = emit(spec["per_layer" if args.trace else "end_to_end"], values)
    for e in errors:
        print(f"perfbench: ERROR: {e}", file=sys.stderr)
    print(f"perfbench {args.workload}: {failed} of {attempted} runs and "
          "checks failed")
    # error_rate is reported here and as attempted/failed in the JSON line;
    # it is no metric there, because on a correct tree it reads 0
    rows = [("error_rate", failed / attempted, "ratio")]
    rows += [(name, m["value"], m["unit"]) for name, m in metrics.items()]
    for name, value, unit in rows:
        print(f"  {name:32s} {value:>16.6g} {unit}")
    print(json.dumps({"correct": failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
