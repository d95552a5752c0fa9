"""Layered benchmark of the curation engine: one command, one workload.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 12 --trace 0

Run from the repository root. The process is one Spark driver at
``local[<usable cores>]`` and one closed-loop client: the next pass starts
only when the previous one has finished. Inputs are generated from
``--seed`` and cached under ``perfbench/.cache`` by (size, seed).

``--trace 0`` prints the end-to-end metrics named in BENCHMARK.json;
``--trace 1`` prints the per-layer ones (from a second, event-logged
session and direct layer calls). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. A human-readable report
with the remaining figures (max pass time, files/s, bytes per input byte,
host probe and steal, per-span engine breakdowns) is printed just before
it and written with the spans to ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SETUP_CYCLES = 3


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


class RssSampler(threading.Thread):
    """Peak RSS of a process tree (the JVM and its Python workers), polled
    from /proc: the peak of the tree's sum, and the peak of its largest
    Python process."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.pid = None
        self.peak = 0
        self.worker_peak = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _children(self) -> dict[int, list[int]]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        return children

    def tree(self) -> list[int]:
        """Pids of the process and its descendants."""
        children, out, todo = self._children(), [], [self.pid] if self.pid else []
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def _sample(self) -> None:
        total = 0
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    rss = int(fh.read().split()[1]) * self._page
                with open(f"/proc/{pid}/comm") as fh:
                    is_python = fh.read().startswith("python")
            except (OSError, IndexError, ValueError):
                continue
            total += rss
            if is_python:
                self.worker_peak = max(self.worker_peak, rss)
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            if self.pid is not None:
                self._sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all cores
    (the 'steal' column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


class Bench:
    def __init__(self, args, spec: dict, run_dir: Path):
        from perfbench.tracing import Tracer
        from perfbench.workloads import WORKLOADS

        self.args, self.spec, self.run_dir = args, spec, run_dir
        self.spark = None
        self.tracer = Tracer(args.workload)
        self.rss = RssSampler()
        self.attempted = self.failed = 0
        cache = BENCH / ".cache"
        cache.mkdir(exist_ok=True)
        self.wl = WORKLOADS[args.workload](lambda: self.spark, self.tracer, run_dir, cache,
                                           args.seed)

    def conf(self, traced: bool) -> dict[str, str]:
        tmp = self.run_dir / "tmp"
        tmp.mkdir(exist_ok=True)
        conf = {
            "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
            # no hsperfdata file in the system's /tmp
            "spark.driver.extraJavaOptions": (f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                                              f"-Dderby.system.home={tmp}"),
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:
            from perfbench.tracing import event_log_conf

            conf.update(event_log_conf(str(self.run_dir / "eventlog")))
        return conf

    def start_session(self, traced: bool = False) -> float:
        from data_curator_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        t0 = time.time()
        self.spark = build_session("perfbench", extra_conf=self.conf(traced))
        self.tracer.spark = self.spark
        if self.rss.pid is None:
            self.rss.pid = self.spark.sparkContext._gateway.proc.pid
        return time.time() - t0

    def jvm_gc_s(self) -> float:
        """Collection time of all the JVM's garbage collectors so far."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3

    def count_checks(self, before: int, ops: int) -> None:
        new = len(self.wl.checks) - before
        for what in self.wl.checks[before:]:
            print(f"CHECK FAILED: {what}", file=sys.stderr)
        self.failed += min(new, ops)

    def untimed(self, name: str, step) -> None:
        """An untimed step of the workload, with its output checks."""
        before = len(self.wl.checks)
        with self.tracer.span(name):
            checked = step()
        self.attempted += checked
        self.count_checks(before, max(checked, 1))

    def window(self, seconds: float) -> list[dict[str, float]]:
        """Closed loop: passes back to back, each started while less than
        ``seconds`` of wall time has passed."""
        passes: list[dict[str, float]] = []
        t0 = time.time()
        while True:
            before = len(self.wl.checks)
            try:
                ops = self.wl.run_pass(len(passes))
                passes.append(ops)
                self.attempted += len(ops)
                self.count_checks(before, len(ops))
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                traceback.print_exc()
                self.attempted += 1
                self.failed += 1
            if time.time() - t0 >= seconds:
                return passes

    def run(self) -> dict:
        from bench import host_probe_sec

        args, wl = self.args, self.wl
        probe_before, steal_before = host_probe_sec(), cpu_steal_s()
        meta = wl.prepare_inputs()
        self.rss.start()
        cycles, session_s = [], None
        # a traced run sets up as an untraced one does, so that its window
        # A is measured alike
        for k in range(SETUP_CYCLES):
            t0 = time.time()
            s = self.start_session()
            session_s = s if session_s is None else session_s
            self.untimed(f"setup.{k}", wl.warmup)
            cycles.append(time.time() - t0)
        self.untimed("reference", wl.reference)
        # a traced run splits its measured time between the untraced
        # window (A) and the traced one (B)
        passes = self.window(args.seconds / 2 if args.trace else args.seconds)
        report = self.summary(meta, cycles, passes)
        metrics = {
            "setup_s": statistics.median(cycles),
            "job_s": report["job_s"],
            "op_geomean_s": report["op_geomean_s"],
        }
        if args.trace:
            metrics = self.traced(meta, session_s, passes)
        self.rss.stop()
        metrics["worker_rss_mb"] = self.rss.worker_peak / 2**20
        report.update(worker_rss_mb=metrics["worker_rss_mb"], peak_rss_mb=self.rss.peak / 2**20,
                      host_probe_before_s=probe_before,
                      host_probe_after_s=host_probe_sec(),
                      host_steal_s=cpu_steal_s() - steal_before, checks_failed=wl.checks)
        return self.result(metrics, report)

    def summary(self, meta: dict, cycles: list[float], passes: list[dict]) -> dict:
        totals = [sum(p.values()) for p in passes] or [0.0]
        ops = {k: statistics.median(p[k] for p in passes) for k in (passes[0] if passes else {})}
        job = statistics.median(totals)
        rep = {
            "workload": self.args.workload, "seed": self.args.seed,
            "job_s": job, "job_max_s": max(totals), "job_samples": len(passes),
            "op_medians_s": ops, "op_geomean_s": geomean(ops.values()),
            "setup_cycles_s": cycles, "input": meta,
        }
        if self.args.workload == "queries":
            rep["query_geomean_s"] = rep["op_geomean_s"]
        else:
            rep["files_per_s"] = meta["rows"] / job if job else 0.0
            rep["bytes_per_input_byte"] = self.wl.output_bytes() / meta["bytes"]
        self.report = rep
        return rep

    def traced(self, meta: dict, session_s: float, passes: list[dict]) -> dict:
        """Per-layer metrics. After the untraced window (A), a session with
        the event log on runs the same warm-up and a window as long (B)
        under one job group per timed call, then the direct layer calls.
        B against A gives the tracing overhead."""
        from perfbench.tracing import parse_event_log

        def job(ps):
            return statistics.median(sum(p.values()) for p in ps) if ps else 0.0

        self.start_session(traced=True)
        self.untimed("warmup", self.wl.warmup)
        t_window, gc_before = time.time(), self.jvm_gc_s()
        tpasses = self.window(self.args.seconds / 2)
        gc_s = self.jvm_gc_s() - gc_before
        window_spans = [s for s in self.tracer.spans if s["start"] >= t_window]
        # the layer probes' own output checks count as one more op
        before = len(self.wl.checks)
        with self.tracer.span("layers"):
            layers = self.wl.layers(self.report)
        self.attempted += 1
        self.count_checks(before, 1)
        app = self.spark.sparkContext.applicationId
        self.spark.stop()  # completes the event log
        self.spark = None
        eng = parse_event_log(str(self.run_dir / "eventlog" / app),
                              {s["group"] for s in window_spans})
        busy = sum(sum(p.values()) for p in tpasses)
        per_input = (eng["scan_rows"] if self.args.workload == "queries"
                     else meta["rows"] * len(tpasses))
        probe = self.wl.probe_rows
        m = {
            "session.start_s": session_s,
            "corpus.generate_s": meta["generate_s"],
            "corpus.rows": meta["rows"],
            "corpus.bytes": meta["bytes"],
            **layers,
            **{f"spark.{k}": eng[k] for k in (
                "task_s", "cpu_s", "scheduler_delay_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "jobs", "tasks", "failed_tasks", "skew")},
            # the whole JVM's collections: tasks' own GC time often reads 0 ms
            # in a short window
            "spark.gc_s": gc_s,
            "spark.slot_util": eng["task_s"] / (busy * usable_cores()) if busy else 0.0,
            "spark.udf_rows_per_input_row": eng["python_rows"] / per_input if per_input else 0.0,
            # the model's pandas UDF is the only scalar Python UDF in the
            # stage chain; the corpus-global stages' own kernels are mapInPandas
            "spark.dedup_model_udf_rows_per_input_row": (
                sum(eng["python_rows_by_group"].get(g, {}).get("ArrowEvalPython", 0)
                    for g in probe) / sum(probe.values())
                if probe else 0.0),
            "trace.overhead_frac": job(tpasses) / job(passes) - 1 if passes else 0.0,
        }
        task_s: dict[str, float] = {}
        for s in window_spans:
            task_s[s["name"]] = task_s.get(s["name"], 0.0) + eng["task_s_by_group"].get(
                s["group"], 0.0)
        # local shuffles wait no whole millisecond, so fetch wait is kept
        # here rather than as a metric that reads 0 on every run
        self.report["spark_fetch_wait_s"] = eng["fetch_wait_s"]
        self.report["spark_task_gc_s"] = eng["gc_s"]
        self.report["task_s_by_span"] = task_s
        py_rows: dict[str, dict[str, int]] = {}
        for s in self.tracer.spans:
            for node, rows in eng["python_rows_by_group"].get(s["group"], {}).items():
                by_node = py_rows.setdefault(s["name"], {})
                by_node[node] = by_node.get(node, 0) + rows
        self.report["python_rows_by_span"] = py_rows
        return m

    def result(self, metrics: dict, report: dict) -> dict:
        key = "per_layer" if self.args.trace else "end_to_end"
        out = {d["name"]: {"value": float(metrics[d["name"]]), "unit": d["unit"]}
               for d in self.spec[key]}
        report["failed_frac"] = self.failed / max(self.attempted, 1)
        results = BENCH / "results"
        results.mkdir(exist_ok=True)
        stem = f"{self.args.workload}-seed{self.args.seed}-trace{self.args.trace}"
        (results / f"{stem}.json").write_text(json.dumps(report, indent=1, default=str))
        self.tracer.write(str(results / f"{stem}.spans.json"))
        print("REPORT " + json.dumps(report, default=str))
        return {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": max(self.attempted, 1),
            "failed": self.failed,
            "metrics": out,
        }

    def close(self) -> None:
        """Stop Spark, then the JVM, and wait until the JVM and all its
        Python workers have exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self.rss.is_alive():
            self.rss.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        tree = self.rss.tree()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        deadline = time.time() + 30
        while tree and time.time() < deadline:
            tree = [p for p in tree if _running(p)]
            time.sleep(0.1)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    missing = [f for f in ("data_curator_spark/__init__.py", "bench.py",
                           "tools/check_oracle.py", "BENCHMARK.json")
               if not (ROOT / f).is_file()]
    if missing:
        print(f"perfbench: not a checkout of the engine (missing {missing})", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_dir = BENCH / ".work" / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    # Spark, its Python workers and every temp file stay inside the checkout
    os.environ["SPARK_GRAFT_CPUS"] = str(usable_cores())
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])
    # the repo root, not this directory, goes first on sys.path
    sys.path[0:1] = [str(ROOT)]

    bench = Bench(args, spec, run_dir)
    try:
        result = bench.run()
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
