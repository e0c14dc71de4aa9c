"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 60 --trace 0

Run from the root of a checkout. The run

1. generates the workload's corpus from ``--seed`` (perfbench/datagen.py)
   and computes every query's expected result with the registry's
   DuckDB oracle;
2. sets up: starts a SparkSession through ``hadoop_main_spark.session.
   get_spark`` and runs ``WARMUP_PASSES`` untimed passes of the mix;
3. measures ``MEASURED_PASSES`` passes of the mix in a closed loop with
   one client, each query timed as ``build()`` + collecting its result,
   and each result checked against the oracle outside the timed region.
   ``--seconds`` only caps measuring on a host slowed down far beyond
   the usual, so every run averages over the same passes;
4. prints one summary line (cpus, Spark version, wall-clock figures,
   samples, failed share, temp bytes left) and, last, the result line
   ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json. Their times are CPU seconds of the whole process tree
(Python driver, JVM, Python workers): ``mix_cpu_s`` sums each query's
mean over the measured passes, ``query_cpu_geomean_s`` is the
geometric mean of those means and ``setup_s`` covers session start
plus the warm-up passes. Their wall-clock twins are on the summary line
and, unbounded, among the per-layer metrics: on a shared VM the host's
CPU steal moves them far more than the program does (see README.md).
With ``--trace 1`` every query runs traced and untraced in turn and the
metrics are the per-layer metrics.

Everything the run writes lives in ``perfbench/.work/run-<pid>``: the
corpus, the temp dir handed to the program (``TMPDIR`` and
``spark.local.dir``) and Spark's working directory. It is deleted at
exit, after the bytes left in the temp dir have been counted.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = "hadoop_main_spark"
#: a query still running after this long counts as hung: its jobs are cancelled
QUERY_TIMEOUT_S = 60.0
#: untimed passes before measuring: the cold pass (JVM JIT, heap growth,
#: Python worker start, build-if-absent indexes) is far slower than the rest
WARMUP_PASSES = 1
#: every run averages each query over this many passes: CPU time keeps
#: falling from pass to pass after the warm-up, so a pass count that
#: followed the clock would let a slower host pick colder passes, and a
#: median of three would rest on a single pass
MEASURED_PASSES = 3
#: measuring stops early so that a whole run ends within three minutes
RUN_DEADLINE_S = 150.0
SMALL_JOB_REPEATS = 5
DRIVER_MEMORY = "1g"
_MB = 2.0**20

sys.path.insert(0, HERE)

from probes import cpu_jiffies, tree_cpu_s  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


@dataclass
class QueryRun:
    query: str
    build_s: float
    action_s: float
    error: str | None
    group: str
    start_ms: int
    end_ms: int
    #: share of the CPU time wanted during the run that the host stole
    steal_share: float
    #: CPU seconds the whole process tree used during the run
    cpu_s: float
    traced: bool

    @property
    def wall_s(self) -> float:
        return self.build_s + self.action_s


def make_inputs(path: str, corpus: str, seed: int, scale: float, queries: tuple[str, ...]) -> None:
    """Generate the corpus and pickle each query's oracle result to ``path``."""
    import datagen
    import oracle
    from hadoop_main_spark.plans.registry import REGISTRY, resolve_oracle

    datagen.generate(corpus, seed, scale)
    expected = oracle.expected_results(corpus, {q: REGISTRY[q] for q in queries}, resolve_oracle)
    with open(path, "wb") as f:
        pickle.dump(expected, f)


def per_query_mean(runs: list[QueryRun], attr: str) -> dict[str, float]:
    queries = dict.fromkeys(r.query for r in runs)
    return {q: statistics.fmean(getattr(r, attr) for r in runs if r.query == q) for q in queries}


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.name = workload
        self.workload = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        self.corpus = os.path.join(work, "corpus")
        self.cwd = os.path.join(work, "cwd")
        for d in (self.tmp, self.cwd):
            os.makedirs(d, exist_ok=True)
        self.runs: list[QueryRun] = []
        self.started = time.perf_counter()

    # -- environment --------------------------------------------------------------

    def _prepare_env(self) -> int:
        """Everything the program and its Python workers inherit. The
        program's own SPARK_GRAFT_* knobs are reset so that the caller's
        environment cannot change what is measured."""
        for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
            del os.environ[key]
        os.environ.pop("OMP_NUM_THREADS", None)
        cpus = len(os.sched_getaffinity(0))
        path = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["SPARK_GRAFT_MASTER"] = f"local[{cpus}]"
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        return cpus

    def _make_inputs(self) -> dict:
        """Corpus and oracle results, made in a child interpreter so that
        the generator's and DuckDB's memory never counts toward the
        measured process tree."""
        path = os.path.join(self.work, "expected.pickle")
        args = (path, self.corpus, self.seed, self.workload.scale, self.workload.queries)
        code = f"import sys; sys.path.insert(0, {HERE!r}); import run; run.make_inputs(*{args!r})"
        subprocess.run([sys.executable, "-c", code], check=True)
        with open(path, "rb") as f:
            return pickle.load(f)

    # -- one query ---------------------------------------------------------------

    def run_query(self, q: str, tracer=None) -> QueryRun:
        import oracle

        sc = self.spark.sparkContext
        group = f"perfbench:{len(self.runs)}:{q}"
        sc.setJobGroup(group, q)
        hung = threading.Event()

        def cancel():
            hung.set()
            sc.cancelAllJobs()

        timer = threading.Timer(QUERY_TIMEOUT_S, cancel)
        timer.daemon = True
        start_ms = time.time_ns() // 1_000_000
        busy0, stolen0 = cpu_jiffies()
        cpu0 = tree_cpu_s(os.getpid())
        timer.start()
        t0 = t1 = time.perf_counter()
        error = None
        try:
            if tracer is not None:
                tracer.query = q
                span = tracer.open("plans:build")
                tracer.in_build = True
                try:
                    df = self.registry[q].build(self.spark, self.corpus)
                finally:
                    tracer.in_build = False
                    tracer.close(span)
                t1 = time.perf_counter()
                span = tracer.open("exec:action")
                try:
                    got = df.toPandas()
                finally:
                    tracer.close(span)
            else:
                df = self.registry[q].build(self.spark, self.corpus)
                t1 = time.perf_counter()
                got = df.toPandas()
            t2, cpu1 = time.perf_counter(), tree_cpu_s(os.getpid())
            error = oracle.check(self.expected[q], got)
        except Exception as e:  # a failed query is counted, the loop goes on
            t2, cpu1 = time.perf_counter(), tree_cpu_s(os.getpid())
            error = f"{type(e).__name__}: {str(e).strip().splitlines()[0][:300]}"
        finally:
            timer.cancel()
        if hung.is_set():
            error = f"hung: cancelled after {QUERY_TIMEOUT_S:.0f} s ({error})"
        busy1, stolen1 = cpu_jiffies()
        run = QueryRun(
            query=q,
            build_s=t1 - t0,
            action_s=t2 - t1,
            error=error,
            group=group,
            start_ms=start_ms,
            end_ms=time.time_ns() // 1_000_000,
            steal_share=(stolen1 - stolen0) / max(1, busy1 - busy0),
            cpu_s=cpu1 - cpu0,
            traced=tracer is not None,
        )
        self.runs.append(run)
        return run

    def run_pass(self, tracer=None) -> list[QueryRun]:
        return [self.run_query(q, tracer) for q in self.workload.queries]

    # -- the run -------------------------------------------------------------------

    def run(self) -> tuple[dict, dict]:
        cpus = self._prepare_env()
        from probes import PeakRss, dir_usage

        t0 = time.perf_counter()
        self.expected = self._make_inputs()
        inputs_s = time.perf_counter() - t0
        from hadoop_main_spark.plans.registry import REGISTRY
        from hadoop_main_spark.session import get_spark

        self.registry = REGISTRY

        os.chdir(self.cwd)
        with PeakRss() as rss:
            t0, cpu0 = time.perf_counter(), tree_cpu_s(os.getpid())
            self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
            self.spark.range(1).groupBy().count().collect()
            session_s = time.perf_counter() - t0
            session_cpu_s = tree_cpu_s(os.getpid()) - cpu0
            warmup = [r for _ in range(WARMUP_PASSES) for r in self.run_pass()]
            # query times only: the oracle checks between them are not set-up
            setup_wall_s = session_s + sum(r.wall_s for r in warmup)
            setup_cpu_s = session_cpu_s + sum(r.cpu_s for r in warmup)
            if self.trace:
                layers = self._traced_passes()
            else:
                self._measure(self.run_pass)
            version = self.spark.version
            persisted = self.spark.sparkContext._jsc.getPersistentRDDs().size()
            t0 = time.perf_counter()
            self._stop_spark()
            stop_s = time.perf_counter() - t0
        os.chdir(ROOT)
        entries, left = dir_usage(self.tmp)

        measured = self.runs[len(warmup) :]
        untraced = [r for r in measured if not r.traced]
        wall = per_query_mean(untraced, "wall_s")
        cpu = per_query_mean(untraced, "cpu_s")
        failures = [r for r in self.runs if r.error]
        summary = {
            "workload": self.name,
            "seed": self.seed,
            "trace": int(self.trace),
            "cpus": cpus,
            "spark": version,
            "passes": len(untraced) // len(self.workload.queries),
            "mix_wall_s": round(sum(wall.values()), 4),
            "query_geomean_s": round(statistics.geometric_mean(wall.values()), 4),
            "setup_wall_s": round(setup_wall_s, 3),
            "query_wall_s": {q: [round(r.wall_s, 3) for r in untraced if r.query == q] for q in wall},
            "query_cpu_s": {q: [round(r.cpu_s, 2) for r in untraced if r.query == q] for q in cpu},
            "build_share": round(
                sum(r.build_s for r in measured) / sum(r.wall_s for r in measured), 3
            ),
            "steal_share": round(statistics.fmean(r.steal_share for r in measured), 3),
            "inputs_s": round(inputs_s, 3),
            "session_start_s": round(session_s, 3),
            "warmup_query_s": [[r.query, round(r.wall_s, 3)] for r in warmup],
            "stop_s": round(stop_s, 3),
            "failed_share": len(failures) / len(self.runs),
            "leaked_tmp_mb": round(left / _MB, 3),
            "tmp_entries_left": entries,
            "errors": sorted({f"{r.query}: {r.error}" for r in failures})[:10],
        }
        if self.trace:
            summary["span_self_s"] = self.span_self_s
            metrics = layers
            metrics.update(
                {
                    "scope.tmp_entries_left": float(entries),
                    "scope.leaked_tmp_mb": left / _MB,
                    "scope.persisted_rdds_left": float(persisted),
                    "run.failed_share": summary["failed_share"],
                    "mix_wall_s": sum(wall.values()),
                    "query_geomean_s": statistics.geometric_mean(wall.values()),
                    "steal_share": statistics.fmean(r.steal_share for r in measured),
                }
            )
        else:
            metrics = {
                "mix_cpu_s": sum(cpu.values()),
                "query_cpu_geomean_s": statistics.geometric_mean(cpu.values()),
                "setup_s": setup_cpu_s,
                "peak_rss_mb": rss.peak / _MB,
            }
        result = {
            "correct": not failures,
            "attempted": len(self.runs),
            "failed": len(failures),
            "metrics": metrics,
        }
        return summary, result

    def _measure(self, one_pass) -> None:
        """``MEASURED_PASSES`` calls of ``one_pass``, fewer only when
        ``--seconds`` or the run deadline has passed."""
        end = min(time.perf_counter() + self.seconds, self.started + RUN_DEADLINE_S)
        for _ in range(MEASURED_PASSES):
            one_pass()
            if time.perf_counter() >= end:
                return

    def _traced_passes(self) -> dict[str, float]:
        """Each pass runs every query twice in a row, traced and untraced
        (which goes first alternates from query to query and pass to
        pass), so the tracing overhead is measured on paired runs.
        Per-layer metrics are per-pass medians over the traced runs."""
        from probes import StatusReader, StreamCounter
        from trace import Tracer

        spark = self.spark
        dataframe_class = type(spark.range(0))
        status = StatusReader(spark)
        streams = StreamCounter()
        spark.streams.addListener(streams.listener)
        conf_before = status.session_conf()
        tracer = Tracer()
        per_pass: list[dict[str, float]] = []
        walls: dict[bool, list[float]] = {True: [], False: []}

        def traced_pass():
            first_span = len(tracer.spans)
            tracer.counts.clear()
            sample: dict[str, float] = defaultdict(float)
            wall = {True: 0.0, False: 0.0}
            for i, q in enumerate(self.workload.queries):
                traced_first = (i + len(per_pass)) % 2 == 0
                for traced in (traced_first, not traced_first):
                    if not traced:
                        wall[False] += self.run_query(q).wall_s
                        continue
                    tracer.install(dataframe_class)
                    try:
                        r = self.run_query(q, tracer)
                    finally:
                        tracer.uninstall()
                    wall[True] += r.wall_s
                    sample["plans.build_s"] += r.build_s
                    sample["exec.action_s"] += r.action_s
                    for k, v in status.window(r.start_ms, r.end_ms, r.group).items():
                        sample[k] += v
            sample.update(tracer.layer_totals(first_span))
            sample.update(tracer.counts)
            per_pass.append(sample)
            for traced in (True, False):
                walls[traced].append(wall[traced])

        self._measure(traced_pass)
        small_job = []
        for _ in range(SMALL_JOB_REPEATS):  # MRBench analog: 1-row map/reduce round trip
            t0 = time.perf_counter()
            spark.range(1).groupBy().count().collect()
            small_job.append(time.perf_counter() - t0)
        streams.drain()
        spark.streams.removeListener(streams.listener)
        conf_after = status.session_conf()

        names = {k for sample in per_pass for k in sample}
        out = {k: statistics.median(s.get(k, 0.0) for s in per_pass) for k in names}
        stream_totals = streams.totals()
        runs = 2 * len(per_pass)  # the listener saw traced and untraced runs
        for k in ("streaming.batches", "streaming.add_batch_s", "streaming.trigger_s"):
            out[k] = stream_totals[k] / runs
        out["streaming.rows_per_batch"] = stream_totals["streaming.rows_per_batch"]
        out["session.small_job_s"] = statistics.median(small_job)
        out["scope.conf_keys_changed"] = float(
            sum(conf_before.get(k) != conf_after.get(k) for k in conf_before.keys() | conf_after.keys())
        )
        out["trace.overhead_share"] = (
            statistics.median(walls[True]) / statistics.median(walls[False]) - 1.0
        )
        self.span_self_s = tracer.self_times_by_query()
        return out

    def _stop_spark(self) -> None:
        """Stop the session, then the JVM (its shutdown hooks delete
        Spark's own temp dirs), and wait for every child process."""
        from pyspark import SparkContext

        from probes import process_tree

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.perf_counter() + 20
        while len(process_tree(os.getpid())) > 1 and time.perf_counter() < deadline:
            time.sleep(0.1)
        for pid in process_tree(os.getpid())[1:]:  # still alive after 20 s
            os.kill(pid, signal.SIGKILL)


def select(metrics: dict[str, float], specs: list[dict], missing_is_zero: bool) -> dict[str, dict]:
    """The metrics named in BENCHMARK.json, in its order and units.
    A layer that a pass never called has no spans or counters and reads
    0; an end-to-end metric is always measured."""
    missing = [s["name"] for s in specs if s["name"] not in metrics]
    if missing and not missing_is_zero:
        raise RuntimeError(f"declared metrics not measured: {missing}")
    return {
        s["name"]: {"value": float(metrics.get(s["name"], 0.0)), "unit": s["unit"]} for s in specs
    }


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PROGRAM)):
        print(f"perfbench: no {PROGRAM} package next to {HERE}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work_root = os.path.join(HERE, ".work")
    for stale in os.listdir(work_root) if os.path.isdir(work_root) else ():
        if not os.path.exists(f"/proc/{stale.removeprefix('run-')}"):  # run killed earlier
            shutil.rmtree(os.path.join(work_root, stale), ignore_errors=True)
    work = os.path.join(work_root, f"run-{os.getpid()}")
    try:
        summary, result = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(work_root) and not os.listdir(work_root):
            os.rmdir(work_root)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    result["metrics"] = select(result["metrics"], declared, missing_is_zero=bool(args.trace))
    print("# " + json.dumps(summary), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
