"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_pagerank_resume --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. A run generates the workload's inputs from
the seed at the measured ("full") and the warm-up ("tiny") scale, cached
per seed under ``.perfbench_work/``, computes the NumPy oracles, then
sets up the session and loads the input tables several times
(``setup_s`` is their median). After one untimed warm-up pass at tiny
scale it repeats checked passes of the workload at full scale for
``--seconds`` seconds, and at least MIN_REPS times.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` sets up with
the Spark event log on, then after one traced warm-up pass alternates
untraced passes with passes in which the program's layer entry points
are wrapped (``perfbench/trace.py``). It prints the per-layer metrics
(``perfbench/layers.py``) and writes the spans to
``.perfbench_work/spans-<workload>-<seed>.jsonl``. A traced run also
self-tests the benchmark: its deterministic counts must repeat across
the traced passes, no cached RDD may leak, and the lineage must hold
one row per strip per iteration.

Everything runs in this one Spark driver process, against ``local[N]`` with N
the cores this process may use. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; any failed check
exits non-zero. ``--selftest`` runs every workload traced at tiny
scale.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import fog_spark  # noqa: E402,F401  (fails fast outside a full checkout)
from fog_spark.session import get_spark  # noqa: E402

from perfbench import inputs as I  # noqa: E402
from perfbench import layers as L  # noqa: E402
from perfbench import trace as T  # noqa: E402
from perfbench import workloads as W  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_SAMPLES = 3
MIN_REPS = 2  # measured passes per untraced set; the metrics pool them
WARM_SCALE = "tiny"
DRIVER_MEMORY = "1g"


class NullTracer:
    """Stands in for :class:`trace.Tracer` in untraced passes."""

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield T.Span(-1, name, None, 0.0, attrs=attrs)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def read_steal() -> tuple[int, int]:
    """(steal ticks, total ticks) over all cpus, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_pct(s0, s1) -> float:
    return 100.0 * (s1[0] - s0[0]) / max(1, s1[1] - s0[1])


def start_session(event_dir: str | None = None):
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a fixed-size heap, so peak RSS tracks what the passes touch rather
        # than when G1 decided to grow the heap
        "spark.driver.extraJavaOptions": (f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
                                          " -XX:-UsePerfData"),
    }
    if event_dir is not None:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_dir
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return get_spark(app_name="perfbench", cores=cores(), extra_conf=conf)


def _jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def reset_peak_rss(spark) -> None:
    """Restart the JVM's VmHWM at its current RSS (``clear_refs`` code 5),
    so the peak covers the measured passes, not JVM start or generation."""
    with open(f"/proc/{_jvm_pid(spark)}/clear_refs", "w") as f:
        f.write("5")


def jvm_peak_rss_mb(spark) -> float:
    with open(f"/proc/{_jvm_pid(spark)}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def shutdown_jvm() -> None:
    """Wait for the JVM the gateway launched to exit (Spark is stopped)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Run:
    """One workload at one seed: inputs, oracles, sessions and pass sets.

    Measured passes run at ``scale``; warm-up passes run the same
    workload at WARM_SCALE, which loads the same classes and compiles the
    same plans in a fraction of the time."""

    def __init__(self, workload: str, seed: int, scale: str):
        self.workload, self.seed, self.scale = workload, seed, scale
        self.scales = sorted({scale, WARM_SCALE})
        self.work = os.path.join(WORK, f"run-{workload}-{seed}-{os.getpid()}")
        os.makedirs(self.work, exist_ok=True)
        self.spark = None
        self.inputs: dict = {}  # scale -> loaded tables
        self.attempted = 0
        self.failed = 0
        self.session_start_s: list[float] = []
        self.pass_walls: list[float] = []

    def prepare(self, event_dir: str | None = None) -> None:
        """Generate inputs and the oracle (untimed), then time set-up; the
        last set-up starts the session the passes use."""
        t0 = time.perf_counter()
        self.spark = start_session()
        t1 = time.perf_counter()
        self.input_dirs = {sc: I.write_inputs(self.spark, self.workload, sc, self.seed,
                                              os.path.join(WORK, "inputs"))
                           for sc in self.scales}
        t2 = time.perf_counter()
        self.oracles = {sc: W.compute_oracle(self.workload, sc, d) for sc, d in self.input_dirs.items()}
        t3 = time.perf_counter()
        self.timings = {"jvm_start_s": t1 - t0, "generate_s": t2 - t1, "oracle_s": t3 - t2}
        self.setup_s = [self.setup(event_dir if i == SETUP_SAMPLES - 1 else None)
                        for i in range(SETUP_SAMPLES)]
        if WARM_SCALE not in self.inputs:
            self.inputs[WARM_SCALE] = W.load_inputs(self.spark, self.workload, self.input_dirs[WARM_SCALE])

    def setup(self, event_dir: str | None = None) -> float:
        """Session start plus input load, from a stopped session."""
        self.close_session()
        t0 = time.perf_counter()
        self.spark = start_session(event_dir)
        self.session_start_s.append(time.perf_counter() - t0)
        self.inputs = {self.scale: W.load_inputs(self.spark, self.workload, self.input_dirs[self.scale])}
        return time.perf_counter() - t0

    def persistent_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def rep(self, i: int, tr, measured: bool, scale: str | None = None) -> W.RepResult | None:
        """One checked pass, at WARM_SCALE unless measured or ``scale`` is
        given; failures are counted, never raised."""
        self.attempted += 1
        scale = scale or (self.scale if measured else WARM_SCALE)
        oracle = self.oracles[scale]
        before = self.persistent_rdds()
        span = tr.span("rep", i=i, measured=measured, scale=scale,
                       extracted_edges=oracle.adj_edges.get("fog_pagerank", 0))
        try:
            with span as sp:
                r = W.REPS[self.workload](self.spark, self.inputs[scale], oracle, scale,
                                          self.work, i, tr)
                sp.attrs["leaked_rdds"] = self.persistent_rdds() - before
                store = os.path.join(self.work, f"store-{i}")
                sp.attrs["store_bytes"], sp.attrs["store_files"] = _dir_size(store)
                sp.attrs["iterations"] = r.iterations
                sp.attrs["resume_s"] = r.resume_s
                sp.attrs["wall_s"] = r.wall_s
                self.pass_walls.append(round(r.wall_s, 3))
                shutil.rmtree(store, ignore_errors=True)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        if r.problems:
            print(f"check failed ({self.workload} seed {self.seed} pass {i}): {r.problems}",
                  file=sys.stderr)
            self.failed += 1
            return None
        return r

    def pass_set(self, seconds: float, tr) -> list[W.RepResult]:
        """One untimed warm-up pass, then measured passes until ``seconds``
        elapse (at least MIN_REPS)."""
        self.rep(0, tr, measured=False)
        reset_peak_rss(self.spark)
        out = []
        t0 = time.perf_counter()
        i = 1
        while len(out) < MIN_REPS or time.perf_counter() - t0 < seconds:
            r = self.rep(i, tr, measured=True)
            i += 1
            if r is not None:
                out.append(r)
            elif self.failed > MIN_REPS:
                break
        return out

    def paired_sets(self, seconds: float, tr: T.Tracer) -> tuple[list, list]:
        """One untimed traced warm-up pass and one untimed untraced pass at
        full scale (the first full-scale pass of a run is still the
        slowest), then alternating untraced and traced passes until
        ``seconds`` elapse (at least one each). Both sides run in the same
        event-logging session, so the overhead they differ by is the
        wrappers' and the job tags'."""
        null = NullTracer()

        def traced_rep(i, measured):
            saved = T.install(tr)
            try:
                return self.rep(i, tr, measured)
            finally:
                T.uninstall(saved)

        traced_rep(0, measured=False)
        self.rep(1, null, measured=False, scale=self.scale)
        untraced, traced = [], []
        t0 = time.perf_counter()
        i = 2
        while not (untraced and traced) or time.perf_counter() - t0 < seconds:
            for side, r in ((untraced, self.rep(i, null, True)), (traced, traced_rep(i + 1, True))):
                if r is not None:
                    side.append(r)
            i += 2
            if self.failed > 1:
                break
        return untraced, traced

    def close_session(self) -> None:
        """Stop the session; stopping drops the cached inputs with it."""
        self.inputs = {}
        if self.spark is not None:
            self.spark.stop()

    def close(self) -> None:
        self.close_session()
        self.spark = None
        shutdown_jvm()
        shutil.rmtree(self.work, ignore_errors=True)


def _dir_size(path: str) -> tuple[int, int]:
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


def end_to_end(run: Run, reps: list[W.RepResult]) -> dict:
    walls = [w for r in reps for w in r.iter_walls_s]
    return {
        "setup_s": (statistics.median(run.setup_s), "s"),
        "wall_s": (statistics.median(r.wall_s for r in reps), "s"),
        "iter_s.p50": (statistics.median(walls), "s"),
        "edges_per_s_per_iter": (sum(r.edge_iters for r in reps) / sum(walls), "1/s"),
        "iterations": (statistics.median(r.iterations for r in reps), "count"),
        "jvm_peak_rss_mb": (jvm_peak_rss_mb(run.spark), "MB"),
    }


def run_one(workload: str, seed: int, seconds: float, traced: bool, scale: str) -> tuple[dict, int, int, dict]:
    """Returns (metrics as {name: (value, unit)}, attempted, failed, info)."""
    run = Run(workload, seed, scale)
    info = {"workload": workload, "seed": seed, "cores": cores(), "scale": scale}
    try:
        event_dir = os.path.join(run.work, "events") if traced else None
        if traced:
            os.makedirs(event_dir)
        run.prepare(event_dir)
        s0 = read_steal()
        if not traced:
            reps = run.pass_set(seconds, NullTracer())
            metrics = end_to_end(run, reps) if reps else {}
            info["resume_s"] = statistics.median(r.resume_s for r in reps) if reps else None
            info["iter_walls_s"] = [[round(w, 3) for w in r.iter_walls_s] for r in reps]
        else:
            tr = T.Tracer()
            untraced, traced_reps = run.paired_sets(seconds, tr)
            metrics = {}
            if untraced and traced_reps:
                tr.dump(os.path.join(WORK, f"spans-{workload}-{seed}.jsonl"))
                n_strips = min(int(run.spark.conf.get("spark.sql.shuffle.partitions")), 256)
                run.close_session()  # closes the event log
                layers, problems = L.rollup(
                    tr, T.EventLog.read(event_dir), workload == "crawl_pagerank_resume",
                    n_strips, run.session_start_s,
                    [r.wall_s for r in untraced], [r.wall_s for r in traced_reps])
                for p in problems:
                    print(p, file=sys.stderr)
                run.failed += len(problems)
                run.attempted += len(problems)
                if layers:
                    metrics = {k: (layers[k], u) for k, u in L.PER_LAYER.items()}
        info["steal_pct"] = steal_pct(s0, read_steal())
        info.update(run.timings, setup_s=run.setup_s, pass_walls_s=run.pass_walls)
    finally:
        run.close()
    return metrics, run.attempted, run.failed, info


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run every workload traced at tiny scale and check it")
    args = ap.parse_args(argv)
    for d in ("spark-local", "warehouse", "tmp", "inputs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # keep every file Spark, its launcher JVM and PySpark write inside the
    # checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # cap glibc's per-thread malloc arenas in the JVM, so its native share
    # of jvm_peak_rss_mb does not depend on which threads happened to allocate
    os.environ["MALLOC_ARENA_MAX"] = "2"

    if args.selftest:
        bad = 0
        for wl in W.WORKLOADS:
            metrics, attempted, failed, info = run_one(wl, args.seed, 0, True, "tiny")
            print(json.dumps({"selftest": wl, "attempted": attempted, "failed": failed,
                              "metrics": {k: v for k, (v, _) in metrics.items()}}))
            bad += failed or not metrics
        print("SELFTEST " + ("PASS" if not bad else "FAIL"))
        return 1 if bad else 0

    if args.workload is None:
        ap.error("--workload is required")
    metrics, attempted, failed, info = run_one(args.workload, args.seed, args.seconds,
                                               bool(args.trace), "full")
    info["failed_frac"] = failed / max(1, attempted)
    print(json.dumps({"run_info": info}))
    result = {
        "correct": failed == 0 and bool(metrics),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
