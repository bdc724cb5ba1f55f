"""The workloads: input load, one checked pass ("rep"), and the
oracle each rep is checked against.

A rep runs the real public pipeline on the loaded input tables and
compares its output with a NumPy oracle computed once per seed, outside
every timed region. A rep that raises or mismatches is a failure.
"""

from __future__ import annotations

import importlib
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

import fog_spark.functions.extract as extract_mod
from fog_spark.algos.components import ConnectedComponents
from fog_spark.algos.pagerank import FogPageRank
from fog_spark.plans.engine import ScatterGatherEngine

from perfbench import oracles
from perfbench.inputs import SCALES

# the package re-exports a function named ``triangles``, which shadows the
# submodule as an attribute of fog_spark.algos
triangles_mod = importlib.import_module("fog_spark.algos.triangles")

WORKLOADS = ("crawl_pagerank_resume", "cc_hub_triangles")

PROGRAM_INPUT = {"crawl_pagerank_resume": "pages", "cc_hub_triangles": "edges"}
ORACLE_INPUT = {"crawl_pagerank_resume": "truth_edges", "cc_hub_triangles": "edges"}


@dataclass
class Oracle:
    """Expected outputs plus the sizes the metrics divide by."""
    expect: dict
    adj_edges: dict  # algorithm name -> adjacency edges the engine scatters over


@dataclass
class RepResult:
    wall_s: float
    iter_walls_s: list
    edge_iters: int  # sum over engine runs of adjacency edges x iterations
    iterations: int
    resume_s: float = 0.0
    problems: list = field(default_factory=list)


def compute_oracle(workload: str, scale: str, input_dir: str) -> Oracle:
    t = pq.read_table(os.path.join(input_dir, ORACLE_INPUT[workload]))
    src = t.column("src").to_numpy().astype(np.int64)
    dst = t.column("dst").to_numpy().astype(np.int64)
    s = SCALES[scale]
    if workload == "crawl_pagerank_resume":
        return Oracle(
            {"pr_stop": oracles.fog_pagerank(src, dst, s["crawl_stop_at"]),
             "pr_final": oracles.fog_pagerank(src, dst, s["crawl_iters"])},
            {"fog_pagerank": len(src)},
        )
    ids, comp, rounds = oracles.connected_components(src, dst)
    n_sym = len(oracles.undirected_pairs(src, dst)[1])
    return Oracle(
        {"cc": (ids, comp), "cc_max_rounds": rounds,
         "triangles": oracles.triangle_count(src, dst)},
        {"connected_components": n_sym},
    )


def load_inputs(spark: SparkSession, workload: str, input_dir: str) -> dict[str, DataFrame]:
    """Read and cache the program's input table; the count materializes it."""
    name = PROGRAM_INPUT[workload]
    df = spark.read.parquet(os.path.join(input_dir, name)).persist()
    df.count()
    return {name: df}


def _check_values(problems: list, what: str, got, want, exact: bool) -> None:
    """got: pandas frame (id, value); want: (ids, values) arrays."""
    ids, vals = want
    g = got.sort_values("id")
    gid = g.iloc[:, 0].to_numpy()
    gv = g.iloc[:, 1].to_numpy()
    if len(gid) != len(ids) or not np.array_equal(gid, ids):
        problems.append(f"{what}: vertex set differs ({len(gid)} vs {len(ids)} ids)")
    elif exact and not np.array_equal(gv, vals):
        problems.append(f"{what}: {int(np.count_nonzero(gv != vals))} values differ")
    elif not exact and not np.allclose(gv, vals, rtol=1e-6, atol=1e-6):
        problems.append(f"{what}: max abs diff {float(np.max(np.abs(gv - vals)))}")


def _engine_edge_iters(oracle: Oracle, *runs) -> int:
    return sum(oracle.adj_edges[algo] * n for algo, n in runs)


def crawl_pagerank_resume(spark, inputs, oracle: Oracle, scale: str, work_dir: str, rep: int, tr) -> RepResult:
    """pages -> edges_from_pages -> durable FogPageRank stopped at k of N
    iterations -> a fresh engine resumes the run id to N."""
    s = SCALES[scale]
    n_iters, stop_at = s["crawl_iters"], s["crawl_stop_at"]
    store = os.path.join(work_dir, f"store-{rep}")
    shutil.rmtree(store, ignore_errors=True)
    problems: list = []
    t0 = time.perf_counter()
    with tr.span("extract"):
        edges = extract_mod.edges_from_pages(inputs["pages"], weighted=False).persist()
        n_edges = edges.count()
    first = ScatterGatherEngine(spark, checkpoint_dir=store).run(
        FogPageRank(niters=n_iters), edges, max_iters=stop_at, run_id="crawl")
    _check_values(problems, "pagerank@stop", first.state.select("id", "rank").toPandas(),
                  oracle.expect["pr_stop"], exact=False)
    t_resume = time.perf_counter()
    final = ScatterGatherEngine(spark, checkpoint_dir=store).run(
        FogPageRank(niters=n_iters), edges, max_iters=n_iters, run_id="crawl")
    resume_s = time.perf_counter() - t_resume
    _check_values(problems, "pagerank@resume", final.state.select("id", "rank").toPandas(),
                  oracle.expect["pr_final"], exact=False)
    edges.unpersist()
    wall = time.perf_counter() - t0
    if n_edges != oracle.adj_edges["fog_pagerank"]:
        problems.append(f"extract: {n_edges} edges, expected {oracle.adj_edges['fog_pagerank']}")
    if first.iterations != stop_at or final.iterations != n_iters or len(final.history) != n_iters:
        problems.append(f"resume: iterations {first.iterations}+{final.iterations}, history {len(final.history)}")
    walls = [h["wall_time_ms"] / 1000.0 for h in first.history + final.history[stop_at:]]
    return RepResult(wall, walls, _engine_edge_iters(oracle, ("fog_pagerank", n_iters)),
                     n_iters, resume_s, problems)


def cc_hub_triangles(spark, inputs, oracle: Oracle, scale: str, work_dir: str, rep: int, tr) -> RepResult:
    """In memory, no store: ConnectedComponents to convergence, then
    triangle_count, over long paths plus two hubs whose undirected degree
    exceeds hub_cap."""
    s = SCALES[scale]
    edges = inputs["edges"]
    problems: list = []
    t0 = time.perf_counter()
    eng = ScatterGatherEngine(spark, hub_cap=s["hub_cap"])
    cc = eng.run(ConnectedComponents(), edges)
    _check_values(problems, "cc", cc.state.select("id", "component").toPandas(),
                  oracle.expect["cc"], exact=True)
    eng.mat.free(cc.state)
    with tr.span("triangles"):
        n_tri = triangles_mod.triangle_count(edges)
    wall = time.perf_counter() - t0
    # the labels are checked exactly; the round count is a metric, bounded
    # only by synchronous hash-min's, which an engine may beat
    if not cc.converged or cc.iterations > oracle.expect["cc_max_rounds"]:
        problems.append(f"cc: {cc.iterations} iterations (converged={cc.converged}), "
                        f"synchronous hash-min needs {oracle.expect['cc_max_rounds']}")
    if n_tri != oracle.expect["triangles"]:
        problems.append(f"triangles: {n_tri}, oracle {oracle.expect['triangles']}")
    walls = [h["wall_time_ms"] / 1000.0 for h in cc.history]
    return RepResult(wall, walls, _engine_edge_iters(oracle, ("connected_components", cc.iterations)),
                     cc.iterations, 0.0, problems)


REPS = {
    "crawl_pagerank_resume": crawl_pagerank_resume,
    "cc_hub_triangles": cc_hub_triangles,
}
