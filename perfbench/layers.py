"""Per-layer metrics of a traced set, rolled up from spans and the event log.

Layer names follow the ``fog_spark`` modules: ``extract``
(functions.extract), ``engine`` (plans.engine), ``algos`` (the vertex
programs' messages/gather/apply), ``materialize`` (plans.materialize),
``checkpoint`` (plans.checkpoint), ``triangles`` (algos.triangles).

Figures are per pass (one run of the workload), except ``engine.iter_*``
and ``algos.plan_s``, which are per engine iteration (means over the
pass's iterations). Each reported figure is the median over the measured
traced passes. A layer a workload bypasses reads exactly 0.
"""

from __future__ import annotations

import statistics

from perfbench import trace as T

# metric -> unit
PER_LAYER = {
    "session.start_s": "s",
    "extract.s": "s",
    "extract.jobs": "count",
    "extract.shuffle_bytes": "bytes",
    "extract.edges_per_s": "1/s",
    "engine.setup_s": "s",
    "engine.setup_jobs": "count",
    "engine.setup_shuffle_bytes": "bytes",
    "engine.iter_jobs": "count",
    "engine.iter_stages": "count",
    "engine.iter_tasks": "count",
    "engine.iter_driver_s": "s",
    "engine.iter_shuffle_write_bytes": "bytes",
    "engine.iter_shuffle_read_bytes": "bytes",
    "engine.iter_spill_bytes": "bytes",
    "engine.iter_task_skew": "ratio",
    "engine.resume_s": "s",
    "algos.plan_s": "s",
    "materialize.checkpoint_s": "s",
    "materialize.calls": "count",
    "materialize.leaked_rdds": "count",
    "checkpoint.write_state_s": "s",
    "checkpoint.write_meta_s": "s",
    "checkpoint.lineage_s": "s",
    "checkpoint.resume_read_s": "s",
    "checkpoint.jobs": "count",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.files_written": "count",
    "checkpoint.lineage_rows": "count",
    "triangles.s": "s",
    "triangles.jobs": "count",
    "triangles.shuffle_bytes": "bytes",
    "triangles.spill_bytes": "bytes",
    "triangles.task_skew": "ratio",
    "spark.failed_tasks": "count",
    "spark.stage_retries": "count",
    "trace.overhead_frac": "ratio",
}

# counts that must repeat exactly across traced passes of one run
DETERMINISTIC = ("engine.iter_jobs", "checkpoint.lineage_rows", "materialize.calls")


def pass_layers(tr: T.Tracer, att: T.Attribution, rep: T.Span) -> dict:
    """Per-layer figures of one traced pass (the subtree of ``rep``)."""
    sub = tr.subtree(rep)

    def named(*names):
        return [s for s in sub if s.name in names]

    def dur(spans):
        return sum(s.end - s.start for s in spans)

    def work(spans):
        jobs, stages = [], []
        for s in spans:
            j, st = att.under(s)
            jobs += j
            stages += st
        return jobs, stages

    ext = named("extract")
    ext_jobs, ext_stages = work(ext)
    setup_jobs, setup_stages = work(named("engine.setup"))
    iters = named("engine.iter")
    n_iter = max(1, len(iters))
    it_jobs, it_stages = work(iters)
    ck = [s for s in sub if s.name.startswith("checkpoint.")]
    ck_ids = {s.id for s in ck}
    ck_jobs, _ = work([s for s in ck if s.parent not in ck_ids])
    tri = named("triangles")
    tri_jobs, tri_stages = work(tri)
    lineage = named("checkpoint.append_lineage")
    return {
        "extract.s": dur(ext),
        "extract.jobs": len(ext_jobs),
        "extract.shuffle_bytes": T.shuffle_write(ext_stages),
        "extract.edges_per_s": rep.attrs["extracted_edges"] / dur(ext) if ext else 0.0,
        # from run start to the first messages call: CSR build, hub salts,
        # lineage strip counts, init or resumed state
        "engine.setup_s": dur(named("engine.setup")),
        "engine.setup_jobs": len(setup_jobs),
        "engine.setup_shuffle_bytes": T.shuffle_write(setup_stages),
        "engine.iter_jobs": len(it_jobs) / n_iter,
        "engine.iter_stages": len(it_stages) / n_iter,
        "engine.iter_tasks": sum(len(st.tasks) for st in it_stages) / n_iter,
        # iteration wall not covered by any Spark job: planning, py4j,
        # scheduling gaps between the iteration's blocking actions
        "engine.iter_driver_s": (dur(iters) - T.job_seconds(it_jobs)) / n_iter,
        "engine.iter_shuffle_write_bytes": T.shuffle_write(it_stages) / n_iter,
        "engine.iter_shuffle_read_bytes": T.shuffle_read(it_stages) / n_iter,
        "engine.iter_spill_bytes": T.spill(it_stages) / n_iter,
        "engine.iter_task_skew": T.task_skew(it_stages) if iters else 0.0,
        "engine.resume_s": rep.attrs["resume_s"],
        "algos.plan_s": dur(named("algos.messages", "algos.gather", "algos.apply")) / n_iter,
        "materialize.checkpoint_s": dur(named("materialize.checkpoint")),
        "materialize.calls": len(named("materialize.checkpoint", "materialize.free")),
        "materialize.leaked_rdds": rep.attrs["leaked_rdds"],
        "checkpoint.write_state_s": dur(named("checkpoint.write_state")),
        "checkpoint.write_meta_s": dur(named("checkpoint.write_meta")),
        "checkpoint.lineage_s": dur(lineage),
        "checkpoint.resume_read_s": dur(named("checkpoint.latest_complete", "checkpoint.read_meta",
                                              "checkpoint.read_state")),
        "checkpoint.jobs": len(ck_jobs),
        "checkpoint.bytes_written": rep.attrs["store_bytes"],
        "checkpoint.files_written": rep.attrs["store_files"],
        "checkpoint.lineage_rows": sum(s.attrs["rows"] for s in lineage),
        "triangles.s": dur(tri),
        "triangles.jobs": len(tri_jobs),
        "triangles.shuffle_bytes": T.shuffle_write(tri_stages),
        "triangles.spill_bytes": T.spill(tri_stages),
        "triangles.task_skew": T.task_skew(tri_stages) if tri else 0.0,
        "_iterations": len(iters),
    }


def rollup(tr: T.Tracer, log: T.EventLog, durable: bool, n_strips: int,
           session_start_s: list, untraced_walls: list, traced_walls: list) -> tuple[dict, list]:
    """(per-layer metrics, self-test problems) of a traced set.

    Only passes that completed are rolled up; one that raised is already
    counted as failed. Self-tests run over every traced pass, warm-up
    included: the counts in DETERMINISTIC repeat exactly across the
    passes of one scale, no cached RDD leaks, and a durable run writes
    one lineage row per strip per iteration (``n_strips`` is the
    engine's min(shuffle partitions, 256))."""
    att = T.Attribution(log, tr)
    passes = [(s.attrs["measured"], s.attrs["scale"], pass_layers(tr, att, s))
              for s in tr.spans if s.name == "rep" and "wall_s" in s.attrs]
    problems = []
    for key in DETERMINISTIC:
        for scale in {sc for _, sc, _ in passes}:
            vals = sorted({m[key] for _, sc, m in passes if sc == scale})
            if len(vals) > 1:
                problems.append(f"self-test: {key} differs across traced {scale} passes: {vals}")
    for _, _, m in passes:
        if m["materialize.leaked_rdds"] != 0:
            problems.append(f"self-test: {m['materialize.leaked_rdds']} cached RDDs leaked")
        want = m["_iterations"] * n_strips if durable else 0
        if m["checkpoint.lineage_rows"] != want:
            problems.append(f"self-test: {m['checkpoint.lineage_rows']} lineage rows, expected "
                            f"{want} ({m['_iterations']} iterations x {n_strips} strips)")
    measured = [m for is_measured, _, m in passes if is_measured]
    if not measured:
        return {}, problems
    out = {k: statistics.median(m[k] for m in measured) for k in PER_LAYER if k in measured[0]}
    out["session.start_s"] = statistics.median(session_start_s)
    out["spark.failed_tasks"] = log.failed_tasks
    out["spark.stage_retries"] = log.stage_retries
    out["trace.overhead_frac"] = statistics.median(traced_walls) / statistics.median(untraced_walls) - 1.0
    return out, problems
