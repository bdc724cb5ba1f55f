"""One Spark action per engine iteration: the checkpoint (or durable state
write) is the only job an iteration launches. Lineage rows, the state
read-back and the convergence stats launch none of their own. Jobs are
counted through Spark job tags and the status tracker."""

import itertools

import pytest
from pyspark.sql import functions as F

from fog_spark.algos import ConnectedComponents, FogPageRank, StandardPageRank
from fog_spark.plans.checkpoint import CheckpointStore
from fog_spark.plans.engine import ScatterGatherEngine
from fog_spark.plans.materialize import Materializer
from tests import graphs as GX
from tests.conftest import make_edges_df

_tag_ids = itertools.count()


def _new_tag(name: str) -> str:
    return f"jobs-test-{name}-{next(_tag_ids)}"


def _job_ids(spark, tag: str) -> set[int]:
    """Ids of the jobs that carried ``tag``, once the listener has seen
    every event posted so far."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return set(jsc.statusTracker().getJobIdsForTag(tag))


def _count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    tag = _new_tag("call")
    sc = spark.sparkContext
    sc.addJobTag(tag)
    try:
        out = fn()
    finally:
        sc.removeJobTag(tag)
    return out, len(_job_ids(spark, tag))


def test_append_lineage_and_state_read_back_launch_no_jobs(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path))
    state = spark.range(10).select("id", (F.col("id") * 2).alias("v")).coalesce(1)
    # the write is the only job: the read-back knows its schema
    back, n = _count_jobs(spark, lambda: store.write_state("r", "a", 1, state, {}))
    assert n == 1
    # parquet reads every column back as nullable
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in state.schema
    ]
    assert sorted(tuple(r) for r in back.collect()) == [(i, 2 * i) for i in range(10)]
    rows = [("r", "a", 1, p, 10 * p, p, 5) for p in range(4)]
    _, n = _count_jobs(spark, lambda: store.append_lineage(rows))
    assert n == 0
    got = sorted(tuple(r) for r in store.read_lineage().collect())
    assert got == rows


def test_append_lineage_replaces_an_iterations_rows(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path))
    store.append_lineage([("r/1", "a", 1, 0, 1, 1, 1), ("r/1", "a", 2, 0, 2, 2, 2)])
    store.append_lineage([("r/1", "a", 2, 0, 3, 3, 3), ("r/1", "a", 2, 1, 4, 4, 4)])
    # same sanitized name, different key: must not collide
    store.append_lineage([("r_1", "a", 2, 0, 9, 9, 9)])
    got = sorted(tuple(r) for r in store.read_lineage().collect())
    assert got == [
        ("r/1", "a", 1, 0, 1, 1, 1),
        ("r/1", "a", 2, 0, 3, 3, 3),
        ("r/1", "a", 2, 1, 4, 4, 4),
        ("r_1", "a", 2, 0, 9, 9, 9),
    ]


class _IterationJobs:
    """Tags each engine iteration's jobs with the iteration number (an
    iteration starts at its ``messages`` call) and, separately, every job
    launched inside the engine's checkpoint call."""

    def __init__(self, spark, monkeypatch, algo_cls, checkpoint_owner, checkpoint_name):
        self.spark = spark
        self.sc = spark.sparkContext
        self.iter_tags: list[str] = []
        self.ck_tag = _new_tag("checkpoint")
        orig_messages = algo_cls.messages
        orig_ck = getattr(checkpoint_owner, checkpoint_name)

        def messages(algo, *a, **kw):
            if self.iter_tags:
                self.sc.removeJobTag(self.iter_tags[-1])
            self.iter_tags.append(_new_tag(f"iter{len(self.iter_tags) + 1}"))
            self.sc.addJobTag(self.iter_tags[-1])
            return orig_messages(algo, *a, **kw)

        def checkpoint(*a, **kw):
            self.sc.addJobTag(self.ck_tag)
            try:
                return orig_ck(*a, **kw)
            finally:
                self.sc.removeJobTag(self.ck_tag)

        monkeypatch.setattr(algo_cls, "messages", messages)
        monkeypatch.setattr(checkpoint_owner, checkpoint_name, checkpoint)

    def finish(self) -> list[tuple[set, set]]:
        """Per iteration: (all its jobs, those outside the checkpoint)."""
        if self.iter_tags:
            self.sc.removeJobTag(self.iter_tags[-1])
        ck = _job_ids(self.spark, self.ck_tag)
        out = []
        for t in self.iter_tags:
            jobs = _job_ids(self.spark, t)
            out.append((jobs, jobs - ck))
        return out


@pytest.mark.parametrize("durable", [False, True])
def test_cc_iteration_runs_only_its_checkpoint(spark, monkeypatch, tmp_path, durable):
    """No stats job: CC's convergence stats ride the checkpoint."""
    edges, n = GX.ALL_GRAPHS["chain5"]
    e = make_edges_df(spark, edges)
    if durable:
        probe = _IterationJobs(spark, monkeypatch, ConnectedComponents, CheckpointStore, "write_state")
        eng = ScatterGatherEngine(spark, checkpoint_dir=str(tmp_path))
    else:
        probe = _IterationJobs(spark, monkeypatch, ConnectedComponents, Materializer, "checkpoint")
        eng = ScatterGatherEngine(spark)
    res = eng.run(ConnectedComponents(), e, vertices=spark.range(n))
    per_iter = probe.finish()
    assert res.converged and len(per_iter) == res.iterations >= 2
    for i, (jobs, outside) in enumerate(per_iter, 1):
        assert jobs, f"iteration {i}: no jobs seen"
        assert not outside, f"iteration {i}: jobs outside the checkpoint: {sorted(outside)}"


def test_durable_pagerank_iteration_runs_only_its_state_write(spark, monkeypatch, tmp_path):
    """Lineage rows and the state read-back launch no jobs."""
    edges, n = GX.ALL_GRAPHS["two_triangles"]
    probe = _IterationJobs(spark, monkeypatch, FogPageRank, CheckpointStore, "write_state")
    eng = ScatterGatherEngine(spark, checkpoint_dir=str(tmp_path))
    eng.run(FogPageRank(niters=3), make_edges_df(spark, edges), run_id="p",
            vertices=spark.range(n))
    per_iter = probe.finish()
    assert len(per_iter) == 3
    for i, (jobs, outside) in enumerate(per_iter, 1):
        assert jobs, f"iteration {i}: no jobs seen"
        assert not outside, f"iteration {i}: jobs outside the state write: {sorted(outside)}"
    assert eng.store.read_lineage().select("iteration").distinct().count() == 3


def _direct_stats(state, dangling: bool) -> dict:
    aggs = [F.count(F.lit(1)).alias("vertex_count"),
            F.sum(F.col("_active").cast("long")).alias("active_count")]
    if "_delta" in state.columns:
        aggs.append(F.max("_delta").alias("max_delta"))
    if dangling:
        aggs.append(F.coalesce(F.sum(F.when(~F.col("has_out"), F.col("rank"))), F.lit(0.0))
                    .alias("dangling_mass"))
    return state.agg(*aggs).collect()[0].asDict()


@pytest.mark.parametrize("algo_cls", [ConnectedComponents, StandardPageRank])
def test_observed_history_equals_direct_aggregates(spark, tmp_path, algo_cls):
    """The history's stats, observed on each iteration's checkpoint job,
    equal an aggregate over the state that iteration committed."""
    edges, n = GX.ALL_GRAPHS["star_hub"]
    algo = algo_cls()
    eng = ScatterGatherEngine(spark, checkpoint_dir=str(tmp_path))
    res = eng.run(algo, make_edges_df(spark, edges), max_iters=4, run_id="h",
                  vertices=spark.range(n))
    assert [h["iteration"] for h in res.history] == list(range(1, res.iterations + 1))
    dangling = algo_cls is StandardPageRank
    for h in res.history:
        want = _direct_stats(eng.store.read_state("h", algo.name, h["iteration"]), dangling)
        assert h["vertex_count"] == want["vertex_count"] == n
        assert h["active_count"] == want["active_count"]
        if dangling:
            assert h["max_delta"] == want["max_delta"]
            assert h["dangling_mass"] == pytest.approx(want["dangling_mass"], rel=1e-12, abs=1e-15)
        else:
            assert h["max_delta"] is None


def test_observed_fails_instead_of_hanging(spark, monkeypatch):
    from pyspark.sql import Observation

    import fog_spark.plans.engine as E

    obs = Observation()
    df = spark.range(3).observe(obs, F.count(F.lit(1)).alias("n"))
    monkeypatch.setattr(E, "_OBSERVATION_TIMEOUT_S", 0.2)
    # no action has run over df, so the metrics never arrive
    with pytest.raises(TimeoutError, match="never-run"):
        E.observed(obs, "never-run")
    df.collect()
    assert E.observed(obs, "after collect") == {"n": 3}
