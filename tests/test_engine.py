"""Engine mechanics: checkpoint/lineage/resume (north_rule N4), salting
equivalence (F4), partition-count invariance."""

import numpy as np
from pyspark.sql import functions as F

from fog_spark.algos import ConnectedComponents, FogPageRank
from fog_spark.plans.checkpoint import CheckpointStore
from fog_spark.plans.engine import ScatterGatherEngine
from tests.conftest import make_edges_df
from tests import graphs as GX


def _vertices(spark, n):
    return spark.range(n).select("id")


def test_state_exchange_reused_between_scatter_and_apply(spark):
    """One state exchange per iteration, not two: the scatter join (inner)
    and the apply join (left-outer) must canonicalize to the same state
    subtree so Spark plans a ReusedExchange. The engine guarantees this by
    feeding both consumers the same isnotnull(id)-filtered frame — the
    inner join would otherwise push its own isnotnull filter and the
    subtrees would differ (measured: state shuffled twice per iteration).
    Pinned with AQE off so reuse is visible in the static physical plan;
    AQE's runtime stage cache keys on the same canonicalized form."""
    from fog_spark import graph as G

    edges, n = GX.ALL_GRAPHS["two_triangles"]
    e = make_edges_df(spark, edges)
    # mirror the real loop: AQE off so reuse shows in the static plan,
    # auto-broadcast off as the engine sets it inside run()
    confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # at this toy scale the optimizer injects a runtime bloom filter
        # on the scatter side (the inner join's build side is tiny),
        # which would differ the subtrees for reasons unrelated to the
        # property under test; production graphs are far above the
        # creation-side threshold
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        algo = FogPageRank(niters=2)
        eng = ScatterGatherEngine(spark, checkpoint_dir=None, collect_lineage=False)
        adj, hub_salts = eng._prepare_adjacency(algo, e)
        # steady-state shape: the previous gather left state partitioned
        # by something the id joins can't use, so BOTH consumers must
        # exchange it — the reuse property is what's under test
        state = eng.mat.checkpoint(
            algo.init_state(G.vertex_ids(e), adj).repartition(8, "rank")
        )
        base = state.where(F.col("id").isNotNull())
        msgs = algo.messages(eng._expand_salts(base, hub_salts), adj)
        new_state = algo.apply(base, algo.gather(msgs).drop("_n_msgs"))
        plan = new_state._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan, plan
        eng.mat.free(state)
        adj.unpersist()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_checkpoint_and_lineage(spark, tmp_path):
    edges, n = GX.ALL_GRAPHS["two_triangles"]
    eng = ScatterGatherEngine(spark, checkpoint_dir=str(tmp_path))
    res = eng.run(
        FogPageRank(niters=3), make_edges_df(spark, edges),
        run_id="pr-run", vertices=_vertices(spark, n),
    )
    assert res.iterations == 3
    store = CheckpointStore(spark, str(tmp_path))
    assert store.latest_complete("pr-run", "fog_pagerank") == 3
    lin = store.read_lineage().collect()
    assert {r["iteration"] for r in lin} == {1, 2, 3}
    # every scanned edge emits exactly one message: 12 edges per iteration
    per_iter = {}
    for r in lin:
        per_iter[r["iteration"]] = per_iter.get(r["iteration"], 0) + r["message_count"]
    assert all(v == len(edges) for v in per_iter.values())
    assert all(r["wall_time_ms"] >= 0 for r in lin)


def test_resume_equals_uninterrupted(spark, tmp_path):
    edges, n = GX.ALL_GRAPHS["two_triangles"]
    e = make_edges_df(spark, edges)
    # uninterrupted 6 iters
    eng1 = ScatterGatherEngine(spark, checkpoint_dir=str(tmp_path / "a"))
    full = eng1.run(FogPageRank(niters=6), e, run_id="r", vertices=_vertices(spark, n))
    # interrupted: 3 iters, then resume to 6 with a fresh engine
    eng2 = ScatterGatherEngine(spark, checkpoint_dir=str(tmp_path / "b"))
    eng2.run(FogPageRank(niters=3), e, run_id="r", vertices=_vertices(spark, n))
    eng3 = ScatterGatherEngine(spark, checkpoint_dir=str(tmp_path / "b"))
    resumed = eng3.run(FogPageRank(niters=6), e, run_id="r", vertices=_vertices(spark, n))
    a = {r["id"]: r["rank"] for r in full.state.collect()}
    b = {r["id"]: r["rank"] for r in resumed.state.collect()}
    assert a.keys() == b.keys()
    np.testing.assert_allclose(
        [a[k] for k in sorted(a)], [b[k] for k in sorted(b)], rtol=0, atol=0
    )
    # resume skipped the first 3 iterations
    assert resumed.history[0]["iteration"] == 4 or len(resumed.history) == 6


def test_replayed_iteration_lineage_is_not_duplicated(spark, tmp_path):
    """checkpoint_every=2 over 3 iterations commits iterations 2 and 3.
    With iteration 3's commit marker gone, resume replays iteration 3:
    its lineage rows must replace the first attempt's, not add to them."""
    import os

    edges, n = GX.ALL_GRAPHS["two_triangles"]
    e = make_edges_df(spark, edges)
    full = ScatterGatherEngine(spark, checkpoint_dir=str(tmp_path / "a")).run(
        FogPageRank(niters=3), e, run_id="r", vertices=_vertices(spark, n)
    )
    root = str(tmp_path / "b")
    ScatterGatherEngine(spark, checkpoint_dir=root, checkpoint_every=2).run(
        FogPageRank(niters=3), e, run_id="r", vertices=_vertices(spark, n)
    )
    os.remove(os.path.join(root, "r", "fog_pagerank", "iter=00003", "_meta.json"))
    eng = ScatterGatherEngine(spark, checkpoint_dir=root, checkpoint_every=2)
    assert eng.store.latest_complete("r", "fog_pagerank") == 2
    resumed = eng.run(FogPageRank(niters=3), e, run_id="r", vertices=_vertices(spark, n))
    assert resumed.iterations == 3
    lin = eng.store.read_lineage().collect()
    keys = [(r["iteration"], r["partition_id"]) for r in lin]
    assert len(keys) == len(set(keys)), sorted(keys)
    per_iter: dict[int, int] = {}
    for r in lin:
        per_iter[r["iteration"]] = per_iter.get(r["iteration"], 0) + r["message_count"]
    assert per_iter == {1: len(edges), 2: len(edges), 3: len(edges)}
    a = {r["id"]: r["rank"] for r in full.state.collect()}
    b = {r["id"]: r["rank"] for r in resumed.state.collect()}
    assert a == b


def test_shuffle_partitions_falls_back_on_non_integer_conf():
    from types import SimpleNamespace

    from fog_spark.plans.engine import shuffle_partitions

    def stub(value):
        return SimpleNamespace(
            conf=SimpleNamespace(get=lambda key: value),
            sparkContext=SimpleNamespace(defaultParallelism=3),
        )

    assert shuffle_partitions(stub("16")) == 16
    assert shuffle_partitions(stub("auto")) == 3
    assert shuffle_partitions(stub(None)) == 3


def test_standard_pagerank_resume(spark, tmp_path):
    """Resume must not depend on driver-held state (init_state is skipped
    on the resume path — the round-1 self._n TypeError regression)."""
    from fog_spark.algos import StandardPageRank

    edges, n = GX.ALL_GRAPHS["two_triangles"]
    e = make_edges_df(spark, edges)
    v = _vertices(spark, n)
    eng1 = ScatterGatherEngine(spark, checkpoint_dir=str(tmp_path / "a"))
    full = eng1.run(StandardPageRank(), e, max_iters=6, run_id="s", vertices=v)
    eng2 = ScatterGatherEngine(spark, checkpoint_dir=str(tmp_path / "b"))
    eng2.run(StandardPageRank(), e, max_iters=3, run_id="s", vertices=v)
    # fresh engine + fresh algorithm instance: resume path, no init_state
    eng3 = ScatterGatherEngine(spark, checkpoint_dir=str(tmp_path / "b"))
    resumed = eng3.run(StandardPageRank(), e, max_iters=6, run_id="s", vertices=v)
    a = {r["id"]: r["rank"] for r in full.state.collect()}
    b = {r["id"]: r["rank"] for r in resumed.state.collect()}
    assert a.keys() == b.keys()
    np.testing.assert_allclose(
        [a[k] for k in sorted(a)], [b[k] for k in sorted(b)], rtol=0, atol=0
    )
    # ranks are a probability distribution (dangling mass redistributed)
    assert abs(sum(a.values()) - 1.0) < 1e-9


def test_resume_converged_run_is_noop(spark, tmp_path):
    edges, n = GX.ALL_GRAPHS["chain5"]
    e = make_edges_df(spark, edges)
    eng = ScatterGatherEngine(spark, checkpoint_dir=str(tmp_path))
    first = eng.run(ConnectedComponents(), e, run_id="cc", vertices=_vertices(spark, n))
    assert first.converged
    again = eng.run(ConnectedComponents(), e, run_id="cc", vertices=_vertices(spark, n))
    assert again.converged
    got = {r["id"]: r["component"] for r in again.state.collect()}
    assert [got[v] for v in range(n)] == GX.cc_oracle(edges, n)


def _f4_edges(spark, n):
    """FIXTURES F4: deg(k) = n//2 for k in {0,1}, else xxhash64(k) % 4;
    dst rule = F2 ((k*7 + i*13 + 1) % n). Generated Spark-side."""
    from fog_spark.hashing import pmod

    hub = [
        spark.range(n // 2).select(
            F.lit(k).cast("long").alias("src"),
            ((k * 7 + F.col("id") * 13 + 1) % n).alias("dst"),
        )
        for k in (0, 1)
    ]
    deg = pmod(F.xxhash64(F.col("id")), F.lit(4))
    rest = (
        spark.range(2, n)
        .select(F.col("id").alias("src"), F.explode(F.sequence(F.lit(1), deg)).alias("i"))
        .select("src", ((F.col("src") * 7 + (F.col("i") - 1) * 13 + 1) % n).alias("dst"))
    )
    return hub[0].unionByName(hub[1]).unionByName(rest)


def test_iceberg_detection_honest(spark):
    """The sandbox has no Iceberg runtime; the store must say so rather
    than pretend (SURVEY §1.4 fallback contract)."""
    from fog_spark.plans.checkpoint import iceberg_available

    assert iceberg_available(spark) is False


def test_salted_equals_unsalted(spark):
    """F4 (results half): hub splitting changes the physical plan, not
    the results — checked at n=1000 per the fixture spec."""
    n = 1000
    e = _f4_edges(spark, n)
    v = _vertices(spark, n)
    salted = ScatterGatherEngine(spark, hub_cap=50).run(FogPageRank(niters=3), e, vertices=v)
    plain = ScatterGatherEngine(spark, hub_cap=None).run(FogPageRank(niters=3), e, vertices=v)
    a = {r["id"]: r["rank"] for r in salted.state.collect()}
    b = {r["id"]: r["rank"] for r in plain.state.collect()}
    for k in a:
        assert abs(a[k] - b[k]) < 1e-9


def test_collapsed_single_salt_hub_not_lost(spark):
    """A degree-hub whose duplicate dsts all hash into ONE nonzero salt
    has a single adjacency chunk at salt != 0. The hub-salt map must
    still cover it: with the old size(_salts) > 1 filter the state row
    expanded to _salt=0, never joined the salt-1 chunk, and the hub's
    messages silently vanished."""
    # xxhash64(2) is odd (pinned by fog_spark.hashing, Spark-exact), so
    # with nchunks=2 every copy of dst=2 lands in salt chunk 1. Vertex 9
    # is a genuine multi-salt hub: without one, the salt map is empty
    # and the engine's src-only fallback join masks the bug.
    edges = (
        [(0, 2)] * 10
        + [(9, d) for d in range(8)] * 2
        + [(1, 2), (2, 3), (3, 1), (2, 0)]
    )
    e = make_edges_df(spark, edges)
    v = _vertices(spark, 10)
    salted = ScatterGatherEngine(spark, hub_cap=5).run(
        FogPageRank(niters=3), e, vertices=v
    )
    plain = ScatterGatherEngine(spark, hub_cap=None).run(
        FogPageRank(niters=3), e, vertices=v
    )
    a = {r["id"]: r["rank"] for r in salted.state.collect()}
    b = {r["id"]: r["rank"] for r in plain.state.collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert abs(a[k] - b[k]) < 1e-9


def test_f4_skew_lineage_balance(spark, tmp_path):
    """F4 (balance half) at spec scale: n=100_000, two n/2-degree hubs.
    The lineage table records per-partition SCATTER message counts; with
    salted hub spreading no partition may exceed 2x the median."""
    n = 100_000
    e = _f4_edges(spark, n)
    eng = ScatterGatherEngine(spark, checkpoint_dir=str(tmp_path), hub_cap=5000)
    res = eng.run(FogPageRank(niters=2), e, run_id="f4", vertices=_vertices(spark, n))
    lineage = eng.store.read_lineage().where(F.col("run_id") == "f4").collect()
    assert lineage, "lineage table is empty"
    by_iter: dict[int, list[int]] = {}
    for r in lineage:
        by_iter.setdefault(r["iteration"], []).append(r["message_count"])
    total = sum(mc for r in by_iter.values() for mc in r)
    assert total == sum(h["messages"] for h in res.history)
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for it, counts in by_iter.items():
        # partitions with zero messages still count toward the median
        counts = sorted(counts + [0] * (nparts - len(counts)))
        median = counts[len(counts) // 2]
        assert max(counts) <= 2 * median, (
            f"iter {it}: max {max(counts)} > 2x median {median}: {counts}"
        )


def test_partitioning_invariance(spark):
    """Same results at different shuffle-partition counts (the 2-cluster
    correctness half of the scaling rule)."""
    edges, n = GX.ALL_GRAPHS["star_hub"]
    e = make_edges_df(spark, edges)
    v = _vertices(spark, n)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        r2 = ScatterGatherEngine(spark).run(FogPageRank(niters=4), e, vertices=v)
        a = {r["id"]: r["rank"] for r in r2.state.collect()}
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        r16 = ScatterGatherEngine(spark).run(FogPageRank(niters=4), e, vertices=v)
        b = {r["id"]: r["rank"] for r in r16.state.collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for k in a:
        assert abs(a[k] - b[k]) < 1e-12


def test_iceberg_pack_unpack_roundtrip(spark):
    # the nontrivial logic of the Iceberg checkpoint path — the generic
    # (id, state_json) encoding — tested WITHOUT the jar; the store
    # itself is exercised by the skip-marked test below the day a
    # runtime jar + catalog appear
    from fog_spark.plans.checkpoint import pack_state, unpack_state

    state = spark.createDataFrame(
        [(0, 12, True, 1.5), (1, 7, False, -2.25), (2, None, True, 0.0)],
        "id long, rank_milli long, _active boolean, score double",
    )
    packed = pack_state(state, "run-x", "pr", 3)
    assert packed.columns == ["run_id", "algorithm", "iteration", "id", "state_json"]
    assert packed.where(F.col("run_id") != "run-x").count() == 0
    back = unpack_state(
        packed, "rank_milli long, _active boolean, score double"
    )
    want = {r["id"]: (r["rank_milli"], r["_active"], r["score"]) for r in state.collect()}
    got = {r["id"]: (r["rank_milli"], r["_active"], r["score"]) for r in back.collect()}
    assert got == want


def test_iceberg_store_roundtrip_when_available(spark, tmp_path):
    # runs for real the day iceberg-spark-runtime + a catalog exist in
    # the session (VERDICT r03 #7); meanwhile skips with an honest reason
    import pytest

    from fog_spark.plans.checkpoint import IcebergCheckpointStore, iceberg_available

    if not iceberg_available(spark):
        pytest.skip("no Iceberg runtime/catalog in this environment")
    store = IcebergCheckpointStore(spark, catalog="local")
    state = spark.createDataFrame(
        [(0, 10), (1, 20)], "id long, rank_milli long"
    )
    store.write_state("r1", "pr", 2, state, {"note": "test"})
    assert store.latest_complete("r1", "pr") == 2
    got = {r["id"]: r["rank_milli"] for r in store.read_state("r1", "pr", 2).collect()}
    assert got == {0: 10, 1: 20}
    assert store.read_meta("r1", "pr", 2)["note"] == "test"
    store.append_lineage([("r1", "pr", 2, 0, 5, 5, 12)])
    assert store.read_lineage().where("run_id = 'r1'").count() == 1


def test_checkpoint_store_factory(spark, tmp_path):
    # parquet path unchanged; iceberg:// routing fails loudly w/o the jar
    import pytest

    from fog_spark.plans.checkpoint import (
        CheckpointStore,
        iceberg_available,
        make_checkpoint_store,
    )

    assert make_checkpoint_store(spark, None) is None
    st = make_checkpoint_store(spark, str(tmp_path / "ck"))
    assert isinstance(st, CheckpointStore)
    if not iceberg_available(spark):
        with pytest.raises(RuntimeError, match="iceberg"):
            make_checkpoint_store(spark, "iceberg://local")
