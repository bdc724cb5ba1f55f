"""The iterative scatter-gather driver — FOG's engine loop, Spark-first.

Reference analog: ``fog_engine::operator()()``
(/root/reference/fogsrc/fog_engine.cpp:92-244): init -> (scatter -> gather)*
until the vertex program says stop. Here every phase is one declarative
DataFrame plan per iteration:

- **scatter** (E3/E4): ``active_state ⨝ adj on src -> explode(dsts)`` —
  Catalyst picks broadcast-hash when the frontier is small (the engine
  hints it explicitly, mirroring FOG's TARGET-vs-GLOBAL split,
  fog_engine.hpp:35-40) and sort-merge otherwise.
- **gather** (E5/E6): ``messages.groupBy(dst).agg(...)`` — Spark's
  partial+final hash aggregation replaces FOG's per-CPU update strips and
  race-free per-partition drain (cpu_thread.cpp:284-321, 607-657); the
  shuffle spills automatically, so FOG's buffer-full sub-iterations (E7)
  disappear.
- **apply + frontier** (E10): left join of state with aggregates; the
  next frontier is exactly the changed rows (``_active``), the analog of
  add_schedule into the next-phase bitmap (fog_engine.cpp:2122-2174).
- **checkpoint/lineage/resume** (north_rule): per-iteration durable
  snapshots + per-partition lineage rows; intermediate iterations may use
  ``localCheckpoint`` to truncate lineage without durable I/O.

One Spark action per iteration: the checkpoint (or durable state write)
is the only job an iteration launches. The lineage message counts and
the convergence stats are observed metrics that ride it; lineage rows
are written on the driver (checkpoint.py).

Work stealing (fog_engine.cpp:819-1011) maps to Spark task scheduling +
AQE; *data* skew is handled structurally by the salted adjacency
(graph.build_adjacency) — no straggler task ever owns a whole hub.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from fog_spark import graph as G
from fog_spark.plans.checkpoint import make_checkpoint_store
from fog_spark.plans.materialize import Materializer

# lineage strip cap: per-strip message counts ride the checkpoint job as
# observed metrics (one fixed-size conditional agg per strip, merged
# driver-side) — on a 10^4-partition cluster, folding partitions into
# <= 256 strips keeps the metric row and the codegen'd expression list
# bounded while preserving FOG's per-strip granularity (E15)
_LINEAGE_MAX_STRIPS = 256

# observed metrics arrive through the session's listener bus after the
# action that carried them finished; a wait this long means they never
# will (the observed frame was not part of that action's plan)
_OBSERVATION_TIMEOUT_S = 300.0


def shuffle_partitions(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` as an int; a value that is not one
    (e.g. "auto" on platforms that size shuffles themselves) falls back
    to the default parallelism."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def observed(obs: Observation, what: str) -> dict:
    """The metrics of ``obs`` once the action that carried them has
    finished. ``Observation.get`` blocks until the listener delivers them,
    with no limit; this waits on the JVM future up to
    ``_OBSERVATION_TIMEOUT_S`` and fails loudly instead of hanging."""
    jvm = obs._jvm
    limit = jvm.scala.concurrent.duration.FiniteDuration(
        int(_OBSERVATION_TIMEOUT_S * 1000), jvm.java.util.concurrent.TimeUnit.MILLISECONDS
    )
    try:
        jvm.scala.concurrent.Await.ready(obs._jo.future(), limit)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() != "java.util.concurrent.TimeoutException":
            raise
        raise TimeoutError(
            f"{what}: observed metrics not delivered within "
            f"{_OBSERVATION_TIMEOUT_S:g} s; the observed frame must be "
            "part of the checkpoint action's plan"
        ) from None
    return obs.get


def scatter_join(active_state: DataFrame, adj: DataFrame) -> DataFrame:
    """The shared scatter join: state rows meet their (salted) adjacency
    chunks. When the engine has expanded the state with ``_salt`` (one row
    per hub chunk, from the broadcast hub-salt map), the join carries BOTH
    keys, so the adjacency's pinned hash(src, salt) layout satisfies the
    join's distribution requirement — hub chunks are spread across
    partitions AND the adjacency is never re-shuffled. Without ``_salt``
    (engines/tests running unsalted) it degrades to the plain src join."""
    if "_salt" in active_state.columns:
        cond = (active_state["id"] == adj["src"]) & (
            active_state["_salt"] == adj["salt"]
        )
    else:
        cond = active_state["id"] == adj["src"]
    return active_state.join(adj, cond)


class Algorithm:
    """Vertex-program surface — the analog of FOG's compile-time template
    API ``init / scatter_one_edge / gather_one_update / after_iteration``
    (/root/reference/application/DEMO.hpp:48-138), as DataFrame transforms.

    Contract:
    - ``init_state(vertices, adj) -> (id, <state...>, _active:boolean)``
    - ``messages(active_state, adj) -> (dst, <msg...>)``
    - ``gather(msgs) -> (dst, <agg...>, _n_msgs:long)`` — one row per dst
    - ``apply(state, gathered) -> (id, <state...>, _active[, _delta])``
    - ``converged(iteration, stats) -> bool``
    """

    name: str = "abstract"
    direction: str = "out"  # "out" | "sym": which adjacency the scatter uses
    uses_frontier: bool = False  # TARGET-style (frontier) vs GLOBAL (all vids)
    include_self_loops: bool = True  # GLOBAL keeps them, TARGET drops them
    needs_weights: bool = False
    default_max_iters: int = 30
    # fixed-iteration GLOBAL algorithms never read the per-iteration
    # stats; skipping the agg saves one whole job per iteration (a pure
    # driver-side constant that otherwise caps strong scaling)
    needs_stats: bool = True

    def init_state(self, vertices: DataFrame, adj: DataFrame) -> DataFrame:
        raise NotImplementedError

    def messages(self, active_state: DataFrame, adj: DataFrame) -> DataFrame:
        raise NotImplementedError

    def gather(self, msgs: DataFrame) -> DataFrame:
        raise NotImplementedError

    def apply(self, state: DataFrame, gathered: DataFrame) -> DataFrame:
        raise NotImplementedError

    def converged(self, iteration: int, stats: dict[str, Any]) -> bool:
        if self.uses_frontier:
            return stats["active_count"] == 0
        return False

    def extra_stats(self) -> dict[str, Any]:
        """Extra aggregate Columns (name -> Column over state rows) the
        engine folds into its per-iteration stats. Lets an algorithm read
        a global scalar (e.g. PageRank's dangling mass) without issuing
        its OWN blocking aggregation job inside apply(): the stats are
        metrics observed on the new state, gathered by the iteration's
        checkpoint job, so riding along is free."""
        return {}

    def set_stats(self, stats: dict[str, Any]) -> None:
        """Called by the engine after every iteration's checkpoint (and
        once on the init/resume state when extra_stats() is non-empty),
        BEFORE the next iteration's plans are built — apply() may fold
        these values in as literals."""
        return None


@dataclass
class RunResult:
    state: DataFrame
    run_id: str
    iterations: int
    converged: bool
    history: list[dict] = field(default_factory=list)


class ScatterGatherEngine:
    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 1,
        hub_cap: int | None = G.DEFAULT_HUB_CAP,
        broadcast_frontier_max: int = 1_000_000,
        collect_lineage: bool = True,
    ):
        self.spark = spark
        self.mat = Materializer(spark)
        # checkpoint_dir 'iceberg://<catalog>' routes to the Iceberg
        # store when the runtime jar + catalog exist (checkpoint.py)
        self.store = make_checkpoint_store(spark, checkpoint_dir)
        self.checkpoint_every = checkpoint_every
        self.hub_cap = hub_cap
        self.broadcast_frontier_max = broadcast_frontier_max
        self.collect_lineage = collect_lineage and self.store is not None

    # ------------------------------------------------------------ setup
    def _prepare_adjacency(self, algo: Algorithm, edges: DataFrame) -> DataFrame:
        e = G.normalize_edges(edges)
        if algo.direction == "sym":
            e = G.symmetrize(e)  # drops self-loops (TARGET semantics)
        elif not algo.include_self_loops:
            e = e.where(F.col("src") != F.col("dst"))
        adj = G.build_adjacency(e, hub_cap=self.hub_cap, with_weights=algo.needs_weights)
        # Pin the physical layout once so every iteration's scatter join
        # reuses this exchange (the resident CSR analog — FOG mmaps .edge
        # once, index_vert_array.cpp:31-73). With hubs present the pin key
        # is the FULL scatter-join key (src, salt): hub chunks land on
        # different partitions AND the join still needs no adjacency
        # exchange, because the engine expands the state side with the
        # matching per-row salt (hub spreading replaces FOG's work
        # stealing, fog_engine.cpp:819-1011). Without hubs the pin key
        # must be src alone — a constant state-side salt would be
        # constant-folded out of the join keys, leaving a src-only join
        # that hash(src, salt) does not satisfy, re-shuffling the
        # adjacency every iteration.
        hub_salts = self._hub_salts(e) if self.hub_cap is not None else None
        n = shuffle_partitions(self.spark)
        # pin keys derive from hub_salts itself, never from the degree
        # check alone: a degree-hub whose duplicate dsts collapse into a
        # single salt chunk has no expansion row, and pinning such an
        # adjacency by (src, salt) against a src-only join would
        # re-shuffle it every iteration
        keys = ["src", "salt"] if hub_salts is not None else ["src"]
        adj = adj.repartition(n, *keys).sortWithinPartitions(*keys).persist()
        # Materialize the cache NOW, as its own job: left lazy, the
        # InMemoryRelation's RDD would first materialize inside iteration
        # 1's checkpoint job, and (before the Materializer's exact-id
        # tagging) be mis-tagged as iteration state — but eager build is
        # right regardless: iteration walls measure iterations, not the
        # one-off CSR build (FOG builds its .edge files in convert, not
        # inside the engine loop — README.txt:41-58).
        adj.count()
        return adj, hub_salts

    def _hub_salts(self, e: DataFrame) -> DataFrame | None:
        """(id, _salts) for hub sources only — the chunks each state row
        must be replicated to. Computed from the edge table (one scan
        joined against the broadcast hub-degree dim — cheap next to the
        adjacency's collect_list shuffle, which would otherwise run twice
        at setup) with graph.salt_expr, the SAME formula build_adjacency
        uses, so map and chunk placement can never disagree. Hubs are
        rare by construction (outdeg > hub_cap), so this is a small
        broadcastable dim, materialized once.

        The filter keeps every src whose salt set is not exactly {0}: a
        degree-hub whose (possibly duplicate) dsts all hash into one
        NONZERO salt has a single chunk the default _salt=0 expansion
        would never join — dropping it here silently loses all of that
        hub's messages."""
        if self.hub_cap is None:
            return None
        hub_deg = G.out_degrees(e).where(F.col("outdeg") > self.hub_cap)
        hub_deg = self.mat.checkpoint(hub_deg)
        if hub_deg.isEmpty():
            self.mat.free(hub_deg)
            return None
        hubs = (
            e.join(
                F.broadcast(hub_deg.withColumnRenamed("id", "src")), "src"
            )
            .select(
                F.col("src").alias("id"),
                G.salt_expr(F.col("outdeg"), F.col("dst"), self.hub_cap).alias("_s"),
            )
            .groupBy("id")
            .agg(F.collect_set("_s").alias("_salts"))
            .where((F.size("_salts") > 1) | (F.element_at("_salts", 1) != 0))
        )
        hubs = self.mat.checkpoint(hubs)
        self.mat.free(hub_deg)
        if hubs.isEmpty():
            self.mat.free(hubs)
            return None
        return hubs

    @staticmethod
    def _expand_salts(state: DataFrame, hub_salts: DataFrame | None) -> DataFrame:
        """One state row per adjacency chunk: hubs fan out to their salt
        set (broadcast join + explode), everything else gets salt 0. With
        no hubs the state passes through untouched and the scatter join
        stays a plain src join against the src-pinned adjacency."""
        if hub_salts is None:
            return state
        return (
            state.join(F.broadcast(hub_salts), "id", "left")
            .withColumn(
                "_salt",
                F.explode(
                    F.coalesce("_salts", F.array(F.lit(0).cast("int")))
                ),
            )
            .drop("_salts")
        )

    # ------------------------------------------------------------- run
    def run(
        self,
        algo: Algorithm,
        edges: DataFrame,
        max_iters: int | None = None,
        run_id: str | None = None,
        resume: bool = True,
        vertices: DataFrame | None = None,
    ) -> RunResult:
        max_iters = max_iters or algo.default_max_iters
        run_id = run_id or f"{algo.name}-{uuid.uuid4().hex[:8]}"
        # a frontier algorithm converges on active_count == 0; opting out
        # of stats would make converged() compare None == 0 forever
        assert not (algo.uses_frontier and not algo.needs_stats), (
            f"{algo.name}: uses_frontier requires needs_stats"
        )

        # Auto-broadcast is poison inside the iteration loop: every
        # iteration is a fresh plan, so AQE re-serializes and re-ships the
        # whole adjacency (~persisted CSR) whenever its estimate dips under
        # the threshold — measured 2.7x slower end-to-end at 3.5M edges.
        # Joins we *want* broadcast (the shrinking frontier) get an
        # explicit broadcast() hint below; everything else should stay a
        # co-partitioned shuffle join against the pinned adjacency layout.
        conf = self.spark.conf
        saved = {
            k: conf.get(k, None)
            for k in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.autoBroadcastJoinThreshold",
            )
        }
        for k in saved:
            conf.set(k, "-1")
        try:
            return self._run_inner(algo, edges, max_iters, run_id, resume, vertices)
        finally:
            for k, v in saved.items():
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)

    def _run_inner(
        self,
        algo: Algorithm,
        edges: DataFrame,
        max_iters: int,
        run_id: str,
        resume: bool,
        vertices: DataFrame | None,
    ) -> RunResult:
        # resume check FIRST: a run whose checkpoint is already converged
        # must short-circuit before the adjacency build (the collect_list
        # shuffle — the most expensive setup job — is eagerly materialized
        # in _prepare_adjacency and would be paid for nothing)
        resumed = None
        if resume and self.store is not None:
            latest = self.store.latest_complete(run_id, algo.name)
            if latest is not None:
                meta = self.store.read_meta(run_id, algo.name, latest)
                if meta.get("converged"):
                    state = self.store.read_state(run_id, algo.name, latest)
                    return RunResult(
                        state, run_id, latest, True, meta.get("history", [])
                    )
                resumed = (latest, meta)

        adj, hub_salts = self._prepare_adjacency(algo, edges)
        # static per-strip edge counts (the lineage edge_count field —
        # FOG's per-strip edge metric): one job, reused every iteration.
        # strip = partition_id % n_strips; below the cap (always, in
        # local mode) strips ARE partitions.
        n_strips = min(shuffle_partitions(self.spark), _LINEAGE_MAX_STRIPS)
        adj_edge_counts: dict[int, int] = {}
        if self.collect_lineage:
            for r in (
                adj.groupBy(F.spark_partition_id().alias("pid"))
                .agg(F.sum(F.size("dsts")).alias("ec"))
                .collect()
            ):
                s = int(r["pid"]) % n_strips
                adj_edge_counts[s] = adj_edge_counts.get(s, 0) + int(r["ec"])
        if vertices is None:
            vertices = G.vertex_ids(edges)
        else:
            vertices = vertices.select(F.col("id").cast("long").alias("id"))

        history: list[dict] = []
        start_iter = 1
        # prime the algorithm's global scalars from the init/resume state;
        # later iterations refresh them through set_stats below
        prime = algo.needs_stats and bool(algo.extra_stats())
        if resumed is not None:
            latest, meta = resumed
            state = self.store.read_state(run_id, algo.name, latest)
            history = meta.get("history", [])
            start_iter = latest + 1
            if prime:
                # one aggregation job per resumed run
                row = state.agg(*self._stats_aggs(state, algo)).collect()[0]
                algo.set_stats(self._stats(row.asDict(), algo))
        else:
            state = algo.init_state(vertices, adj)
            if prime:
                # rides the init-state checkpoint
                state, init_obs = self._observe_stats(state, algo)
            if self.store is not None:
                state = self.store.write_state(run_id, algo.name, 0, state, {"history": []})
            else:
                state = self.mat.checkpoint(state)
            if prime:
                algo.set_stats(self._stats(observed(init_obs, f"{algo.name} init stats"), algo))

        prev_active = None
        converged = False
        it = start_iter - 1
        for it in range(start_iter, max_iters + 1):
            t0 = time.monotonic()
            # One shared isnotnull(id) filter for BOTH state consumers
            # (the scatter join and the apply join): the scatter side's
            # inner join pushes an isnotnull filter into its exchange
            # subtree while the apply side's left-outer does not, so the
            # two per-iteration state exchanges canonicalize differently
            # and AQE's exchange reuse can never fire — the state was
            # measured shuffling TWICE per iteration. With the filter on
            # both sides the subtrees are identical and one exchange is a
            # ReusedExchange (ids are never null; the filter is a no-op).
            base = state.where(F.col("id").isNotNull())
            active = base.where(F.col("_active")) if algo.uses_frontier else base
            active = self._expand_salts(active, hub_salts)
            if (
                algo.uses_frontier
                and prev_active is not None
                and prev_active <= self.broadcast_frontier_max
            ):
                active = F.broadcast(active)

            msgs = algo.messages(active, adj)

            total_msgs = 0
            if self.collect_lineage:
                # lineage measures SCATTER-side (map) strip counts — the
                # strip metric FOG records and the one hub salting
                # balances. Observed metrics ride the checkpoint job's
                # single pass over msgs (CollectMetricsExec accumulators,
                # merged driver-side): no persist of an edge-sized frame,
                # no second compute of the scatter join. Safe because
                # every algo's gather consumes msgs exactly once. Caveat:
                # this node sits in a shuffle-map stage, so a retried
                # stage re-runs its tasks and the counts can come out
                # doubled; the stats below observe the result stage.
                msg_obs = Observation()
                strip = F.pmod(F.spark_partition_id(), F.lit(n_strips))
                exprs = [F.count(F.lit(1)).alias("_mc_total")] + [
                    F.count_if(strip == i).alias(f"_mc_{i}")
                    for i in range(n_strips)
                ]
                msgs = msgs.observe(msg_obs, *exprs)

            gathered = algo.gather(msgs)
            new_state = algo.apply(base, gathered.drop("_n_msgs"))
            if algo.needs_stats:
                # the observe node is the plan's root, so the checkpoint
                # job's result stage gathers the stats: no stats job
                new_state, stats_obs = self._observe_stats(new_state, algo)

            durable = (
                self.store is not None
                and (it % self.checkpoint_every == 0 or it == max_iters)
            )
            # Materialize every iteration: an eager localCheckpoint both
            # truncates the logical plan (per-iteration analysis stays
            # O(1) — a persist chain re-analyzes the whole history and a
            # raw chain recomputes ancestors exponentially, both measured
            # slower) and caches the state (MEMORY_AND_DISK, spillable).
            # The previous iteration's blocks are reclaimed through the
            # Materializer (plain DataFrame.unpersist is a no-op for
            # checkpoint-backed frames — leaked copies were measured to
            # cost 5x throughput by iteration ~5 via eviction/recompute).
            prev_state = state
            if durable:
                new_state = self.store.write_state(run_id, algo.name, it, new_state, {})
            else:
                new_state = self.mat.checkpoint(new_state)
            self.mat.free(prev_state)
            parts: list[tuple[int, int]] = []
            if self.collect_lineage:
                vals = observed(msg_obs, f"{algo.name} iteration {it} lineage")
                total_msgs = int(vals["_mc_total"] or 0)
                parts = [
                    (i, int(vals[f"_mc_{i}"]))
                    for i in range(n_strips)
                    if vals[f"_mc_{i}"]
                ]
            if algo.needs_stats:
                stats = self._stats(observed(stats_obs, f"{algo.name} iteration {it} stats"), algo)
                algo.set_stats(stats)
            else:
                stats = {"vertex_count": None, "active_count": None, "max_delta": None}

            stats.update(
                iteration=it,
                messages=total_msgs,
                wall_time_ms=int((time.monotonic() - t0) * 1000),
            )
            history.append(stats)
            prev_active = stats["active_count"]
            converged = algo.converged(it, stats)

            if self.collect_lineage:
                wall = stats["wall_time_ms"]
                self.store.append_lineage([
                    (
                        run_id,
                        algo.name,
                        it,
                        pid,
                        adj_edge_counts.get(pid, 0),
                        mc,
                        wall,
                    )
                    for pid, mc in parts
                ])

            if durable and self.store is not None:
                self._write_meta(algo, run_id, it, history, converged)
            if converged:
                if not durable and self.store is not None:
                    tmp = new_state
                    new_state = self.store.write_state(run_id, algo.name, it, new_state, {})
                    self._write_meta(algo, run_id, it, history, True)
                    self.mat.free(tmp)
                state = new_state
                break
            state = new_state

        adj.unpersist()
        if hub_salts is not None:
            self.mat.free(hub_salts)
        return RunResult(state, run_id, it, converged, history)

    # --------------------------------------------------------- helpers

    def _write_meta(self, algo, run_id, it, history, converged: bool) -> None:
        # store-agnostic: parquet overwrites _meta.json, Iceberg replaces
        # the meta row (reaching into the parquet store's _iter_dir here
        # crashed every iceberg:// run with AttributeError)
        self.store.write_meta(
            run_id, algo.name, it, {"converged": converged, "history": history}
        )

    @staticmethod
    def _stats_aggs(state: DataFrame, algo: Algorithm) -> list:
        aggs = [F.count(F.lit(1)).alias("n"), F.sum(F.col("_active").cast("long")).alias("na")]
        if "_delta" in state.columns:
            aggs.append(F.max("_delta").alias("md"))
        for name, col in algo.extra_stats().items():
            aggs.append(col.alias(f"_x_{name}"))
        return aggs

    def _observe_stats(self, state: DataFrame, algo: Algorithm) -> tuple[DataFrame, Observation]:
        """``state`` with the convergence stats observed at its root; the
        next action over it gathers them."""
        obs = Observation()
        return state.observe(obs, *self._stats_aggs(state, algo)), obs

    @staticmethod
    def _stats(vals: dict[str, Any], algo: Algorithm) -> dict[str, Any]:
        """The stats dict from the values of :meth:`_stats_aggs`."""
        out = {
            "vertex_count": int(vals["n"]),
            "active_count": int(vals["na"] or 0),
            "max_delta": float(vals["md"]) if vals.get("md") is not None else None,
        }
        for name in algo.extra_stats():
            out[name] = vals[f"_x_{name}"]
        return out
