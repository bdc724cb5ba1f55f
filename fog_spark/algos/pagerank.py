"""PageRank, two variants.

**FogPageRank** reproduces the reference recurrence EXACTLY
(/root/reference/application/pagerank.hpp:37-94, scatter at
fogsrc/cpu_thread.cpp:474-484):

    rank_0(v) = 1.0
    rank_t(v) = rank_{t-1}(v) + sum_{u->v} (0.85 * rank_{t-1}(u)/outdeg(u) + 0.15)

Nonstandard on purpose: no damping reset, the (1-d) term is added per
in-edge, ranks grow monotonically; vertices with outdeg==0 emit nothing;
self-loops DO contribute (GLOBAL engine keeps them). Runs a fixed number
of iterations (default 10, --pagerank::niters). This is the 1e-6
correctness target.

**StandardPageRank** is the benchmark variant (BASELINE.json metric):
damped + dangling-mass redistribution, stops when max per-vertex delta
< tol (default 1e-6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fog_spark.plans.engine import Algorithm, scatter_join


class FogPageRank(Algorithm):
    direction = "out"
    include_self_loops = True
    uses_frontier = False
    needs_stats = False  # fixed niters; converged() never reads stats

    def __init__(self, niters: int = 10, damping: float = 0.85):
        self.name = "fog_pagerank"
        self.niters = niters
        self.d = damping
        self.default_max_iters = niters

    def init_state(self, vertices: DataFrame, adj: DataFrame) -> DataFrame:
        return vertices.select(
            "id", F.lit(1.0).alias("rank"), F.lit(True).alias("_active")
        )

    def messages(self, active_state: DataFrame, adj: DataFrame) -> DataFrame:
        contrib = self.d * F.col("rank") / F.col("outdeg") + (1.0 - self.d)
        return (
            scatter_join(active_state, adj)
            .select(F.explode("dsts").alias("dst"), contrib.alias("contrib"))
        )

    def gather(self, msgs: DataFrame) -> DataFrame:
        return msgs.groupBy("dst").agg(
            F.sum("contrib").alias("_sum"), F.count("*").alias("_n_msgs")
        )

    def apply(self, state: DataFrame, gathered: DataFrame) -> DataFrame:
        return (
            state.join(gathered, state["id"] == gathered["dst"], "left")
            .select(
                state["id"],
                (F.col("rank") + F.coalesce(F.col("_sum"), F.lit(0.0))).alias("rank"),
                F.lit(True).alias("_active"),
            )
        )

    def converged(self, iteration: int, stats) -> bool:
        # fixed-iteration algorithm: the engine's max_iters is the stop
        # (pagerank.hpp:87-94). Never flag "converged" so a checkpointed
        # run can later be resumed to a higher iteration count.
        return False


class FogPageRankMilli(Algorithm):
    """Integer-arithmetic twin of FogPageRank for cross-engine exactness:

        rank_0 = 1_000_000 (milli-units x1000)
        contrib(u) = (850 * rank(u)) div (1000 * outdeg(u)) + 150_000
        rank_t(v) = rank_{t-1}(v) + sum_{u->v} contrib(u)

    Pure long arithmetic -> results are hash-exact against any engine
    implementing the same recurrence (the driver's DuckDB oracle runs it
    as 10 chained CTEs). Float FogPageRank is the 1e-6 target; this one
    is the == target.
    """

    direction = "out"
    include_self_loops = True
    uses_frontier = False
    needs_stats = False  # fixed niters; converged() never reads stats

    def __init__(self, niters: int = 10):
        self.name = "fog_pagerank_milli"
        self.niters = niters
        self.default_max_iters = niters

    def init_state(self, vertices: DataFrame, adj: DataFrame) -> DataFrame:
        return vertices.select(
            "id", F.lit(1_000_000).cast("long").alias("rank_milli"), F.lit(True).alias("_active")
        )

    def messages(self, active_state: DataFrame, adj: DataFrame) -> DataFrame:
        contrib = F.expr("(850 * rank_milli) div (1000 * outdeg) + 150000")
        return (
            scatter_join(active_state, adj)
            .select(F.explode("dsts").alias("dst"), contrib.alias("contrib"))
        )

    def gather(self, msgs: DataFrame) -> DataFrame:
        return msgs.groupBy("dst").agg(
            F.sum("contrib").alias("_sum"), F.count("*").alias("_n_msgs")
        )

    def apply(self, state: DataFrame, gathered: DataFrame) -> DataFrame:
        return (
            state.join(gathered, state["id"] == gathered["dst"], "left")
            .select(
                state["id"],
                (F.col("rank_milli") + F.coalesce(F.col("_sum"), F.lit(0))).alias("rank_milli"),
                F.lit(True).alias("_active"),
            )
        )

    def converged(self, iteration: int, stats) -> bool:
        return False


class PPRMilli(Algorithm):
    """Personalized PageRank, integer-milli twin: the damped power
    iteration with the teleport vector concentrated at one seed
    (replace-style, unlike FogPageRank's accumulate recurrence —
    accumulate-style seeded diffusion GROWS downstream and does not rank
    by proximity):

        rank_0(v)  = 1_000_000 if v == seed else 0
        contrib(u) = (850 * rank(u)) div (1000 * outdeg(u))
        rank_t(v)  = sum_{u->v} contrib(u) + (150_000 if v == seed else 0)

    Pure long arithmetic -> hash-exact against the driver's unrolled
    DuckDB CTE oracle. Mass decays 0.85 per hop from the seed, so the
    score ranks vertices by seed proximity — the personalization shape —
    while staying bit-stable across engines. Vertices unreachable from
    the seed score exactly 0.
    """

    direction = "out"
    include_self_loops = True
    uses_frontier = False
    needs_stats = False

    def __init__(self, seed: int = 0, niters: int = 8):
        self.name = "ppr_milli"
        self.seed = seed
        self.niters = niters
        self.default_max_iters = niters

    def init_state(self, vertices: DataFrame, adj: DataFrame) -> DataFrame:
        return vertices.select(
            "id",
            F.when(F.col("id") == self.seed, F.lit(1_000_000))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("rank_milli"),
            F.lit(True).alias("_active"),
        )

    def messages(self, active_state: DataFrame, adj: DataFrame) -> DataFrame:
        contrib = F.expr("(850 * rank_milli) div (1000 * outdeg)")
        return (
            scatter_join(active_state, adj)
            .select(F.explode("dsts").alias("dst"), contrib.alias("contrib"))
        )

    def gather(self, msgs: DataFrame) -> DataFrame:
        return msgs.groupBy("dst").agg(
            F.sum("contrib").alias("_sum"), F.count("*").alias("_n_msgs")
        )

    def apply(self, state: DataFrame, gathered: DataFrame) -> DataFrame:
        seed_boost = F.when(state["id"] == self.seed, F.lit(150_000)).otherwise(F.lit(0))
        return (
            state.join(gathered, state["id"] == gathered["dst"], "left")
            .select(
                state["id"],
                (F.coalesce(F.col("_sum"), F.lit(0)) + seed_boost)
                .cast("long")
                .alias("rank_milli"),
                F.lit(True).alias("_active"),
            )
        )

    def converged(self, iteration: int, stats) -> bool:
        return False


class StandardPageRank(Algorithm):
    direction = "out"
    include_self_loops = True
    uses_frontier = False

    def __init__(self, damping: float = 0.85, tol: float = 1e-6, max_iters: int = 100):
        self.name = "pagerank"
        self.d = damping
        self.tol = tol
        self.default_max_iters = max_iters
        self._n: int | None = None
        self._dm: float | None = None

    def init_state(self, vertices: DataFrame, adj: DataFrame) -> DataFrame:
        # rank_0 = 1/N via a window-free scalar-subquery count — the
        # engine's stats on the init state then prime self._n / self._dm
        # before iteration 1, so no driver count() happens here
        n_total = vertices.select(F.count("*").alias("_nv"))
        srcs = adj.select(F.col("src").alias("id")).distinct()
        return (
            vertices.join(srcs.withColumn("_has_out", F.lit(True)), "id", "left")
            .crossJoin(F.broadcast(n_total))
            .select(
                "id",
                (F.lit(1.0) / F.col("_nv")).alias("rank"),
                F.coalesce(F.col("_has_out"), F.lit(False)).alias("has_out"),
                F.lit(True).alias("_active"),
            )
        )

    def messages(self, active_state: DataFrame, adj: DataFrame) -> DataFrame:
        return (
            scatter_join(active_state, adj)
            .select(
                F.explode("dsts").alias("dst"),
                (F.col("rank") / F.col("outdeg")).alias("contrib"),
            )
        )

    def gather(self, msgs: DataFrame) -> DataFrame:
        return msgs.groupBy("dst").agg(
            F.sum("contrib").alias("_sum"), F.count("*").alias("_n_msgs")
        )

    def extra_stats(self):
        # dangling mass (ranks with no out-edges, redistributed uniformly
        # next iteration) rides the engine's per-iteration stats, which
        # the checkpoint job gathers — no aggregation job of its own. The
        # engine also primes it from the init/RESUME state, so a
        # checkpointed run resumes correctly with no driver-held state.
        return {
            "dangling_mass": F.coalesce(
                F.sum(F.when(~F.col("has_out"), F.col("rank"))), F.lit(0.0)
            )
        }

    def set_stats(self, stats) -> None:
        self._n = stats["vertex_count"]
        self._dm = float(stats["dangling_mass"])

    def apply(self, state: DataFrame, gathered: DataFrame) -> DataFrame:
        # _n/_dm are exact driver scalars from the previous iteration's stats —
        # folded in as literals, the apply plan is a single join+project
        # with no scalar-aggregate subtree (measured: one fewer blocking
        # job per iteration on the headline convergence benchmark).
        base = (1.0 - self.d) / self._n + self.d * self._dm / self._n
        new_rank = F.lit(base) + self.d * F.coalesce(F.col("_sum"), F.lit(0.0))
        return (
            state.join(gathered, state["id"] == gathered["dst"], "left")
            .select(
                state["id"],
                new_rank.alias("rank"),
                "has_out",
                F.lit(True).alias("_active"),
                F.abs(new_rank - F.col("rank")).alias("_delta"),
            )
        )

    def converged(self, iteration: int, stats) -> bool:
        md = stats.get("max_delta")
        return md is not None and md < self.tol


class WeightedPageRankMilli(Algorithm):
    """Weight-proportional integer twin of FogPageRankMilli: rank flows
    along out-edges in proportion to edge weight instead of uniformly —

        contrib(u, e) = (850 * rank(u) * wm_e) div (1000 * swm(u)) + 150_000
        rank_t(v)     = rank_{t-1}(v) + sum_{e: u->v} contrib(u, e)

    with wm_e = round(weight_e * 1000) (the deterministic weight rule is
    milli-exact, so round() recovers the integer both engines agree on —
    a bare cast could land one below after float division artifacts) and
    swm(u) = sum of wm over u's out-edges. The per-edge floor division
    is part of the query contract; pure long arithmetic, hash-exact
    cross-engine. swm is aggregated across ADJACENCY ROWS at init so
    salted hub splits (multiple rows per src) still see the full
    denominator — the same reason FogPageRankMilli reads outdeg from the
    adjacency rather than sizing the dsts array.
    """

    direction = "out"
    include_self_loops = True
    uses_frontier = False
    needs_stats = False
    needs_weights = True

    def __init__(self, niters: int = 8):
        self.name = "weighted_pagerank_milli"
        self.niters = niters
        self.default_max_iters = niters

    def init_state(self, vertices: DataFrame, adj: DataFrame) -> DataFrame:
        bucket = F.aggregate(
            "weights",
            F.lit(0).cast("long"),
            lambda acc, w: acc + F.round(w * 1000).cast("long"),
        )
        swm = (
            adj.select(F.col("src").alias("id"), bucket.alias("_bw"))
            .groupBy("id")
            .agg(F.sum("_bw").alias("swm"))
        )
        return vertices.join(swm, "id", "left").select(
            "id",
            F.lit(1_000_000).cast("long").alias("rank_milli"),
            F.coalesce("swm", F.lit(0)).cast("long").alias("swm"),
            F.lit(True).alias("_active"),
        )

    def messages(self, active_state: DataFrame, adj: DataFrame) -> DataFrame:
        return (
            scatter_join(active_state, adj)
            .select(
                "rank_milli",
                "swm",
                F.explode(F.arrays_zip("dsts", "weights")).alias("_z"),
            )
            .select(
                F.col("_z.dsts").alias("dst"),
                F.expr(
                    "(850 * rank_milli * CAST(round(_z.weights * 1000) AS BIGINT))"
                    " div (1000 * swm) + 150000"
                ).alias("contrib"),
            )
        )

    def gather(self, msgs: DataFrame) -> DataFrame:
        return msgs.groupBy("dst").agg(
            F.sum("contrib").alias("_sum"), F.count("*").alias("_n_msgs")
        )

    def apply(self, state: DataFrame, gathered: DataFrame) -> DataFrame:
        return (
            state.join(gathered, state["id"] == gathered["dst"], "left")
            .select(
                state["id"],
                (F.col("rank_milli") + F.coalesce(F.col("_sum"), F.lit(0))).alias(
                    "rank_milli"
                ),
                F.col("swm"),
                F.lit(True).alias("_active"),
            )
        )

    def converged(self, iteration: int, stats) -> bool:
        return False


class TrustRankMilli(PPRMilli):
    """TrustRank (Gyongyi, Garcia-Molina, Pedersen, VLDB 2004):
    personalized PageRank whose teleport vector is a curated SEED SET of
    trusted vertices instead of one seed — the classic web-spam /
    crawl-trust signal (host-level seeds in practice). Exact integer
    generalization of :class:`PPRMilli`: total teleport mass is split
    evenly, each seed getting ``1_000_000 div k`` initial and
    ``150_000 div k`` per-iteration mass (div truncation keeps every
    intermediate a deterministic BIGINT on any engine). Single-seed
    TrustRank is bit-identical to PPRMilli.

    Seeds are carried as a broadcast literal predicate (``isin``) — the
    whitelist shape: hand-curated, thousands at most. A DataFrame-sized
    seed set would want a join instead; out of scope here.
    """

    def __init__(self, seeds: list[int] | tuple[int, ...] = (0,), niters: int = 8):
        if not seeds:
            raise ValueError("seeds must be non-empty")
        super().__init__(seed=None, niters=niters)
        self.name = "trustrank_milli"
        # dedupe, order-preserving: isin() matches a vertex once however
        # often it is listed, so duplicates would silently shrink the
        # total teleport mass below the documented 1_000_000
        self.seeds = list(dict.fromkeys(int(s) for s in seeds))
        self._k = len(self.seeds)

    def _is_seed(self, col):
        return col.isin(self.seeds)

    def init_state(self, vertices: DataFrame, adj: DataFrame) -> DataFrame:
        return vertices.select(
            "id",
            F.when(self._is_seed(F.col("id")), F.lit(1_000_000 // self._k))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("rank_milli"),
            F.lit(True).alias("_active"),
        )

    def apply(self, state: DataFrame, gathered: DataFrame) -> DataFrame:
        boost = F.when(
            self._is_seed(state["id"]), F.lit(150_000 // self._k)
        ).otherwise(F.lit(0))
        return (
            state.join(gathered, state["id"] == gathered["dst"], "left")
            .select(
                state["id"],
                (F.coalesce(F.col("_sum"), F.lit(0)) + boost)
                .cast("long")
                .alias("rank_milli"),
                F.lit(True).alias("_active"),
            )
        )


class WarmStartPageRank(StandardPageRank):
    """Incremental PageRank: re-converge on an UPDATED edge table
    starting from the previous run's converged ranks instead of 1/N.

    The daily-crawl operation at 10^12-document scale: the graph gains
    and loses a small fraction of its edges between runs, and the
    PageRank fixpoint is unique for d < 1 (the Google matrix is a
    contraction with factor d), so iterating the NEW graph's recurrence
    from ANY probability vector converges to the new fixpoint — warm
    start changes only the distance to it. With ||r_old - r_new|| small
    (small edge delta), iterations-to-tol drop from log(1/tol)/log(1/d)
    to log(||delta||/tol)/log(1/d): a handful instead of dozens, saving
    (k_cold - k_warm) full edge-sized shuffle passes per refresh.

    Init joins the previous ranks onto the new vertex set (one
    vertex-sized shuffle, once): vertices new to the graph start at the
    cold 1/N, departed vertices drop out, and the mixed vector is
    renormalized to total mass 1 (StandardPageRank's dangling-mass
    algebra assumes a probability vector). Everything after init is
    bit-identical to StandardPageRank — same messages/gather/apply,
    same convergence contract, same checkpoint/resume path.
    """

    def __init__(
        self,
        prev_ranks: DataFrame,
        damping: float = 0.85,
        tol: float = 1e-6,
        max_iters: int = 100,
    ):
        super().__init__(damping=damping, tol=tol, max_iters=max_iters)
        self.name = "pagerank_warm"
        self._prev = prev_ranks.select("id", F.col("rank").alias("_prev_rank"))

    def init_state(self, vertices: DataFrame, adj: DataFrame) -> DataFrame:
        n_total = vertices.select(F.count("*").alias("_nv"))
        srcs = adj.select(F.col("src").alias("id")).distinct()
        mixed = (
            vertices.join(srcs.withColumn("_has_out", F.lit(True)), "id", "left")
            .join(self._prev, "id", "left")
            .crossJoin(F.broadcast(n_total))
            .select(
                "id",
                F.coalesce("_prev_rank", F.lit(1.0) / F.col("_nv")).alias("rank"),
                F.coalesce(F.col("_has_out"), F.lit(False)).alias("has_out"),
            )
        )
        mass = mixed.select(F.sum("rank").alias("_mass"))
        return mixed.crossJoin(F.broadcast(mass)).select(
            "id",
            (F.col("rank") / F.col("_mass")).alias("rank"),
            "has_out",
            F.lit(True).alias("_active"),
        )
