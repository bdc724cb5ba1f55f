"""HyperBall: HyperLogLog neighborhood-function estimation, integer-exact.

The real web-scale neighborhood-function / effective-diameter algorithm
(Boldi & Vigna, "In-Core Computation of Geometric Centralities with
HyperBall", 2013; HLL from Flajolet et al. 2007): every vertex keeps an
m-register HLL sketch of its in-ball ("who reaches me"), one round
merges each vertex's sketch into its out-neighbors' (register-wise max),
and ``|ball(v, r)|`` is estimated from the registers. Complements
``algos.reach`` (exact 64-bit anchor masks): the anchor variant is the
small-sample exact path, this is the all-vertices estimated path.

Determinism + cross-engine checkability (which published HLLs lack):
the registers are pure hash functions of the vertex id —

    h   = H48(id)            (md5 family: first 12 hex chars of md5(str(id));
                              xxhash64 family: pmod(xxhash64(id), 2^48))
    reg = h mod m            (register index, m = 2^b registers)
    w   = h div m            (remaining 48-b bits)
    rho = (48 - b + 1) - bitlen(w)   (leading-zero count + 1; bitlen(0)=0)

and every per-vertex output is the INTEGER

    sum2k(v) = sum_j 2^(RHO_MAX - M_j)     (RHO_MAX = 48 - b + 1)

i.e. the HLL harmonic denominator scaled by 2^RHO_MAX — exact in a
BIGINT (<= m * 2^RHO_MAX < 2^53 for m <= 64), so a SQL oracle unrolling
the same rounds hash-matches it bit-for-bit. The float estimate
``alpha_m * m^2 / (sum2k / 2^RHO_MAX)`` (with the standard linear-
counting small-range correction) is derived from it only at the edge of
the API (``hll_estimate``), never inside the iteration.

Scale shape: state is ``(id, regs: array<int>[m])``; SCATTER explodes
(dst, reg_idx, rho) message rows — m x edges, but max() is associative
so map-side partial aggregation collapses each partition to <= m rows
per distinct dst BEFORE the shuffle; GATHER is groupBy(dst, idx).max
then an m-bounded per-dst rebuild (collect over <= m rows — never
degree-bounded); APPLY is zip_with(max). Runs on the scatter-gather
engine: frontier (only changed sketches re-scatter), checkpoint,
lineage all apply.

Not in the reference (FOG's roadmap stops at graph algorithms,
/root/reference/TODO.list:16-21).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fog_spark.plans.engine import Algorithm, ScatterGatherEngine, scatter_join

_H48 = 1 << 48


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def _h48_col(hash_fn: str):
    if hash_fn == "md5":
        return F.conv(
            F.substring(F.md5(F.col("id").cast("string")), 1, 12), 16, 10
        ).cast("long")
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(F.col("id")), F.lit(_H48).cast("long"))
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


class HyperBall(Algorithm):
    direction = "out"
    include_self_loops = True  # merging a sketch into itself is a no-op
    uses_frontier = True
    needs_stats = True

    def __init__(
        self,
        m: int = 16,
        rounds: int = 8,
        hash_fn: str = "xxhash64",
        track_nf: bool = False,
    ):
        if m < 2 or m & (m - 1):
            raise ValueError("m must be a power of two >= 2")
        if m > 64:
            raise ValueError("m > 64 overflows the BIGINT sum2k contract")
        self.name = f"hyperball_{m}x{rounds}"
        self.m = m
        self.b = m.bit_length() - 1
        self.rho_max = 48 - self.b + 1
        self.hash_fn = hash_fn
        self.default_max_iters = rounds
        # track_nf: ride the neighborhood-function estimate on the
        # engine's per-iteration stats (extra_stats) — one run yields
        # N_est at EVERY radius prefix for free (the engine also primes
        # extra_stats on the init state, giving radius 0)
        self.track_nf = track_nf
        self.nf_history: list[float] = []

    def extra_stats(self):
        if not self.track_nf:
            return {}
        zeros = F.aggregate(
            "regs",
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.when(x == 0, 1).otherwise(0).cast("long"),
        )
        return {
            "nf_est": F.sum(
                hll_estimate(
                    self.m, self.rho_max,
                    sum2k=hll_sum2k(self.m, self.rho_max), zeros=zeros,
                )
            )
        }

    def set_stats(self, stats) -> None:
        if self.track_nf and stats.get("nf_est") is not None:
            self.nf_history.append(float(stats["nf_est"]))

    def init_state(self, vertices: DataFrame, adj: DataFrame) -> DataFrame:
        m, rho_max = self.m, self.rho_max
        h = _h48_col(self.hash_fn)
        # bitlen via base-2 string length (exact for w > 0); rho covers
        # w = 0 as rho_max since bitlen(0) := 0
        # h < 2^48 is exact in a double, so floor(h / m) == h div m
        w = F.floor(h / F.lit(m)).cast("long")
        bitlen = F.when(w == 0, F.lit(0)).otherwise(
            F.length(F.conv(w, 10, 2)).cast("int")
        )
        reg = F.pmod(h, F.lit(m)).cast("int")
        rho = (F.lit(rho_max) - bitlen).cast("int")
        return vertices.select(
            "id",
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda i: F.when(i == reg, rho).otherwise(F.lit(0).cast("int")),
            ).alias("regs"),
            F.lit(True).alias("_active"),
        )

    def messages(self, active_state: DataFrame, adj: DataFrame) -> DataFrame:
        # two chained generators (one per select): edges, then registers;
        # zero registers carry no information and are not shipped
        return (
            scatter_join(active_state, adj)
            .select(F.explode("dsts").alias("dst"), "regs")
            .select("dst", F.posexplode("regs").alias("_idx", "_rho"))
            .where(F.col("_rho") > 0)
        )

    def gather(self, msgs: DataFrame) -> DataFrame:
        m = self.m
        per_reg = msgs.groupBy("dst", "_idx").agg(
            F.max("_rho").alias("_mrho"), F.count("*").alias("_c")
        )
        # per-dst rebuild over <= m rows (register count, never degree)
        return per_reg.groupBy("dst").agg(
            F.map_from_entries(F.collect_list(F.struct("_idx", "_mrho"))).alias(
                "_rmap"
            ),
            F.sum("_c").alias("_n_msgs"),
        ).select(
            "dst",
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("_rmap"), i), F.lit(0).cast("int")
                ),
            ).alias("_gregs"),
            "_n_msgs",
        )

    def apply(self, state: DataFrame, gathered: DataFrame) -> DataFrame:
        merged = F.when(
            F.col("_gregs").isNull(), state["regs"]
        ).otherwise(
            F.zip_with(state["regs"], F.col("_gregs"), lambda x, y: F.greatest(x, y))
        )
        return (
            state.join(gathered, state["id"] == gathered["dst"], "left")
            .select(
                state["id"],
                merged.alias("regs"),
                (merged != state["regs"]).alias("_active"),
            )
        )


def hll_sum2k(m: int, rho_max: int, regs=None):
    """Column: the exact integer sum_j 2^(rho_max - M_j) over ``regs``."""
    regs = F.col("regs") if regs is None else regs
    # SQL shiftleft accepts a column bit count; the Python wrapper only
    # takes an int, so go through call_function
    return F.aggregate(
        regs,
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.call_function(
            "shiftleft", F.lit(1).cast("long"), F.lit(rho_max) - x
        ),
    )


def hyperball_sketches(
    edges: DataFrame,
    m: int = 16,
    rounds: int = 8,
    hash_fn: str = "xxhash64",
    engine: ScatterGatherEngine | None = None,
) -> DataFrame:
    """``(id, sum2k, zeros)`` after ``rounds`` merge rounds — the exact
    integer HLL denominator (scaled by 2^RHO_MAX) and the count of empty
    registers of each vertex's in-ball sketch. Bounded rounds are part
    of the query contract, mirrored by the unrolled SQL oracle."""
    algo = HyperBall(m=m, rounds=rounds, hash_fn=hash_fn)
    eng = engine or ScatterGatherEngine(
        edges.sparkSession, checkpoint_dir=None, collect_lineage=False
    )
    res = eng.run(algo, edges)
    return res.state.select(
        "id",
        hll_sum2k(m, algo.rho_max).alias("sum2k"),
        F.aggregate(
            "regs",
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.when(x == 0, 1).otherwise(0).cast("long"),
        ).alias("zeros"),
    )


def hll_estimate(m: int, rho_max: int, sum2k=None, zeros=None):
    """Column: the HLL cardinality estimate from the exact sketch columns
    (alpha_m * m^2 * 2^rho_max / sum2k, linear counting below 2.5m)."""
    sum2k = F.col("sum2k") if sum2k is None else sum2k
    zeros = F.col("zeros") if zeros is None else zeros
    raw = F.lit(_alpha(m) * m * m * float(1 << rho_max)) / sum2k.cast("double")
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    return F.when((raw <= 2.5 * m) & (zeros > 0), lc).otherwise(raw)


def neighborhood_function(
    edges: DataFrame,
    m: int = 16,
    rounds: int = 8,
    hash_fn: str = "xxhash64",
    engine: ScatterGatherEngine | None = None,
) -> list[tuple[int, float]]:
    """[(r, N_est(r))] for r = 0..rounds — the estimated number of
    (u, v) pairs with dist(u -> v) <= r, summed over per-vertex in-ball
    estimates. Driver-side list: one float per round, not per vertex.

    ONE engine run (HyperBall naturally yields every radius prefix):
    the per-radius estimate rides the engine's per-iteration stats via
    extra_stats — no extra jobs, no O(rounds^2) re-runs.
    If the sketch fixpoint converges before ``rounds``, the remaining
    radii repeat the converged estimate (the ball stopped growing)."""
    algo = HyperBall(m=m, rounds=rounds, hash_fn=hash_fn, track_nf=True)
    eng = engine or ScatterGatherEngine(
        edges.sparkSession, checkpoint_dir=None, collect_lineage=False
    )
    res = eng.run(algo, edges)
    # only the driver-side nf_history is needed; free the checkpointed
    # per-vertex register state or every call leaks an m-registers-per-
    # vertex cache for the session lifetime
    eng.mat.free(res.state)
    out: list[tuple[int, float]] = []
    last = 0.0
    for r in range(rounds + 1):
        if r < len(algo.nf_history):
            last = algo.nf_history[r]
        out.append((r, last))
    return out


def effective_diameter(
    edges: DataFrame,
    q: float = 0.9,
    m: int = 16,
    max_rounds: int = 32,
    hash_fn: str = "xxhash64",
    engine: ScatterGatherEngine | None = None,
) -> float:
    """ANF effective diameter: the smallest radius (linearly
    interpolated between rounds, the standard ANF/HyperANF reading)
    at which the neighborhood function reaches a fraction ``q`` of its
    final value. One HyperBall run (driver cost: a list of floats);
    ``max_rounds`` bounds the sketch fixpoint on pathological chains."""
    if not 0 < q <= 1:
        raise ValueError("q must be in (0, 1]")
    nf = neighborhood_function(
        edges, m=m, rounds=max_rounds, hash_fn=hash_fn, engine=engine
    )
    total = nf[-1][1]
    if total <= 0:
        return 0.0
    target = q * total
    prev_r, prev_v = nf[0]
    if prev_v >= target:
        return 0.0
    for r, v in nf[1:]:
        if v >= target:
            # interpolate within (prev_r, r]
            if v == prev_v:
                return float(r)
            return prev_r + (target - prev_v) / (v - prev_v)
        prev_r, prev_v = r, v
    return float(nf[-1][0])
