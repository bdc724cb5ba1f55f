"""Connected components via alternating star contraction.

The scatter-gather hash-min CC (components.py, the FOG recurrence —
/root/reference/application/cc.hpp:17-163) converges in O(diameter)
rounds: fine for web graphs (diameter ~20-30) but worst-case linear on
path-shaped graphs, and its early rounds scan the full graph. This
module adds the alternating large-star / small-star contraction of
Kiveris et al., "Connected Components in MapReduce and Beyond" (SOCC
'14): each round rewrites the EDGE SET itself, pointing every vertex at
the minimum of its neighborhood, and converges in O(log n) rounds on
any topology. The edge set also SHRINKS as stars collapse, so late
rounds touch far less data than hash-min's early rounds — at
10^12-document scale this is the variant to reach for when the
diameter is unknown or adversarial (long chains of redirects, link
farms). Both implementations produce the identical labeling (minimum
vertex id per weakly-connected component), so they share one oracle.

Spark shape per round: two hash aggregations over the current edge set
(a min per vertex, then an edge rewrite + distinct) — all JVM-side
Column expressions, no UDFs; per-round state is double-buffered through
the Materializer like engine iterations.

  large-star: every neighbor v > u re-attaches to m = min(N(u) + {u})
  small-star: every neighbor v <= u (and u itself) re-attaches to m

Termination: a round that changes nothing (same canonical edge multiset)
is the fixpoint; the surviving edges are exactly (vertex -> component
min) parent pointers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fog_spark import graph as G
from fog_spark.plans.materialize import Materializer


def _large_star(edges: DataFrame) -> DataFrame:
    """Symmetrize, then attach every strictly-larger neighbor of u to
    min(N(u) + {u}). Keeps the graph connected while strictly reducing
    large-id attachment points."""
    nbrs = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = (
        nbrs.groupBy("src")
        .agg(F.min("dst").alias("_md"))
        .select("src", F.least("_md", F.col("src")).alias("m"))
    )
    return (
        nbrs.where(F.col("dst") > F.col("src"))
        .join(mins, "src")
        .where(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges to (larger -> smaller), then attach u and every
    neighbor v < u to m = min(N<=(u) + {u})."""
    le = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = (
        le.groupBy("src")
        .agg(F.min("dst").alias("_md"))
        .select("src", F.least("_md", F.col("src")).alias("m"))
    )
    rewired = le.join(mins, "src").select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    self_edges = mins.select(F.col("src"), F.col("m").alias("dst"))
    return (
        rewired.union(self_edges)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def star_contraction_components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 60,
) -> DataFrame:
    """(id, component) with component = min vertex id of the weakly
    connected component — the same fixpoint as the hash-min engine
    (components.py), in O(log n) contraction rounds.

    Isolated vertices (present in ``vertices`` but touching no edge)
    label themselves. Self-loops contribute no connectivity and are
    dropped up front.
    """
    mat = Materializer(spark)
    e = (
        G.normalize_edges(edges)
        .select("src", "dst")
        .where(F.col("src") != F.col("dst"))
    )
    all_vertices = (
        vertices.select(F.col("id").cast("long").alias("id"))
        if vertices is not None
        else G.vertex_ids(edges)
    )

    cur = mat.checkpoint(e.distinct())
    for _ in range(max_rounds):
        nxt = mat.checkpoint(_small_star(_large_star(cur)))
        # fixpoint: small-star output is canonical (src > dst, distinct),
        # so set equality reduces to count equality + an anti-join
        # emptiness probe — extra jobs per round (the engine loop gets
        # its stats from the checkpoint job instead)
        same = (
            nxt.count() == cur.count()
            and nxt.join(cur, ["src", "dst"], "left_anti").isEmpty()
        )
        mat.free(cur)
        cur = nxt
        if same:
            break
    # cur rows are (vertex, component-min) parent pointers for every
    # non-minimum vertex; minima and isolated vertices map to themselves
    labels = all_vertices.join(
        cur.select(F.col("src").alias("id"), F.col("dst").alias("component")),
        "id",
        "left",
    ).select("id", F.coalesce("component", "id").alias("component"))
    # through the materializer, NOT a bare localCheckpoint: unpersist is
    # a no-op on checkpoint-backed frames (materialize.py), so the bare
    # form leaked an unreclaimable deserialized vertex-sized cache per
    # call; mat.checkpoint is serialized and free()-able by the caller
    out = mat.checkpoint(labels)
    mat.free(cur)
    return out
