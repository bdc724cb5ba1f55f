"""Seeded input generators for the benchmark workloads.

Every table is built from Spark Column expressions over ``spark.range``;
all randomness is ``xxhash64`` keyed by the seed, so one seed always
gives the same tables. The program reads only its input table, ``pages``
or ``edges``. The NumPy oracles read an edge list: ``edges`` itself, or
for the pages workload ``truth_edges``, the link list the HTML anchors
were rendered from.

Tables are written once per (workload, seed, sizes) into the work
directory and reused by later runs with the same seed and sizes.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Workload sizes. "full" is what the benchmark measures; "tiny" is the
# warm-up and self-test smoke scale. At full size per-job cost, not data
# volume, dominates a pass on a 4-core box, so the walls measure the
# engine's job structure; the sizes keep a whole run (JVM start,
# generation, set-up, warm-up and two measured passes) near a minute.
# The planted hubs exceed the hub_cap the workload passes to the engine,
# so hub salting engages.
SCALES = {
    "full": {
        "crawl_pages": 30_000,
        "crawl_iters": 6,
        "crawl_stop_at": 3,
        "hub_vertices": 30_000,
        "hub_frac_pct": 74,
        "hub_cap": 20_000,
        "path_vertices": 20_000,
        "path_len": 8,
    },
    "tiny": {
        "crawl_pages": 2_000,
        "crawl_iters": 3,
        "crawl_stop_at": 1,
        "hub_vertices": 3_000,
        "hub_frac_pct": 74,
        "hub_cap": 1_000,
        "path_vertices": 600,
        "path_len": 8,
    },
}

WORDS = [
    "alpha", "bravo", "cedar", "delta", "ember", "fjord", "grove", "harbor",
    "iris", "jade", "krill", "lagoon", "meadow", "nectar", "onyx", "pearl",
]


def _h(seed: int, *cols) -> Column:
    """Hash of (seed, cols...) in [0, 2**62)."""
    return F.abs(F.xxhash64(F.lit(seed).cast("long"), *[c.cast("long") for c in cols]) % F.lit(1 << 62))


def _url(k: Column, n_sites: int) -> Column:
    return F.concat(
        F.lit("https://site"), (k % F.lit(n_sites)).cast("string"),
        F.lit(".example/p/"), k.cast("string"),
    )


def _crawl_links(spark: SparkSession, seed: int, n_pages: int) -> DataFrame:
    """(src, dsts): uniform out-degree 0-7, targets uniform over pages."""
    k = F.col("id")
    deg = _h(seed, k) % F.lit(8)
    dsts = F.when(
        deg > 0,
        F.transform(F.sequence(F.lit(0).cast("long"), deg - 1),
                    lambda i: _h(seed, k, i + F.lit(1)) % F.lit(n_pages)),
    ).otherwise(F.array().cast("array<bigint>"))
    return spark.range(0, n_pages, 1, 8).select(k.alias("src"), dsts.alias("dsts"))


def crawl_pages(spark: SparkSession, seed: int, n_pages: int) -> tuple[DataFrame, DataFrame]:
    """Common-Crawl-style pages ``(url, warc_ts, html, text, lang)`` whose
    anchors encode the link list, plus that list as truth edges."""
    n_sites = max(4, n_pages // 100)
    links = _crawl_links(spark, seed, n_pages)
    k = F.col("src")
    n_words = _h(seed, k, F.lit(-1)) % F.lit(12) + 4
    vocab = F.array(*[F.lit(w) for w in WORDS])
    words = F.transform(
        F.sequence(F.lit(0).cast("long"), n_words - 1),
        lambda j: F.element_at(vocab, (_h(seed, k, j - F.lit(100)) % F.lit(len(WORDS)) + 1).cast("int")),
    )
    text = F.concat(F.lit("doc "), k.cast("string"), F.lit(" "), F.array_join(words, " "))
    anchors = F.array_join(
        F.transform("dsts", lambda d: F.concat(F.lit('<a href="'), _url(d, n_sites), F.lit('">t</a>'))),
        "",
    )
    html = F.concat(
        F.lit("<html><head><title>doc "), k.cast("string"),
        F.lit("</title></head><body>"), text, anchors, F.lit("</body></html>"),
    )
    lang = F.element_at(F.array(*[F.lit(x) for x in ("en", "de", "fr", "zh")]),
                        (_h(seed, k, F.lit(-2)) % F.lit(4) + 1).cast("int"))
    pages = links.select(
        _url(k, n_sites).alias("url"),
        F.timestamp_seconds(F.lit(1_704_067_200) + k).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )
    truth = links.select("src", F.explode("dsts").alias("dst"))
    return pages, truth


def long_paths(spark: SparkSession, seed: int, n_vertices: int, path_len: int, first_id: int) -> DataFrame:
    """Disjoint paths of ``path_len`` vertices with ids from ``first_id``.
    Position g maps to vertex id ``first_id + (a*g + b) mod n`` with ``a``
    coprime to n, so each path's minimum id sits at a seed-dependent
    position and hash-min needs about ``path_len`` iterations. Edge
    direction is a per-edge coin flip."""
    n = n_vertices - n_vertices % path_len
    a = 1 + 2 * (seed % 9973) + 6 * path_len
    while math.gcd(a, n) != 1:
        a += 1
    b = (seed * 7919) % n

    def vid(g: Column) -> Column:
        return (F.lit(first_id) + (F.lit(a) * g + F.lit(b)) % F.lit(n)).cast("long")

    g = F.col("id")
    u, v = vid(g), vid(g + 1)
    flip = _h(seed, g) % F.lit(2) == 1
    return (
        spark.range(0, n, 1, 8)
        .where(g % F.lit(path_len) != F.lit(path_len - 1))
        .select(F.when(flip, v).otherwise(u).alias("src"), F.when(flip, u).otherwise(v).alias("dst"))
    )


def planted_hubs(spark: SparkSession, seed: int, n_vertices: int, hub_frac_pct: int) -> DataFrame:
    """F4-style skew graph on ids 0..n-1: vertices 0 and 1 link to
    ``hub_frac_pct``% of all other vertices; every other vertex has
    out-degree 0-3 to uniform targets. Edges among hub neighbours close
    triangles with the hubs."""
    v = F.col("id")
    hub_edges = (
        spark.range(2, n_vertices, 1, 8)
        .crossJoin(spark.range(0, 2, 1, 1).select(F.col("id").alias("hub")))
        .where(_h(seed, F.col("hub"), v) % F.lit(100) < F.lit(hub_frac_pct))
        .select(F.col("hub").alias("src"), v.alias("dst"))
    )
    deg = _h(seed, v, F.lit(-3)) % F.lit(4)
    dsts = F.when(
        deg > 0,
        F.transform(F.sequence(F.lit(0).cast("long"), deg - 1),
                    lambda i: _h(seed, v, i + F.lit(7)) % F.lit(n_vertices)),
    ).otherwise(F.array().cast("array<bigint>"))
    rest = spark.range(2, n_vertices, 1, 8).select(v.alias("src"), F.explode(dsts).alias("dst"))
    return hub_edges.unionByName(rest)


def hubs_and_paths(spark: SparkSession, seed: int, s: dict) -> DataFrame:
    """One edge table: the planted-hub component(s) plus long paths on
    the ids after them."""
    hubs = planted_hubs(spark, seed, s["hub_vertices"], s["hub_frac_pct"])
    paths = long_paths(spark, seed, s["path_vertices"], s["path_len"], s["hub_vertices"])
    return hubs.unionByName(paths)


def write_inputs(spark: SparkSession, workload: str, scale: str, seed: int, root: str) -> str:
    """Write the workload's tables under ``root`` once; return the dir."""
    s = SCALES[scale]
    sizes = hashlib.sha1(json.dumps(s, sort_keys=True).encode()).hexdigest()[:10]
    d = os.path.join(root, f"{workload}-{scale}-seed{seed}-{sizes}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    if workload == "crawl_pagerank_resume":
        pages, truth = crawl_pages(spark, seed, s["crawl_pages"])
        pages.write.mode("overwrite").parquet(os.path.join(d, "pages"))
        truth.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "truth_edges"))
    elif workload == "cc_hub_triangles":
        # the edge table is both the program's input and the oracle's
        hubs_and_paths(spark, seed, s).write.mode("overwrite").parquet(os.path.join(d, "edges"))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    open(os.path.join(d, "_DONE"), "w").close()
    return d
