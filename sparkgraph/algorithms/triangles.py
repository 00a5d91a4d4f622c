"""Exact triangles over one degree-ordered orientation.

The reference has no triangle program (SURVEY.md §2C). Definition: number of
distinct vertex triples {a,b,c} mutually adjacent in the SIMPLE undirected
graph — the loader's parallel edges and self-loops are deduplicated first
(documented dedup step, FIXTURES.md §4).

``oriented_edges`` points every simple edge from the endpoint with smaller
(degree, id) to the larger. The oriented graph is acyclic with max
out-degree O(√E), so no per-vertex join or list blows up on power-law hubs
(SURVEY.md §7 risk (iii)), and each triangle has exactly one corner whose
two out-edges close it:

    triangles = {(a,b,c) : a→b, b→c, a→c oriented edges}

``_triangles`` is the one enumeration (ab ⋈ bc ⋈ ac); ``triangle_list``,
``four_clique_count``, ``structure.local_clustering`` and ``k_truss`` read
it. ``triangle_count`` only counts, so it never materializes the triangles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkgraph.graph import Graph

# Largest vertex count the bitset kernel takes: its n×n bit matrix is then
# at most 32 MB, broadcast to every executor.
BITSET_MAX_VERTICES = 16_384


def oriented_edges(simple: DataFrame) -> DataFrame:
    """Canonical simple ``(u < v)`` edges oriented by (degree, id):
    ``(a → b)`` with rank(a) < rank(b)."""
    deg = (
        simple.select(F.col("u").alias("id"))
        .unionByName(simple.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("sdeg"))
    )
    du = deg.select(F.col("id").alias("u"), F.col("sdeg").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("sdeg").alias("dv"))
    e = simple.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return e.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )


def _triangles(simple: DataFrame) -> DataFrame:
    """Canonical simple ``(u < v)`` edges → one row ``(ta, tb, tc)`` per
    triangle, its corners in increasing (degree, id) rank."""
    o = oriented_edges(simple)
    ab = o.select(F.col("a").alias("ta"), F.col("b").alias("tb"))
    bc = o.select(F.col("a").alias("tb"), F.col("b").alias("tc"))
    ac = o.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    return ab.join(bc, "tb").join(ac, ["ta", "tc"])


def triangle_count(graph: Graph) -> int:
    """Exact triangle count of the simple undirected graph.

    One pass collects at most ``BITSET_MAX_VERTICES + 1`` distinct vertex
    ids and picks the path:

    * at most ``BITSET_MAX_VERTICES`` vertices — the bitset kernel: the
      oriented adjacency becomes a packed bit matrix (built per partition on
      the executors and OR-merged there, so no edge row is collected),
      broadcast, and each oriented edge popcounts the AND of its two
      rows in a vectorized Arrow kernel. On dense vertex sets this replaces
      a wedge join of ~10⁸ rows with a few hundred MB of bitwise ops;
    * otherwise — each oriented edge (a, b) counts the common members of
      the oriented out-neighbor lists of a and b. This shuffles E rows
      carrying O(√E) lists, never the wedge set, and measured faster than
      counting the rows of ``_triangles``.
    """
    import numpy as np

    simple = graph.simple_undirected().persist()
    o = oriented_edges(simple).persist()
    try:
        ids = [
            r[0]
            for r in simple.select(F.explode(F.array("u", "v")).alias("id"))
            .distinct()
            .limit(BITSET_MAX_VERTICES + 1)
            .collect()
        ]
        if len(ids) > BITSET_MAX_VERTICES:
            return _triangle_count_intersect(o)
        return _triangle_count_bitset(
            graph.spark, o, np.sort(np.array(ids, dtype=np.int64))
        )
    finally:
        o.unpersist()
        simple.unpersist()


def _triangle_count_intersect(o: DataFrame) -> int:
    adj = o.groupBy("a").agg(F.collect_list("b").alias("nbrs"))
    ea = adj.select(F.col("a").alias("_a"), F.col("nbrs").alias("na"))
    eb = adj.select(F.col("a").alias("_b"), F.col("nbrs").alias("nb"))
    per_edge = (
        o.join(ea, o.a == ea._a)
        .join(eb, o.b == eb._b)
        .select(F.size(F.array_intersect("na", "nb")).alias("t"))
    )
    row = per_edge.agg(F.sum("t").alias("triangles")).collect()[0]
    return int(row.triangles or 0)


def _triangle_count_bitset(spark: SparkSession, o: DataFrame, ids) -> int:
    """``o``: the oriented edges; ``ids``: their sorted vertex universe
    (n ≤ 16k) — the only per-row data collected."""
    import numpy as np
    import pyarrow as pa

    n = len(ids)
    width = (n + 7) // 8

    def partial_matrix(batches):
        # per-partition packed oriented-adjacency bits (n ≤ 16k ⇒ ≤ 32 MB);
        # edges never leave the executors — only OR-merged matrices do
        m = np.zeros((n, width), dtype=np.uint8)
        for b in batches:
            ai = np.searchsorted(ids, b.column("a").to_numpy(zero_copy_only=False))
            bi = np.searchsorted(ids, b.column("b").to_numpy(zero_copy_only=False))
            np.bitwise_or.at(m, (ai, bi >> 3), (1 << (bi & 7)).astype(np.uint8))
        yield pa.RecordBatch.from_arrays(
            [pa.array([m.tobytes()], type=pa.large_binary())], names=["m"]
        )

    def or_merge(batches):
        acc = np.zeros(n * width, dtype=np.uint8)
        for b in batches:
            for blob in b.column("m"):
                np.bitwise_or(
                    acc, np.frombuffer(blob.as_py(), dtype=np.uint8), out=acc
                )
        yield pa.RecordBatch.from_arrays(
            [pa.array([acc.tobytes()], type=pa.large_binary())], names=["m"]
        )

    popcnt = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(1)
    bc = None
    try:
        # build distributively (one partial matrix per partition, in
        # parallel), OR-merge executor-side; exactly one packed matrix is
        # collected
        blobs = o.mapInArrow(partial_matrix, "m binary")
        merged = blobs.repartition(1).mapInArrow(or_merge, "m binary").collect()
        mat = np.frombuffer(merged[0].m, dtype=np.uint8).reshape(n, width)
        bc = spark.sparkContext.broadcast((ids, mat))

        def kernel(batches):
            ids_l, m = bc.value
            for b in batches:
                a_idx = np.searchsorted(ids_l, b.column("a").to_numpy(zero_copy_only=False))
                b_idx = np.searchsorted(ids_l, b.column("b").to_numpy(zero_copy_only=False))
                inter = np.bitwise_and(m[a_idx], m[b_idx])
                t = int(popcnt[inter].sum())
                yield pa.RecordBatch.from_arrays([pa.array([t], type=pa.int64())], names=["t"])

        total = (
            o.mapInArrow(kernel, "t long").agg(F.sum("t").alias("triangles")).collect()[0]
        )
        return int(total.triangles or 0)
    finally:
        if bc is not None:
            bc.destroy()


def triangle_count_df(graph: Graph) -> DataFrame:
    """Single-row DataFrame (triangles: long) — for the query/oracle surface."""
    spark = graph.spark
    return spark.createDataFrame([(triangle_count(graph),)], "triangles long")


def triangle_list(graph: Graph) -> DataFrame:
    """Enumerate the triangles themselves — ``(x, y, z)`` with x < y < z, one
    row per triangle. The motif-mining twin of ``triangle_count`` (listings
    feed clique search, support counting, subgraph features), read off
    ``_triangles``, so wedge volume is O(E^1.5)-bounded and hub wedges never
    explode."""
    tri = _triangles(graph.simple_undirected())
    srt = F.array_sort(F.array("ta", "tb", "tc"))
    return tri.select(
        srt[0].alias("x"), srt[1].alias("y"), srt[2].alias("z")
    )


def four_clique_count(graph: Graph) -> DataFrame:
    """Count K4 subgraphs: one row ``(n_four_cliques,)``. Extends each
    enumerated triangle (x<y<z) by a fourth vertex w > z adjacent to all
    three — every K4 is counted exactly once in its sorted orientation.
    Join volume is Σ_triangles |N(x) above z|, bounded by the same
    degree-ordered discipline as the triangle pass (no hub wedge blow-up);
    the two closing checks are canonical-pair semi-joins."""
    tri = triangle_list(graph)
    se = graph.simple_undirected()  # (u < v)
    cand = tri.join(
        se.select(F.col("u").alias("x"), F.col("v").alias("w")), "x"
    ).filter(F.col("w") > F.col("z"))
    cand = cand.join(
        se.select(F.col("u").alias("y"), F.col("v").alias("w")), ["y", "w"], "left_semi"
    )
    cand = cand.join(
        se.select(F.col("u").alias("z"), F.col("v").alias("w")), ["z", "w"], "left_semi"
    )
    return cand.agg(F.count(F.lit(1)).alias("n_four_cliques"))
