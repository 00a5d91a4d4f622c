"""Structural link-graph analytics: common-neighbor link prediction and
clustering coefficient. Added surface (SURVEY.md §2C) — the bread-and-butter
queries of a link graph over (repo,path) file nodes: "which files should
probably import each other" is exactly common-neighbor scoring.

All relational: wedge join on the simple graph, aggregate per pair, anti-join
out existing edges. At scale the wedge join is bounded by Σ deg² — cap hubs
first (``max_wedge_degree``) exactly like the co-change mega-commit guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkgraph.graph import Graph
from sparkgraph.pregel import SuperstepLoop


def link_prediction(
    graph: Graph,
    min_common: int = 1,
    max_wedge_degree: int | None = 10_000,
) -> DataFrame:
    """Non-adjacent pairs (a < b) with ≥ min_common common neighbors:
    ``(a, b, common, jaccard, adamic_adar)`` — jaccard over neighbor sets,
    Adamic-Adar = Σ_w 1/ln(deg w). Rounded to 6 dp.

    ``max_wedge_degree`` bounds the wedge join: vertices whose simple degree
    exceeds it generate NO wedges (a deg-d hub alone contributes d²/2 wedge
    rows — the power-law blow-up SURVEY.md §7(iii) warns about). The default
    is finite ON PURPOSE: common-neighbor scores through mega-hubs carry
    almost no signal (Adamic-Adar already down-weights them as 1/ln d), so
    capping changes rankings negligibly while bounding the shuffle at
    Σ min(deg, cap)². Pass ``None`` only for exact small-graph sweeps."""
    sym = graph.simple_sym()
    deg = sym.groupBy(F.col("u").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    if max_wedge_degree is not None:
        ok = deg.filter(F.col("deg") <= max_wedge_degree).select(
            F.col("id").alias("w")
        )
        wedge_mid = sym.join(ok.withColumnRenamed("w", "u"), "u", "left_semi")
    else:
        wedge_mid = sym
    # wedges through w: (a=w's nbr1, b=w's nbr2), a < b
    e1 = wedge_mid.select(F.col("u").alias("w"), F.col("v").alias("a"))
    e2 = wedge_mid.select(F.col("u").alias("w"), F.col("v").alias("b"))
    dw = deg.select(F.col("id").alias("w"), F.col("deg").alias("wdeg"))
    wedges = (
        e1.join(e2, "w")
        .filter(F.col("a") < F.col("b"))
        .join(dw, "w")
    )
    pair_stats = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("common"),
        F.sum(1.0 / F.log("wdeg")).alias("aa"),
    )
    # drop already-adjacent pairs
    existing = graph.simple_undirected().select(
        F.col("u").alias("a"), F.col("v").alias("b")
    )
    candidates = pair_stats.join(existing, ["a", "b"], "left_anti")
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("degb"))
    return (
        candidates.join(da, "a")
        .join(db, "b")
        .filter(F.col("common") >= min_common)
        .select(
            "a",
            "b",
            "common",
            F.round(
                F.col("common")
                / (F.col("dega") + F.col("degb") - F.col("common")),
                6,
            ).alias("jaccard"),
            F.round("aa", 6).alias("adamic_adar"),
        )
    )


def global_clustering_coefficient(graph: Graph) -> DataFrame:
    """Single row ``(triangles, wedges, coefficient)`` on the simple graph:
    coefficient = 3·triangles / wedges (0.0 for wedge-free graphs)."""
    from sparkgraph.algorithms.triangles import triangle_count

    t = triangle_count(graph)
    sym = graph.simple_sym()
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    w = deg.agg(F.sum(F.col("deg") * (F.col("deg") - 1) / 2).alias("w")).collect()[0][
        "w"
    ]
    wedges = int(w or 0)
    coeff = round(3.0 * t / wedges, 6) if wedges else 0.0
    return graph.spark.createDataFrame(
        [(t, wedges, coeff)], "triangles long, wedges long, coefficient double"
    )


def local_clustering(graph: Graph) -> DataFrame:
    """Per-vertex local clustering coefficient ``(id, triangles, lcc)``:
    lcc(v) = triangles(v) / C(deg v, 2), 0 when deg < 2.

    Triangles come once each from the degree-oriented enumeration
    (``triangles._triangles``: oriented out-degree is O(√E), so the wedge
    join never explodes on hubs), then every triangle credits its three
    corners. Per-vertex counts are orientation-independent, so the oracle
    can enumerate on the simpler canonical u<v orientation and agree
    exactly."""
    from sparkgraph.algorithms.triangles import _triangles

    tri = _triangles(graph.simple_undirected())
    corners = (
        tri.select(F.col("ta").alias("id"))
        .unionByName(tri.select(F.col("tb").alias("id")))
        .unionByName(tri.select(F.col("tc").alias("id")))
    )
    tcount = corners.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))
    sym = graph.simple_sym()
    deg = sym.groupBy(F.col("u").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    return deg.join(tcount, "id", "left").select(
        "id",
        F.coalesce("triangles", F.lit(0)).alias("triangles"),
        F.when(
            F.col("deg") < 2, F.lit(0.0)
        ).otherwise(
            F.round(
                F.coalesce("triangles", F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1) / 2.0),
                9,
            )
        ).alias("lcc"),
    )


def degree_assortativity(graph: Graph) -> DataFrame:
    """Single row ``(assortativity,)`` — Newman (2002) degree-correlation
    coefficient: the Pearson correlation of (deg u, deg v) over the directed
    pairs of the simple symmetrized view (each undirected edge counted both
    ways, the standard convention). All sums are integer-exact before the one
    final double division, so results are bit-stable across engines."""
    sym = graph.simple_sym()
    deg = sym.groupBy(F.col("u").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    pairs = (
        sym.join(deg.select(F.col("id").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("deg").alias("dv")), "v")
    )
    s = pairs.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("du") * F.col("dv")).alias("jk"),
        F.sum(F.col("du") + F.col("dv")).alias("jpk"),
        F.sum(F.col("du") * F.col("du") + F.col("dv") * F.col("dv")).alias("j2k2"),
    ).collect()[0]
    m, jk, jpk, j2k2 = s["m"], s["jk"], s["jpk"], s["j2k2"]
    mean = jpk / (2.0 * m)
    num = jk / m - mean * mean
    den = j2k2 / (2.0 * m) - mean * mean
    r = round(num / den, 9) if den else 0.0
    return graph.spark.createDataFrame([(r,)], "assortativity double")


def ego_network(graph: Graph, center: int, radius: int = 2) -> DataFrame:
    """Induced subgraph of the ≤radius BFS ball around ``center`` on the
    simple graph: canonical ``(u, v)`` edge rows (u < v). The ball is
    ``SuperstepLoop.reach`` from the one source, ``radius`` levels at most
    (message volume O(frontier degree); it stops early once the component is
    exhausted); the induced-edge join is two semi-joins against the ball."""
    sym = (
        graph.simple_sym()
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .repartition(graph.num_partitions, "src")
        .persist()
    )
    center_df = graph.spark.createDataFrame([(center, 0)], "id long, depth int")
    ball, _, _ = SuperstepLoop("ego_network").reach(sym, center_df, [], 0, radius)
    out = (
        graph.simple_undirected()
        .join(ball.select(F.col("id").alias("u")), "u", "left_semi")
        .join(ball.select(F.col("id").alias("v")), "v", "left_semi")
        .select("u", "v")
    )
    sym.unpersist()
    return out


def modularity(graph: Graph, labels: DataFrame) -> DataFrame:
    """Single row ``(modularity,)`` — Newman modularity Q of a vertex
    partition over the simple graph: Q = Σ_c [ e_c/m − (a_c/2m)² ] with e_c =
    intra-community edges, a_c = total degree of c, m = edge count. ``labels``
    is ``(id, label)`` (e.g. LPA or CC output). Integer sums, one final double
    expression — engine-stable."""
    sym = graph.simple_sym()
    lu = labels.select(F.col("id").alias("u"), F.col("label").alias("cu"))
    lv = labels.select(F.col("id").alias("v"), F.col("label").alias("cv"))
    per_edge = sym.join(lu, "u").join(lv, "v")
    # per community: directed-intra count (2·e_c) and total degree a_c
    intra = (
        per_edge.filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("c"))
        .agg(F.count(F.lit(1)).alias("intra2"))
    )
    a = per_edge.groupBy(F.col("cu").alias("c")).agg(F.count(F.lit(1)).alias("deg_sum"))
    m2 = sym.count()  # = 2m
    frac = F.col("deg_sum") / F.lit(float(m2))
    row = (
        a.join(intra, "c", "left")
        .select(
            # frac*frac, not pow(frac, 2): bit-identical across engines
            (F.coalesce("intra2", F.lit(0)) / F.lit(float(m2)) - frac * frac).alias("q")
        )
        .agg(F.round(F.sum("q"), 9).alias("modularity"))
    )
    return row


def community_stats(graph: Graph, labels: DataFrame) -> DataFrame:
    """Per-community quality report over the simple undirected graph:
    ``(label, n_vertices, volume, cut_edges, internal_edges, conductance)``
    for a vertex partition ``labels = (id, label)`` (LPA / Louvain / CC
    output). ``volume`` = Σ degree over members (= directed-sym endpoint
    count), ``cut_edges`` = directed-sym edges leaving the community,
    ``internal_edges`` = volume − cut (2× the undirected intra count),
    ``conductance`` = cut / min(vol, 2m − vol) — the standard community
    screening metric (Leskovec et al., NCP plots): low = well-separated.

    Scale shape: two hash joins of the edge list against the (vertex-sized)
    label table, then ONE map-side-combined groupBy(label) — integer sums
    until the final division, same exactness discipline as modularity().
    Communities of isolated vertices can't occur (edge-derived graphs);
    conductance of a community spanning everything is 0 by the min()."""
    sym = graph.simple_sym()
    lu = labels.select(F.col("id").alias("u"), F.col("label").alias("cu"))
    lv = labels.select(F.col("id").alias("v"), F.col("label").alias("cv"))
    per_edge = sym.join(lu, "u").join(lv, "v")
    m2 = sym.count()  # = 2m
    agg = per_edge.groupBy(F.col("cu").alias("label")).agg(
        F.count(F.lit(1)).alias("volume"),
        F.sum((F.col("cu") != F.col("cv")).cast("long")).alias("cut_edges"),
    )
    nv = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_vertices"))
    denom = F.least(F.col("volume"), F.lit(m2) - F.col("volume"))
    return (
        nv.join(agg, "label", "left")
        .select(
            "label",
            "n_vertices",
            F.coalesce("volume", F.lit(0)).alias("volume"),
            F.coalesce("cut_edges", F.lit(0)).alias("cut_edges"),
            (F.coalesce("volume", F.lit(0)) - F.coalesce("cut_edges", F.lit(0))).alias(
                "internal_edges"
            ),
            # denom = 0 covers both empty communities and one community
            # spanning the whole graph (cut is 0 in both): define as 0.0
            F.when(F.coalesce(denom, F.lit(0)) == 0, F.lit(0.0))
            .otherwise(F.round(F.coalesce("cut_edges", F.lit(0)) / denom, 6))
            .alias("conductance"),
        )
    )


def two_hop_sizes(graph: Graph, max_degree: int | None = None) -> DataFrame:
    """Exact 2-hop neighborhood sizes ``(id, n_1hop, n_2hop)`` on the simple
    undirected graph: n_2hop = |{w ≠ v : dist(v, w) ≤ 2}| — the
    friends-of-friends count, the standard reach/influence feature and the
    audience-estimation primitive.

    Scale shape: ONE self-join of the symmetrized adjacency on the middle
    vertex (Σ deg² rows before the distinct — the irreducible cost of an
    exact answer), then a distinct + count per source, map-side combined.
    ``max_degree`` optionally drops middle vertices above the cap before the
    join (the hubs are exactly where Σ deg² explodes); capped results are a
    documented UNDERCOUNT through those hubs — at web scale prefer the cap
    or an HLL sketch over the exact path. No driver state, no windows."""
    sym = graph.simple_sym()  # (u, v), both directions
    mid = sym
    if max_degree is not None:
        ok = (
            sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") <= max_degree)
            .select("u")
        )
        mid = sym.join(ok, "u", "left_semi")
    # hop2 via the middle: v -> m -> w (w may equal v or a 1-hop nbr; the
    # union + distinct collapses those)
    hop2 = sym.select(F.col("u").alias("id"), F.col("v").alias("m")).join(
        mid.select(F.col("u").alias("m"), F.col("v").alias("w")), "m"
    ).select("id", "w")
    reach = (
        sym.select(F.col("u").alias("id"), F.col("v").alias("w"))
        .unionByName(hop2)
        .filter(F.col("id") != F.col("w"))
        .distinct()
    )
    n1 = sym.groupBy(F.col("u").alias("id")).agg(
        F.count(F.lit(1)).alias("n_1hop")
    )
    n2 = reach.groupBy("id").agg(F.count(F.lit(1)).alias("n_2hop"))
    return n1.join(n2, "id").select("id", "n_1hop", "n_2hop")
