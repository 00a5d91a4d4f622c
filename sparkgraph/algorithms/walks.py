"""Deterministic random-walk corpus generation + skip-gram pair extraction.

DeepWalk-style (Perozzi et al. 2014) graph→sequence sampling, the standard
feeder for embedding training — added surface beyond the reference
(SURVEY.md §2C lists no sampling op), motivated by the training-data-pipeline
mandate: at corpus scale you materialize walk corpora and skip-gram pairs as
tables, not in-memory arrays.

Determinism instead of RNG: the next-hop choice is a pure function
``mix(walk_id, step, vertex) mod deg(vertex)`` over an *indexed* adjacency
(neighbors ranked by dst). Two mixers ship:

  * ``xxhash``  — production default, well-scrambled 64-bit avalanche;
  * ``affine``  — Knuth-style multiplicative mix, expressible in ANSI SQL, so
    the whole walk is DuckDB-oracle-checkable (the gate uses this one).

Scale shape (the part that matters at 100 TB): each step is ONE equi-join on
``(src, idx)`` — exactly one adjacency row per walker, so hub skew never
amplifies the join (contrast a neighbor-explode + sample, which is O(deg) per
walker). The adjacency is persisted pre-partitioned by src; walker state is
O(n_walks) rows per step with lineage truncated; the full trace is a lazy
union of per-step frontiers, never driver-collected.

Walks run on the *simple* undirected view (deduped symmetrized edges): the
neighbor index must be unambiguous, and parallel edges would make
``row_number`` order engine-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparkgraph.graph import Graph
from sparkgraph.pregel import truncate_lineage

# Knuth multiplicative constants; the modulus keeps every intermediate far
# inside int64 for vertex ids < ~3e15 (ANSI-safe in Spark, exact in DuckDB).
AFFINE_V = 2654435761
AFFINE_W = 1103515245
AFFINE_S = 12345
AFFINE_MOD = 2**31


def _mix(mixer: str, walk_id, step: int, vertex, deg):
    if mixer == "xxhash":
        return F.pmod(F.xxhash64(walk_id, F.lit(step), vertex), deg)
    if mixer == "affine":
        # pmod BOTH ids into [0, 2^31) before multiplying: raw xxhash64-range
        # vertex/walk ids would overflow int64 under ANSI mode (the same
        # class as louvain.PARITY_BOUND); identical for ids < 2^31, and the
        # bounded products sum to < 2^63 (5.70e18 + 2.37e18 + steps)
        raw = (
            F.pmod(vertex, F.lit(AFFINE_MOD)) * F.lit(AFFINE_V)
            + F.pmod(walk_id, F.lit(AFFINE_MOD)) * F.lit(AFFINE_W)
            + F.lit(step * AFFINE_S)
        ) % F.lit(AFFINE_MOD)
        return F.pmod(raw, deg)
    raise ValueError(f"unknown mixer {mixer!r}")


def indexed_adjacency(graph: Graph) -> DataFrame:
    """(src, idx, dst, deg) over the simple undirected view: neighbors of each
    src ranked 0..deg-1 by dst (unique per src after dedup ⇒ deterministic),
    with the simple-graph degree on every row."""
    # drop self-loops too: walks run on the SIMPLE undirected view (matching
    # simple_undirected() used by MIS/truss/closeness) — a v→v hop would be
    # unreachable by the loop-free oracle twins
    simple = (
        graph.edges_sym.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    w = Window.partitionBy("src")
    return simple.select(
        "src",
        # long, not int: the per-hop join key is a bigint pick — a type
        # mismatch would re-cast (and re-exchange) the persisted adjacency
        (F.row_number().over(w.orderBy("dst")) - 1).cast("long").alias("idx"),
        "dst",
        F.count(F.lit(1)).over(w).alias("deg"),
    )


def random_walks(
    graph: Graph,
    walk_len: int,
    mixer: str = "xxhash",
) -> DataFrame:
    """One walk per vertex (walk_id = start id), ``walk_len`` hops on the
    simple undirected view. Returns the full trace
    ``(walk_id, step, vertex)`` with step 0 = the start vertex. Every vertex
    has deg ≥ 1 after symmetrization, so walks never dead-end."""
    adj_raw = indexed_adjacency(graph)
    deg = adj_raw.select(F.col("src").alias("vertex"), "deg").distinct()
    # One join per hop: each adjacency row carries the DESTINATION's degree
    # (a_ddeg), so the walker lands already knowing the modulus for its next
    # pick — no per-step degree join. Fresh column names keep the
    # self-referencing joins unambiguous (cur derives from adj after hop 1).
    adj = (
        adj_raw.join(
            adj_raw.select(F.col("src").alias("dst"), F.col("deg").alias("ddeg")).distinct(),
            "dst",
        )
        .select(
            F.col("src").alias("a_src"),
            F.col("idx").alias("a_idx"),
            F.col("dst").alias("a_dst"),
            F.col("ddeg").alias("a_ddeg"),
        )
        # pre-partition by the per-hop join key and persist: the (large)
        # adjacency side is never re-exchanged inside the hop loop — only the
        # walker frontier shuffles (mirrors Graph.edges_sym's scatter layout)
        .repartition(graph.num_partitions, "a_src", "a_idx")
        .persist()
    )

    cur = deg.select(F.col("vertex").alias("walk_id"), "vertex", "deg")
    levels = [cur.select("walk_id", F.lit(0).alias("step"), "vertex")]
    for s in range(1, walk_len + 1):
        picked = cur.select(
            "walk_id",
            F.col("vertex").alias("a_src"),
            _mix(mixer, F.col("walk_id"), s, F.col("vertex"), F.col("deg")).alias("a_idx"),
        )
        cur = picked.hint("shuffle_hash").join(adj, ["a_src", "a_idx"]).select(
            "walk_id", F.col("a_dst").alias("vertex"), F.col("a_ddeg").alias("deg")
        )
        # checkpoint each hop: the returned trace unions every level, so an
        # un-truncated level s would recompute joins 1..s — O(L²) work.
        # Lazy (eager=False): the plan is cut now, each level's RDD computes
        # (and caches) exactly once at the terminal action — the whole walk
        # is ONE Spark job instead of one per hop.
        cur = truncate_lineage(cur, eager=False)
        levels.append(cur.select("walk_id", F.lit(s).alias("step"), "vertex"))

    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def weighted_random_walks(
    graph: Graph,
    walk_len: int,
    mixer: str = "xxhash",
) -> DataFrame:
    """Edge-weight-proportional random walks for INTEGER-weighted graphs
    (e.g. co-change counts): each undirected pair's weight w (parallel edges
    summed) expands into w adjacency SLOTS, so a uniform pick over
    ``mix mod wdeg(v)`` is an exact weight-proportional neighbor choice that
    still runs as ONE perfectly-selective equi-join per hop — the hub-safe
    shape of ``random_walks``, paid for with a Σw-row adjacency (expansion
    factor = mean weight; for large/fractional weights quantize first, or
    use an alias table — documented envelope, not a silent cast).

    Returns ``(walk_id, step, vertex)``; raises if any weight < 1 or has a
    fractional part."""
    e = graph.edges.select("src", "dst", "weight").filter(F.col("src") != F.col("dst"))
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    # canonical per-(src,dst) integer weight: parallel edges summed
    pairs = sym.groupBy("src", "dst").agg(F.sum("weight").alias("w"))
    bad = pairs.filter(
        (F.col("w") < 1) | (F.col("w") != F.floor(F.col("w")))
    ).count()
    if bad:
        raise ValueError(
            f"weighted_random_walks needs integer weights >= 1 ({bad} bad pairs)"
        )
    pairs = pairs.select("src", "dst", F.col("w").cast("long").alias("w"))

    w_spec = Window.partitionBy("src")
    cum = pairs.select(
        "src",
        "dst",
        "w",
        F.sum("w").over(w_spec.orderBy("dst")).alias("cum"),
        F.sum("w").over(w_spec).alias("wdeg"),
    )
    ddeg = cum.select(F.col("src").alias("dst"), "wdeg").distinct().withColumnRenamed(
        "wdeg", "ddeg"
    )
    adj = (
        cum.join(ddeg, "dst")
        .select(
            F.col("src").alias("a_src"),
            F.explode(F.sequence(F.col("cum") - F.col("w"), F.col("cum") - 1)).alias(
                "a_idx"
            ),
            F.col("dst").alias("a_dst"),
            F.col("ddeg").alias("a_ddeg"),
        )
        .repartition(graph.num_partitions, "a_src", "a_idx")
        .persist()
    )

    start = cum.select(F.col("src").alias("vertex"), F.col("wdeg").alias("deg")).distinct()
    cur = start.select(F.col("vertex").alias("walk_id"), "vertex", "deg")
    levels = [cur.select("walk_id", F.lit(0).alias("step"), "vertex")]
    for s in range(1, walk_len + 1):
        picked = cur.select(
            "walk_id",
            F.col("vertex").alias("a_src"),
            _mix(mixer, F.col("walk_id"), s, F.col("vertex"), F.col("deg")).alias("a_idx"),
        )
        cur = picked.hint("shuffle_hash").join(adj, ["a_src", "a_idx"]).select(
            "walk_id", F.col("a_dst").alias("vertex"), F.col("a_ddeg").alias("deg")
        )
        cur = truncate_lineage(cur, eager=False)  # one job total, see random_walks
        levels.append(cur.select("walk_id", F.lit(s).alias("step"), "vertex"))

    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def node2vec_walks(
    graph: Graph,
    walk_len: int,
    p: float = 1.0,
    q: float = 1.0,
    mixer: str = "xxhash",
    max_degree: int | None = 100_000,
    weighted: bool = False,
) -> DataFrame:
    """node2vec (Grover & Leskovec 2016) second-order biased walks: from
    ``cur`` having arrived from ``prev``, the unnormalized probability of
    stepping to neighbor ``x`` is 1/p if x = prev (return), 1 if x ∈ N(prev)
    (stay close), else 1/q (explore). One walk per vertex, hop 1 uniform
    first-order, steps 0..walk_len; returns ``(walk_id, step, vertex)``.

    Exact-sampling shape: p and q are converted to EXACT rationals and the
    three weights scaled to integers (return/in/out slot counts), so the
    biased pick is a uniform ``mix mod W(prev, cur)`` over a slot-expanded
    SECOND-ORDER adjacency keyed ``(prev, cur, slot_idx)`` — each hop is still
    ONE perfectly-selective equi-join per walker (the hub-safe shape of
    ``random_walks``; same deterministic mixer, so the affine variant is
    DuckDB-replayable).

    The cost moved to BUILD time, where it belongs at corpus scale: the slot
    table has Σ_v deg(v)² · O(scaled weights) rows — the same footprint as
    node2vec's alias tables, built distributively (triple join + window
    cumsum, no driver state). ``max_degree`` guards the quadratic hub
    envelope: when the graph's max degree exceeds it, every hub is CAPPED to
    its ``max_degree`` heaviest neighbors (smallest-id ties; the standard
    production mitigation — walks are then exact on the capped graph, slot
    rows ≤ m·max_degree instead of Σ deg²) with a logged warning. Pass
    ``max_degree=None`` to forbid capping and pay the full quadratic build.

    ``weighted=True`` gives the full Grover-Leskovec transition — bias ×
    EDGE WEIGHT π(x) = α_pq(prev, x) · w(cur, x) — with the same integer
    exactness contract as ``weighted_random_walks`` (weights must be
    integers ≥ 1; parallel edges summed; slot expansion factor × mean
    weight; hop 1 is weight-proportional first-order)."""
    from fractions import Fraction
    from math import lcm

    fp, fq = Fraction(str(p)), Fraction(str(q))
    if fp <= 0 or fq <= 0:
        raise ValueError("p and q must be positive")
    a_ret, a_out = 1 / fp, 1 / fq
    scale = lcm(a_ret.denominator, a_out.denominator)
    w_ret, w_in, w_out = (
        int(a_ret * scale), int(scale), int(a_out * scale),
    )

    s1 = (
        graph.edges_sym.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    if weighted:
        ew = graph.edges.select("src", "dst", "weight").filter(
            F.col("src") != F.col("dst")
        )
        symw = ew.unionByName(
            ew.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
        )
        pw = symw.groupBy("src", "dst").agg(F.sum("weight").alias("ww"))
        bad = pw.filter(
            (F.col("ww") < 1) | (F.col("ww") != F.floor(F.col("ww")))
        ).count()
        if bad:
            raise ValueError(
                f"weighted node2vec needs integer weights >= 1 ({bad} bad pairs)"
            )
        pw = pw.select("src", "dst", F.col("ww").cast("long").alias("ew"))
    else:
        pw = s1.withColumn("ew", F.lit(1).cast("long"))
    capped = False
    if max_degree is not None:
        top = (
            s1.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
            .agg(F.max("deg").alias("m")).collect()[0]["m"]
        )
        if top is not None and top > max_degree:
            # Hub capping (the standard production mitigation for node2vec's
            # O(deg²)-per-hub slot table): every vertex keeps only its
            # ``max_degree`` heaviest neighbors (ties → smallest dst id;
            # unweighted ⇒ the max_degree smallest ids — deterministic).
            # Hop 1, the slot table, the in-neighborhood classification and
            # every landing modulus all derive from this ONE capped
            # adjacency, so walks stay self-consistent — the bias is that
            # transitions THROUGH a hub see a truncated neighborhood
            # (documented node2vec degree-capping bias; exact walks on the
            # capped graph). Slot rows drop from Σ deg² to ≤ Σ deg·D = m·D.
            import logging

            logging.getLogger("sparkgraph").warning(
                "node2vec: max degree %d > max_degree=%d — capping every "
                "hub to its %d heaviest neighbors (walks are exact on the "
                "capped graph; raise max_degree to reduce the bias)",
                top, max_degree, max_degree,
            )
            wcap = Window.partitionBy("src").orderBy(
                F.desc("ew"), F.asc("dst")
            )
            pw = (
                pw.withColumn("rn", F.row_number().over(wcap))
                .filter(F.col("rn") <= max_degree)
                .drop("rn")
            )
            pw = truncate_lineage(pw, eager=False)
            s1 = pw.select("src", "dst")
            capped = True

    # second-order triples (prev -> cur -> x) with integer slot weights;
    # return beats in-neighborhood classification (loop-free base, so
    # x = prev is never itself an edge match)
    tri = (
        s1.select(F.col("src").alias("prev"), F.col("dst").alias("cur"))
        .join(
            pw.select(F.col("src").alias("cur"), F.col("dst").alias("x"), "ew"),
            "cur",
        )
        .join(
            s1.select(
                F.col("src").alias("prev"),
                F.col("dst").alias("x"),
                F.lit(1).alias("is_in"),
            ),
            ["prev", "x"],
            "left",
        )
        .select(
            "prev",
            "cur",
            "x",
            (
                F.when(F.col("x") == F.col("prev"), F.lit(w_ret))
                .when(F.col("is_in").isNotNull(), F.lit(w_in))
                .otherwise(F.lit(w_out))
                * F.col("ew")  # × edge weight (1 when unweighted — unchanged)
            )
            .cast("long")
            .alias("w"),
        )
    )
    win = Window.partitionBy("prev", "cur")
    slot = tri.select(
        "prev",
        "cur",
        "x",
        "w",
        F.sum("w").over(win.orderBy("x")).alias("cum"),
        F.sum("w").over(win).alias("wtot"),
    )
    # landing row carries the NEXT key's modulus W(cur, x) so the walker
    # never needs a separate degree join (same trick as random_walks)
    wtab = slot.select("prev", "cur", "wtot").distinct()
    adj2 = (
        slot.join(
            wtab.select(
                F.col("prev").alias("cur"),
                F.col("cur").alias("x"),
                F.col("wtot").alias("wnext"),
            ),
            ["cur", "x"],
        )
        .select(
            F.col("prev").alias("a_prev"),
            F.col("cur").alias("a_cur"),
            F.explode(F.sequence(F.col("cum") - F.col("w"), F.col("cum") - 1)).alias(
                "a_idx"
            ),
            F.col("x").alias("a_dst"),
            F.col("wnext").alias("a_wnext"),
        )
        .repartition(graph.num_partitions, "a_prev", "a_cur", "a_idx")
        # joined once per hop by the returned lazy plan — an in-function
        # unpersist would recompute the Σdeg² slot table every hop (see
        # text.tfidf_top_terms note); LRU-evictable, ContextCleaner-reclaimed
        .persist()
    )

    # hop 1: first-order over the dst-ranked adjacency (uniform, or
    # weight-proportional slots when weighted), landing with the
    # second-order modulus W(start, nbr)
    if weighted:
        w1 = Window.partitionBy("src")
        cum1 = pw.select(
            "src", "dst", "ew",
            F.sum("ew").over(w1.orderBy("dst")).alias("cum1"),
            F.sum("ew").over(w1).alias("wdeg"),
        )
        adj1 = cum1.select(
            "src",
            F.explode(
                F.sequence(F.col("cum1") - F.col("ew"), F.col("cum1") - 1)
            ).alias("idx"),
            "dst",
            F.col("wdeg").alias("deg"),
        )
    elif capped:
        # hop 1 must sample the SAME capped adjacency the slot table was
        # built from, or walkers step onto pairs with no transition row
        w1 = Window.partitionBy("src")
        adj1 = s1.select(
            "src",
            (F.row_number().over(w1.orderBy("dst")) - 1).cast("long").alias("idx"),
            "dst",
            F.count(F.lit(1)).over(w1).alias("deg"),
        )
    else:
        adj1 = indexed_adjacency(graph)
    deg = adj1.select(F.col("src").alias("vertex"), "deg").distinct()
    start = deg.select(F.col("vertex").alias("walk_id"), "vertex", "deg")
    levels = [start.select("walk_id", F.lit(0).alias("step"), F.col("vertex"))]
    hop1 = adj1.join(
        wtab.select(
            F.col("prev").alias("src"), F.col("cur").alias("dst"),
            F.col("wtot").alias("wnext"),
        ),
        ["src", "dst"],
    )
    picked = start.select(
        "walk_id",
        F.col("vertex").alias("src"),
        _mix(mixer, F.col("walk_id"), 1, F.col("vertex"), F.col("deg")).alias("idx"),
    )
    cur = picked.hint("shuffle_hash").join(hop1, ["src", "idx"]).select(
        "walk_id",
        F.col("src").alias("prev"),
        F.col("dst").alias("vertex"),
        F.col("wnext"),
    )
    cur = truncate_lineage(cur, eager=False)
    levels.append(cur.select("walk_id", F.lit(1).alias("step"), "vertex"))

    for s in range(2, walk_len + 1):
        picked = cur.select(
            "walk_id",
            F.col("prev").alias("a_prev"),
            F.col("vertex").alias("a_cur"),
            _mix(mixer, F.col("walk_id"), s, F.col("vertex"), F.col("wnext")).alias(
                "a_idx"
            ),
        )
        cur = picked.hint("shuffle_hash").join(
            adj2, ["a_prev", "a_cur", "a_idx"]
        ).select(
            "walk_id",
            F.col("a_cur").alias("prev"),
            F.col("a_dst").alias("vertex"),
            F.col("a_wnext").alias("wnext"),
        )
        cur = truncate_lineage(cur, eager=False)  # one job total, see random_walks
        levels.append(cur.select("walk_id", F.lit(s).alias("step"), "vertex"))

    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """Walk trace → (center, context, n_cooc): co-occurrence counts of vertex
    pairs within ±window steps on the same walk (both directions, the
    standard skip-gram context).

    Scale shape: each center row explodes into its ≤ 2·window concrete
    context offsets FIRST, then equi-joins on ``(walk_id, step)`` — join
    volume is O(L·window) per walk. (A plain self-join on walk_id followed by
    a |sa−sb| ≤ window filter materializes (L+1)² rows per walk inside the
    join — a 16–64× blow-up at corpus walk lengths of 40–80.) Out-of-range
    offsets (< 0 or > L) simply find no match. One shuffle, map-side combined
    counts."""
    offsets = F.array(
        *[F.lit(o) for o in range(-window, window + 1) if o != 0]
    )
    a = walks.select(
        "walk_id",
        F.col("vertex").alias("center"),
        F.explode(F.transform(offsets, lambda o: F.col("step") + o)).alias("sb"),
    )
    b = walks.select(
        "walk_id", F.col("step").alias("sb"), F.col("vertex").alias("context")
    )
    return (
        a.join(b, ["walk_id", "sb"])
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_cooc"))
    )
