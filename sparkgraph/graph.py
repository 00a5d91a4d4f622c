"""Graph abstraction over an edge DataFrame.

Maps the reference's per-worker vertex/adjacency maps (worker/worker.go:51,66)
onto persisted, hash-partitioned DataFrames:

  * ``edges_sym`` — the symmetrized multigraph view (operator A2,
    worker/worker.go:164-199): every input edge emitted in BOTH directions,
    duplicates KEPT. Persisted and pre-partitioned by ``src`` so the
    per-superstep scatter join never reshuffles the (large) edge side.
  * ``degrees`` — out-degree on the symmetrized view (counts parallel edges),
    the divisor of PageRank's scatter (worker/pagerank.go:37-43). One
    aggregate over the cached ``edges_sym``, already partitioned by ``src``,
    so it adds no shuffle.
  * ``vertices`` — distinct endpoint ids (operator A11,
    worker/worker.go:146-147): vertices exist only if they appear in ≥1 edge.
    After symmetrization every endpoint is a ``src``, so these are the keys
    of ``degrees``; and ``num_vertices`` / ``num_sym_edges`` are its row
    count and ``sum(deg)``, read by one aggregate. Building a graph thus
    scans the input once and shuffles once (the ``repartition(src)``).

At cluster scale the partition count should be sized so each edge partition
fits comfortably in executor memory; AQE coalesces the shuffle side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


class Graph:
    def __init__(
        self,
        edges: DataFrame,
        num_partitions: int | None = None,
        persist: bool = True,
    ):
        """``edges``: (src: long, dst: long[, weight: double]) directed input
        edges. The symmetrized view is derived lazily; weight defaults to 1.0.
        """
        if "weight" not in edges.columns:
            edges = edges.withColumn("weight", F.lit(1.0))
        self.spark = edges.sparkSession
        self.edges = edges.select("src", "dst", "weight")
        if num_partitions is None:
            num_partitions = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        self.num_partitions = num_partitions
        self._persist = persist
        self._edges_sym: DataFrame | None = None
        self._degrees: DataFrame | None = None
        self._counts: tuple[int, int] | None = None

    # -- derived views ----------------------------------------------------

    @property
    def edges_sym(self) -> DataFrame:
        """Symmetrized multigraph: edges ∪ reverse(edges), NO dedup (A2)."""
        if self._edges_sym is None:
            rev = self.edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
            )
            # partitioned by src (scatter-join key) and pre-sorted within
            # partitions so a sort-merge scatter join never re-sorts the big
            # edge side inside the superstep loop
            sym = (
                self.edges.unionByName(rev)
                .repartition(self.num_partitions, F.col("src"))
                .sortWithinPartitions("src")
            )
            if self._persist:
                sym = sym.persist(StorageLevel.MEMORY_AND_DISK)
            self._edges_sym = sym
        return self._edges_sym

    @property
    def degrees(self) -> DataFrame:
        """(id: long, deg: long) — symmetrized out-degree, parallel edges count.

        After symmetrization every vertex has deg ≥ 1 (SURVEY.md §1.4.4), so
        PageRank has no dangling-mass term.
        """
        if self._degrees is None:
            d = self.edges_sym.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("deg")
            )
            if self._persist:
                d = d.persist(StorageLevel.MEMORY_AND_DISK)
            self._degrees = d
        return self._degrees

    @property
    def vertices(self) -> DataFrame:
        """(id: long) — every distinct endpoint (A11): the keys of ``degrees``,
        hash-partitioned on ``id`` like it."""
        return self.degrees.select("id")

    @property
    def weighted_degrees(self) -> DataFrame:
        """(id, wdeg: double) — sum of outgoing edge weights on the
        symmetrized view (== degrees when all weights are 1.0)."""
        return self.edges_sym.groupBy(F.col("src").alias("id")).agg(
            F.sum("weight").alias("wdeg")
        )

    def _count(self) -> tuple[int, int]:
        """(|V|, symmetrized edge count) from one aggregate over ``degrees``."""
        if self._counts is None:
            row = self.degrees.agg(
                F.count(F.lit(1)), F.coalesce(F.sum("deg"), F.lit(0))
            ).collect()[0]
            self._counts = (int(row[0]), int(row[1]))
        return self._counts

    @property
    def num_vertices(self) -> int:
        return self._count()[0]

    @property
    def num_sym_edges(self) -> int:
        """Rows of ``edges_sym``: twice the input edges, parallel edges and
        self-loops included."""
        return self._count()[1]

    # -- helpers -----------------------------------------------------------

    def simple_undirected(self) -> DataFrame:
        """Deduplicated simple undirected edge set as canonical (u < v) pairs.

        Drops self-loops and parallel edges. Used by triangle counting, which
        is defined on the simple graph (FIXTURES.md §4 documents the dedup).
        """
        return (
            self.edges.select(
                F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def unpersist(self) -> None:
        for df in (self._edges_sym, self._degrees):
            if df is not None:
                df.unpersist()
        # release the session-cached CSR pack built over this graph, if any
        pg = self.__dict__.pop("_csr_pack_cache", None)
        if pg is not None:
            pg.unpersist()


def project_bipartite(
    edges: DataFrame,
    on: str = "dst",
    via: str = "src",
    min_weight: int = 1,
    max_group_size: int = 10_000,
) -> DataFrame:
    """One-mode projection of a bipartite edge table: nodes of the ``on``
    side become vertices, connected (u < v, weighted) by how many ``via``
    nodes they co-occur under — the standard construction of co-occurrence
    link graphs (co-order suppliers, co-commit files, co-citation papers).

    Returns ``(src, dst, weight)`` with weight = co-occurrence count,
    ``weight ≥ min_weight``. The self-join is quadratic per via-group, so
    via-nodes touching more than ``max_group_size`` on-nodes are dropped —
    the same explicit skew cap as the co-change derivation (a via-hub of
    degree d alone yields d²/2 pairs)."""
    m = edges.select(F.col(via).alias("k"), F.col(on).alias("x")).distinct()
    sized = m.groupBy("k").agg(F.count(F.lit(1)).alias("nx"))
    ok = m.join(
        sized.filter(F.col("nx") <= max_group_size).select("k"), "k", "left_semi"
    )
    a = ok.select("k", F.col("x").alias("src"))
    b = ok.select("k", F.col("x").alias("dst"))
    return (
        a.join(b, "k")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
        .filter(F.col("weight") >= min_weight)
        .select("src", "dst", F.col("weight").cast("double").alias("weight"))
    )


def graph_diff(old_edges: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Edge-level diff of two graph snapshots (e.g. two TableIO versions of
    the same edge table): one row per directed (src, dst) pair that appears
    in exactly one side, tagged ``change`` = 'added' | 'removed'. Weights and
    multiplicity are ignored — this is the structural diff that drives
    incremental recompute decisions (which components/scores can be
    warm-started vs must rerun).

    Scale shape: two left-anti joins on the (src, dst) key — each one
    shuffle, no full materialization of either snapshot beyond the key
    columns."""
    o = old_edges.select("src", "dst").distinct()
    n = new_edges.select("src", "dst").distinct()
    added = n.join(o, ["src", "dst"], "left_anti").select(
        "src", "dst", F.lit("added").alias("change")
    )
    removed = o.join(n, ["src", "dst"], "left_anti").select(
        "src", "dst", F.lit("removed").alias("change")
    )
    return added.unionByName(removed)


def reciprocity(edges: DataFrame) -> DataFrame:
    """Dyad census of the DIRECTED simple graph: counts of mutual pairs
    (both u→v and v→u exist), asymmetric pairs (exactly one direction), and
    the reciprocity ratio mutual_pairs / connected_pairs. One row:
    ``(n_mutual_pairs, n_asym_pairs, reciprocity)``. Self-loops excluded.

    Scale shape: canonical-pair groupBy counting directions per unordered
    pair — one shuffle, map-side combined."""
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    pairs = e.select(
        F.least("src", "dst").alias("u"),
        F.greatest("src", "dst").alias("v"),
    ).groupBy("u", "v").agg(F.count(F.lit(1)).alias("ndir"))
    return pairs.agg(
        F.coalesce(F.sum((F.col("ndir") == 2).cast("long")), F.lit(0)).alias(
            "n_mutual_pairs"
        ),
        F.coalesce(F.sum((F.col("ndir") == 1).cast("long")), F.lit(0)).alias(
            "n_asym_pairs"
        ),
        F.round(
            F.coalesce(F.sum((F.col("ndir") == 2).cast("long")), F.lit(0))
            / F.greatest(F.count(F.lit(1)), F.lit(1)),
            6,
        ).alias("reciprocity"),
    )


def butterfly_count(
    edges: DataFrame,
    on: str = "dst",
    via: str = "src",
    max_group_size: int = 10_000,
) -> DataFrame:
    """Count butterflies (bipartite 4-cycles — 2 ``on``-nodes sharing 2
    ``via``-nodes), THE standard bipartite cohesion motif (Sanei-Mehri et
    al. 2018). One row ``(n_butterflies,)``.

    Built on the one-mode projection: for each on-pair with co-occurrence
    weight w, the pair closes C(w, 2) butterflies — so the count is one
    aggregation over the (already skew-capped) projection, no 4-way join.
    ``max_group_size`` caps via-hubs exactly as in ``project_bipartite``
    (a via-hub of degree d alone contributes d²/2 wedge pairs)."""
    proj = project_bipartite(
        edges, on=on, via=via, min_weight=2, max_group_size=max_group_size
    )
    return proj.agg(
        F.coalesce(
            F.sum(F.col("weight") * (F.col("weight") - 1) / 2), F.lit(0.0)
        )
        .cast("long")
        .alias("n_butterflies")
    )
