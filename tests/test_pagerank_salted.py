"""Salted-gather PageRank ≡ plain PageRank on a skewed graph."""

import math

from sparkgraph.algorithms import pagerank
from sparkgraph.graph import Graph
from sparkgraph.io.synth import powerlaw_edges


def test_salted_pagerank_equals_plain(spark):
    g = Graph(powerlaw_edges(spark, 30_000, 1_000), num_partitions=4)
    plain = {r.id: r.value for r in pagerank(g, iterations=8).state.collect()}
    salted = {
        r.id: r.value
        for r in pagerank(g, iterations=8, salting_threshold=100, salts=8).state.collect()
    }
    assert set(plain) == set(salted)
    assert all(math.isclose(plain[v], salted[v], rel_tol=1e-12) for v in plain)
    g.unpersist()


def _cached_rdds(spark):
    """Ids of the persisted RDDs, leaving out the loop's local checkpoints
    (also persisted RDDs, released when the JVM collects them)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {i for i, r in rdds.items() if not r.rdd().isLocallyCheckpointed()}


def test_salted_pagerank_releases_its_hub_table(spark):
    g = Graph(powerlaw_edges(spark, 3_000, 200), num_partitions=4)
    # the graph's own cached views are built before the call
    g.degrees.count()
    assert g.num_vertices > 0
    before = _cached_rdds(spark)
    pagerank(g, iterations=2, salting_threshold=20, salts=4)
    assert _cached_rdds(spark) == before
    g.unpersist()
