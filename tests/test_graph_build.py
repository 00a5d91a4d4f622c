"""Building a Graph: the vertex side (``vertices``, ``num_vertices``,
``num_sym_edges``) comes from ``degrees`` over the cached ``edges_sym``, so
it reads the input no second time and adds no shuffle; and the session's
Python workers run ``sparkgraph.worker_daemon``."""

import pytest

from sparkgraph.graph import Graph
from sparkgraph.io.edgelist import edges_from_pairs

# self-loops (3,3) and (5,5), vertex 7 only on a self-loop, parallel edges
# (1,2) x2 and reciprocal pairs
PAIRS = [(1, 2), (1, 2), (2, 1), (2, 3), (3, 3), (7, 7), (4, 5), (5, 4), (5, 5)]


@pytest.fixture
def graph(spark):
    g = Graph(edges_from_pairs(spark, PAIRS), num_partitions=4)
    yield g
    g.unpersist()


def _ids(df):
    return [r["id"] for r in df.collect()]


def test_vertices_are_the_distinct_endpoints(graph):
    ids = _ids(graph.vertices)
    assert sorted(ids) == sorted({v for e in PAIRS for v in e})


def test_num_vertices_counts_vertices(graph):
    assert graph.num_vertices == graph.vertices.count() == 6


def test_num_sym_edges_counts_edges_sym(graph):
    assert graph.num_sym_edges == graph.edges_sym.count() == 2 * len(PAIRS)


def test_empty_graph_counts_are_zero(spark):
    g = Graph(spark.createDataFrame([], "src long, dst long"), num_partitions=2)
    assert (g.num_vertices, g.num_sym_edges) == (0, 0)
    g.unpersist()


def _walk(plan, stop):
    """Physical plan nodes, walking into adaptive plans, query stages and
    cached plans, except the cached plan of the cache ``stop``."""
    out = [plan]
    name = plan.getClass().getSimpleName()
    if name == "InMemoryTableScanExec":
        rel = plan.relation()
        inner = [] if stop is not None and rel.cacheBuilder().equals(stop) else [rel.cachedPlan()]
    elif name == "AdaptiveSparkPlanExec":
        inner = [plan.executedPlan()]
    elif name.endswith("QueryStageExec"):
        inner = [plan.plan()]
    else:
        kids = plan.children()
        inner = [kids.apply(i) for i in range(kids.size())]
    for node in inner:
        out += _walk(node, stop)
    return out


def _names(df, stop=None):
    return [n.getClass().getSimpleName() for n in _walk(df._jdf.queryExecution().executedPlan(), stop)]


def test_vertices_plan_reads_only_the_cached_edges(spark, tmp_path):
    path = str(tmp_path / "edges")
    edges_from_pairs(spark, PAIRS).write.parquet(path)
    g = Graph(spark.read.parquet(path), num_partitions=4)
    try:
        g.edges_sym.count()
        sym = next(
            n for n in _walk(g.edges_sym._jdf.queryExecution().executedPlan(), None)
            if n.getClass().getSimpleName() == "InMemoryTableScanExec"
        )
        sym_cache = sym.relation().cacheBuilder()
        assert "FileSourceScanExec" in _names(g.edges_sym)  # the walk sees files
        names = _names(g.vertices, stop=sym_cache)
        assert "InMemoryTableScanExec" in names
        assert not [n for n in names if "Exchange" in n or ("Scan" in n and "InMemory" not in n)]
    finally:
        g.unpersist()


def test_python_workers_run_the_sparkgraph_daemon(spark):
    def origin(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__module__

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(origin).collect()
    assert got == ["sparkgraph.worker_daemon"]


def test_daemon_only_where_workers_can_import_it(monkeypatch, tmp_path):
    from sparkgraph import session

    assert session._workers_import_sparkgraph()  # the suite runs from the repo root
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert not session._workers_import_sparkgraph()
