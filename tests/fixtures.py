"""In-memory copies of the reference's bundled fixture graphs (FIXTURES.md §2),
and a Spark job counter for tests that pin job counts."""

GRAPH_MAIN = [  # client/test.txt — 18 edges, 23 vertices, 5 components
    (1, 4), (1, 18), (2, 3), (3, 4), (3, 5), (5, 8), (9, 10),
    (12, 14), (12, 15), (12, 16), (13, 14), (17, 18), (18, 25),
    (19, 18), (19, 20), (23, 25), (100, 120), (200, 210),
]

GRAPH_WORKER = GRAPH_MAIN[:-2]  # worker/test.txt — minus the last two pair-edges

GRAPH_CHAIN = [(1, 2), (1, 4), (2, 5), (3, 4)]  # client/test2.txt

# client/test_GraphX.txt — every GRAPH_MAIN edge listed explicitly both ways
GRAPH_DOUBLED = [e for s, d in GRAPH_MAIN for e in ((s, d), (d, s))]

# GRAPH_MAIN is triangle-free; adding (1, 3) creates exactly triangle {1,3,4}
GRAPH_MAIN_TRI = GRAPH_MAIN + [(1, 3)]


def count_jobs(spark, group, fn) -> tuple[int, object]:
    """Spark jobs ``fn`` starts, counted through a job group that no other
    call uses, and its result."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker reads the listener bus's output
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return len(sc.statusTracker().getJobIdsForGroup(group)), res
