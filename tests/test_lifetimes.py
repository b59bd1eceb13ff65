"""Checkpoint lifetime of the iterative algorithms: a call leaves alive
only the materialized checkpoints that its result reads, and a call that
raises leaves none.

"Alive" is Spark's persistent-RDD registry; "reads" is the set of RDDs
behind the ``LogicalRDD`` leaves of the returned frames' analyzed plans."""

import pytest
from pyspark.sql import DataFrame

from pregel_rs_spark import GraphFrame, algorithms as A

# two directed cycles ({0,1,2} and {3,4,5}, K4 on 0..3 undirected), a
# two-vertex tail in front of them and a path behind them
EDGES = [
    (11, 10), (10, 0), (0, 1), (1, 2), (2, 0), (0, 3), (1, 3), (2, 3),
    (3, 4), (4, 5), (5, 3), (5, 6), (6, 7), (7, 8), (8, 9),
]


def _seeds(g):
    return g.vertices.sparkSession.createDataFrame([(0,)], "vertex_id long")


CALLS = {
    "pagerank": lambda g: A.pagerank(g, max_iterations=5),
    "personalized_pagerank": lambda g: A.personalized_pagerank(
        g, [0], max_iterations=5),
    "trustrank": lambda g: A.trustrank(g, _seeds(g), max_iterations=5),
    "spam_mass": lambda g: A.spam_mass(g, _seeds(g), max_iterations=5),
    "connected_components": lambda g: A.connected_components(g),
    "connected_components_star": lambda g: A.connected_components(
        g, method="star"),
    "label_propagation": lambda g: A.label_propagation(g, 3),
    "hits": lambda g: A.hits(g, 3),
    "salsa": lambda g: A.salsa(g, 3),
    "sssp": lambda g: A.sssp(g, 0),
    "strongly_connected_components": A.strongly_connected_components,
    "bowtie_classes": A.bowtie_classes,
    "k_core": lambda g: A.k_core(g, 2),
    "k_truss": lambda g: A.k_truss(g, 3),
    "coreness": A.coreness,
    "maximal_independent_set": A.maximal_independent_set,
    "maximal_matching": A.maximal_matching,
    "coarsen_graph": A.coarsen_graph,
    "topo_layers": lambda g: A.topo_layers(g, 5),
    "landmark_distances": lambda g: A.landmark_distances(g, [0, 5], 4),
    "betweenness": lambda g: A.betweenness(g, [0, 3], 3),
    "edge_betweenness": lambda g: A.edge_betweenness(g, [0, 3], 3),
    "minimum_spanning_forest": A.minimum_spanning_forest,
    "greedy_coloring": A.greedy_coloring,
    "wl_colors": lambda g: A.wl_colors(g, 2),
    "densest_subgraph": lambda g: A.densest_subgraph(g, return_subgraph=True),
    "louvain": lambda g: A.louvain(g, 2),
    "opic": lambda g: A.opic(g, 3),
    "katz_centrality": lambda g: A.katz_centrality(g, k=3),
    "eigenvector_centrality": lambda g: A.eigenvector_centrality(g, k=3),
    "random_walks": lambda g: A.random_walks(g, 3),
    "node2vec_walks": lambda g: A.node2vec_walks(g, 3),
    "neighborhood_sizes": lambda g: A.neighborhood_sizes(g, 2),
    "hyperball_registers": lambda g: A.hyperball_registers(g, 2),
    "harmonic_centrality": lambda g: A.harmonic_centrality(g, 3),
    "neighborhood_function_frame": lambda g: A.neighborhood_function_frame(
        g, 2),
    "effective_diameter": lambda g: A.effective_diameter(g, max_k=3),
    "effective_diameter_frame": lambda g: A.effective_diameter_frame(g, 2),
}


@pytest.fixture(scope="module")
def graph(spark):
    return GraphFrame.from_edges(
        spark.createDataFrame(EDGES, "subject long, object long")
    )


def _persistent(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _frames(result) -> list[DataFrame]:
    if isinstance(result, DataFrame):
        return [result]
    if isinstance(result, tuple):
        return [r for r in result if isinstance(r, DataFrame)]
    return []


def _scanned(df: DataFrame) -> set[int]:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    ids = set()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            ids.add(leaf.rdd().id())
    return ids


@pytest.mark.parametrize("name", sorted(CALLS))
def test_call_keeps_only_what_its_result_reads(spark, graph, name):
    before = _persistent(spark)
    result = CALLS[name](graph)
    created = _persistent(spark) - before
    frames = _frames(result)
    read = set().union(*map(_scanned, frames))
    assert created - read == set(), f"{name} left unread checkpoints"
    for df in frames:  # what is kept is enough to evaluate the result
        df.collect()


def test_strict_raise_frees_every_checkpoint(spark, graph):
    before = _persistent(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        A.maximal_matching(graph, max_rounds=1, strict=True)
    assert _persistent(spark) - before == set()
