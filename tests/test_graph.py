"""Oracle parity for the road-graph family: every query built on the
graph module's edge constructions, frontier loop, label propagation or
min-label components, compared with its DuckDB oracle (or committed
golden) through the same canonical diff the full sweep uses."""

import pytest

GRAPH_QUERIES = [
    "road_graph_bfs",
    "closeness_roads",
    "betweenness_roads",
    "roads_graph_diameter",
    "roads_bipartite_check",
    "triangle_count_roads",
    "link_prediction_roads",
    "label_propagation_roads",
    "community_modularity",
    "kcore_roads",
    "shortest_path_weighted",
    "mst_roads",
    "spatial_dbscan",
    "roads_dissolve",
    "roads_strokes",
    "dedup_clusters",
]


@pytest.fixture(scope="module")
def oracles():
    from sdg_engine.oracles import all_oracles

    return all_oracles()


@pytest.mark.parametrize("name", GRAPH_QUERIES)
def test_graph_query_oracle_parity(spark, sf_dir, oracles, name):
    from sdg_engine.paritycheck import compare, run_oracle
    from sdg_engine.queries import QUERIES

    ok, msg = compare(QUERIES[name](spark, sf_dir), run_oracle(oracles[name], sf_dir))
    assert ok, msg
