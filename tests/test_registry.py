"""Registry invariants: the query set and its oracle set are pinned, so
moving builders between modules cannot silently drop a query or an
oracle."""

import importlib
import pkgutil

import sdg_engine


def test_registry_size_and_oracle_coverage():
    from sdg_engine.oracles import all_oracles
    from sdg_engine.queries import QUERIES

    assert len(QUERIES) == 347
    assert set(QUERIES) == set(all_oracles())


def test_query_modules_share_one_plumbing_module():
    """Every query module uses qcommon's helpers, never a copy."""
    from sdg_engine import qcommon

    mods = [m.name for m in pkgutil.iter_modules(sdg_engine.__path__)
            if m.name.startswith("queries")]
    assert "queries" in mods
    for name in mods:
        mod = importlib.import_module(f"sdg_engine.{name}")
        for helper in ("_t", "_drain_confs", "_fixture_images", "_spread",
                       "_stream_base", "_drain_dirs", "_pin_batch_order"):
            if hasattr(mod, helper):
                assert getattr(mod, helper) is getattr(qcommon, helper), (name, helper)


def _query_modules():
    return [importlib.import_module(f"sdg_engine.{m.name}")
            for m in pkgutil.iter_modules(sdg_engine.__path__)
            if m.name.startswith("queries")]


def test_road_edges_are_built_only_in_the_graph_module():
    """The road-edge fragment lives in graph.py, never in a query module."""
    import inspect

    for mod in _query_modules():
        assert "nds[i - 1] AS a" not in inspect.getsource(mod), mod.__name__


def test_query_modules_share_one_graph_module():
    """Every graph primitive a query module exposes is graph.py's own."""
    from sdg_engine import graph

    for mod in _query_modules():
        for helper in ("_BFS_NODE", "_PR_NODE_A", "_PR_NODE_B", "road_edges",
                       "_spw_edges", "hubs", "bfs_hops", "label_propagation",
                       "_components_jump", "connected_components"):
            if hasattr(mod, helper):
                assert getattr(mod, helper) is getattr(graph, helper), (
                    mod.__name__, helper)


def test_golden_image_selection_is_written_once():
    """The golden image bound appears in exactly one query module."""
    import inspect

    holders = [mod.__name__ for mod in _query_modules()
               if "img000000000500" in inspect.getsource(mod)]
    assert holders == ["sdg_engine.queries_image"]


def test_query_modules_share_one_image_stats_table():
    """Every image_* stats builder a wave module exposes is queries_image's."""
    from sdg_engine import queries_image

    assert len(queries_image.IMAGE_STATS) == 36
    for mod in _query_modules():
        for name in queries_image.IMAGE_STATS:
            if hasattr(mod, name):
                assert getattr(mod, name) is getattr(queries_image, name), (
                    mod.__name__, name)
                assert getattr(mod, name).__name__ == name


def test_one_decode_scaffold_for_per_image_stats():
    """The per-image stats kernels share one decode loop: the scaffold's
    ``decode_image(bytes(rr.bytes)`` is the only one under ops/."""
    import pathlib

    ops = pathlib.Path(sdg_engine.__file__).parent / "ops"
    hits = sum(p.read_text().count("decode_image(bytes(rr.bytes)")
               for p in ops.glob("*.py"))
    assert hits == 1
