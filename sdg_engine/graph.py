"""Road-graph primitives shared by every graph-family query: the 0.1°
polyline-vertex and integer-degree segment-endpoint quantizations, the
road-edge constructions, the max-degree hub pick, the BFS frontier loop,
label propagation and min-label connected components.

The loop helpers run their rounds under ``qcommon._drain_confs``
themselves (8 shuffle partitions and whole-stage codegen off, restored
on exit): each round plans fresh tiny jobs over a node- or label-sized
relation, so janino compile time dominates and never amortizes —
measured 17.9 s -> 6.6 s first-invocation on mst_roads, which nests
the components loop per Boruvka round.  The relation is the small side
by construction, so interpreted row processing is the right trade at
any scale; fact-table stages elsewhere keep codegen.  Every round
localCheckpoints (gotcha 15) so the logical plan stays O(1)
deep; persist() is no substitute, because it keeps the logical plan:
round k would still embed every earlier round plus the whole upstream
(e.g. the LSH candidate pipeline), and rendering that plan in the SQL
listener's explainString runs the JVM out of heap.  Callers need no
scope of their own around these helpers.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .qcommon import _drain_confs, _fixture_images

# node id of a polyline vertex at 0.1-degree cells — shared fragment
# with the DuckDB oracle (FLOOR(x*10+0.5): round-half-up both engines)
_BFS_NODE = (
    "(CAST(FLOOR({x} * 10 + 0.5) AS BIGINT) + 100) * 1000 "
    "+ (CAST(FLOOR({y} * 10 + 0.5) AS BIGINT) + 100)"
)

# node id of a harness segment endpoint at integer-degree cells (the
# PageRank / HITS road graph over harness.segments_df, ``by`` renamed
# ``byy``): FLOOR(x + 0.5) rounds half-up in BOTH engines, where CAST
# rounds in DuckDB but truncates in Spark (gotcha 7).  Node id =
# (cx + 100) * 1000 + (cy + 100) stays positive.
_PR_NODE_A = (
    "(CAST(FLOOR(ax + 0.5) AS BIGINT) + 100) * 1000 "
    "+ (CAST(FLOOR(ay + 0.5) AS BIGINT) + 100)"
)
_PR_NODE_B = (
    "(CAST(FLOOR(bx + 0.5) AS BIGINT) + 100) * 1000 "
    "+ (CAST(FLOOR(byy + 0.5) AS BIGINT) + 100)"
)

_LPA_ROUNDS = 4
_DIAM_MAX_HOPS = 32  # diameter/bipartite BFS bound — mirrored in the oracles


def road_edges(roads, undirected: bool = False):
    """Edges of the quantized road graph: consecutive polyline vertices
    (``_BFS_NODE`` cells) connect, so roads sharing a cell connect.
    Self-loops drop and duplicates collapse.  Default: the symmetric
    ``src, dst`` edge list (both directions); ``undirected``: one
    ``u < v`` row per edge."""
    node = _BFS_NODE.format(x="c.x", y="c.y")
    segs = roads.selectExpr(
        f"transform(coords, c -> {node}) AS nds"
    ).selectExpr(
        "explode(transform(sequence(1, size(nds) - 1), "
        "i -> struct(nds[i - 1] AS a, nds[i] AS b))) AS e"
    ).select("e.a", "e.b")
    if undirected:
        return (
            segs.selectExpr("least(a, b) AS u", "greatest(a, b) AS v")
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
    return (
        segs.selectExpr("a AS src", "b AS dst")
        .unionAll(segs.selectExpr("b AS src", "a AS dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _spw_edges(spark, sf_dir):
    """Weighted road-graph edges: the BFS cell quantization plus an
    integer Euclidean weight in cell-mils between cell centers
    (FLOOR(sqrt*1000) of integer deltas — deterministic)."""
    _images, roads = _fixture_images(spark)
    w = (
        "CAST(FLOOR(SQRT(CAST((FLOOR(u / 1000) - FLOOR(v / 1000)) "
        "* (FLOOR(u / 1000) - FLOOR(v / 1000)) "
        "+ (u % 1000 - v % 1000) * (u % 1000 - v % 1000) AS DOUBLE)) "
        "* 1000) AS BIGINT)"
    )
    wed = road_edges(roads, undirected=True).selectExpr("u", "v", f"{w} AS w")
    return wed.selectExpr("u AS src", "v AS dst", "w").unionAll(
        wed.selectExpr("v AS src", "u AS dst", "w")
    )


def hubs(edges, k: int = 1):
    """The ``k`` highest-degree nodes of a symmetric ``src, dst`` edge
    list as a ``node`` column, ties to the smaller id — a deterministic
    seed set inside a real component, not a 2-node fragment of the
    quantized grid."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return (
        deg.orderBy(F.col("deg").desc(), F.col("src").asc())
        .limit(k)
        .select(F.col("src").alias("node"))
    )


def bfs_hops(edges, seeds, max_hops: int, key: str | None = None):
    """BFS hop labels ``[key,] node, hops`` from ``seeds`` (``[key,]
    node``) over a symmetric ``src, dst`` edge list, at most
    ``max_hops`` rounds.  With ``key`` every seed walks separately in
    the SAME per-round join (multi-source BFS: more rows, not more
    rounds).  Per round: frontier ⋈ edges equi-join on src + distinct +
    anti-join against visited; the frontier is bounded by the graph's
    expansion, never the full node set."""
    cols = ([key] if key else []) + ["node"]
    with _drain_confs(edges.sparkSession):
        visited = seeds.selectExpr(
            *cols, "CAST(0 AS INT) AS hops"
        ).localCheckpoint()
        frontier = visited
        for hop in range(1, max_hops + 1):
            nxt = (
                frontier.join(edges, frontier.node == edges.src)
                .selectExpr(*cols[:-1], "dst AS node")
                .distinct()
                .join(visited.select(*cols), cols, "left_anti")
                .withColumn("hops", F.lit(hop).cast("int"))
                .localCheckpoint()
            )
            if nxt.isEmpty():
                break
            visited = visited.unionByName(nxt).localCheckpoint()
            frontier = nxt
    return visited


def label_propagation(dirs):
    """Deterministic label propagation over a symmetric ``src, dst``
    edge list: ``_LPA_ROUNDS`` synchronous rounds, each node adopting
    the most frequent label among its neighbors, ties to the smallest
    label (fixed rounds + a total-order tie-break remove the usual LPA
    nondeterminism).  Per round: one equi-join on src, one map-side
    combinable (dst, label) count and one per-dst ranking window.
    Returns ``v, label``."""
    with _drain_confs(dirs.sparkSession):
        labels = dirs.selectExpr("src AS v", "src AS label").distinct()
        pick = Window.partitionBy("dst").orderBy(F.desc("cnt"), F.asc("label"))
        for _ in range(_LPA_ROUNDS):
            cnt = (
                dirs.join(labels, dirs.src == labels.v)
                .groupBy("dst", "label")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            labels = (
                cnt.withColumn("rn", F.row_number().over(pick))
                .filter("rn = 1")
                .selectExpr("dst AS v", "label")
                .localCheckpoint()
            )
    return labels


def _components_jump(edges, verts_k, max_iter: int = 12):
    """Min-label connected components WITH POINTER JUMPING over
    ``src, dst`` edges and a ``k`` vertex column: label ← min(label,
    min-neighbor-label), then label ← label(label).  The jump halves
    the remaining label-tree depth each round, so convergence is
    O(log diameter): road corridors form chain-shaped components, and
    12 rounds cover diameter 2^12.  Raises when ``max_iter`` rounds do
    not converge — silently returning unconverged labels would diverge
    from the fully-converged oracles with no hint.

    The loop runs at 8 shuffle partitions: the label table is cells or
    component ids, orders of magnitude smaller than the vertex input
    (measured 6.9 s -> 3.6 s at sf0.1 with 8 vs the session's 32).
    Returns ``v, label``.

    The loop is pure fixed cost (~20 ms stages), so actions per round
    dominate: step and jump fold into ONE localCheckpoint per round
    (the step side, referenced twice by the jump self-join, is
    recomputed inside that single job), and the convergence probe
    rides on the checkpointed frame as a ``changed`` flag.
    """
    with _drain_confs(edges.sparkSession):
        und = edges.unionByName(
            edges.selectExpr("dst AS src", "src AS dst")
        ).localCheckpoint()
        labels = verts_k.selectExpr("k AS v", "k AS label").localCheckpoint()
        for _ in range(max_iter):
            nbr = (
                und.join(labels, und.src == labels.v)
                .groupBy("dst")
                .agg(F.min("label").alias("nl"))
            )
            stepped = (
                labels.join(nbr, labels.v == nbr.dst, "left")
                .selectExpr(
                    "v",
                    "label AS old",
                    "LEAST(label, COALESCE(nl, label)) AS label",
                )
            )
            j = stepped.selectExpr("v AS lv", "label AS l2")
            jumped = (
                stepped.join(j, stepped.label == j.lv)
                .selectExpr(
                    "v",
                    "LEAST(label, l2) AS label",
                    "LEAST(label, l2) < old AS changed",
                )
                .localCheckpoint()
            )
            done = jumped.filter("changed").isEmpty()
            labels = jumped.select("v", "label")
            if done:
                return labels
    raise RuntimeError(
        f"_components_jump did not converge in {max_iter} rounds"
    )


def connected_components(edges, vertices, id_col: str = "doc_id"):
    """``_components_jump`` over a vertex frame keyed by ``id_col``:
    label(v) converges to min(id) of v's connected component.
    Returns ``v, label``."""
    return _components_jump(edges, vertices.select(F.col(id_col).alias("k")))
