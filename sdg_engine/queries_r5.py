"""Round-5 breadth queries: temporal as-of join + funnel pattern over
the events stream, a deterministic HyperLogLog distinct sketch, an
integer-exact fixed-iteration PageRank over the road-connectivity
graph, and BM25-style ranked retrieval over documents.

Every query here follows the repo's cross-engine parity rules
(CLAUDE.md gotchas 7/8): FLOOR instead of CAST-to-int, integer
arithmetic wherever a SUM folds over many rows, scalar double chains
only with + - * / on textually identical expressions, and COALESCE on
nullable join/window outputs so pandas never widens ints to floats.

Registered into queries.QUERIES via QUERIES_R5.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .qcommon import (
    _t,
    _drain_confs,
    _drain_dirs,
    _fixture_images,
    _pin_batch_order,
    _spread,
    _stream_base,
)
from .graph import (
    _BFS_NODE,
    _LPA_ROUNDS,  # noqa: F401 — the LPA oracle reads it from this module
    _PR_NODE_A,
    _PR_NODE_B,
    _components_jump,
    _spw_edges,
    bfs_hops,
    hubs,
    label_propagation,
    road_edges,
)
from .queries_image import (
    golden_images,
    image_hillshade,
    image_sobel_edges,
    image_flow_d8,
    image_watershed,
    image_viewshed,
    image_pit_fill,
    image_contours,
    image_regions,
    image_texture_glcm,
    image_quadtree,
    image_slope_aspect,
    image_strahler,
    image_hist_equalize,
    image_morphology,
)


# events.ts is TIMESTAMP_NTZ in the parquet; _prep pins the session to
# UTC so the NTZ->TIMESTAMP cast is the identity wall-clock mapping and
# unix micros agree exactly with DuckDB's epoch_us over the naive value.
_TS_US_SQL = "unix_micros(CAST(ts AS TIMESTAMP))"


# ---------------------------------------------------------------------------
# Temporal: as-of join + funnel (events)
# ---------------------------------------------------------------------------


def events_asof_join(spark, sf_dir):
    """AS-OF JOIN: for every click, the most recent STRICTLY-PRIOR view
    by the same user (tie-break: (ts, event_id) total order).

    Spark has no asof-join operator; the scalable form is a single
    window pass — partition by user, order by (ts, event_id),
    last(ignorenulls) over ROWS UNBOUNDED PRECEDING..1 PRECEDING — one
    shuffle on user_id, state O(1) per row, no self-join.  At 100 TB
    the same plan holds: one hash exchange on the join key, then a
    linear scan per partition (vs the naive inequality self-join's
    quadratic blowup).  Timestamps compare as unix micros (exact
    BIGINT) so engines can't disagree on sub-second ordering.
    """
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_view = F.col("event_type") == "view"
    return (
        ev.withColumn(
            "view_event_id",
            F.last(F.when(is_view, F.col("event_id")), ignorenulls=True).over(w),
        )
        .withColumn(
            "view_value",
            F.last(F.when(is_view, F.col("value")), ignorenulls=True).over(w),
        )
        .withColumn(
            "view_us",
            F.last(F.when(is_view, F.expr(_TS_US_SQL)), ignorenulls=True).over(w),
        )
        .filter(F.col("event_type") == "click")
        .select(
            "event_id",
            "user_id",
            F.coalesce("view_event_id", F.lit(-1)).alias("view_event_id"),
            F.coalesce("view_value", F.lit(-1.0)).alias("view_value"),
            F.coalesce(
                (F.expr(_TS_US_SQL) - F.col("view_us")).cast("long"), F.lit(-1)
            ).alias("gap_us"),
        )
    )


def events_funnel(spark, sf_dir):
    """Ordered-sequence funnel: per user, earliest view, then earliest
    click AFTER that view, then earliest purchase AFTER that click;
    users counted at the deepest stage reached (0..3).

    MATCH_RECOGNIZE-style pattern matching as three chained conditional
    MIN aggregations — each stage is one hash agg + one equi-join on
    user_id (all map-side-combinable; the per-user agg rows are tiny at
    any scale, so the joins hash-partition on user_id and never touch
    the fact table twice in the same stage).  Stage times are unix
    micros (BIGINT MIN — fold-order exact).
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr(_TS_US_SQL).alias("us")
    )
    t1 = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias("t1")
    )
    t2 = (
        ev.join(t1, "user_id")
        .groupBy("user_id", "t1")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("us") > F.col("t1")),
                    F.col("us"),
                )
            ).alias("t2")
        )
    )
    t3 = (
        ev.join(t2, "user_id")
        .groupBy("user_id", "t1", "t2")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("us") > F.col("t2")),
                    F.col("us"),
                )
            ).alias("t3")
        )
    )
    staged = t3.select(
        "user_id",
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("stage"),
    )
    return staged.groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
    )


# ---------------------------------------------------------------------------
# Sketch: deterministic HyperLogLog (m=256 registers) over 3-shingles
# ---------------------------------------------------------------------------

_HLL_P = 8  # 2^8 = 256 registers
_HLL_M = 1 << _HLL_P
# alpha_256 = 0.7213 / (1 + 1.079/256), truncated to 6 decimals so both
# engines see the same literal; numerator folded in Python so the SQL
# carries ONE exact double literal (no cross-engine fold ambiguity).
_HLL_NUM = repr(0.718273 * float(_HLL_M * _HLL_M) * float(1 << 53))

# hex digit -> int via strpos (DuckDB has no conv(); instr/strpos agree
# 1-based in both engines).  {c} is a single-char column expression.
_HEXVAL = "(instr('0123456789abcdef', {c}) - 1)"


def _hll_steps(h: str) -> list[str]:
    """Shared Spark/DuckDB SQL steps: md5-hex column {h} -> (bucket, rho).

    bucket = first 2 hex digits (8 bits); rho = 1 + number of leading
    zero BITS of the next 52 bits (13 hex digits), computed without any
    float log: leading zero hex digits via regexp '^0*' + a 4-way CASE
    on the first non-zero digit.  rho in 1..53.
    """
    d1 = _HEXVAL.format(c=f"substring({h}, 1, 1)")
    d2 = _HEXVAL.format(c=f"substring({h}, 2, 1)")
    tail = f"substring({h}, 3, 13)"
    zeros = f"length(regexp_extract({tail}, '^0*', 0))"
    first = _HEXVAL.format(c=f"substring({tail}, {zeros} + 1, 1)")
    lz = (
        f"(CASE WHEN {first} >= 8 THEN 0 WHEN {first} >= 4 THEN 1 "
        f"WHEN {first} >= 2 THEN 2 ELSE 3 END)"
    )
    return [
        f"CAST({d1} * 16 + {d2} AS BIGINT) AS bucket",
        f"CAST(CASE WHEN {zeros} >= 13 THEN 53 "
        f"ELSE {zeros} * 4 + {lz} + 1 END AS BIGINT) AS rho",
    ]


def hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-count sketch over all 3-shingles of the
    corpus — DETERMINISTIC (md5-derived registers, no RNG), so the
    DuckDB oracle runs the identical algorithm and matches exactly.

    The sketch is two hash aggregations (bucket -> max(rho) over 256
    registers, then one row) — at 100 TB this is the mergeable
    cardinality path: partial max per partition, 256-row shuffle,
    nothing proportional to the data crosses the wire.  The harmonic
    sum folds as SUM(2^(53-rho)) in BIGINT (each term a power of two —
    integer-exact, fold-order-free); the only float op is the final
    one-row division.  exact_distinct rides along so the test can
    assert the estimate lands within HLL's expected error band.
    """
    docs = _t(spark, sf_dir, "documents")
    # shingles via explode(sequence) + element_at, NOT transform(...):
    # the lambda HOF is interpreted (gotcha 4) and measured 6.6 s at
    # sf0.1 where this codegen'd form is 0.3 s (20x).  Same shingle
    # values; the exact leg counts DISTINCT md5s (mirrored verbatim in
    # the oracle, so parity is exact).
    sh = (
        docs.selectExpr("split(text, ' ') AS w")
        .selectExpr("explode(sequence(1, greatest(size(w) - 2, 1))) AS i", "w")
        .selectExpr(
            "md5(concat(element_at(w, i), ' ', "
            "element_at(w, least(i + 1, size(w))), ' ', "
            "element_at(w, least(i + 2, size(w))))) AS h"
        )
    )
    br = sh.selectExpr(*_hll_steps("h"))
    regs = br.groupBy("bucket").agg(F.max("rho").alias("m"))
    sketch = regs.agg(
        F.count(F.lit(1)).alias("n_regs"),
        F.sum("m").alias("sum_rho"),
        F.sum(F.expr("CAST(1 AS BIGINT) << CAST(53 - m AS INT)")).alias("s_part"),
    ).selectExpr(
        "n_regs",
        "sum_rho",
        f"CAST(FLOOR({_HLL_NUM} / CAST(s_part + "
        f"({_HLL_M} - n_regs) * (CAST(1 AS BIGINT) << 53) AS DOUBLE)) AS BIGINT)"
        " AS est_hll",
    )
    exact = sh.agg(F.countDistinct("h").alias("exact_distinct"))
    return sketch.crossJoin(F.broadcast(exact)).selectExpr(
        "n_regs",
        "sum_rho",
        "est_hll",
        "exact_distinct",
        # absolute relative error in basis points, integer-exact
        "CAST(FLOOR(ABS(est_hll - exact_distinct) * 10000.0 "
        "/ CAST(exact_distinct AS DOUBLE)) AS BIGINT) AS err_bp",
    )


# ---------------------------------------------------------------------------
# Graph: fixed-iteration PageRank over the road-connectivity graph
# ---------------------------------------------------------------------------

_PR_ITERS = 3
_PR_UNIT = 1_000_000_000  # total rank mass in micro-units
_PR_DAMP = 85  # damping 0.85, held as integer percent


def pagerank(edges: DataFrame, iters: int = _PR_ITERS) -> DataFrame:
    """Fixed-iteration PageRank over (src, dst) edge rows, INTEGER-EXACT:
    rank mass lives in BIGINT micro-units and every division is an
    explicit FLOOR, so iteration order and fold order cannot perturb the
    result (the oracle unrolls the identical recurrence in SQL).

    Plan shape per iteration: edges⋈rank equi-join on src (hash
    partition on the edge key — at planet scale both sides co-partition
    on src and the join is exchange-reusing), map-side-combined SUM to
    dst, left join back to the node set.  Each round localCheckpoints
    (CLAUDE.md gotcha 15) so the logical plan stays O(1) deep.
    Parallel edges carry weight w; self-loops are legal (a node keeps
    feeding itself) which removes the dangling-node special case.
    """
    with _drain_confs(edges.sparkSession):
        ew = edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))
        deg = ew.groupBy("src").agg(F.sum("w").alias("outdeg"))
        edeg = ew.join(deg, "src").localCheckpoint()
        nodes = deg.select(F.col("src").alias("node")).localCheckpoint()
        n_df = nodes.agg(F.count(F.lit(1)).alias("n"))
        pr = nodes.crossJoin(F.broadcast(n_df)).selectExpr(
            "node", f"CAST(FLOOR({_PR_UNIT}.0 / CAST(n AS DOUBLE)) AS BIGINT) AS pr"
        )
        for _ in range(iters):
            contrib = (
                edeg.join(pr, edeg.src == pr.node)
                .select(
                    F.col("dst"),
                    F.expr(
                        "CAST(FLOOR(CAST(pr AS DOUBLE) / CAST(outdeg AS DOUBLE)) "
                        "AS BIGINT) * w AS c"
                    ),
                )
                .groupBy("dst")
                .agg(F.sum("c").alias("s"))
            )
            pr = (
                nodes.join(contrib, nodes.node == contrib.dst, "left")
                .crossJoin(F.broadcast(n_df))
                .selectExpr(
                    "node",
                    f"CAST(FLOOR({_PR_UNIT // 100 * (100 - _PR_DAMP)}.0 / CAST(n AS DOUBLE)) AS BIGINT)"
                    f" + CAST(FLOOR({_PR_DAMP}.0 * CAST(COALESCE(s, 0) AS DOUBLE) / 100.0) AS BIGINT)"
                    " AS pr",
                )
                .localCheckpoint()
            )
    return pr


def pagerank_roads(spark, sf_dir):
    """PageRank centrality of road-graph cells: road segments quantized
    to integer-degree cells, one undirected edge per segment, 3
    integer-exact iterations (see pagerank())."""
    from .harness import segments_df

    segs = segments_df(spark, sf_dir).withColumnRenamed("by", "byy").selectExpr(
        f"{_PR_NODE_A} AS a", f"{_PR_NODE_B} AS b"
    )
    edges = segs.selectExpr("a AS src", "b AS dst").unionAll(
        segs.selectExpr("b AS src", "a AS dst")
    )
    return pagerank(edges).select("node", "pr")


def road_graph_bfs(spark, sf_dir):
    """BFS hop distances over the ROAD NETWORK graph: polyline vertices
    quantized to 0.1-degree cells, consecutive vertices = edges (roads
    sharing a cell connect), seeded at the max-degree hub.

    Iterative frontier expansion — per round: frontier ⋈ edges equi-join
    on src + distinct + anti-join against visited, each round
    localCheckpointed (gotcha 15).  At planet scale every round is one
    hash-partitioned join on the edge key; frontier size is bounded by
    the graph's expansion, never the full node set.  Oracle: DuckDB
    RECURSIVE CTE over the same roads parquet.
    Output: hops -> node count + node-id checksum (BIGINT sums, exact).
    """

    _images, roads = _fixture_images(spark)
    edges = road_edges(roads).localCheckpoint()
    # 16 hops matches the oracle CTE's hop bound
    visited = bfs_hops(edges, hubs(edges), 16)
    return visited.groupBy("hops").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("node").alias("sum_node"),
    )


# ---------------------------------------------------------------------------
# Ranked retrieval: BM25-style scoring (integer idf proxy, k1=1.2 b=0.75)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("hash", "vector", "dup")
_BM25_TOPK = 10

# idf proxy without ln(): FLOOR((N - df + 0.5) * 1e6 / (df + 0.5)) —
# the same monotone Robertson-Sparck-Jones core BM25 exponentiates,
# integer-scaled like tfidf_top_terms' FLOOR(N*1000/df) (gotcha 8).
_BM25_IDF = (
    "CAST(FLOOR((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) * 1000000.0 "
    "/ (CAST(df AS DOUBLE) + 0.5)) AS BIGINT)"
)
# per-(doc,term) partial: FLOOR(idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)))
# with avgdl expressed as sum_dl/n_docs so every input is an integer and
# the whole chain is ONE textually-shared scalar double expression.
_BM25_PART = (
    "CAST(FLOOR(CAST(idf AS DOUBLE) * CAST(tf AS DOUBLE) * 2.2 / "
    "(CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) "
    "* CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))) AS BIGINT)"
)


def bm25_top_docs(spark, sf_dir):
    """BM25-ranked top-10 documents for a 3-term query.

    All-JVM: one token explode feeds (a) per-doc lengths and (b)
    per-(doc,term) tf for the filtered query terms; df and the corpus
    aggregate are one-row/terms-row broadcasts (the vocabulary side is
    tiny at any corpus size — same shape as tfidf_top_terms).  The only
    window is the final global top-k over per-doc scores, which at
    scale is a TakeOrdered over |matching docs| rows, never the corpus.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.expr("split(text, ' ')")).alias("tok")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    qt = toks.filter(F.col("tok").isin(*_BM25_TERMS))
    tf = qt.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = qt.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df_), "tok")
        .crossJoin(F.broadcast(corpus))
        .withColumn("idf", F.expr(_BM25_IDF))
        .withColumn("part", F.expr(_BM25_PART))
        .groupBy("doc_id")
        .agg(F.sum("part").alias("score"), F.count(F.lit(1)).alias("n_terms"))
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _BM25_TOPK)
        .select("rnk", "doc_id", "score", "n_terms")
    )


# ---------------------------------------------------------------------------
# Vector generalization + raster focal op (golden-oracle-checked)
# ---------------------------------------------------------------------------


def roads_simplify_dp(spark, sf_dir):
    """Douglas-Peucker simplification of every fixture road polyline
    (eps = 0.01 deg) — the generalization pass low-zoom vector tiles
    need.  Output per road: point counts + the kept-vertex BITMASK
    (n_pts <= 42 fits bigint), so a single flipped keep/drop decision
    anywhere fails the value hash.  Kind joins from the roads parquet
    (load-bearing fixture read).

    mapInPandas over whole polylines (Arrow batches; the iterative
    stack kernel is geom.dp_keep_mask) — map-only, no shuffle; at
    planet scale the stage splits by row group and OSM's 2000-node way
    bound caps per-row work.  Oracle: committed INDEPENDENT golden
    (scripts/make_goldens.py make_dp_golden — scalar recursive twin).
    """
    import numpy as np
    import pandas as pd

    _images, roads = _fixture_images(spark)

    def _dp(batches):
        from sdg_engine.geom import dp_keep_mask

        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                pts = np.array([[p["x"], p["y"]] for p in r.coords])
                keep = dp_keep_mask(pts, 0.01)
                mask = 0
                for k in np.nonzero(keep)[0]:
                    mask |= 1 << int(k)
                out.append((r.road_id, r.kind, len(pts), int(keep.sum()), mask))
            yield pd.DataFrame(
                out, columns=["road_id", "kind", "n_pts", "n_kept", "kept_mask"]
            )

    return roads.select("road_id", "kind", "coords").mapInPandas(
        _dp,
        "road_id bigint, kind string, n_pts int, n_kept int, kept_mask bigint",
    )


def image_zonal_stats(spark, sf_dir):
    """ZONAL STATISTICS (GeoTrellis polygonal-summary analogue): decode
    every harness image, assign its footprint center to a country via
    the two-stage PIP (J2), and aggregate per-zone luminance stats.

    Cross-engine exactness: per-image mean_lum is snapped to integer
    mils (FLOOR(x*1000 + 0.5), pure IEEE ops on bit-identical doubles)
    BEFORE the per-zone SUM, so Spark's float-sum order can't leak into
    the hash.  Oracle: decode-stats golden (independent generator
    pixels) joined to the rai per-image golden (independent
    generator-side country assignment) — a regression in decode, PIP,
    or the join flips a zone sum.  jpg excluded (decode golden NULLs).
    Plan: map-only decode + broadcast-dim PIP + one tiny zone agg — no
    fact-table-wide exchange at any scale.
    """
    from . import fixtures as FX
    from .ops import payload as PL
    from .ops import spatial as SP

    sel = golden_images(spark)
    cc = SP.assign_countries(SP.with_geo(sel), FX.get_country_rings(), level=9)
    stats = PL.decode_stats(sel)
    mils = "CAST(FLOOR(mean_lum * 1000.0 + 0.5) AS BIGINT)"
    return (
        cc.select("image_id", "country_code")
        .join(stats, "image_id")
        .selectExpr("country_code", f"{mils} AS lum_mils")
        .groupBy("country_code")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum("lum_mils").alias("sum_lum_mils"),
            F.min("lum_mils").alias("min_lum_mils"),
            F.max("lum_mils").alias("max_lum_mils"),
        )
    )


# Deterministic weighted sampling (Duffield-Lund-Thorup priority
# sampling): priority = FLOOR(hash / weight); take the k SMALLEST
# priorities.  Content-derived md5 key -> reproducible across runs,
# partitionings, and engines; heavier docs draw proportionally more.
_WS_K = 25
# 12 hex chars = 48 bits: exact in BIGINT and DOUBLE in both engines.
# Shared Spark/DuckDB fragment: 48-bit integer from md5 via four
# 3-hex-digit strpos chunks (no conv() — absent in DuckDB).
_WS_CHUNK = (
    "(CAST((instr('0123456789abcdef', substring(md5(text), {a}, 1)) - 1) * 256 "
    "+ (instr('0123456789abcdef', substring(md5(text), {b}, 1)) - 1) * 16 "
    "+ (instr('0123456789abcdef', substring(md5(text), {c}, 1)) - 1) AS BIGINT))"
)
_WS_H48 = " + ".join(
    f"({_WS_CHUNK.format(a=3 * i + 1, b=3 * i + 2, c=3 * i + 3)} * {4096 ** (3 - i)})"
    for i in range(4)
)
_WS_PRI_SQL = (
    f"CAST(FLOOR(CAST(({_WS_H48}) AS DOUBLE) / CAST(n_chars AS DOUBLE)) AS BIGINT)"
)


def sample_weighted(spark, sf_dir):
    """Weighted sample WITHOUT replacement (priority sampling): k=25
    docs drawn with probability ~ n_chars, deterministically.

    At 10^12 rows the same draw is a per-partition TakeOrdered(k) on
    priority merged on the driver (no global sort); here it's one
    window rank.  The hex->int path avoids conv() (absent in DuckDB):
    4 strpos digits x 12 bits each, same fragment both engines.
    """
    docs = _t(spark, sf_dir, "documents")
    w = Window.orderBy(F.col("priority").asc(), F.col("doc_id").asc())
    return (
        docs.selectExpr("doc_id", "n_chars", f"{_WS_PRI_SQL} AS priority")
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _WS_K)
        .select("rnk", "doc_id", "n_chars", "priority")
    )


# ---------------------------------------------------------------------------
# Generalized (simplified) multi-zoom MVT pyramid — DP composed into the
# vector-tile sink: coarser zooms carry simpler geometry (the point of
# line generalization in a tile pipeline).
# ---------------------------------------------------------------------------

# ~2 display pixels of tolerance on a 256-px tile at each zoom — exact
# binary doubles, shared with the golden twin via this constant.
PYR_SIMPLIFY_EPS = {z: 2.0 * 10.0 / ((1 << z) * 256) for z in (3, 4, 5)}


def _simplified_segments(roads, eps: float):
    """roads (road_id, coords) -> DP-simplified consecutive-kept-vertex
    segments (road_id, seg_id, ax, ay, bx, by) — map-only mapInPandas;
    coordinates are the ORIGINAL vertices (DP only drops, never moves),
    so they round-trip parquet exactly for the golden compare."""
    import numpy as np
    import pandas as pd

    def _seg(batches):
        from sdg_engine.geom import dp_keep_mask

        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                pts = np.array([[p["x"], p["y"]] for p in r.coords])
                kept = np.nonzero(dp_keep_mask(pts, eps))[0]
                for si in range(len(kept) - 1):
                    a, b = pts[kept[si]], pts[kept[si + 1]]
                    out.append(
                        (r.road_id, si, float(a[0]), float(a[1]),
                         float(b[0]), float(b[1]))
                    )
            yield pd.DataFrame(
                out, columns=["road_id", "seg_id", "ax", "ay", "bx", "by"]
            )

    return roads.select("road_id", "coords").mapInPandas(
        _seg,
        "road_id bigint, seg_id int, ax double, ay double, "
        "bx double, by double",
    )


def mvt_pyramid_simplified(spark, sf_dir):
    """S7b + DP composed: per-zoom Douglas-Peucker generalization
    (eps = 2 display px at that zoom) feeding the MVT tile cut/encode,
    z3..z5 — coarse zooms ship ~fewer vertices, which is WHY a tile
    pipeline simplifies.  Per-zoom totals: covered tiles + SAT-kept
    features.  Oracle: the SAT-cover SQL over a committed golden of
    the recursive-DP twin's simplified segments per zoom.

    Plan: each zoom is simplify (map-only) -> cover explode -> one
    keyed cogroup encode, written as separate ACTIONS over the same
    cached roads scan (gotcha 3 — no mid-pipeline union); the final
    union only scans the materialized tile parquet.  The three zoom
    writes are INDEPENDENT actions, so they run CONCURRENTLY from a
    thread pool (Spark's scheduler interleaves their stages across the
    same executors — measured 14.6 s -> 8.4 s cold at sf0.1; rows
    identical since each action writes its own directory); the shared
    roads input is repartitioned once so per-zoom DP parallelizes
    instead of inheriting the fixture's single row group.
    """
    import functools
    import os
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import DataFrame

    from . import mvt as MVT

    _images, roads = _fixture_images(spark)
    roads = roads.select("road_id", "coords").repartition(8).localCheckpoint()
    base = _stream_base(spark, "pyrsimp_")

    def _one(z: int) -> DataFrame:
        segs = _simplified_segments(roads, PYR_SIMPLIFY_EPS[z])
        return MVT.write_road_mvt(segs, os.path.join(base, f"zl={z}"), level=z)

    with ThreadPoolExecutor(len(PYR_SIMPLIFY_EPS)) as ex:
        parts = list(ex.map(_one, sorted(PYR_SIMPLIFY_EPS)))
    tiles = functools.reduce(DataFrame.unionByName, parts)
    return tiles.groupBy("z").agg(
        F.count(F.lit(1)).cast("long").alias("n_tiles"),
        F.sum("n_features").cast("long").alias("sum_features"),
    )


def country_convex_hull(spark, sf_dir):
    """Per-country CONVEX HULL of all road vertices (Andrew monotone
    chain, strict turns) with shoelace area in integer mils — the
    vector-summary op a coverage/footprint report wants.

    One groupBy(country).applyInPandas — zones are few at any scale
    (the group key is the dim side), vertices stream through Arrow.
    n_points (distinct vertices) is recomputed relationally by the
    oracle from the same roads parquet, so the explode+dedup is
    load-bearing; hull size/area come from the committed INDEPENDENT
    scalar-twin golden.
    """
    import numpy as np
    import pandas as pd

    _images, roads = _fixture_images(spark)
    verts = roads.select(
        "country_code", F.explode("coords").alias("c")
    ).select("country_code", F.col("c.x").alias("x"), F.col("c.y").alias("y"))

    def _hull(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from sdg_engine.geom import convex_hull, shoelace_area_mils

        pts = pdf[["x", "y"]].to_numpy(dtype=np.float64)
        u = np.unique(pts, axis=0)
        h = convex_hull(pts)
        return pd.DataFrame(
            [(key[0], len(u), len(h), shoelace_area_mils(h))],
            columns=["country_code", "n_points", "n_hull", "area_mils"],
        )

    return verts.groupBy("country_code").applyInPandas(
        _hull,
        "country_code string, n_points long, n_hull int, area_mils bigint",
    )


# weekly retention cohorts over the events stream — one shared integer
# time grid (micros since the fixture epoch, 7-day buckets)
_RET_EPOCH_US = 1704067200000000  # 2024-01-01T00:00:00Z
_RET_WEEK_US = 7 * 24 * 3600 * 1000000
_RET_WEEK = (
    f"CAST(FLOOR((us - {_RET_EPOCH_US}) / {_RET_WEEK_US}.0) AS BIGINT)"
)


def events_retention(spark, sf_dir):
    """Cohort RETENTION: users grouped by first-activity week; for each
    (cohort_week, week_offset >= 0), how many of the cohort were active
    — the standard product-analytics triangle.  Two hash aggs + one
    user_id equi-join; the per-user first-week agg is map-side
    combinable and the cohort triangle is tiny at any scale."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.expr(_TS_US_SQL).alias("us")
    ).selectExpr("user_id", f"{_RET_WEEK} AS wk")
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    return (
        ev.join(first, "user_id")
        .selectExpr("user_id", "cohort_week", "wk - cohort_week AS week_offset")
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def pivot_orders_status(spark, sf_dir):
    """PIVOT: order counts + revenue mils by month x status (explicit
    value list O/F/P so the schema is static).  One hash agg; the
    pivot is a projection, not a shuffle."""
    orders = _t(spark, sf_dir, "orders").selectExpr(
        "month(o_orderdate) AS m",
        "o_orderstatus AS st",
        "CAST(FLOOR(o_totalprice * 1000 + 0.5) AS BIGINT) AS rev_mils",
    )
    return (
        orders.groupBy("m")
        .pivot("st", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("rev_mils").alias("rev"),
        )
        .selectExpr(
            "CAST(m AS INT) AS m",
            "coalesce(O_n, 0) AS n_o", "coalesce(O_rev, 0) AS rev_o",
            "coalesce(F_n, 0) AS n_f", "coalesce(F_rev, 0) AS rev_f",
            "coalesce(P_n, 0) AS n_p", "coalesce(P_rev, 0) AS rev_p",
        )
    )


_PMI_TOPK = 20

# integer lift proxy for PMI (no log): FLOOR(f_xy * n_big * 1e6 / (f_x * f_y))
# — monotone in PMI for fixed n, exact BIGINT arithmetic end to end.
_PMI_LIFT = (
    "CAST(FLOOR(CAST(f_xy AS DOUBLE) * CAST(n_big AS DOUBLE) * 1000000.0 "
    "/ (CAST(f_x AS DOUBLE) * CAST(f_y AS DOUBLE))) AS BIGINT)"
)


def pmi_bigrams(spark, sf_dir):
    """Collocation mining: top-20 adjacent-token bigrams by integer
    PMI-lift (observed/expected), min support 5 — the phrase-mining
    pass a tokenizer pipeline runs before vocab building.

    One explode produces BOTH the unigram and bigram counts (the
    bigram leg reuses the exploded index — codegen, gotcha 16b);
    unigram counts broadcast to the bigram side twice (tiny at any
    corpus: vocabulary-sized).  Ties broken lexicographically.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.selectExpr("doc_id", "split(text, ' ') AS w").selectExpr(
        "doc_id",
        "explode(sequence(1, size(w) - 1)) AS i",
        "w",
    ).selectExpr("element_at(w, i) AS x", "element_at(w, i + 1) AS y")
    big = toks.groupBy("x", "y").agg(F.count(F.lit(1)).alias("f_xy"))
    uni_x = toks.groupBy("x").agg(F.count(F.lit(1)).alias("f_x"))
    # right-position unigram counts: the LAST token of each doc never
    # starts a bigram, so f_y counts y as a bigram RIGHT member
    uni_y = toks.groupBy("y").agg(F.count(F.lit(1)).alias("f_y"))
    n_big = toks.agg(F.count(F.lit(1)).alias("n_big"))
    w = Window.orderBy(F.col("lift").desc(), F.col("x").asc(), F.col("y").asc())
    return (
        big.filter(F.col("f_xy") >= 5)
        .join(F.broadcast(uni_x), "x")
        .join(F.broadcast(uni_y), "y")
        .crossJoin(F.broadcast(n_big))
        .withColumn("lift", F.expr(_PMI_LIFT))
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _PMI_TOPK)
        .select("rnk", "x", "y", "f_xy", "lift")
    )


def events_outliers(spark, sf_dir):
    """Z-score anomaly detection per event type, integer-exact variance:
    values snap to mils (BIGINT), variance from the (n·Σx² − (Σx)²)
    identity — every aggregate folds in exact integers; the only floats
    are one sqrt + one division per GROUP (IEEE-identical cross-engine).
    Output: per type, the count of |z| > 3 outliers and the extreme
    event (deterministic tie-break by event_id)."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_id",
        "event_type",
        "CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS v",
    )
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.expr("v * v")).alias("s2"),
    )
    # z in basis points: (v*n - s1) * 10000 / (n * sqrt((n*s2 - s1*s1)/n))
    # = (v - mean) / stddev_pop, scaled; FLOOR of ABS for the threshold
    z_bp = (
        "CAST(FLOOR(ABS(CAST(v AS DOUBLE) * CAST(n AS DOUBLE) "
        "- CAST(s1 AS DOUBLE)) * 10000.0 / (CAST(n AS DOUBLE) "
        "* SQRT((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) "
        "- CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n AS DOUBLE)))) "
        "AS BIGINT)"
    )
    scored = ev.join(F.broadcast(stats), "event_type").selectExpr(
        "event_type", "event_id", "v", f"{z_bp} AS z_bp"
    )
    # packed-integer argmax (z_bp * 1e7 + event_id): identical
    # lexicographic (z_bp, event_id) tie-break in BOTH engines without
    # struct-comparison semantics differences
    agg = scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("z_bp") > 30000, 1).otherwise(0))
        .cast("long")
        .alias("n_outliers"),
        F.max(F.expr("z_bp * 10000000 + event_id")).alias("packed"),
    )
    return agg.selectExpr(
        "event_type",
        "n_events",
        "n_outliers",
        "CAST(FLOOR(packed / 10000000.0) AS BIGINT) AS max_z_bp",
        "packed % 10000000 AS extreme_event",
    )


def snapshot_compaction(spark, sf_dir):
    """Small-file COMPACTION on the snapshot shim (Iceberg
    rewrite_data_files / OPTIMIZE): five 4-file appends -> 20 data
    files -> one compaction commit -> 2 files, content IDENTICAL and
    every pre-compaction snapshot still time-travel readable.

    The oracle pins the per-lang content aggregate (any row lost or
    duplicated by the rewrite flips it) AND the exact before/after
    file counts (deterministic: explicit repartition widths).
    """
    from .storage import (
        compact_snapshot,
        count_data_files,
        read_snapshot,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    base = _stream_base(spark, "compact_")
    path = f"{base}/tbl"
    for k in range(5):
        write_snapshot(
            docs.filter(
                (F.col("doc_id") >= k * 100) & (F.col("doc_id") < (k + 1) * 100)
            ).repartition(4),
            path,
            mode="append",
        )
    n_before = count_data_files(path, 5)
    snap = compact_snapshot(spark, path, target_partitions=2)
    n_after = count_data_files(path, snap)
    # old snapshot still readable post-compaction (time travel intact)
    snap3_rows = read_snapshot(spark, path, as_of=3).count()
    return (
        read_snapshot(spark, path)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .withColumn("n_files_before", F.lit(n_before).cast("int"))
        .withColumn("n_files_after", F.lit(n_after).cast("int"))
        .withColumn("snap3_rows", F.lit(snap3_rows).cast("long"))
    )


# Rasterized BUFFER: level-6 cells (10/64 deg) whose center lies within
# _BUF_M meters of a road segment.  Shared scalar constants; the grid
# cover expansion in degrees is one exact double literal both engines.
_BUF_M = 20000.0
_BUF_LEVEL = 6
_BUF_DEG = repr(20000.0 / 111320.0)
_BUF_CELL = repr(10.0 / (1 << _BUF_LEVEL))


def roads_buffer_cells(spark, sf_dir):
    """Buffer-as-raster (vector buffer rasterized to the cell grid):
    per road kind, the DISTINCT level-6 cells whose center is within
    20 km of any segment of that kind — the coverage-area op behind
    "% of land near an all-season road".

    Plan: segment bbox (+buffer) -> grid-range cover (two codegen
    sequence explodes, no crossJoin) -> exact center->segment distance
    (shared sqlgen steps) -> distinct (kind, cell) -> tiny agg.  At
    planet scale the cover explode is bounded by (seg length + 2d)/cell
    area and the distinct hash-partitions on (kind, cell).  Oracle:
    the identical fragments in DuckDB over the same roads parquet.
    """
    from .ops.spatial import road_segments
    from .sqlgen import apply_steps, grid_index_expr, point_seg_dist_steps

    _images, roads = _fixture_images(spark)
    segs = road_segments(roads)
    g = segs.selectExpr(
        "kind", "ax", "ay", "bx", "by",
        f"{grid_index_expr(f'LEAST(ax, bx) - {_BUF_DEG}', _BUF_LEVEL)} AS ix0",
        f"{grid_index_expr(f'GREATEST(ax, bx) + {_BUF_DEG}', _BUF_LEVEL)} AS ix1",
        f"{grid_index_expr(f'LEAST(ay, by) - {_BUF_DEG}', _BUF_LEVEL)} AS iy0",
        f"{grid_index_expr(f'GREATEST(ay, by) + {_BUF_DEG}', _BUF_LEVEL)} AS iy1",
    )
    cand = (
        g.selectExpr(
            "kind", "ax", "ay", "bx", "by", "iy0", "iy1",
            "explode(sequence(ix0, ix1)) AS ix",
        )
        .selectExpr(
            "kind", "ax", "ay", "bx", "by", "ix",
            "explode(sequence(iy0, iy1)) AS iy",
        )
        .selectExpr(
            "kind", "ax", "ay", "bx", "by", "ix", "iy",
            f"(CAST(0 AS DOUBLE) + (CAST(ix AS DOUBLE) + 0.5) "
            f"* CAST({_BUF_CELL} AS DOUBLE)) AS lon",
            f"(CAST(0 AS DOUBLE) + (CAST(iy AS DOUBLE) + 0.5) "
            f"* CAST({_BUF_CELL} AS DOUBLE)) AS lat",
        )
    )
    steps = point_seg_dist_steps("lon", "lat", "ax", "ay", "bx", "by", "dist_m")
    d = apply_steps(cand, steps).filter(
        F.col("dist_m") <= F.lit(_BUF_M)
    )
    cells = d.select("kind", "ix", "iy").distinct()
    return cells.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.expr("ix * 1000 + iy")).alias("sum_cell"),
    )


def streaming_left_join(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join drained to parquet: the
    outer-join state-eviction path (NULL emission for clicks the
    watermark proves unmatched).  Input arrives as FOUR time-ordered
    files at one file per trigger, so the watermark advances across
    batches and every bounded click's NULL row flushes before the
    drain ends; the DuckDB oracle is the plain batch left join over
    the same click bound."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from . import streaming as STR

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    in_dir, out, ck = _drain_dirs(spark, "slj_")
    t = pq.read_table(f"{sf_dir}/events.parquet")
    # DEMO BOUND: first 10 days only — join-state churn is per-row and
    # the full sf0.1 month ran 125 s in the bench for no extra semantic
    # coverage; the oracle applies the same absolute bound.
    import datetime as _dt

    t = t.filter(
        pa.compute.less(t["ts"], pa.scalar(_dt.datetime(2024, 1, 11)))
    )
    idx = pa.compute.sort_indices(t, sort_keys=[("ts", "ascending")])
    t = t.take(idx)
    n = t.num_rows
    # r06: TWO chronological data chunks (was four) — the drained
    # result depends only on the FINAL watermark (same data => same max
    # ts) and the two trailing fillers still drive the post-jump
    # evictions (16a), so the extra chunk boundaries only re-paid
    # per-batch fixed cost (~1-1.5 s each).  Parity PASS sf0.01+sf0.1.
    chunks = []
    for k in range(2):  # chronological chunks -> monotone watermark
        chunks.append(os.path.join(in_dir, f"chunk-{k:02d}.parquet"))
        pq.write_table(
            t.slice(k * n // 2, (k + 1) * n // 2 - k * n // 2), chunks[-1]
        )
    # trailing FILLER batches (gotcha 16a: outer-join NULL eviction
    # runs at end of the batch AFTER the watermark crosses the bound —
    # the final data batch alone leaves the last horizon's evictions
    # pending).  'signup' rows join neither side, so they advance the
    # watermark without touching join state.
    filler = t.filter(pa.compute.equal(t["event_type"], "signup")).slice(0, 4)
    for k in range(2):
        chunks.append(os.path.join(in_dir, f"chunk-9{k}-filler.parquet"))
        pq.write_table(filler, chunks[-1])
    # the chronological-chunk -> monotone-watermark contract needs the
    # drain's batches in write order
    _pin_batch_order(chunks)
    # stateful-join state stores (4 per join) are one per shuffle
    # partition PER BATCH — at 32 partitions that is 128 store commits
    # a batch, pure fixed cost at harness size.  8 is plenty here;
    # _drain_confs also turns codegen off for the drain (r06 — see its
    # docstring) and restores both right after.

    with _drain_confs(spark, nodata=False):
        STR.stream_interval_join_left(spark, in_dir, out, ck,
                                      emit_before="2024-01-10 00:00:00")
    return (
        spark.read.parquet(out)
        # a full day below the stream cutoff: the final global watermark
        # is throttled by the filtered click side to ~(cutoff - 2 h), so
        # only clicks with c_ts + 30 min safely below it are guaranteed
        # their NULL emission (see stream_interval_join_left docstring)
        .filter(F.expr("c_ts < TIMESTAMP '2024-01-09 00:00:00'"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("view_id").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unmatched"),
            F.sum(F.coalesce("view_id", F.lit(-1))).alias("sum_view"),
        )
    )


# proper-crossing test (strict): segments AB x CD cross iff the
# endpoints of each straddle the other's line — four cross products,
# identical expression text in both engines (shared via these fragments)
_X_CROSS = (
    "((({bx1}) - ({ax1})) * (({py}) - ({ay1})) "
    "- (({by1}) - ({ay1})) * (({px}) - ({ax1})))"
)


def _straddle(ax1, ay1, bx1, by1, px1, py1, px2, py2) -> str:
    c1 = _X_CROSS.format(ax1=ax1, ay1=ay1, bx1=bx1, by1=by1, px=px1, py=py1)
    c2 = _X_CROSS.format(ax1=ax1, ay1=ay1, bx1=bx1, by1=by1, px=px2, py=py2)
    return f"(({c1}) * ({c2}) < CAST(0 AS DOUBLE))"


_X_TEST = (
    _straddle("a_ax", "a_ay", "a_bx", "a_by", "b_ax", "b_ay", "b_bx", "b_by")
    + " AND "
    + _straddle("b_ax", "b_ay", "b_bx", "b_by", "a_ax", "a_ay", "a_bx", "a_by")
)
_X_LEVEL = 7


def road_intersections(spark, sf_dir):
    """VECTOR OVERLAY: proper crossing count between segments of
    DIFFERENT roads, per unordered kind pair — the planar-overlay /
    intersection op of a GIS stack, done as a cell-bucketed candidate
    join (never all-pairs).

    Plan: bbox-cover explode at level 7 -> self equi-join on cell_id
    (road_a < road_b) -> DISTINCT candidate pair (a pair sharing k
    cells must count once) -> exact strict-crossing test (four cross
    products; shared fragment with the oracle) -> tiny agg.  Hot cells
    would salt exactly like the LSH band join (skew.plan_salts).
    Candidate-set shape is engine-local: any bbox cover finds every
    truly-crossing pair, so the two engines agree on the RESULT even
    where covers differ.
    """
    from .ops.spatial import road_segments, segments_with_cells

    _images, roads = _fixture_images(spark)
    segs = road_segments(roads).select(
        "road_id", "kind", "seg_id", "ax", "ay", "bx", "by"
    )
    cov = segments_with_cells(segs, _X_LEVEL).select(
        "cell_id", "road_id", "kind", "seg_id", "ax", "ay", "bx", "by"
    )
    a = cov.selectExpr(
        "cell_id", "road_id AS a_rid", "kind AS a_kind", "seg_id AS a_sid",
        "ax AS a_ax", "ay AS a_ay", "bx AS a_bx", "by AS a_by",
    )
    b = cov.selectExpr(
        "cell_id", "road_id AS b_rid", "kind AS b_kind", "seg_id AS b_sid",
        "ax AS b_ax", "ay AS b_ay", "bx AS b_bx", "by AS b_by",
    )
    pairs = (
        a.join(b, ["cell_id"])
        .filter(F.col("a_rid") < F.col("b_rid"))
        .drop("cell_id")
        .dropDuplicates(["a_rid", "a_sid", "b_rid", "b_sid"])
        .filter(F.expr(_X_TEST))
    )
    return pairs.selectExpr(
        "LEAST(a_kind, b_kind) AS kind_lo",
        "GREATEST(a_kind, b_kind) AS kind_hi",
    ).groupBy("kind_lo", "kind_hi").agg(
        F.count(F.lit(1)).alias("n_crossings")
    )


def multimodal_audio_stft(spark, sf_dir):
    """STFT spectrogram frames over the REAL-WAV audio fixture: per
    (clip, frame) energy + spectral centroid (256/128 framing).
    Oracle: committed independent spec-twin golden (regenerated
    waveform, reimplemented PCM16, same framing)."""
    from .ops.multimodal import audio_stft_frames, synth_audio_table

    return audio_stft_frames(synth_audio_table(spark, 64))


def snapshot_diff(spark, sf_dir):
    """CDC between snapshots: rows ADDED / REMOVED / UNCHANGED between
    snapshot 2 and snapshot 3 of a table that saw an append and then an
    overwrite — two anti-joins over time-travel reads (the
    changed-data feed an incremental consumer tails).

    Oracle: the same set algebra over the deterministic doc_id ranges
    the commits wrote."""
    from .storage import read_snapshot, write_snapshot

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    base = _stream_base(spark, "cdc_")
    path = f"{base}/tbl"
    write_snapshot(docs.filter("doc_id < 200"), path, mode="append")
    write_snapshot(
        docs.filter("doc_id >= 200 AND doc_id < 300"), path, mode="append"
    )
    # snapshot 3 OVERWRITES to the doc_id in [100, 400) slice
    write_snapshot(
        docs.filter("doc_id >= 100 AND doc_id < 400"), path, mode="overwrite"
    )
    s2 = read_snapshot(spark, path, as_of=2).select("doc_id")
    s3 = read_snapshot(spark, path, as_of=3).select("doc_id")
    added = s3.join(s2, "doc_id", "left_anti")
    removed = s2.join(s3, "doc_id", "left_anti")
    unchanged = s3.join(s2, "doc_id", "left_semi")
    return (
        added.selectExpr("'added' AS change", "doc_id")
        .unionByName(removed.selectExpr("'removed' AS change", "doc_id"))
        .unionByName(unchanged.selectExpr("'unchanged' AS change", "doc_id"))
        .groupBy("change")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("doc_id").alias("sum_ids"),
        )
    )


# IDW interpolation: integer weights FLOOR(1e9 / (1 + d_m)) so the
# per-cell folds are BIGINT-exact (fold-order-free) in both engines.
_IDW_LEVEL = 5
_IDW_RADIUS_M = 60000.0
_IDW_CELL = repr(10.0 / (1 << _IDW_LEVEL))
_IDW_DEG = repr(60000.0 / 111320.0)
_IDW_W = "CAST(FLOOR(1000000000.0 / (1.0 + dist_m)) AS BIGINT)"


def grid_idw(spark, sf_dir):
    """Inverse-distance-weighted interpolation of point values onto the
    level-5 cell grid (the geostatistics gridding op): every cell
    center takes SUM(w·v)/SUM(w) over order points within 60 km, with
    integer weights so the fold is exact.

    Plan: points -> cover cells within radius (two codegen sequence
    explodes per point — the cover is per POINT here, the transpose of
    the kNN shape) -> center distance -> integer-weight partial aggs.
    One hash agg on the cell key; no join at all.
    """
    from .harness import points_df
    from .sqlgen import grid_index_expr

    pts = points_df(spark, sf_dir).selectExpr(
        "point_id", "lon AS px", "lat AS py",
        # value = deterministic function of the point id (mils)
        "CAST((point_id % 1000) * 1000 AS BIGINT) AS v_mils",
    )
    g = pts.selectExpr(
        "px", "py", "v_mils",
        f"{grid_index_expr(f'px - {_IDW_DEG}', _IDW_LEVEL)} AS ix0",
        f"{grid_index_expr(f'px + {_IDW_DEG}', _IDW_LEVEL)} AS ix1",
        f"{grid_index_expr(f'py - {_IDW_DEG}', _IDW_LEVEL)} AS iy0",
        f"{grid_index_expr(f'py + {_IDW_DEG}', _IDW_LEVEL)} AS iy1",
    )
    cand = (
        g.selectExpr("px", "py", "v_mils", "iy0", "iy1",
                     "explode(sequence(ix0, ix1)) AS ix")
        .selectExpr("px", "py", "v_mils", "ix",
                    "explode(sequence(iy0, iy1)) AS iy")
        .selectExpr(
            "px", "py", "v_mils", "ix", "iy",
            f"(CAST(0 AS DOUBLE) + (CAST(ix AS DOUBLE) + 0.5) "
            f"* CAST({_IDW_CELL} AS DOUBLE)) AS lon",
            f"(CAST(0 AS DOUBLE) + (CAST(iy AS DOUBLE) + 0.5) "
            f"* CAST({_IDW_CELL} AS DOUBLE)) AS lat",
        )
    )
    d = cand.selectExpr(
        "*",
        "(SQRT(((lon - px) * (lon - px)) + ((lat - py) * (lat - py))) "
        "* CAST(111320 AS DOUBLE)) AS dist_m",
    ).filter(F.col("dist_m") <= F.lit(_IDW_RADIUS_M))
    w = d.selectExpr("ix", "iy", "v_mils", f"{_IDW_W} AS w")
    return (
        w.groupBy("ix", "iy")
        .agg(
            F.count(F.lit(1)).alias("n_pts"),
            F.sum(F.expr("w * v_mils")).alias("swv"),
            F.sum("w").alias("sw"),
        )
        .selectExpr(
            "ix", "iy", "n_pts",
            "CAST(FLOOR(CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE)) AS BIGINT)"
            " AS idw_mils",
        )
    )


def fuzzy_name_pairs(spark, sf_dir):
    """Blocked FUZZY JOIN (entity resolution): part-name pairs within
    edit distance 1..3, blocked on the last name token — the classic
    data-cleaning join (blocking keeps it an equi-join; Levenshtein
    runs only inside blocks, never all-pairs).  Per (block, distance):
    pair count + key checksum.  Three result-preserving reductions:
    (1) DEDUP-BEFORE-QUADRATIC — group rows by (block, name) first
    (one mergeable hash agg) and run Levenshtein once per DISTINCT
    name pair, then recover instance-pair counts and key checksums
    from group sizes/key sums (n = ca*cb, sum = ca*skb + cb*ska; both
    aggregates are symmetric in the pair so orienting by name instead
    of key is row-identical).  Never worse than the instance-level
    join (distinct <= rows), and 57 s -> 0.9 s at sf0.1 where names
    repeat heavily.  (2) |len(a)-len(b)|>3 implies d>3: a codegen'd
    length filter runs before any DP.  (3) the BANDED threshold form
    levenshtein(a, b, 3) early-exits above the threshold (1.7x over
    the full DP, measured).  The oracle runs the full instance-level
    quadratic DP; results are row-identical."""
    p = _t(spark, sf_dir, "part").selectExpr(
        "p_partkey AS k", "p_name AS nm",
        "element_at(split(p_name, ' '), -1) AS blk",
    )
    g = p.groupBy("blk", "nm").agg(
        F.count(F.lit(1)).alias("c"), F.sum("k").alias("sk")
    ).withColumn("ln", F.length("nm"))
    a = g.selectExpr("blk", "nm AS na", "c AS ca", "sk AS ska", "ln AS la")
    b = g.selectExpr("blk", "nm AS nb", "c AS cb", "sk AS skb", "ln AS lb")
    pairs = (
        a.join(b, ["blk"])
        .filter(F.col("na") < F.col("nb"))
        .filter(F.abs(F.col("la") - F.col("lb")) <= 3)
        .withColumn("d", F.levenshtein("na", "nb", 3).cast("int"))
        .filter((F.col("d") >= 1) & (F.col("d") <= 3))
    )
    return pairs.groupBy("blk", "d").agg(
        F.sum(F.expr("ca * cb")).alias("n_pairs"),
        F.sum(F.expr("ca * skb + cb * ska")).alias("sum_keys"),
    )


def event_transitions(spark, sf_dir):
    """Markov TRANSITION counts over per-user event sequences: one lag
    window in (ts, event_id) order -> (prev_type, type) histogram — the
    sequence-mining primitive behind next-event prediction features.
    One hash exchange on user_id, like the as-of join."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def customer_gini(spark, sf_dir):
    """GINI COEFFICIENT of customer spend — the inequality statistic,
    integer-exact: spend in mils (BIGINT), one global rank window over
    the per-customer aggregate (tiny at any scale: rows = customers,
    not orders), Gini from the rank identity
    G = (2*SUM(i*x) - (n+1)*SUM(x)) / (n*SUM(x)) in basis points."""
    orders = _t(spark, sf_dir, "orders").selectExpr(
        "o_custkey",
        "CAST(FLOOR(o_totalprice * 1000 + 0.5) AS BIGINT) AS mils",
    )
    per = orders.groupBy("o_custkey").agg(F.sum("mils").alias("x"))
    w = Window.orderBy(F.col("x").asc(), F.col("o_custkey").asc())
    ranked = per.withColumn("i", F.row_number().over(w).cast("long"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("x").alias("total_mils"),
        F.expr(
            "CAST(FLOOR((2.0 * CAST(SUM(i * x) AS DOUBLE) "
            "- (CAST(COUNT(1) AS DOUBLE) + 1.0) * CAST(SUM(x) AS DOUBLE)) "
            "* 10000.0 / (CAST(COUNT(1) AS DOUBLE) * CAST(SUM(x) AS DOUBLE))) "
            "AS BIGINT)"
        ).alias("gini_bp"),
    )


_MI_LEVEL = 5


def cells_morans_i(spark, sf_dir):
    """MORAN'S I spatial autocorrelation of order-point density on the
    level-5 cell grid (rook adjacency between OCCUPIED cells) —
    integer-exact via deviations D_i = n*c_i - S (so no float mean):
    I = n * SUM_w(D_i*D_j) / (W * SUM(D_i^2)), reported in basis
    points.  Plan: one count agg -> 4-neighbor explode equi-join
    (cells side is tiny at any scale: bounded by the grid) -> one-row
    reduce."""
    from .harness import points_df
    from .sqlgen import grid_index_expr

    pts = points_df(spark, sf_dir).selectExpr(
        f"{grid_index_expr('lon', _MI_LEVEL)} AS ix",
        f"{grid_index_expr('lat', _MI_LEVEL)} AS iy",
    )
    cells = pts.groupBy("ix", "iy").agg(F.count(F.lit(1)).alias("c"))
    tot = cells.agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("s")
    )
    dev = cells.crossJoin(F.broadcast(tot)).selectExpr(
        "ix", "iy", "n", "CAST(n AS BIGINT) * c - s AS d"
    )
    nb = dev.selectExpr(
        "ix", "iy", "d AS d_j",
        "explode(array(array(1, 0), array(-1, 0), array(0, 1), array(0, -1))) AS o",
    ).selectExpr("ix + o[0] AS ix", "iy + o[1] AS iy", "d_j")
    pairs = dev.join(nb, ["ix", "iy"])
    # denominator sums D^2 over CELLS; the edge join must not inflate
    # it by each cell's degree — two one-row aggregates, cross-joined
    den = dev.agg(
        F.max("n").alias("n_cells"),
        F.sum(F.expr("d * d")).alias("sdd"),
    )
    num = pairs.agg(
        F.count(F.lit(1)).alias("w_edges"),
        F.sum(F.expr("d * d_j")).alias("swdd"),
    )
    return den.crossJoin(F.broadcast(num)).selectExpr(
        "n_cells",
        "w_edges",
        "CAST(FLOOR(CAST(n_cells AS DOUBLE) * CAST(swdd AS DOUBLE) * 10000.0 "
        "/ (CAST(w_edges AS DOUBLE) * CAST(sdd AS DOUBLE))) AS BIGINT) "
        "AS morans_i_bp",
    )


# ---------------------------------------------------------------------------
# Mergeable sketches: Bloom-filter semi-join reduction + Count-Min sketch
# ---------------------------------------------------------------------------

# 12-bit cell from 3 hex digits of a precomputed md5 column {h} at
# 1-based positions {a}..{c} — the same conv()-free hex->int idiom as
# the 48-bit sampling hash above; shared verbatim with the oracle.
_B12_CELL = (
    "(CAST((instr('0123456789abcdef', substring({h}, {a}, 1)) - 1) * 256 "
    "+ (instr('0123456789abcdef', substring({h}, {b}, 1)) - 1) * 16 "
    "+ (instr('0123456789abcdef', substring({h}, {c}, 1)) - 1) AS BIGINT))"
)


def _b12_cells(h: str, k: int) -> list[str]:
    """k disjoint 12-bit cells from consecutive 3-hex-digit chunks."""
    return [
        _B12_CELL.format(h=h, a=3 * j + 1, b=3 * j + 2, c=3 * j + 3)
        for j in range(k)
    ]


def bloom_filter_join(spark, sf_dir):
    """BLOOM-FILTER SEMI-JOIN REDUCTION — the classic shuffle-avoidance
    pattern: instead of shuffling the fact table against a key set, ship
    a 4032-bit Bloom filter (64 BIGINT words x 63 usable bits, k=3
    md5-derived hashes) of the BUILDING-segment customer keys and
    pre-filter orders with three codegen'd bitwise tests.
    DETERMINISTIC (md5 bit positions, no RNG) so the DuckDB oracle
    builds the identical filter and the false-positive counts match
    exactly.  Bit position is cell % 63, not % 64: DuckDB's `<<` is
    range-checked and raises on 1<<63 (Spark's shiftleft wraps), so
    bit 63 is unusable cross-engine.

    Plan shape: the filter is a 64-row aggregate folded to ONE broadcast
    map row (map_from_entries) — at 100 TB the fact side is a map-only
    scan + broadcast probe, nothing proportional to orders crosses the
    wire; the exact-membership leg (broadcast semi-join on the real key
    set) rides along only to certify the FP accounting.  Per
    o_orderstatus: orders, bloom passes, true members, false positives,
    and the FP rate over true negatives in basis points.
    """
    cust = _t(spark, sf_dir, "customer")
    seg = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .selectExpr("c_custkey AS k", "md5(CAST(c_custkey AS STRING)) AS h")
    )
    cells = seg.selectExpr(
        f"explode(array({', '.join(_b12_cells('h', 3))})) AS cell"
    )
    words = cells.groupBy(
        F.expr("CAST(FLOOR(cell / 64) AS INT)").alias("w")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(cell % 63 AS INT)))"
        ).alias("m")
    )
    bloom = words.agg(
        F.expr("map_from_entries(collect_list(struct(w, m)))").alias("bm")
    )
    probe = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus",
        "md5(CAST(o_custkey AS STRING)) AS h",
    )
    c1, c2, c3 = _b12_cells("h", 3)
    hit = (
        "((COALESCE(element_at(bm, CAST(FLOOR({c} / 64) AS INT)), "
        "CAST(0 AS BIGINT)) "
        "& shiftleft(CAST(1 AS BIGINT), CAST({c} % 63 AS INT))) <> 0)"
    )
    flagged = (
        probe.crossJoin(F.broadcast(bloom))
        .withColumn(
            "pass_bloom",
            F.expr(
                " AND ".join(hit.format(c=c) for c in (c1, c2, c3))
            ),
        )
        .join(
            seg.select(F.col("k").alias("o_custkey"), F.lit(1).alias("is_mem")),
            "o_custkey",
            "left",
        )
        .withColumn("is_true", F.coalesce("is_mem", F.lit(0)))
    )
    return flagged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.expr("CAST(pass_bloom AS INT)")).alias("n_pass_bloom"),
        F.sum("is_true").alias("n_true"),
        F.sum(F.expr("CAST(pass_bloom AND is_true = 0 AS INT)")).alias(
            "n_false_pos"
        ),
        F.expr(
            "CAST(FLOOR(SUM(CAST(pass_bloom AND is_true = 0 AS INT)) * 10000.0 "
            "/ CAST(SUM(CAST(is_true = 0 AS INT)) AS DOUBLE)) AS BIGINT)"
        ).alias("fp_bp"),
    )


def cms_heavy_hitters(spark, sf_dir):
    """COUNT-MIN SKETCH heavy hitters over document tokens: d=4 hash
    rows x w=4096 counters (disjoint 12-bit md5 chunks — deterministic,
    order-independent since counters are SUMS), point estimate =
    least-of-4, reported for the top-20 tokens alongside the exact count
    so the one-sided overestimate guarantee (est >= exact) is visible
    and oracle-checked.

    Plan shape: the sketch is a (4, cell) hash agg capped at 16384 rows
    — the mergeable map-side-combinable path: at 100 TB each partition
    folds its tokens into <=16k partial counters and only those cross
    the wire.  The estimate probe is a BROADCAST join of the tiny sketch
    back to per-token cells; top-20 via a rank window over the per-token
    aggregate (rows = vocabulary, not corpus).
    """
    toks = (
        _t(spark, sf_dir, "documents")
        .selectExpr("explode(split(text, ' ')) AS tok")
        .filter(F.col("tok") != "")
    )
    tc = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h", F.md5("tok"))
    )
    cells = tc.selectExpr(
        "tok", "cnt",
        "posexplode(array("
        + ", ".join(_b12_cells("h", 4))
        + ")) AS (j, cell)",
    )
    sketch = cells.groupBy("j", "cell").agg(F.sum("cnt").alias("sc"))
    est = (
        cells.join(F.broadcast(sketch), ["j", "cell"])
        .groupBy("tok", "cnt")
        .agg(F.min("sc").alias("est_cms"))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    return (
        est.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .selectExpr(
            "tok", "CAST(rk AS INT) AS rk", "cnt AS exact_cnt", "est_cms",
            "est_cms - cnt AS overestimate",
        )
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values / theta) sketch: set UNION + INTERSECTION
# cardinality — the one estimate HLL cannot give (hll_distinct covers
# plain distinct counts; KMV sketches COMPOSE under union, and the
# shared-hash fraction estimates Jaccard => intersection).
# ---------------------------------------------------------------------------

_KMV_K = 64
_H48_SCALE = 281474976710656  # 2^48, the hash value space


def _h48(h: str) -> str:
    """48-bit integer hash from the first 12 hex digits of a
    precomputed md5 column {h} — 4 weighted 12-bit chunks, the same
    conv()-free digit math as _b12_cells; shared verbatim with the
    oracle."""
    cells = _b12_cells(h, 4)
    return (
        "("
        + " + ".join(
            f"({c} * {4096 ** (3 - i)})" for i, c in enumerate(cells)
        )
        + ")"
    )


def kmv_set_similarity(spark, sf_dir):
    """KMV/THETA SKETCH set similarity between per-event-type user
    sets: k=64 minimum 48-bit md5 hash values per set; for every type
    pair the union sketch is the k smallest of the merged hash sets
    (U_k = its max), est_union = FLOOR((k-1)*2^48 / U_k), and the
    fraction of union-sketch hashes present in BOTH input sketches
    estimates Jaccard => est_inter.  DETERMINISTIC (md5, no RNG), so
    the DuckDB oracle rebuilds the identical sketches; exact
    union/intersection ride along to make the error visible.  When the
    true union has fewer than k members the sketch IS the set and the
    estimate switches to the exact count (same CASE in both engines).

    Plan shape: per-partition partial = each partition's k smallest
    hashes (the rank window reduces ~|users| rows to k per type — at
    100 TB a TakeOrdered-per-type); everything after the sketch is
    O(types^2 * k) rows.  The exact legs are hash aggs over the
    distinct (type, user) projection — the only full-width pass.
    """
    ev = (
        _t(spark, sf_dir, "events")
        .selectExpr("event_type AS t", "user_id AS u")
        .distinct()
    )
    ht = ev.selectExpr(
        "t", "u", "md5(CAST(u AS STRING)) AS hm"
    ).selectExpr("t", f"{_h48('hm')} AS h")
    wt = Window.partitionBy("t").orderBy(F.col("h").asc())
    sk = (
        ht.withColumn("r", F.row_number().over(wt))
        .filter(F.col("r") <= _KMV_K)
        .select("t", "h")
        .localCheckpoint()  # tiny (types*k rows); referenced per pair side
    )
    types = sk.select("t").distinct()
    pairs = (
        types.selectExpr("t AS ta")
        .join(types.selectExpr("t AS tb"), F.col("ta") < F.col("tb"))
    )
    # merge the two sketch sides by union + groupBy, NOT a full outer
    # join: Spark can't broadcast a both-sided outer (it would
    # sort-merge), while this form stays broadcast joins + one tiny
    # hash agg; sk is localCheckpointed so the two branches don't
    # recompute upstream (gotcha 3).
    ska = pairs.join(sk.selectExpr("t AS ta", "h"), "ta").selectExpr(
        "ta", "tb", "h", "1 AS in_a", "0 AS in_b"
    )
    skb = pairs.join(sk.selectExpr("t AS tb", "h"), "tb").selectExpr(
        "ta", "tb", "h", "0 AS in_a", "1 AS in_b"
    )
    merged = (
        ska.unionByName(skb)
        .groupBy("ta", "tb", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wu = Window.partitionBy("ta", "tb").orderBy(F.col("h").asc())
    ku = merged.withColumn("r", F.row_number().over(wu)).filter(
        F.col("r") <= _KMV_K
    )
    est = ku.groupBy("ta", "tb").agg(
        F.max("h").alias("uk"),
        F.count(F.lit(1)).alias("ks"),
        F.sum(F.expr("CAST(in_a = 1 AND in_b = 1 AS INT)")).alias("shared"),
    ).selectExpr(
        "ta", "tb", "shared",
        f"CASE WHEN ks < {_KMV_K} THEN ks ELSE "
        f"CAST(FLOOR({_KMV_K - 1} * CAST({_H48_SCALE} AS DOUBLE) "
        "/ CAST(uk AS DOUBLE)) AS BIGINT) END AS est_union",
        "ks",
    ).selectExpr(
        "ta", "tb", "est_union",
        "CAST(FLOOR(CAST(shared AS DOUBLE) * CAST(est_union AS DOUBLE) "
        "/ CAST(ks AS DOUBLE)) AS BIGINT) AS est_inter",
        "CAST(FLOOR(CAST(shared AS DOUBLE) * 10000.0 "
        "/ CAST(ks AS DOUBLE)) AS BIGINT) AS est_jaccard_bp",
    )
    n = ev.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        ev.selectExpr("t AS ta", "u")
        .join(ev.selectExpr("t AS tb", "u"), "u")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    return (
        est.join(inter, ["ta", "tb"])
        .join(n.selectExpr("t AS ta", "n AS na"), "ta")
        .join(n.selectExpr("t AS tb", "n AS nb"), "tb")
        .selectExpr(
            "ta", "tb",
            "na + nb - exact_inter AS exact_union", "est_union",
            "exact_inter", "est_inter", "est_jaccard_bp",
        )
    )


def hist_quantiles(spark, sf_dir):
    """HISTOGRAM-SKETCH approximate quantiles of o_totalprice: one
    equi-width histogram (8192-dollar bins over integer cents — a
    ~62-row mergeable map-side-combinable agg), then nearest-rank
    percentile estimates (p25/50/75/90/99) read off the cumulative
    counts: est = first bin whose running count reaches
    CEIL(p*n/100).  Complements the EXACT distributed quantiles query
    (r4): this is the single-pass sketch you run at 100 TB when ±1 bin
    is acceptable — nothing after the scan exceeds the bin count.

    Deterministic integer arithmetic end-to-end (cents snap, FLOOR
    division); the DuckDB oracle rebuilds the identical histogram.
    """
    BIN_CENTS = 819200  # $8192 bins in integer cents
    hist = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "CAST(FLOOR(FLOOR(o_totalprice * 100 + 0.5) "
            f"/ {BIN_CENTS}) AS BIGINT) AS bin"
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()  # ~62 rows; referenced by cum + total branches
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("n_le", F.sum("cnt").over(wc)).select("bin", "n_le")
    tot = hist.agg(F.sum("cnt").alias("n"))
    pcts = tot.selectExpr(
        "explode(array(25, 50, 75, 90, 99)) AS pct", "n"
    ).selectExpr(
        "pct", "CAST(FLOOR((pct * n + 99) / 100) AS BIGINT) AS target_rank"
    )
    return (
        pcts.join(cum, cum.n_le >= pcts.target_rank)
        .groupBy("pct", "target_rank")
        .agg(F.min(F.struct("bin", "n_le")).alias("s"))
        .selectExpr(
            "CAST(pct AS INT) AS pct", "target_rank",
            "s.bin AS est_bin",
            f"s.bin * {BIN_CENTS} AS est_lo_cents",
            "s.n_le AS n_le",
        )
    )


def triangle_count_roads(spark, sf_dir):
    """TRIANGLE COUNT over the road-network graph (same 0.1-degree
    cell quantization as road_graph_bfs): each undirected edge is
    oriented from its lower-(degree, id) endpoint to the higher — the
    standard degree-ordering that bounds every node's out-degree by
    O(sqrt(|E|)), so the wedge join (out-edge x out-edge of the same
    source) never explodes on hubs.  A triangle {x,y,z} has exactly one
    oriented wedge x->y, y->z with x->z present, so each is counted
    once: wedge equi-join + edge-existence equi-join, both
    hash-partitioned — no all-pairs anywhere.  Oracle: the identical
    construction in DuckDB over the same roads parquet.
    Output: one row — triangle count + node-id checksum.
    """

    _images, roads = _fixture_images(spark)
    # referenced by deg + both orientation sides
    und = road_edges(roads, undirected=True).localCheckpoint()
    deg = (
        und.selectExpr("u AS nd").unionAll(und.selectExpr("v AS nd"))
        .groupBy("nd")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    oriented = (
        und.join(deg.selectExpr("nd AS u", "deg AS du"), "u")
        .join(deg.selectExpr("nd AS v", "deg AS dv"), "v")
        .selectExpr(
            # lexicographic (deg, id) spelled out — row-constructor
            # comparison parses differently across the two engines
            "CASE WHEN du < dv OR (du = dv AND u < v) "
            "THEN u ELSE v END AS s",
            "CASE WHEN du < dv OR (du = dv AND u < v) "
            "THEN v ELSE u END AS d",
        )
        .localCheckpoint()  # referenced three times by the wedge probe
    )
    e1 = oriented.selectExpr("s AS x", "d AS y")
    e2 = oriented.selectExpr("s AS y", "d AS z")
    e3 = oriented.selectExpr("s AS x", "d AS z")
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    return tri.agg(
        F.count(F.lit(1)).alias("n_triangles"),
        F.coalesce(
            F.sum(F.col("x") + F.col("y") + F.col("z")), F.lit(0)
        ).alias("sum_nodes"),
    )


# ---------------------------------------------------------------------------
# Time-series: autocorrelation, gap-fill + forward-fill, Pareto skyline
# ---------------------------------------------------------------------------

_HOUR_US = 3_600_000_000


def events_acf(spark, sf_dir):
    """AUTOCORRELATION (ACF) of the hourly event-count series at lags
    1..3 — the seasonality probe of a time-series pipeline.  Integer-
    exact through the fold (CLAUDE.md gotcha 8): with n observed hours
    and S the total count, scaled deviations D_t = n*x_t - S are exact
    BIGINTs, r_k = sum(D_t * D_{t+k}) / sum(D_t^2) reported in basis
    points via one FLOOR at the very end.  Pairs where either hour is
    unobserved are excluded (spec'd identically in the oracle).

    Plan shape: ONE hash agg over events (map-side combinable) reduces
    the corpus to observed-hour rows; stats fold to a single broadcast
    row; the lag joins are equi-joins on hour over the tiny hourly
    series.  Nothing after the first agg is proportional to events.
    """
    hourly = (
        _t(spark, sf_dir, "events")
        .selectExpr(f"CAST(FLOOR({_TS_US_SQL} / {_HOUR_US}) AS BIGINT) AS h")
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("x"))
        .localCheckpoint()  # tiny (observed hours); referenced 3x below
    )
    stats = hourly.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    dev = (
        hourly.crossJoin(F.broadcast(stats))
        .selectExpr("h", "n * x - s AS d")
        .localCheckpoint()  # both lag-join sides
    )
    den = dev.agg(
        F.sum(F.expr("d * d")).alias("den"), F.count(F.lit(1)).alias("n_hours")
    )
    lagged = dev.selectExpr("explode(array(1, 2, 3)) AS lag", "h", "d")
    pairs = lagged.join(
        dev.selectExpr("h AS h2", "d AS d2"),
        F.col("h2") == F.col("h") + F.col("lag"),
    )
    num = pairs.groupBy("lag").agg(
        F.sum(F.expr("d * d2")).alias("num"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    return num.crossJoin(F.broadcast(den)).selectExpr(
        "CAST(lag AS INT) AS lag", "n_pairs", "n_hours",
        "CAST(FLOOR(CAST(num AS DOUBLE) * 10000.0 "
        "/ CAST(den AS DOUBLE)) AS BIGINT) AS acf_bp",
    )


def events_gapfill(spark, sf_dir):
    """GAP-FILL + FORWARD-FILL: regularize the per-type hourly value
    series onto the full [min_hour, max_hour] grid, then carry the last
    observation forward across gaps (last ignorenulls window) — the
    standard sensor/feed repair step before any rolling computation.
    Values fold as integer mils (per-row snap, then SUM — exact in both
    engines).

    Plan shape: one hash agg over events -> observed (type, hour) rows;
    the dense grid is types x sequence(min,max) generated, never
    scanned; forward fill is one window partitioned by type (hash
    exchange on type only).  Output stays per-type (summary), so
    nothing proportional to the grid leaves the stage.
    """
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.selectExpr(
            "event_type AS t",
            f"CAST(FLOOR({_TS_US_SQL} / {_HOUR_US}) AS BIGINT) AS h",
            "CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS v_mils",
        )
        .groupBy("t", "h")
        .agg(F.sum("v_mils").alias("v"))
        .localCheckpoint()  # observed rows; referenced by grid + join
    )
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = (
        hourly.select("t").distinct()
        .crossJoin(F.broadcast(bounds))
        .selectExpr("t", "explode(sequence(h0, h1)) AS h")
    )
    wf = (
        Window.partitionBy("t")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = (
        grid.join(hourly, ["t", "h"], "left")
        .withColumn("ff", F.last("v", ignorenulls=True).over(wf))
    )
    return filled.groupBy("t").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.expr("CAST(v IS NULL AS INT)")).alias("n_gaps"),
        F.sum(F.coalesce("ff", F.lit(0))).alias("sum_filled"),
        F.sum(F.coalesce("v", F.lit(0))).alias("sum_observed"),
    )


def orders_skyline(spark, sf_dir):
    """SKYLINE / PARETO FRONTIER per order status: the orders no other
    same-status order beats on BOTH (lower price, later date).  The
    scalable 2D form: collapse to one row per (status, price_cents)
    keeping max date — a mergeable hash agg that bounds the window
    input by distinct prices — then one running-max window ordered by
    price: a point survives iff its date strictly exceeds every
    cheaper point's best date.  The oracle is an INDEPENDENT
    formulation (quadratic NOT EXISTS dominance) over the same
    collapsed points, so the window rewrite itself is what's checked.
    Output: per-status frontier size + price/date checksums.
    """
    pts = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "o_orderstatus AS st",
            "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c",
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS date_us",
        )
        .groupBy("st", "price_c")
        .agg(F.max("date_us").alias("date_us"))
    )
    wp = (
        Window.partitionBy("st")
        .orderBy("price_c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sky = pts.withColumn(
        "best_prior", F.max("date_us").over(wp)
    ).filter(
        F.col("date_us") > F.coalesce(F.col("best_prior"), F.lit(-1))
    )
    return sky.groupBy("st").agg(
        F.count(F.lit(1)).alias("n_skyline"),
        F.sum("price_c").alias("sum_price_c"),
        F.min("price_c").alias("min_price_c"),
        F.max("date_us").alias("max_date_us"),
    )


# ---------------------------------------------------------------------------
# Route interpolation, weighted shortest paths, CUSUM changepoint
# ---------------------------------------------------------------------------


def route_interpolate(spark, sf_dir):
    """POINT-ALONG-LINE interpolation: the arc-length MIDPOINT of every
    road polyline (the t=0.5 case of linear referencing / dynamic
    segmentation).  Per road: lead() pairs consecutive vertices, a
    running-sum window (ordered by vertex index — a SEQUENTIAL fold,
    identical in both engines, never a partial-agg double SUM — gotcha
    8) accumulates segment lengths, the total is MAX over the inclusive
    running sum, and the half-open test start <= L/2 < start+len picks
    exactly one segment to interpolate inside.  Only + - * / sqrt on
    the float path; the result snaps to micro-units at the very end.

    Plan shape: map-only after one hash exchange on road_id (the
    windows); output one row per road, aggregated per kind here so the
    driver compare stays tiny.
    """

    _images, roads = _fixture_images(spark)
    verts = roads.selectExpr(
        "road_id", "kind", "posexplode(coords) AS (i, c)"
    ).selectExpr("road_id", "kind", "i", "c.x AS x", "c.y AS y")
    wo = Window.partitionBy("road_id").orderBy("i")
    seg = (
        verts.withColumn("x2", F.lead("x").over(wo))
        .withColumn("y2", F.lead("y").over(wo))
        .filter(F.col("x2").isNotNull())
        .withColumn(
            "slen",
            F.expr("SQRT((x2 - x) * (x2 - x) + (y2 - y) * (y2 - y))"),
        )
    )
    wcum = wo.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy("road_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mid = (
        seg.withColumn("cum", F.sum("slen").over(wcum))
        .withColumn("start", F.expr("cum - slen"))
        .withColumn("total", F.max("cum").over(wall))
        .filter(
            F.expr("total > 0 AND start <= total / 2 AND total / 2 < cum")
        )
        .selectExpr(
            "road_id", "kind",
            "CAST(FLOOR((x + ((total / 2 - start) / slen) * (x2 - x)) "
            "* 1000000 + 0.5) AS BIGINT) AS mid_ux",
            "CAST(FLOOR((y + ((total / 2 - start) / slen) * (y2 - y)) "
            "* 1000000 + 0.5) AS BIGINT) AS mid_uy",
        )
    )
    return mid.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_roads"),
        F.sum("mid_ux").alias("sum_mid_ux"),
        F.sum("mid_uy").alias("sum_mid_uy"),
    )


_SPW_ROUNDS = 12


def shortest_path_weighted(spark, sf_dir):
    """WEIGHTED single-source shortest paths (Bellman-Ford rounds) over
    the road graph — BFS's hop labels generalized to integer edge
    weights (cell-mils Euclidean).  Seeded at the max-degree hub
    (min-id tie-break, same as road_graph_bfs).  Each round relaxes
    every edge once: dist ⋈ edges equi-join on src, union with the
    incumbent labels, min per node — all hash-partitioned joins/aggs,
    localCheckpointed per round (gotcha 15).  12 rounds bounds path
    length exactly like the oracle's unrolled recurrence.
    Output: distance-band histogram + node-id checksums.
    """
    edges = _spw_edges(spark, sf_dir).localCheckpoint()
    seed = hubs(edges).select("node", F.lit(0).cast("long").alias("d"))
    with _drain_confs(spark):
        dist = seed.localCheckpoint()
        for _ in range(_SPW_ROUNDS):
            relaxed = (
                dist.join(edges, dist.node == edges.src)
                .selectExpr("dst AS node", "d + w AS d")
            )
            dist = (
                dist.unionByName(relaxed)
                .groupBy("node")
                .agg(F.min("d").alias("d"))
                .localCheckpoint()
            )
    return (
        dist.selectExpr(
            "CAST(FLOOR(d / 2000) AS BIGINT) AS band", "node", "d"
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("node").alias("sum_node"),
            F.min("d").alias("min_d"),
            F.max("d").alias("max_d"),
        )
    )


def cusum_changepoint(spark, sf_dir):
    """CUSUM CHANGEPOINT detection on the hourly event-count series:
    cumulative sum of scaled deviations D_t = n*x_t - S (exact BIGINTs,
    same device as events_acf), changepoint = the hour maximizing
    |CUSUM| — the classic mean-shift locator.  The argmax uses the
    packed-integer idiom (events_outliers precedent): |C| * 2^20 +
    (2^20 - 1 - h mod 2^20) picks the largest |C| with the SMALLEST
    hour on ties, identically in both engines, no struct-comparison
    semantics.

    Plan shape: one map-side-combined hourly agg; one sequential
    running-sum window over the tiny series; one final 1-row agg.
    """
    hourly = (
        _t(spark, sf_dir, "events")
        .selectExpr(f"CAST(FLOOR({_TS_US_SQL} / {_HOUR_US}) AS BIGINT) AS h")
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("x"))
        .localCheckpoint()  # tiny; stats + cusum branches
    )
    stats = hourly.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    wc = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    cus = (
        hourly.crossJoin(F.broadcast(stats))
        .selectExpr("h", "n * x - s AS dd", "n")
        .withColumn("c", F.sum("dd").over(wc))
    )
    return cus.selectExpr(
        "n", "ABS(c) AS ac", "h"
    ).groupBy("n").agg(
        F.max(
            F.expr("ac * 1048576 + (1048575 - h % 1048576)")
        ).alias("packed")
    ).selectExpr(
        "n AS n_hours",
        "CAST(FLOOR(packed / 1048576) AS BIGINT) AS max_abs_cusum",
        "CAST(1048575 - packed % 1048576 AS BIGINT) AS cp_hour_mod",
    )


# ---------------------------------------------------------------------------
# Phrase search (positional index), OLS trend, chi-square drift
# ---------------------------------------------------------------------------

# phrases present in the synthetic corpus (vocabulary is SQL-flavored)
_PHRASES = [("table", "hash"), ("part", "filter"), ("customer", "join")]


def phrase_search(spark, sf_dir):
    """POSITIONAL PHRASE SEARCH: exact adjacent-bigram matching over a
    positional inverted index — the IR primitive BM25's bag-of-words
    scoring can't express.  Tokens explode WITH positions (codegen'd
    posexplode, gotcha 16b); for each query phrase the two term
    postings equi-join on (doc_id, pos+1) — never a string scan, never
    a regex.  At 100 TB the postings join is hash-partitioned on
    doc_id and each phrase touches only its two terms' postings.
    Output per phrase: matching docs, total occurrences, doc-id
    checksum.
    """
    # r06: _spread — the posexplode over the corpus otherwise runs in
    # the single-split scan task (guide §2.5)

    toks = (
        _spread(_t(spark, sf_dir, "documents"))
        .selectExpr("doc_id", "posexplode(split(text, ' ')) AS (pos, tok)")
        .filter(F.col("tok") != "")
        .localCheckpoint()  # postings reused by both phrase legs
    )
    terms = list({t for p in _PHRASES for t in p})
    post = toks.filter(F.col("tok").isin(terms))
    qa = spark.createDataFrame(
        [(f"{a} {b}", a, b) for a, b in _PHRASES], "phrase string, ta string, tb string"
    )
    hits = (
        post.selectExpr("doc_id", "pos", "tok AS ta")
        .join(F.broadcast(qa), "ta")
        .join(
            post.selectExpr(
                "doc_id", "pos - 1 AS pos", "tok AS tb"
            ),
            ["doc_id", "pos", "tb"],
        )
    )
    return hits.groupBy("phrase").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
        F.sum(F.expr("doc_id * 2 + pos")).alias("checksum"),
    )


def events_trend(spark, sf_dir):
    """TREND DETECTION: per-type OLS slope of the daily event-count
    series, integer-exact through the closed form — slope =
    (n*Σxy - Σx*Σy) / (n*Σx² - (Σx)²) where x is the day index and y
    the daily count, every Σ a BIGINT; one FLOOR at the end reports
    slope in milli-events/day.  The pattern behind per-key metric
    trend monitors: ONE map-side-combined agg over events, then a
    per-type fold over the tiny daily series — nothing after the first
    agg is proportional to events.
    """
    daily = (
        _t(spark, sf_dir, "events")
        .selectExpr(
            "event_type AS t",
            f"CAST(FLOOR({_TS_US_SQL} / {_HOUR_US * 24}) AS BIGINT) AS day",
        )
        .groupBy("t", "day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    base = daily.groupBy("t").agg(F.min("day").alias("d0"))
    fit = (
        daily.join(F.broadcast(base), "t")
        .selectExpr("t", "day - d0 AS x", "y")
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.expr("x * y")).alias("sxy"),
            F.sum(F.expr("x * x")).alias("sxx"),
        )
    )
    return fit.selectExpr(
        "t", "n", "sy AS total_events",
        "CAST(FLOOR((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) * 1000.0 "
        "/ (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
        "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS BIGINT) "
        "AS slope_milli_per_day",
    )


def drift_chisq(spark, sf_dir):
    """DISTRIBUTION DRIFT detection (data-quality monitoring): weekly
    event-type mix vs the global mix, scored by the chi-square
    statistic — Σ (o - e)² / e over the type cells, log-free (PMI
    precedent: rational arithmetic only, so the oracle is exact).
    Expected counts keep a closed integer form: e_scaled = row_total *
    col_total (over grand total N), and χ²·1e6 = Σ FLOOR((o*N -
    rt*ct)² * 1e6 / (N * rt * ct)) — every term a FLOOR of an exact
    integer ratio.  Plan: ONE (week,type) hash agg over events, two
    tiny rollups broadcast back, per-week fold.  Output: per week the
    scaled χ² and the dominant-excess type (packed argmax).
    """
    wt = (
        _t(spark, sf_dir, "events")
        .selectExpr(
            f"CAST(FLOOR({_TS_US_SQL} / {_HOUR_US * 24 * 7}) AS BIGINT) AS wk",
            "event_type AS t",
        )
        .groupBy("wk", "t")
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint()  # tiny; three rollup branches
    )
    rt = wt.groupBy("wk").agg(F.sum("o").alias("rt"))
    ct = wt.groupBy("t").agg(F.sum("o").alias("ct"))
    nn = wt.agg(F.sum("o").alias("nn"))
    cell = (
        wt.join(F.broadcast(rt), "wk")
        .join(F.broadcast(ct), "t")
        .crossJoin(F.broadcast(nn))
        .selectExpr(
            "wk", "t", "o",
            # (o*N - rt*ct)^2 * 1e6 / (N*rt*ct), floored per cell
            "CAST(FLOOR((CAST(o AS DOUBLE) * CAST(nn AS DOUBLE) "
            "- CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)) "
            "* (CAST(o AS DOUBLE) * CAST(nn AS DOUBLE) "
            "- CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)) * 1000000.0 "
            "/ (CAST(nn AS DOUBLE) * CAST(rt AS DOUBLE) "
            "* CAST(ct AS DOUBLE))) AS BIGINT) AS chi_part",
            # signed excess o*N - rt*ct for the dominant-type argmax
            "o * nn - rt * ct AS excess",
        )
    )
    # packed argmax over excess: largest excess, smallest type
    # lexicographically on ties via a deterministic type index
    tidx = (
        "CAST(instr('cepsv', substring(t, 1, 1)) AS BIGINT)"
    )
    return cell.groupBy("wk").agg(
        F.sum("chi_part").alias("chisq_u"),
        F.count(F.lit(1)).alias("n_types"),
        F.max(F.expr(f"excess * 8 + (7 - {tidx})")).alias("packed"),
    ).selectExpr(
        "wk", "chisq_u", "n_types",
        f"CAST(7 - (packed - FLOOR(packed / 8) * 8) AS BIGINT) AS top_tidx",
    )


# ---------------------------------------------------------------------------
# Market-basket lift, RFM segmentation, BPE merge step, geohash index
# ---------------------------------------------------------------------------


def market_basket_brands(spark, sf_dir):
    """ASSOCIATION-RULE MINING (market basket): brand co-occurrence
    within orders, scored by support and lift.  The baskets are the
    distinct (order, brand) pairs; the pair join is an equi-join on
    the order key whose fanout is bounded by the brand-vocabulary size
    (≤ |brands|² pairs per order, |brands| = 25) — never all-pairs
    across orders.  Brand totals and the order count ride back as
    broadcast one-row/25-row aggregates (no eager count; the TF-IDF N
    lesson).  lift·1000 = n_both · n_orders / (n_a · n_b), FLOORed —
    counts only, so the oracle is exact.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .selectExpr("l_orderkey AS o", "p_brand AS brand")
        .distinct()
        .localCheckpoint()  # three consumers: brand counts, both pair sides
    )
    nb = ob.groupBy("brand").agg(F.count(F.lit(1)).alias("n_brand"))
    n_orders = ob.agg(F.countDistinct("o").alias("n_orders"))
    pairs = (
        ob.selectExpr("o", "brand AS a")
        .join(ob.selectExpr("o", "brand AS b"), "o")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    return (
        pairs.join(F.broadcast(nb.selectExpr("brand AS a", "n_brand AS n_a")), "a")
        .join(F.broadcast(nb.selectExpr("brand AS b", "n_brand AS n_b")), "b")
        .crossJoin(F.broadcast(n_orders))
        .filter(F.col("n_both") >= 3)
        .selectExpr(
            "a AS brand_a",
            "b AS brand_b",
            "n_both",
            "CAST(FLOOR(1000 * n_both / n_orders) AS BIGINT) AS support_milli",
            "CAST(FLOOR(1000.0 * CAST(n_both AS DOUBLE) * CAST(n_orders AS DOUBLE)"
            " / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) AS BIGINT) AS lift_milli",
        )
    )


def _rank2(base, col: str, bucket_expr: str):
    """Exact global rank of ``col`` (tie-break: ck) WITHOUT a global
    sort: rank within value-range buckets in parallel, then a tiny
    bucket-count prefix window broadcast back (the pack_sequences
    two-level trick).  Identical to ROW_NUMBER() OVER (ORDER BY col,
    ck) because bucket ids are monotone in ``col``."""
    b = base.selectExpr("ck", col, f"{bucket_expr} AS _b")
    wb = Window.partitionBy("_b").orderBy(col, "ck")
    local = b.withColumn("_rn", F.row_number().over(wb).cast("long"))
    btot = b.groupBy("_b").agg(F.count(F.lit(1)).alias("_bt"))
    wo = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offs = btot.withColumn(
        "_off", F.coalesce(F.sum("_bt").over(wo), F.lit(0)).cast("long")
    ).select("_b", "_off")
    return local.join(F.broadcast(offs), "_b").selectExpr(
        "ck", "_rn + _off AS rank"
    )


def customer_rfm(spark, sf_dir):
    """RFM SEGMENTATION: per-customer Recency / Frequency / Monetary
    quartile scores, aggregated to segment counts.  Quartiles come
    from EXACT global ranks — computed distributed (two-level bucket
    rank, never a single-partition window over customers) — with the
    closed formula score = FLOOR(4·(rank−1)/n)+1, which both engines
    evaluate identically (the oracle uses a plain ROW_NUMBER; the
    two forms are equal because (metric, ck) is a total order).
    Monetary sums fold as BIGINT cents (gotcha 8).
    """
    od = _t(spark, sf_dir, "orders")
    day = (
        "CAST(FLOOR(unix_micros(CAST(o_orderdate AS TIMESTAMP)) "
        "/ 86400000000) AS BIGINT)"
    )
    per = (
        od.selectExpr(
            "o_custkey AS ck",
            f"{day} AS d",
            "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("ck")
        .agg(
            F.max("d").alias("last_d"),
            F.count(F.lit(1)).alias("freq"),
            F.sum("cents").alias("mon"),
        )
    )
    maxd = per.agg(F.max("last_d").alias("maxd"))
    base = (
        per.crossJoin(F.broadcast(maxd))
        .selectExpr("ck", "maxd - last_d AS rec", "freq", "mon")
        .localCheckpoint()  # four consumers: n + three rank passes
    )
    n_df = base.agg(F.count(F.lit(1)).alias("n"))
    rr = _rank2(base, "rec", "CAST(FLOOR(rec / 64) AS BIGINT)").selectExpr(
        "ck", "rank AS r_rank"
    )
    fr = _rank2(base, "freq", "CAST(FLOOR(freq / 4) AS BIGINT)").selectExpr(
        "ck", "rank AS f_rank"
    )
    mr = _rank2(base, "mon", "CAST(FLOOR(mon / 1048576) AS BIGINT)").selectExpr(
        "ck", "rank AS m_rank"
    )
    scored = (
        base.join(rr, "ck")
        .join(fr, "ck")
        .join(mr, "ck")
        .crossJoin(F.broadcast(n_df))
        .selectExpr(
            "mon",
            # recency: most recent (small rec, low rank) = best score 4
            "CAST(5 - (FLOOR(4 * (r_rank - 1) / n) + 1) AS BIGINT) AS r_score",
            "CAST(FLOOR(4 * (f_rank - 1) / n) + 1 AS BIGINT) AS f_score",
            "CAST(FLOOR(4 * (m_rank - 1) / n) + 1 AS BIGINT) AS m_score",
        )
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("mon").alias("sum_cents"),
    )


def bpe_merge_candidates(spark, sf_dir):
    """BPE TRAINING STEP (tokenizer induction): the first
    byte-pair-merge iteration — count every adjacent character pair
    weighted by word frequency, report the top-20 merge candidates.
    DEDUP-BEFORE-QUADRATIC (the fuzzy-join lesson): pair explosion
    runs over the VOCABULARY (distinct words × their length), not the
    corpus — the corpus pass is one word-count agg.  The pair explode
    is `explode(sequence)` + a codegen'd substring projection, never
    an interpreted transform() lambda (gotcha 16b).  The final top-20
    window runs over the pair table, bounded by |charset|² rows.
    """
    docs = _t(spark, sf_dir, "documents")
    words = (
        docs.selectExpr("explode(split(text, ' ')) AS w")
        .filter("w <> ''")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wf"))
    )
    pairs = (
        words.filter(F.length("w") >= 2)
        .selectExpr("w", "wf", "explode(sequence(1, length(w) - 1)) AS i")
        .selectExpr("substring(w, i, 2) AS pair", "wf")
        .groupBy("pair")
        .agg(F.sum("wf").alias("cnt"))
    )
    w_rank = Window.orderBy(F.col("cnt").desc(), F.col("pair").asc())
    return (
        pairs.withColumn("rnk", F.row_number().over(w_rank).cast("int"))
        .filter("rnk <= 20")
        .select("rnk", "pair", "cnt")
    )


def geohash_cells(spark, sf_dir):
    """GEOHASH cell index (the third index family beside Z-order
    quadtree and hex): standard base-32 geohash at precision 6 over
    the synthetic order points, rolled up by 4-char prefix — the
    string-prefix containment property (cell p+1 strings extend cell
    p's) is what makes geohash a useful clustering/bucketing key, and
    the rollup exercises it.  Pure codegen projection (shared
    sqlgen.geohash_steps fragments) + one hash agg — zero joins.
    """
    from .harness import PX, PY
    from .sqlgen import apply_steps, geohash_steps

    # r06: _spread — the 6-level base-32 string construction otherwise
    # runs inside the single-split scan task (guide §2.5)
    pts = _spread(_t(spark, sf_dir, "orders"), "o_orderkey").selectExpr(
        "o_orderkey AS point_id", f"{PX} AS lon", f"{PY} AS lat"
    )
    steps = geohash_steps("lon", "lat", 6, "gh")
    enc = apply_steps(pts, steps)
    return (
        enc.selectExpr("substring(gh, 1, 4) AS gh4", "gh", "gh_g")
        .groupBy("gh4")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.countDistinct("gh").alias("n_cells6"),
            F.sum("gh_g").alias("checksum"),
        )
    )


# ---------------------------------------------------------------------------
# Decontamination, mixture reweighting, vocab coverage, Hilbert index
# ---------------------------------------------------------------------------


def contamination_check(spark, sf_dir):
    """TRAIN/EVAL DECONTAMINATION (the GPT-3-style n-gram collision
    scan): documents whose id ≡ 0 (mod 97) stand in for the held-out
    benchmark; any train document sharing ≥2 distinct 8-token
    shingles with an eval document is flagged.  Scale shape: the eval
    side is benchmark-sized by nature → broadcast; shingles with
    corpus document-frequency > 256 are dropped BEFORE the join
    (non-discriminative boilerplate — standard decontamination
    practice, and the explicit worst-bucket bound; mirrored in the
    oracle so the bound is semantics, not a silent cap).
    """
    # r06: _spread — the shingle explode + concat_ws + the distinct's
    # partial aggregate otherwise run inside the corpus scan's single
    # task (guide §2.5; no-op on a wide scan)

    docs = _spread(_t(spark, sf_dir, "documents")).selectExpr(
        "doc_id", "split(text, ' ') AS tk"
    )
    sh = (
        docs.filter("size(tk) >= 4")
        .selectExpr("doc_id", "tk", "explode(sequence(1, size(tk) - 3)) AS i")
        .selectExpr("doc_id", "concat_ws(' ', slice(tk, i, 4)) AS sh")
        .distinct()
        .localCheckpoint()  # three consumers: df bound + both join sides
    )
    rare = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter("df <= 256")
        .select("sh")
    )
    shr = sh.join(rare, "sh")
    ev = shr.filter("doc_id % 97 = 0").selectExpr("doc_id AS eval_doc", "sh")
    tr = shr.filter("doc_id % 97 <> 0").selectExpr("doc_id AS train_doc", "sh")
    return (
        tr.join(F.broadcast(ev), "sh")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def dataset_mix_weights(spark, sf_dir):
    """DATASET MIXTURE REWEIGHTING (temperature sampling, α = 0.5):
    per-source sampling shares ∝ sqrt(n_docs) — the standard move that
    up-weights small high-quality sources when composing a training
    mix.  sqrt is IEEE-exact, but the CROSS-SOURCE sum is quantized to
    integer millionths BEFORE folding (gotcha 8: a multi-row double
    sum would expose fold order), so both engines add the same BIGINTs.
    One map-side-combined agg over documents; everything after is
    source-cardinality-sized.
    """
    src = (
        _t(spark, sf_dir, "documents")
        .selectExpr("source", "size(split(text, ' ')) AS nt")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("nt").alias("n_tokens"))
        .withColumn(
            "w_m",
            F.expr("CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)"),
        )
        .localCheckpoint()  # tiny; summed and re-joined
    )
    tot = src.agg(
        F.sum("w_m").alias("sw"), F.sum("n_docs").alias("nd")
    )
    return src.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "n_docs",
        "n_tokens",
        "CAST(FLOOR(1000000 * n_docs / nd) AS BIGINT) AS natural_ppm",
        "CAST(FLOOR(1000000 * w_m / sw) AS BIGINT) AS temperature_ppm",
    )


def vocab_oov_rate(spark, sf_dir):
    """TOKENIZER COVERAGE: out-of-vocabulary token rate per source
    against the corpus' own top-1000 word vocabulary — the question a
    tokenizer/vocab choice gets asked before training.  The vocabulary
    ranking window runs over the word-count table (vocabulary-sized,
    never the corpus) and broadcasts back; OOV mass is a left join
    whose misses count, all token math in BIGINT.
    """
    tw = (
        _t(spark, sf_dir, "documents")
        .selectExpr("source", "explode(split(text, ' ')) AS w")
        .filter("w <> ''")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()  # feeds both the vocab ranking and the probe
    )
    wc = tw.groupBy("w").agg(F.sum("cnt").alias("tot"))
    w_rank = Window.orderBy(F.col("tot").desc(), F.col("w").asc())
    vocab = (
        wc.withColumn("rnk", F.row_number().over(w_rank))
        .filter("rnk <= 1000")
        .select("w")
    )
    probed = tw.join(
        F.broadcast(vocab.withColumn("in_v", F.lit(1))), "w", "left"
    )
    return probed.groupBy("source").agg(
        F.sum("cnt").alias("total_tokens"),
        F.sum(F.expr("CASE WHEN in_v IS NULL THEN cnt ELSE 0 END")).alias(
            "oov_tokens"
        ),
        F.expr(
            "CAST(FLOOR(1000000 * SUM(CASE WHEN in_v IS NULL THEN cnt ELSE 0 END)"
            " / SUM(cnt)) AS BIGINT)"
        ).alias("oov_ppm"),
    )


def hilbert_cells(spark, sf_dir):
    """HILBERT-CURVE cell index (xy→d at 15 bits/axis) over the
    synthetic order points — the locality-preserving alternative to
    Z-order that modern table formats offer for file clustering,
    rolled up by curve-range bucket (d >> 18).  The quadrant-rotation
    recurrence cannot be a Spark SQL step chain: x' and y' each
    reference BOTH x and y, so CollapseProject doubles the inlined
    expression per level — 2^15 blowup (gotcha 2).  It runs as an
    Arrow-vectorized pandas UDF over the pre-quantized integer grid
    (cells.hilbert_d, ~10⁸ rows/s of numpy bitops); the DuckDB oracle
    runs the IDENTICAL recurrence as a 15-layer single-reference CTE
    chain (linear per row there).  Null-masking is moot (grid indices
    are non-null by construction) and the UDF input is two int64
    columns — payload bytes never reach Python.
    """
    from .harness import PX, PY
    from .sqlgen import grid_index_expr

    @F.pandas_udf("long")
    def _hd(x: pd.Series, y: pd.Series) -> pd.Series:
        from sdg_engine.cells import hilbert_d

        return pd.Series(hilbert_d(x.to_numpy(), y.to_numpy(), 15))

    pts = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderkey AS point_id",
        f"{grid_index_expr(PX, 15)} AS xi",
        f"{grid_index_expr(PY, 15)} AS yi",
    )
    enc = pts.withColumn("hd", _hd("xi", "yi"))
    return (
        enc.selectExpr("(hd >> 18) AS hbucket", "hd")
        .groupBy("hbucket")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("hd").alias("d_min"),
            F.max("hd").alias("d_max"),
            F.sum("hd").alias("checksum"),
        )
    )


# ---------------------------------------------------------------------------
# Product-quantization ANN (the Faiss-style compressed-domain scan)
# ---------------------------------------------------------------------------

_PQ_M = 8  # subspaces (64 dims / 8)
_PQ_K = 16  # centroids per subspace
_PQ_TOPK = 5

# sequential squared-L2 folds (the proven kmeans/ANN parity pattern:
# aggregate/zip_with here, list_sum/list_transform in DuckDB — both
# fold left-to-right over 8 elements)
_PQ_D2_DB = (
    "aggregate(zip_with(sub, cent, (x, c) -> (x - c) * (x - c)), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)
_PQ_D2_Q = (
    "aggregate(zip_with(qsub, cent, (x, c) -> (x - c) * (x - c)), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)


def ann_pq_topk(spark, sf_dir):
    """PRODUCT-QUANTIZATION ANN (the Faiss-style compressed-domain
    scan — the vector-search scale path beyond LSH/IVF): 64-dim
    embeddings split into 8 subspaces of 8 dims; a 16-centroid
    codebook per subspace (deterministic seeds = vec_id 0..15, one
    Lloyd update — the kmeans_embeddings recipe per subspace); every
    vector encodes to 8 nibbles.  Queries (vec_id ≡ 0 mod 100) build
    an 8×16 distance LUT and the database scan is a BROADCAST
    LUT equi-join on (subspace, code) + a BIGINT sum — the asymmetric
    distance computation, no float folds across rows (per-cell d2 is
    FLOORed to integer micros first, gotcha 8).  At 100 TB the codes
    table is 8 bytes/vector, codebooks broadcast, and the ADC scan is
    one map-side-combined agg per query batch — exactly the
    IVF-ADC shape.  Centroid updates ROUND(avg, 6) in both engines
    (full-mantissa values ⇒ no boundary ties; kmeans precedent).
    """
    # r06: _spread — the interpreted HOF distance evaluations
    # (sub × 16 centroids per assign pass) otherwise run in the
    # single-split scan's one task (guide §2.5)

    emb = _spread(_t(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("emb")
    )
    sub = (
        emb.selectExpr(
            "vec_id", "emb", f"explode(sequence(0, {_PQ_M - 1})) AS m"
        )
        .selectExpr("vec_id", "m", "slice(emb, m * 8 + 1, 8) AS sub")
        .localCheckpoint()  # five consumers: seeds, 2 assigns, update, queries
    )
    cb1 = sub.filter(f"vec_id < {_PQ_K}").selectExpr(
        "m", "CAST(vec_id AS INT) AS code", "sub AS cent"
    )

    def assign(cb):
        return (
            sub.join(F.broadcast(cb), "m")
            .withColumn("_d2", F.expr(_PQ_D2_DB))
            .groupBy("vec_id", "m")
            .agg(F.min(F.struct("_d2", "code")).alias("_mn"))
            .selectExpr("vec_id", "m", "_mn.code AS code")
        )

    cb2 = (
        assign(cb1)
        .join(sub, ["vec_id", "m"])
        .selectExpr("m", "code", "posexplode(sub) AS (pos, x)")
        .groupBy("m", "code", "pos")
        .agg(F.round(F.avg("x"), 6).alias("c"))
        .groupBy("m", "code")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(pos, c))), s -> s.c)"
            ).alias("cent")
        )
        .localCheckpoint()  # tiny (128 rows); feeds encode + LUT
    )
    codes = assign(cb2)
    q = sub.filter("vec_id % 100 = 0").selectExpr(
        "vec_id AS qid", "m", "sub AS qsub"
    )
    lut = (
        q.join(cb2, "m")
        .withColumn("_d2q", F.expr(_PQ_D2_Q))
        .selectExpr(
            "qid", "m", "code",
            "CAST(FLOOR(_d2q * 1000000) AS BIGINT) AS d2u",
        )
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter("vec_id <> qid")
        .groupBy("qid", "vec_id")
        .agg(F.sum("d2u").alias("ad2_u"))
    )
    w = Window.partitionBy("qid").orderBy("ad2_u", "vec_id")
    return (
        adc.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(f"rnk <= {_PQ_TOPK}")
        .select("qid", "rnk", "vec_id", "ad2_u")
    )


def link_prediction_roads(spark, sf_dir):
    """GRAPH LINK PREDICTION on the quantized road graph: the
    resource-allocation index RA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/deg(z)
    for non-adjacent pairs — RA is the log-free cousin of Adamic-Adar
    (integer-exact as FLOOR(10⁶/deg) BIGINT sums, gotcha 8).  Wedges
    enumerate per common-neighbor z with an explicit hub bound
    (deg(z) ≤ 32, mirrored in the oracle — high-degree hubs contribute
    ≤ 1/33 each and are exactly the quadratic blowup at scale, the
    standard LP truncation); existing edges leave via a left-anti
    equi-join.  Same und/deg construction as triangle_count_roads.
    """

    _images, roads = _fixture_images(spark)
    # deg + wedge sides + anti-join probe
    und = road_edges(roads, undirected=True).localCheckpoint()
    deg = (
        und.selectExpr("u AS nd")
        .unionAll(und.selectExpr("v AS nd"))
        .groupBy("nd")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    nbr = und.selectExpr("u AS z", "v AS nb").unionAll(
        und.selectExpr("v AS z", "u AS nb")
    )
    z_ok = deg.filter("deg <= 32").selectExpr("nd AS z", "deg AS degz")
    nbrs = nbr.join(z_ok, "z").localCheckpoint()  # both wedge sides
    pairs = (
        nbrs.selectExpr("z", "degz", "nb AS a")
        .join(nbrs.selectExpr("z", "nb AS b"), "z")
        .filter("a < b")
    )
    cand = pairs.join(
        und.selectExpr("u AS a", "v AS b"), ["a", "b"], "left_anti"
    )
    return (
        cand.groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.expr("CAST(FLOOR(1000000 / degz) AS BIGINT)")).alias(
                "ra_u"
            ),
        )
        .filter("n_common >= 2")
    )


# grid-DBSCAN shared fragments (identical text in the DuckDB oracle)
_DB_N = 128  # level-7 grid over the 0..10 world
_DB_MINPTS = 25
_DB_IX = "CAST(LEAST(GREATEST(FLOOR(x / 10.0 * 128), 0), 127) AS BIGINT)"
_DB_IY = "CAST(LEAST(GREATEST(FLOOR(y / 10.0 * 128), 0), 127) AS BIGINT)"


def spatial_dbscan(spark, sf_dir):
    """DENSITY-BASED CLUSTERING (grid DBSCAN) over road vertices:
    level-7 cells are core when their 3×3 neighborhood holds ≥ 25
    vertices; clusters are 8-adjacency components of core cells
    (pointer-jumped min-label, O(log diameter) rounds); non-core
    cells adjacent to a cluster attach as border cells (min label —
    deterministic, the classic DBSCAN border rule).  Every stage is a
    bounded equi-join on cell keys: neighborhood sums and adjacency
    both come from a 9-offset explode, never a distance join.  Oracle:
    identical fragments + a pruned recursive-CTE reachability min.
    """

    _images, roads = _fixture_images(spark)
    g = roads.selectExpr("explode(coords) AS c").selectExpr(
        "c.x AS x", "c.y AS y"
    ).selectExpr(f"{_DB_IX} AS ix", f"{_DB_IY} AS iy")
    cells = (
        g.groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()  # contributes to nc, core, and border sides
    )
    contrib = cells.selectExpr(
        "ix", "iy", "cnt", "explode(sequence(0, 8)) AS o"
    ).selectExpr(
        "ix + (o % 3) - 1 AS tx",
        "iy + CAST(FLOOR(o / 3) AS BIGINT) - 1 AS ty",
        "cnt",
    )
    nc = contrib.groupBy("tx", "ty").agg(F.sum("cnt").alias("nc"))
    core = (
        cells.join(
            nc, (cells.ix == nc.tx) & (cells.iy == nc.ty)
        )
        .filter(f"nc >= {_DB_MINPTS}")
        .selectExpr("ix", "iy", "ix * 4096 + iy AS k", "cnt")
        .localCheckpoint()  # adjacency probe + labels + rollup
    )
    probe = (
        core.selectExpr("k", "ix", "iy", "explode(sequence(0, 8)) AS o")
        .filter("o <> 4")
        .selectExpr(
            "k AS src",
            "(ix + (o % 3) - 1) * 4096 "
            "+ (iy + CAST(FLOOR(o / 3) AS BIGINT) - 1) AS dst",
        )
    )
    edges = probe.join(core.selectExpr("k AS dst"), "dst").select("src", "dst")
    labels = _components_jump(edges, core.select("k"))
    core_lab = core.join(labels, core.k == labels.v).selectExpr(
        "label", "cnt", "k", "CAST(1 AS BIGINT) AS is_core"
    )
    noncore = cells.join(core.select("ix", "iy"), ["ix", "iy"], "left_anti")
    battach = (
        noncore.selectExpr(
            "ix", "iy", "cnt", "explode(sequence(0, 8)) AS o"
        )
        .filter("o <> 4")
        .selectExpr(
            "ix * 4096 + iy AS k",
            "cnt",
            "(ix + (o % 3) - 1) * 4096 "
            "+ (iy + CAST(FLOOR(o / 3) AS BIGINT) - 1) AS nk",
        )
        .join(labels.selectExpr("v AS nk", "label"), "nk")
        .groupBy("k")
        .agg(F.min("label").alias("label"), F.max("cnt").alias("cnt"))
        .selectExpr("label", "cnt", "k", "CAST(0 AS BIGINT) AS is_core")
    )
    allc = core_lab.unionByName(battach)
    return allc.groupBy("label").agg(
        F.sum("is_core").alias("n_core"),
        F.sum(F.expr("1 - is_core")).alias("n_border"),
        F.sum("cnt").alias("n_points"),
        F.sum("k").alias("checksum"),
    ).selectExpr("label AS cluster_id", "n_core", "n_border", "n_points", "checksum")


def snapshot_zone_map(spark, sf_dir):
    """ZONE-MAP DATA SKIPPING on the snapshot shim (Iceberg manifest
    lower/upper bounds): ten doc_id-range appends commit per-file
    min/max footer stats into the manifest; a range read
    (doc_id ∈ [120, 180]) then opens EXACTLY the two files whose zones
    intersect — 2 of 10, pinned in the output — and applies the
    row-level residual.  This is the scan-avoidance half of the 100 TB
    story: the manifest prunes files before Spark plans the scan, so
    a selective query touches data proportional to selectivity, not
    table size.  Oracle: the same aggregate relationally + the pinned
    file counts (any pruning bug either reads a wrong file set or
    flips the aggregate).
    """
    from .storage import read_snapshot_pruned, write_snapshot

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = f"{_stream_base(spark, 'zonemap_')}/tbl"
    for k in range(10):
        write_snapshot(
            docs.filter(
                (F.col("doc_id") >= k * 50) & (F.col("doc_id") < (k + 1) * 50)
            ).coalesce(1),
            path,
            mode="append",
            stats_cols=["doc_id"],
        )
    pruned, n_scan, n_tot = read_snapshot_pruned(spark, path, "doc_id", 120, 180)
    return (
        pruned.filter("doc_id BETWEEN 120 AND 180")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .withColumn("files_scanned", F.lit(n_scan).cast("int"))
        .withColumn("files_total", F.lit(n_tot).cast("int"))
    )


# truncated integer EWMA (alpha = 1/4): term k of alpha*(1-alpha)^k,
# scaled by 4^8 so every weight is an exact BIGINT — 3^k * 4^(7-k).
_EWMA_W = [3 ** k * 4 ** (7 - k) for k in range(8)]
_EWMA_DEN = sum(_EWMA_W)  # 4^8 - 3^8 = 58975
_DAY_US = 86_400_000_000


def events_ewma(spark, sf_dir):
    """EXPONENTIAL SMOOTHING of the hourly event-count series: EWMA
    with alpha = 1/4 truncated to the last 8 observations, which makes
    it an exact-integer FIR filter — weight of lag k is 3^k * 4^(7-k)
    (the geometric tail beyond lag 7 carries < 10% of the mass and is
    the truncation spec, mirrored in the oracle).  ewma_mils is the
    weighted mean in integer mils: one FLOOR at the very end
    (gotcha 8); everything before it is BIGINT.

    Plan shape: ONE map-side-combinable hash agg reduces events to the
    observed-hour series; the lag window runs over that tiny series
    (length ∝ time span, not data volume) — the single-partition
    window is over hours, never rows.  Rows without 7 priors are
    excluded (spec'd identically in both engines).
    """
    hourly = (
        _t(spark, sf_dir, "events")
        .selectExpr(f"CAST(FLOOR({_TS_US_SQL} / {_HOUR_US}) AS BIGINT) AS h")
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    w = Window.orderBy("h")
    lagged = hourly.select(
        "h",
        "x",
        *[F.lag("x", k).over(w).alias(f"x{k}") for k in range(1, 8)],
    )
    terms = " + ".join(
        f"{wt} * x{k}" if k else f"{wt} * x"
        for k, wt in enumerate(_EWMA_W)
    )
    return lagged.filter("x7 IS NOT NULL").selectExpr(
        "h",
        "x",
        f"CAST({terms} AS BIGINT) AS ewma_scaled",
        f"CAST(FLOOR(({terms}) * 1000 / {_EWMA_DEN}) AS BIGINT) AS ewma_mils",
    )


def events_seasonality(spark, sf_dir):
    """DAY-OF-WEEK SEASONAL INDEX of event volume — the seasonality
    decomposition a feed-monitoring pipeline runs before alerting on
    raw counts.  dow is epoch-day mod 7 (pure BIGINT arithmetic — no
    calendar functions, which the two engines disagree on for week
    starts); the index compares each dow's per-day rate to the global
    per-day rate, in basis points with one FLOOR at the end.

    Plan shape: one (day) hash agg over events (map-side combinable),
    then a 7-row rollup; the totals ride back as a broadcast one-row
    aggregate.  Nothing after the first agg is proportional to events.
    """
    per_day = (
        _t(spark, sf_dir, "events")
        .selectExpr(f"CAST(FLOOR({_TS_US_SQL} / {_DAY_US}) AS BIGINT) AS d")
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dowagg = (
        per_day.selectExpr("d % 7 AS dow", "c")
        .groupBy("dow")
        .agg(F.sum("c").alias("n_events"), F.count(F.lit(1)).alias("n_days"))
    )
    tot = dowagg.agg(
        F.sum("n_events").alias("n"), F.sum("n_days").alias("days_tot")
    )
    return dowagg.crossJoin(F.broadcast(tot)).selectExpr(
        "CAST(dow AS INT) AS dow",
        "n_events",
        "n_days",
        "CAST(FLOOR(n_events * days_tot * 10000 / (n_days * n)) AS BIGINT)"
        " AS idx_bp",
    )


_RAKE_STOPS = "('the', 'a', 'of', 'in', 'and')"
_RAKE_TOPK = 50


def rake_keywords(spark, sf_dir):
    """RAKE KEYWORD EXTRACTION (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs; a word's degree is the
    summed length of every phrase containing it, its score
    degree/frequency (integer mils, one FLOOR).  The phrase-based
    cousin of tfidf_top_terms — co-occurrence inside phrases, not
    document counts.

    Plan shape: one explode + two windows keyed by doc_id (phrase ids
    from a running stopword count, phrase lengths from a count over
    (doc, phrase) — both shuffle on doc_id only), then a
    vocabulary-sized word rollup; the final ranking window runs over
    the vocabulary, never the corpus.
    """
    toks = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "posexplode(split(text, ' ')) AS (pos, w)"
    ).selectExpr(
        "doc_id", "pos", "w",
        f"CAST(w IN {_RAKE_STOPS} AS INT) AS is_stop",
    )
    wp = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    phrased = toks.withColumn("pid", F.sum("is_stop").over(wp)).filter(
        "is_stop = 0"
    )
    plen = phrased.withColumn(
        "plen", F.count(F.lit(1)).over(Window.partitionBy("doc_id", "pid"))
    )
    words = plen.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("plen").alias("deg"),
    )
    return (
        words.withColumn("score_mils", F.expr(
            "CAST(FLOOR(deg * 1000 / freq) AS BIGINT)"))
        .withColumn("rnk", F.row_number().over(
            Window.orderBy(F.col("score_mils").desc(), F.col("w"))).cast("int"))
        .filter(F.col("rnk") <= _RAKE_TOPK)
        .select("rnk", "w", "freq", "deg", "score_mils")
    )


def doc_word_diversity(spark, sf_dir):
    """LEXICAL-DIVERSITY QUALITY SIGNAL per document: Simpson diversity
    1 - sum(p_w^2) over the word distribution (the log-free cousin of
    entropy — boilerplate and keyword-stuffed documents score low, a
    standard pretraining-corpus filter signal).  Integer-exact:
    (n^2 - sum(c^2)) * 1000 / n^2 with one FLOOR (gotcha 8).

    Plan shape: two stacked map-side-combinable hash aggs
    ((doc, word) counts, then per-doc moments) — no window, no join;
    output rows = documents.
    """
    wc = (
        _t(spark, sf_dir, "documents")
        .selectExpr("doc_id", "explode(split(text, ' ')) AS w")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.expr(
            "CAST(FLOOR((SUM(c) * SUM(c) - SUM(c * c)) * 1000 "
            "/ (SUM(c) * SUM(c))) AS BIGINT)"
        ).alias("simpson_mils"),
    )


def label_propagation_roads(spark, sf_dir):
    """COMMUNITY DETECTION via label propagation on the road graph
    (same 0.1° quantization as road_graph_bfs): FIXED 4 synchronous
    rounds, each node adopting the most frequent label among its
    neighbors, ties to the smallest label — the deterministic LPA
    variant (fixed rounds + total-order tie-break kills the usual LPA
    nondeterminism, same discipline as the fixed-iteration PageRank).

    Plan shape per round: one equi-join (edges ⋈ labels on src) + one
    map-side-combinable (dst, label) count + one per-dst ranking
    window — all hash-partitioned on node ids, labels localCheckpointed
    per round (gotcha 15).  Oracle: the identical 4 rounds as a LINEAR
    CTE chain (each round references the previous exactly once — the
    twice-referenced chained-CTE 2^rounds blowup documented at
    shortest_path_weighted does not arise).
    Output: community size + node-id checksum per surviving label.
    """

    _images, roads = _fixture_images(spark)
    und = road_edges(roads, undirected=True)
    dirs = und.selectExpr("u AS src", "v AS dst").unionAll(
        und.selectExpr("v AS src", "u AS dst")
    ).localCheckpoint()  # probed every round
    labels = label_propagation(dirs)
    return labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("v").alias("checksum"),
    )


_VOR_Q = "CAST(FLOOR({c} * 1000000 + 0.5) AS BIGINT)"
_VOR_SEEDS = 16


def voronoi_assign(spark, sf_dir):
    """VORONOI / NEAREST-FACILITY ASSIGNMENT: every road vertex is
    assigned to the nearest of 16 seed sites (first vertex of roads
    0..15) by squared Euclidean distance in integer micro-units —
    exact BIGINT throughout, deterministic ties to the smaller seed id
    (min-struct total order).  The discrete Voronoi partition that
    facility-location and spatial-binning pipelines run.

    Plan shape: the 16-row seed dim broadcasts; the 16× candidate
    fanout collapses in a map-side-combinable min(struct) partial agg
    keyed by vertex, then a 16-row rollup — the fact table never hash-
    exchanges on anything wider than the vertex key.
    """

    _images, roads = _fixture_images(spark)
    px = _VOR_Q.format(c="c.x")
    py = _VOR_Q.format(c="c.y")
    pts = roads.selectExpr(
        "road_id", "posexplode(coords) AS (idx, c)"
    ).selectExpr("road_id", "idx", f"{px} AS px", f"{py} AS py")
    sx = _VOR_Q.format(c="coords[0].x")
    sy = _VOR_Q.format(c="coords[0].y")
    seeds = roads.filter(f"road_id < {_VOR_SEEDS}").selectExpr(
        "road_id AS seed", f"{sx} AS sx", f"{sy} AS sy"
    )
    cand = pts.crossJoin(F.broadcast(seeds)).selectExpr(
        "road_id", "idx", "seed",
        "(px - sx) * (px - sx) + (py - sy) * (py - sy) AS d2",
    )
    best = cand.groupBy("road_id", "idx").agg(
        F.min(F.struct("d2", "seed")).alias("b")
    )
    return best.groupBy(F.col("b.seed").alias("seed")).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("b.d2").alias("sum_d2"),
    )


def source_binaryfile_images(spark, sf_dir):
    """RAW-FILE IMAGE INGEST — Spark's `binaryFile` source, the
    object-store path an image corpus actually arrives by (a directory
    of blobs, one file per image, no table metadata).  The builder
    exports the first 200 fixture images as individual files (each
    partition writes its own files — the distributed binary-export
    sink shape), then ingests them back via binaryFile and fingerprints
    every blob (md5 over hex, folded to an exact 48-bit BIGINT — the
    conv()-free idiom).  Oracle: DuckDB fingerprints the SAME blobs
    straight from the source parquet, so a corruption anywhere in the
    export->scan round trip flips a sum.  At 100 TB this is the
    standard small-files pattern: binaryFile packs many files per task
    (maxPartitionBytes), and content never shuffles — the only
    exchange is the 6-row fmt rollup.
    """
    import os

    images, _roads = _fixture_images(spark)
    out = f"{_stream_base(spark, 'binfiles_')}/files"
    flag = os.path.join(out, "_done")
    if not os.path.exists(flag):
        os.makedirs(out, exist_ok=True)
        sel = images.filter("image_id < 'img000000000200'").select(
            "image_id", "fmt", "bytes"
        )

        def _write(rows):
            for r in rows:
                p = os.path.join(out, f"{r.image_id}.{r.fmt}")
                with open(p, "wb") as f:
                    f.write(bytes(r.bytes))

        sel.foreachPartition(_write)
        open(flag, "w").close()
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "img*")
        .load(out)
    )
    cells = _b12_cells("h", 4)
    fp = " + ".join(
        f"({c} * {4096 ** (3 - j)})" for j, c in enumerate(cells)
    )
    return (
        bf.select(
            F.regexp_extract("path", r"\.([a-z]+)$", 1).alias("fmt"),
            F.length("content").alias("len"),
            F.md5(F.hex("content")).alias("h"),
        )
        .selectExpr("fmt", "len", f"CAST({fp} AS BIGINT) AS fp")
        .groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("len").alias("sum_len"),
            F.sum("fp").alias("sum_fp"),
        )
    )


def groupingsets_orders(spark, sf_dir):
    """GROUPING SETS (the general form cube/rollup specialize): the
    three analyst cuts (status × priority, status, priority) in ONE
    Expand+agg pass over orders — not three scans — with GROUPING()
    markers disambiguating real NULL keys from subtotal rows.  Price
    folds as exact integer cents (gotcha 8: never SUM raw doubles on
    an oracle-checked path).
    """
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_orderstatus AS status",
        "o_orderpriority AS priority",
        "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
    )
    o.createOrReplaceTempView("orders_gs_tmp")
    return spark.sql(
        """
        SELECT COALESCE(status, 'ALL') AS status,
               COALESCE(priority, 'ALL') AS priority,
               CAST(GROUPING(status) * 2 + GROUPING(priority) AS INT)
                 AS gflags,
               COUNT(*) AS n,
               SUM(cents) AS sum_cents
        FROM orders_gs_tmp
        GROUP BY GROUPING SETS ((status, priority), (status), (priority))
        """
    )


def events_rolling_range(spark, sf_dir):
    """RANGE-frame rolling window (value-based, not row-based): the
    trailing 24-HOUR event count over the hourly series — `RANGE
    BETWEEN 23 PRECEDING AND CURRENT ROW` on the integer hour key, so
    gaps in the series genuinely shrink the window (a ROWS frame would
    silently span them; n_obs exposes the difference).  The standard
    rolling-metric shape for irregular time series.

    Plan shape: one map-side-combinable hash agg reduces events to the
    observed-hour series; both range windows run over that tiny series
    (length ∝ time span, not data volume).
    """
    hourly = (
        _t(spark, sf_dir, "events")
        .selectExpr(f"CAST(FLOOR({_TS_US_SQL} / {_HOUR_US}) AS BIGINT) AS h")
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    w = Window.orderBy("h").rangeBetween(-23, 0)
    return hourly.select(
        "h",
        "x",
        F.sum("x").over(w).alias("roll24"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_obs"),
    )


_CONT_MILS_MIN = 600


def dedup_containment(spark, sf_dir):
    """ASYMMETRIC CONTAINMENT dedup (Broder's other coefficient):
    C(A,B) = |S(A) ∩ S(B)| / |S(A)| over distinct word 3-shingles —
    catches SUB-DOCUMENT duplication (A embedded in a larger B), which
    symmetric Jaccard dilutes below threshold.  Candidates come from
    the same inverted rare-shingle index as ngram_jaccard_indexed
    (stop-shingle df ≤ 10, so the worst join bucket is bounded);
    containment is exact integer mils on candidates, BOTH directions
    of each candidate pair (the measure is asymmetric).
    """
    # r06 verify-half optimization: |S(A) ∩ S(B)| is SYMMETRIC even
    # though the coefficient is not, so candidates are generated as
    # UNORDERED pairs (a < b — half the distinct set), each pair's
    # array_intersect runs ONCE, and both directed rows are emitted
    # from it with stack() (n_a = the direction's own set size).
    # Result rows identical, oracle unchanged.  _spread parallelizes
    # the single-split scan's shingle projection (guide §2.5).
    from .queries_ext import _shingle_sets

    docs = _t(spark, sf_dir, "documents")
    sets = _shingle_sets(_spread(docs)).localCheckpoint()
    inv = sets.select("doc_id", F.explode("sh").alias("s"))
    rare = (
        inv.groupBy("s")
        .agg(F.count(F.lit(1)).alias("nf"))
        .filter((F.col("nf") >= 2) & (F.col("nf") <= 10))
        .select("s")
    )
    postings = inv.join(rare, "s")
    cand = (
        postings.alias("a")
        .join(postings.alias("b"), "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return (
        cand.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            "size(array_intersect(sh_a, sh_b)) AS n_int",
            "size(sh_a) AS sz_a",
            "size(sh_b) AS sz_b",
        )
        .selectExpr(
            "n_int",
            "stack(2, doc_a, doc_b, sz_a, doc_b, doc_a, sz_b)"
            " AS (doc_a, doc_b, n_a)",
        )
        .selectExpr(
            "doc_a", "doc_b",
            "CAST(n_int AS BIGINT) AS n_int",
            "CAST(n_a AS BIGINT) AS n_a",
            "CAST(FLOOR(n_int * 1000 / n_a) AS BIGINT) AS cont_mils",
        )
        .filter(f"cont_mils >= {_CONT_MILS_MIN}")
    )


def streaming_snapshot_sink(spark, sf_dir):
    """STREAMING → LAKEHOUSE: ingest the events stream into the
    snapshot table exactly-once (one snapshot commit per micro-batch
    via foreachBatch, batchId-idempotent — streaming.stream_snapshot_sink
    documents the retry contract).  The input is split into 4 files
    with maxFilesPerTrigger=1, so the table ends at exactly 4
    snapshots (pinned in the output); the result reads the LATEST
    snapshot back through the time-travel reader and aggregates —
    so stream ingestion, commit protocol, and snapshot read are all
    load-bearing.  Values fold as integer mils (gotcha 8).
    """
    import os

    from . import streaming as STR
    from .storage import read_snapshot, snapshot_history

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = _stream_base(spark, "snapsink_")
    in_dir = os.path.join(base, "in")
    table = os.path.join(base, "tbl")
    ck = os.path.join(base, "ck")
    if not os.path.exists(in_dir):
        _t(spark, sf_dir, "events").repartition(4).write.parquet(in_dir)

        with _drain_confs(spark, nodata=False):  # r06: see _drain_confs
            STR.stream_snapshot_sink(spark, in_dir, table, ck)
    n_snaps = len(snapshot_history(table))
    return (
        read_snapshot(spark, table)
        .selectExpr(
            "event_type",
            "CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS v_mils",
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v_mils").alias("sum_v_mils"),
        )
        .withColumn("n_snapshots", F.lit(n_snaps).cast("int"))
    )


def snapshot_partition_prune(spark, sf_dir):
    """IDENTITY-PARTITION data skipping (the hive-layout half of
    Iceberg pruning, next to snapshot_zone_map's footer stats): commit
    documents hash-split 2 ways and partitionBy(lang) — 5 langs × 2
    tasks = 10 hive-layout files whose k=v dir segments ride the
    manifest — then a lang='en' read opens EXACTLY the 2 matching
    files (pinned).  At 100 TB this is the first pruning tier every
    selective query hits: files touched ∝ partition selectivity,
    before any footer is opened.  The reader re-derives the partition
    column via basePath, so the residual filter and the aggregate are
    load-bearing on the round trip.
    """
    from .storage import read_snapshot_partitioned, write_snapshot

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = f"{_stream_base(spark, 'partprune_')}/tbl"
    write_snapshot(
        docs.repartition(2, "doc_id"), path,
        mode="append", partition_by=["lang"],
    )
    pruned, n_scan, n_tot = read_snapshot_partitioned(
        spark, path, {"lang": "en"}
    )
    return (
        pruned.filter("lang = 'en'")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .withColumn("files_scanned", F.lit(n_scan).cast("int"))
        .withColumn("files_total", F.lit(n_tot).cast("int"))
    )


def osm_qatile_source(spark, sf_dir):
    """MbTiles as a FIRST-CLASS Spark source — the same QA-tile scan
    as osm_qatile_roads, but through the Spark 4 Python DataSource API
    (`spark.read.format("mbtiles")`): `partitions()` plans one split
    per disjoint rowid range (the driver touches only min/max rowid),
    `read()` gunzips + MVT-decodes per split on executors.  Registering
    the source makes the file a planner-visible relation — a user
    points `.format("mbtiles")` at the planet archive exactly like
    parquet.  Result: per-zoom totals over the decoded features; the
    DuckDB oracle recomputes them from the segment source through the
    bbox-cover + SAT twin, so encoder, sqlite framing, the DataSource
    partition planner, and the decoder are all load-bearing.
    """
    import os

    from . import mvt as MVT
    from . import osm as OSM
    from .harness import segments_df

    spark.dataSource.register(OSM.make_mbtiles_datasource())
    segs = segments_df(spark, sf_dir)
    base = _stream_base(spark, "qatds_")
    tiles = MVT.write_road_mvt(segs, os.path.join(base, "tiles_pq"), level=4)
    mb = os.path.join(base, "roads.mbtiles")
    OSM.write_mbtiles(tiles, mb)
    feats = (
        spark.read.format("mbtiles")
        .option("path", mb)
        .option("n_splits", "8")
        .load()
    )
    return feats.groupBy("z").agg(
        F.countDistinct("tx", "ty").cast("int").alias("n_tiles"),
        F.count(F.lit(1)).alias("n_features"),
        F.sum("road_id").alias("sum_road_id"),
    )


def events_variant_json(spark, sf_dir):
    """SEMI-STRUCTURED VARIANT path (Spark 4's shredded-JSON type):
    events round-trip through a NESTED JSON document — to_json →
    parse_json (VariantType) → typed variant_get extraction on nested
    paths — then aggregate per type.  The oracle computes the same
    aggregate straight from the base columns, so the variant encoder,
    path navigation, and type coercion are all load-bearing: any
    mis-extraction flips a sum.  At scale VARIANT beats per-query
    get_json_object re-parsing: the document parses ONCE into the
    binary shredded form, every extraction is a cheap path walk.
    """
    ev = _t(spark, sf_dir, "events")
    j = ev.selectExpr(
        "to_json(named_struct("
        "  'meta', named_struct("
        "     't', event_type,"
        "     'k', CAST(get_json_object(props, '$.k') AS INT)),"
        "  'v', value)) AS js"
    )
    v = j.selectExpr("parse_json(js) AS var").selectExpr(
        "variant_get(var, '$.meta.t', 'string') AS t",
        "variant_get(var, '$.meta.k', 'int') AS k",
        "variant_get(var, '$.v', 'double') AS val",
    )
    return v.groupBy("t").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("k").cast("long")).alias("sum_k"),
        F.sum(F.expr("CAST(FLOOR(val * 1000 + 0.5) AS BIGINT)")).alias(
            "sum_v_mils"
        ),
    )


def ann_recall_eval(spark, sf_dir):
    """ANN INDEX-QUALITY EVALUATION — recall@3 of the IVF index against
    the exact brute-force baseline, per query.  This is the eval stage
    a real ANN deployment runs before trusting an index: the exact
    top-3 (ann_cosine_topk, broadcast-bounded ground truth) joined
    against the IVF answers (ann_ivf_topk) on (query, neighbor);
    recall in integer mils.  Queries whose IVF cell misses true
    neighbors show < 1000 — the measured cost of the bucketing
    approximation, not a bug (the oracle composes the SAME two
    certified twins, so the number is pinned exactly).
    """
    from .queries import QUERIES as _Q

    exact = (
        _Q["ann_cosine_topk"](spark, sf_dir)
        .filter("rnk <= 3")
        .select("query_id", "neighbor_id")
        .localCheckpoint()  # ground truth: hits join + query universe
    )
    ivf = (
        _Q["ann_ivf_topk"](spark, sf_dir)
        .filter("query_id < 10 AND rnk <= 3")
        .select("query_id", "neighbor_id")
    )
    hits = (
        exact.join(ivf, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    qs = exact.select("query_id").distinct()
    return qs.join(hits, "query_id", "left").selectExpr(
        "query_id",
        "CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit",
        "CAST(FLOOR(COALESCE(n_hit, 0) * 1000 / 3) AS BIGINT) AS recall_mils",
    )


_KCORE_K = 2
_KCORE_ROUNDS = 8


def kcore_roads(spark, sf_dir):
    """k-CORE decomposition (k=2, 8 synchronous peel rounds) of the
    road-network graph (same 0.1-degree quantization as
    road_graph_bfs) — the degeneracy pruning step graph pipelines run
    before community/centrality work.  Each peel round is ONE windowed
    filter over the SYMMETRIC edge list: COUNT(*) OVER (PARTITION BY
    src) is the node degree (edges stored both directions), and
    dropping edges where either endpoint's degree < k removes the
    node.  That form makes every round reference the previous edge
    set EXACTLY once — two hash-partitioned window exchanges on Spark
    (lineage kept linear via localCheckpoint, gotcha 15), and a
    single-reference CTE chain in the DuckDB twin (the shortest-path
    lesson: a twice-referenced chained CTE re-inlines its whole
    prefix per round, 2^rounds blowup).  Fixed-round on BOTH sides so
    parity is exact; convergence at this scale is pinned by pytest
    (an extra round changes nothing).  Output: one row — core node
    count, node-id checksum, core edge count.
    """

    _images, roads = _fixture_images(spark)
    sym = road_edges(roads).localCheckpoint()
    with _drain_confs(spark):
        for _ in range(_KCORE_ROUNDS):
            sym = (
                sym.selectExpr(
                    "src", "dst",
                    "COUNT(*) OVER (PARTITION BY src) AS ds",
                    "COUNT(*) OVER (PARTITION BY dst) AS dd",
                )
                .filter(f"ds >= {_KCORE_K} AND dd >= {_KCORE_K}")
                .select("src", "dst")
                .localCheckpoint()
            )
    return sym.agg(
        F.expr("CAST(COUNT(DISTINCT src) AS BIGINT)").alias("n_core_nodes"),
        F.expr("CAST(COALESCE(SUM(DISTINCT src), 0) AS BIGINT)").alias(
            "sum_node"
        ),
        F.expr("CAST(FLOOR(COUNT(*) / 2) AS BIGINT)").alias("n_core_edges"),
    )


_KDE_TOPK = 10


def cells_kde(spark, sf_dir):
    """KDE HEATMAP (kernel density estimation) of order-point density
    on the level-5 cell grid — the hotspot layer every geospatial
    dashboard renders.  Discrete separable triangle kernel
    w(dx, dy) = (3-|dx|)·(3-|dy|) over the 5×5 neighborhood — all
    integer, so the fold is exact in both engines.  Plan: one count
    agg over points → 25-offset broadcast cross join (the offsets dim
    is a literal) → hash agg on the target cell → top-10 ranking
    window (the ranking runs over the CELL table, bounded by the grid
    — 1024 rows at level 5 — never over points).  Oracle: identical
    construction relationally.
    """
    from .harness import points_df
    from .sqlgen import grid_index_expr

    pts = points_df(spark, sf_dir).selectExpr(
        f"{grid_index_expr('lon', _MI_LEVEL)} AS ix",
        f"{grid_index_expr('lat', _MI_LEVEL)} AS iy",
    )
    cells = pts.groupBy("ix", "iy").agg(F.count(F.lit(1)).alias("c"))
    offs = spark.createDataFrame(
        [(dx, dy, (3 - abs(dx)) * (3 - abs(dy)))
         for dx in range(-2, 3) for dy in range(-2, 3)],
        "dx int, dy int, w int",
    )
    kde = (
        cells.crossJoin(F.broadcast(offs))
        .selectExpr("ix + dx AS ix", "iy + dy AS iy",
                    "c * CAST(w AS BIGINT) AS wc")
        .groupBy("ix", "iy")
        .agg(F.sum("wc").alias("kde"))
    )
    from pyspark.sql import Window

    rnk = F.row_number().over(
        Window.orderBy(F.col("kde").desc(), F.col("ix"), F.col("iy"))
    )
    return (
        kde.withColumn("rnk", rnk.cast("int"))
        .filter(F.col("rnk") <= _KDE_TOPK)
    )


def udtf_word_runs(spark, sf_dir):
    """Spark 4 PYTHON UDTF surface (table-valued function in SQL,
    LATERAL-joined): run-length encoding of consecutive repeated
    words per document — a genuinely sequential per-row computation
    (state carries across elements) that a scalar UDF can't emit as
    rows.  The UDTF is Arrow-batched where the runtime supports it;
    this is the one deliberate Python-in-the-loop query, registered
    as the API-surface demo next to the mbtiles DataSource (the §2.9
    rule — vectorized-only hot paths — stands everywhere else).
    Oracle: an INDEPENDENT gaps-and-islands construction (posexplode
    + lag + running sum of run starts) in DuckDB, so the UDTF's
    sequential RLE is checked against pure relational semantics.
    Output: per repeated word — run count, longest run, repeated-word
    total.
    """
    from pyspark.sql.functions import udtf

    class WordRuns:
        def eval(self, text: str):
            if not text:
                return
            prev, n = None, 0
            for w in text.split(" "):
                if w == prev:
                    n += 1
                else:
                    if n >= 2:
                        yield prev, n
                    prev, n = w, 1
            if n >= 2:
                yield prev, n

    ret = "word string, run_len int"
    try:
        fn = udtf(WordRuns, returnType=ret, useArrow=True)
    except TypeError:  # runtime without the Arrow flag
        fn = udtf(WordRuns, returnType=ret)
    spark.udtf.register("word_runs", fn)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("udtf_docs")
    runs = spark.sql(
        "SELECT r.word, r.run_len "
        "FROM udtf_docs, LATERAL word_runs(text) r"
    )
    return runs.groupBy("word").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.max("run_len").alias("max_run"),
        F.sum("run_len").cast("bigint").alias("sum_len"),
    )


def snapshot_mor_deletes(spark, sf_dir):
    """MERGE-ON-READ equality deletes (Iceberg v2 delete files): two
    appends build the table, then a delete commit tombstones every
    doc_id ≡ 0 (mod 7) — an O(|keys|) sidecar write, NO data rewrite
    (the trickle-delete path copy-on-write MERGE can't afford at
    100 TB).  Readers apply the tombstones as a broadcast anti-join
    scoped to the data dirs that existed at delete time (sequence
    semantics — pinned separately by a re-insert pytest).  Compaction
    then MATERIALIZES the deletes and clears them: the returned
    aggregate reads the compacted table, with the tombstone-file and
    data-file counts pinned (1 delete file before, 0 after; 2 data
    files after) and the pre-delete row count recovered via time
    travel to snapshot 2.  Any bug — tombstone not applied, applied
    twice, lost in compaction, or time travel seeing the delete —
    flips a pinned number or the aggregate.
    """
    from .storage import (
        _read_manifest,
        compact_snapshot,
        count_data_files,
        delete_from_snapshot,
        read_snapshot,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = f"{_stream_base(spark, 'mor_')}/tbl"
    write_snapshot(docs.filter("doc_id < 250").coalesce(1), path,
                   mode="append")
    write_snapshot(docs.filter("doc_id >= 250").coalesce(1), path,
                   mode="append")
    delete_from_snapshot(
        spark, path, docs.filter("doc_id % 7 = 0").select("doc_id"),
        "doc_id",
    )
    n_del = len(_read_manifest(path, 3)["deletes"])
    compact_snapshot(spark, path, target_partitions=2)
    n_del_after = len(_read_manifest(path, 4).get("deletes") or [])
    files_after = count_data_files(path, 4)
    before = read_snapshot(spark, path, as_of=2).agg(
        F.count(F.lit(1)).alias("n_before")
    )
    return (
        read_snapshot(spark, path)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .crossJoin(F.broadcast(before))
        .withColumn("delete_files", F.lit(n_del).cast("int"))
        .withColumn("delete_files_after_compact",
                    F.lit(n_del_after).cast("int"))
        .withColumn("data_files_after_compact",
                    F.lit(files_after).cast("int"))
    )


def snapshot_position_deletes(spark, sf_dir):
    """MERGE-ON-READ **position** deletes (Iceberg v2's other delete
    flavor, next to the equality deletes of snapshot_mor_deletes):
    after two appends, every doc_id ≡ 2 (mod 5) row is located by a
    scan and tombstoned by PHYSICAL ADDRESS — one tiny (file_path,
    pos) parquet keyed on the parquet scanner's _metadata.row_index,
    no data rewrite (the DELETE-after-scan shape; cost O(victims),
    never O(table)).  Readers broadcast-anti-join on the address,
    scoped to the dirs that existed at delete time, so a third append
    legitimately RE-INSERTS equal-valued rows (sequence semantics —
    the aggregate sees them back).  Pinned: tombstone row count
    (recovered relationally in the oracle), 1 position-delete file,
    3 data files, and the pre-delete row count via time travel."""
    from .storage import (
        _read_manifest,
        count_data_files,
        delete_positions_where,
        read_snapshot,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = f"{_stream_base(spark, 'posdel_')}/tbl"
    write_snapshot(docs.filter("doc_id < 250").coalesce(1), path,
                   mode="append")
    write_snapshot(docs.filter("doc_id >= 250").coalesce(1), path,
                   mode="append")
    _snap, n_pos = delete_positions_where(spark, path, "doc_id % 5 = 2")
    write_snapshot(
        docs.filter("doc_id % 5 = 2 AND doc_id < 50").coalesce(1),
        path, mode="append",
    )
    n_posfiles = len(_read_manifest(path, 4)["pos_deletes"])
    files = count_data_files(path, 4)
    before = read_snapshot(spark, path, as_of=2).agg(
        F.count(F.lit(1)).alias("n_before")
    )
    return (
        read_snapshot(spark, path)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .crossJoin(F.broadcast(before))
        .withColumn("n_tombstones", F.lit(int(n_pos)).cast("long"))
        .withColumn("pos_delete_files", F.lit(n_posfiles).cast("int"))
        .withColumn("data_files", F.lit(files).cast("int"))
    )


def snapshot_metadata_tables(spark, sf_dir):
    """Iceberg METADATA TABLES (``files`` + ``history``/``snapshots``)
    as queryable DataFrames — the surface maintenance jobs plan
    against (compaction targets, small-file counts, row accounting)
    without touching a single data page: both tables are driver-side
    manifest walks (file sizes + parquet FOOTER row counts), small by
    design at any table size.  The fixture commits two appends with
    pinned layouts (repartition 3 then 2 ⇒ exactly 3 + 2 files) and
    one equality delete; the check cross-verifies the files table's
    FOOTER row counts against relational counts over the same filters
    plus the history table's commit/delete-file accounting."""
    from .storage import (
        delete_from_snapshot,
        snapshot_files_df,
        snapshot_history_df,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = f"{_stream_base(spark, 'metatbl_')}/tbl"
    write_snapshot(docs.filter("doc_id < 250").repartition(3), path,
                   mode="append")
    write_snapshot(docs.filter("doc_id >= 250").repartition(2), path,
                   mode="append")
    delete_from_snapshot(
        spark, path, docs.filter("doc_id % 11 = 0").select("doc_id"),
        "doc_id",
    )
    files = snapshot_files_df(spark, path)
    hist = snapshot_history_df(spark, path)
    h = hist.agg(
        F.count(F.lit(1)).cast("int").alias("n_commits"),
        F.max(F.when(F.col("snapshot_id") == 3, F.col("mode"))
              ).alias("head_mode"),
        F.sum("n_delete_files").cast("int").alias("sum_delete_files"),
    )
    return (
        files.groupBy("commit_pos")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_files"),
            F.sum("n_rows").alias("n_rows"),
        )
        .crossJoin(F.broadcast(h))
    )


def events_sessionize_batch(spark, sf_dir):
    """BATCH SESSIONIZATION (gaps-and-islands, the batch twin of the
    stateful streaming sessionize): a new session starts at every
    >30-minute gap in a user's event stream — lag + running-sum
    windows partitioned by user_id (ONE hash exchange on the user
    key; per-partition state is O(1) per row, so the same plan holds
    at 10^12 events), then per-session aggregates rolled into a
    session-length histogram with exact BIGINT durations in unix
    micros (engines cannot disagree on sub-second ordering; ties
    break on event_id)."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "user_id", "event_id", f"{_TS_US_SQL} AS us"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us").over(w)
    sess = (
        ev.withColumn(
            "is_new",
            F.when(gap.isNull() | (gap > F.lit(1_800_000_000)), 1)
            .otherwise(0),
        )
        .withColumn(
            "sess",
            F.sum("is_new").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    per = sess.groupBy("user_id", "sess").agg(
        F.count(F.lit(1)).alias("session_len"),
        (F.max("us") - F.min("us")).alias("dur_us"),
    )
    return per.groupBy("session_len").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("dur_us").alias("sum_dur_us"),
    )


def events_auc(spark, sf_dir):
    """EXACT AUC / Mann-Whitney U of `value` as a purchase classifier
    — the ML-eval primitive next to ann_recall_eval, computed WITHOUT
    a global sort: group rows by distinct integer score (cents), take
    the cumulative negative count below each score via the two-level
    bucket prefix (local running sums + a broadcast bucket-offset
    window over the tiny bucket table — the _rank2 trick on the
    score-GROUP table, so the windowed relation is |distinct scores|,
    never |rows|), then 2U = Σ_s n_pos(s)·(2·cum_neg(s) + n_neg(s))
    handles ties as midranks EXACTLY in integers.  Final division is
    integer DIV (both engines floor identically; doubles would lose
    exactness past 2^53)."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS s",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y",
    )
    g = ev.groupBy("s").agg(
        F.sum("y").alias("np_s"),
        F.sum(F.expr("1 - y")).alias("nn_s"),
    )
    b = g.withColumn("_b", F.expr("CAST(FLOOR(s / 4096) AS BIGINT)"))
    wb = (Window.partitionBy("_b").orderBy("s")
          .rowsBetween(Window.unboundedPreceding, -1))
    local = b.withColumn(
        "cum_local", F.coalesce(F.sum("nn_s").over(wb), F.lit(0))
    )
    btot = b.groupBy("_b").agg(F.sum("nn_s").alias("_bt"))
    wo = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offs = btot.withColumn(
        "_off", F.coalesce(F.sum("_bt").over(wo), F.lit(0))
    ).select("_b", "_off")
    cum = local.join(F.broadcast(offs), "_b").selectExpr(
        "np_s", "nn_s", "cum_local + _off AS cum_neg"
    )
    tot = cum.agg(
        F.sum("np_s").alias("n_pos"),
        F.sum("nn_s").alias("n_neg"),
        F.sum(F.expr("np_s * (2 * cum_neg + nn_s)")).alias("u2"),
    )
    return tot.selectExpr(
        "n_pos", "n_neg", "u2",
        "(1000000 * u2) DIV (2 * n_pos * n_neg) AS auc_micros",
    )


def doc_bigram_rarity(spark, sf_dir):
    """BIGRAM-RARITY novelty scoring — a curation signal ranking docs
    by how unusual their word transitions are: global bigram table →
    frequency rank (vocabulary-sized ranking window, never the
    corpus) → per-doc mean rank in integer mils.  Bigrams come from
    ONE posexplode + a lead window on (doc_id, pos) — no per-element
    re-split of the text (gotcha 16b), one exchange on doc_id, then a
    hash join on the bigram key against the vocab-sized rank side."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        words.withColumn("w2", F.lead("w").over(wd))
        .filter(F.col("w2").isNotNull())
        .selectExpr("doc_id", "concat(w, ' ', w2) AS bg")
    )
    cnt = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt"))
    wr = Window.orderBy(F.col("cnt").desc(), "bg")
    rk = cnt.withColumn("rnk", F.row_number().over(wr).cast("long")).select(
        "bg", "rnk"
    )
    return (
        bg.join(rk, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("rnk").alias("sum_rank"),
        )
        .selectExpr(
            "doc_id", "n_bigrams", "sum_rank",
            "(1000 * sum_rank) DIV n_bigrams AS rarity_mils",
        )
    )


def roads_sinuosity(spark, sf_dir):
    """SINUOSITY of every road polyline (path length / endpoint
    chord — the curviness metric linear referencing pipelines
    publish): segment lengths folded SEQUENTIALLY per road (the
    route_interpolate running-sum window — gotcha 8: never a
    partial-agg double SUM), endpoint chord read directly off the
    coords array (no window), micro-unit snap on the final ratio
    (only + - * / sqrt floor on the float path).  One hash exchange
    on road_id; per-kind rollup keeps the compare tiny."""

    _images, roads = _fixture_images(spark)
    verts = roads.selectExpr(
        "road_id", "kind", "posexplode(coords) AS (i, c)"
    ).selectExpr("road_id", "kind", "i", "c.x AS x", "c.y AS y")
    wo = Window.partitionBy("road_id").orderBy("i")
    seg = (
        verts.withColumn("x2", F.lead("x").over(wo))
        .withColumn("y2", F.lead("y").over(wo))
        .filter(F.col("x2").isNotNull())
        .withColumn(
            "slen",
            F.expr("SQRT((x2 - x) * (x2 - x) + (y2 - y) * (y2 - y))"),
        )
    )
    wcum = wo.rowsBetween(Window.unboundedPreceding, 0)
    tot = (
        seg.withColumn("cum", F.sum("slen").over(wcum))
        .groupBy("road_id")
        .agg(F.max("cum").alias("total"))
    )
    ends = roads.selectExpr(
        "road_id", "kind",
        "element_at(coords, 1).x AS x0",
        "element_at(coords, 1).y AS y0",
        "element_at(coords, size(coords)).x AS xn",
        "element_at(coords, size(coords)).y AS yn",
    ).withColumn(
        "chord",
        F.expr("SQRT((xn - x0) * (xn - x0) + (yn - y0) * (yn - y0))"),
    )
    per = (
        ends.join(tot, "road_id")
        .filter("chord > 0")
        .selectExpr(
            "kind",
            "CAST(FLOOR(total / chord * 1000000 + 0.5) AS BIGINT)"
            " AS sin_micros",
        )
    )
    return per.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_roads"),
        F.sum("sin_micros").alias("sum_sin_micros"),
        F.max("sin_micros").alias("max_sin_micros"),
    )


def streaming_static_enrich(spark, sf_dir):
    """STREAM-STATIC broadcast-join enrichment (§2.10) — the canonical
    production dimension join: every micro-batch of the event stream
    inner-joins a static user→tier dimension as a BROADCAST hash join;
    stateless (no watermark, no state stores — the per-batch fixed
    cost of gotcha 16d does not exist here), so availableNow drains at
    scan speed.  The dimension is built from the distinct user set so
    the inner join drops nothing; the aggregate reads the SINK, so a
    broken join (missed or duplicated rows) flips counts or tiers.
    Oracle: the same tier CASE computed relationally from events."""
    import os
    import shutil

    from . import streaming as STR

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    in_dir, out, ck = _drain_dirs(spark, "senrich_")
    shutil.copy(f"{sf_dir}/events.parquet",
                os.path.join(in_dir, "events.parquet"))
    dim = (
        spark.read.parquet(os.path.join(in_dir, "events.parquet"))
        .select("user_id").distinct()
        .selectExpr(
            "user_id",
            "CASE CAST(user_id % 4 AS INT) WHEN 0 THEN 'bronze' "
            "WHEN 1 THEN 'silver' WHEN 2 THEN 'gold' "
            "ELSE 'platinum' END AS tier",
        )
    )

    with _drain_confs(spark, nodata=False):  # r06: see _drain_confs
        STR.stream_static_enrich(spark, in_dir, out, ck, dim)
    return (
        spark.read.parquet(out)
        .groupBy("tier", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"))
            .alias("sum_cents"),
        )
    )


def snapshot_rollback(spark, sf_dir):
    """ROLLBACK (Iceberg rollback_to_snapshot): a bad append is undone
    by ONE metadata-only commit pointing the head back at the good
    snapshot — the bad snapshot stays in history for audit (time
    travel still reads it).  The aggregate reads the rolled-back
    head (= snapshot-1 content); the bad-append row count is
    recovered via as-of(2) and tied out relationally; commit count
    and head mode pinned."""
    from .storage import (
        read_snapshot,
        rollback_snapshot,
        snapshot_history,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = f"{_stream_base(spark, 'rollback_')}/tbl"
    write_snapshot(docs.filter("doc_id < 300").coalesce(1), path,
                   mode="append")
    # the "bad" append: doubled rows (a botched retry)
    bad = docs.filter("doc_id >= 300").union(
        docs.filter("doc_id >= 300")
    )
    write_snapshot(bad.coalesce(1), path, mode="append")
    rollback_snapshot(path, 1)
    n_commits = len(snapshot_history(path))
    bad_vis = read_snapshot(spark, path, as_of=2).agg(
        F.count(F.lit(1)).alias("n_at_bad")
    )
    return (
        read_snapshot(spark, path)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .crossJoin(F.broadcast(bad_vis))
        .withColumn("n_commits", F.lit(n_commits).cast("int"))
        .withColumn("head_mode", F.lit("rollback"))
    )


# quantized 8×8 grid derived from doc_id (full coverage at every SF:
# doc_ids are consecutive from 0 and ≥ 64 rows exist) — shared VERBATIM
# with the DuckDB twin so the clustering key is semantics, not layout
_ZQX = "CAST(doc_id % 8 AS INT)"
_ZQY = "CAST(CAST(FLOOR(doc_id / 8) AS BIGINT) % 8 AS INT)"
# top-3 bits of the 6-bit morton interleave of (qx, qy): y2 x2 y1 —
# 8 buckets of 8 curve-contiguous codes
_ZBUCKET = (
    "CAST(FLOOR(qy / 4) * 4 + FLOOR(qx / 4) * 2 "
    "+ CAST(FLOOR(qy / 2) AS BIGINT) % 2 AS INT)"
)


def snapshot_wap_publish(spark, sf_dir):
    """WRITE–AUDIT–PUBLISH branching (the Iceberg staged-commit
    pattern production pipelines gate ingestion with): readers follow
    the 'main' REF — a tiny named head into the shared snapshot log —
    so an appended snapshot is INVISIBLE until one atomic pointer flip
    publishes it.  Here: snapshot 1 publishes to main; snapshot 2
    stages the remaining docs; the audit validates the staged head
    (no NULL keys, non-empty) and only then fast-forwards main.  The
    returned aggregate reads THROUGH the ref; the pre-publish
    visibility (what ref readers saw while snapshot 2 was staged)
    rides along via a time-travel read of the old head.  The
    audit-fail path (drop_ref rollback, main untouched) is pinned by
    pytest.  Oracle: final + pre-publish aggregates relationally, and
    the published snapshot id pinned.
    """
    from .storage import get_ref, read_snapshot, set_ref, write_snapshot

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = f"{_stream_base(spark, 'wap_')}/tbl"
    s1 = write_snapshot(docs.filter("doc_id < 300").coalesce(1), path,
                        mode="append")
    set_ref(path, "main", s1)
    pre_publish = read_snapshot(spark, path, ref="main")  # plan pins s1
    s2 = write_snapshot(docs.filter("doc_id >= 300").coalesce(1), path,
                        mode="append")  # STAGED: main still at s1
    staged = read_snapshot(spark, path, as_of=s2)
    # audit: key completeness on the staged head (an eager gate by
    # design — the publish decision is control flow)
    bad = staged.filter("doc_id IS NULL").limit(1).count()
    if bad == 0 and not staged.isEmpty():
        set_ref(path, "main", s2)  # PUBLISH: one atomic pointer flip
    n_pre = pre_publish.agg(F.count(F.lit(1)).alias("n_before_publish"))
    return (
        read_snapshot(spark, path, ref="main")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .crossJoin(F.broadcast(n_pre))
        .withColumn("published_snap",
                    F.lit(get_ref(path, "main")).cast("int"))
    )


def textrank_keywords(spark, sf_dir):
    """TEXTRANK keyword extraction (graph-based, the unsupervised
    alternative to RAKE/TF-IDF in this engine's text suite): adjacent
    word pairs form an undirected co-occurrence graph — parallel
    pairs become edge weights inside pagerank()'s groupBy — and the
    INTEGER-EXACT fixed-iteration PageRank (BIGINT micro-units, FLOOR
    divisions; same kernel as pagerank_roads) ranks the vocabulary.
    The ranking window runs over the VOCAB-sized rank table (bounded
    by distinct words, never the corpus).  Oracle: the identical
    unrolled recurrence in SQL over the same bigrams.
    Output: top-15 words by rank, deterministic (pr DESC, word) ties.
    """
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    ws = docs.selectExpr("split(text, ' ') AS ws")
    pairs = (
        ws.selectExpr("ws", "explode(sequence(1, size(ws) - 1)) AS i")
        .selectExpr("ws[i - 1] AS a", "ws[i] AS b")
        .filter("a <> b")
    )
    edges = pairs.selectExpr("a AS src", "b AS dst").unionAll(
        pairs.selectExpr("b AS src", "a AS dst")
    )
    pr = pagerank(edges).select(F.col("node").alias("word"), "pr")
    rnk = F.row_number().over(
        Window.orderBy(F.col("pr").desc(), F.col("word"))
    )
    return pr.withColumn("rnk", rnk.cast("int")).filter(F.col("rnk") <= 15)


# Welch variance from exact integer sums, all-double scalar math with
# a SHARED textual expression (gotcha 8: only + - * / sqrt floor on
# oracle paths; the fold is over BIGINTs, the formula is scalar)
_WELCH_V = (
    "((CAST({n} AS DOUBLE) * CAST({q} AS DOUBLE) "
    "- CAST({s} AS DOUBLE) * CAST({s} AS DOUBLE)) "
    "/ (CAST({n} AS DOUBLE) * (CAST({n} AS DOUBLE) - 1.0)))"
)


def events_welch_ttest(spark, sf_dir):
    """WELCH'S t-TEST of each event type's value against the 'view'
    baseline — the A/B-test primitive of an events pipeline.  Values
    are cents-exact (2-decimal fixture), so n, Σv, Σv² fold as exact
    BIGINTs (one map-side-combined agg over the fact table); the t
    statistic is then a CLOSED-FORM scalar over six integers —
    (m₁−m₂)/√(v₁/n₁+v₂/n₂) — evaluated in identical textual order on
    both engines with one FLOOR at the end (the events_trend
    precedent).  The baseline row rides as a broadcast one-row
    aggregate; no second scan, no shuffle beyond the 5-group agg.
    Output per non-baseline type: n, mean (mils), t (mils).
    """
    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_type",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c",
    )
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.expr("c * c")).alias("q"),
    )
    base = agg.filter("event_type = 'view'").selectExpr(
        "n AS n2", "s AS s2", "q AS q2"
    )
    v1 = _WELCH_V.format(n="n", s="s", q="q")
    v2 = _WELCH_V.format(n="n2", s="s2", q="q2")
    return (
        agg.filter("event_type <> 'view'")
        .crossJoin(F.broadcast(base))
        .selectExpr(
            "event_type",
            "n",
            "CAST(FLOOR(CAST(s AS DOUBLE) * 10.0 / CAST(n AS DOUBLE)) "
            "AS BIGINT) AS mean_mils",
            "CAST(FLOOR((CAST(s AS DOUBLE) / CAST(n AS DOUBLE) "
            "- CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) * 10.0 "
            f"/ SQRT({v1} / CAST(n AS DOUBLE) "
            f"+ {v2} / CAST(n2 AS DOUBLE)) * 1000.0) AS BIGINT) "
            "AS t_mils",
        )
    )


def cells_line_density(spark, sf_dir):
    """LINE-DENSITY SURFACE: total road length per level-5 grid cell
    (midpoint attribution — each polyline segment's full planar
    length lands in its midpoint's cell), the raster layer behind
    road-density styling and sampling weights.  Per-segment length is
    √(dx²+dy²) FLOORed to integer micro-degrees BEFORE the per-cell
    fold, so the SUM is order-independent and exact in both engines
    (gotcha 8).  Plan: segment explode → one hash agg on the cell —
    the explode fanout is |vertices|, the agg output is grid-bounded.
    Output per occupied cell: segment count, summed length (micro).
    """
    from .sqlgen import grid_index_expr

    _images, roads = _fixture_images(spark)
    segs = roads.selectExpr("coords AS cs").selectExpr(
        "explode(transform(sequence(1, size(cs) - 1), "
        "i -> struct(cs[i - 1].x AS x1, cs[i - 1].y AS y1, "
        "cs[i].x AS x2, cs[i].y AS y2))) AS s"
    ).select("s.*")
    mid = segs.selectExpr(
        f"{grid_index_expr('(x1 + x2) / 2', _MI_LEVEL)} AS ix",
        f"{grid_index_expr('(y1 + y2) / 2', _MI_LEVEL)} AS iy",
        "CAST(FLOOR(SQRT((x2 - x1) * (x2 - x1) "
        "+ (y2 - y1) * (y2 - y1)) * 1000000.0) AS BIGINT) AS len_u",
    )
    return mid.groupBy("ix", "iy").agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum("len_u").alias("len_micro"),
    )


_BLOOM_PROBES = (33, 137, 256, 391, 444)


def snapshot_bloom_index(spark, sf_dir):
    """PER-FILE BLOOM INDEX point lookups (the data-skipping primitive
    parquet bloom filters / Iceberg bloom metrics provide): ten
    appends sliced by doc_id mod 10 give a HASH-SCATTERED layout —
    every file's doc_id zone spans the full range, so zone maps prune
    NOTHING for an equality probe.  Each commit stores a 1024-bit,
    3-probe md5 Bloom bitmap per file in the manifest
    (``bloom_cols=["doc_id"]``); ``read_snapshot_point`` then opens
    only maybe-containing files.  Every probe here opens EXACTLY its
    one true file (1/10, zero false positives at this key set —
    deterministic, no RNG anywhere) — at 100 TB that's an id lookup
    touching one file instead of a full scan.  Oracle: the probed
    rows relationally + the pinned per-probe scan counts.
    """
    from functools import reduce

    from .storage import read_snapshot_point, write_snapshot

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = f"{_stream_base(spark, 'bloomix_')}/tbl"
    for k in range(10):
        write_snapshot(docs.filter(f"doc_id % 10 = {k}").coalesce(1),
                       path, mode="append", bloom_cols=["doc_id"])
    outs = []
    for p in _BLOOM_PROBES:
        df, n_scan, n_tot = read_snapshot_point(spark, path, "doc_id", p)
        outs.append(
            df.filter(F.col("doc_id") == p)  # row-level residual
            .select(
                "doc_id", "lang", "n_chars",
                F.lit(n_scan).cast("int").alias("files_scanned"),
                F.lit(n_tot).cast("int").alias("files_total"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), outs)


def snapshot_incremental_mv(spark, sf_dir):
    """INCREMENTAL MATERIALIZED-VIEW MAINTENANCE off the snapshot CDC
    log: the per-lang aggregate MV is built once over snapshot 1, then
    maintained from the COMMIT DELTAS — the append's new data dir is
    read directly as the insert delta (never a table diff), and the
    delete commit's key sidecar is resolved to full rows via one
    broadcast semi-join — then merged as MV ∪ (+inserts) ∪ (−deletes)
    with a single re-aggregation over MV-sized input.  At 100 TB the
    refresh cost is O(delta) + one keyed lookup, not a base-table
    rescan.  The oracle recomputes the aggregate from scratch over
    the final state (docs minus tombstoned keys), so any drift
    between the incremental and direct forms flips a sum; the delta
    sizes ride along as columns (computed relationally on both
    sides).
    """
    from .storage import (
        _read_manifest,
        delete_from_snapshot,
        read_snapshot,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = f"{_stream_base(spark, 'incmv_')}/tbl"
    write_snapshot(docs.filter("doc_id < 400").coalesce(1), path,
                   mode="append")
    mv0 = (
        read_snapshot(spark, path, as_of=1)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("sum_chars"))
        .withColumn("sign", F.lit(1).cast("long"))
    )
    write_snapshot(docs.filter("doc_id >= 400").coalesce(1), path,
                   mode="append")
    delete_from_snapshot(spark, path,
                         docs.filter("doc_id % 9 = 0").select("doc_id"),
                         "doc_id")
    # insert delta: the appended commit's own data dir, read directly
    ins_dir = _read_manifest(path, 2)["dirs"][-1]
    ins = spark.read.parquet(ins_dir)
    # delete delta: tombstone keys -> full rows via broadcast semi-join
    # against the pre-delete state (the keyed lookup of the refresh)
    del_keys = spark.read.parquet(_read_manifest(path, 3)["deletes"][0]["dir"])
    dels = read_snapshot(spark, path, as_of=2).join(
        F.broadcast(del_keys), "doc_id", "semi"
    )
    delta = (
        ins.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("sum_chars"))
        .withColumn("sign", F.lit(1).cast("long"))
        .unionByName(
            dels.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"))
            .withColumn("sign", F.lit(-1).cast("long"))
        )
    )
    sizes = ins.agg(F.count(F.lit(1)).alias("d_ins")).crossJoin(
        del_keys.agg(F.count(F.lit(1)).alias("d_del"))
    )
    return (
        mv0.unionByName(delta)
        .groupBy("lang")
        .agg(
            F.sum(F.expr("sign * n_docs")).alias("n_docs"),
            F.sum(F.expr("sign * sum_chars")).alias("sum_chars"),
        )
        .filter("n_docs > 0")
        .crossJoin(F.broadcast(sizes))
    )


def snapshot_zorder_cluster(spark, sf_dir):
    """Z-ORDER CLUSTERING compaction (OPTIMIZE ... ZORDER BY) and why
    it exists: multi-column zone maps only prune when the layout
    clusters BOTH columns.  Four row-order appends (doc_id ≡ k mod 4
    slices) give every file qx spanning [k, k+4] and qy spanning the
    full domain → the 2-D box query (qx, qy ∈ [4, 7]) prunes NOTHING
    (4/4 files scanned, pinned).  ``cluster_snapshot`` rewrites along
    the morton curve's top-3 bits — one file per 8-code curve run, so
    each file's (qx, qy) zones are a tight 4×2 box — and the same box
    query opens exactly the 2 files whose boxes intersect it (x2=1 ∧
    y2=1 ⇒ buckets 6, 7), 2/8 pinned.  At 100 TB this is the
    difference between a selective 2-D query scanning the table and
    scanning ~box-volume; the rewrite itself is one bucket-keyed
    shuffle.  Oracle: the box aggregate relationally + all three
    pinned counts.
    """
    from .storage import (
        cluster_snapshot,
        read_snapshot_pruned_box,
        write_snapshot,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .withColumn("qx", F.expr(_ZQX))
        .withColumn("qy", F.expr(_ZQY))
    )
    path = f"{_stream_base(spark, 'zorder_')}/tbl"
    for k in range(4):  # row-order layout: 4 doc_id-residue slices
        write_snapshot(docs.filter(f"doc_id % 4 = {k}").coalesce(1),
                       path, mode="append", stats_cols=["qx", "qy"])
    box = {"qx": (4, 7), "qy": (4, 7)}
    _un, scan_row, tot_row = read_snapshot_pruned_box(spark, path, box)
    cluster_snapshot(spark, path, _ZBUCKET, stats_cols=["qx", "qy"],
                     n_buckets=8)
    pruned, scan_z, tot_z = read_snapshot_pruned_box(spark, path, box)
    return (
        pruned.filter("qx BETWEEN 4 AND 7 AND qy BETWEEN 4 AND 7")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .withColumn("files_scanned_roworder",
                    F.lit(f"{scan_row}/{tot_row}"))
        .withColumn("files_scanned_zorder", F.lit(f"{scan_z}/{tot_z}"))
    )


# ---------------------------------------------------------------------------
# Round-5 continuation: distribution tests, trend tests, normalization
# dedup, sequence mining, multi-feature regression, Gi* hotspots, ORC
# ---------------------------------------------------------------------------


def events_ks_test(spark, sf_dir):
    """Two-sample KOLMOGOROV-SMIRNOV test of the `value` distribution,
    'view' vs 'click' — the standard drift/split-sanity check before
    trusting an A/B bucket.  Exact integers end to end: scores are
    cents, ECDFs are cumulative counts, and the statistic is
    D_num = max |ca(s)*n_b - cb(s)*n_a| over distinct scores, so the
    comparison never touches a float.  Reported as ks_micros =
    (1e6 * D_num) DIV (n_a * n_b) — integer division, exact while
    n_a*n_b < 2^63/1e6 (≈3M rows per class; past that, rescale or
    accept double rounding — the two-pass structure is unchanged).

    Plan shape: ONE hash agg collapses the corpus to distinct-score
    rows; cumulatives come from the two-level bucket prefix (local
    running sums inside 4096-wide score buckets + a broadcast
    bucket-offset window over the tiny bucket table) — the windowed
    relation is |distinct scores|, never |rows|, and no partition is
    global."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click"))
        .selectExpr(
            "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS s",
            "CAST(event_type = 'view' AS INT) AS a",
        )
    )
    g = ev.groupBy("s").agg(
        F.sum("a").alias("na_s"), F.sum(F.expr("1 - a")).alias("nb_s")
    )
    b = g.withColumn("_b", F.expr("CAST(FLOOR(s / 4096) AS BIGINT)"))
    wb = (
        Window.partitionBy("_b").orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = b.withColumn("ca_l", F.sum("na_s").over(wb)).withColumn(
        "cb_l", F.sum("nb_s").over(wb)
    )
    btot = b.groupBy("_b").agg(
        F.sum("na_s").alias("_ba"), F.sum("nb_s").alias("_bb")
    )
    wo = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        btot.withColumn("_oa", F.coalesce(F.sum("_ba").over(wo), F.lit(0)))
        .withColumn("_ob", F.coalesce(F.sum("_bb").over(wo), F.lit(0)))
        .select("_b", "_oa", "_ob")
    )
    cum = local.join(F.broadcast(offs), "_b").selectExpr(
        "ca_l + _oa AS ca", "cb_l + _ob AS cb"
    )
    tots = ev.agg(
        F.sum("a").alias("n_a"), F.sum(F.expr("1 - a")).alias("n_b")
    )
    d = cum.crossJoin(F.broadcast(tots)).selectExpr(
        "abs(ca * n_b - cb * n_a) AS dnum", "n_a", "n_b"
    )
    return d.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.max("dnum").alias("d_num"),
    ).selectExpr(
        "n_a", "n_b", "d_num",
        "(1000000 * d_num) DIV (n_a * n_b) AS ks_micros",
    )


def events_mann_kendall(spark, sf_dir):
    """MANN-KENDALL monotone-trend test on the hourly event-count
    series — the non-parametric companion to events_trend's OLS slope:
    S = sum over hour pairs i<j of sign(x_j - x_i), tau = S / C(n,2).
    All-integer S; tau reported in micros via one FLOOR of a double
    ratio (|S| bounded by the pair count, far inside 2^53).

    Plan shape: one map-side-combined hash agg reduces the corpus to
    observed hours; the pair join is over the TIME GRID (bounded by
    the observation window — 720 rows for a month of hours — never by
    event volume), the same boundedness argument as events_acf's lag
    join.  Nothing after the first agg scales with the data."""
    hourly = (
        _t(spark, sf_dir, "events")
        .selectExpr(f"CAST(FLOOR({_TS_US_SQL} / {_HOUR_US}) AS BIGINT) AS h")
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("x"))
        .localCheckpoint()  # tiny (observed hours); both join sides
    )
    pairs = hourly.selectExpr("h AS h1", "x AS x1").join(
        hourly.selectExpr("h AS h2", "x AS x2"), F.col("h2") > F.col("h1")
    )
    s = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.expr("CAST(x2 > x1 AS BIGINT) - CAST(x2 < x1 AS BIGINT)")
        ).alias("s"),
    )
    n = hourly.agg(F.count(F.lit(1)).alias("n_hours"))
    return n.crossJoin(F.broadcast(s)).selectExpr(
        "n_hours", "n_pairs", "s",
        "CAST(FLOOR(1000000.0 * CAST(s AS DOUBLE) "
        "/ CAST(n_pairs AS DOUBLE)) AS BIGINT) AS tau_micros",
    )


def doc_normalized_dedup(spark, sf_dir):
    """NORMALIZATION-THEN-EXACT dedup — the cheap first rung of the
    dedup ladder (below MinHash): lowercase, strip non-alphanumerics,
    collapse whitespace, then group by the md5 of the normalized text
    so the shuffle key is constant-width regardless of document length
    (at 10^12 docs the raw text never becomes a join/group key).
    Output is the dedup ledger: group counts, redundant-doc count, max
    clone family, and a keeper-id checksum.

    ASCII-range regexes behave identically in Java regex (Spark) and
    RE2 (DuckDB); the oracle runs the same normalization chain."""

    # r06 guide §2.5: the two-regex normalization chain is the query's
    # CPU and the harness scan is one split — _spread parallelizes the
    # projection + partial agg (no-op on a many-split production scan).
    docs = _spread(_t(spark, sf_dir, "documents")).selectExpr(
        "doc_id",
        "md5(trim(regexp_replace(regexp_replace(lower(text), "
        "'[^a-z0-9 ]', ' '), ' +', ' '))) AS nkey",
    )
    grp = docs.groupBy("nkey").agg(
        F.count(F.lit(1)).alias("sz"), F.min("doc_id").alias("keeper")
    )
    return grp.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.expr("CAST(sz > 1 AS BIGINT)")).alias("n_dup_groups"),
        F.sum(F.expr("sz - 1")).alias("n_redundant"),
        F.max("sz").alias("max_group"),
        F.sum(F.expr("keeper % 1000003")).alias("keeper_checksum"),
    )


def events_seq_trigrams(spark, sf_dir):
    """SEQUENTIAL-PATTERN MINING: the 10 most common per-user
    event-type trigrams (ordered 3-step paths) — the n-gram
    generalization of event_transitions' Markov pairs.  Two lead
    windows over (user_id, ts, event_id) produce each user's ordered
    path in ONE exchange on user_id; the count table is bounded by
    |event_types|^3, so the ranking window is vocabulary-sized, never
    corpus-sized.  Deterministic top-10: count desc, trigram asc."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.withColumn("e2", F.lead("event_type", 1).over(w))
        .withColumn("e3", F.lead("event_type", 2).over(w))
        .filter(F.col("e3").isNotNull())
        .selectExpr("concat(event_type, '>', e2, '>', e3) AS tri")
    )
    cnt = tri.groupBy("tri").agg(F.count(F.lit(1)).alias("cnt"))
    wr = Window.orderBy(F.col("cnt").desc(), "tri")
    return (
        cnt.withColumn("rk", F.row_number().over(wr).cast("int"))
        .filter("rk <= 10")
        .select("rk", "tri", "cnt")
    )


def events_regression(spark, sf_dir):
    """TWO-FEATURE OLS via the normal equations — value (cents) on
    hour-of-day and day-index: b = C^-1 c with the 2x2 centered-moment
    matrix built from exact BIGINT raw sums (C11 = n*S11 - S1^2 ...),
    then the closed-form solve in doubles over textually identical
    expressions (only * - / on both engines).  Day index is shifted to
    start at 0 (one broadcast min) so the scaled moments stay far from
    2^63; at extreme row counts the same two-pass shape centers on the
    broadcast means instead — the plan is unchanged.

    Plan shape: one broadcast min, ONE map-side-combined agg over the
    corpus folding all 9 moments, then a one-row projection.  No
    shuffle is proportional to events."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        f"FLOOR({_TS_US_SQL} / {_HOUR_US}) AS ht",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y",
    ).selectExpr(
        "CAST(ht % 24 AS BIGINT) AS x1",
        "CAST(FLOOR(ht / 24) AS BIGINT) AS d",
        "y",
    )
    mind = ev.agg(F.min("d").alias("d0"))
    base = ev.join(F.broadcast(mind)).selectExpr("x1", "d - d0 AS x2", "y")
    m = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"), F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x1 * x1")).alias("s11"),
        F.sum(F.expr("x2 * x2")).alias("s22"),
        F.sum(F.expr("x1 * x2")).alias("s12"),
        F.sum(F.expr("x1 * y")).alias("s1y"),
        F.sum(F.expr("x2 * y")).alias("s2y"),
    )
    det = (
        "(CAST(c11 AS DOUBLE) * CAST(c22 AS DOUBLE) "
        "- CAST(c12 AS DOUBLE) * CAST(c12 AS DOUBLE))"
    )
    return m.selectExpr(
        "n",
        "n * s11 - s1 * s1 AS c11",
        "n * s22 - s2 * s2 AS c22",
        "n * s12 - s1 * s2 AS c12",
        "n * s1y - s1 * sy AS c1y",
        "n * s2y - s2 * sy AS c2y",
    ).selectExpr(
        "n", "c11", "c22", "c12",
        "CAST(FLOOR(1000000.0 * (CAST(c22 AS DOUBLE) * CAST(c1y AS DOUBLE) "
        f"- CAST(c12 AS DOUBLE) * CAST(c2y AS DOUBLE)) / {det}) AS BIGINT) "
        "AS b1_micros",
        "CAST(FLOOR(1000000.0 * (CAST(c11 AS DOUBLE) * CAST(c2y AS DOUBLE) "
        f"- CAST(c12 AS DOUBLE) * CAST(c1y AS DOUBLE)) / {det}) AS BIGINT) "
        "AS b2_micros",
    )


def cells_getis_ord(spark, sf_dir):
    """GETIS-ORD Gi* HOTSPOT detection on the level-5 cell grid — the
    local companion to cells_morans_i's global autocorrelation: for
    each occupied cell, the 3x3-neighborhood (queen + self) count sum
    W_i against the global distribution, z_i = (n*W_i - S*w_i) /
    (sqrt(n*SUM(x^2) - S^2) * sqrt((n*w_i - w_i^2)/(n-1))) — the
    textbook statistic with numerator and variance terms kept as exact
    BIGINTs, sqrt/division as the only float ops (IEEE-identical in
    both engines over identical expression text).  Top-10 hotspots,
    deterministic tie-break on (ix, iy).

    Plan shape: one count agg -> 9-offset explode equi-join (cells
    side bounded by the grid at any data scale) -> grid-bounded
    ranking window.  Nothing after the first agg scales with rows."""
    from .harness import points_df
    from .sqlgen import grid_index_expr

    pts = points_df(spark, sf_dir).selectExpr(
        f"{grid_index_expr('lon', _MI_LEVEL)} AS ix",
        f"{grid_index_expr('lat', _MI_LEVEL)} AS iy",
    )
    cells = (
        pts.groupBy("ix", "iy")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()  # tiny (grid-bounded); referenced 3x
    )
    tot = cells.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.expr("c * c")).alias("s2"),
    )
    nb = cells.selectExpr(
        "ix", "iy", "c AS c_j", "explode(sequence(0, 8)) AS k"
    ).selectExpr(
        "ix + (k % 3) - 1 AS ix",
        "iy + CAST(FLOOR(k / 3) AS BIGINT) - 1 AS iy",
        "c_j",
    )
    g = cells.join(nb, ["ix", "iy"]).groupBy("ix", "iy").agg(
        F.count(F.lit(1)).alias("w"), F.sum("c_j").alias("wsum")
    )
    z_expr = (
        "CAST(n * wsum - s * w AS DOUBLE) "
        "/ (SQRT(CAST(n * s2 - s * s AS DOUBLE)) "
        "* SQRT(CAST(n * w - w * w AS DOUBLE) / CAST(n - 1 AS DOUBLE)))"
    )
    zs = g.crossJoin(F.broadcast(tot)).selectExpr(
        "ix", "iy", "w", "wsum",
        "n * wsum - s * w AS znum",
        f"CAST(FLOOR(1000.0 * {z_expr}) AS BIGINT) AS z_mils",
    )
    wr = Window.orderBy(F.col("z_mils").desc(), "ix", "iy")
    return (
        zs.withColumn("rk", F.row_number().over(wr).cast("int"))
        .filter("rk <= 10")
        .select("rk", "ix", "iy", "w", "wsum", "znum", "z_mils")
    )


# SQ8 SPEC (shared with the oracle): per-tensor scalar quantization
# q = clamp(FLOOR((x - mn) * 255 / (mx - mn)), 0, 255) over the GLOBAL
# component range; identical FLOOR chain text in both engines (IEEE).
_SQ8_Q = (
    "transform({col}, x -> CAST(LEAST(GREATEST("
    "FLOOR((CAST(x AS DOUBLE) - CAST(mn AS DOUBLE)) * 255.0 "
    "/ (CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE))), "
    "CAST(0 AS DOUBLE)), CAST(255 AS DOUBLE)) AS BIGINT))"
)


def ann_sq8_recall(spark, sf_dir):
    """SQ8 SCALAR-QUANTIZATION ANN + recall eval — the third index
    family next to IVF and PQ (Faiss SQ8 analogue): embeddings
    compress to one byte per component against the global component
    range, candidate ranking runs on INTEGER quantized dots (qcos =
    qdot / (|qa||qb|), a double derived from exact BIGINTs — IEEE-
    identical in both engines), and recall@3 is measured against the
    exact cosine baseline the same way ann_recall_eval certifies IVF.
    At scale the quantized table is 64 bytes/vector and the ranking
    never touches floats until the final normalization.  The pair scan
    is broadcast-bounded (<=10 query rows) exactly like the exact
    baseline it is scored against."""
    from .queries import QUERIES as _Q

    emb = _t(spark, sf_dir, "embeddings")
    rng_row = emb.selectExpr("explode(embedding) AS v").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    q = emb.join(F.broadcast(rng_row)).selectExpr(
        "vec_id", _SQ8_Q.format(col="embedding") + " AS qv"
    )
    qn = q.selectExpr(
        "vec_id", "qv",
        "aggregate(qv, CAST(0 AS BIGINT), (a, x) -> a + x * x) AS q2",
    ).localCheckpoint()  # quantized table: both sides of the pair scan
    qq = F.broadcast(qn.filter("vec_id < 10")).alias("a")
    pairs = (
        qq.crossJoin(qn.alias("b"))
        .filter("a.vec_id <> b.vec_id AND a.q2 > 0 AND b.q2 > 0")
        .selectExpr(
            "a.vec_id AS query_id", "b.vec_id AS neighbor_id",
            "aggregate(zip_with(a.qv, b.qv, (x, y) -> x * y), "
            "CAST(0 AS BIGINT), (acc, z) -> acc + z) AS qdot",
            "a.q2 AS qa2", "b.q2 AS qb2",
        )
        .selectExpr(
            "query_id", "neighbor_id",
            "CAST(qdot AS DOUBLE) / (SQRT(CAST(qa2 AS DOUBLE)) "
            "* SQRT(CAST(qb2 AS DOUBLE))) AS qcos",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col("neighbor_id").asc()
    )
    approx = (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter("rnk <= 3")
        .select("query_id", "neighbor_id")
    )
    exact = (
        _Q["ann_cosine_topk"](spark, sf_dir)
        .filter("rnk <= 3")
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    hits = exact.join(approx, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("n_hit"))
    qs = exact.select("query_id").distinct()
    return qs.join(hits, "query_id", "left").selectExpr(
        "query_id",
        "CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit",
        "CAST(FLOOR(COALESCE(n_hit, 0) * 1000 / 3) AS BIGINT) AS recall_mils",
    )


# Supercover SPEC (shared with the oracle): level-6 grid; segments
# normalized west-to-east; per x-column k the segment occupies y rows
# gi(ya)..gi(yb) where ya/yb interpolate y at the clipped column span
# (vertical segments span min..max y in their single column).  Both
# engines run the SAME interpolation/FLOOR text, so boundary cells
# agree bit-for-bit.
_SC_LEVEL = 6


def roads_supercover_cells(spark, sf_dir):
    """EXACT SUPERCOVER RASTERIZATION of road polylines — every grid
    cell a segment passes through (the raster<->vector burn primitive,
    exact rather than midpoint-attributed like cells_line_density):
    per segment, explode its x-columns, interpolate the y span inside
    each column, explode the y range — fanout is exactly the number of
    crossed cells.  Per kind: distinct-cell count, visit count, and a
    packed-cell checksum.  Plan: two Generates + one hash agg on
    (kind, cell); nothing is quadratic and the agg output is
    grid-bounded."""
    from .sqlgen import grid_index_expr

    n = 1 << _SC_LEVEL
    bnd = f"(CAST({{k}} AS DOUBLE) * (CAST(10 AS DOUBLE) / CAST({n} AS DOUBLE)))"
    _images, roads = _fixture_images(spark)
    segs = roads.selectExpr("kind", "coords AS cs").selectExpr(
        "kind",
        "explode(transform(sequence(1, size(cs) - 1), "
        "i -> struct(cs[i - 1].x AS ax, cs[i - 1].y AS ay, "
        "cs[i].x AS bx, cs[i].y AS by))) AS s",
    ).selectExpr(
        "kind",
        "CASE WHEN s.bx < s.ax THEN s.bx ELSE s.ax END AS x1",
        "CASE WHEN s.bx < s.ax THEN s.by ELSE s.ay END AS y1",
        "CASE WHEN s.bx < s.ax THEN s.ax ELSE s.bx END AS x2",
        "CASE WHEN s.bx < s.ax THEN s.ay ELSE s.by END AS y2",
    )
    cols = segs.selectExpr(
        "kind", "x1", "y1", "x2", "y2",
        f"explode(sequence({grid_index_expr('x1', _SC_LEVEL)}, "
        f"{grid_index_expr('x2', _SC_LEVEL)})) AS k",
    ).selectExpr(
        "kind", "k",
        f"GREATEST(x1, {bnd.format(k='k')}) AS xa",
        f"LEAST(x2, {bnd.format(k='k + 1')}) AS xb",
        "x1", "y1", "x2", "y2",
    ).selectExpr(
        "kind", "k",
        "CASE WHEN x2 = x1 THEN LEAST(y1, y2) "
        "ELSE y1 + (y2 - y1) * (xa - x1) / (x2 - x1) END AS ya",
        "CASE WHEN x2 = x1 THEN GREATEST(y1, y2) "
        "ELSE y1 + (y2 - y1) * (xb - x1) / (x2 - x1) END AS yb",
    )
    cells = cols.selectExpr(
        "kind", "k AS ix",
        f"explode(sequence(LEAST({grid_index_expr('ya', _SC_LEVEL)}, "
        f"{grid_index_expr('yb', _SC_LEVEL)}), "
        f"GREATEST({grid_index_expr('ya', _SC_LEVEL)}, "
        f"{grid_index_expr('yb', _SC_LEVEL)}))) AS iy",
    )
    per_cell = cells.groupBy("kind", "ix", "iy").agg(
        F.count(F.lit(1)).alias("visits")
    )
    return per_cell.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("visits").alias("n_visits"),
        F.sum(F.expr(f"ix * {n} + iy")).alias("cell_chk"),
    )


# Benford expected first-digit shares, integer micros of log10(1+1/d)
# (public mathematical constants, embedded as literals so no log()
# ever runs on an oracle-checked path).
_BENFORD_MICROS = (301030, 176091, 124939, 96910, 79181,
                   66947, 57992, 51153, 45757)


def events_benford(spark, sf_dir):
    """BENFORD'S-LAW first-digit audit of `value` — the classic
    anomaly/fraud screen a data-quality pipeline runs over monetary
    columns.  The leading digit comes from the STRING form of the
    cents integer (no log10 anywhere — gotcha 8), expected shares are
    embedded integer-micro constants, and the per-digit deviation
    |1e6*cnt - exp*n| stays in exact BIGINTs.  One hash agg over
    events + a broadcast total; output is 9 rows."""
    exp_case = "CASE d " + " ".join(
        f"WHEN {d + 1} THEN {m}" for d, m in enumerate(_BENFORD_MICROS)
    ) + " END"
    ev = _t(spark, sf_dir, "events").selectExpr(
        "CAST(substring(CAST(CAST(FLOOR(value * 100 + 0.5) AS BIGINT) "
        "AS STRING), 1, 1) AS INT) AS d"
    ).filter("d > 0")
    cnt = ev.groupBy("d").agg(F.count(F.lit(1)).alias("cnt"))
    tot = ev.agg(F.count(F.lit(1)).alias("n"))
    return cnt.crossJoin(F.broadcast(tot)).selectExpr(
        "d", "cnt", "n",
        "(1000000 * cnt) DIV n AS obs_micros",
        f"{exp_case} AS exp_micros",
        f"abs(1000000 * cnt - {exp_case} * n) AS dev_scaled",
    ).orderBy("d")


def bitmap_distinct_users(spark, sf_dir):
    """EXACT DISTINCT via 63-bit WORD BITMAPS — the roaring-bitmap-lite
    mergeable summary for COUNT(DISTINCT) over a bounded id domain
    (the pattern OLAP engines use to make distinct counts partial-agg
    mergeable instead of a two-level shuffle): set bit (user_id % 63)
    in word (user_id DIV 63) with bit_or (63 bits per word — DuckDB
    range-checks bit 63, same convention as bloom_filter_join), then
    popcount-sum the words.  The exact COUNT(DISTINCT) rides along so
    the equality is VISIBLE in the oracle-checked output."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_type", "user_id",
        "user_id DIV 63 AS word",
        "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT)) AS bit",
    )
    words = ev.groupBy("event_type", "word").agg(
        F.expr("bit_or(bit)").alias("m")
    )
    bm = words.groupBy("event_type").agg(
        F.sum(F.expr("bit_count(m)")).alias("n_distinct_bitmap"),
        F.count(F.lit(1)).alias("n_words"),
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_distinct_exact")
    )
    return bm.join(ex, "event_type")


def events_twap(spark, sf_dir):
    """TIME-WEIGHTED AVERAGE value (TWAP) per event type — each
    observation holds until the type's next event (lead window), so
    irregular sampling doesn't bias the mean toward bursts.  Durations
    snap to whole seconds and values to mils BEFORE the product fold
    (exact BIGINTs; at extreme scale the same shape re-buckets the
    products per day first).  One exchange on event_type; final ratio
    is integer DIV (both operands positive — floor == trunc in both
    engines)."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_type", "event_id",
        f"{_TS_US_SQL} AS us",
        "CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS v_mils",
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    seg = (
        ev.withColumn("nxt", F.lead("us").over(w))
        .filter(F.col("nxt").isNotNull())
        .selectExpr(
            "event_type", "v_mils",
            "CAST(FLOOR((nxt - us) / 1000000) AS BIGINT) AS dur_s",
        )
    )
    return seg.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_holds"),
        F.sum("dur_s").alias("sum_dur_s"),
        F.sum(F.expr("v_mils * dur_s")).alias("sum_wv"),
    ).selectExpr(
        "event_type", "n_holds", "sum_dur_s", "sum_wv",
        "sum_wv DIV sum_dur_s AS twap_mils",
    )


def roads_dissolve(spark, sf_dir):
    """DISSOLVE / merge-touching-features — the vector-overlay
    counterpart to GROUP BY: roads of the SAME kind that share a
    quantized endpoint (0.1-degree node, the road_graph_bfs
    quantization) merge into one feature; per kind the query reports
    feature count before/after and the largest merged chain.  The
    endpoint graph runs through the pointer-jumped min-label
    components primitive (O(log diameter) rounds, kind-scoped node
    keys so components never cross kinds).  Oracle: pruned
    recursive-CTE reachability min over the identical node keys."""

    _images, roads = _fixture_images(spark)
    na = _BFS_NODE.format(
        x="element_at(coords, 1).x", y="element_at(coords, 1).y"
    )
    nb = _BFS_NODE.format(
        x="element_at(coords, size(coords)).x",
        y="element_at(coords, size(coords)).y",
    )
    ends = roads.selectExpr(
        "road_id", "kind",
        f"concat(kind, '|', CAST({na} AS STRING)) AS ka",
        f"concat(kind, '|', CAST({nb} AS STRING)) AS kb",
    ).localCheckpoint()  # endpoints: verts + edges + the label join
    verts = (
        ends.selectExpr("ka AS k")
        .unionByName(ends.selectExpr("kb AS k"))
        .distinct()
    )
    edges = ends.filter("ka <> kb").selectExpr("ka AS src", "kb AS dst")
    labels = _components_jump(edges, verts)
    rl = ends.join(labels, ends.ka == labels.v).select("kind", "road_id", "label")
    per = rl.groupBy("kind", "label").agg(F.count(F.lit(1)).alias("n"))
    return per.groupBy("kind").agg(
        F.sum("n").alias("n_roads"),
        F.count(F.lit(1)).alias("n_components"),
        F.max("n").alias("largest_comp"),
    )


def snapshot_expire(spark, sf_dir):
    """SNAPSHOT EXPIRY + ORPHAN-FILE VACUUM (Iceberg expire_snapshots
    + remove_orphan_files — the retention half of table maintenance,
    closing the snapshot family next to compaction/rollback/WAP):
    four appends then a full OVERWRITE leave the four append dirs
    referenced only by expired history; expire(keep_last=1) drops 4
    manifests and vacuums exactly those 4 orphan dirs, the head read
    is untouched, and a time-travel read of an expired snapshot now
    fails LOUDLY (pinned via the asof_fails flag).  Metadata-only plus
    O(orphans) directory removals — no live data is ever rewritten."""
    from .storage import (
        count_data_files,
        expire_snapshots,
        read_snapshot,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    base = _stream_base(spark, "expire_")
    path = f"{base}/tbl"
    for k in range(4):
        write_snapshot(
            docs.filter(
                (F.col("doc_id") >= k * 100) & (F.col("doc_id") < (k + 1) * 100)
            ).repartition(2),
            path,
            mode="append",
        )
    write_snapshot(
        docs.filter("doc_id < 500").repartition(2), path, mode="overwrite"
    )
    res = expire_snapshots(path, keep_last=1)
    asof_fails = 0
    try:
        read_snapshot(spark, path, as_of=2).count()
    except Exception:
        asof_fails = 1
    n_files = count_data_files(path, 5)
    return (
        read_snapshot(spark, path)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .withColumn("expired", F.lit(res["expired"]).cast("int"))
        .withColumn("kept", F.lit(res["kept"]).cast("int"))
        .withColumn(
            "orphans_removed", F.lit(res["orphan_dirs_removed"]).cast("int")
        )
        .withColumn("asof_fails", F.lit(asof_fails).cast("int"))
        .withColumn("n_files_head", F.lit(n_files).cast("int"))
    )


def dedup_lsh_recall(spark, sf_dir):
    """DEDUP-INDEX QUALITY EVALUATION — recall/precision of the
    MinHash-LSH banding candidates against exact shingle Jaccard (the
    eval a real dedup deployment runs before trusting its bands, the
    dedup twin of ann_recall_eval): truth = the TOP-10 most-similar
    exact pairs in the bounded baseline universe (doc_id < 60;
    deterministic jaccard-desc/pair tie-break — the corpus plants no
    shingle-level clones, so a fixed-threshold truth set would be
    empty), candidates = LSH band pairs restricted to the same
    universe; one-row summary in integer mils.  At fixture similarity
    levels (max jaccard 0.022 — far below the banding S-curve
    threshold) the CORRECT reading is recall 0 with 14 chance band
    collisions: the eval certifies the bands do NOT fire on weak
    similarity (false-positive control), exactly what you want from a
    dedup index under a clone-free corpus.  The oracle composes the
    SAME two certified twins, so the banding behavior is pinned
    exactly."""
    from .queries import QUERIES as _Q

    wt = Window.orderBy(F.col("jaccard").desc(), "doc_a", "doc_b")
    truth = (
        _Q["ngram_jaccard_pairs"](spark, sf_dir)
        .withColumn("rk", F.row_number().over(wt))
        .filter("rk <= 10")
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    cand = (
        _Q["minhash_lsh_pairs"](spark, sf_dir)
        .filter("doc_a < 60 AND doc_b < 60")
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    t = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    c = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    h = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return t.crossJoin(F.broadcast(c)).crossJoin(F.broadcast(h)).selectExpr(
        "n_truth", "n_cand", "n_hit",
        "CASE WHEN n_truth = 0 THEN -1 "
        "ELSE CAST(FLOOR(n_hit * 1000 / n_truth) AS BIGINT) END AS recall_mils",
        "CASE WHEN n_cand = 0 THEN -1 "
        "ELSE CAST(FLOOR(n_hit * 1000 / n_cand) AS BIGINT) END AS precision_mils",
    )


def streaming_session_window(spark, sf_dir):
    """NATIVE SESSION WINDOWS in Structured Streaming
    (``F.session_window`` — the built-in merging-session operator,
    §2.10 API breadth next to the applyInPandasWithState sessionizer):
    per-user 30-min-gap sessions over the watermarked event stream,
    append mode, availableNow drain.  The sink holds exactly the
    sessions whose end (last event + gap) cleared the final watermark
    (max event time − 2 h) — the oracle reproduces that set with a
    batch gaps-and-islands CTE plus the closure filter, so the
    watermark semantics themselves are oracle-checked.  Output is the
    one-row session ledger (counts/cents/single-event sessions/max
    padded duration)."""
    import os
    import shutil

    from . import streaming as STR

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    in_dir, out, ck = _drain_dirs(spark, "sesswin_")
    shutil.copy(f"{sf_dir}/events.parquet",
                os.path.join(in_dir, "events.parquet"))

    with _drain_confs(spark):  # r06: codegen off per drained batch
        STR.stream_sessions_native(spark, in_dir, out, ck)
    sess = spark.read.parquet(out).selectExpr(
        "user_id", "n_events", "sum_cents",
        "unix_micros(CAST(s_end AS TIMESTAMP)) "
        "- unix_micros(CAST(s_start AS TIMESTAMP)) AS dur_us",
    )
    return sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("n_events").alias("sum_events"),
        F.sum("sum_cents").alias("sum_cents"),
        F.sum(F.expr("CAST(n_events = 1 AS BIGINT)")).alias("n_single"),
        F.max("dur_us").alias("max_dur_us"),
    )


def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape — CORRELATED SCALAR SUBQUERY surface: revenue
    from lineitems whose quantity is below 20% of their part's average
    quantity, for one brand / small sizes.  Written as the correlated
    subquery ON PURPOSE so Catalyst's decorrelation does the rewrite
    (per-part aggregate + equi-join — never a per-row subquery
    execution; pinned in tests/test_plans.py).  Revenue folds as exact
    cents; the quantity threshold 0.2*AVG is one multiply over an
    exactly-representable average (integer-valued quantities), so both
    engines compare identical doubles."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_q17_lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("_q17_part")
    return spark.sql("""
SELECT COUNT(*) AS n_lines,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
         AS BIGINT) AS revenue_cents
FROM _q17_lineitem, _q17_part
WHERE p_partkey = l_partkey
  AND p_brand = 'Brand#4' AND p_size < 20
  AND l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity)
    FROM _q17_lineitem l2 WHERE l2.l_partkey = p_partkey
  )
""")


def orc_roundtrip_events(spark, sf_dir):
    """S8 source-format breadth, ORC flavor (the Hadoop-ecosystem
    columnar format the reference's OSM snapshots ship in): parquet ->
    ORC sink -> ORC source (explicit schema, no inference pass) ->
    aggregate; the oracle aggregates the original parquet directly, so
    a serialization bug on either leg flips the hash.  Values snap to
    integer mils BEFORE the ORC leg so the round trip compares exact
    integers, not re-parsed doubles."""
    import os

    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_id", "user_id", "event_type",
        "CAST(FLOOR(value * 1000 + 0.5) AS BIGINT) AS v_mils",
    )
    base = _stream_base(spark, "orc_")
    out = os.path.join(base, "out")
    ev.write.mode("overwrite").orc(out)
    back = spark.read.schema(
        "event_id bigint, user_id bigint, event_type string, v_mils bigint"
    ).orc(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v_mils").alias("sum_mils"),
        F.min("event_id").alias("min_event"),
        F.max("user_id").alias("max_user"),
    )


QUERIES_R5 = {
    "events_ks_test": events_ks_test,
    "events_mann_kendall": events_mann_kendall,
    "doc_normalized_dedup": doc_normalized_dedup,
    "events_seq_trigrams": events_seq_trigrams,
    "events_regression": events_regression,
    "cells_getis_ord": cells_getis_ord,
    "orc_roundtrip_events": orc_roundtrip_events,
    "image_slope_aspect": image_slope_aspect,
    "image_strahler": image_strahler,
    "image_hist_equalize": image_hist_equalize,
    "image_morphology": image_morphology,
    "ann_sq8_recall": ann_sq8_recall,
    "roads_supercover_cells": roads_supercover_cells,
    "events_benford": events_benford,
    "bitmap_distinct_users": bitmap_distinct_users,
    "events_twap": events_twap,
    "roads_dissolve": roads_dissolve,
    "snapshot_expire": snapshot_expire,
    "dedup_lsh_recall": dedup_lsh_recall,
    "streaming_session_window": streaming_session_window,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "kcore_roads": kcore_roads,
    "cells_kde": cells_kde,
    "udtf_word_runs": udtf_word_runs,
    "snapshot_mor_deletes": snapshot_mor_deletes,
    "snapshot_position_deletes": snapshot_position_deletes,
    "snapshot_metadata_tables": snapshot_metadata_tables,
    "events_sessionize_batch": events_sessionize_batch,
    "events_auc": events_auc,
    "doc_bigram_rarity": doc_bigram_rarity,
    "snapshot_rollback": snapshot_rollback,
    "image_texture_glcm": image_texture_glcm,
    "roads_sinuosity": roads_sinuosity,
    "image_quadtree": image_quadtree,
    "streaming_static_enrich": streaming_static_enrich,
    "snapshot_bloom_index": snapshot_bloom_index,
    "events_welch_ttest": events_welch_ttest,
    "snapshot_wap_publish": snapshot_wap_publish,
    "textrank_keywords": textrank_keywords,
    "cells_line_density": cells_line_density,
    "snapshot_incremental_mv": snapshot_incremental_mv,
    "snapshot_zorder_cluster": snapshot_zorder_cluster,
    "ann_recall_eval": ann_recall_eval,
    "events_variant_json": events_variant_json,
    "osm_qatile_source": osm_qatile_source,
    "snapshot_partition_prune": snapshot_partition_prune,
    "streaming_snapshot_sink": streaming_snapshot_sink,
    "source_binaryfile_images": source_binaryfile_images,
    "groupingsets_orders": groupingsets_orders,
    "events_rolling_range": events_rolling_range,
    "dedup_containment": dedup_containment,
    "label_propagation_roads": label_propagation_roads,
    "voronoi_assign": voronoi_assign,
    "image_sobel_edges": image_sobel_edges,
    "image_flow_d8": image_flow_d8,
    "image_watershed": image_watershed,
    "image_viewshed": image_viewshed,
    "image_pit_fill": image_pit_fill,
    "events_ewma": events_ewma,
    "events_seasonality": events_seasonality,
    "rake_keywords": rake_keywords,
    "doc_word_diversity": doc_word_diversity,
    "snapshot_zone_map": snapshot_zone_map,
    "spatial_dbscan": spatial_dbscan,
    "link_prediction_roads": link_prediction_roads,
    "ann_pq_topk": ann_pq_topk,
    "contamination_check": contamination_check,
    "dataset_mix_weights": dataset_mix_weights,
    "vocab_oov_rate": vocab_oov_rate,
    "hilbert_cells": hilbert_cells,
    "market_basket_brands": market_basket_brands,
    "customer_rfm": customer_rfm,
    "bpe_merge_candidates": bpe_merge_candidates,
    "geohash_cells": geohash_cells,
    "bloom_filter_join": bloom_filter_join,
    "cms_heavy_hitters": cms_heavy_hitters,
    "kmv_set_similarity": kmv_set_similarity,
    "hist_quantiles": hist_quantiles,
    "triangle_count_roads": triangle_count_roads,
    "events_acf": events_acf,
    "events_gapfill": events_gapfill,
    "orders_skyline": orders_skyline,
    "route_interpolate": route_interpolate,
    "shortest_path_weighted": shortest_path_weighted,
    "cusum_changepoint": cusum_changepoint,
    "phrase_search": phrase_search,
    "events_trend": events_trend,
    "drift_chisq": drift_chisq,
    "events_asof_join": events_asof_join,
    "events_funnel": events_funnel,
    "hll_distinct": hll_distinct,
    "pagerank_roads": pagerank_roads,
    "bm25_top_docs": bm25_top_docs,
    "roads_simplify_dp": roads_simplify_dp,
    "image_hillshade": image_hillshade,
    "image_zonal_stats": image_zonal_stats,
    "sample_weighted": sample_weighted,
    "mvt_pyramid_simplified": mvt_pyramid_simplified,
    "road_graph_bfs": road_graph_bfs,
    "country_convex_hull": country_convex_hull,
    "image_contours": image_contours,
    "image_regions": image_regions,
    "events_retention": events_retention,
    "pivot_orders_status": pivot_orders_status,
    "pmi_bigrams": pmi_bigrams,
    "events_outliers": events_outliers,
    "snapshot_compaction": snapshot_compaction,
    "roads_buffer_cells": roads_buffer_cells,
    "streaming_left_join": streaming_left_join,
    "road_intersections": road_intersections,
    "multimodal_audio_stft": multimodal_audio_stft,
    "snapshot_diff": snapshot_diff,
    "grid_idw": grid_idw,
    "fuzzy_name_pairs": fuzzy_name_pairs,
    "event_transitions": event_transitions,
    "customer_gini": customer_gini,
    "cells_morans_i": cells_morans_i,
}
