"""Round-5 wave 9: interval analytics (peak concurrency via a
two-level boundary sweep), ordered-set aggregate SQL surface
(Spark 4 LISTAGG WITHIN GROUP), road bearing octant histograms
(the aspect-octant integer technique applied to vector azimuths),
and simplified (centroid-based) silhouette — the per-point
clustering eval next to embeddings_davies_bouldin's per-cluster one.

Parity rules as everywhere (CLAUDE.md gotchas 7/8/17): exact BIGINT
micro/mils quantities, DIV <-> // (both truncate toward zero, incl.
negatives — verified), the only float ops on oracle-checked paths are
/ sqrt floor over identical expression text with an explicit DOUBLE
cast in every shared chain.

Registered into queries.QUERIES via QUERIES_R5D.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .qcommon import (
    _t,
    _drain_confs,
    _drain_dirs,
    _fixture_images,
    _stream_base,
)
from .graph import _components_jump, _spw_edges
from .queries_image import (
    image_otsu,
    image_edt,
    image_fft_sharpness,
    image_ssim_recon,
)

_TS_US = "unix_micros(CAST(ts AS TIMESTAMP))"
_HOLD_US = 1_800_000_000  # 30-minute hold per event
_HOUR_US_R5D = 3_600_000_000
_DAY_US = 86_400_000_000
_MIN_US = 60_000_000


# ---------------------------------------------------------------------------
# Peak concurrency (interval sweep) per day
# ---------------------------------------------------------------------------

def events_concurrency(spark, sf_dir):
    """PEAK CONCURRENCY per day — the classic interval-overlap sweep
    (every event holds a resource for 30 min; how many are held at
    once?).  Each interval is clipped at the midnight it may cross
    (30 min < 24 h ⇒ at most two day-segments), so day partitions are
    self-contained: crossing intervals re-open with a +1 boundary at
    exactly day*DAY and the previous day closes them at the same
    instant.

    Scale shape: the running sum NEVER runs over a raw day partition —
    boundaries bucket by minute, a minute-bounded (≤1440-row) window
    computes per-bucket prefix offsets, and the within-bucket running
    sum is minute-local (the events_auc / sequence-packing two-level
    prefix).  Ties are deterministic: ORDER BY (t, delta) under the
    default RANGE frame gives every peer the tie-group-end value, and
    -1 sorts before +1 so half-open intervals never overlap at a
    shared endpoint.
    """
    iv = (
        _t(spark, sf_dir, "events")
        .selectExpr(f"{_TS_US} AS s")
        .selectExpr("s", f"s + {_HOLD_US} AS e",
                    f"(s DIV {_DAY_US} + 1) * {_DAY_US} AS dayend")
    )
    st = "named_struct('day', {day}, 't', {t}, 'delta', {d})"
    bnd = (
        iv.selectExpr(
            "explode(array("
            + st.format(day=f"s DIV {_DAY_US}", t="s", d="1") + ", "
            + st.format(day=f"s DIV {_DAY_US}", t="LEAST(e, dayend)",
                        d="-1") + ", "
            + "CASE WHEN e > dayend THEN "
            + st.format(day=f"s DIV {_DAY_US} + 1", t="dayend", d="1")
            + " END, "
            + "CASE WHEN e > dayend THEN "
            + st.format(day=f"s DIV {_DAY_US} + 1", t="e", d="-1")
            + " END)) AS b"
        )
        .filter("b IS NOT NULL")
        .selectExpr("b.day AS day", "b.t AS t", "b.delta AS delta",
                    f"b.t DIV {_MIN_US} AS bk")
    )
    bsum = bnd.groupBy("day", "bk").agg(F.sum("delta").alias("sb"))
    boff = bsum.selectExpr(
        "day", "bk",
        "SUM(sb) OVER (PARTITION BY day ORDER BY bk) - sb AS off",
    )
    run = (
        bnd.join(boff, ["day", "bk"])
        .selectExpr(
            "day", "t", "delta",
            "off + SUM(delta) OVER (PARTITION BY day, bk"
            " ORDER BY t, delta) AS run",
        )
    )
    w = run.selectExpr(
        "day", "t", "delta", "run",
        "MAX(run) OVER (PARTITION BY day) AS mx",
    )
    return (
        w.groupBy("day")
        .agg(
            F.max("mx").alias("peak"),
            F.min(F.expr("CASE WHEN run = mx THEN t END"))
            .alias("first_peak_us"),
            F.sum(F.expr("CASE WHEN delta = 1 THEN 1 ELSE 0 END"))
            .alias("n_opens"),
        )
        .selectExpr("day", "CAST(peak AS BIGINT) AS peak",
                    "first_peak_us",
                    "CAST(n_opens AS BIGINT) AS n_opens")
    )


# ---------------------------------------------------------------------------
# LISTAGG WITHIN GROUP (ordered-set aggregate SQL surface, Spark 4)
# ---------------------------------------------------------------------------

def orders_listagg(spark, sf_dir):
    """Spark 4 LISTAGG ... WITHIN GROUP (ORDER BY ...) — the
    ordered-set string aggregate (DuckDB twin: string_agg with an
    ORDER BY clause).  Deterministic by construction: the aggregate
    runs over the DISTINCT (status, priority) pairs under a total
    order, so both engines fold the same sequence.  The pair relation
    is vocabulary-sized (|status| x |priority|); the per-status order
    counts ride along from a map-side-combined hash agg."""
    o = _t(spark, sf_dir, "orders")
    pairs = o.select("o_orderstatus", "o_orderpriority").distinct()
    agg = pairs.groupBy("o_orderstatus").agg(
        F.expr(
            "listagg(o_orderpriority, ',')"
            " WITHIN GROUP (ORDER BY o_orderpriority)"
        ).alias("priorities_csv"),
        F.count(F.lit(1)).alias("n_priorities"),
    )
    counts = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return agg.join(counts, "o_orderstatus").select(
        "o_orderstatus", "n_priorities", "priorities_csv", "n_orders"
    )


# ---------------------------------------------------------------------------
# Road bearing octant histogram
# ---------------------------------------------------------------------------

# Integer octant of a segment direction (dx, dy) in micro-degrees:
# first-match CASE over signs and |dx| vs |dy| cross-comparisons — the
# image_slope_aspect octant technique on vector data.  0=E-ish (dx
# dominant, dy>=0) counter-clockwise through 7; exhaustive for any
# (dx, dy) != (0, 0).
OCTANT_SQL = (
    "CASE WHEN dy >= 0 AND dx > 0 AND dx >= dy THEN 0 "
    "WHEN dx > 0 AND dy > 0 THEN 1 "
    "WHEN dx <= 0 AND dy > 0 AND dy >= -dx THEN 2 "
    "WHEN dx < 0 AND dy > 0 THEN 3 "
    "WHEN dy <= 0 AND dx < 0 AND -dx >= -dy THEN 4 "
    "WHEN dx < 0 AND dy < 0 THEN 5 "
    "WHEN dx >= 0 AND dy < 0 AND -dy >= dx THEN 6 "
    "ELSE 7 END"
)

_SEG_LEN = "CAST(FLOOR(SQRT(CAST(dx * dx + dy * dy AS DOUBLE))) AS BIGINT)"


def roads_bearing_octants(spark, sf_dir):
    """BEARING OCTANT HISTOGRAM per road kind — the orientation
    profile a road-network QA pipeline publishes (grid-planned cities
    vs organic nets).  Coordinates quantize to micro-degree BIGINTs
    first, the octant is a pure-integer first-match CASE (shared text
    with the oracle), and per-segment length is the one
    FLOOR(SQRT(int64)) float op.

    Plan shape: posexplode + ONE road_id-partitioned lead window
    (vertex fanout linear in polyline length), then a map-side-combined
    hash agg onto the (kind, octant) grid — |kinds| x 8 groups at any
    scale.  The oracle derives segments by direct list indexing (no
    window at all), so the window plumbing is independently checked."""

    _images, roads = _fixture_images(spark)
    verts = roads.selectExpr(
        "road_id", "kind", "posexplode(coords) AS (i, c)"
    ).selectExpr(
        "road_id", "kind", "i",
        "CAST(FLOOR(c.x * 1000000) AS BIGINT) AS x",
        "CAST(FLOOR(c.y * 1000000) AS BIGINT) AS y",
    )
    w = Window.partitionBy("road_id").orderBy("i")
    seg = (
        verts.select(
            "kind", "x", "y",
            F.lead("x").over(w).alias("x2"),
            F.lead("y").over(w).alias("y2"),
        )
        .filter("x2 IS NOT NULL AND NOT (x2 = x AND y2 = y)")
        .selectExpr("kind", "x2 - x AS dx", "y2 - y AS dy")
    )
    return (
        seg.selectExpr(
            "kind", f"{OCTANT_SQL} AS octant", f"{_SEG_LEN} AS seg_len"
        )
        .groupBy("kind", "octant")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("seg_len").alias("len_micros"),
        )
    )


# ---------------------------------------------------------------------------
# Simplified silhouette (centroid-based, O(n*k))
# ---------------------------------------------------------------------------

def embeddings_silhouette(spark, sf_dir):
    """SIMPLIFIED SILHOUETTE of the embeddings' labeled clustering —
    the per-point companion to embeddings_davies_bouldin: a(i) = the
    point's distance to its OWN centroid, b(i) = min distance to any
    OTHER centroid, s(i) = (b - a) / max(a, b).  Centroid-based, so
    O(n*k) with k = |labels| — no pairwise matrix at any scale.

    Exactness: components quantize to mils BIGINTs, centroids are
    integer DIV means, distances are FLOOR(SQRT(exact int64 sums))
    mils, and s lands in mils via one integer DIV (DuckDB // and
    Spark DIV both truncate toward zero, negatives included).

    Plan shape: posexplode (n x 64) -> broadcast the k x 64 centroid
    table -> x k fanout join on component index -> two stacked hash
    aggs (per vector-centroid, then per vector) -> label rollup."""
    emb = _t(spark, sf_dir, "embeddings")
    comp = emb.selectExpr(
        "vec_id", "label", "posexplode(embedding) AS (j, e)"
    ).selectExpr(
        "vec_id", "label", "j",
        "CAST(FLOOR(CAST(e AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS qx",
    )
    cent = (
        comp.groupBy("label", "j")
        .agg(F.sum("qx").alias("s"), F.count(F.lit(1)).alias("m"))
        .selectExpr("label AS clabel", "j", "s DIV m AS c")
    )
    dists = (
        comp.join(F.broadcast(cent), "j")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum(F.expr("(qx - c) * (qx - c)")).alias("dsq"))
        .selectExpr(
            "vec_id", "label", "clabel",
            "CAST(FLOOR(SQRT(CAST(dsq AS DOUBLE))) AS BIGINT) AS dist",
        )
    )
    ab = dists.groupBy("vec_id", "label").agg(
        F.min(F.expr("CASE WHEN clabel = label THEN dist END")).alias("a"),
        F.min(F.expr("CASE WHEN clabel <> label THEN dist END")).alias("b"),
    )
    s = ab.filter("GREATEST(a, b) > 0").selectExpr(
        "label", "(1000 * (b - a)) DIV GREATEST(a, b) AS s_mils"
    )
    return (
        s.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("s_mils").alias("sum_s_mils"),
            F.expr("SUM(s_mils) DIV COUNT(*)").alias("mean_s_mils"),
        )
        .selectExpr(
            "label", "CAST(n_members AS BIGINT) AS n_members",
            "CAST(sum_s_mils AS BIGINT) AS sum_s_mils",
            "CAST(mean_s_mils AS BIGINT) AS mean_s_mils",
        )
    )


# ---------------------------------------------------------------------------
# Minimum spanning forest (distributed Boruvka)
# ---------------------------------------------------------------------------

def mst_roads(spark, sf_dir):
    """MINIMUM SPANNING FOREST of the quantized road graph via
    DISTRIBUTED BORUVKA — the clustering/backbone primitive the graph
    family was missing (single-linkage clustering IS an MST cut).
    Edge weight keys (w, u, v) are strictly distinct, so the forest is
    unique and min(struct) per component is a total-order pick: each
    round every component selects its minimum outgoing edge (never a
    cycle under distinct keys), selected edges merge components via
    the pointer-jumped min-label primitive, and the component count at
    least halves per round — ≤ log2(max component size) rounds, each a
    pair of broadcast-scale joins + a tiny component-graph jump, all
    localCheckpointed (gotcha 15).

    Oracle: committed INDEPENDENT golden — scalar KRUSKAL with
    union-find over the same edges (scripts/make_goldens.py) — plus a
    LIVE relational node count over the roads parquet (load-bearing).
    """
    edges_sym = _spw_edges(spark, sf_dir)
    eu = (
        edges_sym.filter("src < dst")
        .selectExpr("src AS u", "dst AS v", "w")
        .localCheckpoint()
    )
    nodes = eu.selectExpr("u AS k").union(eu.selectExpr("v")).distinct()
    labels = nodes.selectExpr("k AS node", "k AS label").localCheckpoint()
    # The Boruvka rounds run under the graph module's loop scope (nested
    # _components_jump calls re-enter it and restore to THIS scope's
    # confs).  The loop is fixed-cost-bound (~20 ms stages) and the
    # forest's THREE output aggregates (edge count, Σw, Σ(u·1000003+v))
    # are associative, so each round folds its chosen-edge aggregate
    # into Python ints with ONE tiny job instead of materializing a
    # growing union-localCheckpoint chain of edge frames (2 actions per
    # round + a final scan, and the chain itself re-uploaded per round).
    # The selected edges per round and hence the sums are unchanged.

    n_mst = tot_w = chk = 0
    with _drain_confs(spark):
        for _ in range(12):
            act = (
                eu.join(labels.selectExpr("node AS u", "label AS lu"), "u")
                .join(labels.selectExpr("node AS v", "label AS lv"), "v")
                .filter("lu <> lv")
                .localCheckpoint()
            )
            if act.isEmpty():
                break
            cand = act.selectExpr(
                "lu AS comp", "w", "u", "v", "lv AS other"
            ).unionByName(
                act.selectExpr("lv AS comp", "w", "u", "v", "lu AS other")
            )
            sel = (
                cand.groupBy("comp")
                .agg(F.min(F.struct("w", "u", "v", "other")).alias("m"))
                .selectExpr(
                    "comp", "m.w AS w", "m.u AS u", "m.v AS v",
                    "m.other AS other",
                )
                .localCheckpoint()
            )
            row = (
                sel.select("u", "v", "w").distinct()
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("w").alias("sw"),
                    F.sum(F.expr("u * 1000003 + v")).alias("ck"),
                )
                .collect()[0]
            )
            n_mst += int(row.n)
            tot_w += int(row.sw)
            chk += int(row.ck)
            comp_labels = _components_jump(
                sel.selectExpr("comp AS src", "other AS dst"),
                sel.selectExpr("comp AS k").distinct(),
            )
            labels = (
                labels.join(
                    comp_labels.selectExpr("v AS label", "label AS nl"),
                    "label", "left",
                )
                .selectExpr("node", "COALESCE(nl, label) AS label")
                .localCheckpoint()
            )
        else:
            raise RuntimeError("Boruvka did not converge in 12 rounds")
    nstats = labels.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.countDistinct("label").alias("n_components"),
    )
    return nstats.selectExpr(
        "CAST(n_nodes AS BIGINT) AS n_nodes",
        "CAST(n_components AS BIGINT) AS n_components",
        f"CAST({n_mst} AS BIGINT) AS n_mst_edges",
        f"CAST({tot_w} AS BIGINT) AS total_w",
        f"CAST({chk} AS BIGINT) AS chk",
    )


# ---------------------------------------------------------------------------
# Map-matching snap (kNN + linear referencing)
# ---------------------------------------------------------------------------

def points_snap_roads(spark, sf_dir):
    """MAP-MATCHING: snap every point to its nearest road segment and
    publish the linear-referencing payload (clamped projection
    parameter t + the snapped on-segment coordinates) — the operator a
    GPS-trace conflation pipeline runs right after kNN.  Same
    cell-pruned candidate join and (dist, road, seg) min(struct)
    argmin as spatial_knn_nearest; the snap is computed once from the
    winning segment's carried intermediates.  Oracle: brute-force
    cross join + rank window over the SAME sqlgen distance steps, with
    the identical t/snap double chain."""
    from .harness import KNN_CUTOFF_M, points_df, segments_df
    from .ops import spatial as SP

    near = SP.snap_nearest_road(
        points_df(spark, sf_dir), segments_df(spark, sf_dir),
        KNN_CUTOFF_M, id_col="point_id",
    )
    return near.select(
        "point_id", "road_id", "seg_id",
        F.round("dist_m", 6).alias("dist_m"),
        "t_micros", "snap_x_micro", "snap_y_micro",
    )


# ---------------------------------------------------------------------------
# Otsu binarization (exact integer argmax)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Chained stateful streaming aggregations (Spark 4 multi-stateful)
# ---------------------------------------------------------------------------

def streaming_chained_aggs(spark, sf_dir):
    """§2.10 breadth: TWO stateful windowed aggregations CHAINED in one
    streaming query (Spark 4 multiple-stateful-operator support) —
    15-minute counts per event type re-aggregated into hourly rollups
    by windowing over the first aggregation's window struct.  Append
    mode emits each hourly window exactly once when the cascaded
    watermark passes its end; the DuckDB oracle recomputes both levels
    relationally and applies the same closure rule (hour_end <=
    max(ts) - watermark).  The drain runs at 8 shuffle partitions
    (gotcha 16d: state-store fixed cost = stores x partitions x
    batches — two cascaded stores here)."""
    import os
    import shutil

    from . import streaming as STR

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    in_dir, out, ck = _drain_dirs(spark, "chained_")
    shutil.copy(f"{sf_dir}/events.parquet",
                os.path.join(in_dir, "events.parquet"))

    with _drain_confs(spark):
        STR.stream_chained_windows(spark, in_dir, out, ck)
    return spark.read.parquet(out).select(
        F.unix_timestamp("hour_start").alias("hour_epoch"),
        "event_type", "n", "n_quarters", "max_quarter",
    )


# ---------------------------------------------------------------------------
# Iceberg partition-spec evolution
# ---------------------------------------------------------------------------

def snapshot_partition_evolution(spark, sf_dir):
    """PARTITION-SPEC EVOLUTION (the Iceberg semantic after identity
    pruning): commit 1 partitions by lang, commit 2 APPENDS under a
    DIFFERENT spec (partitionBy source) — per-file partition values
    ride each commit's own manifest, so a lang='en' read prunes commit
    1 to its matching files while commit 2's files (no lang value
    recorded) are kept FAIL-OPEN and filtered by the residual
    predicate.  Exactly Iceberg's behavior: old files keep their old
    spec; pruning consults the spec each file was written under.
    Scanned/total file counts are pinned; the doc_id split keeps both
    commits load-bearing in the aggregate."""
    from .storage import read_snapshot_partitioned, write_snapshot

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = f"{_stream_base(spark, 'partevo_')}/tbl"
    write_snapshot(
        docs.filter("doc_id % 2 = 0").repartition(2, "doc_id"), path,
        mode="append", partition_by=["lang"],
    )
    write_snapshot(
        docs.filter("doc_id % 2 = 1").repartition(2, "doc_id"), path,
        mode="append", partition_by=["source"],
    )
    pruned, n_scan, n_tot = read_snapshot_partitioned(
        spark, path, {"lang": "en"}
    )
    return (
        pruned.filter("lang = 'en'")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.expr("CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END"))
            .alias("n_from_new_spec"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .withColumn("files_scanned", F.lit(n_scan).cast("int"))
        .withColumn("files_total", F.lit(n_tot).cast("int"))
    )


# ---------------------------------------------------------------------------
# Multimodal: pitch + block motion
# ---------------------------------------------------------------------------

def multimodal_audio_pitch(spark, sf_dir):
    """f0 PITCH estimate over REAL WAV bytes via exact integer
    autocorrelation — the audio-curation signal next to RMS/ZCR and
    the spectral centroid; oracle-checked against the committed
    INDEPENDENT golden (SPEC-regenerated waveform + scalar python-int
    autocorrelation)."""
    from .ops.multimodal import audio_pitch_autocorr, synth_audio_table

    return audio_pitch_autocorr(synth_audio_table(spark, 64))


def multimodal_video_motion(spark, sf_dir):
    """BLOCK-MATCHING MOTION VECTORS over real rawvid bytes — the
    static-vs-dynamic video-curation signal (integer SAD argmin,
    deterministic lexicographic tie).  Oracle: committed INDEPENDENT
    golden (SPEC-regenerated frames + scalar per-block matching)."""
    from .ops.multimodal import synth_video_table, video_motion_blocks

    return video_motion_blocks(synth_video_table(spark, 32))


# ---------------------------------------------------------------------------
# LATERAL correlated subquery (SQL surface) — shared template
# ---------------------------------------------------------------------------

# Identical text runs in both engines (the q17 precedent): Spark
# decorrelates the correlated ORDER BY ... LIMIT into WindowGroupLimit
# (map-side partial top-k) + ONE exchange + a broadcast join — never a
# per-row subquery (plan-pinned).
LATERAL_TOPK_TEMPLATE = """
SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.cents
FROM {customer} c, LATERAL (
  SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM {orders} o WHERE o.o_custkey = c.c_custkey
  ORDER BY cents DESC, o_orderkey LIMIT 2
) t
WHERE c.c_mktsegment = 'BUILDING'
"""


def lateral_topk_orders(spark, sf_dir):
    """Spark 4 LATERAL correlated subquery — per BUILDING customer,
    their top-2 orders by exact cents (deterministic o_orderkey tie).
    The SQL-surface demo next to q17's correlated scalar subquery:
    Catalyst decorrelates the LATERAL ORDER BY/LIMIT into
    WindowGroupLimit partial top-k + one hash exchange + a broadcast
    join (plan-pinned — no BroadcastNestedLoopJoin, no per-row
    subquery).  DuckDB runs the identical template text."""
    from .queries_tpch import _views

    v = _views(spark, sf_dir, "lat", ["customer", "orders"])
    return spark.sql(LATERAL_TOPK_TEMPLATE.format(**v))


# ---------------------------------------------------------------------------
# XML source/sink round trip (S8 breadth)
# ---------------------------------------------------------------------------

def xml_roundtrip_events(spark, sf_dir):
    """S8 breadth, XML flavor: events snap to exact cents/micros,
    write through Spark 4's NATIVE XML sink (rowTag=event), read back
    with an explicit schema, aggregate per type — encoder, parser, and
    schema projection are all load-bearing on the round trip (the
    orc_roundtrip_events / jsonl/csv precedent).  The oracle aggregates
    straight off the source parquet."""
    import os

    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_id", "user_id", "event_type",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
        f"{_TS_US} AS ts_us",
    )
    path = os.path.join(_stream_base(spark, "xml_"), "data")
    ev.write.format("xml").option("rowTag", "event").save(path)
    back = spark.read.format("xml").option("rowTag", "event").schema(
        "event_id bigint, user_id bigint, event_type string, "
        "cents bigint, ts_us bigint"
    ).load(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sum_cents"),
        F.min("ts_us").alias("min_ts_us"),
        F.max("ts_us").alias("max_ts_us"),
        F.sum("event_id").alias("chk_ids"),
    )


# ---------------------------------------------------------------------------
# Exact Euclidean distance transform
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Decision stump (best Gini split, exact integers + one shared division)
# ---------------------------------------------------------------------------

def orders_decision_stump(spark, sf_dir):
    """DECISION STUMP: the best single Gini split of order price
    predicting order status — the depth-1 tree-learning primitive, run
    relationally.  Minimizing weighted Gini impurity is equivalent to
    maximizing S(t) = sumL(c^2)*nR + sumR(c^2)*nL over nL*nR; both
    numerator and denominator are EXACT BIGINTs from cumulative class
    counts, and only the final ratio divides as a shared-text double
    (gotcha 8 ops).  Smallest-threshold tie via the rank window.

    Scale shape: one hash agg reduces orders to (bucket, status)
    counts; every window runs over the DISTINCT-BUCKET relation (the
    events_auc bounded-window argument — thresholds, never rows)."""
    o = _t(spark, sf_dir, "orders").selectExpr(
        "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) DIV 10000 AS b",
        "o_orderstatus AS s",
    )
    per = o.groupBy("b", "s").agg(F.count(F.lit(1)).alias("c"))
    wide = per.groupBy("b").agg(
        F.sum(F.expr("CASE WHEN s = 'O' THEN c ELSE 0 END")).alias("co"),
        F.sum(F.expr("CASE WHEN s = 'P' THEN c ELSE 0 END")).alias("cp"),
        F.sum(F.expr("CASE WHEN s = 'F' THEN c ELSE 0 END")).alias("cf"),
    )
    cum = wide.selectExpr(
        "b",
        "SUM(co) OVER (ORDER BY b) AS lo",
        "SUM(cp) OVER (ORDER BY b) AS lp",
        "SUM(cf) OVER (ORDER BY b) AS lf",
        "SUM(co) OVER () AS tot_o",
        "SUM(cp) OVER () AS tot_p",
        "SUM(cf) OVER () AS tot_f",
    )
    scored = cum.selectExpr(
        "b AS thr",
        "lo + lp + lf AS n_left",
        "(tot_o - lo) + (tot_p - lp) + (tot_f - lf) AS n_right",
        "(lo * lo + lp * lp + lf * lf) * ((tot_o - lo) + (tot_p - lp)"
        " + (tot_f - lf)) + ((tot_o - lo) * (tot_o - lo)"
        " + (tot_p - lp) * (tot_p - lp) + (tot_f - lf) * (tot_f - lf))"
        " * (lo + lp + lf) AS s_num",
    ).filter("n_right > 0").selectExpr(
        "thr", "n_left", "n_right", "s_num",
        "n_left * n_right AS s_den",
        "CAST(FLOOR(CAST(s_num AS DOUBLE) / CAST(n_left * n_right"
        " AS DOUBLE) * 1000000.0) AS BIGINT) AS score_micros",
    )
    w = Window.orderBy(
        (F.col("s_num").cast("double") / F.col("s_den").cast("double"))
        .desc(),
        F.col("thr").asc(),
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select("thr", "n_left", "n_right", "s_num", "s_den",
                "score_micros")
    )


# ---------------------------------------------------------------------------
# Rolling 7-day distinct users (exact sliding distinct)
# ---------------------------------------------------------------------------

def events_rolling_wau(spark, sf_dir):
    """ROLLING 7-DAY ACTIVE USERS (exact sliding COUNT DISTINCT — the
    WAU metric): each distinct (user, day) pair explodes to the <=7
    trailing windows it belongs to, then one hash agg counts distinct
    users per window-end day.  Exact at any scale: the fanout is a
    fixed 7x over the ALREADY-DEDUPED (user, day) relation, and
    distinctness shuffles on (window, user) — never a per-day state
    scan.  DAU rides along for the ratio."""
    ud = (
        _t(spark, sf_dir, "events")
        .selectExpr(f"user_id", f"{_TS_US} DIV {_DAY_US} AS day")
        .distinct()
    )
    span = ud.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    wau = (
        ud.selectExpr(
            "user_id", "explode(sequence(day, day + 6)) AS w"
        )
        .distinct()
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return (
        dau.join(wau, dau.day == wau.w)
        .crossJoin(F.broadcast(span))
        .filter("day BETWEEN d0 AND d1")
        .selectExpr(
            "day", "dau", "wau",
            "CAST(FLOOR(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE)"
            " * 1000000.0) AS BIGINT) AS stickiness_micros",
        )
    )


# ---------------------------------------------------------------------------
# FFT sharpness (frequency-domain curation signal)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Polygon∩polygon overlay (Sutherland-Hodgman vs a convex AOI)
# ---------------------------------------------------------------------------

def country_clip_area(spark, sf_dir):
    """POLYGON INTERSECTION AREA (vector overlay): every country ring
    clipped against the convex AOI pentagon via Sutherland-Hodgman —
    the polygon∩polygon primitive completing the overlay family
    (segment clip, crossings, dissolve, hull, buffer already exist).
    The clip kernel vectorizes inside tests / intersection points per
    clip edge; the shoelace fold is SEQUENTIAL in ring order (gotcha 8)
    and both areas quantize to nano-deg^2 with one FLOOR.  Oracle:
    committed golden from the pure-SCALAR Sutherland-Hodgman twin in
    make_goldens.py — identical per-element float op order (the
    hillshade rule), different mechanics."""
    import os

    import pandas as pd

    from .geom import clip_polygon_convex, ring_area_seq
    from .jobs.rai import fixture_dir
    from .queries import AOI_RING

    cdir = os.path.join(fixture_dir(0.01), "countries.parquet")
    countries = spark.read.parquet(cdir)
    aoi = [tuple(p) for p in AOI_RING[:-1]]

    def _clip(batches):
        import numpy as np

        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                ring = np.array([(p["x"], p["y"]) for p in r.ring])
                if (ring[0] == ring[-1]).all():
                    ring = ring[:-1]
                inter = clip_polygon_convex(ring, np.array(aoi))
                a_c = abs(ring_area_seq(ring))
                a_i = abs(ring_area_seq(inter)) if len(inter) >= 3 else 0.0
                out.append((
                    r.country_code, int(len(ring)), int(len(inter)),
                    int(np.floor(a_i * 1e9)), int(np.floor(a_c * 1e9)),
                    int(np.floor(a_i / a_c * 1_000_000.0)),
                ))
            yield pd.DataFrame(out, columns=[
                "country_code", "n_in", "n_out", "inter_area_nano",
                "country_area_nano", "frac_micros",
            ])

    return countries.mapInPandas(
        _clip,
        "country_code string, n_in int, n_out int, inter_area_nano "
        "bigint, country_area_nano bigint, frac_micros bigint",
    )


# ---------------------------------------------------------------------------
# Road-network topology QA (dangling near-miss endpoints)
# ---------------------------------------------------------------------------

_EPS_M = 100.0  # undershoot gap threshold (meters)
_T_LO, _T_HI = 0.05, 0.95  # strictly-interior projection band


def roads_topology_errors(spark, sf_dir):
    """TOPOLOGY QA: per kind, road ENDPOINTS that land near the
    INTERIOR of another road (within 100 m, projection parameter
    strictly inside (0.05, 0.95)) — the undershoot / T-junction
    detector a road-network conflation pipeline runs before routing.
    Candidates come from a 3x3 cell-block equi-join (segments bucketed
    by FIRST vertex — the roads_hausdorff blocking SPEC, mirrored in
    the oracle); the distance/projection chain is the SAME sqlgen
    steps the kNN family runs.  COALESCE-wrapped keys (gotcha 11).

    Plan shape: endpoint side explodes 9 block keys (tiny), segment
    side buckets once; one equi-join, one per-endpoint MAX(flag) agg,
    one kind rollup."""
    from .sqlgen import apply_steps, point_seg_dist_steps

    _images, roads = _fixture_images(spark)
    ends = roads.selectExpr(
        "road_id", "kind",
        "explode(array("
        "named_struct('ei', 0, 'px', coords[0].x, 'py', coords[0].y), "
        "named_struct('ei', 1, 'px', element_at(coords, -1).x, "
        "'py', element_at(coords, -1).y))) AS e"
    ).selectExpr("road_id", "kind", "e.ei AS ei", "e.px AS px",
                 "e.py AS py")
    ekeys = ends.selectExpr(
        "road_id", "kind", "ei", "px", "py",
        "explode(array(-1, 0, 1)) AS ox",
    ).selectExpr(
        "road_id", "kind", "ei", "px", "py", "ox",
        "explode(array(-1, 0, 1)) AS oy",
    ).selectExpr(
        "road_id", "kind", "ei", "px", "py",
        "COALESCE((CAST(FLOOR(px * 10) AS BIGINT) + ox) * 100000 "
        "+ CAST(FLOOR(py * 10) AS BIGINT) + oy, -1) AS ck",
    )
    verts = roads.selectExpr("road_id AS rs", "posexplode(coords) AS (i, c)") \
        .selectExpr("rs", "i", "c.x AS vx", "c.y AS vy")
    w = Window.partitionBy("rs").orderBy("i")
    segs = (
        verts.select(
            "rs", F.col("vx").alias("ax"), F.col("vy").alias("ay"),
            F.lead("vx").over(w).alias("bx"),
            F.lead("vy").over(w).alias("by"),
        )
        .filter("bx IS NOT NULL")
        .selectExpr(
            "rs", "ax", "ay", "bx", "by",
            "COALESCE(CAST(FLOOR(ax * 10) AS BIGINT) * 100000 "
            "+ CAST(FLOOR(ay * 10) AS BIGINT), -1) AS ck",
        )
    )
    cand = ekeys.join(segs, "ck").filter("rs <> road_id")
    steps = point_seg_dist_steps("px", "py", "ax", "ay", "bx", "by",
                                 "dist_m")
    cand = apply_steps(cand, steps)
    flagged = (
        cand.selectExpr(
            "road_id", "kind", "ei",
            f"CASE WHEN dist_m <= CAST({_EPS_M} AS DOUBLE) "
            f"AND dist_m_t > CAST({_T_LO} AS DOUBLE) "
            f"AND dist_m_t < CAST({_T_HI} AS DOUBLE) "
            "THEN 1 ELSE 0 END AS flag",
        )
        .groupBy("road_id", "kind", "ei")
        .agg(F.max("flag").alias("hit"))
    )
    n_ends = ends.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_endpoints")
    )
    hits = flagged.filter("hit = 1").groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_undershoots"),
        F.sum(F.expr("road_id * 2 + ei")).alias("chk"),
    )
    return (
        n_ends.join(hits, "kind", "left")
        .selectExpr(
            "kind", "n_endpoints",
            "COALESCE(n_undershoots, 0) AS n_undershoots",
            "COALESCE(chk, 0) AS chk",
        )
    )


# ---------------------------------------------------------------------------
# Training-data export sinks: TFRecord + WebDataset
# ---------------------------------------------------------------------------

def tfrecord_roundtrip_docs(spark, sf_dir):
    """TFRECORD EXPORT + re-ingest (the text→training handoff): every
    partition writes one shard of tf.train.Example records through the
    FROM-SCRATCH wire codec (hand-rolled varint protobuf + masked
    CRC32C framing — sdg_engine/tfrecord.py, public-spec only), the
    shards come back via binaryFile, and the parser VERIFIES both CRCs
    per record before decoding.  The per-language rollup fingerprints
    the round-tripped text with the shared 48-bit md5 fragment, so the
    varint writer, the framing, the CRCs, and the proto parser are all
    load-bearing against the DuckDB aggregate over the source parquet.
    At 100 TB this is the standard sharded-export shape: one file per
    task, content never shuffles."""
    import os

    from .queries_r5 import _b12_cells

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    out = f"{_stream_base(spark, 'tfrec_')}/shards"
    os.makedirs(out, exist_ok=True)

    def _write(rows):
        from pyspark import TaskContext

        from sdg_engine.tfrecord import encode_example, write_tfrecords

        recs = [
            encode_example({
                "doc_id": int(r.doc_id),
                "lang": r.lang.encode("utf-8"),
                "text": r.text.encode("utf-8"),
            })
            for r in rows
        ]
        if recs:
            pid = TaskContext.get().partitionId()
            write_tfrecords(
                os.path.join(out, f"shard-{pid:05d}.tfrecord"), recs
            )

    docs.foreachPartition(_write)
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "shard-*")
        .load(out)
    )

    def _parse(batches):
        import pandas as pd

        from sdg_engine.tfrecord import decode_example, read_tfrecords

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                for rec in read_tfrecords(bytes(blob)):
                    ex = decode_example(rec)
                    rows.append((
                        ex["doc_id"][0],
                        ex["lang"].decode("utf-8"),
                        ex["text"].decode("utf-8"),
                    ))
            yield pd.DataFrame(rows, columns=["doc_id", "lang", "text"])

    parsed = bf.select("content").mapInPandas(
        _parse, "doc_id bigint, lang string, text string"
    )
    cells = _b12_cells("h", 4)
    fp = " + ".join(f"({c} * {4096 ** (3 - j)})" for j, c in enumerate(cells))
    return (
        parsed.select(
            "lang", "doc_id",
            F.length("text").cast("long").alias("len"),
            F.md5("text").alias("h"),
        )
        .selectExpr("lang", "doc_id", "len", f"CAST({fp} AS BIGINT) AS fp")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum("len").alias("sum_len"),
            F.sum("fp").alias("sum_fp"),
        )
    )


def webdataset_roundtrip_images(spark, sf_dir):
    """WEBDATASET EXPORT + re-ingest (the multimodal→training
    handoff): per-partition POSIX tar shards where each sample is a
    basename-grouped pair ({id}.{fmt} image bytes + {id}.txt caption —
    the WebDataset convention), written with deterministic headers
    (zeroed mtime/uid), read back via binaryFile, untarred on
    executors, and fingerprinted per format with the shared 48-bit md5
    fragments over BOTH modalities (blob hex + caption text).  DuckDB
    fingerprints the same pairs straight from the source parquet — any
    corruption in tar framing, sample grouping, or payload bytes flips
    a sum."""
    import os

    from .queries_r5 import _b12_cells

    images, _roads = _fixture_images(spark)
    sel = images.filter("image_id < 'img000000000200'").select(
        "image_id", "fmt", "bytes", "caption"
    )
    out = f"{_stream_base(spark, 'wds_')}/shards"
    os.makedirs(out, exist_ok=True)

    def _write(rows):
        import io
        import tarfile

        from pyspark import TaskContext

        rows = list(rows)
        if not rows:
            return
        pid = TaskContext.get().partitionId()
        with tarfile.open(
            os.path.join(out, f"shard-{pid:05d}.tar"), "w"
        ) as tar:
            for r in rows:
                for name, payload in (
                    (f"{r.image_id}.{r.fmt}", bytes(r.bytes)),
                    (f"{r.image_id}.txt", r.caption.encode("utf-8")),
                ):
                    ti = tarfile.TarInfo(name)
                    ti.size = len(payload)
                    ti.mtime = 0
                    ti.uid = ti.gid = 0
                    ti.uname = ti.gname = ""
                    tar.addfile(ti, io.BytesIO(payload))

    sel.foreachPartition(_write)
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "shard-*")
        .load(out)
    )

    def _untar(batches):
        import io
        import tarfile

        import pandas as pd

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                samples: dict = {}
                with tarfile.open(fileobj=io.BytesIO(bytes(blob))) as tar:
                    for m in tar.getmembers():
                        stem, ext = m.name.rsplit(".", 1)
                        samples.setdefault(stem, {})[ext] = (
                            tar.extractfile(m).read()
                        )
                for stem, parts in samples.items():
                    cap = parts.pop("txt").decode("utf-8")
                    (fmt, content), = parts.items()
                    rows.append((stem, fmt, content, cap))
            yield pd.DataFrame(
                rows, columns=["image_id", "fmt", "content", "caption"]
            )

    parsed = bf.select("content").mapInPandas(
        _untar, "image_id string, fmt string, content binary, "
                "caption string"
    )
    cells_b = _b12_cells("hb", 4)
    fp_b = " + ".join(
        f"({c} * {4096 ** (3 - j)})" for j, c in enumerate(cells_b)
    )
    cells_c = _b12_cells("hc", 4)
    fp_c = " + ".join(
        f"({c} * {4096 ** (3 - j)})" for j, c in enumerate(cells_c)
    )
    return (
        parsed.select(
            "fmt",
            F.length("content").cast("long").alias("len"),
            F.md5(F.hex("content")).alias("hb"),
            F.md5("caption").alias("hc"),
        )
        .selectExpr(
            "fmt", "len",
            f"CAST({fp_b} AS BIGINT) AS fpb",
            f"CAST({fp_c} AS BIGINT) AS fpc",
        )
        .groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("len").alias("sum_len"),
            F.sum("fpb").alias("sum_fp_bytes"),
            F.sum("fpc").alias("sum_fp_caption"),
        )
    )


# ---------------------------------------------------------------------------
# Distributed BPE training (multi-round tokenizer induction)
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 8


def bpe_train_merges(spark, sf_dir):
    """FULL BPE TRAINING LOOP (8 merge rounds) — the multi-round
    extension of bpe_merge_candidates' single iteration, i.e. actual
    tokenizer induction.  The classic two-table decomposition: the
    corpus reduces ONCE to the (distinct word, count) table
    (dedup-before-quadratic — vocabulary-sized forever after), each
    round counts adjacent token pairs JVM-side (explode(sequence) + a
    codegen'd projection, gotcha 16b — overlaps counted, the standard
    spec), picks argmax((count, lexicographic pair)), and applies the
    merge with a greedy-LEFTMOST vectorized pass over the vocab table
    only.  At 100 TB the word-count reduction is the only corpus-scale
    pass; every round after it shuffles a vocab-sized relation.
    Output: the 8 merges (rank, left, right, pair count at selection).
    Oracle: committed golden from an INDEPENDENT scalar Counter-based
    BPE trainer over the same parquet (scripts/make_goldens.py)."""
    import pandas as pd

    vocab = (
        _t(spark, sf_dir, "documents")
        .selectExpr("explode(split(text, ' ')) AS w")
        .filter("length(w) > 0")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .selectExpr("split(w, '') AS toks", "n")
        .localCheckpoint()
    )
    merges = []
    for rank in range(1, _BPE_ROUNDS + 1):
        pairs = (
            vocab.filter("size(toks) >= 2")
            .selectExpr(
                "toks", "n", "explode(sequence(0, size(toks) - 2)) AS i"
            )
            .selectExpr("toks[i] AS a", "toks[i + 1] AS b", "n")
            .groupBy("a", "b")
            .agg(F.sum("n").alias("cnt"))
        )
        best = pairs.orderBy(
            F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc()
        ).limit(1).collect()
        if not best:
            break
        a, b, cnt = best[0].a, best[0].b, int(best[0].cnt)
        merges.append((rank, a, b, cnt))

        def _apply(batches, _a=a, _b=b):
            for pdf in batches:
                out = []
                for toks in pdf["toks"]:
                    t = list(toks)
                    # r06 fast path: most vocabulary words do not
                    # contain the merge pair at all — two C-speed
                    # membership tests skip the scalar merge walk
                    # (same output: the walk is a no-op without both
                    # tokens present)
                    if _a not in t or _b not in t:
                        out.append(t)
                        continue
                    res = []
                    i = 0
                    while i < len(t):
                        if (i + 1 < len(t) and t[i] == _a
                                and t[i + 1] == _b):
                            res.append(_a + _b)
                            i += 2
                        else:
                            res.append(t[i])
                            i += 1
                    out.append(res)
                yield pd.DataFrame({"toks": out, "n": pdf["n"]})

        vocab = vocab.mapInPandas(
            _apply, "toks array<string>, n bigint"
        ).localCheckpoint()
    return spark.createDataFrame(
        merges, "rank int, lhs string, rhs string, cnt bigint"
    )


# ---------------------------------------------------------------------------
# Polyline∩polygon length (half-plane t-interval clip, LIVE oracle)
# ---------------------------------------------------------------------------

def _aoi_halfplane_exprs(by: str = "by") -> tuple[str, str, str]:
    """Shared fragments for clipping segment (ax,ay)-(bx,by) against
    the convex CCW AOI pentagon: per edge k, g_k(t) is linear in t, so
    the inside interval is [lo, hi] = [0,1] tightened by each edge's
    root t* = -g0/(g1-g0) (entering when g rises, leaving when it
    falls); a parallel edge with g0 < 0 kills the segment.  Returns
    (lo_expr, hi_expr, feasible_expr) — identical text in DuckDB."""
    from .queries import AOI_RING

    ring = AOI_RING[:-1]
    los, his, feas = ["CAST(0.0 AS DOUBLE)"], ["CAST(1.0 AS DOUBLE)"], []
    for k in range(len(ring)):
        x0, y0 = ring[k]
        x1, y1 = ring[(k + 1) % len(ring)]
        ex, ey = repr(x1 - x0), repr(y1 - y0)
        g0 = f"(({ex}) * (ay - ({y0!r})) - ({ey}) * (ax - ({x0!r})))"
        g1 = f"(({ex}) * ({by} - ({y0!r})) - ({ey}) * (bx - ({x0!r})))"
        t = f"(-({g0}) / (({g1}) - ({g0})))"
        los.append(f"CASE WHEN ({g1}) > ({g0}) THEN {t} "
                   "ELSE CAST(0.0 AS DOUBLE) END")
        his.append(f"CASE WHEN ({g1}) < ({g0}) THEN {t} "
                   "ELSE CAST(1.0 AS DOUBLE) END")
        feas.append(f"NOT (({g1}) = ({g0}) AND ({g0}) < CAST(0.0 AS"
                    " DOUBLE))")
    return (
        "GREATEST(" + ", ".join(los) + ")",
        "LEAST(" + ", ".join(his) + ")",
        " AND ".join(feas),
    )


def roads_in_aoi_length(spark, sf_dir):
    """POLYLINE∩POLYGON LENGTH: per road kind, the exact length of
    road inside the convex AOI pentagon — the overlay statistic
    ("how much highway crosses the study area") complementing
    country_clip_area's polygon∩polygon.  Each segment's inside
    t-interval comes from intersecting the five half-plane constraints
    ANALYTICALLY (linear g_k(t), GREATEST of entering roots / LEAST of
    leaving roots — no iteration, no golden: the oracle runs the
    IDENTICAL fragments live).  Per-segment inside length quantizes to
    micro-degrees BEFORE the fold (FLOOR-before-fold, the
    cells_line_density rule), so sums are exact BIGINTs at any
    partitioning."""

    lo, hi, feas = _aoi_halfplane_exprs()
    _images, roads = _fixture_images(spark)
    verts = roads.selectExpr(
        "road_id", "kind", "posexplode(coords) AS (i, c)"
    ).selectExpr("road_id", "kind", "i", "c.x AS vx", "c.y AS vy")
    w = Window.partitionBy("road_id").orderBy("i")
    seg = (
        verts.select(
            "kind", F.col("vx").alias("ax"), F.col("vy").alias("ay"),
            F.lead("vx").over(w).alias("bx"),
            F.lead("vy").over(w).alias("by"),
        )
        .filter("bx IS NOT NULL")
    )
    clipped = seg.selectExpr(
        "kind",
        "SQRT((bx - ax) * (bx - ax) + (by - ay) * (by - ay)) AS seg_len",
        f"{lo} AS lo", f"{hi} AS hi", f"({feas}) AS feas",
    ).selectExpr(
        "kind",
        "CAST(FLOOR(seg_len * 1000000.0) AS BIGINT) AS len_micros",
        "CASE WHEN feas AND hi > lo THEN "
        "CAST(FLOOR((hi - lo) * seg_len * 1000000.0) AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END AS in_micros",
    )
    return clipped.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.expr("CASE WHEN in_micros > 0 THEN 1 ELSE 0 END"))
        .alias("n_touched"),
        F.sum("len_micros").alias("sum_len_micros"),
        F.sum("in_micros").alias("sum_in_micros"),
    )


# ---------------------------------------------------------------------------
# Cross-modal consistency QA (near-dup images vs caption agreement)
# ---------------------------------------------------------------------------

def multimodal_caption_consistency(spark, sf_dir):
    """CROSS-MODAL CONSISTENCY QA: image pairs that are perceptual
    near-dups (phash LSH bands + exact hamming <= 6 — the certified
    image_near_dup_pairs machinery at a stricter tier) but whose
    CAPTIONS disagree — the mislabeled-pair detector an image+caption
    curation pipeline runs before training.  Pure relational over the
    binding (phash, caption) columns, so the oracle reruns it verbatim;
    emits the pairs with their hamming and the agreement flag."""
    from .ops import payload as PL

    images, _roads = _fixture_images(spark)
    subset = images.filter(F.col("image_id") < "img000000000400")
    pairs = PL.phash_near_dup_pairs(subset, max_hamming=6)
    caps = subset.select("image_id", "caption")
    return (
        pairs.join(
            caps.selectExpr("image_id AS id_a", "caption AS cap_a"), "id_a"
        )
        .join(
            caps.selectExpr("image_id AS id_b", "caption AS cap_b"), "id_b"
        )
        .selectExpr(
            "id_a", "id_b", "hamming",
            "CAST(cap_a = cap_b AS BOOLEAN) AS same_caption",
        )
    )


# ---------------------------------------------------------------------------
# SSIM reconstruction quality + winsorized mean
# ---------------------------------------------------------------------------

def supplier_winsorized_mean(spark, sf_dir):
    """WINSORIZED MEAN of supplier balances (clip at the exact p10/p90
    order statistics, then average) — the robust-metrics companion to
    MAD and the exact-quantiles family.  The clip thresholds are exact
    rank picks over the DISTINCT-cents relation (two-level bounded
    windows — never a row-level sort); the clipped sum stays a pure
    BIGINT and the mean divides once as a shared double."""
    s = _t(spark, sf_dir, "supplier").selectExpr(
        "CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT) AS cents"
    )
    # exact order statistics via the cumulative distribution over the
    # DISTINCT-cents relation (the exact-quantiles technique): windows
    # run over distinct values, never rows; rank indices are pure
    # integers ((n-1) DIV 10, 9(n-1) DIV 10 — zero-based nearest-rank)
    per = s.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
    cum = per.selectExpr(
        "cents",
        "SUM(cnt) OVER (ORDER BY cents) AS cume",
        "SUM(cnt) OVER () AS n",
    )
    cuts = cum.groupBy().agg(
        F.min(F.expr(
            "CASE WHEN cume >= (n - 1) DIV 10 + 1 THEN cents END"
        )).alias("lo"),
        F.min(F.expr(
            "CASE WHEN cume >= (9 * (n - 1)) DIV 10 + 1 THEN cents END"
        )).alias("hi"),
    )
    return (
        s.crossJoin(F.broadcast(cuts))
        .selectExpr(
            "LEAST(GREATEST(cents, lo), hi) AS w", "lo", "hi"
        )
        .groupBy("lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("w").alias("sum_w"),
            F.expr(
                "CAST(FLOOR(CAST(SUM(w) AS DOUBLE) / COUNT(*)"
                " * 1000.0) AS BIGINT)"
            ).alias("wmean_millicents"),
        )
    )


# ---------------------------------------------------------------------------
# CHECK constraints (lakehouse expectations) + peak detection
# ---------------------------------------------------------------------------

def snapshot_constraint_check(spark, sf_dir):
    """LAKEHOUSE CHECK CONSTRAINTS (the Delta/Iceberg expectations
    pattern): the table declares `n_chars > 0 AND lang IS NOT NULL` at
    creation; a later append containing violating rows is REJECTED
    atomically (ValueError, zero data written, history unchanged), and
    appends that omit the constraint INHERIT it from the manifest and
    re-validate.  The query pins the protocol: commit count, rejected
    batch count, and the head read exclude the bad rows by
    construction."""
    from .storage import read_snapshot, snapshot_history, write_snapshot

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    path = f"{_stream_base(spark, 'constraint_')}/tbl"
    check = "n_chars > 0 AND lang IS NOT NULL"
    write_snapshot(docs.filter("doc_id % 2 = 0"), path, check=check)
    rejected = 0
    bad = docs.filter("doc_id % 2 = 1").unionByName(
        spark.createDataFrame(
            [(10**12, None, 5), (10**12 + 1, "en", 0)],
            "doc_id bigint, lang string, n_chars bigint",
        )
    )
    try:  # inherits the table constraint — must refuse the whole batch
        write_snapshot(bad, path)
        raise AssertionError("constraint violation not caught")
    except ValueError:
        rejected += 1
    write_snapshot(docs.filter("doc_id % 2 = 1"), path)  # clean retry
    head = read_snapshot(spark, path)
    return (
        head.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("n_chars").alias("min_chars"),
        )
        .withColumn(
            "n_commits", F.lit(len(snapshot_history(path))).cast("int")
        )
        .withColumn("n_rejected", F.lit(rejected).cast("int"))
    )


def events_hourly_peaks(spark, sf_dir):
    """PEAK DETECTION on the hourly spend series: strict local maxima
    over a +-3-hour neighborhood that also clear the exact p90 of the
    hourly values (prominence floor) — the alerting primitive on a
    metric series.  Neighborhood tests are lag/lead windows over the
    time-grid-bounded hourly relation; interior hours only (both
    3-neighborhoods fully observed on the dense grid) so the edge
    semantics are spec'd identically in the oracle; p90 is the exact
    nearest-rank pick over the DISTINCT-value cumulative distribution
    (the winsorize technique)."""
    hourly = (
        _t(spark, sf_dir, "events")
        .selectExpr(
            f"{_TS_US} DIV {_HOUR_US_R5D} AS h",
            "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("h")
        .agg(F.sum("cents").alias("v"))
    )
    # dense grid: missing hours count as 0 (gap-fill spec'd both sides)
    span = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    dense = (
        span.selectExpr("explode(sequence(h0, h1)) AS h")
        .join(hourly, "h", "left")
        .selectExpr("h", "COALESCE(v, 0) AS v")
    )
    per = dense.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    cum = per.selectExpr(
        "v", "SUM(cnt) OVER (ORDER BY v) AS cume", "SUM(cnt) OVER () AS n"
    )
    p90 = cum.groupBy().agg(
        F.min(F.expr(
            "CASE WHEN cume >= (9 * (n - 1)) DIV 10 + 1 THEN v END"
        )).alias("p90")
    )
    nb = dense.selectExpr(
        "h", "v",
        *[f"LAG(v, {k}) OVER (ORDER BY h) AS lag{k}" for k in (1, 2, 3)],
        *[f"LEAD(v, {k}) OVER (ORDER BY h) AS lead{k}" for k in (1, 2, 3)],
    )
    return (
        nb.crossJoin(F.broadcast(p90))
        .filter(
            "lag3 IS NOT NULL AND lead3 IS NOT NULL"
            " AND v > GREATEST(lag1, lag2, lag3)"
            " AND v > GREATEST(lead1, lead2, lead3)"
            " AND v >= p90"
        )
        .selectExpr(
            "h", "v", "GREATEST(lag1, lag2, lag3, lead1, lead2, lead3)"
            " AS nbr_max", "p90",
        )
    )


QUERIES_R5D = {
    "events_concurrency": events_concurrency,
    "orders_listagg": orders_listagg,
    "roads_bearing_octants": roads_bearing_octants,
    "embeddings_silhouette": embeddings_silhouette,
    "mst_roads": mst_roads,
    "points_snap_roads": points_snap_roads,
    "image_otsu": image_otsu,
    "streaming_chained_aggs": streaming_chained_aggs,
    "snapshot_partition_evolution": snapshot_partition_evolution,
    "multimodal_audio_pitch": multimodal_audio_pitch,
    "multimodal_video_motion": multimodal_video_motion,
    "lateral_topk_orders": lateral_topk_orders,
    "xml_roundtrip_events": xml_roundtrip_events,
    "image_edt": image_edt,
    "orders_decision_stump": orders_decision_stump,
    "events_rolling_wau": events_rolling_wau,
    "image_fft_sharpness": image_fft_sharpness,
    "country_clip_area": country_clip_area,
    "roads_topology_errors": roads_topology_errors,
    "tfrecord_roundtrip_docs": tfrecord_roundtrip_docs,
    "webdataset_roundtrip_images": webdataset_roundtrip_images,
    "bpe_train_merges": bpe_train_merges,
    "roads_in_aoi_length": roads_in_aoi_length,
    "multimodal_caption_consistency": multimodal_caption_consistency,
    "image_ssim_recon": image_ssim_recon,
    "supplier_winsorized_mean": supplier_winsorized_mean,
    "snapshot_constraint_check": snapshot_constraint_check,
    "events_hourly_peaks": events_hourly_peaks,
}
