"""Round-5 wave 5: Spark-4 SQL surface (native WITH RECURSIVE,
UNPIVOT/melt) + three more sketch/stats/graph operators (Zipf
rank-frequency slope with exact floor-log2, directed HITS
hubs/authorities, AMS F2 second-moment sketch).

Parity rules as everywhere (CLAUDE.md gotchas 7/8): money in cents
BIGINTs, floor-log2 via length(bin(n)) - 1 (bin() renders without
leading zeros in BOTH engines, so the length IS the bit count),
HITS runs UNNORMALIZED (pure integer mat-vec products — ranking is
scale-invariant, so skipping the sqrt normalization removes the only
float from the loop), AMS signs come from md5 hex digits (the repo's
hex→int fragment).

Registered into queries.QUERIES via QUERIES_R5B.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .qcommon import _t, _drain_confs, _fixture_images
from .graph import _PR_NODE_A, _PR_NODE_B, bfs_hops, hubs, road_edges


_ORDER_CENTS = "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"


# Shared recursive-chain fragments — the ORACLE composes them into one
# WITH RECURSIVE statement; the ENGINE materializes the linked list
# first (Spark's UnionLoop re-plans every non-recursive CTE per
# iteration — the window+self-join re-ran ~25 times, measured 34 s at
# sf0.1 → 7 s with the pointer table checkpointed once) and recurses
# over the checkpointed view with the IDENTICAL walk text.  The walk is
# depth-capped at 12 (the first 12 orders per customer), the standard
# recursive-CTE bound: rounds are fixed by the CAP, not by the data's
# longest chain, so the iteration count survives any scale-up.
_CHAIN_DEPTH = 12

RECURSIVE_LINKED_SQL = f"""
WITH ord AS (
  SELECT o_custkey, o_orderkey, {_ORDER_CENTS} AS cents,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey)
              AS BIGINT) AS rn
  FROM {{orders}}
)
SELECT a.o_custkey AS ck, a.o_orderkey AS ok, a.cents AS cents,
       a.rn AS rn, b.o_orderkey AS nxt
FROM ord a LEFT JOIN ord b
  ON a.o_custkey = b.o_custkey AND b.rn = a.rn + 1
"""

RECURSIVE_WALK_SQL = f"""
WITH RECURSIVE walk AS (
  SELECT ck, ok, nxt, CAST(1 AS BIGINT) AS depth, cents AS run_cents
  FROM {{linked}} WHERE rn = 1
  UNION ALL
  SELECT l.ck, l.ok, l.nxt, w.depth + 1, w.run_cents + l.cents
  FROM walk w JOIN {{linked}} l ON l.ok = w.nxt
  WHERE w.depth < {_CHAIN_DEPTH}
)
SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_chains,
       CAST(SUM(run_cents) AS BIGINT) AS sum_run_cents,
       CAST(SUM(ok) AS BIGINT) AS ok_checksum
FROM walk GROUP BY depth
"""


def recursive_order_chain(spark, sf_dir):
    """NATIVE WITH RECURSIVE (new in Spark 4): per-customer order
    chains walked as a linked list — depth index + running spend
    computed by the recursion (capped at 12 hops), then aggregated per
    depth.  The pointers (next order of the same customer) are a
    window + self-join, MATERIALIZED once (localCheckpoint) because
    UnionLoop replans non-recursive CTEs every iteration; the
    recursive step is then a pure equi-join on the pointer per round.
    DuckDB runs the identical fragments composed into one statement.
    The window-function route would compute the same result in one
    pass — the recursion is the deliberate surface, mirroring
    hierarchy/BOM walks that windows cannot express."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_rchain_orders")
    linked = spark.sql(
        RECURSIVE_LINKED_SQL.format(orders="_rchain_orders")
    ).localCheckpoint()
    linked.createOrReplaceTempView("_rchain_linked")
    # r06: the recursion MATERIALIZES here under _drain_confs —
    # UnionLoop replans AND recompiles whole-stage codegen for every
    # one of the 12 levels (gotcha 18's cost driver), so codegen-off
    # for the walk measured 9.5 s → 2.6 s first-plan (2.8 → 2.5 warm).
    # The WITH RECURSIVE surface is unchanged; only where the action
    # runs moved (inside the builder, like every streaming drain).

    with _drain_confs(spark):
        return spark.sql(
            RECURSIVE_WALK_SQL.format(linked="_rchain_linked")
        ).localCheckpoint()


def unpivot_order_metrics(spark, sf_dir):
    """UNPIVOT / melt (relational breadth O-family): wide per-status
    aggregates rotated into (status, metric, value) rows via the
    native DataFrame unpivot (Expand, one pass, no join/union re-scan).
    All three measures are BIGINT so the melted value column needs no
    widening; the oracle is the classic UNION ALL rotation."""
    agg = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(f"CAST(SUM({_ORDER_CENTS}) AS BIGINT)").alias("sum_cents"),
            F.expr(f"MAX({_ORDER_CENTS})").alias("max_cents"),
        )
    )
    return agg.unpivot(
        ["o_orderstatus"], ["n_orders", "sum_cents", "max_cents"],
        "metric", "val",
    )


# floor(log2(n)) for n >= 1, exact in BOTH engines: bin() renders the
# minimal binary string (no leading zeros), so its length - 1 is the
# integer log2 — no float log anywhere (gotcha 8).
_LOG2 = "(CAST(LENGTH(bin({n})) AS BIGINT) - 1)"


def zipf_word_slope(spark, sf_dir):
    """Zipf rank-frequency fit over the corpus vocabulary: OLS slope of
    floor(log2 freq) on floor(log2 rank) for the top-256 words — the
    corpus-health diagnostic (natural text ≈ -1; templated/duplicated
    text flattens).  Exact integer path: octaves via length(bin(n))-1,
    closed-form OLS over five BIGINT sums, ONE final FLOOR to micros.
    The ranking window runs over the vocabulary-sized count table,
    never the corpus (vocab_oov_rate precedent)."""
    wc = (
        _t(spark, sf_dir, "documents")
        .selectExpr("explode(split(text, ' ')) AS w")
        .filter("w <> ''")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w_rank = Window.orderBy(F.col("freq").desc(), F.col("w").asc())
    ranked = (
        wc.withColumn("rnk", F.row_number().over(w_rank).cast("bigint"))
        .filter("rnk <= 256")
        .selectExpr(
            f"{_LOG2.format(n='rnk')} AS x",
            f"{_LOG2.format(n='freq')} AS y",
        )
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.expr("CAST(SUM(x * y) AS BIGINT)").alias("sxy"),
        F.expr("CAST(SUM(x * x) AS BIGINT)").alias("sxx"),
    ).selectExpr(
        "n_words",
        "sx", "sy", "sxy", "sxx",
        "CAST(FLOOR(1000000.0 * (n_words * sxy - sx * sy)"
        " / (n_words * sxx - sx * sx)) AS BIGINT) AS slope_micros",
    )


# Directed road-graph edges: same quantized endpoints as
# pagerank_roads (graph._PR_NODE_A/B), but KEPT DIRECTED (a→b as
# drawn) so hub and authority scores genuinely differ (symmetrizing
# would make them equal by construction).
_HITS_ITERS = 3


def hits_roads(spark, sf_dir):
    """HITS hubs/authorities on the DIRECTED quantized road graph,
    INTEGER-EXACT: scores stay unnormalized BIGINTs (ranking is
    scale-invariant, so the per-round sqrt normalization — the only
    float in classic HITS — is dropped; 2k=6 mat-vec products over
    degree ≤ ~10² keeps scores far inside int64).  Per round: ONE
    edges⋈score equi-join + map-side-combined SUM, localCheckpointed
    (gotcha 15).  Output: top-10 per role with deterministic
    tie-break.  Oracle: the identical recurrence as an unrolled LINEAR
    CTE chain (each round references only the previous one — the
    shortest_path_weighted lesson)."""
    from .harness import segments_df

    segs = segments_df(spark, sf_dir).withColumnRenamed("by", "byy")
    edges = (
        segs.selectExpr(f"{_PR_NODE_A} AS src", f"{_PR_NODE_B} AS dst")
        .filter("src <> dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    with _drain_confs(spark):
        hub = nodes.select("node", F.lit(1).cast("bigint").alias("h"))
        for _ in range(_HITS_ITERS):
            auth = (
                edges.join(hub, edges.src == hub.node)
                .select("dst", F.expr("w * h AS c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("a"))
            )
            auth = (
                nodes.join(auth, nodes.node == auth.dst, "left")
                .selectExpr("node", "CAST(COALESCE(a, 0) AS BIGINT) AS a")
                .localCheckpoint()
            )
            hub = (
                edges.join(auth, edges.dst == auth.node)
                .select("src", F.expr("w * a AS c"))
                .groupBy("src")
                .agg(F.sum("c").alias("h"))
            )
            hub = (
                nodes.join(hub, nodes.node == hub.src, "left")
                .selectExpr("node", "CAST(COALESCE(h, 0) AS BIGINT) AS h")
                .localCheckpoint()
            )
        w_h = Window.orderBy(F.col("score").desc(), F.col("node").asc())
    top_h = (
        hub.selectExpr("node", "h AS score")
        .withColumn("rnk", F.row_number().over(w_h).cast("int"))
        .filter("rnk <= 10")
        .selectExpr("'hub' AS role", "node", "score", "rnk")
    )
    top_a = (
        auth.selectExpr("node", "a AS score")
        .withColumn("rnk", F.row_number().over(w_h).cast("int"))
        .filter("rnk <= 10")
        .selectExpr("'authority' AS role", "node", "score", "rnk")
    )
    return top_h.unionAll(top_a)


# AMS sign: md5 hex digit j of the stringified user id, high bit →
# ±1.  The repo's hex→int fragment (instr over the hex alphabet) —
# conv() is absent in DuckDB.
_AMS_SKETCHES = 16
_AMS_SIGN = (
    "CASE WHEN instr('0123456789abcdef',"
    " substr(md5(CAST(user_id AS STRING)), j, 1)) - 1 >= 8"
    " THEN 1 ELSE -1 END"
)


def ams_f2_sketch(spark, sf_dir):
    """AMS (Alon-Matias-Szegedy) F2 second-moment sketch over the
    events user-frequency vector, 16 estimators: est_j = (Σ_u cnt_u ·
    sign_j(u))², signs from md5 hex digits — deterministic, no RNG
    (hll_distinct precedent).  Everything BIGINT; the exact F2 =
    Σ cnt² rides along so the sketch's accuracy is visible in the
    output.  Scale shape: one user-keyed agg (the same agg any
    distinct-count needs), then a 16-way explode over the USER table
    and a 16-row reduce — mergeable across partitions by construction."""
    cnts = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_sketch = (
        cnts.selectExpr("user_id", "cnt", "explode(sequence(1, 16)) AS j")
        .selectExpr("j", f"cnt * ({_AMS_SIGN}) AS signed")
        .groupBy("j")
        .agg(F.expr("CAST(SUM(signed) AS BIGINT) AS s"))
    )
    exact = cnts.agg(
        F.expr("CAST(SUM(cnt * cnt) AS BIGINT) AS f2_exact"),
        F.count(F.lit(1)).alias("n_users"),
    )
    est = per_sketch.agg(
        F.expr(
            f"CAST(FLOOR(CAST(SUM(s * s) AS BIGINT) / {_AMS_SKETCHES}.0)"
            " AS BIGINT) AS f2_ams"
        )
    )
    return exact.crossJoin(F.broadcast(est))





# ---------------------------------------------------------------------------
# Robust statistics: Theil-Sen median slope
# ---------------------------------------------------------------------------

_HOUR_US = 3_600_000_000
_TS_US = "unix_micros(CAST(ts AS TIMESTAMP))"


def events_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend estimator over the hourly event-count
    series: the MEDIAN of all pairwise slopes (h1 < h2).  Slopes are
    micro-snapped via one shared FLOOR over an identical double divide;
    the median is the lower-median ROW_NUMBER pick over the total order
    (slope, h1, h2) — deterministic in both engines.  Scale shape: ONE
    map-side-combined hash agg reduces events to observed hours; the
    pair join and the ranking window run over the TIME-GRID-bounded
    pair set (~260k rows for a 720-hour grid — fixed by the calendar,
    not the data size; the events_acf boundedness argument)."""
    hourly = (
        _t(spark, sf_dir, "events")
        .selectExpr(f"CAST(FLOOR({_TS_US} / {_HOUR_US}) AS BIGINT) AS h")
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("x"))
        .localCheckpoint()  # tiny; both pair-join sides
    )
    pairs = (
        hourly.selectExpr("h AS h1", "x AS x1")
        .join(hourly.selectExpr("h AS h2", "x AS x2"),
              F.col("h2") > F.col("h1"))
        .selectExpr(
            "h1", "h2",
            "CAST(FLOOR(1000000.0 * (x2 - x1) / (h2 - h1)) AS BIGINT)"
            " AS slope",
        )
    )
    w = Window.orderBy("slope", "h1", "h2")
    ranked = pairs.withColumn(
        "rn", F.row_number().over(w).cast("bigint")
    )
    n = pairs.agg(F.count(F.lit(1)).alias("n_pairs"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .filter(F.expr("rn = CAST(FLOOR((n_pairs + 1) / 2.0) AS BIGINT)"))
        .selectExpr("n_pairs", "slope AS median_slope_micros")
    )


# ---------------------------------------------------------------------------
# Spark 4 SQL surface: collation + named-parameter SQL
# ---------------------------------------------------------------------------


def collation_token_dedup(spark, sf_dir):
    """COLLATION surface (new in Spark 4): case-insensitive distinct
    token count via COLLATE UTF8_LCASE grouping, next to the binary
    (case-sensitive) count — the 'how many tokens modulo case' corpus
    question.  The oracle lowers explicitly (the corpus is ASCII, where
    UTF8_LCASE equivalence IS lower()-equality); the case-sensitive
    count rides along so the two collations are visibly different."""
    toks = (
        _t(spark, sf_dir, "documents")
        .selectExpr("explode(split(text, ' ')) AS w")
        .filter("w <> ''")
        .localCheckpoint()  # both distinct branches
    )
    ci = toks.selectExpr(
        "COUNT(DISTINCT COLLATE(w, 'UTF8_LCASE')) AS n_ci"
    )
    cs = toks.agg(
        F.countDistinct("w").alias("n_cs"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    return cs.crossJoin(F.broadcast(ci))


def param_sql_revenue(spark, sf_dir):
    """NAMED-PARAMETER SQL (spark.sql(..., args=...), new API in Spark
    3.4+/4): the revenue band scan parameterized with :min_pct /
    :max_pct / :max_qty instead of inlined literals — the
    injection-safe programmatic form.  Parameter binding happens at
    parse time, so the executed plan is identical to the literal form;
    the oracle runs the literal-substituted text."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_psql_lineitem")
    from .queries_tpch import CENTS, PCT

    return spark.sql(
        f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM({CENTS.format(col='l_extendedprice')} * {PCT}) AS BIGINT)
         AS discount_cc
FROM _psql_lineitem
WHERE {PCT} BETWEEN :min_pct AND :max_pct
  AND l_quantity < :max_qty
""",
        args={"min_pct": 3, "max_pct": 6, "max_qty": 30},
    )


# ---------------------------------------------------------------------------
# Distributed PCA: integer-exact power iteration
# ---------------------------------------------------------------------------

_PCA_DIM = 64
_PCA_ROUNDS = 8
# covariance damping keeps the matvec far inside int64: |q| <= ~530
# (mils of a [-0.53, 0.46] embedding), C_jk <= rows * 2.8e5, and
# M = FLOOR(C / 4096) keeps 64 * M * 1e6 <= ~2e15 even at sf100.
_PCA_DAMP = 4096.0


def _pca_cov_partial(it):
    """mapInPandas partial covariance: per-batch int64 outer-product
    accumulation (the map-side-combine a 100 TB covariance needs — the
    shuffle carries 64x64 partial matrices, never rows).  Quantization
    matches the oracle text exactly: float64 widening FIRST, then
    FLOOR(x * 1000 + 0.5)."""
    import numpy as np
    import pandas as pd

    acc = np.zeros((_PCA_DIM, _PCA_DIM), dtype=np.int64)
    seen = False
    for pdf in it:
        if not len(pdf):
            continue
        arr = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        q = np.floor(arr * 1000.0 + 0.5).astype(np.int64)
        acc += q.T @ q
        seen = True
    if seen:
        j, k = np.meshgrid(
            np.arange(1, _PCA_DIM + 1), np.arange(1, _PCA_DIM + 1),
            indexing="ij",
        )
        yield pd.DataFrame(
            {"j": j.ravel(), "k": k.ravel(), "c": acc.ravel()}
        )


def pca_power_iteration(spark, sf_dir):
    """Distributed PCA, INTEGER-EXACT power iteration: 8 rounds toward
    the top principal direction of the (uncentered) quantized-embedding
    second-moment matrix.  The deliverable is the exact k-round iterate
    (deterministic, oracle-pinned); on near-isotropic data (the harness
    embeddings' eigengap ratio is ~0.93) full eigenvector isolation
    needs more rounds — rounds are the knob, each round is one tiny
    join.  The invariant gate (tests/test_r5b.py) checks bit-equality
    against an independent dense numpy run of the same recurrence plus
    Rayleigh-quotient progress (>0.9 of the top eigenvalue by round 8).  Stage 1 is the scale stage — mapInPandas partial
    covariance (int64 outer products, exact regardless of partitioning
    or fold order), one 4096-row final agg.  Stage 2 runs 8 power-
    iteration rounds RELATIONALLY over the tiny (j,k,m) matrix:
    matvec = equi-join + SUM, then per-round renormalization to
    micro-units via MAX(ABS(w)) OVER () — a 64-row window, so the
    single partition is by construction, not by accident.  Every
    quantity is BIGINT; the one double divide per round is the shared
    FLOOR(1e6*w/max) text, so both engines walk identical integer
    states (the pagerank argument).  Output: the 64 loadings of v8.
    Oracle: identical unrolled LINEAR CTE chain (each round references
    only its predecessor once — window, not scalar subquery, for the
    max; the shortest_path_weighted lesson)."""
    emb = _t(spark, sf_dir, "embeddings").select("embedding")
    cov = (
        emb.mapInPandas(_pca_cov_partial, "j int, k int, c bigint")
        .groupBy("j", "k")
        .agg(F.expr("CAST(SUM(c) AS BIGINT) AS s"))
        .selectExpr(
            "j", "k",
            f"CAST(FLOOR(CAST(s AS DOUBLE) / {_PCA_DAMP}) AS BIGINT) AS m",
        )
        .localCheckpoint()  # referenced every round
    )
    with _drain_confs(spark):
        v = cov.select("j").distinct().selectExpr(
            "j", "CAST(1000000 AS BIGINT) AS v"
        )
        for _ in range(_PCA_ROUNDS):
            w = (
                cov.join(v.selectExpr("j AS k2", "v"), F.col("k") == F.col("k2"))
                .groupBy("j")
                .agg(F.expr("CAST(SUM(m * v) AS BIGINT) AS w"))
            )
            v = w.selectExpr(
                "j",
                "CAST(FLOOR(1000000.0 * w / MAX(ABS(w)) OVER ()) AS BIGINT) AS v",
            ).localCheckpoint()
    return v.selectExpr("j", "v AS loading")




def scd2_user_state(spark, sf_dir):
    """SCD TYPE-2 dimension build (the lakehouse dimension-modelling
    primitive): per-user event-type state intervals with
    valid_from/valid_to — consecutive same-type runs collapse
    (gaps-and-islands: change flag -> running sum -> group), valid_to =
    next interval's valid_from (lead), open intervals flagged current.
    ONE user-key exchange carries all three windows (lag, running sum,
    lead — same partitioning, Catalyst reuses the sort).  Output: the
    per-type interval ledger (counts, open rows, closed-duration sums
    in exact micros)."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "user_id", "event_type", f"{_TS_US} AS us", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = ev.withColumn(
        "chg",
        F.expr(
            "CASE WHEN LAG(event_type) OVER"
            " (PARTITION BY user_id ORDER BY us, event_id)"
            " IS DISTINCT FROM event_type THEN 1 ELSE 0 END"
        ),
    )
    grouped = flagged.withColumn(
        "grp", F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    iv = grouped.groupBy("user_id", "grp").agg(
        F.min("event_type").alias("state"),
        F.min("us").alias("valid_from"),
    )
    w_iv = Window.partitionBy("user_id").orderBy("valid_from")
    iv2 = iv.withColumn("valid_to", F.lead("valid_from").over(w_iv))
    return iv2.groupBy("state").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.expr("CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END)"
               " AS BIGINT)").alias("n_current"),
        F.expr("CAST(SUM(CASE WHEN valid_to IS NULL THEN 0"
               " ELSE valid_to - valid_from END) AS BIGINT)")
        .alias("closed_dur_us"),
    )


def events_mad(spark, sf_dir):
    """Median absolute deviation of the hourly event-count series —
    the robust-scale companion to events_theil_sen.  Both medians are
    lower-median ROW_NUMBER picks over the TIME-GRID-bounded hourly
    relation (deterministic total orders: (x, h) then (dev, h));
    everything BIGINT."""
    hourly = (
        _t(spark, sf_dir, "events")
        .selectExpr(f"CAST(FLOOR({_TS_US} / {_HOUR_US}) AS BIGINT) AS h")
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("x"))
        .localCheckpoint()  # median pick + deviation branch
    )
    n = hourly.agg(F.count(F.lit(1)).alias("n_hours"))
    w1 = Window.orderBy("x", "h")
    med = (
        hourly.withColumn("rn", F.row_number().over(w1).cast("bigint"))
        .crossJoin(F.broadcast(n))
        .filter(F.expr("rn = CAST(FLOOR((n_hours + 1) / 2.0) AS BIGINT)"))
        .selectExpr("x AS median_x", "n_hours")
    )
    dev = hourly.crossJoin(F.broadcast(med)).selectExpr(
        "h", "ABS(x - median_x) AS d", "median_x", "n_hours"
    )
    w2 = Window.orderBy("d", "h")
    return (
        dev.withColumn("rn", F.row_number().over(w2).cast("bigint"))
        .filter(F.expr("rn = CAST(FLOOR((n_hours + 1) / 2.0) AS BIGINT)"))
        .selectExpr("n_hours", "median_x", "d AS mad")
    )


def closeness_roads(spark, sf_dir):
    """Closeness centrality of the top-5 road-graph hubs: MULTI-SOURCE
    BFS — one frontier carrying a seed label, so all 5 sources expand
    in the SAME per-round equi-join (5x the rows, not 5x the rounds);
    per round: frontier ⋈ edges + distinct + composite-key anti-join
    against visited, localCheckpointed (gotcha 15).  Closeness =
    (reached - 1) / sum(hops) in FLOOR micros.  Oracle: DuckDB
    recursive CTE over (seed, node) pairs with MIN(hops) dedup — the
    road_graph_bfs twin generalized to a labeled walk."""
    _images, roads = _fixture_images(spark)
    edges = road_edges(roads).localCheckpoint()
    seeds = hubs(edges, 5).selectExpr("node AS seed", "node")
    # same hop bound as road_graph_bfs
    visited = bfs_hops(edges, seeds, 16, key="seed")
    return visited.groupBy("seed").agg(
        F.expr("CAST(COUNT(*) - 1 AS BIGINT) AS n_reached"),
        F.expr("CAST(SUM(hops) AS BIGINT) AS sum_hops"),
        F.expr("CAST(FLOOR(1000000.0 * (COUNT(*) - 1) / SUM(hops))"
               " AS BIGINT) AS closeness_micros"),
    )


QUERIES_R5B = {
    "recursive_order_chain": recursive_order_chain,
    "unpivot_order_metrics": unpivot_order_metrics,
    "zipf_word_slope": zipf_word_slope,
    "hits_roads": hits_roads,
    "ams_f2_sketch": ams_f2_sketch,
    "events_theil_sen": events_theil_sen,
    "collation_token_dedup": collation_token_dedup,
    "param_sql_revenue": param_sql_revenue,
    "pca_power_iteration": pca_power_iteration,
    "scd2_user_state": scd2_user_state,
    "events_mad": events_mad,
    "closeness_roads": closeness_roads,
}
