"""Round-5 wave 6: rank/nonparametric statistics (Spearman rho,
Wald-Wolfowitz runs test, Kruskal-Wallis), text-curation signals
(Flesch readability, Gopher-style repetition), and two geometry
operators (polygon shoelace centroids, bounded directed Hausdorff).

Parity rules as everywhere (CLAUDE.md gotchas 7/8): money and values
fold as exact BIGINT cents/mils; midranks are kept at 2x scale so
ties stay integer (2r = 2*RANK() + ties - 1); the only float ops on
oracle-checked paths are + - * / sqrt floor over identical expression
text; shoelace folds run as RUNNING WINDOWS in ring-edge order (the
country_areas precedent — partial aggregation would reassociate the
doubles).

Registered into queries.QUERIES via QUERIES_R5C.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .qcommon import (
    _t,
    _drain_confs,
    _drain_dirs,
    _fixture_images,
    _pin_batch_order,
)
from .graph import hubs, road_edges
from .queries_image import (
    image_tpi_tri,
    image_flow_length,
    image_box_downscale,
    image_median3,
)

_TS_US = "unix_micros(CAST(ts AS TIMESTAMP))"
_HOUR_US = 3_600_000_000


# ---------------------------------------------------------------------------
# Spearman rank correlation (hourly view-vs-click spend series)
# ---------------------------------------------------------------------------

# 2x-scaled midrank: integer-exact under ties (2r = 2*minrank + t - 1).
_R2 = "2 * RANK() OVER (ORDER BY {col}) + COUNT(*) OVER (PARTITION BY {col}) - 1"

# rho = 1 - 6*sum(d^2) / (n(n^2-1)); with d at 2x scale sum(d2^2) = 4*sum(d^2)
# so the micro-scaled statistic is one shared float division + FLOOR.
# Explicit CAST AS DOUBLE on an operand of every term: Spark parses
# decimal-point literals as DECIMAL (not double), and a decimal chain
# rounds at a different scale than DuckDB's doubles — FLOOR flips at
# the boundary (measured on events_forecast_ols: 160 rows off by 1).
_RHO_MICROS = (
    "CAST(FLOOR(1000000.0 - (1500000.0 * CAST(sum_d2_sq AS DOUBLE))"
    " / (CAST(n_hours AS DOUBLE) * (n_hours * n_hours - 1))) AS BIGINT)"
)


def events_spearman(spark, sf_dir):
    """SPEARMAN RANK CORRELATION between the hourly 'view' and 'click'
    spend series — the monotone-association twin of events_regression's
    Pearson OLS.  Midranks are exact BIGINTs at 2x scale (2r =
    2*RANK() + ties - 1, the AUC midrank identity), d = r2x - r2y stays
    integer, and rho lands in micros via ONE shared FLOOR division
    (sum d2^2 = 4 sum d^2 folds into the 6/(n(n^2-1)) constant).

    Plan shape: ONE map-side-combinable hash agg reduces events to the
    observed-hour series (length ∝ time span, never rows); the two
    ranking windows run over that tiny series.  Only hours where both
    series are observed enter (spec'd identically in the oracle).
    """
    hourly = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click"))
        .selectExpr(
            f"CAST(FLOOR({_TS_US} / {_HOUR_US}) AS BIGINT) AS h",
            "event_type",
            "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("h")
        .agg(
            F.sum(F.expr("CASE WHEN event_type = 'view' THEN cents END"))
            .alias("xv"),
            F.sum(F.expr("CASE WHEN event_type = 'click' THEN cents END"))
            .alias("xc"),
        )
        .filter("xv IS NOT NULL AND xc IS NOT NULL")
    )
    ranked = hourly.selectExpr(
        "h",
        f"{_R2.format(col='xv')} AS r2v",
        f"{_R2.format(col='xc')} AS r2c",
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.expr("(r2v - r2c) * (r2v - r2c)")).alias("sum_d2_sq"),
    ).selectExpr("n_hours", "sum_d2_sq", f"{_RHO_MICROS} AS rho_micros")


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test (randomness of hourly count deltas)
# ---------------------------------------------------------------------------

# z = (R - mu)/sigma with mu = 1 + 2ab/n, var = 2ab(2ab-n)/(n^2(n-1));
# a=n_pos, b=n_neg, n=a+b.  Exact integers in, one shared float chain out.
_RUNS_Z = (
    "CAST(FLOOR(1000000.0 * (CAST(n_runs AS DOUBLE)"
    " - (1.0 + 2.0 * CAST(n_pos AS DOUBLE) * n_neg / (n_pos + n_neg)))"
    " / SQRT(2.0 * CAST(n_pos AS DOUBLE) * n_neg"
    " * (2.0 * CAST(n_pos AS DOUBLE) * n_neg - (n_pos + n_neg))"
    " / (CAST(n_pos + n_neg AS DOUBLE) * (n_pos + n_neg)"
    " * (n_pos + n_neg - 1)))) AS BIGINT)"
)


def events_runs_test(spark, sf_dir):
    """WALD-WOLFOWITZ RUNS TEST on the sign sequence of hour-to-hour
    count deltas — the nonparametric randomness check of a monitoring
    pipeline (too few runs = trending, too many = oscillating).  Signs
    come from a lag window over consecutive OBSERVED hours; zero deltas
    are excluded (the classical treatment, spec'd identically in the
    oracle).  R, n_pos, n_neg are exact integers; z lands in micros via
    one shared + - * / sqrt floor chain.

    Plan shape: one hash agg to the hourly series, two lag windows over
    that tiny series, one global fold.  Nothing after the first agg
    scales with rows."""
    hourly = (
        _t(spark, sf_dir, "events")
        .selectExpr(f"CAST(FLOOR({_TS_US} / {_HOUR_US}) AS BIGINT) AS h")
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    w = Window.orderBy("h")
    signs = (
        hourly.withColumn("d", F.col("x") - F.lag("x").over(w))
        .filter("d IS NOT NULL AND d <> 0")
        .selectExpr("h", "CASE WHEN d > 0 THEN 1 ELSE -1 END AS s")
    )
    runs = signs.withColumn(
        "new_run",
        F.expr(
            "CASE WHEN LAG(s) OVER (ORDER BY h) IS NULL THEN 1 "
            "WHEN s <> LAG(s) OVER (ORDER BY h) THEN 1 ELSE 0 END"
        ),
    )
    return runs.agg(
        F.sum(F.expr("CASE WHEN s = 1 THEN 1 ELSE 0 END")).alias("n_pos"),
        F.sum(F.expr("CASE WHEN s = -1 THEN 1 ELSE 0 END")).alias("n_neg"),
        F.sum("new_run").alias("n_runs"),
    ).selectExpr("n_pos", "n_neg", "n_runs", f"{_RUNS_Z} AS z_micros")


# ---------------------------------------------------------------------------
# Kruskal-Wallis H across event types (global midranks, DECIMAL(38) squares)
# ---------------------------------------------------------------------------

def events_kruskal(spark, sf_dir):
    """KRUSKAL-WALLIS H test of value distributions across event types
    — the k-group extension of the AUC/Mann-Whitney machinery.  Global
    midranks at 2x scale come from the SAME two-level technique as
    events_auc: the windowed relation is the DISTINCT cents scores
    (bounded by value resolution), never the rows; per-row 2r = 2*cum_lt
    + t + 1 attaches back by an equi-join on the score.  H uses the
    DEVIATION form H = 3/(N(N+1)) * sum_g dev_g^2/n_g with dev_g =
    R2_g - n_g*(N+1) (exact BIGINT — the 2x-scaled gap between the
    group's rank sum and its null expectation, which stays small where
    the raw rank sum would square past int64); each group's term is
    FLOORed to BIGINT micros through a shared + * / floor chain and the
    cross-group fold is an exact integer SUM (gotcha 8 — never a
    multi-row double sum).  Tie correction 1 - sum(t^3-t)/(N^3-N) is
    reported separately in micros so the uncorrected H stays headline.

    Plan shape: one hash agg to (score, type) cells, one window over
    distinct scores, one broadcast fold.  Nothing after the first agg
    is proportional to events."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_type AS g",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v",
    )
    cells = ev.groupBy("v", "g").agg(F.count(F.lit(1)).alias("c"))
    scores = cells.groupBy("v").agg(F.sum("c").alias("t"))
    wcum = (
        Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    )
    r2 = scores.withColumn(
        "cum_lt", F.coalesce(F.sum("t").over(wcum), F.lit(0))
    ).selectExpr("v", "t", "2 * cum_lt + t + 1 AS r2")
    grp = (
        cells.join(r2.select("v", "r2"), "v")
        .groupBy("g")
        .agg(
            F.sum("c").alias("n_g"),
            F.sum(F.expr("c * r2")).alias("r2_g"),
        )
    )
    tot = r2.agg(
        F.sum("t").alias("n"),
        F.sum(F.expr("t * t * t - t")).alias("tie_sum"),
    )
    # FLOOR-per-group micro term (shared chain text with the oracle):
    # dev_g exact BIGINT, then ONE double chain + FLOOR per group.
    per_g = grp.crossJoin(F.broadcast(tot)).selectExpr(
        "g", "n_g", "n", "tie_sum",
        "r2_g - n_g * (n + 1) AS dev",
    ).selectExpr(
        "g", "n_g", "n", "tie_sum",
        "CAST(FLOOR(3000000.0 * dev * dev"
        " / (CAST(n_g AS DOUBLE) * n * (n + 1))) AS BIGINT) AS t_micros",
    )
    return per_g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.max("n").alias("n"),
        F.sum("t_micros").alias("h_micros"),
        F.max("tie_sum").alias("tie_sum"),
    ).selectExpr(
        "n_groups",
        "n",
        "h_micros",
        "CAST(FLOOR(1000000.0 - 1000000.0 * tie_sum"
        " / (CAST(n AS DOUBLE) * n * n - n)) AS BIGINT) AS tie_corr_micros",
    )


# ---------------------------------------------------------------------------
# Flesch readability (text-curation signal)
# ---------------------------------------------------------------------------

# Shared per-doc readability terms: words / vowel-group "syllables" /
# punctuation-run "sentences" (the fixture corpus has no punctuation, so
# S degenerates to 1 — the formula text is still the full spec and the
# syllable/word terms carry all the per-doc variation).  Group index 1
# explicitly: Spark defaults to 1, DuckDB to 0.
_FRE_MILS = (
    "206835 - CAST(FLOOR(1015.0 * n_words / n_sents) AS BIGINT)"
    " - CAST(FLOOR(84600.0 * n_syl / n_words) AS BIGINT)"
)
_FKG_MILS = (
    "CAST(FLOOR(390.0 * n_words / n_sents) AS BIGINT)"
    " + CAST(FLOOR(11800.0 * n_syl / n_words) AS BIGINT) - 15590"
)


def doc_readability(spark, sf_dir):
    """FLESCH READING-EASE + FLESCH-KINCAID GRADE as integer-mils
    curation signals, rolled up per language.  Syllables are the
    classic vowel-group approximation — regexp_extract_all over
    '([aeiouy]+)' (ASCII class: Java regex and RE2 agree exactly);
    sentences are punctuation runs with a GREATEST(1, ·) floor.  Both
    scores are FLOOR-per-term integer mils (shared text, gotcha 8).

    Plan shape: map-only per-doc projection (regexp count, no explode)
    followed by ONE map-side-combinable hash agg on lang — the whole
    corpus passes exactly once, no shuffle wider than the lang rollup.
    """
    docs = _t(spark, sf_dir, "documents").selectExpr(
        "lang",
        "CAST(size(regexp_extract_all(text, '([A-Za-z]+)', 1)) AS BIGINT)"
        " AS n_words",
        "CAST(size(regexp_extract_all(lower(text), '([aeiouy]+)', 1))"
        " AS BIGINT) AS n_syl",
        "GREATEST(CAST(1 AS BIGINT), "
        "CAST(size(regexp_extract_all(text, '([.!?]+)', 1)) AS BIGINT))"
        " AS n_sents",
    ).filter("n_words > 0")
    scored = docs.selectExpr(
        "lang", f"{_FRE_MILS} AS fre_mils", f"{_FKG_MILS} AS fkg_mils"
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("fre_mils").alias("sum_fre_mils"),
        F.min("fre_mils").alias("min_fre_mils"),
        F.max("fre_mils").alias("max_fre_mils"),
        F.sum("fkg_mils").alias("sum_fkg_mils"),
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition signals (text-curation)
# ---------------------------------------------------------------------------

def doc_repetition(spark, sf_dir):
    """GOPHER-STYLE REPETITION signals: per-doc top-bigram share and
    duplicate-bigram fraction (integer mils), rolled up per language
    with a repetitive-doc count at the 100-mils threshold — the
    repetition filter of an LLM curation pipeline (Rae et al. 2021
    n-gram fraction family).  Bigrams come from ONE posexplode + lead
    window on (doc_id, pos) — no per-element re-split (gotcha 16b).

    Plan shape: explode -> (doc_id, bigram) hash agg -> doc_id hash agg
    -> lang rollup; every stage is map-side combinable and the widest
    key is (doc_id, bigram) — no vocabulary-global window anywhere.
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    words = docs.select(
        "doc_id", "lang",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        words.withColumn("w2", F.lead("w").over(wd))
        .filter(F.col("w2").isNotNull())
        .selectExpr("doc_id", "lang", "concat(w, ' ', w2) AS bg")
    )
    per_bg = bg.groupBy("doc_id", "lang", "bg").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = per_bg.groupBy("doc_id", "lang").agg(
        F.sum("c").alias("n_bg"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("max_c"),
    ).selectExpr(
        "doc_id", "lang", "n_bg",
        "(1000 * max_c) DIV n_bg AS top_share_mils",
        "(1000 * (n_bg - n_distinct)) DIV n_bg AS dup_mils",
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.expr("CASE WHEN top_share_mils >= 100 THEN 1 ELSE 0 END"))
        .alias("n_repetitive"),
        F.sum("top_share_mils").alias("sum_top_mils"),
        F.sum("dup_mils").alias("sum_dup_mils"),
        F.sum("n_bg").alias("sum_bigrams"),
    )


# ---------------------------------------------------------------------------
# Polygon shoelace centroids (identical template text in both engines)
# ---------------------------------------------------------------------------

CENTROID_SQL = """
WITH e AS (SELECT * FROM {edges}),
t AS (
  SELECT country_code, i,
         x0 * y1 - x1 * y0 AS cr,
         (x0 + x1) * (x0 * y1 - x1 * y0) AS cxn,
         (y0 + y1) * (x0 * y1 - x1 * y0) AS cyn
  FROM e
),
run AS (
  SELECT country_code, i,
         SUM(cr) OVER (PARTITION BY country_code ORDER BY i
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ra,
         SUM(cxn) OVER (PARTITION BY country_code ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rx,
         SUM(cyn) OVER (PARTITION BY country_code ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ry,
         ROW_NUMBER() OVER (PARTITION BY country_code ORDER BY i DESC) AS rn
  FROM t
)
SELECT country_code,
       CAST(FLOOR(1000000.0 * rx / (3.0 * ra)) AS BIGINT) AS cx_microdeg,
       CAST(FLOOR(1000000.0 * ry / (3.0 * ra)) AS BIGINT) AS cy_microdeg
FROM run WHERE rn = 1
"""


def country_centroids(spark, sf_dir):
    """POLYGON CENTROIDS of the country rings via the shoelace-weighted
    formula C = sum((v_i + v_{i+1}) * cross_i) / (3 * 2A) — the label
    point / zonal anchor next to country_areas' area+perimeter.  Float
    parity by construction (the country_areas precedent): BOTH engines
    evaluate the identical VALUES literal and the identical RUNNING
    WINDOW fold in ring-edge order (partial aggregation would
    reassociate the doubles); * - + / and one FLOOR only."""
    from .harness import edges_values_sql_indexed

    return spark.sql(CENTROID_SQL.format(edges=edges_values_sql_indexed()))


# ---------------------------------------------------------------------------
# Directed Hausdorff distance for cell-blocked road pairs
# ---------------------------------------------------------------------------

# Shared quantize: exact micro-degree BIGINTs before ANY distance math,
# so every squared distance is integer in both engines.
_VX = "CAST(FLOOR({c}.x * 1000000) AS BIGINT)"
_VY = "CAST(FLOOR({c}.y * 1000000) AS BIGINT)"


def roads_hausdorff(spark, sf_dir):
    """DIRECTED HAUSDORFF distance h(A -> B) = max_a min_b |a - b| for
    road pairs whose FIRST vertices share a 0.1-degree cell — the
    geometry-similarity operator of a conflation pipeline (is candidate
    A the same road as B?).  Coordinates quantize to micro-degree
    BIGINTs BEFORE any distance math, so the max-min runs entirely on
    exact integer squared distances; one FLOOR(SQRT(·)) at the end.

    Plan shape: the pair candidates come from a CELL-BLOCKED self-join
    (never all-pairs — the road_intersections bucketing argument); the
    vertex fanout per pair is |A| x |B| <= a few hundred rows, grouped
    twice (min over B per a-vertex, then max over a-vertices).  The
    blocking key is COALESCE-wrapped (gotcha 11)."""

    _images, roads = _fixture_images(spark)
    first = roads.selectExpr(
        "road_id",
        "COALESCE(CAST(FLOOR(coords[0].x * 10) AS BIGINT) * 100000 "
        "+ CAST(FLOOR(coords[0].y * 10) AS BIGINT), -1) AS cell",
    )
    verts = roads.selectExpr(
        "road_id", "posexplode(coords) AS (i, c)"
    ).selectExpr(
        "road_id", "i",
        f"{_VX.format(c='c')} AS x",
        f"{_VY.format(c='c')} AS y",
    )
    pairs = (
        first.selectExpr("road_id AS ra", "cell")
        .join(first.selectExpr("road_id AS rb", "cell"), "cell")
        .filter("ra < rb")
        .select("ra", "rb")
    )
    av = pairs.join(
        verts.selectExpr("road_id AS ra", "i AS ai", "x AS ax", "y AS ay"),
        "ra",
    )
    ab = av.join(
        verts.selectExpr("road_id AS rb", "x AS bx", "y AS by"), "rb"
    ).selectExpr(
        "ra", "rb", "ai",
        "(ax - bx) * (ax - bx) + (ay - by) * (ay - by) AS dsq",
    )
    minb = ab.groupBy("ra", "rb", "ai").agg(F.min("dsq").alias("min_dsq"))
    return minb.groupBy("ra", "rb").agg(
        F.count(F.lit(1)).alias("n_a"),
        F.max("min_dsq").alias("h_sq"),
    ).selectExpr(
        "ra", "rb", "n_a", "h_sq",
        "CAST(FLOOR(SQRT(CAST(h_sq AS DOUBLE))) AS BIGINT) AS h_micro",
    )


# ---------------------------------------------------------------------------
# Terrain kernels (golden-oracle-checked, map-only)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Bounded DTW (dynamic time warping) between daily event-type series
# ---------------------------------------------------------------------------

_DTW_DAYS = 28
_DTW_BAND = 3
_DAY_US = 86_400_000_000


def events_dtw(spark, sf_dir):
    """DYNAMIC TIME WARPING distance between each event type's daily
    cents series and the 'view' baseline — the shape-similarity metric
    of a time-series pipeline (is the purchase curve a lagged copy of
    the view curve?).  Classic band-limited DTW: Sakoe-Chiba band 3,
    first _DTW_DAYS days from the corpus min (both bounds are the
    SPEC, mirrored in the oracle), costs |a_i - b_j| in exact cents so
    the min-plus DP is pure BIGINT — parity is exact.

    Plan shape: ONE map-side-combinable hash agg reduces events to the
    (type, day) grid; series assemble as bounded arrays (length <= 28
    by construction); the DP runs as an Arrow-batched kernel over the
    4-row pair table — per-pair work is O(days * band), independent of
    corpus size.  Oracle: a GENUINELY DIFFERENT algorithm — the DTW
    lattice as a shortest-path DAG, Bellman-Ford unrolled 54 rounds
    with zero-weight self-loop moves (single back-reference per round,
    the shortest_path_weighted technique)."""
    import pandas as pd

    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_type AS t",
        f"CAST(FLOOR({_TS_US} / {_DAY_US}) AS BIGINT) AS day",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
    )
    st = ev.agg(F.min("day").alias("d0"))
    dd = (
        ev.crossJoin(F.broadcast(st))
        .agg(F.expr(
            f"LEAST({_DTW_DAYS}, CAST(MAX(day - d0) AS INT) + 1) AS nd"
        ))
    )
    daily = (
        ev.crossJoin(F.broadcast(st))
        .selectExpr("t", "day - d0 AS d", "cents")
        .filter(f"d < {_DTW_DAYS}")
        .groupBy("t", "d")
        .agg(F.sum("cents").alias("v"))
    )
    grid = (
        daily.select("t").distinct()
        .crossJoin(F.broadcast(dd))
        .selectExpr("t", "explode(sequence(0, nd - 1)) AS d")
        .join(daily, ["t", "d"], "left")
        .selectExpr("t", "d", "COALESCE(v, CAST(0 AS BIGINT)) AS v")
    )
    arrs = grid.groupBy("t").agg(F.expr(
        "transform(sort_array(collect_list(struct(d, v))), s -> s.v) AS vs"
    ))
    base = arrs.filter("t = 'view'").selectExpr("vs AS bs")
    pairs = arrs.filter("t <> 'view'").crossJoin(F.broadcast(base))

    def _dp(batches):
        inf = 1 << 62
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = [int(x) for x in r.vs]
                b = [int(x) for x in r.bs]
                n = len(a)
                dpt = [[inf] * n for _ in range(n)]
                for i in range(n):
                    lo = max(0, i - _DTW_BAND)
                    hi = min(n, i + _DTW_BAND + 1)
                    for j in range(lo, hi):
                        c = abs(a[i] - b[j])
                        if i == 0 and j == 0:
                            best = 0
                        else:
                            best = min(
                                dpt[i - 1][j] if i else inf,
                                dpt[i][j - 1] if j else inf,
                                dpt[i - 1][j - 1] if i and j else inf,
                            )
                        dpt[i][j] = c + best
                rows.append((r.t, n, dpt[n - 1][n - 1]))
            yield pd.DataFrame(
                rows, columns=["event_type", "n_days", "dtw_cost"]
            )

    return pairs.mapInPandas(
        _dp, "event_type string, n_days int, dtw_cost bigint"
    )


# ---------------------------------------------------------------------------
# Brandes betweenness centrality (integer-floor dependency accumulation)
# ---------------------------------------------------------------------------

_BC_HOPS = 12
_BC_SEEDS = 5


def betweenness_roads(spark, sf_dir):
    """BETWEENNESS CENTRALITY (Brandes) from the top-5 max-degree
    seeds over the quantized road graph — the bridge-detection metric
    completing the centrality family (PageRank / HITS / closeness).
    Forward phase: layered BFS carrying sigma (shortest-path counts,
    exact BIGINT sums over hop-(d-1) predecessors).  Backward phase:
    dependency accumulation kept INTEGER by flooring each edge term —
    delta_v += (sigma_v * (1e6 + delta_w)) DIV sigma_w — so every fold
    is an exact BIGINT sum (gotcha 8; the float Brandes recurrence
    would reassociate).  Hop cap 12 = the round bound (iteration count
    fixed by spec, not data — the shortest_path_weighted argument).

    Plan shape: per-round equi-joins on the frontier only,
    localCheckpointed (gotcha 15); the backward pass joins adjacent
    LAYERS (each a fraction of the graph), never all-pairs; final
    ranking window runs over the node-bounded centrality table.
    Oracle: the identical recurrence as a generated linear CTE chain
    (single back-reference per round, MATERIALIZED multi-referenced
    bases — the label_propagation/shortest_path pattern)."""
    _images, roads = _fixture_images(spark)
    edges = road_edges(roads).localCheckpoint()
    seeds = hubs(edges, _BC_SEEDS).selectExpr("node AS seed")
    with _drain_confs(spark):
        layer = seeds.selectExpr(
            "seed", "seed AS node", "CAST(1 AS BIGINT) AS sigma"
        ).localCheckpoint()
        visited = layer.select("seed", "node").localCheckpoint()
        layers = [layer]
        for _d in range(1, _BC_HOPS + 1):
            nxt = (
                layer.join(edges, layer.node == edges.src)
                .groupBy("seed", "dst")
                .agg(F.sum("sigma").alias("sigma"))
                .withColumnRenamed("dst", "node")
                .join(visited, ["seed", "node"], "left_anti")
                .localCheckpoint()
            )
            if nxt.isEmpty():
                break
            visited = visited.unionByName(
                nxt.select("seed", "node")
            ).localCheckpoint()
            layer = nxt
            layers.append(nxt)
        # backward dependency accumulation, deepest layer first (delta 0)
        delta = layers[-1].withColumn("delta", F.lit(0).cast("long"))
        acc = [] if len(layers) == 1 else [delta]
        for d in range(len(layers) - 2, 0, -1):
            contrib = (
                layers[d].alias("v")
                .join(edges, F.col("v.node") == edges.src)
                .join(
                    delta.selectExpr(
                        "seed AS wseed", "node AS wnode", "sigma AS wsigma",
                        "delta AS wdelta",
                    ),
                    (F.col("v.seed") == F.col("wseed"))
                    & (F.col("dst") == F.col("wnode")),
                )
                .selectExpr(
                    "v.seed AS seed", "v.node AS node",
                    "(v.sigma * (1000000 + wdelta)) DIV wsigma AS term",
                )
                .groupBy("seed", "node")
                .agg(F.sum("term").alias("dsum"))
            )
            delta = (
                layers[d]
                .join(contrib, ["seed", "node"], "left")
                .selectExpr(
                    "seed", "node", "sigma",
                    "COALESCE(dsum, CAST(0 AS BIGINT)) AS delta",
                )
                .localCheckpoint()
            )
            acc.append(delta)
    if not acc:
        return spark.createDataFrame(
            [], "rk int, node bigint, bc_micros bigint, n_seeds bigint"
        )
    alld = acc[0]
    for df in acc[1:]:
        alld = alld.unionByName(df)
    bc = alld.groupBy("node").agg(
        F.sum("delta").alias("bc_micros"),
        F.count(F.lit(1)).alias("n_seeds"),
    )
    wr = Window.orderBy(F.col("bc_micros").desc(), "node")
    return (
        bc.withColumn("rk", F.row_number().over(wr).cast("int"))
        .filter("rk <= 10")
        .select("rk", "node", "bc_micros", "n_seeds")
    )


# Rolling-OLS one-step forecast: shared integer window sums (k = 12
# trailing hours), closed-form line fit, FLOOR-per-row micro forecast.
_FC_K = 12
_FC_SI = _FC_K * (_FC_K + 1) // 2
_FC_SII = _FC_K * (_FC_K + 1) * (2 * _FC_K + 1) // 6
_FC_DET = _FC_K * _FC_SII - _FC_SI * _FC_SI
# forecast at i = k+1: f = sx/k + b*(k+1 - si/k) with b = (k*six -
# si*sx)/det — ONE double chain + FLOOR, text shared with the oracle
_FC_MICROS = (
    f"CAST(FLOOR(1000000.0 * (CAST(sx AS DOUBLE) / {_FC_K}.0"
    f" + CAST({_FC_K} * six - {_FC_SI} * sx AS DOUBLE)"
    f" * ({_FC_K + 1} - {_FC_SI} / {_FC_K}.0)"
    f" / {_FC_DET}.0)) AS BIGINT)"
)

# shared analytic-function block (identical window text in both
# engines; o_orderkey tiebreak makes NTILE bucket boundaries a TOTAL
# order — cents ties would otherwise split buckets engine-dependently)
_RANK_EXPRS = (
    "CAST(FLOOR(1000000.0 * PERCENT_RANK() OVER "
    "(PARTITION BY st ORDER BY cents, o_orderkey)) AS BIGINT) AS pr_micros",
    "CAST(FLOOR(1000000.0 * CUME_DIST() OVER "
    "(PARTITION BY st ORDER BY cents, o_orderkey)) AS BIGINT) AS cd_micros",
    "CAST(NTILE(4) OVER (PARTITION BY st ORDER BY cents, o_orderkey)"
    " AS INT) AS quartile",
)


def events_forecast_ols(spark, sf_dir):
    """ROLLING-REGRESSION FORECAST BACKTEST: at every hour, fit an OLS
    line to the previous 12 observed hours (rolling BIGINT sums — n,
    sum i, sum i^2, sum x, sum i*x over the window), forecast one step
    ahead in closed form, and score the backtest against both the
    naive last-value forecast (MAE ratio in mils).  With the regular
    i = 1..k index the normal equations have integer determinant, so
    the per-row forecast is ONE double chain + FLOOR (shared text);
    the MAEs fold as exact BIGINT micro sums.

    Plan shape: one hash agg to the hourly series; two lag-window
    passes over that tiny series (windowed relation = observed hours,
    never rows); one global fold."""
    hourly = (
        _t(spark, sf_dir, "events")
        .selectExpr(f"CAST(FLOOR({_TS_US} / {_HOUR_US}) AS BIGINT) AS h")
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    k = _FC_K
    w = Window.orderBy("h").rowsBetween(-k, -1)
    wl = Window.orderBy("h")
    # regular index i = 1..k over the trailing window: sums of i and
    # i^2 are constants; sum_x and sum_ix come from the lag columns
    lags = hourly.select(
        "h", "x",
        *[F.lag("x", j).over(wl).alias(f"x{j}") for j in range(1, k + 1)],
    ).filter(f"x{k} IS NOT NULL")
    # x{j} is the value j hours back -> index i = k + 1 - j
    sum_x = " + ".join(f"x{j}" for j in range(1, k + 1))
    sum_ix = " + ".join(f"{k + 1 - j} * x{j}" for j in range(1, k + 1))
    fc = lags.selectExpr(
        "h", "x", "x1",
        f"({sum_x}) AS sx",
        f"({sum_ix}) AS six",
    ).selectExpr(
        "h", "x",
        f"{_FC_MICROS} AS fc_micros",
        "x1 * 1000000 AS naive_micros",
    )
    return fc.agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.expr("ABS(x * 1000000 - fc_micros)")).alias("mae_ols_micros"),
        F.sum(F.expr("ABS(x * 1000000 - naive_micros)"))
        .alias("mae_naive_micros"),
    ).selectExpr(
        "n_obs", "mae_ols_micros", "mae_naive_micros",
        "CAST(FLOOR(1000.0 * CAST(mae_ols_micros AS DOUBLE)"
        " / mae_naive_micros) AS BIGINT) AS mase_mils",
    )


def orders_rank_functions(spark, sf_dir):
    """ANALYTIC-FUNCTION BREADTH: percent_rank / cume_dist / ntile
    over order prices within status — the remaining ranking-family
    surface next to window_top3/skyline.  Both engines evaluate the
    identical window text; the float percent_rank/cume_dist snap to
    micros per row (FLOOR, gotcha 8) before the integer rollup."""
    orders = _t(spark, sf_dir, "orders")
    ranked = orders.selectExpr(
        "o_orderstatus AS st",
        "o_orderkey",
        "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
    ).selectExpr("st", "cents", *_RANK_EXPRS)
    return ranked.groupBy("st", "quartile").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sum_cents"),
        F.sum("pr_micros").alias("sum_pr_micros"),
        F.sum("cd_micros").alias("sum_cd_micros"),
    )


def roads_resample_points(spark, sf_dir):
    """POLYLINE RESAMPLING at fixed arc-length fractions t = k/8,
    k = 1..7 (dynamic segmentation — the generalization of
    route_interpolate's midpoint): the same sequential running-sum
    fold (gotcha 8), one half-open segment pick PER TARGET via an
    explode over k, micro-unit snap at the end.  Only + - * / sqrt on
    the float path; `total * k / 8.0` keeps the chain double-first
    (gotcha 17: total is a DOUBLE sqrt sum before any literal joins).

    Plan shape: one hash exchange on road_id (the windows), a 7x
    explode on the segment rows, one filtered projection; per-(kind,k)
    rollup keeps the compare tiny."""

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
    picks = (
        seg.withColumn("cum", F.sum("slen").over(wcum))
        .withColumn("start", F.expr("cum - slen"))
        .withColumn("total", F.max("cum").over(wall))
        .selectExpr("*", "explode(sequence(1, 7)) AS k")
        .filter(F.expr(
            "total > 0 AND start <= total * k / 8.0"
            " AND total * k / 8.0 < cum"
        ))
        .selectExpr(
            "kind", "CAST(k AS INT) AS k",
            "CAST(FLOOR((x + ((total * k / 8.0 - start) / slen)"
            " * (x2 - x)) * 1000000 + 0.5) AS BIGINT) AS ux",
            "CAST(FLOOR((y + ((total * k / 8.0 - start) / slen)"
            " * (y2 - y)) * 1000000 + 0.5) AS BIGINT) AS uy",
        )
    )
    return picks.groupBy("kind", "k").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("ux").alias("sum_ux"),
        F.sum("uy").alias("sum_uy"),
    )


def orders_abc_analysis(spark, sf_dir):
    """ABC / PARETO CLASSIFICATION of brands by revenue — the
    inventory-management classic (A = first 80% of cumulative revenue,
    B = next 15%, C = tail), kept ALL-INTEGER by cross-multiplying the
    cumulative share against the grand total (cum_before * 100 <
    total * 80 — no float share ever materializes).  Ranking and the
    running sum are windows over the BRAND-sized relation (bounded by
    the catalog, never by lineitem).

    Plan shape: fact-table hash agg on brand (map-side combinable),
    broadcast total, one brand-sized window, 3-row rollup."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                li.l_partkey == part.p_partkey)
        .selectExpr(
            "p_brand",
            "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("p_brand")
        .agg(F.sum("cents").alias("rev"))
    )
    w = Window.orderBy(F.col("rev").desc(), "p_brand")
    wc = w.rowsBetween(Window.unboundedPreceding, -1)
    classed = rev.select(
        "p_brand", "rev",
        F.coalesce(F.sum("rev").over(wc), F.lit(0)).alias("cum_before"),
        F.sum("rev").over(
            Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
        ).alias("total"),
    ).selectExpr(
        "p_brand", "rev",
        "CASE WHEN cum_before * 100 < total * 80 THEN 'A' "
        "WHEN cum_before * 100 < total * 95 THEN 'B' ELSE 'C' END AS abc",
    )
    return classed.groupBy("abc").agg(
        F.count(F.lit(1)).alias("n_brands"),
        F.sum("rev").alias("sum_cents"),
    )


# Markov stationary distribution: integer power method over the
# event-type transition matrix, micros state, FLOOR per term (the
# pagerank recipe on the 5-type chain).
_MK_ROUNDS = 8


def events_markov_stationary(spark, sf_dir):
    """STATIONARY DISTRIBUTION of the per-user event-type Markov chain
    — the long-run state mix implied by event_transitions' counts:
    integer power method, pi'(j) = sum_i FLOOR(pi(i) * c_ij / r_i)
    over micros states (FLOOR per term is the spec, mirrored exactly),
    8 fixed rounds from the uniform start.  The chain itself is the
    (prev, next) lag-window histogram; everything after the first agg
    runs on the TYPE x TYPE table (25 rows at any scale).

    Plan shape: one lag window on user_id, one hash agg, then 8
    25-row joins (localCheckpointed — gotcha 15); oracle is the
    identical recurrence as an unrolled linear CTE chain."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "user_id", "event_type AS t", f"{_TS_US} AS us", "event_id"
    )
    wo = Window.partitionBy("user_id").orderBy("us", "event_id")
    trans = (
        ev.withColumn("nxt", F.lead("t").over(wo))
        .filter("nxt IS NOT NULL")
        .groupBy("t", "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    rowsum = trans.groupBy("t").agg(F.sum("c").alias("r"))
    tm = trans.join(rowsum, "t").localCheckpoint()
    with _drain_confs(spark):
        pi = rowsum.selectExpr(
            "t AS s", "CAST(1000000 DIV 5 AS BIGINT) AS pi"
        ).localCheckpoint()
        for _ in range(_MK_ROUNDS):
            pi = (
                tm.join(pi, tm.t == pi.s)
                .selectExpr("nxt AS s2", "(pi * c) DIV r AS term")
                .groupBy("s2")
                .agg(F.sum("term").alias("pi"))
                .selectExpr("s2 AS s", "pi")
                .localCheckpoint()
            )
    return pi.selectExpr("s AS event_type", "pi AS pi_micros")


# ---------------------------------------------------------------------------
# Discrete Fréchet distance (order-aware conflation similarity)
# ---------------------------------------------------------------------------

def roads_frechet(spark, sf_dir):
    """DISCRETE FRECHET DISTANCE for the same cell-blocked road pairs
    as roads_hausdorff — the ORDER-AWARE conflation similarity (the
    dog-leash metric): F(i,j) = max(d_ij, min(F(i-1,j), F(i,j-1),
    F(i-1,j-1))) over micro-quantized integer SQUARED distances (the
    minimax value is order-preserved under squaring; one FLOOR(SQRT)
    at the end).  Engine: Arrow-batched DP kernel per pair (vertex
    counts are bounded, so per-pair work is O(|A| * |B|)).  Oracle: a
    GENUINELY DIFFERENT algorithm — minimax shortest path on the pair
    lattice, Bellman-relaxed with MATERIALIZED unrolled rounds and
    self-loop moves (the events_dtw technique with a max-min
    semiring)."""
    import pandas as pd

    _images, roads = _fixture_images(spark)
    first = roads.selectExpr(
        "road_id",
        "COALESCE(CAST(FLOOR(coords[0].x * 10) AS BIGINT) * 100000 "
        "+ CAST(FLOOR(coords[0].y * 10) AS BIGINT), -1) AS cell",
    )
    qc = (
        "transform(coords, c -> struct("
        "CAST(FLOOR(c.x * 1000000) AS BIGINT) AS x, "
        "CAST(FLOOR(c.y * 1000000) AS BIGINT) AS y))"
    )
    qroads = roads.selectExpr("road_id", f"{qc} AS q")
    pairs = (
        first.selectExpr("road_id AS ra", "cell")
        .join(first.selectExpr("road_id AS rb", "cell"), "cell")
        .filter("ra < rb")
        .join(qroads.selectExpr("road_id AS ra", "q AS qa"), "ra")
        .join(qroads.selectExpr("road_id AS rb", "q AS qb"), "rb")
        .select("ra", "rb", "qa", "qb")
    )

    def _dp(batches):
        inf = 1 << 62
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = [(int(p["x"]), int(p["y"])) for p in r.qa]
                b = [(int(p["x"]), int(p["y"])) for p in r.qb]
                na, nb = len(a), len(b)
                dpt = [[inf] * nb for _ in range(na)]
                for i in range(na):
                    for j in range(nb):
                        d = ((a[i][0] - b[j][0]) ** 2
                             + (a[i][1] - b[j][1]) ** 2)
                        if i == 0 and j == 0:
                            prev = 0
                        else:
                            prev = min(
                                dpt[i - 1][j] if i else inf,
                                dpt[i][j - 1] if j else inf,
                                dpt[i - 1][j - 1] if i and j else inf,
                            )
                        dpt[i][j] = max(d, prev)  # every cell reachable
                rows.append((r.ra, r.rb, na, nb, dpt[na - 1][nb - 1]))
            yield pd.DataFrame(
                rows, columns=["ra", "rb", "n_a", "n_b", "f_sq"]
            )

    out = pairs.mapInPandas(
        _dp, "ra bigint, rb bigint, n_a int, n_b int, f_sq bigint"
    )
    return out.selectExpr(
        "ra", "rb", "n_a", "n_b", "f_sq",
        "CAST(FLOOR(SQRT(CAST(f_sq AS DOUBLE))) AS BIGINT) AS f_micro",
    )


# ---------------------------------------------------------------------------
# Ripley's K point-pattern statistic (cell-blocked pair counting)
# ---------------------------------------------------------------------------

_RK_CELL = "CAST(FLOOR({c} * 20) AS BIGINT)"  # 0.05-degree cells
_RK_RADII = (20_000, 50_000)  # micro-degrees; r_max == cell size
_RK_BOUND = 60_000  # point_id bound: constant cost at any SF
# K(r) = A * 2 * pairs / (n (n-1)) over the [0,10)^2 world (A = 100);
# L(r) = sqrt(K/pi).  One double chain per output cell (gotcha 17).
_RK_K = (
    "CAST(FLOOR(1000000.0 * 100.0 * 2.0 * CAST({p} AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * (n - 1))) AS BIGINT)"
)
_RK_L = (
    "CAST(FLOOR(1000000.0 * SQRT(100.0 * 2.0 * CAST({p} AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * (n - 1)) / 3.141592653589793)) AS BIGINT)"
)


def cells_ripley_k(spark, sf_dir):
    """RIPLEY'S K / L point-pattern statistic — the
    clustering-vs-dispersion test of spatial statistics (completes the
    family next to Moran's I and Getis-Ord): exact pair counts within
    r in {0.02, 0.05} degrees, estimated as K(r) = A*2*pairs/(n(n-1)).
    Pairs come from a CELL-BLOCKED self-join at the 0.05-degree grid
    (r_max == cell size, so the 3x3 neighborhood provably covers every
    qualifying pair — never all-pairs); coordinates quantize to
    micro-degree BIGINTs BEFORE the distance math.  The point set is
    bounded to the first 60k point ids (constant cost at any SF,
    spec'd identically in the oracle).

    Plan shape: one 9-offset explode on the (tiny, cell-bounded)
    quantized point table, one equi-join on the blocked cell, one
    map-side-combinable conditional-count agg; the blocking key is
    COALESCE-wrapped (gotcha 11)."""
    from .harness import points_df

    pts = (
        points_df(spark, sf_dir)
        .filter(f"point_id <= {_RK_BOUND}")
        .selectExpr(
            "point_id AS pid",
            "CAST(FLOOR(lon * 1000000) AS BIGINT) AS x",
            "CAST(FLOOR(lat * 1000000) AS BIGINT) AS y",
            f"COALESCE({_RK_CELL.format(c='lon')} * 1000"
            f" + {_RK_CELL.format(c='lat')}, -1) AS cell",
        )
        .localCheckpoint()  # referenced by both join sides
    )
    nb = pts.selectExpr(
        "pid AS pid2", "x AS x2", "y AS y2", "cell",
        "explode(sequence(0, 8)) AS k",
    ).selectExpr(
        "pid2", "x2", "y2",
        "cell + (k % 3 - 1) * 1000 + CAST(FLOOR(k / 3) AS BIGINT) - 1"
        " AS cell",
    )
    r2 = {r: r * r for r in _RK_RADII}
    pairs = pts.join(nb, "cell").filter("pid < pid2").selectExpr(
        "(x - x2) * (x - x2) + (y - y2) * (y - y2) AS dsq"
    )
    agg = pairs.agg(
        *[
            F.sum(F.expr(f"CASE WHEN dsq <= {rr} THEN 1 ELSE 0 END"))
            .alias(f"p{r}")
            for r, rr in r2.items()
        ]
    )
    n = pts.agg(F.count(F.lit(1)).alias("n"))
    joined = agg.crossJoin(F.broadcast(n))
    out = None
    for r in _RK_RADII:
        leg = joined.selectExpr(
            f"CAST({r} AS BIGINT) AS r_micro",
            f"p{r} AS n_pairs",
            "n",
            f"{_RK_K.format(p=f'p{r}')} AS k_micros",
            f"{_RK_L.format(p=f'p{r}')} AS l_micros",
        )
        out = leg if out is None else out.unionByName(leg)
    return out


# ---------------------------------------------------------------------------
# Deterministic bootstrap confidence interval (md5-seeded resampling)
# ---------------------------------------------------------------------------

_BS_B = 32
# 48-bit integer from md5 of (replicate, slot) — the sample_weighted
# hex->int fragment over a synthesized key string.
_BS_CHUNK = (
    "(CAST((instr('0123456789abcdef', substring(md5({key}), {a}, 1)) - 1)"
    " * 256 "
    "+ (instr('0123456789abcdef', substring(md5({key}), {b}, 1)) - 1) * 16 "
    "+ (instr('0123456789abcdef', substring(md5({key}), {c}, 1)) - 1)"
    " AS BIGINT))"
)


def _bs_h48(key: str) -> str:
    return " + ".join(
        f"({_BS_CHUNK.format(key=key, a=3 * i + 1, b=3 * i + 2, c=3 * i + 3)}"
        f" * {4096 ** (3 - i)})"
        for i in range(4)
    )


def events_bootstrap_ci(spark, sf_dir):
    """DETERMINISTIC BOOTSTRAP CI for the mean hourly event count:
    B=32 resamples of the hourly series with replacement, indices
    drawn by a 48-bit md5 hash of (replicate, slot) — content-derived,
    so the draw is identical across partitionings, runs, AND engines
    (the sample_weighted determinism argument; no RNG anywhere).  The
    interval is the 2nd-smallest / 2nd-largest replicate mean
    (~93.75% coverage at B=32, spec'd as rank picks).

    Plan shape: one hash agg to the hourly series; the B x n resample
    explode is bounded by B * observed hours (never rows); replicate
    means are exact integer DIV micros; the rank picks run over the
    32-row replicate table."""
    hourly = (
        _t(spark, sf_dir, "events")
        .selectExpr(f"CAST(FLOOR({_TS_US} / {_HOUR_US}) AS BIGINT) AS h")
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    idx = hourly.selectExpr(
        "x",
        "CAST(ROW_NUMBER() OVER (ORDER BY h) - 1 AS BIGINT) AS i",
        "CAST(COUNT(*) OVER () AS BIGINT) AS n",
    )
    key = "concat('bs', b, ':', s)"
    draws = (
        idx.selectExpr("i AS slot_i", "x", "n")
        .join(
            idx.selectExpr("i AS s", "n AS n2")
            .selectExpr("s", f"explode(sequence(0, {_BS_B - 1})) AS b")
            .selectExpr("b", "s", f"({_bs_h48(key)}) % 1000000 AS h48"),
            F.expr("slot_i = h48 % n"),
        )
        .groupBy("b")
        .agg(
            F.sum("x").alias("sum_x"),
            F.count(F.lit(1)).alias("n_slots"),
        )
        .selectExpr(
            "b", "(1000000 * sum_x) DIV n_slots AS mean_micros"
        )
    )
    ranked = draws.selectExpr(
        "mean_micros",
        "ROW_NUMBER() OVER (ORDER BY mean_micros, b) AS rk",
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_reps"),
        F.max(F.expr("CASE WHEN rk = 2 THEN mean_micros END"))
        .alias("lo_micros"),
        F.max(F.expr(f"CASE WHEN rk = {_BS_B - 1} THEN mean_micros END"))
        .alias("hi_micros"),
        F.sum("mean_micros").alias("sum_mean_micros"),
    )


# ---------------------------------------------------------------------------
# Davies-Bouldin clustering-quality index (centroid-based, O(n*k))
# ---------------------------------------------------------------------------

def embeddings_davies_bouldin(spark, sf_dir):
    """DAVIES-BOULDIN INDEX of the embeddings' labeled clustering —
    the clustering-quality eval next to kmeans and the ANN recall
    evals, chosen over silhouette because it is CENTROID-based
    (O(n*k) — no pairwise matrix at any scale).  Components quantize
    to mils BIGINTs; centroids are integer DIV means; scatters S_i and
    centroid separations M_ij are FLOOR(SQRT(exact int64 sums)) mils;
    R_ij = FLOOR(1000 (S_i + S_j) / M_ij) and D_i = max_j R_ij stay
    all-integer.

    Plan shape: one posexplode (n x 64 rows) -> (label, component)
    hash agg -> broadcast centroid join back -> per-vector distance
    agg -> label rollup; the k x k centroid table is driver-tiny."""
    emb = _t(spark, sf_dir, "embeddings")
    # per-component quantize through DOUBLE (the PCA-oracle form —
    # float*int arithmetic would round differently across engines)
    comp = emb.selectExpr(
        "vec_id", "label", "posexplode(embedding) AS (j, e)"
    ).selectExpr(
        "vec_id", "label", "j",
        "CAST(FLOOR(CAST(e AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS qx",
    )
    cent = comp.groupBy("label", "j").agg(
        F.sum("qx").alias("s"), F.count(F.lit(1)).alias("m")
    ).selectExpr("label", "j", "s DIV m AS c")
    dists = (
        comp.join(cent, ["label", "j"])
        .groupBy("vec_id", "label")
        .agg(F.sum(F.expr("(qx - c) * (qx - c)")).alias("dsq"))
        .selectExpr(
            "label",
            "CAST(FLOOR(SQRT(CAST(dsq AS DOUBLE))) AS BIGINT) AS dist",
        )
    )
    scatter = dists.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.expr("SUM(dist) DIV COUNT(*)").alias("s_mils"),
    )
    csep = (
        cent.selectExpr("label AS la", "j", "c AS ca")
        .join(cent.selectExpr("label AS lb", "j", "c AS cb"), "j")
        .filter("la <> lb")
        .groupBy("la", "lb")
        .agg(F.sum(F.expr("(ca - cb) * (ca - cb)")).alias("msq"))
        .selectExpr(
            "la", "lb",
            "CAST(FLOOR(SQRT(CAST(msq AS DOUBLE))) AS BIGINT) AS m_mils",
        )
    )
    r = (
        csep.join(scatter.selectExpr("label AS la", "s_mils AS sa"), "la")
        .join(scatter.selectExpr("label AS lb", "s_mils AS sb"), "lb")
        .selectExpr(
            "la", "(1000 * (sa + sb)) DIV m_mils AS r_mils"
        )
        .groupBy("la")
        .agg(F.max("r_mils").alias("d_mils"))
    )
    return (
        scatter.selectExpr("label AS la", "n_members", "s_mils")
        .join(r, "la")
        .selectExpr("la AS label", "n_members", "s_mils", "d_mils")
    )


# ---------------------------------------------------------------------------
# Stateful streaming: longest per-user event-type streak
# ---------------------------------------------------------------------------

def streaming_user_streaks(spark, sf_dir):
    """LONGEST PER-USER EVENT-TYPE STREAK through a REAL streaming run
    — the second custom stateful operator next to sessionize, and one
    no built-in streaming aggregate expresses (the fold is
    order-sensitive).  Input is written as 2 time-ordered chunk files
    (r06: was 4 — the answer is each user's FINAL state row, so any
    chunk count ≥ 2 exercises the cross-batch state composition and
    extra chunks only re-paid per-batch fixed cost; parity PASS) and
    drained with maxFilesPerTrigger=1, so micro-batch order equals
    event-time order and the applyInPandasWithState run-length fold
    composes across batch boundaries through its state row.  Each
    batch emits the running state; the final row per user (max
    n_events — strictly increasing per appearance) is the answer.
    State-store fixed cost follows gotcha 16d: the drain runs at 8
    shuffle partitions (1 store x partitions x 2 batches), restored
    after.  Oracle: the classic batch gaps-and-islands run analysis
    (rn - run ROW_NUMBER grouping), earliest-max tie-break."""
    import os

    from . import streaming as STR

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    in_dir, out, ck = _drain_dirs(spark, "streak_")
    ev = _t(spark, sf_dir, "events")
    # ONE ntile window (contiguous time-order quartiles).  r06: the
    # four chunks are written by a SINGLE partitionBy("chunk") job —
    # the old form ran four filter+coalesce(1) write jobs over a
    # persisted copy (4 actions + a cache), where one dynamic-partition
    # write emits the same one-file-per-chunk layout in one pass
    # (guide §2.4: remove passes outright).  File CONTENT per chunk is
    # identical (the state fold re-sorts each batch by ts, event_id);
    # the k-ordered sequential moves keep mtimes + lexical names = the
    # file-source batch order, exactly as before.
    ranked = ev.selectExpr(
        "*", "NTILE(2) OVER (ORDER BY ts, event_id) AS chunk"
    )
    import glob as _glob
    import shutil

    chunks_dir = os.path.join(os.path.dirname(in_dir), "chunks")
    ranked.coalesce(1).write.partitionBy("chunk").parquet(chunks_dir)
    chunks = []
    for k in range(2):
        part = _glob.glob(
            os.path.join(chunks_dir, f"chunk={k + 1}", "part-*.parquet")
        )[0]
        chunks.append(os.path.join(in_dir, f"chunk{k}.parquet"))
        shutil.move(part, chunks[-1])
    # batch order must NOT rest on move timing: both parts come from ONE
    # write job and a same-filesystem rename preserves near-identical
    # mtimes, so a tie would let chunk1 drain before chunk0 and flip the
    # order-sensitive state fold
    _pin_batch_order(chunks)
    shutil.rmtree(chunks_dir)

    with _drain_confs(spark, nodata=False):
        STR.stream_user_streaks(spark, in_dir, out, ck)
    sink = spark.read.parquet(out)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        sink.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select("user_id", "n_events", "best_len", "best_type")
    )


QUERIES_R5C = {
    "events_spearman": events_spearman,
    "events_runs_test": events_runs_test,
    "events_kruskal": events_kruskal,
    "doc_readability": doc_readability,
    "doc_repetition": doc_repetition,
    "country_centroids": country_centroids,
    "roads_hausdorff": roads_hausdorff,
    "image_tpi_tri": image_tpi_tri,
    "image_flow_length": image_flow_length,
    "betweenness_roads": betweenness_roads,
    "events_dtw": events_dtw,
    "streaming_user_streaks": streaming_user_streaks,
    "image_box_downscale": image_box_downscale,
    "events_forecast_ols": events_forecast_ols,
    "orders_rank_functions": orders_rank_functions,
    "image_median3": image_median3,
    "roads_resample_points": roads_resample_points,
    "cells_ripley_k": cells_ripley_k,
    "events_bootstrap_ci": events_bootstrap_ci,
    "embeddings_davies_bouldin": embeddings_davies_bouldin,
    "orders_abc_analysis": orders_abc_analysis,
    "events_markov_stationary": events_markov_stationary,
    "roads_frechet": roads_frechet,
}
