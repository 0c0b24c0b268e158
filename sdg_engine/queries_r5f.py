"""Round-5 wave 26: copy-on-write DELETE (the third lakehouse delete
flavor), item-based collaborative filtering, Wilcoxon signed-rank,
df.observe pipeline metrics (API surface), and integer Harris corners
(golden-backed).

Parity rules as everywhere (CLAUDE.md gotchas 7/8/17).
Registered into queries.QUERIES via QUERIES_R5F.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .qcommon import _t, _drain_confs, _fixture_images, _stream_base
from .graph import _DIAM_MAX_HOPS, bfs_hops, hubs, road_edges
from .queries_image import (
    image_harris_corners,
    image_skeleton_zs,
    image_lbp_texture,
    image_canny_nms,
    image_dither_fs,
    image_dog_blobs,
)

_TS_US = "unix_micros(CAST(ts AS TIMESTAMP))"
_DAY_US = 86_400_000_000


# ---------------------------------------------------------------------------
# Copy-on-write DELETE
# ---------------------------------------------------------------------------

def snapshot_cow_delete(spark, sf_dir):
    """COPY-ON-WRITE DELETE WHERE on the snapshot table (Iceberg/Delta
    COW mode — completes the delete triptych next to the equality- and
    position-tombstone MOR paths): five 100-doc appends build a 5-dir
    table, then ``DELETE WHERE 150 <= doc_id < 350`` rewrites ONLY the
    three dirs holding victims; the other two carry into the new
    manifest verbatim and the post-delete read is scan-only (zero
    anti-joins — that is the COW/MOR trade).  Pins: exactly 3 dirs
    rewritten / 2 carried, the pre-delete head still time-travel reads
    all 500 rows, and the post-delete per-lang content aggregate.
    """
    from .storage import (
        delete_where_cow,
        read_snapshot,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    base = _stream_base(spark, "cowdel_")
    path = f"{base}/tbl"
    for k in range(5):
        write_snapshot(
            docs.filter(
                (F.col("doc_id") >= k * 100) & (F.col("doc_id") < (k + 1) * 100)
            ).coalesce(2),
            path,
            mode="append",
        )
    snap, n_rw, n_keep = delete_where_cow(
        spark, path, "doc_id >= 150 AND doc_id < 350"
    )
    pre_rows = read_snapshot(spark, path, as_of=5).count()
    return (
        read_snapshot(spark, path)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
        .withColumn("n_dirs_rewritten", F.lit(n_rw).cast("int"))
        .withColumn("n_dirs_carried", F.lit(n_keep).cast("int"))
        .withColumn("pre_delete_rows", F.lit(pre_rows).cast("long"))
    )


# ---------------------------------------------------------------------------
# Item-based collaborative filtering (brand co-purchase cosine)
# ---------------------------------------------------------------------------

def brand_affinity_cf(spark, sf_dir):
    """ITEM-BASED COLLABORATIVE FILTERING (the classic item-item
    recommender): brands as items, customers as the binary rating
    dimension, cosine similarity on co-purchase sets — cos² in exact
    integer micros (n_both² · 1e6 DIV (n_a · n_b), counts only, no
    sqrt).  The pair join keys on the customer and its fanout is
    bounded by the 25-brand vocabulary (≤ |brands|² pairs per
    customer, never all-pairs across customers); brand totals ride
    back as a broadcast 25-row aggregate.  Output: top-3 most-similar
    brands per brand, deterministic (cos² desc, brand asc) rank."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cb = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .join(od, li.l_orderkey == od.o_orderkey)
        .selectExpr("o_custkey AS cust", "p_brand AS brand")
        .distinct()
        .localCheckpoint()  # three consumers: totals + both pair sides
    )
    nb = cb.groupBy("brand").agg(F.count(F.lit(1)).alias("n_cust"))
    pairs = (
        cb.selectExpr("cust", "brand AS a")
        .join(cb.selectExpr("cust", "brand AS b"), "cust")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    scored = (
        pairs.join(F.broadcast(nb.selectExpr("brand AS a", "n_cust AS n_a")), "a")
        .join(F.broadcast(nb.selectExpr("brand AS b", "n_cust AS n_b")), "b")
        .selectExpr(
            "a", "b", "n_both",
            "n_both * n_both * 1000000 DIV (n_a * n_b) AS cos2_micros",
        )
    )
    sym = scored.selectExpr(
        "a AS brand", "b AS rec_brand", "n_both", "cos2_micros"
    ).unionByName(
        scored.selectExpr(
            "b AS brand", "a AS rec_brand", "n_both", "cos2_micros"
        )
    )
    return (
        sym.withColumn(
            "rnk",
            F.expr(
                "ROW_NUMBER() OVER (PARTITION BY brand "
                "ORDER BY cos2_micros DESC, rec_brand ASC)"
            ),
        )
        .filter(F.col("rnk") <= 3)
        .select("brand", "rec_brand", "n_both", "cos2_micros", "rnk")
    )


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank (paired view-vs-click daily totals)
# ---------------------------------------------------------------------------

def events_wilcoxon(spark, sf_dir):
    """WILCOXON SIGNED-RANK test statistic on PAIRED samples — the
    nonparametric paired twin of events_welch_ttest (unpaired) and
    events_auc (rank-sum): per day, pair x = view-spend vs
    y = click-spend (days with both present), d = x − y, drop zeros,
    rank |d| with midranks.  Everything stays integral via the
    TWICE-midrank trick (2·midrank = 2·cnt_lt + cnt_eq + 1 — the
    events_spearman convention), and the cumulative rank runs over the
    DISTINCT |d| relation, never raw days.  Emits W+·2, W−·2, n and
    the identity check W+ + W− = n(n+1)/2 is oracle-visible
    (w2_plus + w2_minus = n·(n+1))."""
    daily = (
        _t(spark, sf_dir, "events")
        .selectExpr(
            f"{_TS_US} DIV {_DAY_US} AS d",
            "event_type",
            "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("d")
        .agg(
            F.sum(F.expr("CASE WHEN event_type = 'view' THEN cents END"))
            .alias("x"),
            F.sum(F.expr("CASE WHEN event_type = 'click' THEN cents END"))
            .alias("y"),
        )
        .filter("x IS NOT NULL AND y IS NOT NULL AND x <> y")
        .selectExpr("d", "x - y AS diff", "ABS(x - y) AS a")
    )
    dist = daily.groupBy("a").agg(
        F.count(F.lit(1)).alias("c_eq"),
        F.sum(F.expr("CASE WHEN diff > 0 THEN 1 ELSE 0 END")).alias("n_pos"),
    )
    ranked = dist.selectExpr(
        "a", "c_eq", "n_pos",
        "2 * (SUM(c_eq) OVER (ORDER BY a ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND 1 PRECEDING)) AS lt2",
    ).selectExpr(
        "c_eq", "n_pos",
        "COALESCE(lt2, 0) + c_eq + 1 AS r2",
    )
    return ranked.agg(
        F.sum("c_eq").alias("n_pairs"),
        F.sum(F.expr("r2 * n_pos")).alias("w2_plus"),
        F.sum(F.expr("r2 * (c_eq - n_pos)")).alias("w2_minus"),
    )


# ---------------------------------------------------------------------------
# df.observe pipeline metrics (Spark API surface)
# ---------------------------------------------------------------------------

def observe_scan_metrics(spark, sf_dir):
    """PIPELINE OBSERVABILITY via ``df.observe`` (the Observation API —
    Spark's mechanism for collecting dataset metrics as a side effect
    of the job that already runs, instead of a second scan): the
    orders scan is instrumented with count / sum / max accumulators, a
    downstream per-status aggregate is executed, and the returned row
    is built FROM the observed metrics plus the aggregate's totals —
    the observe path is load-bearing, not decorative.  At 100 TB this
    is how ingest validation rides the ingest job for free.  The one
    materialization is the documented materialize-inside-builder
    pattern (observation results only exist after an action)."""
    from pyspark.sql import Observation

    obs = Observation("orders_scan")
    base = (
        _t(spark, sf_dir, "orders")
        .selectExpr(
            "o_orderstatus AS status",
            "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
        )
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("sum_cents"),
            F.max("cents").alias("max_cents"),
        )
    )
    groups = (
        base.groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c"))
        .collect()
    )
    m = obs.get
    return spark.createDataFrame(
        [(
            int(m["n_rows"]), int(m["sum_cents"]), int(m["max_cents"]),
            len(groups),
            int(sum(r["n"] for r in groups)),
            int(sum(r["c"] for r in groups)),
        )],
        "n_rows bigint, sum_cents bigint, max_cents bigint, "
        "n_groups bigint, group_rows bigint, group_cents bigint",
    )


# ---------------------------------------------------------------------------
# Harris corners (golden-backed, map-only)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# One-way ANOVA F (wave 28)
# ---------------------------------------------------------------------------

# The five fixture event types, pivoted to literal columns so the
# across-group folds have a FIXED literal order (aggregate fold order
# is partition-dependent; a 5-term left-associated expression is not).
_EV_TYPES = ("click", "error", "purchase", "signup", "view")


def _anova_f_expr() -> str:
    """Shared Spark/DuckDB fragment: F in micros from the 15 exact
    BIGINT moments (n_t, s_t, q_t per type).  Every division casts one
    operand to DOUBLE explicitly (gotcha 17) and the five-term sums
    are left-associated literal text, so both engines run the same
    IEEE chain."""
    gm = "(CAST(s_all AS DOUBLE) / CAST(n_all AS DOUBLE))"
    parts_b, parts_w = [], []
    for t in _EV_TYPES:
        m = f"(CAST(s_{t} AS DOUBLE) / CAST(n_{t} AS DOUBLE))"
        parts_b.append(
            f"(CAST(n_{t} AS DOUBLE) * ({m} - {gm}) * ({m} - {gm}))"
        )
        parts_w.append(
            f"(CAST(q_{t} AS DOUBLE) - {m} * CAST(s_{t} AS DOUBLE))"
        )
    ssb = "(" + " + ".join(parts_b) + ")"
    ssw = "(" + " + ".join(parts_w) + ")"
    k = len(_EV_TYPES)
    return (
        f"CAST(FLOOR(1000000.0 * ({ssb} / CAST({k - 1} AS DOUBLE))"
        f" / ({ssw} / CAST(n_all - {k} AS DOUBLE))) AS BIGINT)"
    )


def events_anova(spark, sf_dir):
    """ONE-WAY ANOVA F statistic of spend across the five event types —
    the parametric k-group companion to events_kruskal (rank-based)
    and events_welch_ttest (two-group): one map-side-combined pass
    collects the 15 exact BIGINT moments (n, Σv, Σv² per type), the
    F ratio is a single closed-form double chain over them with
    literal fold order, shared verbatim with the oracle."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_type",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
    )
    aggs = [
        F.count(F.lit(1)).alias("n_all"),
        F.sum("cents").alias("s_all"),
    ]
    for t in _EV_TYPES:
        aggs += [
            F.sum(F.expr(
                f"CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END"
            )).alias(f"n_{t}"),
            F.sum(F.expr(
                f"CASE WHEN event_type = '{t}' THEN cents ELSE 0 END"
            )).alias(f"s_{t}"),
            F.sum(F.expr(
                f"CASE WHEN event_type = '{t}' THEN cents * cents"
                " ELSE 0 END"
            )).alias(f"q_{t}"),
        ]
    piv = ev.agg(*aggs)
    return piv.selectExpr(
        "n_all",
        *[f"n_{t}" for t in _EV_TYPES],
        f"{_anova_f_expr()} AS f_micros",
    )


# ---------------------------------------------------------------------------
# Circular statistics of the hour-of-day distribution (wave 28)
# ---------------------------------------------------------------------------

def _circ_luts() -> tuple[str, str]:
    """24-entry fixed-point cos/sin CASE fragments over column ``h``
    (fp10 literals — the Hough-table technique), shared verbatim by
    both engines so every trig value is an integer literal, never a
    runtime transcendental."""
    import math

    cos_c = " ".join(
        f"WHEN h = {h} THEN {round(math.cos(2 * math.pi * h / 24) * 1024)}"
        for h in range(24)
    )
    sin_c = " ".join(
        f"WHEN h = {h} THEN {round(math.sin(2 * math.pi * h / 24) * 1024)}"
        for h in range(24)
    )
    return f"(CASE {cos_c} END)", f"(CASE {sin_c} END)"


def events_hour_circular(spark, sf_dir):
    """CIRCULAR STATISTICS of activity time — hour-of-day is an angle,
    so 23:00 and 01:00 are 2 h apart, not 22: per event type, the
    resultant vector (C, S) of the 24-point circle in fp10 integers
    (literal cos/sin tables — no runtime trig), and the squared mean
    resultant length in ppm: R²_ppm = ((C² + S²) DIV n²) · 1e6 DIV
    1024² — an exact-integer concentration measure (1e6·ppm = uniform
    0, point mass ~1).  One hash agg; every op BIGINT."""
    cos_e, sin_e = _circ_luts()
    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_type",
        f"({_TS_US} DIV 3600000000) % 24 AS h",
    )
    return (
        ev.selectExpr(
            "event_type", f"{cos_e} AS c1", f"{sin_e} AS s1"
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c1").alias("c_fp"),
            F.sum("s1").alias("s_fp"),
        )
        .selectExpr(
            "event_type", "n", "c_fp", "s_fp",
            "(c_fp * c_fp + s_fp * s_fp) DIV (n * n) * 1000000"
            " DIV 1048576 AS r2_ppm",
        )
    )


# ---------------------------------------------------------------------------
# Cohort lifetime value (wave 28)
# ---------------------------------------------------------------------------

def orders_cohort_ltv(spark, sf_dir):
    """COHORT LTV TRIANGLE — the cumulative companion to
    events_retention's counting triangle: customers cohorted by first
    order month, spend accumulated by cohort age in months, LTV =
    cumulative cents DIV cohort size (exact integer).  One customer
    exchange for the cohort assignment; the running sum windows over
    the months-sized (cohort, age) relation, never over orders."""
    o = _t(spark, sf_dir, "orders").selectExpr(
        "o_custkey AS cust",
        "CAST(EXTRACT(YEAR FROM o_orderdate) * 12"
        " + EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS m",
        "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
    )
    first = o.groupBy("cust").agg(F.min("m").alias("cm"))
    aged = o.join(first, "cust").selectExpr("cust", "cm", "m - cm AS age",
                                            "cents")
    size = first.groupBy("cm").agg(F.count(F.lit(1)).alias("n_cohort"))
    cell = aged.groupBy("cm", "age").agg(
        F.sum("cents").alias("cents"),
        F.countDistinct("cust").alias("n_active"),
    )
    return (
        cell.selectExpr(
            "cm", "age", "n_active",
            "SUM(cents) OVER (PARTITION BY cm ORDER BY age"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            " AS cum_cents",
        )
        .join(F.broadcast(size), "cm")
        .selectExpr(
            "cm", "age", "n_active", "n_cohort",
            "cum_cents DIV n_cohort AS ltv_cents",
        )
    )


# ---------------------------------------------------------------------------
# Streaming Python DataSource (wave 27)
# ---------------------------------------------------------------------------

# SPEC shared verbatim with the DuckDB range() oracle:
_TICK_N = 5000
_TICK_HR = "(1600000000000000 + i * 37000000) DIV 3600000000"
_TICK_CENTS = "(i * 7919) % 100000"


def streaming_pysource_windows(spark, sf_dir):
    """STREAMING PYTHON DATA SOURCE end-to-end (the streaming half of
    the Spark 4 DataSource API, next to the batch mbtiles source): a
    deterministic counter source whose replay is a pure function of
    its offsets feeds an hourly event-time aggregate in COMPLETE mode;
    the drain loop polls the memory sink until all N rows have flowed
    through (5 genuine micro-batches — availableNow falls back to
    single-batch for Python stream sources, so the multi-batch offset
    path is exercised deliberately).  Oracle: the same arithmetic over
    DuckDB range(0, N) — fully live, no golden."""
    import time
    import uuid

    from .streaming import make_ticker_datasource

    spark.dataSource.register(make_ticker_datasource())
    name = f"tick_{uuid.uuid4().hex[:8]}"
    src = spark.readStream.format("ticker").option(
        "n_rows", str(_TICK_N)
    ).option("rows_per_batch", "1000").option("n_splits", "4").load()
    agg = (
        src.selectExpr(
            f"{_TICK_HR} AS hr", f"{_TICK_CENTS} AS cents"
        )
        .groupBy("hr")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
            F.max("cents").alias("max_cents"),
        )
    )

    with _drain_confs(spark, nodata=False):  # r06: see _drain_confs
        q = (
            agg.writeStream.format("memory").queryName(name)
            .outputMode("complete").trigger(processingTime="0 seconds")
            .start()
        )
        try:
            t0 = time.time()
            while time.time() - t0 < 180:
                tot = spark.sql(
                    f"SELECT COALESCE(SUM(n_events), 0) AS s FROM {name}"
                ).collect()[0].s
                if tot == _TICK_N:
                    break
                time.sleep(0.25)
            else:
                raise TimeoutError("ticker stream did not drain in 180 s")
        finally:
            q.stop()
    return spark.table(name)


# ---------------------------------------------------------------------------
# BPE encoding application (wave 27)
# ---------------------------------------------------------------------------

def bpe_encode_docs(spark, sf_dir):
    """TOKENIZER APPLICATION — the encode side of bpe_train_merges'
    induction loop (train, then MEASURE the corpus under the trained
    tokenizer: the compression-ratio QA step every tokenizer change
    ships with).  The certified 8-merge trainer runs first; encoding
    then touches only the DISTINCT-WORD vocabulary (dedup-before-
    quadratic — the corpus-scale pass is one word explode + a
    broadcast join against the vocab-sized encode table).  Per lang:
    doc count, word instances, encoded token count, char count.
    Oracle: committed golden from the INDEPENDENT scalar trainer +
    dict-lookup encoder (scripts/make_goldens.py)."""
    import pandas as pd

    from .queries_r5d import bpe_train_merges

    merges = [
        (r.lhs, r.rhs)
        for r in bpe_train_merges(spark, sf_dir).orderBy("rank").collect()
    ]
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    wpd = docs.selectExpr(
        "lang", "explode(split(text, ' ')) AS w"
    ).filter("length(w) > 0")
    vocab = wpd.select("w").distinct()

    def _enc(batches, _merges=merges):
        for pdf in batches:
            lens = []
            for w in pdf["w"]:
                t = list(w)
                for a, b in _merges:
                    # r06 fast path: skip the merge walk when the pair
                    # cannot occur (C-speed membership tests; the walk
                    # is a no-op without both tokens present)
                    if a not in t or b not in t:
                        continue
                    res = []
                    i = 0
                    while i < len(t):
                        if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                            res.append(a + b)
                            i += 2
                        else:
                            res.append(t[i])
                            i += 1
                    t = res
                lens.append(len(t))
            yield pd.DataFrame({"w": pdf["w"], "tok_len": lens})

    enc = vocab.mapInPandas(_enc, "w string, tok_len int")
    word_stats = (
        wpd.join(F.broadcast(enc), "w")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("sum_words"),
            F.sum("tok_len").alias("sum_tokens"),
            F.sum(F.length("w")).alias("sum_chars"),
        )
    )
    n_docs = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    return n_docs.join(word_stats, "lang").select(
        "lang", "n_docs", "sum_words", "sum_tokens", "sum_chars"
    )


# ---------------------------------------------------------------------------
# Zhang-Suen skeletonization (wave 27, golden-backed, map-only)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Wave 29: SQL pipe syntax, LBP texture, Canny NMS, zlib compressibility
# ---------------------------------------------------------------------------

def pipe_syntax_revenue(spark, sf_dir):
    """SQL PIPE SYNTAX (Spark 4.0 `|>` operators — the composable
    SQL surface next to the VARIANT / LATERAL / UDTF demos): a
    filter → project → aggregate → having → project chain written as
    pipes, semantically identical to the ANSI form the oracle runs.
    Exact integer cents; the pipe path is load-bearing (the engine
    text IS pipe syntax)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_pipe")
    return spark.sql("""
      FROM lineitem_pipe
      |> WHERE l_quantity >= 10
      |> SELECT l_returnflag AS rf,
                CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
                CAST(l_quantity AS BIGINT) AS qty
      |> AGGREGATE COUNT(*) AS n, SUM(cents) AS sum_cents,
                   SUM(qty) AS sum_qty GROUP BY rf
      |> WHERE n > 0
      |> SELECT rf, n, sum_cents, sum_qty, sum_cents DIV n AS avg_cents
    """)


def doc_zlib_ratio(spark, sf_dir):
    """ZLIB COMPRESSIBILITY quality signal (the Gopher/C4-family
    curation heuristic: highly compressible text is repetitive
    boilerplate, incompressible text is noise): per-doc DEFLATE
    (RFC 1950/1951, stdlib zlib level 6 — a deterministic spec'd
    codec, the libm-trig precedent) lengths via one Arrow-batched
    map pass, aggregated per lang with the ratio in exact mils.
    Golden twin recomputes through pandas scalar plumbing."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select("lang", "text")

    def _comp(batches):
        import zlib

        for pdf in batches:
            raw = [len(t.encode("utf-8")) for t in pdf["text"]]
            comp = [len(zlib.compress(t.encode("utf-8"), 6))
                    for t in pdf["text"]]
            yield pd.DataFrame({
                "lang": pdf["lang"], "raw_len": raw, "comp_len": comp,
            })

    return (
        docs.mapInPandas(_comp, "lang string, raw_len long, comp_len long")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("raw_len").alias("sum_raw"),
            F.sum("comp_len").alias("sum_comp"),
        )
        .selectExpr(
            "lang", "n_docs", "sum_raw", "sum_comp",
            "sum_comp * 1000 DIV sum_raw AS ratio_mils",
        )
    )


# ---------------------------------------------------------------------------
# Wave 30: pinball-loss forecast eval, FS dithering, audio decimation
# ---------------------------------------------------------------------------

def events_pinball_eval(spark, sf_dir):
    """QUANTILE-FORECAST EVALUATION by pinball loss — the eval metric
    behind every quantile forecaster (the companion to events_auc /
    events_best_f1_threshold on the regression side): two p75
    predictors (global vs per-type, exact nearest-rank over the
    DISTINCT-cents relation: smallest v with cum >= (3n+3) DIV 4) are
    scored at q = 3/4, where 4*loss = 3*(y-yhat)+ + (yhat-y)+ stays an
    exact BIGINT.  The conditioned predictor must win or tie per type
    — oracle-visible.  Windows run over distinct values, never rows."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "event_type",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
    ).localCheckpoint()  # two consumers: quantile build + loss scan
    # global p75 over distinct cents
    gd = ev.groupBy("cents").agg(F.count(F.lit(1)).alias("c"))
    gq = (
        gd.selectExpr(
            "cents",
            "SUM(c) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED"
            " PRECEDING AND CURRENT ROW) AS cum",
            "SUM(c) OVER () AS n",
        )
        .filter("cum >= (3 * n + 3) DIV 4")
        .agg(F.min("cents").alias("pred_global"))
    )
    # per-type p75 over distinct cents within type
    td = ev.groupBy("event_type", "cents").agg(F.count(F.lit(1)).alias("c"))
    tq = (
        td.selectExpr(
            "event_type", "cents",
            "SUM(c) OVER (PARTITION BY event_type ORDER BY cents ROWS"
            " BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum",
            "SUM(c) OVER (PARTITION BY event_type) AS n",
        )
        .filter("cum >= (3 * n + 3) DIV 4")
        .groupBy("event_type")
        .agg(F.min("cents").alias("pred_type"))
    )
    return (
        ev.join(F.broadcast(tq), "event_type")
        .crossJoin(F.broadcast(gq))
        .selectExpr(
            "event_type", "pred_global", "pred_type",
            "CASE WHEN cents >= pred_global THEN 3 * (cents - pred_global)"
            " ELSE pred_global - cents END AS lg",
            "CASE WHEN cents >= pred_type THEN 3 * (cents - pred_type)"
            " ELSE pred_type - cents END AS lt",
        )
        .groupBy("event_type", "pred_global", "pred_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("lg").alias("loss4_global"),
            F.sum("lt").alias("loss4_type"),
        )
    )


def multimodal_audio_decimate(spark, sf_dir):
    """SAMPLE-RATE REDUCTION (decimate-by-2 through the classic 32-sum
    half-band FIR, all-integer with floor division) over the REAL-WAV
    audio fixture — the resample primitive of audio ingest pipelines.
    Engine: strided numpy slices per tap over the decoded channel-0
    PCM; golden: regenerated waveform + reimplemented PCM16 + scalar
    FIR loop (the audio-golden convention)."""
    from .ops.multimodal import audio_decimate_stats, synth_audio_table

    return audio_decimate_stats(synth_audio_table(spark, 64))


# ---------------------------------------------------------------------------
# Wave 31: SimHash banded near-dup join + DoG blobs
# ---------------------------------------------------------------------------

def simhash_neardup_pairs(spark, sf_dir):
    """SIMHASH BANDED NEAR-DUP JOIN — the third dedup index family
    wired end-to-end (MinHash-LSH and phash-LSH are certified; this
    closes the loop on the simhash60 signatures): 60-bit signatures
    split into 5 bands of 12 bits, candidates from the band equi-join
    (group sizes bounded by docs per 12-bit bucket — never all-pairs),
    deduped BEFORE the verify (each pair's hamming runs once however
    many bands it collides in), kept at hamming <= 6 of 60.  Identical
    CTE in DuckDB (bit_count/xor parity per the phash precedent)."""
    from .queries_ext import simhash60

    sigs = simhash60(spark, sf_dir).localCheckpoint()  # both join sides
    bands = sigs.selectExpr(
        "doc_id", "simhash", "explode(sequence(0, 4)) AS k"
    ).selectExpr(
        "doc_id", "simhash", "k",
        "shiftright(simhash, 12 * k) & 4095 AS bv",
    )
    x = bands.selectExpr("k", "bv", "doc_id AS a", "simhash AS sa")
    y = bands.selectExpr("k", "bv", "doc_id AS b", "simhash AS sb")
    cand = (
        x.join(y, ["k", "bv"])
        .filter("a < b")
        .select("a", "b", "sa", "sb")
        .distinct()
    )
    return cand.selectExpr(
        "a AS doc_a", "b AS doc_b", "bit_count(sa ^ sb) AS hamming"
    ).filter("hamming <= 6")


# ---------------------------------------------------------------------------
# Wave 32: TF-IDF cosine pairs + bipartite check
# ---------------------------------------------------------------------------

# Shared SPEC fragments (engine and oracle verbatim):
_TFIDF_QUERY_DOC = 0  # the query document
_TFIDF_TOPK = 10
_TFIDF_W = "tf * ((n_docs * 16) DIV df)"  # log-free integer idf proxy


def tfidf_cosine_topk(spark, sf_dir):
    """TF-IDF COSINE more-like-this retrieval — the WEIGHTED
    vector-space twin of bm25_top_docs' probabilistic ranking: score
    every document sharing a term with the QUERY doc (doc_id 0) by
    cosine over w = tf · idf_proxy weights (log-free integer
    (N·16) DIV df — the BM25 precedent).  The scored relation is the
    union of the query's posting lists (|query terms| · df rows —
    bounded by the query length at any corpus size, the classic
    query-time inverted-index plan); dot products are exact BIGINT
    sums; only the final cosine touches DOUBLE (sqrt is on the
    allowed-op list); deterministic (cos desc, doc asc) top-10."""
    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id", F.explode(F.expr("split(text, ' ')")).alias("tok")
        )
        .filter("length(tok) > 0")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()  # consumers: df, norms, query + corpus sides
    )
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    w = (
        tf.join(F.broadcast(df_), "tok")
        .crossJoin(F.broadcast(n_docs))
        .selectExpr("doc_id", "tok", f"{_TFIDF_W} AS w")
        .localCheckpoint()  # norms + the retrieval probe
    )
    norms = w.groupBy("doc_id").agg(F.sum(F.expr("w * w")).alias("nrm2"))
    qv = w.filter(f"doc_id = {_TFIDF_QUERY_DOC}") \
        .selectExpr("tok", "w AS wq")
    dots = (
        w.filter(f"doc_id <> {_TFIDF_QUERY_DOC}")
        .join(F.broadcast(qv), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.sum(F.expr("w * wq")).alias("dot"),
        )
    )
    qn = norms.filter(f"doc_id = {_TFIDF_QUERY_DOC}") \
        .selectExpr("nrm2 AS nq")
    scored = (
        dots.join(F.broadcast(norms), "doc_id")
        .crossJoin(F.broadcast(qn))
        .selectExpr(
            "doc_id", "n_shared",
            "CAST(FLOOR(1000000.0 * CAST(dot AS DOUBLE)"
            " / (sqrt(CAST(nrm2 AS DOUBLE)) * sqrt(CAST(nq AS DOUBLE))))"
            " AS BIGINT) AS cos_micros",
        )
    )
    return scored.selectExpr(
        "doc_id", "n_shared", "cos_micros",
        "ROW_NUMBER() OVER (ORDER BY cos_micros DESC, doc_id ASC) AS rnk",
    ).filter(f"rnk <= {_TFIDF_TOPK}")


def roads_bipartite_check(spark, sf_dir):
    """BIPARTITENESS TEST of the road graph (2-colorability — the
    odd-cycle detector; a planar street grid is bipartite iff no odd
    block cycles): BFS hop-parity labels from the max-degree hub (the
    certified frontier loop), then one pass over the edges counts
    same-parity endpoints — each is an odd cycle witness.  Oracle:
    recursive-CTE BFS + identical conflict count."""
    _images, roads = _fixture_images(spark)
    edges = road_edges(roads).localCheckpoint()
    visited = bfs_hops(edges, hubs(edges), _DIAM_MAX_HOPS).localCheckpoint()
    lab = visited.selectExpr("node", "hops % 2 AS par")
    conf = (
        edges.filter("src < dst")
        .join(lab.selectExpr("node AS src", "par AS pa"), "src")
        .join(lab.selectExpr("node AS dst", "par AS pb"), "dst")
        .agg(
            F.count(F.lit(1)).alias("n_edges_comp"),
            F.sum(F.expr("CASE WHEN pa = pb THEN 1 ELSE 0 END"))
            .alias("n_conflicts"),
        )
    )
    n_vis = visited.count()
    return conf.selectExpr(
        f"CAST({n_vis} AS BIGINT) AS n_visited",
        "n_edges_comp", "n_conflicts",
        "CAST(CASE WHEN n_conflicts = 0 THEN 1 ELSE 0 END AS INT)"
        " AS is_bipartite",
    )


# ---------------------------------------------------------------------------
# Wave 33: two-proportion z-test + HHI concentration
# ---------------------------------------------------------------------------

def events_conversion_ztest(spark, sf_dir):
    """TWO-PROPORTION Z-TEST of conversion drift — did the purchase
    share of events change between the first and second half of the
    timeline?  The A/B-test primitive next to events_welch_ttest
    (means) and drift_chisq (whole distributions): four exact BIGINT
    counts (x1, n1, x2, n2) from one map-side-combined pass (the epoch
    midpoint is a broadcast one-row aggregate), then z from the pooled
    estimator as a single shared double chain (only + - * / sqrt;
    explicit DOUBLE casts per gotcha 17).  Emits z_micros and the
    per-half rates in exact ppm."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        f"{_TS_US} AS us",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit",
    )
    mid = ev.agg(
        F.expr("(MIN(us) + MAX(us)) DIV 2 AS mid")
    )
    counts = ev.crossJoin(F.broadcast(mid)).selectExpr(
        "CASE WHEN us < mid THEN 0 ELSE 1 END AS half", "hit"
    ).groupBy("half").agg(
        F.count(F.lit(1)).alias("n"), F.sum("hit").alias("x")
    )
    piv = counts.agg(
        F.sum(F.expr("CASE WHEN half = 0 THEN n ELSE 0 END")).alias("n1"),
        F.sum(F.expr("CASE WHEN half = 0 THEN x ELSE 0 END")).alias("x1"),
        F.sum(F.expr("CASE WHEN half = 1 THEN n ELSE 0 END")).alias("n2"),
        F.sum(F.expr("CASE WHEN half = 1 THEN x ELSE 0 END")).alias("x2"),
    )
    z = (
        "(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
        " - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
        " / sqrt((CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
        " * (1.0 - CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
        " * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))"
    )
    return piv.selectExpr(
        "n1", "x1", "n2", "x2",
        "x1 * 1000000 DIV n1 AS rate1_ppm",
        "x2 * 1000000 DIV n2 AS rate2_ppm",
        f"CAST(FLOOR(1000000.0 * ({z})) AS BIGINT) AS z_micros",
    )


def events_hhi_concentration(spark, sf_dir):
    """HERFINDAHL-HIRSCHMAN concentration of spend across users, per
    event type — the long-tail-vs-whale diagnostic next to
    customer_gini (inequality) and doc_word_diversity (Simpson; HHI is
    its complement on shares): per-(type, user) cents totals, then
    HHI_ppm = Σ s_u² DIV (S² DIV 1e6) — the denominator is pre-divided
    so every term stays inside int64 at any scale (Σ s_u² ≤ S·max s_u).
    Two hash aggs, map-side combined."""
    per = (
        _t(spark, sf_dir, "events")
        .selectExpr(
            "event_type", "user_id",
            "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
        )
        .groupBy("event_type", "user_id")
        .agg(F.sum("cents").alias("s"))
    )
    return (
        per.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("s").alias("total_cents"),
            F.sum(F.expr("s * s")).alias("sum_sq"),
        )
        .selectExpr(
            "event_type", "n_users", "total_cents",
            "sum_sq DIV (total_cents * total_cents DIV 1000000)"
            " AS hhi_ppm",
        )
    )


QUERIES_R5F = {
    "snapshot_cow_delete": snapshot_cow_delete,
    "brand_affinity_cf": brand_affinity_cf,
    "events_wilcoxon": events_wilcoxon,
    "observe_scan_metrics": observe_scan_metrics,
    "image_harris_corners": image_harris_corners,
    "streaming_pysource_windows": streaming_pysource_windows,
    "events_anova": events_anova,
    "events_hour_circular": events_hour_circular,
    "orders_cohort_ltv": orders_cohort_ltv,
    "bpe_encode_docs": bpe_encode_docs,
    "image_skeleton_zs": image_skeleton_zs,
    "pipe_syntax_revenue": pipe_syntax_revenue,
    "doc_zlib_ratio": doc_zlib_ratio,
    "image_lbp_texture": image_lbp_texture,
    "image_canny_nms": image_canny_nms,
    "events_pinball_eval": events_pinball_eval,
    "image_dither_fs": image_dither_fs,
    "multimodal_audio_decimate": multimodal_audio_decimate,
    "simhash_neardup_pairs": simhash_neardup_pairs,
    "image_dog_blobs": image_dog_blobs,
    "tfidf_cosine_topk": tfidf_cosine_topk,
    "roads_bipartite_check": roads_bipartite_check,
    "events_conversion_ztest": events_conversion_ztest,
    "events_hhi_concentration": events_hhi_concentration,
}
