"""Round-5 wave 34: the four PySpark/Spark-SQL API surfaces the suite
had not yet exercised, each doing real work over the harness tables:

- SQL scalar UDFs (``CREATE TEMPORARY FUNCTION ... RETURN expr``,
  Spark 4 SQL-function support) — sql_udf_revenue;
- session variables (``DECLARE VARIABLE`` / ``SET VAR``) plus the
  ``IDENTIFIER()`` clause for late-bound table names —
  session_variable_segments;
- ``mapInArrow`` (RecordBatch-level Arrow transform, the lowest-level
  vectorized Python hook) — arrow_doc_stats;
- grouped-aggregate pandas UDF (``groupBy().agg(pandas_udf)``) —
  grouped_agg_user_median.

Parity rules as everywhere (CLAUDE.md gotchas 7/8/17): per-row FLOOR
to BIGINT cents before any multi-row sum, so every aggregate is
associative; medians are nearest-rank-lower (no interpolation).
Registered into queries.QUERIES via QUERIES_R5G.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
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
from .graph import label_propagation, road_edges
from .queries_image import (
    image_haar_energy,
    image_seam_carve,
    image_template_match,
    image_palette_mediancut,
)


_TS_US = "unix_micros(CAST(ts AS TIMESTAMP))"


# ---------------------------------------------------------------------------
# SQL scalar UDFs
# ---------------------------------------------------------------------------

def sql_udf_revenue(spark, sf_dir):
    """SQL SCALAR UDFs (Spark 4 ``CREATE FUNCTION ... RETURN expr``):
    the declarative cousin of every pandas UDF in this repo — the body
    is a SQL expression, so Catalyst INLINES it (codegen, pushdown,
    no Python round-trip; the plan is identical to writing the
    expression in place, which is exactly what the oracle does).
    Two functions: ``disc_cents`` (per-row discounted price in exact
    BIGINT cents — FLOOR per row keeps the sum associative, gotcha 8)
    and a boolean ``is_high_tax`` that COMPOSES the first one in its
    own body; revenue and high-tax-line share per return flag."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("li_sqludf")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_cents("
        "p DOUBLE, d DOUBLE) RETURNS BIGINT "
        "RETURN CAST(FLOOR(CAST(p AS DOUBLE) * (1.0 - d) * 100.0 + 0.5)"
        " AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION is_high_tax("
        "t DOUBLE, p DOUBLE, d DOUBLE) RETURNS BOOLEAN "
        "RETURN CAST(FLOOR(CAST(p AS DOUBLE) * t * 100.0 + 0.5) AS BIGINT)"
        " * 25 > disc_cents(p, d)"
    )
    return spark.sql(
        """
        SELECT l_returnflag AS flag,
               COUNT(*) AS n_lines,
               SUM(disc_cents(l_extendedprice, l_discount))
                 AS revenue_cents,
               SUM(CASE WHEN is_high_tax(l_tax, l_extendedprice,
                                         l_discount)
                        THEN 1 ELSE 0 END) AS n_high_tax
        FROM li_sqludf
        GROUP BY l_returnflag
        ORDER BY flag
        """
    )


# ---------------------------------------------------------------------------
# Session variables + IDENTIFIER()
# ---------------------------------------------------------------------------

def session_variable_segments(spark, sf_dir):
    """SESSION VARIABLES (``DECLARE VARIABLE`` / ``SET VAR``) driving
    both a predicate AND a late-bound table name via ``IDENTIFIER()``
    — the parameterized-deployment surface (one SQL text, per-run
    bindings) next to param_sql_revenue's client-side named
    parameters.  The threshold variable is itself COMPUTED by a SQL
    statement (the mean balance), so the binding round-trips through
    the variable store rather than the Python driver.  Per-segment
    counts and cents over customers above the mean balance."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("cust_sessvar")
    spark.sql("DECLARE OR REPLACE VARIABLE sv_tbl STRING")
    spark.sql("SET VAR sv_tbl = 'cust_sessvar'")
    spark.sql("DECLARE OR REPLACE VARIABLE sv_min_bal DOUBLE")
    spark.sql(
        "SET VAR sv_min_bal = (SELECT AVG(CAST(c_acctbal AS DOUBLE))"
        " FROM IDENTIFIER(sv_tbl))"
    )
    return spark.sql(
        """
        SELECT c_mktsegment AS segment,
               COUNT(*) AS n_above,
               SUM(CAST(FLOOR(CAST(c_acctbal AS DOUBLE) * 100.0 + 0.5)
                        AS BIGINT)) AS bal_cents
        FROM IDENTIFIER(sv_tbl)
        WHERE CAST(c_acctbal AS DOUBLE) > sv_min_bal
        GROUP BY c_mktsegment
        ORDER BY segment
        """
    )


# ---------------------------------------------------------------------------
# mapInArrow
# ---------------------------------------------------------------------------

def _arrow_doc_batches(batches):
    """RecordBatch-level transform: pure pyarrow.compute kernels, no
    pandas materialization — every output is a PER-ROW function of the
    input row, so the result is independent of Arrow batch boundaries
    (the invariant the pytest twin pins by re-running at batch size 7).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        text = b.column(b.schema.get_field_index("text"))
        n_bytes = pc.binary_length(text.cast(pa.binary()))
        n_tokens = pc.count_substring_regex(text, r"\S+")
        n_vowels = pc.count_substring_regex(text, "[aeiou]")
        yield pa.RecordBatch.from_arrays(
            [
                b.column(b.schema.get_field_index("doc_id")),
                b.column(b.schema.get_field_index("lang")),
                n_bytes.cast(pa.int64()),
                n_tokens.cast(pa.int64()),
                n_vowels.cast(pa.int64()),
            ],
            names=["doc_id", "lang", "n_bytes", "n_tokens", "n_vowels"],
        )


def arrow_doc_stats(spark, sf_dir):
    """``mapInArrow`` byte/token/vowel profile — the RecordBatch-level
    Arrow hook (one abstraction BELOW mapInPandas: no pandas object
    materialization, kernels run on Arrow buffers) that completes the
    vectorized-Python API ladder next to mapInPandas (codecs),
    cogrouped applyInPandas (tile burn), applyInPandasWithState
    (sessionize), arrow-optimized pandas UDFs, and the Python UDTF.
    Map-only over the scan; the per-lang rollup is the only exchange.
    At 100 TB this is the shape of every decode pass in the repo."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    stats = docs.mapInArrow(
        _arrow_doc_batches,
        "doc_id bigint, lang string, n_bytes bigint, n_tokens bigint,"
        " n_vowels bigint",
    )
    return (
        stats.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_vowels").alias("total_vowels"),
            F.max("n_bytes").alias("max_bytes"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Grouped-aggregate pandas UDF
# ---------------------------------------------------------------------------

def grouped_agg_user_median(spark, sf_dir):
    """GROUPED-AGGREGATE pandas UDF (``groupBy().agg(pandas_udf)``) —
    exact nearest-rank-lower median spend per (event_type, user):
    the group is one user's events of one type (BOUNDED per user at
    any corpus size — the honest unit for a whole-group-in-memory
    API; the unbounded-group exact-median scale path is the two-level
    bucket rank in customer_deciles/hist_quantiles), then a plain JVM
    rollup of those medians per event type."""

    @F.pandas_udf("bigint")
    def med_lower(v: pd.Series) -> int:
        # r06: np.partition (O(n) selection) instead of a full
        # sort_values + reset_index — same nearest-rank-lower element
        a = v.to_numpy()
        k = (len(a) + 1) // 2 - 1
        return int(np.partition(a, k)[k])

    cents = _t(spark, sf_dir, "events").selectExpr(
        "event_type", "user_id",
        "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
    )
    # r06: Spark forbids mixing grouped-agg pandas UDFs with JVM
    # aggregates in one agg(), and the old workaround (a second pandas
    # aggregate just to count rows) DOUBLED the per-group Python calls
    # — the query's cost is ~2 Arrow round-trips per group, not the
    # median math.  The count now runs as a plain map-side-combined JVM
    # aggregate joined back on the group key (guide §4: only the work
    # that needs Python crosses the boundary).  len(group) ==
    # COUNT(1) per (event_type, user_id) exactly; result identical.
    # r06 review fix: NULL-SAFE join keys — a plain equi-join would
    # silently drop a NULL-keyed group that both aggregates (and the
    # DuckDB oracle's GROUP BY) keep.  Vacuous on the fixture (no NULL
    # keys) but the old single-groupBy shape never had the hazard.
    cnt = (
        cents.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumnRenamed("event_type", "_et")
        .withColumnRenamed("user_id", "_uid")
    )
    per_user = (
        cents.groupBy("event_type", "user_id")
        .agg(med_lower(F.col("cents")).alias("med_cents"))
        .join(
            cnt,
            F.col("event_type").eqNullSafe(F.col("_et"))
            & F.col("user_id").eqNullSafe(F.col("_uid")),
        )
        .drop("_et", "_uid")
    )
    return (
        per_user.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("med_cents").alias("sum_medians"),
            F.max("med_cents").alias("max_median"),
            F.sum("n").alias("n_events"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Avro object-container roundtrip
# ---------------------------------------------------------------------------

def avro_roundtrip_events(spark, sf_dir):
    """AVRO EXPORT + re-ingest — the classic row-oriented interchange
    format next to the TFRecord/WebDataset training sinks, through the
    FROM-SCRATCH Object Container codec (sdg_engine/avro.py, Apache
    Avro 1.11 public spec: zigzag-varint binary encoding, metadata
    map, sync-marker-framed data blocks).  Every partition writes one
    shard — EVEN partitions deflate-coded, ODD null-coded, so both
    codec paths are load-bearing; timestamps travel as
    timestamp-micros longs; blocks are 200 records so the reader walks
    a real multi-block chain.  The shards come back via binaryFile +
    mapInPandas decode and the per-type rollup (counts, exact cents,
    id extrema, distinct users) is checked against DuckDB over the
    source parquet.  At 100 TB this is the standard sharded-export
    shape: one file per task, content never shuffles."""
    import os

    schema = {
        "type": "record",
        "name": "Event",
        "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "ts_us", "type": "long"},
            {"name": "user_id", "type": "long"},
            {"name": "event_type", "type": "string"},
            {"name": "value", "type": "double"},
            {"name": "props", "type": ["null", "string"]},
        ],
    }
    # r06: _spread parallelizes the export (one shard per partition —
    # the single-split scan wrote ONE shard from one task; now even
    # AND odd shard ids exist, so both codec paths run, and the
    # re-ingest decodes shards in parallel), and the writer is an
    # Arrow-batched mapInPandas instead of foreachPartition (which
    # pickled every Row one at a time across the Python boundary —
    # guide §4.1).  Row content per record is identical; the oracle
    # aggregates are shard-layout-independent.

    ev = _spread(_t(spark, sf_dir, "events"), "event_id").selectExpr(
        "event_id", "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us",
        "user_id", "event_type", "value", "props",
    )
    out = f"{_stream_base(spark, 'avro_')}/shards"
    os.makedirs(out, exist_ok=True)

    def _write(batches):
        from pyspark import TaskContext

        from sdg_engine.avro import write_avro

        recs = []
        for pdf in batches:
            recs.extend(
                {
                    "event_id": int(a), "ts_us": int(b), "user_id": int(c),
                    "event_type": d, "value": float(e), "props": f,
                }
                for a, b, c, d, e, f in zip(
                    pdf["event_id"], pdf["ts_us"], pdf["user_id"],
                    pdf["event_type"], pdf["value"], pdf["props"],
                )
            )
        if recs:
            pid = TaskContext.get().partitionId()
            codec = "deflate" if pid % 2 == 0 else "null"
            write_avro(os.path.join(out, f"shard-{pid:05d}.avro"),
                       schema, recs, codec=codec, block_records=200)
        yield pd.DataFrame({"n": [len(recs)]})

    ev.mapInPandas(_write, "n bigint").write.format("noop").mode(
        "overwrite"
    ).save()
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "shard-*")
        .load(out)
    )

    def _parse(batches):
        from sdg_engine.avro import read_avro

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                _, recs = read_avro(bytes(blob))
                rows.extend(
                    (r["event_id"], r["ts_us"], r["user_id"],
                     r["event_type"], r["value"])
                    for r in recs
                )
            yield pd.DataFrame(
                rows,
                columns=["event_id", "ts_us", "user_id", "event_type",
                         "value"],
            )

    decoded = bf.select("content").mapInPandas(
        _parse,
        "event_id bigint, ts_us bigint, user_id bigint,"
        " event_type string, value double",
    )
    return (
        decoded.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"))
            .alias("cents"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.expr("ts_us % 997")).alias("ts_chk"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Wave 36: Nelson-Aalen survival + chi-squared feature selection
# ---------------------------------------------------------------------------

def events_nelson_aalen(spark, sf_dir):
    """NELSON-AALEN cumulative hazard of time-to-first-purchase — the
    survival-analysis primitive (the sum-form twin of Kaplan-Meier,
    chosen BECAUSE it is a sum: per-term ``d_i*1e9 DIV n_i`` floors to
    BIGINT nanos, so the cumulative hazard is an associative BIGINT
    running sum — no float product chain anywhere).  Subjects are
    users; duration = hours from a user's first event to their first
    purchase, right-CENSORED at their last event when no purchase
    occurs (the censor keeps n_at_risk honest).  One hash agg to the
    per-user relation, then windows over the DISTINCT-DURATIONS
    relation (bounded by the time range, the best_f1 precedent — never
    a window over raw events)."""
    per_user = (
        _t(spark, sf_dir, "events")
        .selectExpr(
            "user_id", f"{_TS_US} AS us",
            "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit",
        )
        .groupBy("user_id")
        .agg(
            F.expr("MIN(us)").alias("t0"),
            F.expr("MAX(us)").alias("t_last"),
            F.expr("MIN(CASE WHEN hit = 1 THEN us END)").alias("t_hit"),
        )
        .selectExpr(
            "CASE WHEN t_hit IS NOT NULL"
            " THEN (t_hit - t0) DIV 3600000000"
            " ELSE (t_last - t0) DIV 3600000000 END AS dur_hr",
            "CASE WHEN t_hit IS NOT NULL THEN 1 ELSE 0 END AS event",
        )
    )
    per_dur = per_user.groupBy("dur_hr").agg(
        F.sum("event").alias("d"),
        F.count(F.lit(1)).alias("m"),
    )
    w = (
        "SUM(m) OVER (ORDER BY dur_hr"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    total = per_user.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        per_dur.crossJoin(F.broadcast(total))
        .selectExpr(
            "dur_hr", "d", "m",
            f"n_total - COALESCE({w}, 0) AS n_at_risk",
        )
        .filter("d > 0")
        .selectExpr(
            "dur_hr", "d", "n_at_risk",
            "d * 1000000000 DIV n_at_risk AS hazard_nanos",
        )
        .selectExpr(
            "dur_hr", "d", "n_at_risk", "hazard_nanos",
            "SUM(hazard_nanos) OVER (ORDER BY dur_hr"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            " AS cum_hazard_nanos",
        )
        .orderBy("dur_hr")
    )


def doc_term_chisq(spark, sf_dir):
    """CHI-SQUARED feature selection — which terms are most associated
    with each language (the classifier-feature primitive next to
    drift_chisq, which compares whole distributions): per (lang, term)
    the 2x2 contingency counts a/b/c/d from ONE distinct-terms explode
    pass (the relation is vocab x langs — bounded at any corpus size),
    then chi2 = N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) computed in DOUBLE
    (identical op shape in the oracle; counts exceed int64 products at
    real N, so the float chain IS the scale-honest form) and floored
    to micros.  Top-3 terms per lang, chi2-desc / term-asc ties."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    terms = docs.selectExpr(
        "doc_id", "lang",
        "explode(array_distinct(split(lower(text), '[^a-z]+'))) AS term",
    ).filter("term != ''")
    df_lang = terms.groupBy("term", "lang").agg(
        F.count(F.lit(1)).alias("a")
    )
    df_all = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_lang = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("nl"))
    n_tot = docs.agg(F.count(F.lit(1)).alias("n"))
    chi = (
        df_lang.join(F.broadcast(df_all), "term")
        .join(F.broadcast(n_lang), "lang")
        .crossJoin(F.broadcast(n_tot))
        .selectExpr(
            "lang", "term", "a",
            "df - a AS b", "nl - a AS c", "n - df - (nl - a) AS d", "n",
        )
        .selectExpr(
            "lang", "term", "a",
            "CAST(FLOOR(1000000.0 * CAST(n AS DOUBLE)"
            " * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
            "    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"
            " * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
            "    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"
            " / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)"
            "    * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)))"
            " AS BIGINT) AS chi2_micros",
        )
    )
    return (
        chi.selectExpr(
            "lang", "term", "a", "chi2_micros",
            "ROW_NUMBER() OVER (PARTITION BY lang"
            " ORDER BY chi2_micros DESC, term) AS rnk",
        )
        .filter("rnk <= 3")
        .orderBy("lang", "rnk")
    )


# ---------------------------------------------------------------------------
# Wave 37: Haar DWT subband energies + vertical seam carving
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Wave 38: encoded-polyline roundtrip
# ---------------------------------------------------------------------------

def polyline_roundtrip_roads(spark, sf_dir):
    """GOOGLE ENCODED POLYLINE roundtrip over the road fixture — the
    web-mapping wire format next to the MVT and GeoJSON sinks, through
    the from-scratch codec (sdg_engine/polyline.py, public algorithm
    description; the spec's own canonical test vector is pinned in
    pytest).  Encode and decode are SEPARATE Arrow passes with the
    ASCII string as the only thing crossing between them, so the
    per-kind aggregates (point counts, exact quantized coordinate
    sums, net eastward drift) are computed entirely from DECODED
    integers and checked against DuckDB quantizing the source coords
    directly.  Map-only; geometry never shuffles."""

    _images, roads = _fixture_images(spark)

    def _encode(batches):
        from sdg_engine.polyline import encode_polyline

        for pdf in batches:
            yield pd.DataFrame({
                "road_id": pdf["road_id"],
                "kind": pdf["kind"],
                "poly": [
                    encode_polyline((c["x"], c["y"]) for c in coords)
                    for coords in pdf["coords"]
                ],
            })

    encoded = roads.select("road_id", "kind", "coords").mapInPandas(
        _encode, "road_id bigint, kind string, poly string"
    )

    def _decode(batches):
        from sdg_engine.polyline import decode_polyline

        for pdf in batches:
            rows = []
            for rid, kind, poly in zip(pdf["road_id"], pdf["kind"],
                                       pdf["poly"]):
                pts = decode_polyline(poly)
                rows.append((
                    rid, kind, len(pts),
                    sum(p[0] for p in pts), sum(p[1] for p in pts),
                    pts[-1][0] - pts[0][0],
                ))
            yield pd.DataFrame(
                rows,
                columns=["road_id", "kind", "n_pts", "sum_qx", "sum_qy",
                         "drift_qx"],
            )

    decoded = encoded.mapInPandas(
        _decode,
        "road_id bigint, kind string, n_pts bigint, sum_qx bigint,"
        " sum_qy bigint, drift_qx bigint",
    )
    return (
        decoded.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_roads"),
            F.sum("n_pts").alias("total_pts"),
            F.sum("sum_qx").alias("sum_qx"),
            F.sum("sum_qy").alias("sum_qy"),
            F.sum("drift_qx").alias("net_drift_qx"),
        )
        .orderBy("kind")
    )


# ---------------------------------------------------------------------------
# Wave 39: transformWithStateInPandas
# ---------------------------------------------------------------------------

def streaming_tws_totals(spark, sf_dir):
    """transformWithStateInPandas END-TO-END — the Spark 4 arbitrary-
    stateful API (typed ValueState + MapState primitives on the
    RocksDB store, the SPARK-42931 successor of the two
    applyInPandasWithState operators already certified): per-user
    running spend totals and a per-type count map over 4 time-ordered
    micro-batches (maxFilesPerTrigger=1 over ts-chunked files).  The
    drain runs with the RocksDB state-store provider (required by the
    API) and 8 shuffle partitions (gotcha 16d), both restored after.
    Final row per user = max n_events (strictly increasing per
    appearance); oracle is the plain per-user batch aggregate.

    ENV-GATED (not in QUERIES_R5G): the tws state-server protocol
    needs the python ``protobuf`` package
    (pyspark/sql/streaming/proto/StateMessage_pb2), absent in this
    container — the driver worker crashes with ImportError before the
    first batch (measured r05 wave 39).  The full path is kept wired
    and pytest runs it wherever protobuf exists (the
    applyInPandasWithState twins cover stateful semantics here)."""
    import glob as _glob
    import os
    import shutil

    from pyspark.sql import Window

    from . import streaming as STR

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    in_dir, out, ck = _drain_dirs(spark, "tws_")
    ev = _t(spark, sf_dir, "events")
    ranked = ev.selectExpr(
        "*", "NTILE(4) OVER (ORDER BY ts, event_id) AS chunk"
    ).persist()
    for k in range(4):
        tmp = os.path.join(os.path.dirname(in_dir), f"tmp{k}")
        (
            ranked.filter(f"chunk = {k + 1}")
            .drop("chunk")
            .coalesce(1)
            .write.parquet(tmp)
        )
        part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(in_dir, f"chunk{k}.parquet"))
        shutil.rmtree(tmp)
    ranked.unpersist()
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old_prov = spark.conf.get(prov_key, None)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        STR.stream_tws_running_totals(spark, in_dir, out, ck)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        if old_prov is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old_prov)
    sink = spark.read.parquet(out)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        sink.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select("user_id", "n_events", "cents_total", "n_types")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Wave 40: community modularity + integer language classifier
# ---------------------------------------------------------------------------

def community_modularity(spark, sf_dir):
    """MODULARITY of the certified label-propagation communities — the
    quality score that makes community detection an EVALUATED op (the
    eval-composition pattern of ann_recall_eval / quantile_sketch_eval):
    re-runs the 4 deterministic LPA rounds, then per community c emits
    m_in (intra edges), deg_sum, and the EXACT integer contribution
    4·m·m_in − deg_sum² (Q = Σ contrib / 4m² — everything BIGINT until
    one double division whose operands stay under 2^53, then FLOOR to
    ppm; negative-numerator DIV truncation differs across engines, so
    the division runs in DOUBLE, gotcha-7 discipline).  The Q window
    sum runs over the communities relation (small by construction)."""
    _images, roads = _fixture_images(spark)
    # probed by LP rounds AND the intra-edge pass
    und = road_edges(roads, undirected=True).localCheckpoint()
    dirs = und.selectExpr("u AS src", "v AS dst").unionAll(
        und.selectExpr("v AS src", "u AS dst")
    ).localCheckpoint()
    labels = label_propagation(dirs)
    m_df = und.agg(F.count(F.lit(1)).alias("m"))
    deg = dirs.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    lab_u = labels.selectExpr("v AS u", "label AS lu")
    lab_v = labels.selectExpr("v AS v", "label AS lv")
    intra = (
        und.join(lab_u, "u").join(lab_v, "v")
        .filter("lu = lv")
        .groupBy(F.col("lu").alias("label"))
        .agg(F.count(F.lit(1)).alias("m_in"))
    )
    per_c = (
        labels.join(deg, labels.v == deg.src)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_nodes"),
             F.sum("deg").alias("deg_sum"))
        .join(intra, "label", "left")
        .selectExpr("label", "n_nodes", "COALESCE(m_in, 0) AS m_in",
                    "deg_sum")
        .crossJoin(F.broadcast(m_df))
        .selectExpr(
            "label", "n_nodes", "m_in", "deg_sum",
            "4 * m * m_in - deg_sum * deg_sum AS contrib", "m",
        )
    )
    return per_c.selectExpr(
        "label", "n_nodes", "m_in", "deg_sum", "contrib",
        "CAST(FLOOR(1000000.0 * CAST(SUM(contrib) OVER () AS DOUBLE)"
        " / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)))"
        " AS BIGINT) AS q_ppm",
    ).orderBy("label")


def doc_lang_classifier(spark, sf_dir):
    """NAIVE-BAYES-STYLE LANGUAGE CLASSIFIER in exact integers — the
    likelihood-ratio form that needs no logs (the parity killer, gotcha
    8): per (term, lang) weight w = a·n·1e6 DIV (df·nl) — the lift of
    the term under the language, all BIGINT — a doc's score per lang is
    Σw over its distinct terms, prediction = argmax (lang-asc ties).
    Train and predict on the same corpus (resubstitution — the
    contract the oracle mirrors); the score join is bounded by
    vocab × langs at any corpus size.  Output: the 5×5 confusion
    matrix plus per-pair mean score in micros."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    terms = docs.selectExpr(
        "doc_id", "lang",
        "explode(array_distinct(split(lower(text), '[^a-z]+'))) AS term",
    ).filter("term != ''").localCheckpoint()  # feeds train AND predict
    df_lang = terms.groupBy("term", F.col("lang").alias("wl")).agg(
        F.count(F.lit(1)).alias("a")
    )
    df_all = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_lang = docs.groupBy(F.col("lang").alias("wl")).agg(
        F.count(F.lit(1)).alias("nl")
    )
    n_tot = docs.agg(F.count(F.lit(1)).alias("n"))
    weights = (
        df_lang.join(F.broadcast(df_all), "term")
        .join(F.broadcast(n_lang), "wl")
        .crossJoin(F.broadcast(n_tot))
        .selectExpr("term", "wl", "a * n * 1000000 DIV (df * nl) AS w")
    )
    scores = (
        terms.join(weights, "term")
        .groupBy("doc_id", "lang", "wl")
        .agg(F.sum("w").alias("score"))
    )
    pred = (
        scores.groupBy("doc_id", "lang")
        .agg(F.expr("MIN(struct(-score AS ns, wl))").alias("best"))
        .selectExpr("doc_id", "lang AS true_lang",
                    "best.wl AS pred_lang", "-best.ns AS best_score")
    )
    return (
        pred.groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("best_score").alias("sum_score"))
        .orderBy("true_lang", "pred_lang")
    )


# ---------------------------------------------------------------------------
# Wave 41: permutation test + Holt linear smoothing
# ---------------------------------------------------------------------------

_PERM_K = 200  # deterministic sign-flip permutations

_PERM_SIGN = (
    "CASE WHEN substring(md5(concat(CAST(user_id AS STRING), ':',"
    " CAST(k AS STRING))), 1, 1)"
    " IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END"
)


def events_permutation_test(spark, sf_dir):
    """PAIRED SIGN-FLIP PERMUTATION TEST of spend drift — the
    distribution-free companion of events_conversion_ztest: per-user
    paired difference d_u = second-half cents − first-half cents, test
    statistic T = Σ d_u, and 200 DETERMINISTIC permutations whose
    sign for (user, k) is the first hex digit of md5(user_id:k) — the
    md5-draw discipline of sample_stratified, so both engines flip
    identical signs without any RNG.  Everything is an associative
    BIGINT sum (users × 200 rows, a bounded constant multiplier at any
    scale); p = (1 + #extreme) / (K + 1) in exact millis."""
    per_user = (
        _t(spark, sf_dir, "events")
        .selectExpr(
            "user_id", f"{_TS_US} AS us",
            "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
        )
        .crossJoin(F.broadcast(
            _t(spark, sf_dir, "events")
            .selectExpr(f"{_TS_US} AS us")
            .agg(F.expr("(MIN(us) + MAX(us)) DIV 2 AS mid"))
        ))
        .selectExpr(
            "user_id",
            "CASE WHEN us < mid THEN -cents ELSE cents END AS signed",
        )
        .groupBy("user_id")
        .agg(F.sum("signed").alias("d"))
        .localCheckpoint()  # feeds T_obs and all 200 permutations
    )
    t_obs = per_user.agg(
        F.sum("d").alias("t_obs"),
        F.sum(F.expr("abs(d)")).alias("sum_abs_d"),
        F.count(F.lit(1)).alias("n_users"),
    )
    perms = (
        per_user.crossJoin(
            F.broadcast(
                spark.range(_PERM_K).selectExpr("CAST(id AS INT) AS k")
            )
        )
        .selectExpr("k", f"{_PERM_SIGN} * d AS sd")
        .groupBy("k")
        .agg(F.sum("sd").alias("t_k"))
    )
    return (
        perms.crossJoin(F.broadcast(t_obs))
        .agg(
            F.max("t_obs").alias("t_obs"),
            F.max("sum_abs_d").alias("sum_abs_d"),
            F.max("n_users").alias("n_users"),
            F.sum(F.expr(
                "CASE WHEN abs(t_k) >= abs(t_obs) THEN 1 ELSE 0 END"
            )).alias("n_extreme"),
        )
        .selectExpr(
            "t_obs", "sum_abs_d", "n_users", "n_extreme",
            f"(1 + n_extreme) * 1000 DIV ({_PERM_K} + 1) AS p_milli",
        )
    )


def orders_holt_linear(spark, sf_dir):
    """HOLT LINEAR (double exponential) SMOOTHING of daily order
    counts — the trend-forecast primitive next to events_ewma (level
    only) and events_forecast_ols (global fit).  The recurrence is
    inherently sequential, and the series relation is DAYS-sized
    (bounded by the calendar at any corpus size), so the engine folds
    it in ONE applyInPandas task over the aggregated relation — a
    per-day recursive CTE was measured first and rejected: Spark's
    UnionLoop replans every level, and ~2400 day-levels ran minutes
    (vs 12 capped hops in recursive_order_chain; the DuckDB oracle
    KEEPS the WITH RECURSIVE form, where levels are cheap).  Integer
    milli-state, alpha=1/5, beta=1/10, python floor division — exact
    floor, the same value the oracle's FLOOR(x / 5) computes (integer
    DIV would hit the negative-trend floor-vs-truncate split,
    gotcha 7)."""
    days = (
        _t(spark, sf_dir, "orders")
        .selectExpr("CAST(o_orderdate AS DATE) AS day")
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("y"))
        .selectExpr(
            "CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) - 1 AS t",
            "y",
        )
    )

    def _fold(pdf):
        pdf = pdf.sort_values("t").reset_index(drop=True)
        y = [int(v) for v in pdf["y"]]
        lv = [y[0] * 1000]
        tr = [(y[1] - y[0]) * 1000]
        for i in range(1, len(y)):
            l_new = (y[i] * 1000 + 4 * (lv[-1] + tr[-1])) // 5
            tr.append((l_new - lv[-1] + 9 * tr[-1]) // 10)
            lv.append(l_new)
        return pd.DataFrame({
            "t": pdf["t"], "y": pdf["y"],
            "level_milli": lv, "trend_milli": tr,
            "forecast_next_milli": [a + b for a, b in zip(lv, tr)],
        })

    return (
        days.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(
            _fold,
            "t bigint, y bigint, level_milli bigint, trend_milli bigint,"
            " forecast_next_milli bigint",
        )
        .orderBy("t")
    )


# ---------------------------------------------------------------------------
# Wave 42: biquad IIR + CUPED
# ---------------------------------------------------------------------------

def multimodal_audio_biquad(spark, sf_dir):
    """FIXED-POINT BIQUAD IIR LOW-PASS over the real-WAV fixture — the
    FEEDBACK filter completing the audio-DSP family next to the
    half-band FIR (feed-forward), STFT, pitch and spectral ops: Q14
    integer state, floor division per sample, channel-0 PCM16.  The
    feed-forward taps are vectorized numpy; only the 2-pole recursion
    loops (IIR is inherently sequential per clip, parallel across
    clips — the dither/seam discipline).  Golden: regenerated waveform
    + reimplemented PCM16 + fully scalar filter loop (the
    audio-golden convention)."""
    from .ops.multimodal import audio_biquad_stats, synth_audio_table

    return audio_biquad_stats(synth_audio_table(spark, 64))


def events_cuped_eval(spark, sf_dir):
    """CUPED VARIANCE REDUCTION — the experimentation-platform adjunct
    of the z-test/permutation pair: pre = first-half cents, post =
    second-half cents per user; θ = cov(pre,post)/var(pre) and the
    variance-reduction factor ρ² from FIVE exact BIGINT moments in one
    map-side-combined pass (the covariance products exceed int64 at
    real N, so θ and ρ² run as DOUBLE chains with the identical op
    shape in the oracle — the chi² precedent — then FLOOR to
    micros/ppm)."""
    moments = (
        _t(spark, sf_dir, "events")
        .selectExpr(
            "user_id", f"{_TS_US} AS us",
            "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents",
        )
        .crossJoin(F.broadcast(
            _t(spark, sf_dir, "events")
            .selectExpr(f"{_TS_US} AS us")
            .agg(F.expr("(MIN(us) + MAX(us)) DIV 2 AS mid"))
        ))
        .groupBy("user_id")
        .agg(
            F.sum(F.expr("CASE WHEN us < mid THEN cents ELSE 0 END"))
            .alias("pre"),
            F.sum(F.expr("CASE WHEN us >= mid THEN cents ELSE 0 END"))
            .alias("post"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pre").alias("sx"),
            F.sum("post").alias("sy"),
            F.sum(F.expr("pre * pre")).alias("sxx"),
            F.sum(F.expr("post * post")).alias("syy"),
            F.sum(F.expr("pre * post")).alias("sxy"),
        )
    )
    cov = ("(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
           " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))")
    vx = ("(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
          " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))")
    vy = ("(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
          " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))")
    return moments.selectExpr(
        "n", "sx", "sy", "sxx", "syy", "sxy",
        f"CAST(FLOOR(1000000.0 * {cov} / {vx}) AS BIGINT)"
        " AS theta_micros",
        f"CAST(FLOOR(1000000.0 * {cov} * {cov} / ({vx} * {vy}))"
        " AS BIGINT) AS var_reduction_ppm",
    )


# ---------------------------------------------------------------------------
# Wave 43: linear attribution + Matryoshka-truncation recall
# ---------------------------------------------------------------------------

_7D_US = 7 * 86_400_000_000


def events_attribution_linear(spark, sf_dir):
    """LINEAR (equal-credit) MARKETING ATTRIBUTION — each purchase
    splits 1e6 micros of credit equally across the SAME USER's view
    events in the preceding 7 days (inclusive): the multi-touch
    companion of events_funnel's single-path conversion.  The
    view-purchase pair join is an equi-join on user_id with a range
    residual (per-user bounded at any scale — the events_concurrency
    interval discipline); credit = 1e6 DIV n_views is exact BIGINT, so
    per-purchase credit sums to 1e6 - (1e6 mod n) and every rollup is
    associative.  Rolled up by the VIEW's day-of-week (when did the
    credited touch happen)."""
    ev = _t(spark, sf_dir, "events").selectExpr(
        "user_id", "event_id", "event_type", f"{_TS_US} AS us",
        "CAST(date_format(CAST(ts AS TIMESTAMP), 'E') AS STRING) AS dow",
    )
    views = ev.filter("event_type = 'view'").selectExpr(
        "user_id", "event_id AS view_id", "us AS v_us", "dow"
    )
    purch = ev.filter("event_type = 'purchase'").selectExpr(
        "user_id", "event_id AS purchase_id", "us AS p_us"
    )
    pairs = views.join(purch, "user_id").filter(
        f"v_us <= p_us AND p_us - v_us <= {_7D_US}"
    )
    n_per = pairs.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_views")
    )
    credited = pairs.join(n_per, "purchase_id").selectExpr(
        "dow", "view_id", "purchase_id",
        "1000000 DIV n_views AS credit_micros",
    )
    return (
        credited.groupBy("dow")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.countDistinct("purchase_id").alias("n_purchases"),
            F.countDistinct("view_id").alias("n_views"),
            F.sum("credit_micros").alias("credit_micros"),
        )
        .orderBy("dow")
    )


def ann_matryoshka_recall(spark, sf_dir):
    """MATRYOSHKA-TRUNCATION RECALL — how much of the exact 64-dim
    top-3 neighborhood survives when queries run on the FIRST 16
    DIMENSIONS only (the truncation trade every MRL-style embedding
    deployment measures before shipping the cheap index): both sides
    are the certified broadcast-bounded brute-force cosine (the
    truncated side just slices the arrays), joined on (query,
    neighbor); recall in integer mils.  The oracle composes the same
    two rankings in DuckDB, so the measured truncation loss is pinned
    exactly."""
    from .queries import QUERIES as _Q

    exact = (
        _Q["ann_cosine_topk"](spark, sf_dir)
        .filter("rnk <= 3")
        .select("query_id", "neighbor_id")
        .localCheckpoint()  # ground truth: hits join + query universe
    )
    emb16 = _t(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "slice(embedding, 1, 16) AS embedding"
    )
    norm = F.expr(
        "SQRT(aggregate(embedding, CAST(0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    with_norm = emb16.select("vec_id", "embedding", norm.alias("nrm"))
    qs = F.broadcast(with_norm.filter(F.col("vec_id") < 10)).alias("a")
    dot = (
        "aggregate(zip_with(CAST(a.embedding AS ARRAY<DOUBLE>), "
        "CAST(b.embedding AS ARRAY<DOUBLE>), (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    trunc = (
        qs.crossJoin(with_norm.alias("b"))
        .filter(F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.expr(f"{dot} / (a.nrm * b.nrm)").alias("cos_sim"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter("rnk <= 3")
        .select("query_id", "neighbor_id")
    )
    hits = (
        exact.join(trunc, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        exact.select("query_id").distinct()
        .join(hits, "query_id", "left")
        .selectExpr(
            "query_id",
            "CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit",
            "CAST(COALESCE(n_hit, 0) * 1000 DIV 3 AS BIGINT)"
            " AS recall_mils",
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Wave 44: template matching + Visvalingam-Whyatt simplification
# ---------------------------------------------------------------------------

_VW_A2_MIN = 1_000_000  # twice-area threshold in (1e-5 deg)^2 units


def roads_simplify_vw(spark, sf_dir):
    """VISVALINGAM-WHYATT simplification of every fixture road — the
    AREA-based generalizer next to Douglas-Peucker's distance-based
    one (roads_simplify_dp), and the one cartographers prefer for
    shape retention: repeatedly drop the interior vertex whose
    triangle with its CURRENT neighbours has the smallest twice-area,
    until the minimum reaches the threshold.  All-integer on 1e-5-deg
    quantized coords (exact cross products, no float area); engine
    maintains linked prev/next arrays, the golden twin rescans lists
    per step — same removals, different mechanics.  Output carries
    the kept-vertex BITMASK (n_pts <= 42 fits bigint) like the DP
    twin, so one flipped keep decision fails the hash."""
    import numpy as np

    _images, roads = _fixture_images(spark)

    def _vw(batches):
        from sdg_engine.geom import vw_keep_mask

        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                q = np.array([
                    [int(np.floor(p["x"] * 1e5 + 0.5)),
                     int(np.floor(p["y"] * 1e5 + 0.5))]
                    for p in r.coords
                ], dtype=np.int64)
                keep, removed = vw_keep_mask(q, _VW_A2_MIN)
                mask = 0
                for k in np.nonzero(keep)[0]:
                    mask |= 1 << int(k)
                out.append((r.road_id, r.kind, len(q),
                            int(keep.sum()), mask, removed))
            yield pd.DataFrame(
                out,
                columns=["road_id", "kind", "n_in", "n_kept",
                         "keep_mask", "removed_a2"],
            )

    return roads.select("road_id", "kind", "coords").mapInPandas(
        _vw,
        "road_id bigint, kind string, n_in bigint, n_kept bigint,"
        " keep_mask bigint, removed_a2 bigint",
    )


# ---------------------------------------------------------------------------
# Wave 45: median-cut palette + t-score collocations
# ---------------------------------------------------------------------------

def doc_collocation_tscore(spark, sf_dir):
    """T-SCORE COLLOCATIONS — the hypothesis-testing collocation
    ranker next to pmi_bigrams' lift (PMI overweights rare pairs; the
    t-score (obs − exp)/sqrt(obs) corrects for that, and unlike the
    log-likelihood G² it needs only sqrt — IEEE-safe, gotcha 8).  One
    explode feeds bigram and unigram counts (the pmi shape); exp runs
    in DOUBLE (c_x·c_y exceeds int64 at real corpus sizes), t floors
    to micros; top-10, tie lexicographic."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    # ADVICE r05 guard: sequence(1, size(w)-1) DESCENDS for a 1-token
    # doc ([1,0] -> element_at(w, 0) raises) while DuckDB's
    # generate_series is empty — filter before the explode (vacuous on
    # the current fixture: no such docs; row-identical otherwise).
    toks = docs.selectExpr("doc_id", "split(text, ' ') AS w").filter(
        "size(w) >= 2"
    ).selectExpr(
        "doc_id",
        "explode(sequence(1, size(w) - 1)) AS i",
        "w",
    ).selectExpr("element_at(w, i) AS x", "element_at(w, i + 1) AS y")
    big = toks.groupBy("x", "y").agg(F.count(F.lit(1)).alias("f_xy"))
    uni_x = toks.groupBy("x").agg(F.count(F.lit(1)).alias("f_x"))
    uni_y = toks.groupBy("y").agg(F.count(F.lit(1)).alias("f_y"))
    n_big = toks.agg(F.count(F.lit(1)).alias("n_big"))
    t_expr = (
        "CAST(FLOOR(1000000.0 * (CAST(f_xy AS DOUBLE)"
        " - CAST(f_x AS DOUBLE) * CAST(f_y AS DOUBLE)"
        " / CAST(n_big AS DOUBLE))"
        " / sqrt(CAST(f_xy AS DOUBLE))) AS BIGINT)"
    )
    w = Window.orderBy(F.col("t_micros").desc(),
                       F.col("x").asc(), F.col("y").asc())
    return (
        big.filter(F.col("f_xy") >= 5)
        .join(F.broadcast(uni_x), "x")
        .join(F.broadcast(uni_y), "y")
        .crossJoin(F.broadcast(n_big))
        .withColumn("t_micros", F.expr(t_expr))
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 10)
        .select("rnk", "x", "y", "f_xy", "t_micros")
    )


# ---------------------------------------------------------------------------
# Wave 46: snapshot rename + full-outer stream join
# ---------------------------------------------------------------------------

def snapshot_rename_column(spark, sf_dir):
    """METADATA-ONLY COLUMN RENAME on the snapshot table — the Iceberg
    rename semantic after add-column evolution and time travel: two
    appends commit (doc_id, lang, n_chars), the rename to char_count
    touches ZERO data files (pinned: the new manifest carries the
    parent's dirs verbatim), a third append WRITES WITH THE NEW NAME
    (write_snapshot maps it back to disk-name space, Iceberg's
    field-id indirection as a name mapping), and the full read
    aggregates under char_count while the PRE-rename snapshot still
    time-travel-reads as n_chars."""
    from .storage import (
        _read_manifest,
        read_snapshot,
        rename_column,
        write_snapshot,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    base = _stream_base(spark, "rencol_")
    path = f"{base}/tbl"
    write_snapshot(docs.filter("doc_id < 150"), path, mode="append")
    write_snapshot(
        docs.filter("doc_id >= 150 AND doc_id < 300"), path, mode="append"
    )
    snap = rename_column(path, "n_chars", "char_count")
    # metadata-only pin: the rename commit carries the dirs verbatim
    same_dirs = int(
        _read_manifest(path, snap)["dirs"]
        == _read_manifest(path, snap - 1)["dirs"]
    )
    third = docs.filter("doc_id >= 300").withColumnRenamed(
        "n_chars", "char_count"
    )
    write_snapshot(third, path, mode="append")
    pre = read_snapshot(spark, path, as_of=2)
    old_name_visible = int("n_chars" in pre.columns)
    cur = read_snapshot(spark, path)
    new_name_visible = int(
        "char_count" in cur.columns and "n_chars" not in cur.columns
    )
    return (
        cur.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("char_count").alias("total_chars"),
        )
        .selectExpr(
            "lang", "n_docs", "total_chars",
            f"CAST({same_dirs} AS INT) AS rename_was_metadata_only",
            f"CAST({old_name_visible} AS INT) AS pre_snapshot_has_old_name",
            f"CAST({new_name_visible} AS INT) AS head_has_new_name",
        )
        .orderBy("lang")
    )


def streaming_full_outer_join(spark, sf_dir):
    """Stream-stream FULL OUTER interval join drained to parquet — the
    last join mode (inner r03, left r05): both sides evict, so
    watermark-proven-unmatched CLICKS and VIEWS each emit their NULL
    row.  Same chronological-chunk + filler-batch discipline as the
    left join (gotchas 16a/16c); the comparison bound keeps both
    eviction horizons provably under the final global watermark, and
    the oracle is the plain batch FULL JOIN under the same bounds."""
    import datetime as _dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from . import streaming as STR

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    in_dir, out, ck = _drain_dirs(spark, "sfj_")
    t = pq.read_table(f"{sf_dir}/events.parquet")
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
    for k in range(2):
        chunks.append(os.path.join(in_dir, f"chunk-{k:02d}.parquet"))
        pq.write_table(
            t.slice(k * n // 2, (k + 1) * n // 2 - k * n // 2), chunks[-1]
        )
    filler = t.filter(pa.compute.equal(t["event_type"], "signup")).slice(0, 4)
    for k in range(2):
        chunks.append(os.path.join(in_dir, f"chunk-9{k}-filler.parquet"))
        pq.write_table(filler, chunks[-1])
    # the chronological-chunk -> monotone-watermark contract needs the
    # drain's batches in write order
    _pin_batch_order(chunks)

    with _drain_confs(spark, nodata=False):
        STR.stream_interval_join_full(spark, in_dir, out, ck,
                                      emit_before="2024-01-10 00:00:00")
    return (
        spark.read.parquet(out)
        .filter(F.expr(
            "COALESCE(c_ts, v_ts) < TIMESTAMP '2024-01-09 00:00:00'"
        ))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.expr(
                "CASE WHEN click_id IS NOT NULL AND view_id IS NOT NULL"
                " THEN 1 ELSE 0 END")).alias("n_matched"),
            F.sum(F.expr(
                "CASE WHEN view_id IS NULL THEN 1 ELSE 0 END"
            )).alias("n_click_only"),
            F.sum(F.expr(
                "CASE WHEN click_id IS NULL THEN 1 ELSE 0 END"
            )).alias("n_view_only"),
            F.sum(F.expr("COALESCE(click_id, 0) + COALESCE(view_id, 0)"))
            .alias("id_chk"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Wave 47: char-bigram LM score + vocab coverage curve
# ---------------------------------------------------------------------------

def doc_char_lm_score(spark, sf_dir):
    """CHARACTER-BIGRAM LM QUALITY SCORE — the gibberish detector of
    curation pipelines, in the log-free form the oracle contract
    demands (perplexity's logs are unparityable; the MEAN TRANSITION
    PROBABILITY in ppm carries the same ordering for filtering): score
    each doc as AVG over its transitions of floor(1e6·c(xy)/c(x·));
    resubstitution, which the oracle mirrors.

    Plan shape (r05 perf pass, 9.4 s -> measured below at sf0.1): ONE
    character explode feeding a map-side-combined (doc, xy) count —
    the only big exchange carries distinct-bigrams-per-doc rows, not
    char rows — then the corpus model c(xy) is a rollup OF THOSE
    COUNTS and c(x·) a rollup of c(xy) (exact: both count the same
    transition positions), both broadcast back.  The naive form
    (explode 3x, join at char grain, shuffle char rows) is what this
    replaces; per-doc sums weight each distinct bigram by its count —
    row-identical to the per-transition fold."""
    # r06: _spread — the char-grain explode + (doc, xy) partial
    # aggregate is the query's hot stage and otherwise runs in the
    # corpus scan's single task (guide §2.5; no-op on a wide scan)

    docs = _spread(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    pd_xy = (
        docs.filter("length(text) >= 2").selectExpr(
            # ADVICE r05 guard: 1-char docs make the sequence descend
            # (vacuous on the fixture; DuckDB's series is empty)
            "doc_id", "lang",
            "explode(sequence(1, length(text) - 1)) AS i",
            "text",
        )
        .selectExpr("doc_id", "lang", "substring(text, i, 2) AS xy")
        .groupBy("doc_id", "lang", "xy")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    c_xy = pd_xy.groupBy("xy").agg(F.sum("cnt").alias("n_xy"))
    c_x = (
        c_xy.selectExpr("substring(xy, 1, 1) AS x", "n_xy")
        .groupBy("x")
        .agg(F.sum("n_xy").alias("n_x"))
    )
    weights = (
        c_xy.join(c_x, F.expr("substring(xy, 1, 1) = x"))
        .selectExpr("xy", "n_xy * 1000000 DIV n_x AS p_ppm")
    )
    per_doc = (
        pd_xy.join(F.broadcast(weights), "xy")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("cnt").alias("n_trans"),
            F.sum(F.expr("cnt * p_ppm")).alias("sum_ppm"),
        )
        .selectExpr(
            "doc_id", "lang", "n_trans",
            "sum_ppm DIV n_trans AS score_ppm",
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("score_ppm").alias("sum_score_ppm"),
            F.min("score_ppm").alias("min_score_ppm"),
            F.expr("MIN(struct(score_ppm, doc_id)).doc_id")
            .alias("worst_doc"),
        )
        .selectExpr(
            "lang", "n_docs",
            "sum_score_ppm DIV n_docs AS mean_score_ppm",
            "min_score_ppm", "worst_doc",
        )
        .orderBy("lang")
    )


def vocab_coverage_curve(spark, sf_dir):
    """VOCABULARY COVERAGE CURVE — what share of all token occurrences
    the top-2^i words cover, i = 1..10 (the curve a tokenizer design
    reads before fixing vocab size; Zipf's law makes it concave, which
    the pytest pins as monotonicity).  One token explode, one
    vocabulary-sized ranking window, exact cumulative BIGINTs; the
    rank→tier mapping is a CASE on powers of two, so the result is 10
    rows regardless of corpus size."""
    toks = (
        _t(spark, sf_dir, "documents")
        .selectExpr("explode(split(text, ' ')) AS w")
        .filter("w != ''")
    )
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    ranked = vocab.selectExpr(
        "w", "n",
        "ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rnk",
    ).selectExpr(
        "n", "rnk",
        "SUM(n) OVER (ORDER BY rnk"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum",
    )
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    levels = spark.range(1, 11).selectExpr(
        "CAST(id AS INT) AS i", "CAST(pow(2, id) AS BIGINT) AS k"
    )
    at_k = (
        ranked.crossJoin(F.broadcast(levels))
        .filter("rnk <= k")
        .groupBy("i", "k")
        .agg(F.max("cum").alias("covered"))
    )
    return (
        at_k.crossJoin(F.broadcast(total))
        .selectExpr(
            "i", "k", "covered", "total",
            "covered * 1000000 DIV total AS coverage_ppm",
        )
        .orderBy("i")
    )


# ---------------------------------------------------------------------------
# Wave 48: n-gram novelty + dedup impact report
# ---------------------------------------------------------------------------

def doc_ngram_novelty(spark, sf_dir):
    """N-GRAM NOVELTY — what fraction of each document's word 5-gram
    shingles appears in NO earlier document (doc_id order): the
    memorization/duplication growth curve a curation pipeline tracks
    as a corpus accretes (a shingle is "owned" by its MIN doc_id, so
    novelty needs one explode + one min-agg + one equi-join — no
    pairwise anything, scale-safe by construction).  Shingles via
    explode(sequence) + codegen'd projection (gotcha 16b's fast form).
    Per-lang rollup: mean novelty in ppm + the least-novel doc."""
    # r06: _spread — shingle explode + per-doc partial agg otherwise
    # runs inside the single-split scan task (guide §2.5)

    docs = _spread(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    sh = (
        docs.selectExpr(
            "doc_id", "lang",
            "split(text, ' ') AS w",
        )
        .filter("size(w) >= 5")  # ADVICE r05 guard: short docs make
        # the sequence descend and slice() raise; DuckDB emits nothing
        .selectExpr(
            "doc_id", "lang",
            "explode(sequence(0, size(w) - 5)) AS i", "w",
        )
        .selectExpr(
            "doc_id", "lang",
            "concat_ws(' ', slice(w, i + 1, 5)) AS shingle",
        )
    )
    per_sh = sh.groupBy("doc_id", "lang", "shingle").agg(
        F.count(F.lit(1)).alias("cnt")
    ).localCheckpoint()  # feeds owners AND the novelty join
    owners = per_sh.groupBy("shingle").agg(F.min("doc_id").alias("owner"))
    per_doc = (
        per_sh.join(owners, "shingle")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("cnt").alias("n_shingles"),
            F.sum(F.expr(
                "CASE WHEN owner = doc_id THEN cnt ELSE 0 END"
            )).alias("n_novel"),
        )
        .selectExpr(
            "doc_id", "lang", "n_shingles", "n_novel",
            "n_novel * 1000000 DIV n_shingles AS novelty_ppm",
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_shingles").alias("total_shingles"),
            F.sum("n_novel").alias("total_novel"),
            F.sum("novelty_ppm").alias("sum_novelty_ppm"),
            F.expr("MIN(struct(novelty_ppm, doc_id)).doc_id")
            .alias("least_novel_doc"),
        )
        .selectExpr(
            "lang", "n_docs", "total_shingles", "total_novel",
            "sum_novelty_ppm DIV n_docs AS mean_novelty_ppm",
            "least_novel_doc",
        )
        .orderBy("lang")
    )


def dedup_impact_report(spark, sf_dir):
    """DEDUP IMPACT REPORT — the before/after accounting a curation
    run publishes: corpus size in docs and whitespace tokens, then
    what survives EXACT dedup (md5 of raw text) and NORMALIZED dedup
    (lower + collapsed whitespace — the cheap canonicalization tier
    below MinHash/SimHash): keeper = min doc_id per group, surviving
    tokens = the keepers' tokens.  Two hash aggs per tier over
    fingerprints, never text pairs; one row per lang."""
    docs = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id", "lang",
        "size(split(text, ' ')) AS n_tokens",
        "md5(text) AS h_exact",
        "md5(regexp_replace(lower(text), ' +', ' ')) AS h_norm",
    )

    def tier(col, pre):
        keep = docs.groupBy("lang", col).agg(
            F.min("doc_id").alias("keeper"),
            F.max("n_tokens").alias("tok1"),
        )
        return keep.groupBy("lang").agg(
            F.count(F.lit(1)).alias(f"{pre}_docs"),
            F.sum("tok1").alias(f"{pre}_tokens"),
        )

    base = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    return (
        base.join(tier("h_exact", "exact"), "lang")
        .join(tier("h_norm", "norm"), "lang")
        .selectExpr(
            "lang", "n_docs", "n_tokens",
            "exact_docs", "exact_tokens", "norm_docs", "norm_tokens",
            "exact_tokens * 1000000 DIV n_tokens AS exact_keep_ppm",
            "norm_tokens * 1000000 DIV n_tokens AS norm_keep_ppm",
        )
        .orderBy("lang")
    )


QUERIES_R5G = {
    "doc_ngram_novelty": doc_ngram_novelty,
    "dedup_impact_report": dedup_impact_report,
    "doc_char_lm_score": doc_char_lm_score,
    "vocab_coverage_curve": vocab_coverage_curve,
    "snapshot_rename_column": snapshot_rename_column,
    "streaming_full_outer_join": streaming_full_outer_join,
    "doc_collocation_tscore": doc_collocation_tscore,
    "image_palette_mediancut": image_palette_mediancut,
    "image_template_match": image_template_match,
    "roads_simplify_vw": roads_simplify_vw,
    "events_attribution_linear": events_attribution_linear,
    "ann_matryoshka_recall": ann_matryoshka_recall,
    "multimodal_audio_biquad": multimodal_audio_biquad,
    "events_cuped_eval": events_cuped_eval,
    "events_permutation_test": events_permutation_test,
    "orders_holt_linear": orders_holt_linear,
    "community_modularity": community_modularity,
    "doc_lang_classifier": doc_lang_classifier,
    # streaming_tws_totals is env-gated: see its docstring (protobuf)
    "polyline_roundtrip_roads": polyline_roundtrip_roads,
    "image_haar_energy": image_haar_energy,
    "image_seam_carve": image_seam_carve,
    "events_nelson_aalen": events_nelson_aalen,
    "doc_term_chisq": doc_term_chisq,
    "avro_roundtrip_events": avro_roundtrip_events,
    "sql_udf_revenue": sql_udf_revenue,
    "session_variable_segments": session_variable_segments,
    "arrow_doc_stats": arrow_doc_stats,
    "grouped_agg_user_median": grouped_agg_user_median,
}
