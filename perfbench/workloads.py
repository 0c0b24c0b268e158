"""The perfbench workloads.  Each one builds its inputs (rai_points from
the seed; session_mix from committed tables), knows its reference
outputs, and hands the runner a list of items: one item is one
closed-loop iteration (build a DataFrame through the engine's public
functions, collect it, check it).

rai_points  — the vector half of the Rural Access Index:
              with_near_road_flag → assign_countries(level=9) → per-country
              aggregate over seeded harness points plus dense urban cells.
session_mix — one long-lived session cycling a fixed, family-stratified
              set of registered queries (graph loops, relational, text,
              ANN, lakehouse writes, streaming drains) plus the raster
              half (jobs.rai.rai_summaries over the image fixture).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sdg_engine import fixtures as FX
from sdg_engine import harness as H
from sdg_engine import paritycheck as PC

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES_SF001 = os.path.join(HERE, "data", "sf0.01")


class Item:
    """One iteration: ``build(spark)`` returns the DataFrame to collect;
    ``check(pdf)`` returns (ok, message).  ``n_items`` is how many
    workload items (points, queries) one iteration completes."""

    def __init__(self, name, family, build, check, n_items=1, flagship=False):
        self.name = name
        self.family = family
        self.build = build
        self.check = check
        self.n_items = n_items
        self.flagship = flagship  # runs the with_near_road_flag → assign_countries chain


class _Collected:
    """Adapter so paritycheck.compare can take an already-collected frame
    (the timed iteration collects once; the check must not re-run it)."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def flagship_frame(pts, segs):
    """The flagship_rai composition over caller-supplied points."""
    from pyspark.sql import functions as F

    from sdg_engine.ops import spatial as SP

    flagged = SP.with_near_road_flag(pts, segs, H.KNN_CUTOFF_M)
    cc = SP.assign_countries(flagged, H.harness_rings(), level=9,
                             id_col="point_id")
    return (
        cc.groupBy("country_code")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(F.when(F.col("near_road"), 1).otherwise(0)).alias("n_near"),
        )
        .withColumn("rai", F.round(
            F.col("n_near").cast("double") / F.col("n_points").cast("double"), 6))
    )


# --- rai_points ---------------------------------------------------------------

class RaiPoints:
    """~495 k points: the sf0.1 harness points (150 k seeded order keys)
    multiplied ``MULT``× with harness.points_df_scaled's arithmetic, plus
    ``DENSE_SHARE`` of that count packed into ``DENSE_CELLS`` boxes of
    side ``DENSE_SIDE`` degrees (the urban-skew case), against the sf0.1
    harness segments (1000 roads) and the harness country rings.

    The points are written to one parquet table rather than passed as a
    union of the two generators: with_near_road_flag over a Union input
    fails in Catalyst's PushProjectionThroughUnion ("key not found:
    rcell"), so the program receives a plain scan."""

    name = "rai_points"
    item = "point"
    # untimed warm iterations after the cold one: the JIT is still
    # speeding the flagship's stages up over the first few
    warmup = 4
    N_ORDERS = 150_000  # sf0.1 orders
    N_SUPPLIERS = 1000  # sf0.1 suppliers
    MULT = 3
    # keys stay below 3e7 so (key*97 + m*31) times the harness hash
    # multipliers (< 2.7e9) fits in int64
    KEY_SPACE = 30_000_000
    DENSE_SHARE = 0.10
    DENSE_CELLS = 3
    DENSE_SIDE = 0.01

    def __init__(self, spark, work: str, seed: int):
        rng = np.random.default_rng(seed)
        self.dir = os.path.join(work, "rai_points")
        os.makedirs(self.dir, exist_ok=True)
        keys = np.sort(rng.choice(self.KEY_SPACE, size=self.N_ORDERS, replace=False))
        ids = (keys[:, None] * 97 + np.arange(self.MULT) * 31).ravel().astype(np.int64)
        # harness.PX / PY: CAST((id * c) % 1000000 AS DOUBLE) / 100000
        lon = ((ids * 2654435761) % 1000000).astype(np.float64) / 100000.0
        lat = ((ids * 2246822519) % 1000000).astype(np.float64) / 100000.0
        n_dense = int(round(ids.size * self.DENSE_SHARE))
        centers = rng.uniform(1.0, 9.0, size=(self.DENSE_CELLS, 2))
        dense = centers[rng.integers(0, self.DENSE_CELLS, size=n_dense)] + rng.uniform(
            -self.DENSE_SIDE / 2, self.DENSE_SIDE / 2, size=(n_dense, 2))
        pts = pa.table({
            # dense ids start above every harness id (< KEY_SPACE*97 + MULT*31)
            "point_id": np.concatenate([ids, np.arange(n_dense, dtype=np.int64) + 10**12]),
            "lon": np.concatenate([lon, dense[:, 0]]),
            "lat": np.concatenate([lat, dense[:, 1]]),
        })
        # row groups small enough that the scan splits across every core
        pq.write_table(pts, os.path.join(self.dir, "points.parquet"), row_group_size=1 << 16)
        pq.write_table(pa.table({"s_suppkey": np.arange(self.N_SUPPLIERS, dtype=np.int64)}),
                       os.path.join(self.dir, "supplier.parquet"))
        self.n_points = pts.num_rows
        self.n_dense = n_dense
        self.reference = self._reference(pts["lon"].to_numpy(), pts["lat"].to_numpy())
        self.points = spark.read.parquet(os.path.join(self.dir, "points.parquet"))

    def _reference(self, lon: np.ndarray, lat: np.ndarray) -> list[tuple]:
        """Per-country (code, n_points, n_near, rai) by an independent
        numpy path: the flagship_rai oracle's segment, distance and
        ray-cast arithmetic (same IEEE operations in the same order),
        with a 1° grid plus a cutoff-wide halo only to prune pairs."""
        s = np.arange(self.N_SUPPLIERS, dtype=np.int64)
        ax = ((s * 131) % 1000).astype(np.float64) / 100.0  # harness.AX .. BY
        ay = ((s * 211) % 1000).astype(np.float64) / 100.0
        dx = (ax + ((s * 37) % 41 - 20).astype(np.float64) / 50.0) - ax
        dy = (ay + ((s * 53) % 41 - 20).astype(np.float64) / 50.0) - ay
        len2 = (dx * dx) + (dy * dy)
        halo = H.KNN_CUTOFF_M / 111320.0 + 0.01
        x0, x1 = np.minimum(ax, ax + dx) - halo, np.maximum(ax, ax + dx) + halo
        y0, y1 = np.minimum(ay, ay + dy) - halo, np.maximum(ay, ay + dy) + halo
        cell = np.floor(lon).astype(np.int64) * 1000 + np.floor(lat).astype(np.int64)
        near = np.zeros(lon.size, dtype=bool)
        for c in np.unique(cell):
            gx, gy = divmod(int(c), 1000)
            sg = np.flatnonzero((np.floor(x0) <= gx) & (gx <= np.floor(x1))
                                & (np.floor(y0) <= gy) & (gy <= np.floor(y1)))
            ip = np.flatnonzero(cell == c)
            px, py = lon[ip, None], lat[ip, None]
            with np.errstate(invalid="ignore", divide="ignore"):
                t = np.where(len2[sg] > 0.0, np.minimum(1.0, np.maximum(
                    0.0, (((px - ax[sg]) * dx[sg]) + ((py - ay[sg]) * dy[sg])) / len2[sg])), 0.0)
            ex = px - (ax[sg] + t * dx[sg])
            ey = py - (ay[sg] + t * dy[sg])
            near[ip] = (np.sqrt((ex * ex) + (ey * ey)) * 111320.0 <= H.KNN_CUTOFF_M).any(axis=1)
        inside: dict[str, np.ndarray] = {}
        for cc, ex0, ey0, ex1, ey1 in H.ring_edge_rows():
            with np.errstate(invalid="ignore", divide="ignore"):
                cross = ((ey0 <= lat) != (ey1 <= lat)) & (
                    (ex0 + ((lat - ey0) * (ex1 - ex0) / (ey1 - ey0))) > lon)
            inside[cc] = inside.get(cc, np.zeros(lon.size, dtype=bool)) ^ cross
        out = []
        for cc in sorted(inside):
            n, k = int(inside[cc].sum()), int((inside[cc] & near).sum())
            if n:
                out.append((cc, n, k, round(k / n, 6)))
        return out

    def _build(self, spark):
        return flagship_frame(self.points, H.segments_df(spark, self.dir))

    def _check(self, pdf):
        got = sorted((r.country_code, int(r.n_points), int(r.n_near), float(r.rai))
                     for r in pdf.itertuples(index=False))
        want = self.reference
        # counts exactly; rai to 1e-6 (Spark and Python round ties differently)
        if len(got) == len(want) and all(
                g[:3] == w[:3] and abs(g[3] - w[3]) <= 1e-6 for g, w in zip(got, want)):
            return True, f"OK ({len(got)} countries)"
        return False, f"got {got} want {want}"

    def items(self):
        it = Item("rai_points", "spatial", self._build, self._check,
                  n_items=self.n_points, flagship=True)
        return it, [it]

    def context(self) -> dict:
        return {"points": self.n_points, "dense_points": self.n_dense,
                "dense_cells": self.DENSE_CELLS, "mult": self.MULT,
                "roads": self.N_SUPPLIERS}

    def spatial_probe(self, spark) -> dict:
        """kNN candidate pairs per input point: the (point, segment)
        pairs that share a ring cell in with_near_road_flag's own cell
        join, counted through the public cell functions."""
        from pyspark.sql import functions as F

        from sdg_engine.ops import spatial as SP

        level = SP.level_for_cutoff(H.KNN_CUTOFF_M)
        probe = SP.with_point_cell(self.points, level, "lon", "lat", "_ncell")
        build = SP.with_kring(
            SP.segments_with_cells(H.segments_df(spark, self.dir), level, k_expand=0),
            level, 1, "cell_id", "ring_cell_id", idx_cols=("cell_id_ix", "cell_id_iy"),
        ).groupBy("ring_cell_id").agg(F.count(F.lit(1)).alias("k"))
        pairs = (probe.join(build, probe["_ncell"] == build["ring_cell_id"])
                 .agg(F.sum("k")).collect()[0][0]) or 0
        return {"cand_pairs": int(pairs), "points": self.n_points}


# --- session_mix --------------------------------------------------------------

# Fixed membership and order (round-robin over the families).  The order
# is not seeded: which query pays a cold cost shared by its family (the
# first lakehouse commit, the first streaming start) moves the per-query
# median by ~30 % between orders, far more than run-to-run noise.  The
# many short relational queries keep the middle of the per-query time
# distribution dense, so its median and tail do not jump between the few
# heavy items; the whole cycle fits one run on a 4-CPU host.
SESSION_MIX = {
    "graph": ["mst_roads"],
    "spatial": ["spatial_knn_nearest"],
    "relational": ["q1_pricing_summary", "q3_big_building_orders",
                   "q5_nation_revenue", "q6_revenue_band", "q10_returned_revenue",
                   "q12_priority_lines", "q13_order_distribution", "q14_promo_share",
                   "q18_large_volume_orders", "q19_bracketed_revenue",
                   "window_top3_orders", "pivot_orders_status",
                   "anti_join_customers", "semi_join_parts", "agg_stats_orders"],
    "text": ["dedup_exact", "tfidf_top_terms", "doc_token_stats"],
    "ann": ["ann_cosine_topk"],
    "lakehouse": ["snapshot_time_travel", "snapshot_merge_upsert"],
    "streaming": ["streaming_session_window"],
}
# The cold first iteration.  A plain SQL query, so the cold Python-worker
# and dims-publish costs land on the cycle's first item that needs them
# (rai_points measures the flagship's own cold start).
OPENER = "q1_pricing_summary"
RAI_TILES_SF = 0.001  # the committed rai_summary.json golden's scale


class SessionMix:
    name = "session_mix"
    item = "query"
    warmup = 0  # every cycle item is a different query; a warm-up cycle would double the run

    def __init__(self, spark, work: str, seed: int):
        from sdg_engine.jobs.rai import fixture_dir
        from sdg_engine.oracles import all_oracles

        self.sf_dir = TABLES_SF001
        oracles = all_oracles()
        names = [OPENER] + [q for qs in SESSION_MIX.values() for q in qs]
        self.expected = {q: PC.run_oracle(oracles[q], self.sf_dir) for q in names}
        fx = fixture_dir(RAI_TILES_SF, base=os.path.join(work, "fixture_cache"))
        self.images = spark.read.parquet(os.path.join(fx, "images.parquet"))
        self.roads = spark.read.parquet(os.path.join(fx, "roads.parquet"))
        self.fixture = fx
        self.n_tiles = pq.read_metadata(os.path.join(fx, "images.parquet")).num_rows
        gold = os.path.join(os.path.dirname(HERE), "tests", "goldens", "rai_summary.json")
        with open(gold) as f:
            self.rai_golden = json.load(f)

    def _query(self, name, family):
        from sdg_engine.queries import QUERIES

        builder = QUERIES[name]
        want = self.expected[name]
        return Item(name, family, lambda spark: builder(spark, self.sf_dir),
                    lambda pdf: PC.compare(_Collected(pdf), want))

    def _rai_tiles_build(self, spark):
        from sdg_engine.jobs.rai import rai_summaries

        _per_image, per_country = rai_summaries(spark, self.images, self.roads)
        return per_country.orderBy("country_code")

    def _rai_tiles_check(self, pdf):
        # tolerances of tests/test_goldens.py::test_golden_rai_summary
        want = self.rai_golden
        if len(pdf) != len(want):
            return False, f"{len(pdf)} countries, want {len(want)}"
        for r, w in zip(pdf.to_dict("records"), want):
            if (r["country_code"], r["n_images"], r["n_near"]) != (
                    w["country_code"], w["n_images"], w["n_near"]):
                return False, f"got {r} want {w}"
            if (abs(r["pop_total"] - w["pop_total"]) >= 1e-2
                    or abs(r["pop_near"] - w["pop_near"]) >= 1e-2
                    or abs(r["rai"] - w["rai"]) >= 1e-6):
                return False, f"got {r} want {w}"
        return True, f"OK ({len(pdf)} countries)"

    def items(self):
        fams = [[self._query(q, fam) for q in qs] for fam, qs in SESSION_MIX.items()]
        fams.append([Item("rai_tiles", "image", self._rai_tiles_build,
                          self._rai_tiles_check)])
        cycle = [f[i] for i in range(max(map(len, fams))) for f in fams if i < len(f)]
        return self._query(OPENER, "relational"), cycle

    def context(self) -> dict:
        return {"queries_per_cycle": sum(map(len, SESSION_MIX.values())) + 1,
                "tables": "sf0.01", "rai_tiles": self.n_tiles}

    def kernel_probe(self, n_tiles: int = 64) -> dict:
        """Driver-side per-tile cost of the raster kernels (burn +
        chamfer) and the payload decoder on a fixed tile sample."""
        import time

        from sdg_engine.codecs import decode_image
        from sdg_engine.ops import raster as RS

        tiles = pq.read_table(os.path.join(self.fixture, "images.parquet"),
                              columns=["image_id", "bytes", "fmt", "w", "h"]
                              ).slice(0, n_tiles).to_pylist()
        segs = np.array([(a["x"], a["y"], b["x"], b["y"])
                         for r in FX.roads_records(RAI_TILES_SF)
                         for a, b in zip(r["coords"], r["coords"][1:])])
        t_dec = t_ras = 0.0
        for t in tiles:
            fp = FX.footprint_of(t["image_id"], int(t["image_id"][3:]))
            t0 = time.perf_counter()
            decode_image(t["bytes"], t["fmt"], t["w"], t["h"])
            t1 = time.perf_counter()
            RS.chamfer_distance(RS.burn_mask(t["w"], t["h"], *fp, segs))
            t2 = time.perf_counter()
            t_dec += t1 - t0
            t_ras += t2 - t1
        return {"decode_ms_per_tile": 1e3 * t_dec / len(tiles),
                "raster_ms_per_tile": 1e3 * t_ras / len(tiles)}


WORKLOADS = {"rai_points": RaiPoints, "session_mix": SessionMix}
