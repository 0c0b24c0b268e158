"""Oracle parity and plan shape for the image-stats family: the 36
per-image stats queries of the one-decode-scaffold table, plus the two
hand-written image queries that read the same golden image selection
(zonal stats and the UTM warp).  Every query is compared with its
committed golden through the canonical diff the full sweep uses; the 36
map-only ones must also run without any Exchange (payload bytes never
shuffle)."""

import pytest

MAP_ONLY_QUERIES = [
    "image_hillshade",
    "image_sobel_edges",
    "image_flow_d8",
    "image_watershed",
    "image_viewshed",
    "image_pit_fill",
    "image_contours",
    "image_regions",
    "image_texture_glcm",
    "image_quadtree",
    "image_slope_aspect",
    "image_strahler",
    "image_hist_equalize",
    "image_morphology",
    "image_tpi_tri",
    "image_flow_length",
    "image_box_downscale",
    "image_median3",
    "image_otsu",
    "image_edt",
    "image_fft_sharpness",
    "image_ssim_recon",
    "image_fast_corners",
    "image_affine_bilinear",
    "image_hough_lines",
    "image_canny_hysteresis",
    "image_harris_corners",
    "image_skeleton_zs",
    "image_lbp_texture",
    "image_canny_nms",
    "image_dither_fs",
    "image_dog_blobs",
    "image_haar_energy",
    "image_seam_carve",
    "image_template_match",
    "image_palette_mediancut",
]

IMAGE_QUERIES = MAP_ONLY_QUERIES + ["image_zonal_stats", "image_warp_utm"]


@pytest.fixture(scope="module")
def oracles():
    from sdg_engine.oracles import all_oracles

    return all_oracles()


@pytest.mark.parametrize("name", IMAGE_QUERIES)
def test_image_query_oracle_parity(spark, sf_dir, oracles, name):
    from sdg_engine.paritycheck import compare, run_oracle
    from sdg_engine.queries import QUERIES

    ok, msg = compare(QUERIES[name](spark, sf_dir), run_oracle(oracles[name], sf_dir))
    assert ok, msg


@pytest.mark.parametrize("name", MAP_ONLY_QUERIES)
def test_image_query_is_map_only(spark, sf_dir, name):
    from sdg_engine.queries import QUERIES

    plan = QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
