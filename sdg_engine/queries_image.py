"""The image-stats family: per-image queries over the golden image
selection, each one kernel on the ONE decode scaffold
(``ops.payload.per_image_stats``).

Every query here is map-only: decode -> pixels -> kernel -> one row per
image, so payload bytes never shuffle (zero Exchange, plan-pinned in
tests/test_images.py).  Every one reads ``golden_images`` and is
oracle-checked against a committed golden from an INDEPENDENT twin in
scripts/make_goldens.py: the twin regenerates the pixels from the
fixture generator SPEC (never the engine codecs) and recomputes the
kernel's SPEC with different mechanics; each entry below says how.

``IMAGE_STATS`` is the table: query name -> (kernel, pixel input,
output schema, what the signal is and how its golden twin differs).
Pixel inputs are ``milli_luma`` (exact int64 BT.601 luma, for the
integer kernels), ``luma`` (float64 BT.601 luma) or ``None`` (the raw
RGB raster).  The wave modules (queries_r5 … queries_r5g) import the
builders from here and register them, so every import path and
registry key is unchanged.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .codecs import luma, milli_luma
from .ops import payload as PL
from .ops.raster import region_kernel
from .qcommon import _fixture_images

# Harness bound of every golden-backed image query: the first 500
# images of the sf0.01 fixture, a deterministic subset BY KEY (an
# unordered LIMIT may pick a different subset across rounds and
# partitionings).
GOLDEN_IMAGE_BOUND = "img000000000500"


def golden_images(spark):
    """The golden image selection: the sf0.01 fixture's first 500
    images, jpg rows excluded.  JPEG decode is lossy and no independent
    JPEG decoder exists to build a twin from (the decode-stats NULL
    policy; jpg pixel fidelity is PSNR-gated in tests/test_jpeg.py), so
    a golden can only cover the lossless formats."""
    images, _roads = _fixture_images(spark)
    return images.filter(
        (F.col("image_id") < GOLDEN_IMAGE_BOUND) & (F.col("fmt") != "jpg")
    )


IMAGE_STATS = {
    "image_hillshade": (
        PL.hillshade_kernel, luma,
        "n_px int, sum_shade bigint, min_shade int, max_shade int",
        """Horn hillshade over the image tiles (luminance-as-elevation):
        decode -> 3x3 focal shade -> integer checksums per image (the
        classic GeoTrellis focal op re-expressed as a map-only Spark
        stage).  Golden: generator pixels + clamp-indexed Horn twin.""",
    ),
    "image_sobel_edges": (
        PL.sobel_stats_kernel, milli_luma,
        "n_px int, n_edges int, sum_mag bigint, max_mag bigint",
        """SOBEL EDGE DENSITY per image — the sharpness/blur curation
        signal (blurry or flat images score low and get filtered before
        training).  Decode -> integer BT.601 luma -> 3x3 Sobel L1
        magnitude -> exact-BIGINT checksums.  Golden: generator pixels
        + clamp-indexed Sobel twin — all integer, so parity is
        trivial.""",
    ),
    "image_flow_d8": (
        PL.d8_flow_stats_kernel, milli_luma,
        "n_px int, n_sinks int, sum_acc bigint, max_acc bigint, chk bigint",
        """D8 FLOW-DIRECTION + ACCUMULATION over the image tiles
        (luminance-as-elevation) — the hydrology terrain op (GeoTrellis
        focal flow/accumulation analogue) next to hillshade: steepest
        descent among the 8 neighbors (clamp borders, strict drop, FIRST
        winner), then acc = 1 + sum(upstream) via ONE high-to-low
        elevation sweep (strict descent makes the flow field a DAG);
        every output is an exact int64.  Golden: generator pixels +
        argmax-stacked targets + memoized postorder DFS — a different
        accumulation algorithm than the engine sweep.""",
    ),
    "image_watershed": (
        PL.watershed_stats_kernel, milli_luma,
        "n_px int, n_basins int, largest_px int, sum_sq bigint, chk bigint",
        """WATERSHED BASIN labeling over the image tiles — partition
        every DEM into its D8 drainage basins (each cell labeled with
        the sink its steepest-descent path terminates at).  Engine
        resolves labels by vectorized POINTER JUMPING (O(log diameter)
        numpy rounds); all-int64 outputs.  Golden: generator pixels +
        stacked-argmax targets + memoized scalar chain walking.""",
    ),
    "image_viewshed": (
        PL.viewshed_stats_kernel, milli_luma,
        "n_px int, n_visible int, sum_vis_lum bigint, chk bigint",
        """VIEWSHED from the center cell (GeoTrellis viewshed analogue,
        luminance-as-elevation): a target is visible iff every exact
        integer-DDA intermediate sample along the ray subtends a
        strictly smaller slope (cross-multiplied rationals — no floats
        anywhere).  Engine: vectorized any-violation sweep over ray
        steps.  Golden: same SPEC, visibility reduced via running
        max-slope rationals instead.""",
    ),
    "image_pit_fill": (
        PL.pit_fill_stats_kernel, milli_luma,
        "n_px int, n_raised int, sum_delta bigint, chk bigint",
        """PRIORITY-FLOOD depression filling (the DEM-conditioning pass
        hydrology pipelines run before flow routing): filled(c) is the
        unique minimax fixpoint max(elev, min over border-reaching
        paths of the path max); all-int64.  Engine: the fixpoint
        iterated as a shifted-view Bellman recurrence.  Golden: cells
        settled once each off a min-heap seeded with the border ring
        (Barnes et al. 2014 recipe).""",
    ),
    "image_contours": (
        PL.marching_squares_stats, luma,
        "n_cells int, n_crossed int, n_segments int, sum_case bigint",
        """Marching-squares contour stats at iso-luminance 128 per image
        (the raster->vector contouring op): decode -> case grid ->
        integer segment/case sums.  Golden: generator pixels + explicit
        16-entry LUT twin.""",
    ),
    "image_regions": (
        region_kernel, luma,
        "n_regions int, largest_px int, n_fg int",
        """Connected-region stats of the iso-128 mask per image (the
        region-group / polygonize precursor): scan-line union-find
        inside a map-only stage.  Golden: independent flood fill.""",
    ),
    "image_texture_glcm": (
        PL.glcm_features, milli_luma,
        "n_pairs int, contrast bigint, energy bigint, homog_mils bigint",
        """GLCM TEXTURE features (Haralick contrast / energy /
        homogeneity) — the texture-curation signal separating flat or
        synthetic images from natural ones: 16-level quantized luma,
        unnormalized co-occurrence over the right+down offsets, integer
        features only (homogeneity uses per-cell integer DIV by
        1+(i-j)^2, never a float fold).  Golden: scatter-add matrix
        twin vs the engine's flat bincount.""",
    ),
    "image_quadtree": (
        PL.quadtree_stats_kernel, milli_luma,
        "n_px int, n_leaves int, max_depth int, sum_range bigint, "
        "sum_depth_px bigint",
        """QUADTREE homogeneous-block compression stats — the engine's
        spatial quadtree family adapted to CONTENT (GeoTrellis-world:
        pyramid/quad decomposition): a block is a leaf iff its luma
        range <= 8000, else it splits in 4.  All-integer.  Golden:
        leaves selected BOTTOM-UP on vectorized min/max pyramids
        (equivalent by range monotonicity under containment; a
        genuinely different algorithm than the engine's top-down split
        stack).""",
    ),
    "image_slope_aspect": (
        PL.slope_aspect_kernel, milli_luma,
        "n_px int, n_flat bigint, hist_chk bigint, n_steep bigint, "
        "sum_s2 bigint",
        """SLOPE / ASPECT classification (the terrain derivative the
        reference's GeoTrellis stack publishes next to hillshade): Horn
        3x3 gradients on the milli-luma DEM under clamp borders, aspect
        bucketed into 8 octants by a first-match INTEGER rule (no atan2
        — sign/magnitude comparisons only, so parity is exact), slope
        energy gx^2+gy^2 as int64.  Golden: generator pixels + np.ix_
        clamp gathers + a scalar per-pixel octant chain vs the engine's
        pad-slice np.select.""",
    ),
    "image_strahler": (
        PL.strahler_stats_kernel, milli_luma,
        "n_px int, max_order bigint, sum_order bigint, n_ge2 bigint, "
        "chk bigint",
        """STRAHLER STREAM ORDER over the D8 flow DAG — the
        stream-network hierarchy op completing the hydrology family
        (flow -> accumulation -> watershed -> order): order 1 at leaves,
        +1 where >= 2 upstream branches of equal max order meet.
        Engine: ONE high-to-low elevation sweep (strict drop means
        upstream orders are final before their target folds them);
        exact int64.  Golden: stacked-argmax targets + memoized
        postorder DFS.""",
    ),
    "image_hist_equalize": (
        PL.hist_equalize_kernel, milli_luma,
        "n_px int, sum_eq bigint, n_levels_out bigint, max_eq bigint, "
        "chk bigint",
        """HISTOGRAM EQUALIZATION stats — the contrast-normalization
        step of an imagery ingest pipeline, as the classic integer remap
        eq(v) = (cdf(v) - cdfmin) * 255 // (npx - cdfmin) over 256 luma
        levels (all integer division — exact at any partitioning).
        Golden: scalar counting-dict CDF vs the engine's
        bincount/cumsum LUT.""",
    ),
    "image_morphology": (
        PL.morphology_kernel, milli_luma,
        "n_px int, sum_erode bigint, sum_dilate bigint, n_edge bigint, "
        "chk bigint",
        """3x3 MORPHOLOGY (erosion / dilation / morphological gradient)
        under clamp borders — the denoise/edge-strength curation signal
        next to Sobel; min/max filters are also the focal-statistics
        primitive of the raster family.  Engine: edge-replicated pad + 8
        contiguous slice min/maxes (views, never gathers); exact int64.
        Golden: np.ix_ clamp gathers per offset.""",
    ),
    "image_tpi_tri": (
        PL.tpi_tri_kernel, milli_luma,
        "n_px int, sum_tri bigint, max_tri bigint, n_ridge bigint, "
        "n_valley bigint, chk bigint",
        """TPI / TRI terrain indexes (Weiss topographic position; Riley
        ruggedness) — the landform-classification signals next to
        slope/aspect: TPI = 8*center - neighborhood sum (ridge/valley
        when |TPI| clears the milli-luma threshold), TRI = sum of
        absolute neighbor differences.  All-int64.  Golden: generator
        pixels + np.ix_ clamp gathers vs the engine's pad slices.""",
    ),
    "image_flow_length": (
        PL.flow_length_kernel, milli_luma,
        "n_px int, n_sinks int, sum_len bigint, max_len bigint, "
        "chk bigint",
        """D8 DOWNSTREAM FLOW LENGTH — the hydrology distance-to-outlet
        op completing the flow family (direction -> accumulation ->
        watershed -> order -> LENGTH): per-cell path length along the
        steepest-descent chain to its sink, integer 10/14
        cardinal/diagonal weights decided by the EFFECTIVE
        (clamp-degraded) displacement.  Engine: vectorized pointer
        jumping with additive lengths (O(log path) rounds); exact int64.
        Golden: stacked-argmax targets + memoized scalar chain walks.""",
    ),
    "image_box_downscale": (
        PL.box_downscale_kernel, milli_luma,
        "n_out int, sum_ds bigint, max_ds bigint, min_ds bigint, "
        "chk bigint",
        """2x BOX-FILTER DOWNSCALE — the image-pyramid level every
        multiresolution serving/training pipeline materializes (the
        raster twin of the cell-rollup spatial_pyramid): each output
        pixel is the integer mean of a 2x2 milli-luma block
        ((a+b+c+d) DIV 4 — exact at any partitioning).  Golden:
        generator pixels + reshape blocks vs the engine's strided
        slices.""",
    ),
    "image_median3": (
        PL.median3_kernel, milli_luma,
        "n_px int, sum_med bigint, n_changed bigint, max_absdiff bigint, "
        "chk bigint",
        """3x3 MEDIAN FILTER stats — the order-statistic denoiser
        completing the focal family (morphology has min/max, TPI/TRI
        the linear stats): median of 9 = 5th smallest, exact integer at
        any partitioning.  Golden: generator pixels + sorted np.ix_
        clamp gathers vs the engine's pad-slice np.partition.""",
    ),
    "image_otsu": (
        PL.otsu_kernel, milli_luma,
        "thr int, n_fg bigint, sum_fg bigint, chk bigint",
        """OTSU THRESHOLD per image — the classic histogram-based
        binarization (the segmentation step before region labeling).
        Exact: the between-class-variance argmax is compared as
        cross-multiplied arbitrary-precision integers (the squared
        numerator overflows int64), smallest-t tie-break.  Golden:
        Counter histogram + incremental running sums + Fraction compare
        vs the engine's bincount cumsums.""",
    ),
    "image_edt": (
        PL.edt_kernel, milli_luma,
        "n_px int, n_fg bigint, sum_d2 bigint, max_d2 bigint, chk bigint",
        """EXACT squared EUCLIDEAN DISTANCE TRANSFORM to the nearest
        bright pixel — the exact companion to image_cost_distance's
        chamfer 3-4 approximation (proximity rasters, buffer masks).
        Golden: the INDEPENDENT Felzenszwalb-Huttenlocher lower-envelope
        algorithm with exact Fraction hull intersections (vs the
        engine's nearest-seed scans + vectorized offset broadcast).""",
    ),
    "image_fft_sharpness": (
        PL.fft_sharpness_kernel, milli_luma,
        "n_px int, hf_ratio_micros bigint, peak_u int, peak_v int",
        """FFT SHARPNESS: fraction of spectral energy above a quarter-
        Nyquist radius — the frequency-domain blur/sharpness curation
        signal next to Sobel's spatial one.  The 2-D rfft runs on the
        exact integer milli-luma raster; the mask is a pure-integer
        wavenumber-radius compare; energies are float64 with the argmax
        over non-DC magnitude deterministic (first max).  Golden: the
        twin regenerates the pixels from the generator SPEC and runs the
        same in-process rfft2 (the decode_stats precedent — the DECODE
        path is what the comparison exercises).""",
    ),
    "image_ssim_recon": (
        PL.ssim_recon_kernel, milli_luma,
        "n_px int, sum_recon bigint, ssim_micros bigint, chk bigint",
        """GLOBAL SSIM of the 2x box-downscale + nearest-upsample
        reconstruction — the perceptual quality metric beyond PSNR (X3):
        how much signal a pyramid level loses, per image.  Moment sums
        are exact int64; one SPEC'd double chain evaluates the closed
        form and FLOORs to micros.  Golden: independent mechanics
        (reshape blocks + np.kron + python-int sums vs strided slices +
        np.repeat + numpy sums).""",
    ),
    "image_fast_corners": (
        PL.fast_corner_kernel, milli_luma,
        "n_interior int, n_corners bigint, n_bright bigint, "
        "n_dark bigint, chk bigint",
        """FAST-12 CORNER DETECTION (the keypoint/texture curation
        signal next to Sobel and Harris-free GLCM): a pixel is a corner
        when some CONTIGUOUS circular arc of >= 12 of its 16
        Bresenham-circle neighbors is uniformly brighter (or darker)
        than center +- t.  Pure-integer comparisons on milli-luma;
        interior pixels only.  Engine: 16 shifted views -> packed 16-bit
        codes -> sliced circular AND; golden twin: the SAME codes
        through a 65536-entry max-run LOOKUP TABLE built scalar — two
        different run detectors.""",
    ),
    "image_affine_bilinear": (
        PL.affine_bilinear_kernel, milli_luma,
        "n_sampled bigint, sum_out bigint, max_out bigint, chk bigint",
        """AFFINE ROTATION with FIXED-POINT BILINEAR resampling — the
        interpolation family the nearest-neighbour CRS warp deliberately
        avoided, made hash-exact: the inverse-rotation matrix is an
        integer 16.16 fixed-point literal, source coordinates stay
        integral on a doubled grid, and the bilinear weights quantize to
        1/256 BEFORE the blend so every output pixel is one exact
        integer expression.  Out-of-bounds samples are skipped
        (counted).  Golden: gather-based mechanics.""",
    ),
    "image_hough_lines": (
        PL.hough_lines_kernel, milli_luma,
        "n_edges bigint, best_votes bigint, best_theta bigint, "
        "best_rho bigint, chk bigint",
        """DOMINANT-LINE HOUGH TRANSFORM over the certified Sobel edge
        map — the straight-structure curation signal (documents/
        buildings/horizons score high, natural texture low).  ALL
        INTEGER: 12 fixed-point 15-degree theta bins, 4-pixel rho bins,
        votes by bincount; argmax tie-break is the smallest (theta,
        rho), and the checksum folds votes^2 over the accumulator so the
        full vote surface is oracle-visible.  Golden: np.add.at scatter
        mechanics over clamp-indexed generator pixels.""",
    ),
    "image_canny_hysteresis": (
        PL.canny_hysteresis_kernel, milli_luma,
        "n_weak bigint, n_strong bigint, n_final bigint, chk bigint",
        """TWO-THRESHOLD HYSTERESIS EDGE LINKING (the Canny stage after
        the gradient): weak edges survive only when 8-connected —
        through other weak pixels — to a strong edge, killing isolated
        noise while keeping faint continuations of real contours.  The
        engine kernel is a vectorized dilation fixpoint; the golden twin
        floods with a scalar BFS deque over clamp-indexed generator
        pixels — two different algorithms meeting at the unique
        connected closure.  Every output is an exact integer.""",
    ),
    "image_harris_corners": (
        PL.harris_corner_kernel, milli_luma,
        "n_interior bigint, n_corners bigint, sum_rq bigint, "
        "max_r bigint, chk bigint",
        """HARRIS CORNER DETECTION (the classical eigen-response
        detector next to FAST-12's arc test — two independent keypoint
        signals for image curation): all-integer response
        R = 20·det(M) − trace(M)² (k = 0.05 exactly) over 3×3-summed
        Sobel products on the 255-scale gray raster, deterministic
        raster-order NMS.  Golden: recomputes the SPEC via np.ix_
        gathers + summed-area-table box sums + scalar NMS (three
        independent mechanisms).""",
    ),
    "image_skeleton_zs": (
        PL.zhang_suen_kernel, milli_luma,
        "n_fg bigint, n_skel bigint, n_iters bigint, chk bigint",
        """MORPHOLOGICAL SKELETONIZATION (Zhang-Suen thinning) — reduces
        every bright region to its 1-px medial skeleton, the classical
        shape-analysis step after binarization (stroke extraction for
        the document-image curation family).  Synchronous two-sub-pass
        deletion to the deterministic fixpoint.  Golden: drives the same
        SPEC through 256-entry predicate LUTs built with scalar loops
        (vs the engine's slice arithmetic).""",
    ),
    "image_lbp_texture": (
        PL.lbp_texture_kernel, milli_luma,
        "n_interior bigint, n_uniform bigint, sum_code bigint, chk bigint",
        """LOCAL BINARY PATTERNS (Ojala texture codes — the
        rotation-sensitive micro-texture signal next to GLCM's
        co-occurrence statistics): 8-bit neighbor-comparison codes with
        the uniform-pattern count (circular transitions <= 2), all
        integer.  Golden: packs the same comparisons via flat np.take
        gathers + a scalar-built 256-entry transition LUT.""",
    ),
    "image_canny_nms": (
        PL.canny_nms_kernel, milli_luma,
        "n_raw bigint, n_thin bigint, chk bigint",
        """CANNY DIRECTIONAL NON-MAX SUPPRESSION — the thin-edge stage
        between the certified Sobel magnitude and the hysteresis linker:
        gradient direction quantized to 22.5-degree sectors by
        cross-multiplied integer tests (TAN22_FP = 106, no atan2), each
        edge pixel survives only as the strict maximum along its own
        gradient line (raster-earlier neighbor breaks ties).
        All-integer.  Golden: resolves every candidate with a scalar
        loop.""",
    ),
    "image_dither_fs": (
        PL.dither_fs_kernel, milli_luma,
        "n_px bigint, n_on bigint, chk bigint",
        """FLOYD-STEINBERG DITHERING — 1-bit halftoning with integer
        error diffusion (the display/compression preprocessing op; also
        the classic example of an inherently SEQUENTIAL per-image kernel
        that still parallelizes perfectly ACROSS images behind the
        map-only decode path).  All-integer FLOOR diffusion.  Golden: a
        fully scalar 2-D list walk.  A mid-gray field dithers to ~50%
        on-pixels (pinned analytically in pytest).""",
    ),
    "image_dog_blobs": (
        PL.dog_blob_kernel, milli_luma,
        "n_core bigint, n_bright bigint, n_dark bigint, "
        "sum_absdog bigint, chk bigint",
        """DIFFERENCE-OF-GAUSSIANS BLOB DETECTION — completes the
        keypoint triad (Harris corners, Canny thin edges, DoG blobs):
        two levels of the separable binomial pyramid on MILLI-luma (the
        fixture is smooth; gray-unit DoG rounds away), two-polarity
        extremum NMS with the deterministic raster-earlier tie rule, all
        integer.  Golden: convolves via flat np.take gathers and
        resolves every candidate with a scalar loop.""",
    ),
    "image_haar_energy": (
        PL.haar_energy_kernel, milli_luma,
        "n_px bigint, e_ll2 bigint, e_h1 bigint, e_v1 bigint,"
        " e_d1 bigint, e_h2 bigint, e_v2 bigint, e_d2 bigint",
        """2-LEVEL INTEGER HAAR DWT subband energies — the wavelet
        frequency-split every compression/denoise/texture pipeline
        starts from, in its UNNORMALIZED sum/difference form so the
        transform is EXACT integer arithmetic (no division, no rounding
        spec to agree on — the energies are fold-order-free BIGINTs by
        construction).  Golden: gathers each 2x2 block corner with
        scalar loops (vs the engine's strided slices).""",
    ),
    "image_seam_carve": (
        PL.seam_carve_kernel, milli_luma,
        "seam_cost bigint, top_col bigint, bottom_col bigint,"
        " sum_energy bigint, chk bigint",
        """VERTICAL SEAM CARVING — the content-aware-resize DP
        (min-energy top-to-bottom 8-connected path over the
        clamped-gradient energy map), the third inherently-sequential-
        per-image kernel next to the dither and the skeleton fixpoint:
        row-vectorized DP in the engine, fully scalar DP in the golden,
        leftmost-argmin ties in both.  Parallel across images.""",
    ),
    "image_template_match": (
        PL.template_match_kernel, milli_luma,
        "n_pos bigint, best_ssd bigint, best_row bigint,"
        " best_col bigint, ssd_chk bigint",
        """INTEGER TEMPLATE MATCHING — min-SSD localization of a fixed
        8x8 pattern (the where-is-this-patch primitive next to the
        detectors: Harris/DoG find WHAT is interesting, matching finds
        WHERE a known patch sits).  SSD decomposes into 64
        shifted-slice accumulations — exact int64; the golden gathers
        windows with np.take and re-resolves the raster-earlier argmin
        with a scalar loop.""",
    ),
    "image_palette_mediancut": (
        PL.palette_mediancut_kernel, None,
        "n_distinct bigint, n_boxes bigint, err bigint, chk bigint",
        """MEDIAN-CUT PALETTE EXTRACTION — the dominant-color primitive
        of image curation (and the classic GIF/PNG8 quantizer), fully
        deterministic: split the box with the most pixels (tie: earliest
        created), along its widest channel (tie order R,G,B), at the
        median pixel of the channel-sorted distinct colors (lower half
        inclusive), to 8 boxes; palette entry = componentwise floor
        mean.  All integer; error = SSD of each pixel to ITS box's mean.
        Golden: the same SPEC over scalar python dicts (vs the engine's
        sorted numpy distinct-color arrays).""",
    ),
}


def _stats_query(name, kernel, pixels, schema, doc):
    def build(spark, sf_dir):
        return PL.per_image_stats(golden_images(spark), kernel, pixels, schema)

    build.__name__ = build.__qualname__ = name
    build.__doc__ = doc
    return build


globals().update(
    {name: _stats_query(name, *spec) for name, spec in IMAGE_STATS.items()}
)
