"""M5 breadth queries (SURVEY.md §2 ◇ rows + training-data extras):
SimHash, exact dedup, n-gram Jaccard, IVF/LSH ANN, window/cube/string/
date suites, anti/exists joins, and the fixture-backed image pipeline
(rows-only checks — no relational oracle can decode PNGs).

Registered into queries.QUERIES via QUERIES_EXT.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .qcommon import (
    _t,
    _drain_dirs,
    _fixture_images,
    _spread,
    _stream_base,
)
from .graph import connected_components
from .queries_image import GOLDEN_IMAGE_BOUND, golden_images


# ---------------------------------------------------------------------------
# Text / dedup extras
# ---------------------------------------------------------------------------


def dedup_exact(spark, sf_dir):
    """Exact dedup stats over full-text md5 (the hash-groupBy dedup)."""
    docs = _t(spark, sf_dir, "documents")
    by_hash = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return by_hash.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).cast("long").alias("n_dup_groups"),
    )


_SIM_BITS = 60  # keep the packed value in positive int64 for both engines


def simhash60(spark, sf_dir):
    """SimHash over tokens: md5-derived 60 bit-weights, ±1 votes.

    bit i of token-hash = hex digit (i//4) of md5(token), bit (i%4);
    simhash bit i = sign of the vote sum.

    r06 rewrite (guide §2.3 "aggregate before you shuffle" / shuffle
    fewer bytes): the original exploded 60 BIT ROWS PER TOKEN (60·n_tok
    rows through two hash aggregates, each row re-running substring+
    conv on the md5 hex).  Equivalent with zero explosion: the 60 bits
    of a token pack into ONE BIGINT — conv(reverse(15 hex chars)) puts
    hex digit p at bits [4p, 4p+4), so bit i of the packed value equals
    the original per-bit vote test — and ONE groupBy(doc_id) computes
    c_i = SUM((h >> i) & 1) for all 60 lanes map-side-combined.  The
    vote sum s_i = 2·c_i − n_tok (each set bit votes +1, clear −1), so
    s_i > 0 ⟺ 2·c_i > n_tok: bit-identical simhash, 60× fewer
    aggregate input rows, one exchange instead of two (the (doc,i)
    grain exchange is gone).  Measured 4.4 s → 0.6 s at sf0.1."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.expr("split(text, ' ')")).alias("tok")
    ).withColumn(
        "h60",
        F.expr(
            "CAST(conv(reverse(substring(md5(tok), 1, 15)), 16, 10) AS BIGINT)"
        ),
    )
    lanes = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        *[
            F.sum(F.expr(f"(h60 >> {i}) & 1")).alias(f"c{i}")
            for i in range(_SIM_BITS)
        ],
    )
    packed = " + ".join(
        f"(CASE WHEN 2 * c{i} > n_tok THEN CAST({1 << i} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for i in range(_SIM_BITS)
    )
    return lanes.selectExpr("doc_id", f"{packed} AS simhash")


# 3-token shingle set — ONE definition shared by the brute-force
# baseline and the inverted-index scale path (they must stay textually
# identical for the exactness-baseline relationship to hold)
_SHINGLES = (
    "array_distinct(transform(sequence(1, greatest(size(split(text, ' ')) - 2, 1)), "
    "i -> concat(element_at(split(text, ' '), i), ' ', "
    "element_at(split(text, ' '), least(i + 1, size(split(text, ' ')))), ' ', "
    "element_at(split(text, ' '), least(i + 2, size(split(text, ' '))))) ))"
)

# The same shingle set with split(text) HOISTED into a materialized
# words column: the inline form re-evaluates split() FOUR TIMES per
# lambda element inside the interpreted HOF (gotcha 16b — ~600
# full-text splits per doc), measured 7.3 s -> 3.2 s at sf0.1 with
# rows bit-identical.  Use _shingle_sets() for full-corpus consumers;
# the inline _SHINGLES stays for tiny bounded sides where a second
# projection isn't worth it.
_SHINGLES_FROM_WORDS = (
    "array_distinct(transform(sequence(1, greatest(size(words) - 2, 1)), "
    "i -> concat(element_at(words, i), ' ', "
    "element_at(words, least(i + 1, size(words))), ' ', "
    "element_at(words, least(i + 2, size(words))))))"
)


def _shingle_sets(docs):
    """(doc_id, sh) with the split hoisted — row-identical to the
    inline _SHINGLES projection, 2.3x faster on the full corpus."""
    return docs.selectExpr("doc_id", "split(text, ' ') AS words").selectExpr(
        "doc_id", f"{_SHINGLES_FROM_WORDS} AS sh"
    )


def ngram_jaccard_pairs(spark, sf_dir):
    """Exact 3-token-shingle Jaccard for all doc pairs with id < 60.

    The exactness baseline for ngram_jaccard_indexed (the inverted-index
    scale path).  The cartesian is BOUNDED by construction (r03, same
    treatment as ann_cosine_topk): the id<60 side is explicitly
    broadcast, so the plan is one streaming pass probing a tiny
    broadcast — never an unbounded shuffle cartesian (pinned in
    tests/test_plans.py)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    sh = docs.select("doc_id", F.expr(_SHINGLES).alias("sh"))
    a = F.broadcast(sh).alias("a")
    b = sh.alias("b")
    return (
        a.crossJoin(b)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(
                F.expr("size(array_intersect(a.sh, b.sh))").cast("double")
                / F.expr("size(array_union(a.sh, b.sh))").cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") > 0)
    )


# ---------------------------------------------------------------------------
# Embedding extras: IVF/LSH bucketing (the ANN scale path)
# ---------------------------------------------------------------------------

_N_PLANES = 8


def _dot_plane_expr(j: int) -> str:
    """Deterministic pseudo-random hyperplane j: h[i] = ((i*31 + j*17)
    * 2654435761 % 1000) - 500, folded sequentially (bit-identical in
    DuckDB's list_sum/list_transform)."""
    return (
        f"aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), "
        f"transform(sequence(1, size(embedding)), i -> "
        f"CAST((i * 31 + {j} * 17) * 2654435761 % 1000 - 500 AS DOUBLE)), "
        f"(x, w) -> x * w), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def embedding_lsh_buckets(spark, sf_dir):
    """Sign-LSH bucketing: 8 hyperplane sign bits → bucket id, counts.

    The bucketed (IVF-style) candidate structure for approximate
    nearest-neighbor at scale — bucket join replaces brute force."""
    emb = _t(spark, sf_dir, "embeddings")
    bucket = " + ".join(
        f"(CASE WHEN {_dot_plane_expr(j)} > CAST(0 AS DOUBLE) THEN {1 << j} ELSE 0 END)"
        for j in range(_N_PLANES)
    )
    return (
        emb.withColumn("bucket", F.expr(f"({bucket})").cast("int"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


def ann_lsh_topk(spark, sf_dir):
    """Approximate ANN: cosine top-3 restricted to same LSH bucket."""
    emb = _t(spark, sf_dir, "embeddings")
    bucket = " + ".join(
        f"(CASE WHEN {_dot_plane_expr(j)} > CAST(0 AS DOUBLE) THEN {1 << j} ELSE 0 END)"
        for j in range(_N_PLANES)
    )
    norm = F.expr(
        "SQRT(aggregate(embedding, CAST(0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    base = emb.select(
        "vec_id", "embedding", F.expr(f"({bucket})").cast("int").alias("bucket"),
        norm.alias("nrm"),
    )
    q = base.filter(F.col("vec_id") < 20).alias("a")
    t = base.alias("b")
    dot = (
        "aggregate(zip_with(CAST(a.embedding AS ARRAY<DOUBLE>), "
        "CAST(b.embedding AS ARRAY<DOUBLE>), (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    pairs = (
        q.join(t, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vec_id") != F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.expr(f"{dot} / (a.nrm * b.nrm)").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", "rnk", F.round("cos_sim", 4).alias("cos_sim"))
    )


_N_IVF = 8


def _ivf_dist2_expr(j: int) -> str:
    """Squared L2 to deterministic centroid j: c[i] = ((i·11 + j·37) %
    16 − 8)/4 — exact quarters, regenerable in DuckDB."""
    return (
        f"aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), "
        f"transform(sequence(1, size(embedding)), i -> "
        f"CAST((i * 11 + {j} * 37) % 16 - 8 AS DOUBLE) / CAST(4 AS DOUBLE)), "
        f"(x, c) -> (x - c) * (x - c)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _with_ivf_cell(df):
    for j in range(_N_IVF):
        df = df.withColumn(f"_d{j}", F.expr(_ivf_dist2_expr(j)))
    best = F.expr("LEAST(" + ", ".join(f"_d{j}" for j in range(_N_IVF)) + ")")
    df = df.withColumn("_best", best)
    cid = "CASE " + " ".join(
        f"WHEN _d{j} = _best THEN {j}" for j in range(_N_IVF)
    ) + " END"
    return df.withColumn("ivf_cell", F.expr(cid).cast("int")).drop(
        *[f"_d{j}" for j in range(_N_IVF)], "_best"
    )


def ann_ivf_topk(spark, sf_dir):
    """IVF-style ANN: vectors assigned to the nearest of 8 deterministic
    coarse centroids (exact-argmin, lowest-index tie-break); cosine
    top-3 restricted to the query's IVF cell — the inverted-file
    counterpart of the sign-LSH scale path (both replace brute force
    with a bucket equi-join).

    The base projection is PERSISTED (r03, minhash_lsh_pairs template):
    the 8 coarse-quantizer distances are interpreted HOF folds
    (CLAUDE.md gotcha 4 — kept compact on purpose: literal 64-term
    codegen chains overflow janino's 64 KB method limit once the argmin
    CASE + LEAST inline them 2×, measured 6.3 s → 70 s interpreted
    fallback), and the self-join's two branches would otherwise
    re-evaluate all 8 per side (measured 6.3 s → 2.9 s at sf0.1)."""
    from pyspark import StorageLevel

    emb = _t(spark, sf_dir, "embeddings")
    norm = F.expr(
        "SQRT(aggregate(embedding, CAST(0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    base = _with_ivf_cell(emb).select(
        "vec_id", "embedding", "ivf_cell", norm.alias("nrm")
    ).persist(StorageLevel.DISK_ONLY)
    q = base.filter(F.col("vec_id") < 20).alias("a")
    t = base.alias("b")
    dot = (
        "aggregate(zip_with(CAST(a.embedding AS ARRAY<DOUBLE>), "
        "CAST(b.embedding AS ARRAY<DOUBLE>), (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    pairs = (
        q.join(t, (F.col("a.ivf_cell") == F.col("b.ivf_cell"))
               & (F.col("a.vec_id") != F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            F.expr(f"{dot} / (a.nrm * b.nrm)").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    result = (
        pairs.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", "rnk", F.round("cos_sim", 4).alias("cos_sim"))
    )
    # materialize the (tiny) top-k while the base cache is live, then
    # RELEASE it (r03 review: same leak class minhash_lsh_pairs fixed —
    # repeated invocations in a big-heap session otherwise accumulate
    # one persisted RDD per call forever)
    result = result.persist(StorageLevel.DISK_ONLY)
    result.count()
    base.unpersist()
    # CONTRACT: the returned (tiny) top-k stays cached for the consumer
    # — re-invoking callers should unpersist the previous result; the
    # harness's small-heap _prep clearCache covers driver sweeps.
    return result


# Stop-bucket bound for the neardup band join: a band bucket larger
# than this is dropped on BOTH engines (part of the defined semantics).
# 4096 rows ⇒ worst bucket contributes ≤ 8.4M candidate pairs — bounded
# per-bucket fan-out at any corpus size; harness-scale buckets are
# ~100-400 rows, far below the cap (pinned by test).
_NEARDUP_STOP_BUCKET = 4096


def ann_ivf_multiprobe(spark, sf_dir):
    """IVF ANN with MULTI-PROBE (r04): each query probes its own coarse
    cell AND the second-nearest one — the standard recall lever real
    IVF indexes use (nprobe > 1) without touching brute force.  The
    second cell is the exact second-argmin (first-argmin's distance
    masked to 1e308, lowest-index tie-break) — deterministic, so the
    DuckDB oracle reproduces it.  Scale shape: the tiny query side
    EXPLODES into (query, probe_cell) rows and equi-joins the persisted
    base on the cell — never an OR-join (which would plan as BNLJ)."""
    from pyspark import StorageLevel

    emb = _t(spark, sf_dir, "embeddings")
    norm = F.expr(
        "SQRT(aggregate(embedding, CAST(0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    base = _with_ivf_cell(emb).select(
        "vec_id", "embedding", "ivf_cell", norm.alias("nrm")
    ).persist(StorageLevel.DISK_ONLY)
    q = base.filter(F.col("vec_id") < 20)
    for j in range(_N_IVF):
        q = q.withColumn(f"_d{j}", F.expr(_ivf_dist2_expr(j)))
    masked = [
        f"CASE WHEN {j} = ivf_cell THEN CAST(1e308 AS DOUBLE) ELSE _d{j} END"
        for j in range(_N_IVF)
    ]
    q = q.withColumn("_b2", F.expr("LEAST(" + ", ".join(masked) + ")"))
    cell2 = "CASE " + " ".join(
        f"WHEN ({m}) = _b2 THEN {j}" for j, m in enumerate(masked)
    ) + " END"
    probes = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.explode(
            F.array(F.col("ivf_cell"), F.expr(cell2).cast("int"))
        ).alias("pcell"),
    )
    dot = (
        "aggregate(zip_with(CAST(q_emb AS ARRAY<DOUBLE>), "
        "CAST(b.embedding AS ARRAY<DOUBLE>), (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    pairs = probes.join(
        base.alias("b"),
        (F.col("pcell") == F.col("b.ivf_cell"))
        & (F.col("query_id") != F.col("b.vec_id")),
    ).select(
        "query_id",
        F.col("b.vec_id").alias("neighbor_id"),
        F.expr(f"{dot} / (q_nrm * b.nrm)").alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    result = (
        pairs.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", "rnk",
                F.round("cos_sim", 4).alias("cos_sim"))
        .persist(StorageLevel.DISK_ONLY)
    )
    result.count()
    base.unpersist()
    return result


def embedding_cosine_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs — the vector-space dedup flavor
    (exact cos ≥ τ verification over banded sign-LSH candidates).

    Scale shape = minhash_lsh_pairs: each vector emits one row per band
    (2 bands × 4 hyperplane sign bits), candidates come from the band
    equi-join (NO crossJoin), pair ids are deduped, and only candidates
    pay the exact 64-dim cosine.  Banding is the OR-amplification that
    makes threshold recall tunable (more/narrower bands → higher recall);
    the DEFINED semantics — pairs sharing ≥1 band AND cos > 0.40 — are
    deterministic, so the DuckDB oracle matches exactly.

    r04 perf rewrite (measured 7.6 s → 1.9-2.7 s at sf0.1, same 344
    pairs): (1) the base projection is PERSISTED — it used to be
    re-evaluated on THREE branches (bands + both exact-cos join sides),
    each paying 8 interpreted HOF plane dots per vector (the
    ann_ivf_topk lesson, CLAUDE.md gotcha 16); (2) the plane dots are
    computed by posexplode + one map-side-combined codegen'd
    aggregation instead of interpreted HOF folds.  Float-parity
    caveat (r04 review): the left-fold association holds while one
    vector's 64 rows are consumed by a SINGLE partial aggregate — true
    at every oracle/bench scale here (the hash agg never spills
    mid-key), but a spill-to-sort fallback at extreme scale could
    split a key into two partials whose merged sum differs in the last
    ulp, flipping a sign bit on a dot that is exactly 0-adjacent; a
    deployment at that scale should prefer the Arrow pandas-UDF matmul
    (zero shuffle, no cross-engine-parity requirement).  Cost here:
    one narrow (vec_id, 9 doubles) agg shuffle + a 1:1 join back.
    Candidate-volume bound for 100 TB: buckets larger than
    ``_NEARDUP_STOP_BUCKET`` rows are DROPPED (stop-bucket rule, the
    ngram-index trick) — a boilerplate band value at 10^9 vectors would
    otherwise create one 10^18-pair join group; the rule is part of the
    defined semantics and the oracle applies it identically (no bucket
    reaches the cap at harness scales, verified by test)."""
    from pyspark import StorageLevel

    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        F.posexplode(F.expr("CAST(embedding AS ARRAY<DOUBLE>)")).alias("pos", "x"),
    )
    aggs = [
        F.sum(F.expr(
            f"x * CAST(((pos + 1) * 31 + {j} * 17) * 2654435761 % 1000 - 500 "
            "AS DOUBLE)"
        )).alias(f"d{j}")
        for j in range(8)
    ]
    aggs.append(F.sum(F.expr("x * x")).alias("n2"))
    dots = ex.groupBy("vec_id").agg(*aggs)
    b0 = " + ".join(
        f"(CASE WHEN d{j} > CAST(0 AS DOUBLE) THEN {1 << j} ELSE 0 END)"
        for j in range(4)
    )
    b1 = " + ".join(
        f"(CASE WHEN d{j} > CAST(0 AS DOUBLE) THEN {1 << (j - 4)} ELSE 0 END)"
        for j in range(4, 8)
    )
    base = emb.join(dots, "vec_id").select(
        "vec_id", "embedding",
        F.expr("SQRT(n2)").alias("nrm"),
        F.expr(f"({b0})").cast("int").alias("b0"),
        F.expr(f"({b1})").cast("int").alias("b1"),
    ).persist(StorageLevel.DISK_ONLY)
    bands = base.select(
        "vec_id", F.expr("stack(2, 0, b0, 1, b1) AS (band, bval)")
    )
    sizes = bands.groupBy("band", "bval").agg(F.count(F.lit(1)).alias("_bn"))
    bands = bands.join(
        F.broadcast(sizes.filter(F.col("_bn") <= _NEARDUP_STOP_BUCKET)),
        ["band", "bval"],
    ).drop("_bn")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )
    # pair dot as a literal codegen chain — it runs per CANDIDATE
    # PAIR, the volume-dominated path where compiled beats interpreted
    # HOF.  NOTE (r03 review): the cos_sim > τ filter is an alias
    # filter, so Catalyst inlines the chain into the pushed predicate
    # and it evaluates ~2× per row (gotcha 13); the measured 2.66 s →
    # 2.22 s at sf0.1 INCLUDES that duplication and still nets 17%.
    # Values bit-identical: left-assoc + == the 0-seeded fold.
    dot = "(" + " + ".join(
        f"(CAST(a.embedding[{i}] AS DOUBLE) * CAST(b.embedding[{i}] AS DOUBLE))"
        for i in range(64)  # fixture embeddings are fixed 64-dim
    ) + ")"
    result = (
        cand.join(base.alias("a"), cand["vec_a"] == F.col("a.vec_id"))
        .join(base.alias("b"), cand["vec_b"] == F.col("b.vec_id"))
        .withColumn("cos_sim", F.expr(f"{dot} / (a.nrm * b.nrm)"))
        .filter(F.col("cos_sim") > 0.40)
        .select("vec_a", "vec_b", F.round("cos_sim", 4).alias("cos_sim"))
    )
    # materialize the (small) pair set while the base cache is live, then
    # RELEASE it (the minhash/ann_ivf template; same persisted-result
    # lifetime contract — consumers get the cached frame)
    result = result.persist(StorageLevel.DISK_ONLY)
    result.count()
    base.unpersist()
    return result


def kmeans_embeddings(spark, sf_dir, k: int = 8, iters: int = 2):
    """Deterministic Lloyd k-means over the embedding table (2 unrolled
    iterations, k=8, seeds = vec_id 0..7) — the canonical iterative
    clustering shape for a training-data pipeline (topic bucketing /
    diversity sampling).

    Scale architecture: centroids are the TINY side — each iteration is
    a broadcast of k rows against the fact table (crossJoin with
    ``F.broadcast``; k·|V| candidate rows, argmin via min(struct) with
    map-side partial aggregation — no row_number sort), then a
    posexplode + (cid, dim) hash agg for the update.  Per CLAUDE.md
    gotcha 15 a long Lloyd loop must checkpoint per round; with the
    2 fixed iterations here each round's plan is bounded and the
    whole thing stays one lazy DAG.

    Oracle parity: squared-L2 folds are sequential in both engines
    (aggregate/zip_with vs list_sum/list_transform — the proven ANN
    pattern); the only cross-row float reduce is the centroid AVG,
    rounded to 6dp in BOTH engines before iteration 2 (full-mantissa
    values ⇒ no boundary ties), so assignments match exactly."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("emb")
    )
    d2 = (
        "aggregate(zip_with(emb, cent, (x, c) -> (x - c) * (x - c)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )

    def assign(vectors, cents):
        return (
            vectors.crossJoin(F.broadcast(cents))
            .withColumn("_d2", F.expr(d2))
            .groupBy("vec_id")
            .agg(F.min(F.struct("_d2", "cid")).alias("_m"))
            .select("vec_id", F.col("_m.cid").alias("cid"))
        )

    cents = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("emb").alias("cent")
    )
    for _ in range(iters - 1):
        a = assign(emb, cents)
        cents = (
            a.join(emb, "vec_id")
            .select("cid", F.posexplode("emb").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg("x"), 6).alias("c"))
            .groupBy("cid")
            .agg(
                F.expr(
                    "transform(sort_array(collect_list(struct(pos, c))), s -> s.c)"
                ).alias("cent")
            )
        )
    final = assign(emb, cents)
    norm = F.expr(
        "ROUND(SQRT(aggregate(cent, CAST(0 AS DOUBLE), "
        "(acc, c) -> acc + c * c)), 4)"
    )
    return (
        final.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_members"), F.min("vec_id").alias("min_vec_id"))
        .join(cents.select("cid", norm.alias("centroid_norm")), "cid")
        .select(
            F.col("cid").alias("cluster_id"), "n_members", "min_vec_id",
            "centroid_norm",
        )
    )


def sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling — the reproducible train-set
    draw every large-scale data pipeline needs: per-language quotas
    ('en' keeps 20, others 10), ranked by a content-independent md5 key
    so the draw is stable across runs, engines and partitionings (no
    rand(), no sample() — those are seed- and partition-dependent).

    Scale shape: one window rank per stratum (hash-partitioned by
    lang); for 10^12-row strata the same draw becomes a filter on
    md5 < threshold (no global sort) — quota form kept here because it
    is exact-n and oracle-checkable row-for-row."""
    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id", "lang",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("lang"))).alias("hk"),
    )
    w = Window.partitionBy("lang").orderBy("hk")
    return (
        keyed.withColumn("smp_rank", F.row_number().over(w).cast("int"))
        .filter(
            F.col("smp_rank")
            <= F.expr("CASE WHEN lang = 'en' THEN 20 ELSE 10 END")
        )
        .select("lang", "doc_id", "smp_rank")
    )


def ngram_jaccard_indexed(spark, sf_dir, max_shingle_freq: int = 10,
                          min_jaccard: float = 0.2):
    """n-gram Jaccard WITHOUT the cross join (the scale path): an
    inverted shingle index generates candidate pairs — only docs
    sharing a shingle rarer than ``max_shingle_freq`` meet (stop-shingle
    drop bounds the worst bucket at freq² pairs) — then the exact
    Jaccard runs on candidates only.  Exactness caveat vs the
    brute-force baseline is PRECISELY characterized: a pair is missed
    iff every shared shingle is a stop-shingle."""
    docs = _t(spark, sf_dir, "documents")
    sets = _shingle_sets(docs)
    inv = sets.select("doc_id", F.explode("sh").alias("s"))
    rare = (
        inv.groupBy("s").agg(F.count(F.lit(1)).alias("nf"))
        .filter((F.col("nf") >= 2) & (F.col("nf") <= max_shingle_freq))
        .select("s")
    )
    postings = inv.join(rare, "s")
    cand = (
        postings.alias("a")
        .join(postings.alias("b"), "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    scored = (
        cand.join(sets.select(F.col("doc_id").alias("doc_a"),
                              F.col("sh").alias("sh_a")), "doc_a")
        .join(sets.select(F.col("doc_id").alias("doc_b"),
                          F.col("sh").alias("sh_b")), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(
                F.expr("size(array_intersect(sh_a, sh_b))").cast("double")
                / F.expr("size(array_union(sh_a, sh_b))").cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.filter(F.col("jaccard") >= min_jaccard)


def dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: MinHash-LSH candidate pairs → connected
    components (pointer-jumped min-label) → one row per
    multi-doc cluster with its canonical keeper (min doc_id) and size.
    Oracle: DuckDB recursive CTE propagating labels over the same
    edge set."""
    from .queries import minhash_lsh_pairs

    # bounded to doc_id < 300 in the HARNESS (a default-1g driver
    # session runs 50 queries back-to-back; the unbounded operator is
    # exercised by the union-find pytest and composes at any scale)
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pairs = (
        minhash_lsh_pairs(spark, sf_dir)
        .filter((F.col("doc_a") < 300) & (F.col("doc_b") < 300))
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    comp = connected_components(pairs, docs.select("doc_id"))
    return (
        comp.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .select(F.col("label").alias("keep_doc_id"), "n_docs")
    )


# ---------------------------------------------------------------------------
# Relational breadth
# ---------------------------------------------------------------------------


def windows_suite(spark, sf_dir):
    """rank/dense_rank/lag/ntile/running-sum over orders per customer."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.coalesce(F.lag("o_orderkey").over(w), F.lit(-1)).alias("prev_order"),
        F.round(F.sum("o_totalprice").over(wsum), 2).alias("running_total"),
    )


def cube_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 0).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


def strings_parts(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    return part.filter(F.col("p_name").like("%a%")).select(
        "p_partkey",
        F.upper(F.col("p_brand")).alias("brand_u"),
        F.regexp_extract("p_brand", "[0-9]+", 0).cast("int").alias("brand_num"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.length("p_name").cast("int").alias("name_len"),
    )


def dates_orders(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.withColumn("d", F.col("o_orderdate").cast("date"))
        .groupBy(
            F.year("d").alias("yr"),
            F.quarter("d").cast("int").alias("qtr"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.datediff(F.max("d"), F.min("d")).cast("int").alias("span_days"),
        )
    )


def anti_join_customers(spark, sf_dir):
    """Customers with no 'P'-status orders (left_anti ≡ NOT EXISTS;
    the status filter keeps the result non-vacuous — every customer in
    the fixture has at least one order)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_inactive"))
    )


def semi_join_parts(spark, sf_dir):
    """Parts that appear in at least one lineitem (left_semi ≡ EXISTS)."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


# ---------------------------------------------------------------------------
# Image pipeline (fixture-backed; rows-only driver checks — content is
# binary image payload, pinned exactly by tests/goldens instead)
# ---------------------------------------------------------------------------


def image_rai_summary(spark, sf_dir):
    """Flagship over the FULL IMAGES fixture: geocode → country →
    burn/cost-distance → per-country RAI.  ORACLE-CHECKED (r04; was
    rows-only): per-image population sums are snapped to integer mils —
    ``FLOOR(pop·1000 + 0.5)``, pure IEEE ops — and aggregated as BIGINT
    sums, so the result is independent of Spark's nondeterministic
    float-sum order and the DuckDB oracle aggregates the committed
    INDEPENDENT per-image golden (scripts/make_goldens.py:
    rai_per_image_twin — generator pixels, brute-force candidate segs,
    scalar clip/burn twins, transposed-scan chamfer, generator-side
    country assignment) to the identical rows.  Any regression in the
    halo exchange, spatial join, burn, distance transform, masking, PIP
    country assignment, or the codecs flips a per-image mils value and
    fails the driver's value hash.

    Safe in the driver's default-1g session because rai_summaries'
    auto strategy picks the MAP-ONLY broadcast burn (road cover →
    cell-keyed dict; image bytes never shuffle, peak task memory is one
    Arrow batch) — the old cogroup path loaded whole cell groups and
    needed a limit(2000) cap here."""
    from .jobs.rai import rai_summaries

    images, roads = _fixture_images(spark)
    per_image, _per_country = rai_summaries(spark, images, roads)
    mils = per_image.select(
        "country_code",
        F.expr("CAST(FLOOR(pop_total * 1000 + 0.5) AS BIGINT)").alias("pt"),
        F.expr("CAST(FLOOR(pop_near * 1000 + 0.5) AS BIGINT)").alias("pn"),
    )
    agg = mils.groupBy("country_code").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.when(F.col("pn") > 0, 1).otherwise(0)).alias("n_near"),
        (F.sum("pt") / F.lit(1000.0)).alias("pop_total"),
        (F.sum("pn") / F.lit(1000.0)).alias("pop_near"),
    )
    return agg.select(
        "country_code", "n_images", "n_near", "pop_total", "pop_near",
        (F.expr("FLOOR(pop_near / pop_total * 1000000.0 + 0.5)")
         / F.lit(1000000.0)).alias("rai"),
    )


def image_cost_distance(spark, sf_dir):
    """A2 FULL — cost-distance over a NON-UNIFORM friction surface
    (r04): per-tile accumulated cost from the burned road mask with
    friction f = 1 + lum/255 derived from the tile's own pixels
    (ops/raster.weighted_cost_batch — iterated weighted pushbroom
    sweeps; reduces bit-for-bit to the 3-4 chamfer at f≡1, certified
    against brute-force Dijkstra in tests).  ORACLE-CHECKED against the
    committed independent per-image golden (scripts/make_goldens.py:
    cost_distance_per_image_twin); integer-mils / pixel-count outputs
    make the hash float-order-proof."""
    from .ops import raster as RS
    from .ops import spatial as SP

    images, roads = _fixture_images(spark)
    subset = images.filter(F.col("image_id") < "img000000002000")
    geo = SP.with_geo(subset)
    tiles = RS.burn_cost_summaries(
        geo.select("image_id", "lon", "lat", "bytes", "fmt", "w", "h",
                   "fp_xmin", "fp_ymin", "fp_xmax", "fp_ymax"),
        SP.road_segments(roads),
        cutoff_m=250.0,
        friction_from_lum=True,
    )
    return tiles.select(
        "image_id",
        F.expr("CAST(FLOOR(pop_near * 1000 + 0.5) AS BIGINT)")
        .alias("pop_near_mils"),
        "px_near",
    )


def substring_dup_pairs(spark, sf_dir):
    """EXACT-SUBSTRING dedup (r04) — the Lee-et-al. training-data
    flavor the shingle/minhash family approximates: document pairs
    sharing an IDENTICAL 32-char window (windows at stride 8).  Scale
    shape: distinct (doc, window) → window-frequency filter (a window
    is a dedup candidate only with 2..16 holders — the ≤16 cap is the
    stop-window bound; boilerplate windows at corpus scale would
    otherwise make one n² join group) → window equi-join → pair
    aggregate.  The join compares the actual window STRINGS (no hash
    collisions to argue about); DuckDB mirrors every step."""
    from pyspark import StorageLevel

    docs = _t(spark, sf_dir, "documents")
    # persist the window-explode base: it feeds freq PLUS both self-join
    # sides — without it the interpreted transform/explode lambda and
    # the distinct shuffle execute 4× (r04 review; gotcha 16 template)
    win = docs.select(
        "doc_id",
        F.expr("explode(sequence(1, greatest(length(text) - 31, 1), 8))")
        .alias("i"),
        "text",
    ).selectExpr(
        # codegen'd projection, not an interpreted transform lambda
        # (gotcha 16b — measured 20x on the shingle paths, r05)
        "doc_id", "substring(text, i, 32) AS w"
    ).distinct().persist(StorageLevel.DISK_ONLY)
    freq = win.groupBy("w").agg(F.count(F.lit(1)).alias("nf"))
    keep = win.join(
        freq.filter((F.col("nf") >= 2) & (F.col("nf") <= 16)), "w"
    ).drop("nf")
    result = (
        keep.alias("a")
        .join(
            keep.alias("b"),
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
        .persist(StorageLevel.DISK_ONLY)
    )
    result.count()  # materialize while win is live, then release it
    win.unpersist()
    return result


def dq_documents(spark, sf_dir):
    """Data-quality/profiling report (r04) — the expectations gate every
    training-data ingest runs before a corpus is admitted: per column,
    row/null/distinct counts and integer min/max (doc_id, n_chars) plus
    referential sanity (n_chars == length(text) violation count) and
    domain checks (lang/source cardinalities).  One pass, all built-in
    aggregates (map-side combined); DuckDB states it identically."""
    docs = _t(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias("null_text"),
        F.countDistinct("doc_id").alias("distinct_ids"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(
            F.when(F.col("n_chars") != F.length("text"), 1).otherwise(0)
        ).alias("chars_mismatch"),
    )


def lang_ngram_id(spark, sf_dir):
    """REAL n-gram language-ID (r04; the task spec's "language-ID
    (n-gram heuristic)" beyond the stopword ratio): Cavnar-Trenkle-lite
    profile intersection — per language, the top-64 character trigrams
    by occurrence count (deterministic count-desc/trigram-asc rank)
    form the profile; each document is classified to the language whose
    profile shares the most of its DISTINCT trigrams (tie → lang asc).
    Integer scores end-to-end ⇒ hash-exact in DuckDB.

    Honesty note: the driver's synthetic documents are only weakly
    language-marked, so accuracy reads ~26% over 5 labels (chance 20%)
    — the oracle certifies the PIPELINE (profile build, intersection
    scoring, deterministic argmax), not a linguistic claim.

    Scale shape: profiles are vocabulary-sized (langs × 64 rows) and
    broadcast; the document side pays one explode + distinct + one
    doc-keyed aggregation; the argmax is ``min(struct(-score, lang))``
    with map-side partial aggregation — no row_number sort over the
    corpus."""
    from pyspark import StorageLevel

    docs = _t(spark, sf_dir, "documents")
    # persist the exploded trigram base: BOTH branches (profile build +
    # document side) read it, and the explode lambda is interpreted
    # (gotcha 4) — without the persist each branch re-runs the full
    # corpus explode (r04 review; the minhash DISK_ONLY template)
    tri = docs.select(
        "doc_id", "lang", "text",
        F.expr("explode(sequence(1, greatest(length(text) - 2, 1)))").alias("i"),
    ).selectExpr(
        # gotcha 16b: codegen'd projection, not a transform lambda
        "doc_id", "lang", "substring(text, i, 3) AS tri"
    ).persist(StorageLevel.DISK_ONLY)
    pc = tri.groupBy(F.col("lang").alias("cand_lang"), "tri").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wp = Window.partitionBy("cand_lang").orderBy(
        F.col("cnt").desc(), F.col("tri").asc()
    )
    prof = (
        pc.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") <= 64)
        .select("cand_lang", "tri")
    )
    doc_tri = tri.select("doc_id", "tri").distinct()
    scores = (
        doc_tri.join(F.broadcast(prof), "tri")
        .groupBy("doc_id", "cand_lang")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    best = (
        scores.groupBy("doc_id")
        .agg(F.min(F.struct(
            (-F.col("score")).alias("ns"), F.col("cand_lang").alias("cl")
        )).alias("m"))
        .select(
            "doc_id",
            F.col("m.cl").alias("pred_lang"),
            (-F.col("m.ns")).alias("score"),
        )
    )
    result = best.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "lang", "pred_lang", F.col("score").cast("long"),
        (F.col("lang") == F.col("pred_lang")).alias("correct"),
    ).persist(StorageLevel.DISK_ONLY)
    result.count()  # materialize while tri is live, then release it
    tri.unpersist()
    return result


def snapshot_time_travel(spark, sf_dir):
    """Iceberg-style snapshot commits + TIME-TRAVEL read
    (storage.write_snapshot / read_snapshot, r04): snapshot 1 =
    overwrite with the 'en' documents, snapshot 2 = append of the 'de'
    documents; reading AS OF 1 must see only the first commit even
    though the table has moved on — immutable per-snapshot data dirs +
    atomic manifest commits make the old read reproducible.  The
    DuckDB oracle states both reads relationally over `documents`."""
    import os

    from .storage import read_snapshot, write_snapshot

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    base = _stream_base(spark, "snap_")
    tbl = os.path.join(base, "docs_table")
    write_snapshot(docs.filter(F.col("lang") == "en"), tbl, mode="overwrite")
    write_snapshot(docs.filter(F.col("lang") == "de"), tbl, mode="append")
    legs = []
    for snap in (1, 2):
        legs.append(
            read_snapshot(spark, tbl, as_of=snap).agg(
                F.lit(snap).alias("snap"),
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
                F.min("doc_id").alias("min_doc"),
            )
        )
    return legs[0].unionByName(legs[1])


def snapshot_schema_evolution(spark, sf_dir):
    """Iceberg-style ADD-COLUMN schema evolution (r05, VERDICT item 5):
    snapshot 1 commits the 'en' documents WITHOUT a lang column;
    snapshot 2 appends the 'de' documents WITH one.  The append's
    manifest commits the MERGED schema (storage._merge_schema), so (a)
    the head read sees snapshot-1's files under the merged schema with
    lang = NULL — no mergeSchema footer sweep, the manifest knows — and
    (b) ``schema_as_of`` replays snapshot 1's data under the evolved
    schema (Iceberg's old-snapshot-current-schema read).  The DuckDB
    oracle restates all three legs relationally over `documents`."""
    import os

    from .storage import read_snapshot, write_snapshot

    docs = _t(spark, sf_dir, "documents")
    base = _stream_base(spark, "snapevo_")
    tbl = os.path.join(base, "docs_table")
    write_snapshot(
        docs.filter(F.col("lang") == "en").select("doc_id", "n_chars"),
        tbl, mode="overwrite",
    )
    write_snapshot(
        docs.filter(F.col("lang") == "de").select("doc_id", "n_chars", "lang"),
        tbl, mode="append",
    )

    def _leg(df, snap):
        return df.groupBy(
            F.coalesce(F.col("lang"), F.lit("<pre-evolution>")).alias("lang_key")
        ).agg(
            F.lit(snap).alias("snap"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
        ).select("snap", "lang_key", "n_docs", "sum_chars", "min_doc")

    head = _leg(read_snapshot(spark, tbl), 2)
    old_under_new = _leg(
        read_snapshot(spark, tbl, as_of=1, schema_as_of=2), 1
    )
    return old_under_new.unionByName(head)


def snapshot_merge_upsert(spark, sf_dir):
    """MERGE INTO / upsert on the snapshot table (r05): snapshot 1 =
    the 'en' documents; the update batch rewrites every en doc with
    doc_id % 7 == 0 (n_chars + 1000) and inserts all 'de' docs;
    storage.merge_snapshot commits the copy-on-write result as
    snapshot 2 — one broadcast anti-join pass, atomic manifest commit.
    Leg snap=1 re-reads the PRE-merge snapshot (time travel must
    survive the merge); the DuckDB oracle restates both legs
    relationally over `documents`."""
    import os

    from .storage import merge_snapshot, read_snapshot, write_snapshot

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    en = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    de = _t(spark, sf_dir, "documents").filter(F.col("lang") == "de")
    base = _stream_base(spark, "merge_")
    tbl = os.path.join(base, "docs_table")
    write_snapshot(en.select("doc_id", "n_chars"), tbl, mode="overwrite")
    updates = (
        en.filter(F.col("doc_id") % 7 == 0)
        .select("doc_id", (F.col("n_chars") + 1000).alias("n_chars"))
        .unionByName(de.select("doc_id", "n_chars"))
    )
    assert merge_snapshot(spark, tbl, updates, key="doc_id") == 2

    def _leg(df, snap):
        return df.agg(
            F.lit(snap).alias("snap"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )

    return _leg(read_snapshot(spark, tbl, as_of=1), 1).unionByName(
        _leg(read_snapshot(spark, tbl), 2)
    )


def osm_relation_rings(spark, sf_dir):
    """S3b (r04): OSM boundary-relation assembly — unordered, mixed-
    orientation member ways stitched into closed rings by endpoint
    matching (osm.assemble_relation_rings), over the deterministic
    relation fixture cut from the COUNTRY rings.  Emits rotation/
    orientation-proof integer invariants; the DuckDB oracle recomputes
    them from the ORIGINAL country rings parquet — a stitching bug
    (wrong member, missed flip, unclosed ring) flips the hash."""
    from .osm import assemble_relation_rings, relation_fixture

    member_ways, relations = relation_fixture(spark)
    return assemble_relation_rings(member_ways, relations)


def doc_length_quantiles(spark, sf_dir):
    """Exact distributed quantiles (r04): per-language p50/p90/p99 of
    document length via the RANK method — ROW_NUMBER within the
    language partition + the integer ceil-index ``FLOOR((n·k+99)/100)``
    (never ``CEIL(0.9·n)``: 0.9 is binary-inexact and tips the index at
    exact multiples — gotcha 8 family).  Windows are per-language
    partitions (partition-parallel at any corpus size); a single giant
    stratum would switch to the two-level prefix trick (pack_sequences)
    or ``approx_percentile`` where cross-engine exactness isn't needed.
    Value-exact in DuckDB: ranks and picked values are integers."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    r = docs.select(
        "lang", "n_chars", "doc_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    picks = [
        F.max(
            F.when(
                F.col("rn") == F.expr(f"CAST(FLOOR((n * {k} + 99) / 100) AS BIGINT)"),
                F.col("n_chars"),
            )
        ).alias(f"p{k}")
        for k in (50, 90, 99)
    ]
    return r.groupBy("lang").agg(F.max("n").alias("n_docs"), *picks)


def geojson_roundtrip_roads(spark, sf_dir):
    """S8 source-format breadth (r04): ROADS → GeoJSON Feature lines
    (LineString geometry, JVM `to_json`) → text sink → text source →
    `from_json` with an explicit schema → per-kind aggregate.  The
    oracle aggregates the ORIGINAL roads parquet, so any coordinate or
    property serialization bug on either leg flips the hash — doubles
    survive exactly because Jackson prints shortest-roundtrip decimals.
    GeoJSON is the interchange format the reference's country
    boundaries and OSM extracts commonly arrive in."""
    import os

    _images, roads = _fixture_images(spark)
    feat = F.to_json(F.struct(
        F.lit("Feature").alias("type"),
        F.struct(
            F.lit("LineString").alias("type"),
            F.expr("transform(coords, c -> array(c.x, c.y))")
            .alias("coordinates"),
        ).alias("geometry"),
        F.struct("road_id", "kind").alias("properties"),
    ))
    base = _stream_base(spark, "geojson_")
    out = os.path.join(base, "features")
    roads.select(feat.alias("value")).write.mode("overwrite").text(out)
    schema = (
        "type string, geometry struct<type: string, "
        "coordinates: array<array<double>>>, "
        "properties struct<road_id: bigint, kind: string>"
    )
    back = (
        spark.read.text(out)
        .select(F.from_json("value", schema).alias("f"))
        .select(
            F.col("f.properties.kind").alias("kind"),
            F.col("f.geometry.coordinates").alias("coordinates"),
        )
    )
    return back.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_roads"),
        F.sum(F.size("coordinates")).cast("long").alias("sum_pts"),
        F.sum(F.expr(
            "CAST(FLOOR(coordinates[0][0] * 1000) AS BIGINT)"
        )).cast("long").alias("sum_x_mils"),
    )


def image_warp_utm(spark, sf_dir):
    """X6 GENERAL-CRS reprojection surface (r04): every tile is decoded
    and WARPED from its plate-carrée footprint onto a regular UTM
    zone-31 grid (crs.warp_tile — ellipsoidal Transverse Mercator, the
    projection behind every UTM EPSG code; nearest-neighbour, the
    GeoTrellis tile.reproject analogue).  Integer checksums make the
    result hash-stable; ORACLE-CHECKED against a committed golden from
    generator pixels (jpg rows excluded — lossy, engine-decoded; their
    pixel fidelity is PSNR-gated separately)."""
    from .ops import payload as PL
    from .ops import spatial as SP

    return PL.warp_checksums(SP.with_geo(golden_images(spark)), "UTM:31")


def image_decode_stats(spark, sf_dir):
    """X1 decode stats, ORACLE-CHECKED (r03; was rows-only): every image
    is REALLY decoded (the ``ok`` flag is load-bearing for all five
    formats including jpg — a decode regression flips it and fails the
    hash), and ``mean_lum`` is compared against a committed golden
    computed by an INDEPENDENT numpy path (scripts/make_goldens.py:
    generator pixels + a reimplemented qnt quantize twin, never the
    engine codecs).  jpg rows emit NULL mean_lum — no independent JPEG
    decoder can exist in this container (that's why jpeg.py was
    written); their pixel fidelity is gated ≥40 dB in tests/test_jpeg.py.
    min/max pixel stats stay pytest-pinned (test_decode_stats_all_ok).
    """
    from .ops import payload as PL

    images, _roads = _fixture_images(spark)
    subset = images.filter(F.col("image_id") < GOLDEN_IMAGE_BOUND)
    stats = PL.decode_stats(subset)
    meta = subset.select(
        "image_id", "fmt", F.length("bytes").cast("int").alias("n_bytes")
    )
    return meta.join(stats, "image_id").select(
        "image_id",
        "fmt",
        "n_bytes",
        "ok",
        F.when(F.col("fmt") != "jpg", F.col("mean_lum")).alias("mean_lum"),
    )


def image_thumbnails(spark, sf_dir):
    """X1 resize surface, ORACLE-CHECKED: every image really decodes and
    box-mean-resizes to a 16×16 PNG thumb (the ``ok`` flag is
    load-bearing); thumb mean luminance is compared to a committed
    golden from an INDEPENDENT twin (scripts/make_goldens.py: generator
    pixels + reshape block means — block sizes are powers of two so the
    means are float64-exact on both paths).  jpg rows emit NULL
    mean_lum (lossy decode; PSNR-gated in tests/test_jpeg.py).  The
    thumb bytes themselves are pinned in tests/test_codecs.py-style
    invariants (test_pipeline_ops)."""
    from .ops import payload as PL

    images, _roads = _fixture_images(spark)
    subset = images.filter(F.col("image_id") < GOLDEN_IMAGE_BOUND)
    th = PL.thumbnails(subset, 16, 16)
    meta = subset.select("image_id", "fmt")
    return meta.join(th, "image_id").select(
        "image_id",
        "fmt",
        "tw",
        "th",
        "ok",
        F.when(F.col("fmt") != "jpg", F.col("mean_lum")).alias("mean_lum"),
    )


def image_near_dup_pairs(spark, sf_dir):
    """X4 near-dup pairs over the STORED phash column, ORACLE-CHECKED
    (r03; was rows-only): banded LSH (8×8-bit bands) + exact
    ``bit_count(xor)`` hamming — pure relational over the binding
    ``phash int64`` input column, so DuckDB reruns it verbatim on the
    same fixture parquet.  The other half of X4 — recomputing phash
    from decoded bytes through a lossy transcode — cannot be expressed
    relationally and stays pinned in
    tests/test_payload_lineage_skew.py::test_phash_near_dup_pairs."""
    from .ops import payload as PL

    images, _roads = _fixture_images(spark)
    subset = images.filter(F.col("image_id") < "img000000000400")
    return PL.phash_near_dup_pairs(subset, max_hamming=12)


_KR_P = 1_000_000_007
_KR_MAXBITS = 20  # documents < 2^20 chars; raise for longer corpora


def _modpow31_expr(k: str) -> str:
    """31^(k) mod p as a LINEAR constant-table modpow chain.

    Repeated squaring with the squarings PRECOMPUTED in Python
    (31^(2^j) mod p are literals), unrolled over k's bits:
        r_{j+1} = (r_j * IF(bit_j(k), C_j, 1)) % p
    Each step references r_j exactly ONCE, so CollapseProject inlining
    keeps the expression linear (CLAUDE.md gotcha 2 — a self-doubling
    form would explode to 2^20 terms).  r * C < 1e9·1e9 < 2^63 — exact
    int64 throughout, same in DuckDB."""
    r = "CAST(1 AS BIGINT)"
    for j in range(_KR_MAXBITS):
        c = pow(31, 1 << j, _KR_P)
        r = (f"(({r}) * (CASE WHEN ((({k}) >> {j}) & 1) = 1 "
             f"THEN CAST({c} AS BIGINT) ELSE CAST(1 AS BIGINT) END)) % {_KR_P}")
    return r


def doc_rolling_fingerprint(spark, sf_dir):
    """Karp-Rabin rolling hash of each document, mod 1e9+7.

    SAME VALUE as the sequential left fold acc = (acc·31 + x) mod p —
    expanded to Σ_i x_i·31^(n−i) mod p — but computed as an exploded
    per-character SUM with a constant-table modpow (``_modpow31_expr``),
    so the whole hot path runs WHOLE-STAGE-CODEGEN'D instead of an
    interpreted ``aggregate()`` HOF lambda (CLAUDE.md gotcha 4; the same
    rewrite bought 3× on MinHash).  Partial-sum bound: term < p ≈ 1e9,
    so a 2^20-char document sums below 2^50 — exact int64.  The DuckDB
    oracle keeps the original fold formulation (independent shape, same
    exact integers)."""
    docs = _t(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id",
        F.expr("length(text)").alias("n"),
        F.posexplode(F.expr("split(text, '')")).alias("i0", "ch"),
    )
    term = (
        f"(CAST(ascii(ch) AS BIGINT) * ({_modpow31_expr('(n - 1 - i0)')}))"
        f" % {_KR_P}"
    )
    return (
        chars.withColumn("_t", F.expr(term))
        .groupBy("doc_id")
        .agg((F.sum("_t") % _KR_P).alias("fingerprint"))
    )


def token_bpe_counts(spark, sf_dir):
    """BPE-ish regex token counting vs whitespace tokens per doc."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr("size(split(text, ' '))").cast("int").alias("n_ws_tokens"),
        F.expr(
            "size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))"
        ).cast("int").alias("n_bpe_tokens"),
    )


def spatial_knn_unbounded(spark, sf_dir):
    """J4 ★ literal ring-expansion form, no cutoff: every point finds
    its nearest road via k=1,2,4 ring growth + exact fallback."""
    from .harness import points_df, segments_df
    from .ops import spatial as SP
    from pyspark.sql import functions as F2

    near = SP.knn_ring_iterative(
        points_df(spark, sf_dir), segments_df(spark, sf_dir),
        level=6, id_col="point_id",
    )
    return near.select(
        "point_id", "road_id", F2.round("dist_m", 6).alias("dist_m")
    )


def multimodal_audio_features(spark, sf_dir):
    """Audio features over REAL PCM16 WAV bytes (from-scratch RIFF
    codec — codecs.encode_wav/decode_wav; rows-only here, content
    pinned bit-exactly against a numpy oracle in tests)."""
    from .ops.multimodal import audio_features, synth_audio_table

    return audio_features(synth_audio_table(spark, 64))



def multimodal_audio_spectral(spark, sf_dir):
    """Spectral feature extraction over REAL WAV bytes (r04): rfft
    magnitude → centroid/peak/energy, oracle-checked against the
    independent spec-twin golden (same numpy FFT on the regenerated
    waveform — the WAV container round-trip is what the engine side
    adds and the oracle certifies)."""
    from .ops.multimodal import audio_spectral_features, synth_audio_table

    return audio_spectral_features(synth_audio_table(spark, 64))


def multimodal_video_cuts(spark, sf_dir):
    """Scene-cut detection over REAL rawvid bytes (r04): mean-luma jump
    threshold per frame — the keyframe-selection primitive;
    oracle-checked against the independent spec-twin golden (integer
    cut counts/indices)."""
    from .ops.multimodal import synth_video_table, video_scene_cuts

    return video_scene_cuts(synth_video_table(spark, 32))


def streaming_hourly_closed(spark, sf_dir):
    """§2.10: a REAL Structured Streaming run (file source → watermarked
    hourly window agg → availableNow → parquet sink), returned as the
    sink's contents.  Oracle-checked: the append-mode output is exactly
    the windows closed at the final watermark, which DuckDB computes
    relationally."""
    import os
    import shutil

    from . import streaming as STR

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    in_dir, out, ck = _drain_dirs(spark, "hourly_")
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(in_dir, "events.parquet"))
    STR.stream_events_hourly(spark, in_dir, out, ck)
    res = spark.read.parquet(out).select(
        F.unix_timestamp("hour_start").alias("hour_epoch"),
        "event_type", "n", "sum_value_floor",
    )
    return res


def streaming_dedup_docs(spark, sf_dir):
    """Streaming exact dedup (dropDuplicates over the file-source
    stream, availableNow drain): per-language count of distinct
    (lang, md5(text)) keys.  The aggregate is computed batch-side from
    the deduped sink, so the result is independent of stream read
    order and matches the DuckDB COUNT(DISTINCT) oracle exactly."""
    import os
    import shutil

    from . import streaming as STR

    in_dir, out, ck = _drain_dirs(spark, "sdedup_")
    shutil.copy(f"{sf_dir}/documents.parquet", os.path.join(in_dir, "documents.parquet"))
    STR.stream_dedup_docs(spark, in_dir, out, ck)
    res = (
        spark.read.parquet(out)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    return res


def streaming_dedup_watermarked(spark, sf_dir):
    """Watermark-BOUNDED streaming dedup (r04 verdict item 7):
    ``dropDuplicatesWithinWatermark`` over a deterministic event time
    (ts = epoch + doc_id s) — state lives only inside the lateness
    horizon instead of ∝ all distinct keys (the plain dropDuplicates
    twin documents its unbounded state).  Run here with the 7-day
    horizon ≫ the fixture's doc_id span, where the drained result
    provably equals first-occurrence dedup — so the DuckDB oracle is
    the same COUNT(DISTINCT).  The horizon-crossing behavior
    (re-emission after state eviction) is pinned separately in
    tests/test_streaming.py."""
    import os
    import shutil

    from . import streaming as STR

    in_dir, out, ck = _drain_dirs(spark, "sdwm_")
    shutil.copy(f"{sf_dir}/documents.parquet",
                os.path.join(in_dir, "documents.parquet"))
    STR.stream_dedup_docs_watermarked(spark, in_dir, out, ck)
    return (
        spark.read.parquet(out)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )


def streaming_interval_join(spark, sf_dir):
    """Stream-stream interval join (clicks ⋈ same-user views within the
    preceding 30 min), drained with availableNow and aggregated
    batch-side from the emitted pairs — the result is the exact batch
    interval join, independent of micro-batch boundaries (DuckDB
    oracle).  State on both sides is watermark-bounded."""
    import os
    import shutil

    from . import streaming as STR

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    in_dir, out, ck = _drain_dirs(spark, "sij_")
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(in_dir, "events.parquet"))
    STR.stream_interval_join(spark, in_dir, out, ck)
    res = (
        spark.read.parquet(out)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("click_id").alias("min_click"),
            F.max("view_id").alias("max_view"),
        )
    )
    return res



def _format_roundtrip(spark, sf_dir, fmt: str, last_agg):
    """Shared sink→source round-trip shape for the text formats: write
    (doc_id, lang, n_chars) with the given format, read back with an
    EXPLICIT schema (no inference pass), aggregate.  The temp tree
    lives under the session stream root (deferred cleanup at exit —
    the returned DataFrame stays lazily re-readable).  CSV legs pin nullValue to a sentinel on BOTH legs so empty
    strings survive (Spark's CSV default reads '' back as NULL — r03
    review; JSON has no such asymmetry)."""
    import os

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    base = _stream_base(spark, f"{fmt}_")
    out = os.path.join(base, "out")
    schema = "doc_id bigint, lang string, n_chars bigint"
    if fmt == "json":
        docs.write.mode("overwrite").json(out)
        back = spark.read.schema(schema).json(out)
    else:
        docs.write.mode("overwrite").option("header", True).option(
            "nullValue", "\\N"
        ).csv(out)
        back = (
            spark.read.option("header", True).option("nullValue", "\\N")
            .schema(schema).csv(out)
        )
    res = back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        last_agg,
    )
    return res


def jsonl_roundtrip_docs(spark, sf_dir):
    """S8 source-format breadth: parquet → JSON-lines sink → JSON source
    (explicit schema) → aggregate; the oracle aggregates the original
    parquet directly, so a serialization bug on either leg flips the
    hash.  JSONL is the interchange format most training-data dumps
    arrive in."""
    return _format_roundtrip(spark, sf_dir, "json", F.min("doc_id").alias("min_doc"))


def csv_roundtrip_docs(spark, sf_dir):
    """S8 source-format breadth, CSV flavor (see _format_roundtrip for
    the empty-string-safe nullValue handling; doc text stays OUT of the
    CSV leg — free-text quoting is exactly the bug class this aggregate
    would mask, not test)."""
    return _format_roundtrip(spark, sf_dir, "csv", F.max("doc_id").alias("max_doc"))


def doc_quality_filter(spark, sf_dir):
    """Gopher/RefinedWeb-style QUALITY FILTER — the standard
    pre-training culling pass, composed from deterministic rules so the
    keep decision is oracle-checkable bit-for-bit:

    * length rule: 20 <= n_tokens <= 10000;
    * repetition rule: most frequent 3-token shingle covers < 20% of
      the doc's shingles (explode + two hash aggs — the max-frequency
      n-gram is the classic boilerplate/repetition signal);
    * language-signal rule: stopword ratio >= 2%.

    All-JVM: split/explode/groupBy; one shuffle keyed on doc_id.  At
    10^12 docs this is a map-side-combined agg per rule joined on the
    (hash-partitioned) doc key — no rule needs global state."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.expr("split(text, ' ')")
    stop_list = "'the', 'a', 'of', 'in', 'and'"
    base = docs.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        F.expr(
            f"size(filter(split(text, ' '), x -> x IN ({stop_list})))"
        ).cast("int").alias("n_stop"),
    )
    # RAW (multiset) shingles — the shared _SHINGLES is array_distinct'd
    # for Jaccard; repetition needs the frequencies, so no dedup here
    shingles_raw = (
        "transform(sequence(1, greatest(size(split(text, ' ')) - 2, 1)), "
        "i -> concat(element_at(split(text, ' '), i), ' ', "
        "element_at(split(text, ' '), least(i + 1, size(split(text, ' ')))), ' ', "
        "element_at(split(text, ' '), least(i + 2, size(split(text, ' '))))) )"
    )
    sh_freq = (
        docs.select("doc_id", F.explode(F.expr(shingles_raw)).alias("sh_raw"))
        .groupBy("doc_id", "sh_raw")
        .agg(F.count(F.lit(1)).alias("f"))
        .groupBy("doc_id")
        .agg(
            F.max("f").cast("int").alias("max_sh_freq"),
            F.sum("f").cast("long").alias("n_sh"),
        )
    )
    out = base.join(sh_freq, "doc_id")
    rep_frac = F.col("max_sh_freq").cast("double") / F.col("n_sh").cast("double")
    stop_frac = F.col("n_stop").cast("double") / F.col("n_tokens").cast("double")
    # ratio columns emitted as EXACT integer numerators/denominators —
    # ROUND(ratio, 6) on small-int fractions is the gotcha-8 boundary-tie
    # class (r03 review reproduced 41/640 rounding differently per
    # engine); the keep flag compares the unrounded doubles, which are
    # bit-identical (single / of identical ints)
    return out.select(
        "doc_id",
        "n_tokens",
        "max_sh_freq",
        "n_sh",
        "n_stop",
        (
            (F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 10000)
            & (rep_frac < 0.2) & (stop_frac >= 0.02)
        ).alias("keep"),
    )



def tfidf_top_terms(spark, sf_dir):
    """TF-IDF keyword extraction (feature-extraction pass): per document
    the top-3 terms by tf · idf with a deterministic tie-break.

    idf uses an INTEGER-EXACT proxy — FLOOR(N·1000 / df) — instead of
    log(N/df): same ordering for ranking purposes, zero transcendental
    parity risk (CLAUDE.md gotcha 8).  Shape: tokens explode → per-doc
    tf agg → distinct-doc df agg (the corpus-level side, one row per
    term) joined back — at 10^12 docs the df table is vocabulary-sized
    (≪ corpus) and broadcasts; both aggs are map-side combined."""
    docs = _t(spark, sf_dir, "documents")
    # N as a RELATIONAL one-row aggregate broadcast-cross-joined into the
    # scored frame (r03 verdict: docs.count() here was an eager full-scan
    # Spark job at BUILD time — at 100 TB a whole extra pass over
    # `documents` before the returned plan even ran).  The one-row frame
    # rides the same plan and the join is a broadcast nested loop over a
    # single row — free.
    n_docs_df = docs.agg(F.count(F.lit(1)).alias("_nd"))
    toks = docs.select(
        "doc_id", F.explode(F.expr("split(text, ' ')")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # document frequency FROM tf (one row per (doc, term) already) —
    # not a second explode+distinct over the corpus (r03 review)
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs_df))
        .withColumn(
            "score",
            F.col("tf") * F.expr("CAST(FLOOR(_nd * 1000 / df) AS BIGINT)"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "term", "score")
    )



def pack_sequences(spark, sf_dir):
    """Sequence PACKING — the pre-training batching step: documents are
    packed in deterministic (doc_id) order into fixed token-budget bins
    of 2048, by bucketing the RUNNING token total (a doc whose window
    sum crosses bin k starts bin k's successor — the classic cumsum
    formulation, exact in integers).

    Scale note: a bare global-order window would move EVERYTHING to
    one partition (Spark's 'No Partition Defined' warning), so the
    prefix sum is computed in two levels — parallel within doc_id-range
    buckets, then a tiny bucket-offset window broadcast back.  Output:
    per bin → doc count, token total, first doc."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.expr("size(split(text, ' '))").cast("long")
    t = docs.select("doc_id", toks.alias("n_tokens")).withColumn(
        "_b", F.expr("CAST(FLOOR(doc_id / 4096) AS BIGINT)")
    )
    # TWO-LEVEL prefix sum (r03 review: a bare Window.orderBy moves the
    # WHOLE table to one partition — Spark warns 'No Partition Defined').
    # Level 1: running sum within each doc_id-range bucket (parallel);
    # level 2: bucket totals (one row per bucket) get the single-
    # partition window — tiny by construction — and broadcast back as
    # offsets.  cum is identical to the naive global window.
    wb = Window.partitionBy("_b").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = t.withColumn("_lcum", F.sum("n_tokens").over(wb))
    btot = t.groupBy("_b").agg(F.sum("n_tokens").alias("_bt"))
    wo = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offs = btot.withColumn(
        "_off", F.coalesce(F.sum("_bt").over(wo), F.lit(0)).cast("long")
    ).select("_b", "_off")
    binned = (
        local.join(F.broadcast(offs), "_b")
        .withColumn("cum", F.col("_lcum") + F.col("_off"))
        .withColumn(
            "seq_id",
            F.expr("CAST(FLOOR((cum - n_tokens) / 2048) AS BIGINT)"),
        )
    )
    return binned.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


def mvt_tile_stats(spark, sf_dir):
    """S7 MVT sink, ORACLE-CHECKED (r03; was rows-only): road segments →
    tile cut → per-tile encoded vector-tile blob.  Emits (z, tx, ty,
    n_features) where n_features is the count of segments that REALLY
    intersect the tile (division-free SAT membership,
    geom.segments_intersect_rect) — DuckDB recomputes the bbox cover +
    the identical ``* - <=`` SAT expressions and matches bit-for-bit.
    The protobuf blob bytes (still produced by this same write) have no
    relational twin and stay pinned byte-exactly in tests/test_mvt.py."""
    from . import mvt as MVT
    from .harness import segments_df

    segs = segments_df(spark, sf_dir)
    # per-invocation private dir under the session temp root (r03
    # review: a fixed shared /tmp path was pre-seedable by other users;
    # r04: deferred cleanup so the result stays lazy)
    out = _stream_base(spark, "mvt_")
    tiles = MVT.write_road_mvt(segs, out, level=4)
    return tiles.select("z", "tx", "ty", "n_features")


def image_render_colormap(spark, sf_dir):
    """S6b rendered-PNG sink (r05, VERDICT item 4): the point-density
    layer at level 6, binned through the 8-stop COLORMAP_RAMP LUT and
    rendered to one 8×8-pixel PNG per level-3 tile (ops.payload.
    render_colormap_png).  The emitted channel sums come from DECODING
    each tile's png, so every row certifies the encode→decode round
    trip; the DuckDB oracle recomputes n_covered and the sums from the
    relational cell counts joined to the same LUT literals — integers
    end-to-end."""
    from .harness import points_df
    from .ops import spatial as SP
    from .ops.payload import render_colormap_png

    pts = SP.with_point_cell(points_df(spark, sf_dir), 6, keep_idx=True)
    cells = pts.groupBy("cell_id_ix", "cell_id_iy").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    binned = cells.select(
        F.expr("CAST(FLOOR(cell_id_ix / 8) AS INT)").alias("tx"),
        F.expr("CAST(FLOOR(cell_id_iy / 8) AS INT)").alias("ty"),
        F.expr("CAST(cell_id_ix - FLOOR(cell_id_ix / 8) * 8 AS INT)").alias("px"),
        F.expr("CAST(cell_id_iy - FLOOR(cell_id_iy / 8) * 8 AS INT)").alias("py"),
        F.expr("CAST(LEAST(FLOOR(cnt / 4), 7) AS INT)").alias("bin"),
    )
    tiles = render_colormap_png(binned, tile_px=8)
    return tiles.select("tx", "ty", "n_covered", "sum_r", "sum_g", "sum_b")


def mvt_pyramid_stats(spark, sf_dir):
    """S7b multi-zoom MVT pyramid (r05, VERDICT item 2): road segments
    → per-zoom tile cut + clip + encode for z3..z5 → per-zoom tile and
    feature totals.  n_tiles counts every COVERED tile (a tile whose
    candidates all SAT-reject still gets an empty-layer blob — the
    viewer needs the tile to exist); sum_features counts real
    SAT-intersecting segments.  The DuckDB oracle recomputes both per
    zoom from `supplier` via the bbox cover + SAT membership; the blob
    bytes themselves are pinned per-zoom in tests/test_mvt.py."""
    import os

    from . import mvt as MVT
    from .harness import segments_df

    segs = segments_df(spark, sf_dir)
    base = _stream_base(spark, "pyr_")
    tiles = MVT.write_road_mvt_pyramid(
        segs, os.path.join(base, "pyramid"), z_min=3, z_max=5
    )
    return tiles.groupBy("z").agg(
        F.count(F.lit(1)).cast("long").alias("n_tiles"),
        F.sum("n_features").cast("long").alias("sum_features"),
    )


def osm_qatile_roads(spark, sf_dir):
    """S2's REAL form (r05, VERDICT item 1): OSM QA-tiles — an MbTiles
    SQLite of gzip'd Mapbox vector tiles — as a SOURCE.  The round trip
    is closed both ways with from-scratch code: road segments →
    write_road_mvt (distributed tile cut + MVT encode) → write_mbtiles
    (TMS rows, gzip blobs, metadata) → read_qatiles (driver reads ONLY
    min/max rowid; rowid-range tasks each open the db read-only, gunzip
    + MVT-decode their tiles) → per-tile feature counts and road-id
    sums.  The DuckDB oracle recomputes both from `supplier` via the
    bbox cover + division-free SAT membership — a bug anywhere in the
    encoder, sqlite framing, TMS flip, gzip, or decoder changes counts
    or ids and flips the hash."""
    import os

    from . import mvt as MVT
    from . import osm as OSM
    from .harness import segments_df

    segs = segments_df(spark, sf_dir)
    base = _stream_base(spark, "qat_")
    tiles = MVT.write_road_mvt(segs, os.path.join(base, "tiles_pq"), level=4)
    mb = os.path.join(base, "roads.mbtiles")
    OSM.write_mbtiles(tiles, mb)
    feats = OSM.read_qatiles(spark, mb)
    return feats.groupBy("z", "tx", "ty").agg(
        F.count(F.lit(1)).cast("int").alias("n_features"),
        F.sum("road_id").cast("long").alias("sum_road_id"),
    )


def multimodal_video_frames(spark, sf_dir):
    """Frame sampling over REAL decodable rawvid bytes (from-scratch
    container; rows-only here, frame means pinned bit-exactly against a
    numpy oracle in tests)."""
    from .ops.multimodal import synth_video_table, video_frame_sample

    return video_frame_sample(synth_video_table(spark, 32))


QUERIES_EXT = {
    "doc_rolling_fingerprint": doc_rolling_fingerprint,
    "token_bpe_counts": token_bpe_counts,
    "spatial_knn_unbounded": spatial_knn_unbounded,
    "multimodal_audio_features": multimodal_audio_features,
    "multimodal_video_frames": multimodal_video_frames,
    "multimodal_audio_spectral": multimodal_audio_spectral,
    "multimodal_video_cuts": multimodal_video_cuts,
    "mvt_tile_stats": mvt_tile_stats,
    "osm_qatile_roads": osm_qatile_roads,
    "mvt_pyramid_stats": mvt_pyramid_stats,
    "image_render_colormap": image_render_colormap,
    "streaming_hourly_closed": streaming_hourly_closed,
    "dedup_exact": dedup_exact,
    "simhash60": simhash60,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "embedding_lsh_buckets": embedding_lsh_buckets,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivf_multiprobe": ann_ivf_multiprobe,
    "ngram_jaccard_indexed": ngram_jaccard_indexed,
    "embedding_cosine_neardup": embedding_cosine_neardup,
    "kmeans_embeddings": kmeans_embeddings,
    "sample_stratified": sample_stratified,
    "streaming_dedup_docs": streaming_dedup_docs,
    "streaming_dedup_watermarked": streaming_dedup_watermarked,
    "streaming_interval_join": streaming_interval_join,
    "jsonl_roundtrip_docs": jsonl_roundtrip_docs,
    "geojson_roundtrip_roads": geojson_roundtrip_roads,
    "doc_length_quantiles": doc_length_quantiles,
    "osm_relation_rings": osm_relation_rings,
    "snapshot_time_travel": snapshot_time_travel,
    "snapshot_schema_evolution": snapshot_schema_evolution,
    "snapshot_merge_upsert": snapshot_merge_upsert,
    "lang_ngram_id": lang_ngram_id,
    "dq_documents": dq_documents,
    "substring_dup_pairs": substring_dup_pairs,
    "csv_roundtrip_docs": csv_roundtrip_docs,
    "doc_quality_filter": doc_quality_filter,
    "tfidf_top_terms": tfidf_top_terms,
    "pack_sequences": pack_sequences,
    "dedup_clusters": dedup_clusters,
    "windows_suite": windows_suite,
    "cube_lineitem": cube_lineitem,
    "strings_parts": strings_parts,
    "dates_orders": dates_orders,
    "anti_join_customers": anti_join_customers,
    "semi_join_parts": semi_join_parts,
    "image_rai_summary": image_rai_summary,
    "image_cost_distance": image_cost_distance,
    "image_warp_utm": image_warp_utm,
    "image_decode_stats": image_decode_stats,
    "image_near_dup_pairs": image_near_dup_pairs,
    "image_thumbnails": image_thumbnails,
}
