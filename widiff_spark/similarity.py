"""Similarity search over an embedding column (``array<float>``).

* ``cosine`` / ``knn_bruteforce`` — exact baseline: JVM-side dot products via
  ``zip_with`` + ``aggregate`` (no Python in the loop), window top-k.
* ``knn_lsh`` — random-hyperplane LSH: sign-bit sketches from
  deterministically-derived hyperplanes, bucket join, rerank within bucket.
  The scale path: candidate generation is an equi-join on the sketch, so
  the quadratic term is bounded by bucket size.
* ``knn_ivf`` — IVF-style coarse quantization: deterministic centroid seed
  (first ``n_cells`` vectors), assign-by-argmax, search only the probe's
  ``n_probe`` nearest cells.

All kernels compute in float64 after casting, summing in index order, so the
DuckDB oracle (list_cosine_similarity over DOUBLE[]) agrees to rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double")
                                  * y.cast("double")),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))


def cosine_expr(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def bucketed_pairwise_cosine(embeddings: DataFrame, min_cosine: float,
                             dim: int, n_planes: int = 8) -> DataFrame:
    """Scale path for embedding near-dup: candidates are pairs whose
    sign-bit LSH sketches agree on *all* ``n_planes`` hyperplanes (an
    equi-join on the sketch — shuffled hash join, quadratic only within a
    bucket), verified by exact cosine.  Recall < 1 vs the all-pairs scan by
    construction (near neighbors straddling a hyperplane land in different
    buckets); the DuckDB oracle applies the identical sketch restriction
    (deterministic sha256 hyperplanes inlined as constants)."""
    sk = lsh_sketch(embeddings, dim, n_planes) \
        .withColumn("_n", _norm(F.col("embedding")))
    a, b = sk.alias("a"), sk.alias("b")
    return (a.join(b, (F.col("a.sketch") == F.col("b.sketch"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"),
                    F.round(_dot(F.col("a.embedding"), F.col("b.embedding"))
                            / (F.col("a._n") * F.col("b._n")), 4)
                    .alias("cosine"))
            .filter(F.col("cosine") >= min_cosine))


def knn_bruteforce(embeddings: DataFrame, queries: DataFrame,
                   k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries``: (query_id, embedding).  Broadcast the (small) query side so
    the big corpus never shuffles — scoring is a map-only stage; only the
    per-query top-k reduction exchanges data.
    """
    # norms are precomputed once per corpus row / per query row and the
    # per-candidate kernel is dot/(n_a*n_q) — same arithmetic, but the two
    # higher-order-function norm walks no longer run once per candidate
    # (guide §4.1: every HOF evaluation materializes an intermediate array)
    corpus = embeddings.withColumn("_n", _norm(F.col("embedding")))
    q = F.broadcast(queries.select(F.col("query_id"),
                                   F.col("embedding").alias("q_emb"))
                    .withColumn("_qn", _norm(F.col("q_emb"))))
    scored = (corpus.crossJoin(q)
              .filter(F.col("vec_id") != F.col("query_id"))
              .select("query_id", "vec_id",
                      F.round(_dot(F.col("embedding"), F.col("q_emb"))
                              / (F.col("_n") * F.col("_qn")), 4)
                      .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "cosine", "rank"))


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from sha256 (no RNG state)."""
    import hashlib
    out = []
    i = 0
    while len(out) < dim:
        digest = hashlib.sha256(f"{plane}:{i}".encode()).digest()
        out.extend(b - 127.5 for b in digest)
        i += 1
    return [float(v) for v in out[:dim]]


def _sketch_expr(emb_col: str, dim: int, n_planes: int, table: int = 0):
    """Sign-bit sketch column: bit p = (embedding . hyperplane) >= 0.
    ``table`` offsets the hyperplane seeds (table*64 + p) so independent
    hash tables see independent projections; table 0 matches the original
    single-table sketch."""
    sketch = None
    for p in range(n_planes):
        plane = F.array(*[F.lit(v) for v in _hyperplane(dim, table * 64 + p)])
        bit = F.when(_dot(F.col(emb_col), plane) >= 0,
                     F.lit(1 << p)).otherwise(F.lit(0))
        sketch = bit if sketch is None else (sketch + bit)
    return sketch.cast("int")


def lsh_sketch(embeddings: DataFrame, dim: int, n_planes: int = 8,
               emb_col: str = "embedding", table: int = 0) -> DataFrame:
    return embeddings.withColumn(
        "sketch", _sketch_expr(emb_col, dim, n_planes, table))


def knn_lsh(embeddings: DataFrame, queries: DataFrame, dim: int,
            k: int = 5, n_planes: int = 8) -> DataFrame:
    """Bucketed ANN with radius-1 multi-probe: each query searches its own
    bucket plus the ``n_planes`` buckets one sign-flip away (explode the
    probe list, equi-join on the sketch — still no cartesian; candidate cost
    is (n_planes + 1) buckets per query).  Single-bucket probing measured
    16% recall@5 on the driver corpus; multi-probe lifts it to ~53-56%.

    THIS IS THE COST-FLOOR POINT of the published recall/cost curve
    (BENCH/BASELINE.md: 1/2/4/6/8 tables -> 53/77/94/99/100% recall@5 at
    linear candidate cost).  For production recall use ``knn_lsh_tables``
    (6 tables, 99%) — same plan shape, n_tables x the candidates; the
    exact baseline (knn_bruteforce) stays the quality oracle.

    Recall < 1 by construction — the documented ANN trade."""
    corpus = lsh_sketch(embeddings, dim, n_planes) \
        .withColumn("_n", _norm(F.col("embedding")))
    probe_variants = F.array(
        F.col("sketch"),
        *[F.col("sketch").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)])
    probes = (lsh_sketch(queries, dim, n_planes, emb_col="embedding")
              .select("query_id", F.col("embedding").alias("q_emb"),
                      F.explode(probe_variants).alias("sketch"))
              .withColumn("_qn", _norm(F.col("q_emb"))))
    # norms precomputed per side (see knn_bruteforce note); same arithmetic
    scored = (corpus.join(F.broadcast(probes), "sketch")
              .filter(F.col("vec_id") != F.col("query_id"))
              .select("query_id", "vec_id",
                      F.round(_dot(F.col("embedding"), F.col("q_emb"))
                              / (F.col("_n") * F.col("_qn")), 4)
                      .alias("cosine"))
              .distinct())
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "cosine", "rank"))


def knn_lsh_tables(embeddings: DataFrame, queries: DataFrame, dim: int,
                   k: int = 5, n_planes: int = 4,
                   n_tables: int = 6) -> DataFrame:
    """Multi-table LSH ANN: ``n_tables`` independent hash tables (each its
    own hyperplane family) with radius-1 multi-probe per table; candidates
    are the union over tables, verified by exact cosine.

    A neighbor is missed only if every table separates it from the query —
    the miss probability decays exponentially in n_tables, which is the
    standard recall lever single-table probing (knn_lsh, 56% recall@5 on
    the driver corpus) lacks.  Cost is linear in n_tables: each table is an
    equi-join on (table_id, sketch); the corpus is sketched once per table
    in one projection (no extra scans), queries stay broadcast.  Measured
    recall@5 vs knn_bruteforce (sf0.01, 20 queries): 53% at 1 table ->
    77%/94%/99%/100% at 2/4/6/8 tables; full curve in BENCH/BASELINE.md."""
    c_sketches = F.array(*[_sketch_expr("embedding", dim, n_planes, t)
                           for t in range(n_tables)])
    corpus = (embeddings
              .select("vec_id", "embedding", _norm(F.col("embedding")).alias("_n"),
                      F.posexplode(c_sketches).alias("table_id", "sketch")))

    # probes mirror the corpus: ONE posexplode of the same sketch array,
    # then the radius-1 variants as bit flips of the exploded COLUMN.  Rows
    # are identical to the per-table union formulation this replaces
    # (parity-verified), but the plan carries one copy of the 24-plane
    # sketch subtree instead of 6 branches x 5 copies + a union — that
    # formulation cost ~4 s of DRIVER-side Catalyst analysis per call
    # (scale-independent overhead; the sf0.1 line dropped ~3x)
    probes = (queries
              .select("query_id", F.col("embedding").alias("q_emb"),
                      _norm(F.col("embedding")).alias("_qn"),
                      F.posexplode(c_sketches).alias("table_id", "base"))
              .select("query_id", "q_emb", "_qn", "table_id",
                      F.explode(F.array(F.col("base"),
                                        *[F.col("base").bitwiseXOR(F.lit(1 << p))
                                          for p in range(n_planes)]))
                      .alias("sketch")))

    # norms precomputed per side (see knn_bruteforce note); same arithmetic
    scored = (corpus.join(F.broadcast(probes), ["table_id", "sketch"])
              .filter(F.col("vec_id") != F.col("query_id"))
              .select("query_id", "vec_id",
                      F.round(_dot(F.col("embedding"), F.col("q_emb"))
                              / (F.col("_n") * F.col("_qn")), 4)
                      .alias("cosine"))
              .distinct())
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "cosine", "rank"))


def knn_ivf(embeddings: DataFrame, queries: DataFrame, n_cells: int = 32,
            n_probe: int = 8, k: int = 5) -> DataFrame:
    """IVF-style ANN: coarse centroids = the first ``n_cells`` corpus vectors
    (deterministic seed), assignment by max cosine, probe the query's
    ``n_probe`` best cells only.

    Position on the recall/cost curve (measured sweep, BENCH/BASELINE.md):
    the 32-cell/8-probe default scans ~25% of the corpus per query for
    94% recall@5 — the same scan fraction the old 16/4 default spent for
    85%.  Denser probing buys the rest (16/12 -> 96% at 75% scanned);
    ``ann_knn_lsh_multi`` (99% at ~6x sketch-join cost) is the
    high-recall choice, this operator the partition-pruned one: each
    query reads ``n_probe`` cells, so at 100 TB the cell assignment is a
    write-time partition key and probing is partition pruning.  A Lloyd
    refinement round on the seeded centroids was measured and does NOT
    help on isotropic embeddings (recall -1 to -4 points at equal cost —
    fewer effective cells after refinement; sweep recorded in
    BENCH/BASELINE.md), so the seed centroids stay."""
    # norms projected once per side below every join (knn_bruteforce
    # pattern): the centroid dim carries _cn, each scored side carries its
    # own vector norm, and every cosine is dot/(n_a*n_b) — the same
    # doubles in the same order as cosine_expr, minus the per-pair HOF
    # norm walks (n_cells of them per vector in the assignment alone)
    centroids = F.broadcast(
        embeddings.orderBy("vec_id").limit(n_cells)
        .select(F.col("vec_id").alias("cell_id"),
                F.col("embedding").alias("c_emb"),
                _norm(F.col("embedding")).alias("_cn")))

    def scored_cells(df, id_col, emb_col):
        return (df.withColumn("_vn", _norm(F.col(emb_col)))
                .crossJoin(centroids)
                .select(id_col, emb_col, "_vn",
                        "cell_id",
                        (_dot(F.col(emb_col), F.col("c_emb"))
                         / (F.col("_vn") * F.col("_cn"))).alias("c_cos")))

    # corpus side (keep=1): argmax as a partial-aggregated max_by, not a
    # row_number window — the corpus x n_cells scored rows otherwise all
    # flow through a full sort-exchange partitioned by vec_id (the
    # semdedup / kg_link_mentions top-1 lesson, VERDICT r5 ask #5); ties
    # break to the lowest cell_id via the (c_cos, -cell_id) struct,
    # identical to the old window's (c_cos DESC, cell_id ASC)
    corpus = (scored_cells(embeddings, "vec_id", "embedding")
              .groupBy("vec_id")
              .agg(F.max_by(F.struct("cell_id", "embedding", "_vn"),
                            F.struct(F.col("c_cos"),
                                     (-F.col("cell_id")).alias("_nc")))
                   .alias("_best"))
              .select("vec_id", F.col("_best.cell_id").alias("cell_id"),
                      F.col("_best.embedding").alias("embedding"),
                      F.col("_best._vn").alias("_n")))

    # query side (keep=n_probe): top-n needs an ordering; the query set is
    # small, so the window sort is cheap and stays
    q_scored = scored_cells(
        queries.select("query_id", F.col("embedding").alias("q_emb")),
        "query_id", "q_emb")
    wq = Window.partitionBy("query_id").orderBy(F.desc("c_cos"),
                                                F.asc("cell_id"))
    probes = (q_scored.withColumn("__r", F.row_number().over(wq))
              .filter(F.col("__r") <= n_probe).drop("__r", "c_cos")
              .withColumnRenamed("_vn", "_qn"))
    scored = (corpus.join(probes, "cell_id")
              .filter(F.col("vec_id") != F.col("query_id"))
              .select("query_id", "vec_id",
                      F.round(_dot(F.col("embedding"), F.col("q_emb"))
                              / (F.col("_n") * F.col("_qn")), 4)
                      .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "cosine", "rank"))


def semdedup(embeddings: DataFrame, n_cells: int = 32,
             min_cosine: float = 0.95) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication scoped to
    coarse embedding clusters — drop a vector iff ANY lower-id vector in
    the SAME cell is within ``min_cosine``, whether or not that neighbor
    is itself kept (so a transitive chain A~B, B~C with A!~C drops BOTH
    B and C).  This is deliberately NOT iterative greedy pruning against
    kept representatives: the any-lower-id-neighbor rule is a single
    self-join — order-free and one shuffle — where true greedy pruning is
    a sequential scan per cell; the oracle re-derives the same rule.

    Scale shape: the cluster assignment is the IVF pattern (n_cells seed
    centroids broadcast, one row_number per vector); the duplicate probe
    is a cell_id equi-join — quadratic only WITHIN a cell, so cell size
    is the knob: raise ``n_cells`` with the corpus (the paper runs 50k
    clusters at 5B embeddings) and the per-cell work stays bounded while
    the join stays shuffle-partitioned on cell_id.

    Returns (vec_id, cell_id, centroid_cos, keep)."""
    # norms once per side below the joins (knn_bruteforce pattern): _cn on
    # the broadcast centroid dim, _n carried per vector through the
    # assignment argmax — the per-pair kernels keep only the dot, same
    # doubles in the same order as cosine_expr
    centroids = F.broadcast(
        embeddings.orderBy("vec_id").limit(n_cells)
        .select(F.col("vec_id").alias("cell_id"),
                F.col("embedding").alias("c_emb"),
                _norm(F.col("embedding")).alias("_cn")))
    scored = (embeddings.withColumn("_n", _norm(F.col("embedding")))
              .crossJoin(centroids)
              .select("vec_id", "embedding", "_n", "cell_id",
                      (_dot(F.col("embedding"), F.col("c_emb"))
                       / (F.col("_n") * F.col("_cn"))).alias("c_cos")))
    # argmax as a partial-aggregated max_by, not a row_number window:
    # the kg_link_mentions top-1 lesson — a hash aggregate avoids the
    # full sort-shuffle, which matters here because the assignment
    # subtree executes once per reference below (ties break to the
    # lowest cell_id via the (c_cos, -cell_id) ordering struct)
    assigned = (scored.groupBy("vec_id")
                .agg(F.max_by(F.struct("cell_id", "embedding", "_n"),
                              F.struct(F.col("c_cos"),
                                       (-F.col("cell_id")).alias("_nc")))
                     .alias("_best"),
                     F.max("c_cos").alias("c_cos"))
                .select("vec_id", F.col("_best.cell_id").alias("cell_id"),
                        F.col("_best.embedding").alias("embedding"),
                        F.col("_best._n").alias("_n"),
                        "c_cos"))
    a, b = assigned.alias("a"), assigned.alias("b")
    dup = (a.join(b, (F.col("a.cell_id") == F.col("b.cell_id"))
                  & (F.col("b.vec_id") < F.col("a.vec_id")))
           .filter(F.round(_dot(F.col("a.embedding"), F.col("b.embedding"))
                           / (F.col("a._n") * F.col("b._n")), 4)
                   >= min_cosine)
           .select(F.col("a.vec_id").alias("vec_id")).distinct()
           .withColumn("_dup", F.lit(True)))
    return (assigned.join(dup, "vec_id", "left")
            .select("vec_id", "cell_id",
                    F.round("c_cos", 4).alias("centroid_cos"),
                    F.col("_dup").isNull().alias("keep")))


def sq8_bounds(embeddings: DataFrame, dim: int = 64) -> list[tuple]:
    """Per-dimension (min, max) of the corpus — the SQ8 codebook.  ONE
    partial-aggregated pass; the result is 2 x dim scalars (driver-safe
    at any corpus size — this is a codebook fetch, not a data collect)."""
    aggs = []
    for d in range(dim):
        e = F.element_at("embedding", d + 1).cast("double")
        aggs.append(F.min(e).alias(f"mn{d}"))
        aggs.append(F.max(e).alias(f"mx{d}"))
    row = embeddings.agg(*aggs).collect()[0]
    bounds = [(row[f"mn{d}"], row[f"mx{d}"]) for d in range(dim)]
    bad = [d for d, (mn, mx) in enumerate(bounds) if mn is None or mx is None]
    if bad:
        # ADVICE r7: an empty frame or vectors shorter than ``dim`` used to
        # surface later as an opaque float(None) TypeError in sq8_encode
        raise ValueError(
            f"sq8_bounds: no values for dimension(s) {bad[:5]} (of dim="
            f"{dim}) — embeddings frame is empty or its vectors are "
            f"shorter than dim")
    return bounds


def sq8_encode(embeddings: DataFrame, bounds: list[tuple],
               emb_col: str = "embedding") -> DataFrame:
    """8-bit scalar quantization: code_d = floor((x_d - min_d) /
    (max_d - min_d) * 255), clamped to [0, 255]; constant dimensions
    encode 0.  Map-only, zero shuffle; the 64-float vector becomes 64
    bytes — 4x less scan/shuffle IO for every downstream consumer."""
    mins = F.array(*[F.lit(float(mn)) for mn, _ in bounds])
    rng = F.array(*[F.lit(float(mx - mn) if mx > mn else 1.0)
                    for mn, mx in bounds])
    codes = F.transform(
        F.col(emb_col),
        lambda x, i: F.least(
            F.lit(255),
            F.greatest(F.lit(0), F.floor(
                (x.cast("double") - F.element_at(mins, i + 1))
                / F.element_at(rng, i + 1) * 255).cast("int"))))
    return embeddings.withColumn("sq8", codes)


def knn_sq8(embeddings: DataFrame, queries: DataFrame, k: int = 5,
            dim: int = 64) -> DataFrame:
    """Top-k cosine ANN over 8-bit scalar-quantized vectors with
    asymmetric scoring (codes on the corpus side, full precision on the
    query side) — the memory/IO-compression rung of the ANN ladder
    (FAISS's SQ8 flat index): the corpus scan reads 64 BYTES per vector
    instead of 64 floats, with recall governed only by quantization
    error.  Reconstruction: x̂_d = min_d + code_d x (max_d - min_d)/255.

    Scale shape: identical to knn_bruteforce — codebook via one
    aggregate pass, encode + score map-only against the broadcast query
    side, one per-query top-k reduction.  Combine with knn_ivf's cell
    routing for the full IVF-SQ layout (assignment on reconstructed
    vectors keeps write-time partitioning consistent).

    Returns (query_id, vec_id, cosine, rank), cosine rounded to 4."""
    bounds = sq8_bounds(embeddings, dim=dim)
    mins = F.array(*[F.lit(float(mn)) for mn, _ in bounds])
    rng = F.array(*[F.lit(float(mx - mn) if mx > mn else 1.0)
                    for mn, mx in bounds])
    recon = F.transform(
        F.col("sq8"),
        lambda c, i: F.element_at(mins, i + 1)
        + c.cast("double") * F.element_at(rng, i + 1) / 255.0)
    # norms once per side below the join (knn_bruteforce pattern): the
    # reconstructed vector and its norm are row-level projections, so the
    # per-pair kernel keeps only the dot — same doubles in the same order
    # as cosine_expr, minus two 64-element HOF walks per candidate pair
    corpus = (sq8_encode(embeddings, bounds)
              .select("vec_id", recon.alias("recon"))
              .withColumn("_n", _norm(F.col("recon"))))
    q = F.broadcast(queries.select(F.col("query_id"),
                                   F.col("embedding").alias("q_emb"),
                                   _norm(F.col("embedding")).alias("_qn")))
    scored = (corpus.crossJoin(q)
              .filter(F.col("vec_id") != F.col("query_id"))
              .select("query_id", "vec_id",
                      F.round(_dot(F.col("recon"), F.col("q_emb"))
                              / (F.col("_n") * F.col("_qn")), 4)
                      .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "cosine", "rank"))
