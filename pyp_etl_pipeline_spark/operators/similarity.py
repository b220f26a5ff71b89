"""Embedding similarity search (scale extension of J2; sink precedent:
``Product.embedding @search(by:["hnsw"])``, reference ``memberSchema (2).gql:86``).

- brute-force cosine top-k: exact baseline. Queries are broadcast; the
  dot product runs JVM-side via ``zip_with`` + ``aggregate`` higher-order
  functions (no Python, no per-element shuffle). O(Q x N) compute but
  embarrassingly parallel over N's partitions — the right baseline shape
  for a 1000-executor scan.
- LSH-bucketed top-k (random-hyperplane signs): the scale path. Vectors
  land in 2^n_planes buckets; candidates = same-bucket (+ optional
  multi-probe neighbors), then exact cosine re-rank. Hyperplanes are
  deterministic (seeded md5 stream) so results are reproducible.
- cosine near-dup pairs for the dedup suite.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_double(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine`` with the norms precomputed PER ROW instead of per pair
    — bit-identical values (same subexpressions, same IEEE order), but a
    pairwise join evaluates one 64-wide array fold per pair instead of
    three. On an O(pairs) self-join that is ~3x less fold work."""
    return dot(a, b) / (na * nb)


def _topk(scored: DataFrame, k: int, key: Column, *out: Column | str) -> DataFrame:
    """The per-query top-k tail every ranker shares: ``row_number`` over
    ``key`` with ties to the smaller neighbor id (deterministic), then
    the ``k`` best rows as (query_id, neighbor_id, rank, *out)."""
    w = Window.partitionBy("query_id").orderBy(key, F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", *out)
    )


def _cosine_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Cosine top-k of candidate pairs carrying (__q, __nq) query and
    (__v, __nv) neighbor vectors with their norms."""
    scored = pairs.withColumn(
        "cosine", cosine_with_norms(F.col("__q"), F.col("__v"), F.col("__nq"), F.col("__nv"))
    )
    return _topk(scored, k, F.desc("cosine"), F.round("cosine", 6).alias("cosine"))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k per query. Queries broadcast against the corpus;
    ties broken by neighbor id for determinism. Self-matches excluded when
    ids collide."""
    corpus = vectors.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("__v")
    ).withColumn("__nv", l2_norm(F.col("__v")))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), _as_double(query_vec_col).alias("__q")
    ).withColumn("__nq", l2_norm(F.col("__q")))
    return _cosine_topk(corpus.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")), k)


def _hyperplanes(dim: int, n_planes: int, seed: str = "pyp-lsh") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from an md5 counter stream
    (no RNG state, reproducible across runs and engines)."""
    planes = []
    for p in range(n_planes):
        vals: list[float] = []
        i = 0
        while len(vals) < dim:
            h = hashlib.md5(f"{seed}:{p}:{i}".encode()).digest()
            for off in range(0, 16, 4):
                if len(vals) >= dim:
                    break
                u = int.from_bytes(h[off : off + 4], "big") / 2**32  # [0,1)
                vals.append(2.0 * u - 1.0)
            i += 1
        planes.append(vals)
    return planes


def _lit_double_array(vals) -> Column:
    """array<double> constant via one parsed SQL string (the fast-literal
    path — see ``_sql_centroid_dists``). ``repr`` is the shortest decimal
    that round-trips the double, and Spark's decimal->double cast is
    correctly rounded, so every value is bit-exact; the one exception is
    -0.0 (the parser reads ``-0.0`` as decimal and drops the sign), kept
    exact via a string cast; non-finite values (``repr`` yields ``inf``/
    ``nan``, which the SQL parser rejects) likewise route through the
    string cast ('Infinity'/'-Infinity'/'NaN' parse exactly)."""

    def _one(v: float) -> str:
        if not math.isfinite(v):
            s = "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
            return f"CAST('{s}' AS DOUBLE)"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "CAST('-0.0' AS DOUBLE)"
        return f"CAST({v!r} AS DOUBLE)"

    return F.expr("array(" + ",".join(_one(v) for v in vals) + ")")


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bucket id: bit p set iff dot(vec, plane_p) >= 0."""
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        pl = _lit_double_array(plane)
        bucket = bucket + F.when(dot(vec, pl) >= 0, F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
    return bucket


def estimate_rows(df: DataFrame, row_width_hint: int = 8 * 64 + 16) -> int:
    """Order-of-magnitude row-count estimate from Catalyst plan
    statistics — launches NO job (the previous ``df.count()`` default was
    a full corpus scan at plan time: harmless at sf0.1, a wasted 100 TB
    pass on a cluster). Uses the optimizer's rowCount when the catalog
    has one (ANALYZE TABLE / CBO stats); otherwise sizeInBytes divided by
    an approximate row width. ``derive_n_planes`` only consumes
    log2(n_rows), so even a 4x width error moves the plane count by ~2 —
    callers needing exact sizing pass ``n_rows`` explicitly."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    rc = stats.rowCount()
    if rc.isDefined():
        return max(1, int(str(rc.get())))
    size = int(str(stats.sizeInBytes()))
    if size >= 1 << 60:
        # sources without size statistics (RDD-backed / createDataFrame
        # plans) report spark.sql.defaultSizeInBytes (Long.MaxValue) —
        # useless. Those are driver-local datasets, so an actual count is
        # cheap; file/catalog scans always carry a real sizeInBytes and
        # never take this branch.
        return max(1, df.count())
    return max(1, size // max(1, row_width_hint))


def derive_n_planes(n_rows: int, target_bucket_rows: int = 1024, max_planes: int = 16) -> int:
    """Corpus-proportional hyperplane count: enough planes that the
    EXPECTED bucket holds ~``target_bucket_rows`` vectors, capped so the
    bucket id stays well inside a long. The within-bucket candidate join
    is quadratic per bucket, so a fixed plane count (16 buckets) that is
    fine at 10^5 vectors is a scale-killer at 10^9 — planes must grow
    with log2(corpus). 10^9 rows / 1024-row buckets -> 20 planes capped
    at 16 -> ~15k rows/bucket: each bucket's self-join stays executor-
    sized while the number of buckets (2^16) spreads across the cluster."""
    import math  # noqa: PLC0415

    if n_rows <= target_bucket_rows:
        return 1
    return max(1, min(max_planes, math.ceil(math.log2(n_rows / target_bucket_rows))))


def _probe_buckets(bucket: Column, n_planes: int, multiprobe: bool) -> Column:
    """The bucket list a QUERY probes: its own bucket, plus — with
    ``multiprobe`` — every Hamming-distance-1 neighbor (one sign bit
    flipped). A near neighbor falls in a different bucket exactly when
    some plane splits the pair, and one plane is overwhelmingly more
    likely than two; radius-1 probing buys most of the lost recall for
    (n_planes+1)x fan-out of the SMALL query side only."""
    probes = [bucket]
    if multiprobe:
        probes += [bucket.bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
    return F.array(*probes)


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    target_bucket_rows: int = 1024,
    multiprobe: bool = False,
    n_rows: int | None = None,
) -> DataFrame:
    """Approximate top-k: equi-join on the sign bucket, exact re-rank inside.
    Recall < 1.0 by construction; ``multiprobe`` additionally probes every
    Hamming-1 neighbor bucket (fan-out on the broadcast query side only).
    ``n_planes=None`` derives the plane count from the corpus size so the
    expected bucket stays ~``target_bucket_rows`` rows — the fixed-planes
    trap is a within-bucket join quadratic in corpus/2^planes. Sizing uses
    the ``n_rows`` hint when given, else a plan-statistics estimate
    (``estimate_rows`` — no corpus scan at plan time)."""
    if n_planes is None:
        if n_rows is None:
            n_rows = estimate_rows(vectors, row_width_hint=8 * dim + 16)
        n_planes = derive_n_planes(n_rows, target_bucket_rows)
    planes = _hyperplanes(dim, n_planes)
    corpus = (
        vectors.select(F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("__v"))
        .withColumn("bucket", lsh_bucket(F.col("__v"), planes))
        .withColumn("__nv", l2_norm(F.col("__v")))
    )
    q = (
        queries.select(F.col(query_id_col).alias("query_id"), _as_double(query_vec_col).alias("__q"))
        .withColumn("__nq", l2_norm(F.col("__q")))
        .withColumn("bucket", F.explode(_probe_buckets(lsh_bucket(F.col("__q"), planes), n_planes, multiprobe)))
    )
    scored = corpus.join(F.broadcast(q), "bucket").filter(F.col("query_id") != F.col("neighbor_id"))
    if multiprobe:
        # a pair can surface via two probed buckets — dedup before
        # ranking so row_number stays one row per pair (single-probe
        # needs no such shuffle: buckets partition the corpus)
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    return _cosine_topk(scored, k)


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its ``nprobe``
    nearest centroids by cosine (broadcast centroid list — the classic
    inverted-file structure). Output: (id, __v, centroid_id, probe_rank).
    """
    v = vectors.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("__v"))
    c = centroids.select(F.col("centroid_id"), _as_double("centroid_vec").alias("__c"))
    scored = v.join(F.broadcast(c), F.lit(True)).withColumn("__sim", cosine(F.col("__v"), F.col("__c")))
    w = Window.partitionBy("id").orderBy(F.desc("__sim"), F.asc("centroid_id"))
    return (
        scored.withColumn("probe_rank", F.row_number().over(w))
        .filter(F.col("probe_rank") <= nprobe)
        .select("id", "__v", "centroid_id", "probe_rank")
    )


def deterministic_centroids(
    vectors: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic coarse centroids without k-means: the vectors of the
    ``k`` smallest ids serve as seeds (reproducible across engines, no
    iterative training — the IVF *structure* is the scale-relevant part).
    For a TRAINED quantizer use ``kmeans_fit`` + ``kmeans_centroids_df``
    and pass the result as ``ivf_topk(..., centroids=...)``.
    ``orderBy + limit`` compiles to TakeOrdered (no full sort); the
    window runs over k rows.
    """
    # The seed's own id IS the centroid id: bucketing only needs distinct
    # ids, not a dense 0..k-1 numbering — so no global row_number window
    # (which would log WindowExec's single-partition warning every run)
    # and no extra pass over the seeds.
    return vectors.select(
        F.col(id_col).alias("centroid_id"), _as_double(vec_col).alias("centroid_vec")
    ).orderBy("centroid_id").limit(k)


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: corpus vectors are bucketed by nearest
    centroid (nprobe=1); each query probes its ``nprobe`` nearest
    centroid lists and exact-reranks inside them. At scale the corpus
    assignment is one broadcast pass and the search join touches
    nprobe/n_centroids of the corpus per query. Pass ``centroids``
    (e.g. ``kmeans_centroids_df(spark, kmeans_fit(vectors))``) to search
    a TRAINED quantizer; the default seeds are the untrained stand-in."""
    cents = (
        centroids
        if centroids is not None
        else deterministic_centroids(vectors, k=n_centroids, id_col=id_col, vec_col=vec_col)
    )
    corpus = ivf_assign(vectors, cents, id_col=id_col, vec_col=vec_col, nprobe=1).select(
        F.col("id").alias("neighbor_id"), F.col("__v"), "centroid_id"
    ).withColumn("__nv", l2_norm(F.col("__v")))
    q = ivf_assign(queries, cents, id_col=query_id_col, vec_col=query_vec_col, nprobe=nprobe).select(
        F.col("id").alias("query_id"), F.col("__v").alias("__q"), "centroid_id"
    ).withColumn("__nq", l2_norm(F.col("__q")))
    return _cosine_topk(
        corpus.join(F.broadcast(q), "centroid_id").filter(F.col("query_id") != F.col("neighbor_id")), k
    )


def cosine_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    dim: int = 64,
    exact: bool = False,
    target_bucket_rows: int = 1024,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= t).

    exact=False buckets by LSH sign first (the 100 TB path — near-dups at
    high thresholds almost always share a bucket); exact=True does the full
    self-join (oracle-checkable baseline). ``n_planes=None`` derives the
    plane count from the corpus size (``derive_n_planes``) so the
    within-bucket self-join — quadratic in corpus/2^planes — keeps a
    bounded expected bucket instead of inheriting a fixed 16-bucket split
    at any scale. Sizing uses the ``n_rows`` hint when given, else a
    plan-statistics estimate (``estimate_rows`` — no corpus scan at plan
    time)."""
    v = vectors.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("__v")).withColumn(
        "__n", l2_norm(F.col("__v"))
    )
    if exact:
        a = v.select(F.col("id").alias("id_a"), F.col("__v").alias("__va"), F.col("__n").alias("__na"))
        b = v.select(F.col("id").alias("id_b"), F.col("__v").alias("__vb"), F.col("__n").alias("__nb"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        if n_planes is None:
            if n_rows is None:
                n_rows = estimate_rows(vectors, row_width_hint=8 * dim + 16)
            n_planes = derive_n_planes(n_rows, target_bucket_rows)
        planes = _hyperplanes(dim, n_planes)
        vb = v.withColumn("bucket", lsh_bucket(F.col("__v"), planes))
        a = vb.select(F.col("id").alias("id_a"), F.col("__v").alias("__va"), F.col("__n").alias("__na"), "bucket")
        b = vb.select(F.col("id").alias("id_b"), F.col("__v").alias("__vb"), F.col("__n").alias("__nb"), "bucket")
        pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn(
            "cosine",
            cosine_with_norms(F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


# ---------------------------------------------------------------- k-means

def _bt(name: str) -> str:
    """Backtick-quote a column name for SQL interpolation (escaping any
    embedded backtick — the F.col path the fast-SQL builders replaced
    handled arbitrary names, so these must too)."""
    return "`" + name.replace("`", "``") + "`"


def _sql_micro_vec(col_sql: str) -> str:
    """SQL text of the per-dimension micro-unit quantization
    (floor(x*1e6 + 0.5) as LONG) over an arbitrary SQL expression — the
    same engine-portable rounding contract as ``functions/aggregates``.
    All k-means/PQ arithmetic below happens on these integers, so
    distances and centroid updates are EXACT and bit-identical across
    engines; the 1e-6 quantization is part of the operator contract
    (vastly below any embedding's noise floor)."""
    return f"transform({col_sql}, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5D) AS BIGINT))"


def _micro_vec(col: str) -> Column:
    """``_sql_micro_vec`` of the named column, as a Column."""
    return F.expr(_sql_micro_vec(_bt(col)))


def _sql_long_array(vals) -> str:
    return "array(" + ",".join(f"{int(v)}L" for v in vals) + ")"


def _sq_l2(xm: Column, cm: Column) -> Column:
    return F.aggregate(
        F.zip_with(xm, cm, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _sql_centroid_dists(xm_sql: str, centroids: list[list[int]]) -> str:
    """SQL text of the per-centroid candidate array
    transform(matrix, (c, j) -> struct(d', c)) for the micro vector
    ``xm_sql``, with d' = ||c||^2 - 2<x, c>: the squared L2 minus the
    row-constant ||x||^2. Subtracting the same value from every candidate
    preserves the (d, c) struct order EXACTLY — including equal-distance
    ties — with one multiply in the zip_with instead of subtract+square.

    The whole k x dim centroid table is ONE array<array<bigint>> Literal
    (O(1) plan nodes regardless of k and dim — k per-centroid expression
    trees made Catalyst ANALYSIS the dominant cost of every small fit
    job) and the ||c||^2 terms a second small array Literal indexed by
    cluster id. Both arrive in one parsed SQL string, which Catalyst
    constant-folds to the same Literals: ``F.lit(list)`` paid a py4j
    round trip per element (~0.5 s for a 512-cell matrix, measured) and
    the lambda builders ~1 s per ANN query."""
    mat = "array(" + ",".join(_sql_long_array(c) for c in centroids) + ")"
    norms = _sql_long_array(sum(int(v) * int(v) for v in c) for c in centroids)
    return (
        f"transform({mat}, (c, j) -> named_struct("
        f"'d', element_at({norms}, j + 1) - 2 * aggregate(zip_with({xm_sql}, c, (a, b) -> a * b), 0L, (acc, x) -> acc + x), "
        f"'c', CAST(j AS INT)))"
    )


def _nearest_centroid(xm_sql: str, centroids: list[list[int]]) -> Column:
    """struct(d, c) of the centroid nearest to the micro vector
    ``xm_sql`` (a SQL expression). ``array_min`` on structs compares
    lexicographically, so equal distances break to the smaller cluster
    id — the documented tie rule. ``d`` is the shifted d' of
    ``_sql_centroid_dists``; add ||x||^2 for the exact squared L2."""
    return F.expr(f"array_min({_sql_centroid_dists(xm_sql, centroids)})")


def _lloyd(
    vectors: DataFrame,
    k: int,
    m: int,
    ksub: int,
    n_iter: int,
    id_col: str,
    vec_col: str,
    sample_fraction: float | None,
    name: str,
    salt: str,
) -> tuple[list[list[int]], list[list[list[int]]]]:
    """The exact-integer Lloyd's trainer behind ``kmeans_fit``, ``pq_fit``
    and ``ivfpq_fit``: a full-dim coarse quantizer of ``k`` centroids
    (``k=0``: none) and ``m`` subspace quantizers of ``ksub`` centroids
    each over equal dim/m slices (``m=0``: none), all trained in the SAME
    loop. Returns ``(centroids, codebooks)`` in micro-units.

    Deterministic and engine-portable by construction:
    - init = the vectors of the max(k, ksub) smallest ids, micro-
      quantized: the first k seed the coarse quantizer and the slices of
      the first ksub each codebook (rank order = cluster id);
    - assignment = exact INTEGER squared L2 on micro-units, ties to the
      smaller cluster id — no IEEE summation-order hazards anywhere;
    - update = per-dimension mean of the micro values, rounded half-up
      in a single portable ``floor(sum/cnt + 0.5)``; empty clusters
      keep their previous centroid.

    Physical shape (the MLlib shape): the micro projection persists
    once (the seeds collect plus one job per iteration read it); per
    iteration one map-only scan assigns every space with the centroid
    tables inlined as LITERALS (broadcast-by-constant — no join), then
    ONE shuffle of (space, cluster, j) partial sums (space -1 is the
    coarse quantizer, 0..m-1 the subspaces; map-side combined:
    k*dim + m*ksub*dsub rows per map task regardless of corpus size),
    then a collect of those rows to the driver. At 100 TB each iteration
    is a full scan — which is what k-means costs anywhere — with shuffle
    traffic independent of corpus size; ``sample_fraction`` trains on a
    KEYED deterministic sample instead (hash-bucketed — same subset on
    any engine/partitioning/rerun), since centroid quality converges
    with the sample, not the corpus."""
    if sample_fraction is not None:
        from pyp_etl_pipeline_spark.operators.sampling import deterministic_sample  # noqa: PLC0415

        vectors = deterministic_sample(vectors, id_col, sample_fraction, salt=salt)
    v = vectors.select(F.col(id_col).alias("id"), _micro_vec(vec_col).alias("__xm")).persist()
    try:
        nseed = max(k, ksub)
        seeds = [list(r["__xm"]) for r in v.orderBy("id").limit(nseed).collect()]
        if len(seeds) < nseed:
            need = "max(k, ksub)" if k and m else ("k" if k else "ksub")
            hint = " (after sampling)" if sample_fraction is not None else ""
            raise ValueError(
                f"{name}: need at least {need}={nseed} vectors to seed, got {len(seeds)}{hint}"
            )
        dim = len(seeds[0])
        bad = next((x for x in seeds if len(x) != dim), None)
        if bad is not None:
            raise ValueError(f"{name}: ragged embeddings — seed lengths {len(bad)} vs {dim}")
        if m and dim % m != 0:
            raise ValueError(f"{name}: dim {dim} not divisible by m={m}")
        dsub = dim // m if m else 0
        centroids = seeds[:k]
        books = [[x[s * dsub : (s + 1) * dsub] for x in seeds[:ksub]] for s in range(m)]
        for _ in range(n_iter):
            # slices pre-projected ONCE: Catalyst does not CSE the m
            # slice() calls repeated inside every centroid's argmin, and
            # the analysis cost of the inline-literal argmin tree is the
            # bottleneck of these small jobs
            sliced = v.select(
                "__xm", *[F.slice("__xm", s * dsub + 1, dsub).alias(f"__sub{s}") for s in range(m)]
            )
            # per space: its assignment column, and the partial-sum cell
            # (s, cluster, j, x) each vector component feeds
            codes, cells = [], []
            if k:
                codes.append(_nearest_centroid("__xm", centroids)["c"].alias("__cc"))
                cells.append(
                    F.struct(F.lit(-1).alias("s"), F.col("__cc").alias("cluster"), F.col("i").alias("j"), "x")
                )
            if m:
                codes.append(
                    F.array(*[_nearest_centroid(f"__sub{s}", books[s])["c"] for s in range(m)]).alias("__codes")
                )
                s_col = (F.col("i") / dsub).cast("int")
                cells.append(
                    F.struct(
                        s_col.alias("s"),
                        F.element_at("__codes", s_col + 1).alias("cluster"),
                        (F.col("i") % dsub).alias("j"),
                        "x",
                    )
                )
            # two selects: a generator (posexplode) alongside the
            # struct-indexing code expressions in ONE projection makes
            # Catalyst re-resolve the argmin struct with positional
            # col1/col2 names and the ["c"] access fails analysis
            assigned = sliced.select(*codes, "__xm")
            exploded = assigned.select("*", F.posexplode("__xm").alias("i", "x"))
            cell = cells[0] if len(cells) == 1 else F.explode(F.array(*cells))
            comps = (
                exploded.select(cell.alias("e"))
                .select("e.*")
                .groupBy("s", "cluster", "j")
                .agg(F.floor(F.sum("x") / F.count("*") + F.lit(0.5)).cast("long").alias("comp"))
            )
            got = {(r["s"], r["cluster"], r["j"]): r["comp"] for r in comps.collect()}
            centroids = [[got.get((-1, c, j), x) for j, x in enumerate(cent)] for c, cent in enumerate(centroids)]
            books = [
                [[got.get((s, c, j), x) for j, x in enumerate(cent)] for c, cent in enumerate(book)]
                for s, book in enumerate(books)
            ]
    finally:
        v.unpersist(blocking=False)
    return centroids, books


def kmeans_fit(
    vectors: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> list[list[int]]:
    """Distributed Lloyd's k-means over an embedding column — the real
    trainer for the IVF coarse quantizer (replacing
    ``deterministic_centroids``' seed stand-in when cluster quality
    matters). Returns the ``k`` final centroids in micro-units; seeds
    are the vectors of the ``k`` smallest ids. Seeding, tie and rounding
    contract and the physical shape are ``_lloyd``'s; pass
    ``sample_fraction`` for the 100 TB fit path (train on a keyed
    sample, then ``kmeans_assign`` the full corpus)."""
    if k < 1:
        raise ValueError(f"kmeans_fit: k must be >= 1, got {k}")
    return _lloyd(vectors, k, 0, 0, n_iter, id_col, vec_col, sample_fraction, "kmeans_fit", "kmeans-fit-v1")[0]


def kmeans_assign(
    vectors: DataFrame,
    centroids: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest ``kmeans_fit`` centroid.
    Output: (id, cluster_id, dist) with ``dist`` the exact integer
    squared L2 in micro-units (the shifted argmin distance plus
    ||x||^2) — map-only, centroids inlined."""
    v = vectors.select(F.col(id_col).alias("id"), _micro_vec(vec_col).alias("__xm"))
    a = v.withColumn("__a", _nearest_centroid("__xm", centroids))
    return a.select(
        "id",
        F.col("__a.c").alias("cluster_id"),
        (F.col("__a.d") + F.expr("aggregate(__xm, 0L, (acc, x) -> acc + x * x)")).alias("dist"),
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids: list[list[int]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space with a trained k-means quantizer, then within
    each cluster drop every vector that has a lower-id neighbor with
    cosine >= ``threshold``. Returns the DROPPED rows —
    (id, cluster_id, kept_by, cos_to_keeper) — where ``kept_by`` is the
    smallest such neighbor id (the greedy keep-lowest-id rule, fully
    deterministic).

    Physical shape: map-only assignment (centroids inlined as literals,
    no join), then a cluster-bucketed self-join — quadratic only WITHIN
    a cluster, which is the whole point of clustering first: at 100 TB
    the candidate set per row is bounded by cluster occupancy (k scales
    with corpus size), never the corpus. One shuffle on cluster_id; the
    keeper choice is a map-side-combinable ``min(struct)`` aggregate,
    not a window. Cosine runs JVM-side (``zip_with``/``aggregate`` fold
    in array order — the engine-portable summation-order contract shared
    with the nd01 oracle)."""
    v = vectors.select(
        F.col(id_col).alias("id"),
        _as_double(vec_col).alias("__v"),
        _nearest_centroid(_sql_micro_vec(_bt(vec_col)), centroids)["c"].alias("cluster_id"),
    ).withColumn("__n", l2_norm(F.col("__v")))
    a = v.select(F.col("id").alias("id_a"), F.col("__v").alias("__va"), F.col("__n").alias("__na"), "cluster_id")
    b = v.select(F.col("id").alias("id_b"), F.col("__v").alias("__vb"), F.col("__n").alias("__nb"), "cluster_id")
    pairs = (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine_with_norms(F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")))
        .filter(F.col("cos") >= threshold)
    )
    return (
        pairs.groupBy(F.col("id_b").alias("id"), "cluster_id")
        .agg(F.min(F.struct("id_a", "cos")).alias("__k"))
        .select(
            "id",
            "cluster_id",
            F.col("__k.id_a").alias("kept_by"),
            F.round(F.col("__k.cos"), 6).alias("cos_to_keeper"),
        )
    )


def kmeans_centroids_df(spark, centroids: list[list[int]]) -> DataFrame:
    """``kmeans_fit`` output as the (centroid_id, centroid_vec) shape
    ``ivf_topk``/``ivf_assign`` consume (micro-units back to doubles)."""
    rows = [(j, [v / 1_000_000.0 for v in c]) for j, c in enumerate(centroids)]
    return spark.createDataFrame(rows, "centroid_id int, centroid_vec array<double>")


# ------------------------------------------------------ product quantization

def pq_fit(
    vectors: DataFrame,
    m: int = 4,
    ksub: int = 8,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> list[list[list[int]]]:
    """Product-quantization codebooks: the embedding splits into ``m``
    equal subspaces and each subspace trains its own ``ksub``-centroid
    quantizer with the exact-integer Lloyd's trainer (``_lloyd`` — the
    ``kmeans_fit`` seeding, tie, and rounding contract per subspace, so
    every codebook is bit-reproducible on any engine; seeds are the
    ksub smallest ids' sub-vectors). Returns ``m`` codebooks of
    ``ksub`` micro-unit centroids, each of length dim/m.

    This is the FAISS-style memory move for corpus-scale ANN: a
    64-dim float vector (512 B) compresses to m code bytes, so the
    search set fits in memory at 100 TB corpus sizes where raw
    vectors cannot.

    All m subspaces train in the SAME pass: per iteration one map-only
    assignment scan plus ONE shuffle of (subspace, cluster, dim) partial
    sums — m*ksub*dsub rows per map task regardless of corpus size.
    Training per-subspace sequentially would cost m scans per
    iteration; at true scale additionally pass ``sample_fraction``
    (codebook quality converges with the sample, as with the IVF
    coarse quantizer)."""
    if m < 1 or ksub < 1:
        raise ValueError(f"pq_fit: m and ksub must be >= 1, got m={m}, ksub={ksub}")
    return _lloyd(vectors, 0, m, ksub, n_iter, id_col, vec_col, sample_fraction, "pq_fit", "pq-fit-v1")[1]


def ivfpq_fit(
    vectors: DataFrame,
    k: int = 8,
    m: int = 4,
    ksub: int = 8,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> tuple[list[list[int]], list[list[list[int]]]]:
    """Train the IVF coarse quantizer (``k`` centroids) AND the PQ
    codebooks (``m`` subspaces of ``ksub``) in the SAME ``_lloyd`` loop:
    one persisted micro projection, ONE seeds collect (the max(k, ksub)
    smallest ids serve both), and per iteration ONE scan computing the
    coarse assignment and all m subspace assignments in a single
    projection, whose components fold through a single (space, cluster,
    j) partial-sum shuffle. Training the two quantizers apart would scan
    the corpus twice per iteration — at 100 TB the dominant fit cost.

    Returns ``(centroids, codebooks)``."""
    if min(k, m, ksub) < 1:
        raise ValueError(f"ivfpq_fit: k, m and ksub must be >= 1, got k={k}, m={m}, ksub={ksub}")
    return _lloyd(vectors, k, m, ksub, n_iter, id_col, vec_col, sample_fraction, "ivfpq_fit", "ivfpq-fit-v1")


def _pq_codes(
    vectors: DataFrame, xm_sql: str, codebooks: list[list[list[int]]], *keep: Column
) -> DataFrame:
    """(*keep, codes): per subspace of the micro vector ``xm_sql`` the
    nearest codebook centroid. Each sub-vector slice is projected as its
    own column first, so the per-centroid lambdas of ``_nearest_centroid``
    read it instead of re-slicing (no CSE inside lambdas)."""
    dsub = len(codebooks[0][0])
    sliced = vectors.select(
        *keep,
        *[
            F.expr(f"slice({xm_sql}, {s * dsub + 1}, {dsub})").alias(f"__sub{s}")
            for s in range(len(codebooks))
        ],
    )
    codes = F.array(
        *[_nearest_centroid(f"__sub{s}", book)["c"] for s, book in enumerate(codebooks)]
    )
    return sliced.select(*sliced.columns[: len(keep)], codes.alias("codes"))


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes) — per subspace the nearest codebook centroid (exact
    integer L2 on micro-units, ties to the smaller code, the
    ``_nearest_centroid`` contract). Map-only: codebooks ride inline as
    literals; one pass over the corpus, no shuffle, no join."""
    return _pq_codes(vectors, _sql_micro_vec(_bt(vec_col)), codebooks, F.col(id_col).alias("id"))


def _adc_luts(qm: DataFrame, codebooks: list[list[list[int]]]) -> DataFrame:
    """(query_id, __lut): per query the exact integer squared L2 from each
    micro sub-vector of ``__qm`` to every codebook centroid (m x ksub
    longs), flat in (s, c) order — entry s*ksub + c. Built from a
    broadcast m*ksub-row codebook relation and collapsed to one array per
    query; ``array_sort`` on (s, c, d) structs makes the order explicit,
    not shuffle-dependent."""
    dsub = len(codebooks[0][0])
    cb = qm.sparkSession.createDataFrame(
        [(s, c, cm) for s, book in enumerate(codebooks) for c, cm in enumerate(book)],
        "s int, c int, cm array<long>",
    )
    sub_dist = F.expr(
        f"aggregate(zip_with(slice(__qm, s * {dsub} + 1, {dsub}), cm, "
        "(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
    )
    return (
        qm.join(F.broadcast(cb))
        .select("query_id", F.struct("s", "c", sub_dist.alias("d")).alias("e"))
        .groupBy("query_id")
        .agg(F.transform(F.array_sort(F.collect_list("e")), lambda e: e["d"]).alias("__lut"))
    )


def _adc_topk(pairs: DataFrame, ksub: int, k: int, *out: str) -> DataFrame:
    """Top-k of (query_id, neighbor_id, codes, __lut) candidate pairs by
    asymmetric distance: a vector's ``adc_dist`` is its m code lookups in
    the query's LUT summed — no per-pair vector math at all."""
    adc = F.expr(
        f"aggregate(transform(codes, (c, i) -> element_at(__lut, i * {ksub} + c + 1)), "
        "0L, (acc, x) -> acc + x)"
    )
    scored = pairs.filter(F.col("query_id") != F.col("neighbor_id")).withColumn("adc_dist", adc)
    return _topk(scored, k, F.asc("adc_dist"), "adc_dist", *out)


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[int]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """PQ asymmetric-distance top-k (ADC): each query precomputes a
    lookup table of exact integer L2 distances from its micro sub-vectors
    to every codebook centroid (m x ksub longs), and a corpus vector's
    approximate distance is then m table lookups summed — no per-pair
    vector math at all.

    Physical shape: the corpus encodes once (map-only, codebooks as
    literals); the per-query LUT builds from a broadcast m*ksub-row
    codebook relation and collapses to one flat array per query; the
    scan joins the (small) LUT side broadcast against the encoded corpus
    and ranks with a per-query window. Per (query, vector) work is m
    element_at lookups on a 64-long array — the classic ADC trade: scan
    cost independent of the original dimensionality. Distances are
    exact integers end to end, so results are engine-portable and
    oracle-checkable (ann05).
    """
    qm = queries.select(F.col(query_id_col).alias("query_id"), _micro_vec(query_vec_col).alias("__qm"))
    enc = pq_encode(vectors, codebooks, id_col=id_col, vec_col=vec_col).select(
        F.col("id").alias("neighbor_id"), "codes"
    )
    return _adc_topk(enc.join(F.broadcast(_adc_luts(qm, codebooks))), len(codebooks[0]), k)


def ivfpq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    coarse: list[list[int]],
    codebooks: list[list[list[int]]],
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF-PQ search — the production ANN architecture (FAISS IVFxPQy):
    a coarse full-dim quantizer partitions the corpus into inverted
    lists; each query probes only its ``nprobe`` nearest lists and ranks
    THOSE vectors by PQ asymmetric distance. Scan cost drops from
    O(corpus) to O(corpus * nprobe / k_coarse) on top of PQ's
    per-vector compression — the two multiplicative levers that make
    billion-vector search tractable.

    Physical shape: corpus encodes map-only (coarse cid + PQ codes in
    ONE projection, centroids/codebooks inline as literals — no join,
    no shuffle of the corpus); query probes and LUTs are
    dimension-sized and broadcast; the probe restriction is a broadcast
    semi-join on the coarse cid, so unprobed inverted lists are
    filtered before any ADC work. Selection/tie rules are the
    ``_nearest_centroid`` contract throughout; distances are exact
    integers, so ann06's oracle replays every stage bit-for-bit.
    """
    xm_sql = _sql_micro_vec(_bt(vec_col))
    enc = _pq_codes(
        vectors,
        xm_sql,
        codebooks,
        F.col(id_col).alias("neighbor_id"),
        _nearest_centroid(xm_sql, coarse)["c"].alias("vcid"),
    )

    qm = queries.select(F.col(query_id_col).alias("query_id"), _micro_vec(query_vec_col).alias("__qm"))
    # nprobe nearest coarse lists per query: the shifted distances of
    # ``_sql_centroid_dists`` sorted as (d', c) structs (ordering and
    # ties preserved)
    probes = qm.select(
        "query_id",
        F.explode(
            F.expr(
                f"transform(slice(array_sort({_sql_centroid_dists('__qm', coarse)}), 1, {nprobe}), s -> s.c)"
            )
        ).alias("vcid"),
    )
    pairs = enc.join(F.broadcast(probes), "vcid").join(F.broadcast(_adc_luts(qm, codebooks)), "query_id")
    return _adc_topk(pairs, len(codebooks[0]), k, "vcid")


def exact_l2_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact integer-micro squared-L2 top-k — the brute-force ground
    truth the ANN tier is measured against (and the L2 counterpart of
    ``brute_force_topk``'s cosine). Queries broadcast into a map-only
    pass over the corpus; ranking is a per-query window (partitioned —
    parallel across queries). O(corpus x queries): an EVALUATION tool to
    run on a query sample, not a serving path."""
    vm = vectors.select(F.col(id_col).alias("neighbor_id"), _micro_vec(vec_col).alias("__vm"))
    qm = queries.select(F.col(query_id_col).alias("query_id"), _micro_vec(query_vec_col).alias("__qm"))
    scored = (
        vm.join(F.broadcast(qm))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("exact_dist", _sq_l2(F.col("__qm"), F.col("__vm")))
    )
    return _topk(scored, k, F.asc("exact_dist"), "exact_dist")


def ann_recall(approx: DataFrame, exact: DataFrame, k: int = 5) -> DataFrame:
    """Recall@k of an ANN result against the exact ground truth — the
    metric every production ANN deployment tunes nprobe/bands/codebook
    size by. Both inputs carry (query_id, neighbor_id) rows (top-k per
    query, deterministic tie rules). Output per query: ``n_hits`` (the
    overlap) and ``recall_micro`` = n_hits * 1e6 / k floored — exact
    integers, engine-portable. One broadcast-sized left join + one
    aggregate; never touches the corpus."""
    hits = exact.select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    return (
        approx.select("query_id", "neighbor_id")
        .join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("__hit").cast("long").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            # integer DIV: exact for any k (double division could round
            # across an integer boundary before the floor)
            F.expr(f"n_hits * CAST(1000000 AS BIGINT) DIV {int(k)}").alias("recall_micro"),
        )
    )


def ivfpq_refine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    coarse: list[list[int]],
    codebooks: list[list[list[int]]],
    nprobe: int = 2,
    k: int = 5,
    r_factor: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF-PQ with an exact re-ranking stage (FAISS ``IVFPQR`` /
    refine): the ADC scan produces a shortlist of ``k * r_factor``
    candidates per query, whose EXACT integer squared L2 (on the raw
    micro vectors) then decides the final top-k. This is the standard
    production recall fix — ADC error only has to keep the true
    neighbors inside the shortlist, not rank them perfectly.

    Physical shape: the shortlist (|queries| * k * r_factor rows —
    dimension-sized) BROADCASTS into a semi-join against the raw-vector
    scan, so the corpus is touched map-only exactly once more and only
    shortlisted rows pay the full-dim distance; the final rank is a
    per-query window over k*r_factor rows. Distances stay exact
    integers end to end (oracle-checkable, ann07).

    Output: (query_id, neighbor_id, rank, exact_dist, adc_dist) —
    ``rank`` is the refined order (ties exact_dist -> neighbor_id).
    """
    if r_factor < 1:
        raise ValueError(f"ivfpq_refine_topk: r_factor must be >= 1, got {r_factor}")
    shortlist = ivfpq_topk(
        vectors,
        queries,
        coarse,
        codebooks,
        nprobe=nprobe,
        k=k * r_factor,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    ).select("query_id", "neighbor_id", "adc_dist")
    vm = vectors.select(F.col(id_col).alias("neighbor_id"), _micro_vec(vec_col).alias("__vm"))
    qm = queries.select(F.col(query_id_col).alias("query_id"), _micro_vec(query_vec_col).alias("__qm"))
    refined = (
        vm.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qm), "query_id")
        .withColumn("exact_dist", _sq_l2(F.col("__qm"), F.col("__vm")))
    )
    return _topk(refined, k, F.asc("exact_dist"), "exact_dist", "adc_dist")


def hard_negative_mining(
    vectors: DataFrame,
    anchors: DataFrame,
    k_neg: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    anchor_id_col: str = "query_id",
    anchor_vec_col: str = "query_vec",
    anchor_label_col: str = "query_label",
) -> DataFrame:
    """Triplet mining for contrastive training (the embedding-model
    fine-tuning shape): for every anchor, the HARDEST POSITIVE (the
    same-label neighbor with the LOWEST cosine — the pair the loss must
    pull together) and the ``k_neg`` HARDEST NEGATIVES (the
    different-label neighbors with the HIGHEST cosine — the pairs it
    must push apart). Labels compare null-safely (NULL is its own
    class, so a null-labeled corpus row is a NEGATIVE for a labeled
    anchor — IS DISTINCT FROM semantics in both engines); rows whose
    vector or label-bearing cosine is undefined are excluded up front
    so ASC/DESC null-ordering differences between engines can never
    matter.

    Physical shape: anchors BROADCAST into one map-only scoring pass
    over the corpus (exactly ``brute_force_topk``'s plan — an
    evaluation/mining tool to run on an anchor sample); both roles rank
    in per-(anchor, role) windows, parallel across anchors, thinned
    map-side by WindowGroupLimit. The 100 TB serving path mines from an
    ANN shortlist instead — compose ``ivfpq_refine_topk`` ->
    label-filter -> rank; this exact form is the certified ground
    truth that path is tuned against.

    Output: (query_id, neighbor_id, role 'pos'|'neg', match_rank,
    cosine) — round-6 cosine, ties broken by neighbor id.
    """
    corpus = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("__nl"),
        _as_double(vec_col).alias("__v"),
    ).filter(F.col("__v").isNotNull()).withColumn("__nv", l2_norm(F.col("__v")))
    q = anchors.select(
        F.col(anchor_id_col).alias("query_id"),
        F.col(anchor_label_col).alias("__ql"),
        _as_double(anchor_vec_col).alias("__q"),
    ).filter(F.col("__q").isNotNull()).withColumn("__nq", l2_norm(F.col("__q")))
    scored = (
        corpus.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            cosine_with_norms(F.col("__q"), F.col("__v"), F.col("__nq"), F.col("__nv")),
        )
        .filter(F.col("cosine").isNotNull())
    )
    same = F.col("__nl").eqNullSafe(F.col("__ql"))
    cosine6 = F.round("cosine", 6).alias("cosine")
    neg = _topk(scored.filter(~same), k_neg, F.desc("cosine"), cosine6)
    pos = _topk(scored.filter(same), 1, F.asc("cosine"), cosine6)
    return (
        neg.withColumn("role", F.lit("neg"))
        .unionByName(pos.withColumn("role", F.lit("pos")))
        .select("query_id", "neighbor_id", "role", F.col("rank").cast("long").alias("match_rank"), "cosine")
    )
