"""Similarity search over embedding columns.

Two tiers, matching the north-star requirement (BASELINE.json):

- ``cosine_topk``        : exact brute-force top-k — the correctness
                           baseline; the query set is broadcast so the
                           big side never shuffles.
- ``hyperplane_buckets`` + ``cosine_topk_lsh`` : random-hyperplane
                           LSH bucketing — the 100 TB path. Candidates
                           come only from the query's bucket (plus
                           optional Hamming-1 neighbor buckets), so
                           cost scales with bucket size, not corpus
                           size. Recall < 1 by construction; the
                           pytest suite measures it against brute
                           force (driver gets a rows-only check —
                           approximate results have no exact SQL
                           oracle).

Hyperplanes are deterministic (no RNG): plane j's coefficient for
dimension d is +1 when ((j*131 + d*137) mod 7) is even else -1 —
reproducible anywhere, including plain SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame
from ..functions.vector import (
    cosine_from_norms,
    cosine_sim,
    cosine_sim_expr,
    l2sq_expr,
    norm_expr,
    to_double_array,
)

N_PLANES = 8


def _cos(a: str, b: str, dim: int | None):
    """Fixed-dim inline cosine when the dimensionality is known
    (whole-stage-codegen'd, r3 — see functions/vector.py), generic
    interpreted fold otherwise. Bit-identical either way.

    Only for NON-join projections: inside a join stage the expanded
    chain breaches the 64 KB codegen method limit (see
    functions/vector.py:cosine_sim_expr) — joins below precompute
    norm_expr per side and verify with cosine_from_norms.
    """
    return cosine_sim_expr(a, b, dim) if dim else cosine_sim(F.col(a), F.col(b))


def _cos_join(a: str, b: str, norm_a: str, norm_b: str, dim: int | None):
    """Join-stage cosine: factored through precomputed norm columns
    when dim is known (bit-identical values, ~1/3 the codegen), the
    generic fold otherwise."""
    if dim:
        return cosine_from_norms(a, b, F.col(norm_a), F.col(norm_b), dim)
    return cosine_sim(F.col(a), F.col(b))


def _norm_col(df: DataFrame, vec_col: str, out: str, dim: int | None) -> DataFrame:
    """Attach the precomputed L2 norm (no-op when dim is unknown)."""
    if not dim:
        return df
    return df.withColumn(out, norm_expr(vec_col, dim))


def fan_out(df: DataFrame) -> DataFrame:
    """Spread rows across the cluster before CPU-heavy per-row work.

    Embedding corpora often arrive as few large files, and a scan
    cannot split below row-group granularity — without this, a
    shuffle-free pipeline (bucket + broadcast-join + verify) runs on
    as many cores as there are input splits, regardless of cluster
    size. One cheap row-shuffle buys full parallelism; at 100 TB the
    scan is many-split and the same repartition keeps per-task verify
    work balanced across executors.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors for each query vector (self excluded).

    queries is expected to be small (it is broadcast); ordering is
    (rounded cosine desc, neighbor id) for cross-engine determinism.
    """
    q = _norm_col(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ),
        "qv", "qn", dim,
    )
    c = _norm_col(
        fan_out(corpus).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        ),
        "cv", "cn", dim,
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", F.round(_cos_join("qv", "cv", "qn", "cn", dim), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rnk").cast("int").alias("rnk"))
    )


def _plane_sign(j: int, d: int) -> int:
    return 1 if (j * 131 + d * 137) % 7 % 2 == 0 else -1


def hyperplane_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = N_PLANES,
    dim: int = 64,
) -> DataFrame:
    """Sign-pattern LSH bucket id per vector (0 .. 2^n_planes - 1).

    Each plane's projection is a +/-1 re-weighted element sum,
    assembled as one inline SQL chain (r3): the former
    aggregate(zip_with(...)) fold is CodegenFallback — interpreted,
    one zipped-array allocation per plane per row — while the inline
    chain whole-stage-codegens. The summation order (0.0, then
    elements left to right) is unchanged, so bucket ids are
    bit-identical and the DuckDB oracle (__spark_entry__
    _lsh_bucket_sql, which mirrors this chain verbatim) still
    reproduces them exactly.
    """
    parts = []
    for j in range(n_planes):
        body = "0.0D" + "".join(
            f" {'+' if _plane_sign(j, d) > 0 else '-'} "
            f"CAST(`{vec_col}`[{d}] AS DOUBLE)"
            for d in range(dim)
        )
        parts.append(f"(CASE WHEN ({body}) >= 0.0D THEN {1 << j} ELSE 0 END)")
    return df.selectExpr(
        f"`{id_col}` AS vec_id",
        f"`{vec_col}` AS embedding",
        f"CAST({' + '.join(parts)} AS INT) AS bucket",
    )


#: below this many scored (vector, centroid) pairs the single-stage
#: window argmax beats the scalars-only aggregate: the rejoin-by-id
#: exchange it saves costs more than the small n*k shuffle it avoids.
#: 500k pairs with 64-dim embeddings is ~260 MB spread over the
#: shuffle — well inside per-task memory at any realistic partition
#: count; above it the embedding-carrying shuffle grows toward the
#: measured 148 s blow-up (6.3M pairs) and the aggregate path wins.
IVF_ASSIGN_SMALL_NK = 500_000


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    nk_hint: int | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine,
    deterministic centroid-id tie-break) — the IVF coarse quantizer.

    Centroids (columns ``centroid_id``, ``cv``) are broadcast; the
    corpus streams through one pass. The argmax over centroids is a
    ``max_by`` aggregation keyed on the vector id over FIXED-SIZE
    columns only — cosine, centroid id, norm — so Spark plans a
    whole-stage-codegen HashAggregate whose partial phase runs inside
    the broadcast-join stage: each task emits one scalar row per
    input vector, and nothing proportional to n*k is ever shuffled
    or sorted. The embedding array rejoins by id afterwards (one
    O(n) keyed exchange — which downstream consumers pay anyway to
    co-locate by centroid).

    Two prior shapes measured at 20k vectors x 313 centroids:
    a row_number window shuffled the whole n*k exploded set with
    embedding payloads (148s); carrying ``first(embedding)`` through
    the aggregate forced SortAggregate — a spill-heavy SORT of the
    same n*k rows (87s). Scalars-only + rejoin: ~8s.

    ``nk_hint`` (callers pass n_vectors * n_centroids when they know
    it from planning — a parquet footer count times the requested
    list count) gates a SMALL-INPUT fast path: when the scored set is
    under ``IVF_ASSIGN_SMALL_NK`` pairs, the rejoin exchange is pure
    overhead, so the argmax runs as one row_number window over the
    scored rows carrying the embedding directly. Both paths order by
    (rounded cosine desc, centroid_id asc), so the chosen centroid is
    bit-identical either way; only the physical plan differs.
    """
    base = _norm_col(df, vec_col, "_vnrm", dim)
    cents = _norm_col(centroids, "cv", "_cnrm", dim)
    # the cosine itself runs on the Arrow path when dim is known:
    # nothing below a BroadcastNestedLoopJoin whole-stage-codegens in
    # this plan shape, so the expression chain would be evaluated
    # INTERPRETED on all n*k pairs (~7us/cosine — 43s at 6.3M pairs);
    # cosine_from_norms_pandas is bit-identical (strict left-to-right
    # accumulation) and vectorizes the same pairs in ~3s
    if dim:
        from ..functions.vector import cosine_from_norms_pandas

        sim = cosine_from_norms_pandas(
            vec_col, "cv", F.col("_vnrm"), F.col("_cnrm"), dim
        )
    else:
        sim = _cos_join(vec_col, "cv", "_vnrm", "_cnrm", dim)
    scored = base.crossJoin(F.broadcast(cents)).withColumn(
        "_sim", F.round(sim, 6)
    )
    if nk_hint is not None and nk_hint <= IVF_ASSIGN_SMALL_NK:
        w = Window.partitionBy(id_col).orderBy(
            F.desc("_sim"), F.asc("centroid_id")
        )
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                F.col(id_col).alias("vec_id"),
                F.col(vec_col).alias("embedding"),
                "centroid_id",
                *([F.col("_vnrm").alias("nrm")] if dim else []),
            )
        )
    # argmax by (_sim desc, centroid_id asc), encoded into ONE long:
    # _sim is already quantized to 1e-6 steps, so round(_sim*1e6) is
    # exact; scaling by 2^17 leaves room for any centroid_id under
    # the 65536 auto-sizing clamp, and subtracting the id makes the
    # larger encoded value the (higher sim, lower id) winner. A
    # struct ordering here would demote the aggregate to
    # SortAggregate (struct buffers aren't mutable) — the whole
    # reason this isn't max_by(centroid_id, struct(...)).
    enc = (
        F.round(F.col("_sim") * 1e6).cast("long") * F.lit(131072)
        - F.col("centroid_id")
    )
    # nrm is constant per vec_id (computed pre-join); max() keeps the
    # buffer fixed-size where first() would not change the value
    out_nrm = [F.max("_vnrm").alias("nrm")] if dim else []
    best = scored.groupBy(F.col(id_col).alias("vec_id")).agg(
        F.max_by("centroid_id", enc).alias("centroid_id"),
        *out_nrm,
    )
    vecs = df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    return vecs.join(best, "vec_id").select(
        "vec_id", "embedding", "centroid_id", *(["nrm"] if dim else [])
    )


def ivf_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    refine_iterations: int = 1,
    nk_hint: int | None = None,
) -> DataFrame:
    """Deterministic IVF centroids: seed with evenly-spaced corpus
    vectors (ids divisible by n/n_centroids), then
    `refine_iterations` Lloyd steps. ``nk_hint`` forwards to
    :func:`ivf_assign`'s small-input gate.

    Seeding never ranks the whole corpus: the id-mod filter reduces to
    ~n_centroids candidate rows BEFORE the (tiny) global window — a
    full-corpus row_number would funnel every vector through one
    partition at 100 TB. For dense 0-based ids this selects exactly
    the rank-spaced vectors.

    The refinement mean is computed distributively: posexplode the
    assigned vectors to (cluster, dim, value), average per cell, and
    rebuild the array — groupBy shuffles only (cluster, dim) cells,
    never whole-vector lists to one task. (r13 note: a single
    dim-wide avg-array aggregate — the pq_train_encode codebook shape
    — was tried and MEASURED SLOWER here: at dim=64 the 64-buffer
    aggregate's generated update method crosses the JIT/codegen size
    thresholds and the affected queries gained ~1-2 s each
    (ann_ivf_topk 3.3 -> 4.2-5.4 s, ann_incremental_ivf_append
    3.7 -> 5.5 s in matched A/Bs); pq's sub_dim<=16 version of the
    same fusion measured a WIN and is kept there.)

    Each mean is rounded to 6 decimals: double summation order is
    partition-dependent, and the rounding quantizes that noise away so
    the centroids (and everything downstream) are reproducible — the
    DuckDB oracle mirrors round(avg(x), 6).
    """
    # step = max(1, n // n_centroids) as a broadcast scalar inside the
    # plan — no eager df.count() on the driver, so centroid building
    # is one job, and the corpus count comes from the same scan
    # Catalyst already optimizes to a metadata/columnar count
    step_df = df.agg(
        F.greatest(F.expr(f"count(*) div {int(n_centroids)}"), F.lit(1)).alias("_step")
    )
    cand = (
        df.crossJoin(F.broadcast(step_df))
        .filter((F.col(id_col) % F.col("_step")) == 0)
        .select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    )
    w = Window.orderBy("vec_id")  # ~n_centroids rows, not the corpus
    seeds = (
        cand.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_centroids)
        .select(
            (F.col("_rk") - 1).cast("int").alias("centroid_id"),
            F.col("embedding").alias("cv"),
        )
    )
    cents = seeds
    for _ in range(refine_iterations):
        assigned = ivf_assign(df, cents, vec_col, id_col, dim, nk_hint=nk_hint)
        cells = assigned.select(
            "centroid_id", F.posexplode(to_double_array("embedding")).alias("d", "x")
        )
        means = cells.groupBy("centroid_id", "d").agg(
            F.round(F.avg("x"), 6).alias("m")
        )
        cents = (
            means.groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("d"), F.col("m")))
                    ),
                    lambda s: s.getField("m"),
                ).alias("cv")
            )
        )
    return cents


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = 64,
    cents: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: search only the `nprobe` inverted lists
    nearest to each query. Complements the hyperplane-LSH variant;
    recall is measured against brute force in tests.

    One planning-side ``corpus.count()`` (parquet footer metadata for
    scan-backed corpora; a column-pruned count job otherwise — the
    same planning-cost class as ``_auto_planes``) sizes the n*k
    scored set, letting :func:`ivf_assign` skip its rejoin-by-id
    exchange when the set is small. The count runs BEFORE
    ``fan_out`` so a pure parquet scan answers from metadata.

    ``cents``/``assigned`` (pass BOTH) inject a pre-trained,
    already-persisted codebook + corpus assignment so a caller
    evaluating several IVF-backed variants (ann_recall_at_k) trains
    the quantizer once instead of per variant — values are identical
    because the round-6-quantized training is deterministic.
    """
    if cents is None or assigned is None:
        nk_hint = corpus.count() * n_centroids
        corpus = fan_out(corpus)
        cents = ivf_centroids(
            corpus, n_centroids, vec_col, id_col, nk_hint=nk_hint
        ).persist()
        assigned = ivf_assign(
            corpus, cents, vec_col, id_col, dim, nk_hint=nk_hint
        ).persist()
    lists = assigned

    q = _norm_col(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        "qv", "qn", dim,
    )
    qscore = q.crossJoin(F.broadcast(_norm_col(cents, "cv", "_cnrm", dim))).withColumn(
        "_sim", F.round(_cos_join("qv", "cv", "qn", "_cnrm", dim), 6)
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("centroid_id"))
    probe_cols = ["query_id", "qv", "centroid_id"] + (["qn"] if dim else [])
    probes = (
        qscore.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select(*probe_cols)
    )
    scored = (
        lists.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("cos_sim", F.round(_cos_join("qv", "embedding", "qn", "nrm", dim), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .dropDuplicates(["query_id", "vec_id"])
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cos_sim",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# A batch vector counts as DRIFTED when the refreshed codebook fits
# it better than the stale one by more than this cosine margin. The
# margin is a heuristic sensitivity dial (like an ANN recall floor):
# large enough that round-6 quantization and ordinary centroid
# jitter from adding the batch to the training set never trip it,
# small enough that a vector whose true cluster only exists in the
# refreshed codebook always does.
IVF_DRIFT_EPS = 0.01


def ivf_incremental_assign(
    history: DataFrame,
    batch: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    history_sample_mod: int | None = None,
) -> DataFrame:
    """Incremental IVF index maintenance: assign ONLY a new batch's
    vectors to the EXISTING (history-trained) centroids, plus a
    staleness audit — the ANN analogue of the running pipeline's
    new-vs-history near-dup probe (dedup.incremental_dedup_probe).

    The append path is the cheap one: 16 stale centroids broadcast,
    one pass over just the new batch (``ivf_assign`` unchanged) — at
    100 TB the history centroids are a saved k-row artifact and the
    per-micro-batch cost is O(batch), never a corpus rescan. The
    staleness audit retrains a refreshed codebook and flags each
    batch vector the refreshed codebook fits BETTER by more than
    ``IVF_DRIFT_EPS`` cosine; the flag's mean is the re-train
    trigger a maintenance job watches. Drift is measured on assigned-
    centroid COSINES, never centroid ids, so it is invariant to how
    either training labels its clusters — a pure relabeling of the
    same partition moves every cosine by ~0 and trips nothing.

    ``history_sample_mod=None`` retrains on all of history+batch
    (the exact audit the DuckDB oracle replays). ``history_sample_mod
    = m`` retrains on the 1-in-m systematic history sample
    ``id % m == 0`` plus the full batch — O(|history|/m + |batch|)
    instead of a corpus rescan, the configuration a scheduled
    maintenance job runs. Sampling error: refreshed centroids are
    k-means means over ~n/m points, so each drifts from the
    full-history solution by ~sigma*sqrt(m/n) per coordinate (SRS
    standard error of a mean); with cluster sizes n/k ~ sqrt(n)
    vectors (``dedup._auto_centroids`` sizing) the induced cosine
    perturbation stays an order of magnitude under IVF_DRIFT_EPS,
    and the planted-cluster pytest checks sampled == exact drift
    rate on both a drifting and a non-drifting batch. The sample is
    deterministic (id arithmetic, no RNG), so the sampled variant
    keeps a full DuckDB oracle too.

    Returns one row per batch vector: ``(vec_id, stale_centroid,
    stale_sim, fresh_centroid, fresh_sim, drifted)``.
    """
    # two planning-side counts size the n*k scored sets of all four
    # internal ivf_assign passes (r13): without a hint every pass took
    # the aggregate + rejoin-by-id path — one keyed exchange each that
    # the small-input window path skips (the cosine_topk_ivf
    # precedent). The retrain corpus hint uses the full-history count,
    # a valid upper bound for the sampled variant (the gate only needs
    # "small enough", and both paths are bit-identical by design).
    n_hist = history.count()
    n_batch = batch.count()
    stale_cents = ivf_centroids(
        history, n_centroids, vec_col=vec_col, id_col=id_col, dim=dim,
        nk_hint=n_hist * n_centroids,
    )
    retrain_hist = (
        history
        if history_sample_mod is None
        else history.filter(F.col(id_col) % history_sample_mod == 0)
    )
    fresh_cents = ivf_centroids(
        retrain_hist.unionByName(batch), n_centroids,
        vec_col=vec_col, id_col=id_col, dim=dim,
        nk_hint=(n_hist + n_batch) * n_centroids,
    )

    def scored(cents: DataFrame, tag: str) -> DataFrame:
        a = ivf_assign(
            batch, cents, vec_col, id_col, dim,
            nk_hint=n_batch * n_centroids,
        )
        cn = _norm_col(cents, "cv", "_cnrm", dim)
        return (
            a.join(F.broadcast(cn), "centroid_id")
            .withColumn(
                f"{tag}_sim",
                F.round(_cos_join("embedding", "cv", "nrm", "_cnrm", dim), 6),
            )
            .select(
                "vec_id",
                F.col("centroid_id").alias(f"{tag}_centroid"),
                f"{tag}_sim",
            )
        )

    # round-4 the margin before comparing: both engines subtract the
    # same round-6 doubles, so the rounded difference is bit-identical
    # and the > comparison cannot straddle FP noise at the threshold
    return scored(stale_cents, "stale").join(
        scored(fresh_cents, "fresh"), "vec_id"
    ).select(
        "vec_id",
        "stale_centroid",
        "stale_sim",
        "fresh_centroid",
        "fresh_sim",
        (
            F.round(F.col("fresh_sim") - F.col("stale_sim"), 4)
            > F.lit(IVF_DRIFT_EPS)
        )
        .cast("int")
        .alias("drifted"),
    )


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = N_PLANES,
    dim: int = 64,
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH bucket
    plus (multiprobe) all buckets within that Hamming distance of it —
    the standard recall/cost dial for sign-pattern LSH.

    The corpus->bucket map is computed once (one pass over the
    corpus); the join key is the bucket id, so the candidate set per
    query is ~ (1 + n_planes^multiprobe) * N / 2^n_planes instead
    of N.
    """
    cb = _norm_col(
        hyperplane_buckets(fan_out(corpus), vec_col, id_col, n_planes, dim),
        "embedding", "nrm", dim,
    )
    qb = _norm_col(
        hyperplane_buckets(queries, vec_col, id_col, n_planes, dim),
        "embedding", "qn", dim,
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        "bucket",
        *(["qn"] if dim else []),
    )
    if multiprobe >= 1:
        # probe set: every bucket within Hamming distance `multiprobe`
        # of the query's own bucket — the standard recall/cost dial.
        masks = [0] + [1 << j for j in range(n_planes)]
        if multiprobe >= 2:
            masks += [
                (1 << i) | (1 << j)
                for i in range(n_planes)
                for j in range(i + 1, n_planes)
            ]
        probes = F.array(
            *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks]
        )
        qb = qb.withColumn("bucket", F.explode(probes))
    scored = (
        cb.join(F.broadcast(qb), "bucket")
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("cos_sim", F.round(_cos_join("qv", "embedding", "qn", "nrm", dim), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cos_sim",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression half; Jégou et al. 2011,
# "Product Quantization for Nearest Neighbor Search")
# ---------------------------------------------------------------------------

def _fold_dot(a, b):
    """Strict left-to-right dot fold over two equal-length arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_train_encode(
    corpus: DataFrame,
    n_subspaces: int = 4,
    k_sub: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Train per-subspace codebooks and encode the corpus.

    The vector splits into ``n_subspaces`` contiguous subvectors;
    each subspace gets an independent ``k_sub``-entry codebook
    (rank-spaced seeds + one Lloyd step, the deterministic recipe of
    ivf_centroids: means quantized to round(avg, 6), L2 assignment
    rounded to 6 with lower-code tie-break, so the SQL oracle can
    replay it bit-for-bit). A vector stores n_subspaces small codes
    instead of dim floats — 64 doubles become 4 bytes here, the
    memory move that makes billion-vector search feasible.

    (r13, measured: injecting a shared pre-persisted split here for
    multi-training callers — the r12-verdict subs-sharing idea — was
    value-identical but NET-NEGATIVE at sf0.1: it couples otherwise-
    independent trainings to the split's cache chain and serializes
    arms the scheduler overlapped; see ann_recall_at_k's note.)

    Returns ``(codebooks(subspace, code, cv), codes(vec_id,
    subspace, code))``. Every stage is a broadcast-codebook map or a
    (subspace, code, dim)-cell aggregation — nothing shuffles whole
    vectors to one task.
    """
    sub_dim = dim // n_subspaces
    subs = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(
            F.array(
                *[
                    F.slice(
                        to_double_array(vec_col), s * sub_dim + 1, sub_dim
                    )
                    for s in range(n_subspaces)
                ]
            )
        ).alias("subspace", "sv"),
    )
    step_df = corpus.agg(
        F.greatest(
            F.expr(f"count(*) div {int(k_sub)}"), F.lit(1)
        ).alias("_step")
    )
    seed_ids = (
        corpus.crossJoin(F.broadcast(step_df))
        .filter((F.col(id_col) % F.col("_step")) == 0)
        .select(F.col(id_col).alias("seed_id"))
        .withColumn(
            "_rk", F.row_number().over(Window.orderBy("seed_id"))
        )
        .filter(F.col("_rk") <= k_sub)
        .select(
            "seed_id", (F.col("_rk") - 1).cast("int").alias("code")
        )
    )
    seeds = subs.join(
        F.broadcast(seed_ids), subs["vec_id"] == seed_ids["seed_id"]
    ).select("subspace", "code", F.col("sv").alias("cv"))

    def assign(cb: DataFrame) -> DataFrame:
        # fixed-dim inline chain (l2sq_expr) instead of the
        # interpreted aggregate/zip_with fold: this projection sits
        # above a BroadcastHashJoin scoring n * n_subspaces * k_sub
        # candidate rows — the training's hot loop — and the chain
        # whole-stage-codegens where the fold is CodegenFallback
        # (interpreted, one zipped-array allocation per pair).
        # Bit-identical accumulation order, so codes cannot move.
        j = subs.join(F.broadcast(cb), "subspace").withColumn(
            "_d", F.round(l2sq_expr("sv", "cv", sub_dim), 6)
        )
        w = Window.partitionBy("vec_id", "subspace").orderBy(
            F.asc("_d"), F.asc("code")
        )
        return (
            j.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("vec_id", "subspace", "code", "sv")
        )

    a0 = assign(seeds)
    # NOT persisted (measured): codebooks/codes are consumed by 2-3
    # subtrees of the SAME action, where AQE's ReusedExchange already
    # dedupes the identical training chain at runtime — adding
    # persist() here cost +1-2 s per query (cache materialization +
    # broken pipelines) against zero saved work.
    # Codebook means as ONE fixed-width hash aggregate (r13, the
    # ivf_centroids treatment): sub_dim per-element avg() buffers per
    # (subspace, code) cell, rounded and rebuilt as the array in the
    # same aggregation — the former posexplode -> groupBy(s, c, d) ->
    # groupBy(s, c) collect_list chain paid a Generate plus a second
    # exchange per codebook build for the same per-cell averages.
    codebooks = a0.groupBy("subspace", "code").agg(
        F.array(
            *[F.round(F.avg(F.col("sv")[d]), 6) for d in range(sub_dim)]
        ).alias("cv")
    )
    # Final code assignment as a scalars-only aggregate (r13, the
    # ivf_assign argmax trick): unlike a0 — whose sv payload the
    # codebook means still need — the stored codes are just
    # (vec_id, subspace, code), so the row_number window (which
    # shuffles and sorts all n * n_subspaces * k_sub scored candidate
    # rows with their subvector payloads) is replaced by a map-side-
    # combining min_by over the same candidates: each task emits one
    # scalar row per (vec_id, subspace), k_sub-fold fewer shuffled
    # rows, no sort, at any scale. Ordering by the struct (_d, code)
    # picks the same (lowest distance, lowest code) winner as the
    # window's (_d asc, code asc) row_number — bit-identical codes,
    # with no assumption on the range of distances or codes.
    j = subs.join(F.broadcast(codebooks), "subspace").withColumn(
        "_d", F.round(l2sq_expr("sv", "cv", sub_dim), 6)
    )
    codes = j.groupBy("vec_id", "subspace").agg(
        F.min_by("code", F.struct("_d", "code")).alias("code")
    ).select("vec_id", "subspace", "code")
    return codebooks, codes


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_subspaces: int = 4,
    k_sub: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 0,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes.

    The dot product decomposes exactly over subspaces, so
    ``dot(q, v) ~= sum_s dot(q_s, codebook[s][code_s])`` and
    ``||v||^2 ~= sum_s ||codebook[s][code_s]||^2``: per query the
    scorer precomputes a (subspace, code) lookup table of
    ``n_subspaces * k_sub`` partial dots (tiny — broadcast), then
    scoring the corpus is ONE broadcast-join over the stored codes
    plus a (query, vec) aggregation. The full vectors are never read
    at query time — that is the entire point of PQ.

    ``rerank > k`` enables the standard two-stage search: the ADC
    pass produces a ``rerank``-sized shortlist per query, whose FULL
    vectors (and only those — a keyed equi-join on the candidate ids)
    are then scored exactly; output ranks use the exact cosine. PQ
    compression decides WHAT to read, the exact pass decides the
    final order — recall is then bounded by shortlist coverage, not
    quantization error.

    Partial terms are summed as exact decimals (order-independent)
    before the final rounding, so ranks are reproducible and the SQL
    oracle matches.
    """
    sub_dim = dim // n_subspaces
    codebooks, codes = pq_train_encode(
        corpus, n_subspaces, k_sub, dim, id_col, vec_col
    )
    qv = to_double_array(vec_col)
    q_base = queries.select(
        F.col(id_col).alias("query_id"),
        F.round(F.sqrt(_fold_dot(qv, qv)), 6).alias("qnorm"),
        F.posexplode(
            F.array(
                *[
                    F.slice(qv, s * sub_dim + 1, sub_dim)
                    for s in range(n_subspaces)
                ]
            )
        ).alias("subspace", "qsv"),
    )
    lut = q_base.join(F.broadcast(codebooks), "subspace").select(
        "query_id",
        "qnorm",
        "subspace",
        "code",
        F.round(_fold_dot(F.col("qsv"), F.col("cv")), 6)
        .cast("decimal(18,6)")
        .alias("pdot"),
        F.round(_fold_dot(F.col("cv"), F.col("cv")), 6)
        .cast("decimal(18,6)")
        .alias("cn2"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", "qnorm", "vec_id")
        .agg(
            F.sum("pdot").alias("sdot"), F.sum("cn2").alias("scn2")
        )
        .withColumn(
            "approx_cos",
            F.round(
                F.col("sdot").cast("double")
                / (
                    F.col("qnorm")
                    * F.sqrt(F.col("scn2").cast("double"))
                ),
                4,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cos"), F.asc("vec_id")
    )
    ranked = scored.withColumn("rnk", F.row_number().over(w))
    if not rerank or rerank <= k:
        return (
            ranked.filter(F.col("rnk") <= k)
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                "approx_cos",
                F.col("rnk").cast("int").alias("rnk"),
            )
        )
    shortlist = ranked.filter(F.col("rnk") <= rerank).select(
        "query_id", "vec_id"
    )
    cand = shortlist.join(
        corpus.select(
            F.col(id_col).alias("vec_id"),
            to_double_array(vec_col).alias("_cv"),
        ),
        "vec_id",
    )
    qfull = queries.select(
        F.col(id_col).alias("query_id"),
        to_double_array(vec_col).alias("_qv"),
    )
    exact = cand.join(F.broadcast(qfull), "query_id").withColumn(
        "cos_sim",
        F.round(
            _fold_dot(F.col("_qv"), F.col("_cv"))
            / (
                F.sqrt(_fold_dot(F.col("_qv"), F.col("_qv")))
                * F.sqrt(_fold_dot(F.col("_cv"), F.col("_cv")))
            ),
            4,
        ),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        exact.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cos_sim",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def sq8_encode(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar quantization to int8 (FAISS ``SQ8`` shape): each vector
    stores one byte per dimension, ``code_i = round(x_i * 127 /
    max|x|)`` — 8x smaller than float64 at ~full recall for cosine,
    because the per-vector scale CANCELS in the cosine ratio (only
    code direction matters). Unlike PQ there is NO training: encoding
    is one map-only projection, which makes SQ the cheap-to-build
    index tier (PQ compresses harder but must train codebooks).

    Returns ``(vec_id, codes array<int>, cnorm)`` where ``cnorm`` is
    the rounded L2 norm of the code vector (precomputed once so
    query-time scoring never refolds it). Deterministic: max|x| is
    exact, the scaled division is one double op per element, and the
    rounded code is integer — the SQL oracle replays it exactly."""
    v = to_double_array(vec_col)
    # zero-vector guard: max|x| = 0 would make every code 0.0/0.0 =
    # NaN (null after the int cast) and the vector would silently
    # vanish from scoring; dividing by 1 instead encodes it to
    # all-zero codes deterministically (it scores 0 against every
    # query, which is the right cosine answer for a zero vector)
    mx = F.array_max(F.transform(v, F.abs))
    mx = F.when(mx == 0.0, F.lit(1.0)).otherwise(mx)
    codes = F.transform(v, lambda x: F.round(x * 127.0 / mx).cast("int"))
    return corpus.select(
        F.col(id_col).alias("vec_id"), codes.alias("codes")
    ).withColumn(
        "cnorm",
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform("codes", lambda c: c.cast("double")),
                    F.lit(0.0),
                    lambda acc, x: acc + x * x,
                )
            ),
            6,
        ),
    )


def cosine_topk_ivfsq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 0,
) -> DataFrame:
    """IVF + int8 scalar quantization: the coarse quantizer prunes to
    ``nprobe`` inverted lists, then asymmetric scoring runs the FULL
    query vector against int8 codes — ``cos ~= dot(q, c) /
    (||q|| * ||c||)`` (the stored per-vector scale cancels), so the
    probed lists are scored from 1-byte-per-dim data without reading
    stored vectors. ``rerank > k`` adds the exact full-vector pass
    over the shortlist (keyed equi-join), same as the PQ variants.

    At scale: encode is map-only (no codebook training jobs — the
    structural win over IVF-PQ when index build time matters), the
    probe is an ``n_centroids``-row broadcast, scoring joins the
    code stream to the broadcast query set on centroid_id, and the
    only corpus-sized shuffle is ivf_assign's aggregate. Every
    scoring term is round-6 quantized, so the SQL oracle replays the
    whole pipeline exactly."""
    nk_hint = corpus.count() * n_centroids
    corpus = fan_out(corpus)
    cents = ivf_centroids(
        corpus, n_centroids, vec_col, id_col, nk_hint=nk_hint
    ).persist()
    lists = ivf_assign(
        corpus, cents, vec_col, id_col, dim, nk_hint=nk_hint
    ).select("vec_id", "centroid_id")
    codes = sq8_encode(corpus, id_col, vec_col).join(lists, "vec_id")

    q = queries.select(
        F.col(id_col).alias("query_id"),
        to_double_array(vec_col).alias("qv"),
    ).withColumn("qnorm", F.round(F.sqrt(_fold_dot("qv", "qv")), 6))
    qscore = q.crossJoin(
        F.broadcast(_norm_col(cents, "cv", "_cnrm", dim))
    ).withColumn(
        "_sim",
        # a zero centroid (a zero vector seeded its own list) or zero
        # query makes this 0/0, which RAISES under ANSI — similarity
        # to/of a zero vector is 0 by definition
        F.when(
            (F.col("_cnrm") == 0.0) | (F.col("qnorm") == 0.0), F.lit(0.0)
        ).otherwise(
            F.round(
                _fold_dot(F.col("qv"), F.col("cv"))
                / (F.col("qnorm") * F.col("_cnrm")),
                6,
            )
        ),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("_sim"), F.asc("centroid_id")
    )
    probes = (
        qscore.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "qv", "qnorm", "centroid_id")
    )
    scored = (
        codes.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "approx_cos",
            # a zero vector (cnorm=0) or zero query (qnorm=0) scores
            # 0 — without the guard 0.0/0.0 = NaN, which Spark's
            # NaN-greatest DESC order would rank as the TOP neighbor
            F.when(
                (F.col("cnorm") == 0.0) | (F.col("qnorm") == 0.0),
                F.lit(0.0),
            ).otherwise(
                F.round(
                    F.aggregate(
                        F.zip_with(
                            F.col("qv"),
                            F.col("codes"),
                            lambda x, c: x * c.cast("double"),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    / (F.col("qnorm") * F.col("cnorm")),
                    4,
                )
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cos"), F.asc("vec_id")
    )
    ranked = scored.withColumn("rnk", F.row_number().over(w))
    if not rerank or rerank <= k:
        return ranked.filter(F.col("rnk") <= k).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "approx_cos",
            F.col("rnk").cast("int").alias("rnk"),
        )
    shortlist = ranked.filter(F.col("rnk") <= rerank).select(
        "query_id", "vec_id"
    )
    cand = shortlist.join(
        corpus.select(
            F.col(id_col).alias("vec_id"),
            to_double_array(vec_col).alias("_cv"),
        ),
        "vec_id",
    )
    qfull = queries.select(
        F.col(id_col).alias("query_id"),
        to_double_array(vec_col).alias("_qv"),
    )
    exact = cand.join(F.broadcast(qfull), "query_id").withColumn(
        "cos_sim",
        F.round(
            _fold_dot(F.col("_qv"), F.col("_cv"))
            / (
                F.sqrt(_fold_dot(F.col("_qv"), F.col("_qv")))
                * F.sqrt(_fold_dot(F.col("_cv"), F.col("_cv")))
            ),
            4,
        ),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        exact.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cos_sim",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def rrf_fuse(
    ranked: list[tuple[str, DataFrame]],
    k: int = 10,
    k0: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of
    two or more top-N rankings — the standard way hybrid search
    combines a lexical ranker (BM25) with a vector ranker (ANN):
    ``score(d) = sum_r 1 / (k0 + rank_r(d))``, items missing from a
    list contribute 0. Rank positions, not raw scores, so the two
    scorers need no calibration against each other.

    ``ranked`` is an ordered list of ``(name, frame)`` pairs; each
    frame carries ``id_col`` plus an integer ``{name}_rank`` column
    (1-based, dense within its own top-N list).

    Plan/scale: the inputs are top-N lists — k-sized, NOT
    corpus-sized — so the fusion is a chain of keyed full-outer
    joins over a few dozen rows followed by one
    TakeOrderedAndProject; the corpus-scale work all happened inside
    the upstream rankers. Determinism: the reciprocal terms are
    summed left-to-right in ``ranked`` order (a fixed-shape double
    expression, reproducible cross-engine), ties on the rounded
    score break by ascending id.
    """
    if len(ranked) < 2:
        raise ValueError("rrf_fuse needs at least two rankings")
    out: DataFrame | None = None
    for _, df in ranked:
        out = df if out is None else out.join(df, id_col, "full_outer")
    score = None
    for name, _ in ranked:
        term = F.coalesce(
            F.lit(1.0) / (F.lit(k0) + F.col(f"{name}_rank")), F.lit(0.0)
        )
        score = term if score is None else score + term
    return (
        out.select(
            id_col,
            *[
                F.col(f"{name}_rank").cast("int").alias(f"{name}_rank")
                for name, _ in ranked
            ],
            F.round(score, 6).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc(id_col))
        .limit(k)
    )


def cosine_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_subspaces: int = 8,
    k_sub: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 0,
    residual: bool = False,
    cents: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the two compressions composed, the billion-vector
    workhorse (FAISS ``IndexIVFPQ``; Jégou et al. 2011 §V). The IVF
    coarse quantizer restricts each query to its ``nprobe`` nearest
    inverted lists; ADC over PQ codes then scores ONLY vectors in the
    probed lists through the broadcast (subspace, code) lookup table —
    the stored vectors are read for neither stage. ``rerank > k``
    adds the standard exact re-scoring of the ADC shortlist's full
    vectors (a keyed equi-join on candidate ids).

    At 100 TB the plan is: one broadcast-centroid assignment per
    vector (ivf_assign — scalars-only hash aggregate above the
    small-input gate), one broadcast-codebook code assignment
    (pq_train_encode), then per query a broadcast probe-and-LUT join
    whose input is |probed lists| * n_subspaces code rows — the only
    corpus-sized shuffle is the (query, vec) partial-sum aggregation,
    pre-combined map-side.

    ``residual=False`` (the historical default) encodes RAW vectors,
    so one codebook set serves every list with the simplest
    replayable recipe. ``residual=True`` is FAISS-proper residual
    encoding: PQ quantizes ``v - centroid(v)`` (a broadcast-centroid
    map-only subtraction — the assignment is already in hand), which
    centers every inverted list's codebook input near the origin and
    cuts quantization error. ADC then scores through the exact
    decomposition ``dot(q, v) ~= dot(q, c) + sum_s dot(q_s, r_s)``
    and ``||v||^2 ~= ||c||^2 + 2*sum_s dot(c_s, r_s) +
    sum_s ||r_s||^2`` — the extra terms come from two more broadcast
    tables (per-(query, probed centroid) dots and a
    (centroid, subspace, code) cross-term table of
    n_centroids*n_subspaces*k_sub rows), so the plan shape and its
    one corpus-sized shuffle are unchanged. All new terms are
    round-6-quantized decimals summed exactly, keeping the SQL
    oracle bit-for-bit replayable.

    ``cents``/``assigned`` (pass BOTH, pre-persisted) inject a shared
    coarse quantizer + corpus assignment so multi-variant callers
    (ann_recall_at_k) train it once — deterministic round-6 training
    makes the injected values identical to the in-function ones.
    """
    if cents is None or assigned is None:
        nk_hint = corpus.count() * n_centroids
        corpus = fan_out(corpus)
        cents = ivf_centroids(
            corpus, n_centroids, vec_col, id_col, nk_hint=nk_hint
        ).persist()
        # persisted ONLY on the residual path, where two consumers
        # (`lists` below and the rcorpus residual build) re-execute
        # the pandas-cosine n*k assignment pass; non-residual has a
        # single consumer and AQE's ReusedExchange already covers the
        # within-action duplication — persisting there measured as a
        # net cost (cache materialization against zero saved work)
        assigned = ivf_assign(
            corpus, cents, vec_col, id_col, dim, nk_hint=nk_hint
        )
        if residual:
            assigned = assigned.persist()
    lists = assigned.select("vec_id", "centroid_id")
    if residual:
        # residual corpus: the assignment already carries the
        # embedding; one 16-row broadcast join + map-only subtraction.
        # PERSISTED because pq_train_encode consumes its input from
        # several subtrees (seed join, two assignment passes, cell
        # aggregation) — with raw vectors each re-read is a cheap
        # scan, but the residual lineage embeds the full ivf_assign
        # (a pandas-cosine pass over n*k pairs), which re-executed
        # per subtree measured 2.3x the raw path's wall time at
        # sf0.1. Materializing residuals once during training is the
        # standard trade (FAISS does the same); MEMORY_AND_DISK via
        # default persist, spill-safe at scale.
        rcorpus = assigned.join(F.broadcast(cents), "centroid_id").select(
            "vec_id",
            F.zip_with(
                to_double_array("embedding"),
                to_double_array("cv"),
                lambda x, y: x - y,
            ).alias("rv"),
        ).persist()
        codebooks, codes = pq_train_encode(
            rcorpus, n_subspaces, k_sub, dim, "vec_id", "rv"
        )
    else:
        codebooks, codes = pq_train_encode(
            corpus, n_subspaces, k_sub, dim, id_col, vec_col
        )

    # probe the nprobe nearest centroids per query (ivf shape)
    q = _norm_col(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ),
        "qv", "qn", dim,
    )
    qscore = q.crossJoin(
        F.broadcast(_norm_col(cents, "cv", "_cnrm", dim))
    ).withColumn(
        "_sim", F.round(_cos_join("qv", "cv", "qn", "_cnrm", dim), 6)
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("_sim"), F.asc("centroid_id")
    )
    probes_full = qscore.withColumn("_rn", F.row_number().over(wq)).filter(
        F.col("_rn") <= nprobe
    )
    probes = probes_full.select("query_id", "centroid_id")
    if residual:
        # per-(query, probed centroid) exact-decimal dot terms for the
        # residual ADC decomposition (tiny: n_queries * nprobe rows)
        qc = probes_full.select(
            "query_id",
            "centroid_id",
            F.round(
                _fold_dot(to_double_array("qv"), to_double_array("cv")), 6
            ).cast("decimal(18,6)").alias("qcdot"),
            F.round(
                _fold_dot(to_double_array("cv"), to_double_array("cv")), 6
            ).cast("decimal(18,6)").alias("cn2c"),
        )

    # ADC lookup table per query (pq shape)
    sub_dim = dim // n_subspaces
    qv = to_double_array("qv")
    q_base = q.select(
        "query_id",
        F.round(F.sqrt(_fold_dot(qv, qv)), 6).alias("qnorm"),
        F.posexplode(
            F.array(
                *[
                    F.slice(qv, s * sub_dim + 1, sub_dim)
                    for s in range(n_subspaces)
                ]
            )
        ).alias("subspace", "qsv"),
    )
    lut = q_base.join(F.broadcast(codebooks), "subspace").select(
        "query_id",
        "qnorm",
        "subspace",
        "code",
        F.round(_fold_dot(F.col("qsv"), F.col("cv")), 6)
        .cast("decimal(18,6)")
        .alias("pdot"),
        F.round(_fold_dot(F.col("cv"), F.col("cv")), 6)
        .cast("decimal(18,6)")
        .alias("cn2"),
    )

    # score ONLY the probed lists: codes restricted by (vec ->
    # centroid -> probed query) before the LUT join
    probed_codes = codes.join(lists, "vec_id").join(
        F.broadcast(probes), "centroid_id"
    )
    if residual:
        # (centroid, subspace, code) cross terms dot(c_s, r_s):
        # n_centroids * n_subspaces * k_sub rows — broadcast
        cslices = cents.select(
            "centroid_id",
            F.posexplode(
                F.array(
                    *[
                        F.slice(
                            to_double_array("cv"), s * sub_dim + 1, sub_dim
                        )
                        for s in range(n_subspaces)
                    ]
                )
            ).alias("subspace", "csv"),
        )
        cross = cslices.join(F.broadcast(codebooks), "subspace").select(
            "centroid_id",
            "subspace",
            "code",
            F.round(_fold_dot(F.col("csv"), F.col("cv")), 6)
            .cast("decimal(18,6)")
            .alias("cdot"),
        )
        scored = (
            probed_codes.join(
                F.broadcast(lut), ["query_id", "subspace", "code"]
            )
            .join(F.broadcast(cross), ["centroid_id", "subspace", "code"])
            .filter(F.col("query_id") != F.col("vec_id"))
            .groupBy("query_id", "qnorm", "vec_id", "centroid_id")
            .agg(
                F.sum("pdot").alias("sdot"),
                F.sum("cn2").alias("scn2"),
                F.sum("cdot").alias("scdot"),
            )
            .join(F.broadcast(qc), ["query_id", "centroid_id"])
            .withColumn(
                "approx_cos",
                F.round(
                    (F.col("qcdot") + F.col("sdot")).cast("double")
                    / (
                        F.col("qnorm")
                        * F.sqrt(
                            (
                                F.col("cn2c")
                                + F.lit(2) * F.col("scdot")
                                + F.col("scn2")
                            ).cast("double")
                        )
                    ),
                    4,
                ),
            )
        )
    else:
        scored = (
            probed_codes.join(
                F.broadcast(lut), ["query_id", "subspace", "code"]
            )
            .filter(F.col("query_id") != F.col("vec_id"))
            .groupBy("query_id", "qnorm", "vec_id")
            .agg(F.sum("pdot").alias("sdot"), F.sum("cn2").alias("scn2"))
            .withColumn(
                "approx_cos",
                F.round(
                    F.col("sdot").cast("double")
                    / (F.col("qnorm") * F.sqrt(F.col("scn2").cast("double"))),
                    4,
                ),
            )
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cos"), F.asc("vec_id")
    )
    ranked = scored.withColumn("rnk", F.row_number().over(w))
    if not rerank or rerank <= k:
        return ranked.filter(F.col("rnk") <= k).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "approx_cos",
            F.col("rnk").cast("int").alias("rnk"),
        )
    shortlist = ranked.filter(F.col("rnk") <= rerank).select(
        "query_id", "vec_id"
    )
    cand = shortlist.join(
        corpus.select(
            F.col(id_col).alias("vec_id"),
            to_double_array(vec_col).alias("_cv"),
        ),
        "vec_id",
    )
    qfull = queries.select(
        F.col(id_col).alias("query_id"),
        to_double_array(vec_col).alias("_qv"),
    )
    exact = cand.join(F.broadcast(qfull), "query_id").withColumn(
        "cos_sim",
        F.round(
            _fold_dot(F.col("_qv"), F.col("_cv"))
            / (
                F.sqrt(_fold_dot(F.col("_qv"), F.col("_qv")))
                * F.sqrt(_fold_dot(F.col("_cv"), F.col("_cv")))
            ),
            4,
        ),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        exact.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cos_sim",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def cosine_range_search(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float = 0.8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine RANGE query: every corpus neighbor with
    similarity >= threshold for each probe (self excluded) — the
    fixed-radius dual of :func:`cosine_topk` for "all near
    duplicates of these items" workloads where k is unknowable.

    Plan shape: broadcast probes over ONE corpus scan, score, filter
    — no per-query window at all (the threshold IS the selection),
    so this is the cheapest possible shape for a threshold query:
    scan + broadcast hash join + filter, fully whole-stage-codegen.
    Rounded cosine (4dp) keeps the boundary engine-deterministic.
    """
    q = _norm_col(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ),
        "qv", "qn", dim,
    )
    c = _norm_col(
        fan_out(corpus).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        ),
        "cv", "cn", dim,
    )
    thr = round(float(threshold), 4)
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim", F.round(_cos_join("qv", "cv", "qn", "cn", dim), 4)
        )
        .filter(F.col("cos_sim") >= thr)
        .select("query_id", "neighbor_id", "cos_sim")
    )


def mine_bitext_margin(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    k: int = 4,
    m: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Margin-based parallel-text mining (Artetxe & Schwenk 2019,
    "Margin-based Parallel Corpus Mining with Multilingual Sentence
    Embeddings"; the LASER / CCMatrix mining criterion): score every
    (a, b) candidate not by raw cosine — which a hubness-prone
    embedding space miscalibrates — but by the RATIO margin

        margin(x, y) = cos(x, y) /
            (sum_{z in NNk(x)} cos(x,z)/2k + sum_{z in NNk(y)} cos(y,z)/2k)

    where NNk are each side's k nearest neighbors on the OTHER side.
    Returns the top-``m`` b-side matches per a-side query:
    ``(query_id, match_id, cos_sim, margin, rnk)``.

    ``corpus_a`` is the probe batch (broadcast, bounded — production
    mines in query shards exactly like :func:`cosine_topk` probes);
    everything derives from ONE scored frame: the b-side stream joins
    the broadcast probes once, cosines quantize to micro-unit BIGINTs
    (cosm), and both neighborhood sums are windows over that frame —
    forward per query_id (k rows each, a broadcast-sized aggregate),
    backward per match_id (corpus-keyed, shuffle on the b-side id).
    The margin is then one exact-integer ratio per candidate:
    cosm * 2k / (fwd_sum + bwd_sum) — sums of BIGINT micro-units are
    order-free and engine-exact, so the only float ops are the single
    IEEE division and the final round, which is what lets a DuckDB
    oracle reproduce the ranking bit-for-bit.

    100 TB shape: the scored frame is |probes| x |b| for ONE probe
    shard — the same bounded-broadcast pattern as brute top-k; for
    full-corpus x-ing, shard the a-side and (optionally) pre-shortlist
    the b-side with :func:`cosine_topk_ivf`'s clustering. The
    backward window is the only corpus-sized shuffle and is keyed by
    match_id (no skew: every match carries exactly |probes| rows).
    """
    a = _norm_col(
        corpus_a.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ),
        "qv", "qn", dim,
    )
    bset = _norm_col(
        fan_out(corpus_b).select(
            F.col(id_col).alias("match_id"), F.col(vec_col).alias("cv")
        ),
        "cv", "cn", dim,
    )
    scored = (
        bset.join(F.broadcast(a), F.lit(True))
        .select(
            "query_id",
            "match_id",
            F.round(_cos_join("qv", "cv", "qn", "cn", dim) * 10000)
            .cast("long")
            .alias("cosm"),
        )
        .persist()
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("cosm"), F.asc("match_id")
    )
    fwd = (
        scored.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= k)
        .groupBy("query_id")
        .agg(F.sum("cosm").alias("fwd_sum"))
    )
    wb = Window.partitionBy("match_id").orderBy(
        F.desc("cosm"), F.asc("query_id")
    )
    bwd = (
        scored.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") <= k)
        .groupBy("match_id")
        .agg(F.sum("cosm").alias("bwd_sum"))
    )
    margins = (
        scored.join(F.broadcast(fwd), "query_id")
        .join(bwd, "match_id")
        .withColumn(
            "margin",
            F.round(
                (F.col("cosm") * F.lit(2 * k)).cast("double")
                / (F.col("fwd_sum") + F.col("bwd_sum")),
                4,
            ),
        )
    )
    wm = Window.partitionBy("query_id").orderBy(
        F.desc("margin"), F.asc("match_id")
    )
    return (
        margins.withColumn("rnk", F.row_number().over(wm))
        .filter(F.col("rnk") <= m)
        .select(
            "query_id",
            "match_id",
            (F.col("cosm") / F.lit(10000.0)).alias("cos_sim"),
            "margin",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def embedding_gram_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Uncentered second-moment (Gram) matrix of an embedding column:
    (i, j, gram4) for the upper triangle i <= j — the sufficient
    statistic behind PCA whitening / dimensionality cuts in embedding
    curation (SemDeDup-style preprocessing): covariance = gram/n -
    mean_i*mean_j composes from it and the per-dim means; the
    eigenbasis comes from :func:`pca_basis`.

    Determinism (the cross-engine contract): each embedding VALUE is
    quantized to 1e-6 units by TRUNCATION toward zero — bit-identical
    in any engine, because float32 -> double widening and the * 1e6
    multiply are exact IEEE ops and truncation has no rounding ties
    (per-product round() does: Spark's shortest-repr HALF_UP and
    DuckDB's scale-multiply round disagree on near-tie doubles, which
    a 12M-product pass WILL hit). Integer products of the quantized
    values then accumulate exactly (DECIMAL(38,0) — immune to both
    summation order and int64 overflow at any corpus size); only the
    final 2080 cells see a double division + 4-dp round.

    Plan (100 TB): an Arrow ``mapInPandas`` partial-Gram pass — each
    task folds its Arrow batches into ONE dim x dim integer matrix
    (numpy ``q.T @ q`` per batch, cross-batch accumulation in Python
    ints so no partition size can overflow) and emits exactly 2080
    upper-triangle rows, so the only shuffle carries #partitions *
    2080 rows regardless of corpus size, into a constant-key
    hash-agg. This is the measured exception to the JVM-first rule:
    the declarative nested-transform formulation (2080 per-row terms
    through higher-order-function lambdas) leaves whole-stage
    codegen and ran 59 s at sf0.1 vs ~1 s for the vectorized
    partial-sum — a dense dim^2 inner product is exactly the shape
    Arrow-batched numpy exists for.
    """
    from decimal import Decimal
    from typing import Iterator

    import numpy as np
    import pandas as pd

    d = int(dim)

    def partials(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        tot: list[list[int]] | None = None
        for pdf in batches:
            if not len(pdf):
                continue
            a = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            # exact twin of (x * 1e6).cast(long): float32 -> double
            # widening and the *1e6 multiply are exact IEEE ops,
            # trunc toward zero is tie-free
            q = np.trunc(a * 1e6).astype(np.int64)
            g = q.T @ q  # per-batch int64: rows_per_batch * 1e12 << 2^63
            if tot is None:
                tot = [[int(x) for x in row] for row in g]
            else:
                for r in range(d):
                    tr, gr = tot[r], g[r]
                    for c in range(d):
                        tr[c] += int(gr[c])
        if tot is None:
            return
        ii, jj, pp = [], [], []
        for i in range(d):
            for j in range(i, d):
                ii.append(i)
                jj.append(j)
                pp.append(Decimal(tot[i][j]))
        yield pd.DataFrame(
            {
                "i": pd.Series(ii, dtype="int32"),
                "j": pd.Series(jj, dtype="int32"),
                "pd": pp,
            }
        )

    part = df.select(vec_col).mapInPandas(
        partials, schema="i int, j int, pd decimal(38,0)"
    )
    return part.groupBy("i", "j").agg(
        F.round(F.sum("pd").cast("double") / F.lit(1e12), 4).alias("gram4")
    )


def pca_basis(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_components: int = 8,
) -> "tuple[DataFrame, list[float]]":
    """Top principal directions of the (uncentered) embedding cloud:
    returns (components_df, explained) where components_df holds
    (component, dim_idx, weight) for the top ``n_components``
    eigenvectors of the Gram matrix and ``explained`` their
    eigenvalues in descending order.

    The Gram matrix itself is the distributed pass
    (:func:`embedding_gram_matrix`); the eigendecomposition runs on
    the DRIVER over a dim x dim array — bounded planning metadata
    (64x64 = 4 KB), the same legitimate-collect class as the
    pagerank node count (operators/dedup.py) — then the basis ships
    back as a plain DataFrame for a broadcast projection join. No
    data-path collect at any corpus size.

    Sign convention: each eigenvector is flipped so its
    largest-magnitude coordinate is positive (eigenvectors are
    sign-ambiguous; pinning one makes results reproducible).
    """
    import numpy as np

    g = embedding_gram_matrix(df, vec_col, dim).collect()
    m = np.zeros((dim, dim))
    for r in g:
        m[r["i"], r["j"]] = m[r["j"], r["i"]] = r["gram4"]
    vals, vecs = np.linalg.eigh(m)  # ascending
    order = np.argsort(vals)[::-1][:n_components]
    rows = []
    explained = []
    for c, k in enumerate(order):
        v = vecs[:, k]
        pin = int(np.argmax(np.abs(v)))
        if v[pin] < 0:
            v = -v
        explained.append(float(vals[k]))
        rows.extend(
            (c, d, float(round(v[d], 6))) for d in range(dim)
        )
    spark = df.sparkSession
    comp = local_frame(
        spark, rows, "component int, dim_idx int, weight double"
    )
    return comp, explained


def pca_project(
    df: DataFrame,
    components: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Project embeddings onto a PCA basis: (id, component, score4).
    One broadcast join against the (component, dim_idx, weight) basis
    + a keyed sum — the corpus never re-shuffles, so projection cost
    is a map-side pass at any scale. Scores round to 4 dp after a
    6-dp-quantized decimal accumulation (the same order-independent
    determinism contract as the Gram pass)."""
    arr = to_double_array(vec_col)
    expl = df.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(arr).alias("dim_idx", "x"),
    )
    return (
        expl.join(F.broadcast(components), "dim_idx")
        .select(
            "vec_id",
            "component",
            F.round(F.col("x") * F.col("weight"), 6)
            .cast("decimal(18,6)")
            .alias("pd"),
        )
        .groupBy("vec_id", "component")
        .agg(F.round(F.sum("pd").cast("double"), 4).alias("score4"))
    )
