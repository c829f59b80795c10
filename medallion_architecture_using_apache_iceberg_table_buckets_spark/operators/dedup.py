"""Deduplication operators for large-scale training-data pipelines.

Five families, all expressed as DataFrame transforms (no driver-side
loops over row data, no Python UDFs in the hot path):

- exact            : hash-groupBy on the raw text
- normalized       : hash-groupBy on normalized text
- n-gram Jaccard   : inverted-index shingle join + exact verify
- MinHash + LSH    : signature -> band buckets -> candidate join ->
                     exact-Jaccard verify (the 100 TB scale path:
                     candidate generation never compares all pairs)
- SimHash          : 62-bit signature, chunk-banded candidate join
                     with a pigeonhole guarantee, Hamming verify
- embedding cosine : threshold pairs over vectors (brute at test
                     scale; similarity.py holds the LSH-bucketed
                     variant)

Determinism/portability: MinHash and SimHash need per-token integer
hashes that DuckDB can reproduce. Default backend is ``md5`` — the
top 60 bits of md5(token) as an int64 (identical in any engine:
DuckDB ``('0x' || substr(md5(t),1,15))::BIGINT``), dictionary-free so
there is no global vocabulary shuffle at 100 TB. ``xxhash64`` is the
faster Spark-only alternative for production. All modular arithmetic
stays well inside int64 (ANSI mode raises on overflow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_text, word_shingles, words
from ..functions.vector import cosine_sim
from ..session import local_frame

# MinHash parameters (shared with the SQL oracles): K signatures in
# B bands of R rows; universal-hash constants (a*j + b) mod P.
MINHASH_K = 12
MINHASH_BANDS = 4
MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
MINHASH_A = [7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47]
MINHASH_B = [3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41]

SIMHASH_BITS = 62
SIMHASH_CHUNKS = 4  # pigeonhole: hamming <= 3 => >= 1 identical chunk


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: md5(text) -> group size + keeper id.

    One hash-shuffle; at 100 TB the md5 key also load-balances skew
    (identical docs hash to one reducer each).
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper_id"))
    )


def normalized_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-exact duplicates modulo case/punct/whitespace."""
    return (
        df.groupBy(F.md5(normalize_text(text_col)).alias("content_hash"))
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper_id"))
    )


def _fan_out(df: DataFrame) -> DataFrame:
    """Spread rows across the cluster before CPU-heavy per-row work.

    Document corpora often arrive as few large files; without this the
    shingling/hashing below runs on as many cores as there are input
    splits. One cheap row-shuffle buys full parallelism — at 100 TB
    the same applies (size maxPartitionBytes vs. per-row cost).
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _doc_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Distinct (doc, shingle) pairs — zero shuffles beyond the
    fan-out repartition.

    The tokenized array is materialized BEHIND the repartition
    barrier, then shingles index into that attribute
    (element_at on the in-memory array). Ordering matters: with the
    tokenization in the same stage as the indexing lambda, Catalyst
    collapses the projections and re-evaluates the whole
    normalize+split chain per element (measured ~10x slower, round-1
    note); the Exchange in between blocks that collapse. Per-doc
    dedup is array_distinct (row-local) instead of a .distinct()
    shuffle of the exploded table, and the old lead()-window version
    cost a second shuffle — both gone.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), words(text_col).alias("w")
    ).repartition(df.sparkSession.sparkContext.defaultParallelism)
    shingles = F.when(
        F.size("w") >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at("w", i + k) for k in range(n)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select("doc_id", F.explode(shingles).alias("shingle"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via an inverted-index self-join.

    Plan: explode shingles -> (optional) drop shingles with document
    frequency > max_df (stop-shingles explode candidate counts at
    scale) -> join on shingle -> per-pair intersection size ->
    Jaccard from per-doc set sizes. Never materializes the full
    doc x doc matrix.
    """
    sh = _doc_shingles(df, text_col, id_col, n)
    if max_df is not None:
        keep = sh.groupBy("shingle").count().filter(F.col("count") <= max_df).select("shingle")
        sh = sh.join(keep, "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs via PREFIX FILTERING (the
    AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    WWW'08): the third exact candidate generator next to the full
    inverted-index join (:func:`ngram_jaccard_pairs`) and the
    approximate MinHash-LSH path.

    Principle: order every doc's shingles by a GLOBAL rarity key
    (document frequency asc, shingle asc); its prefix is the first
    ``|d| - ceil(t*|d|) + 1`` shingles. Two sets with Jaccard >= t
    overlap in at least ceil(t*|d|) elements, so by pigeonhole they
    MUST share a prefix shingle — the filter is LOSSLESS (the verify
    step sees every true pair; ``test_prefix_filter_equals_full_join``
    asserts output equality with the full join). Candidates also pass
    the length filter ``min(|a|,|b|) >= t * max(|a|,|b|)`` and
    PPJoin's POSITIONAL filter: a shared prefix shingle at ranks
    (i, j) bounds the overlap by ``1 + min(|a|-i, |b|-j)``, which
    must reach ``alpha = ceil(t/(1+t) * (|a|+|b|))`` (the first
    common token in the global order sits in both prefixes, so a
    true pair always survives through that row — still lossless;
    the ceil argument is relaxed by 1e-9 so FP rounding can only
    ADMIT a candidate, never drop a true pair).

    100 TB plan AND regime: the candidate join touches only prefix
    tokens — ``(1-t)*|d| + 1`` of them, the RAREST ones — so the
    per-token fan-out is the inverted index's smallest buckets. The
    filter's power is proportional to t: at t >= ~0.8 (the
    high-similarity mining AllPairs/PPJoin was built for) prefixes
    are ~20% of each set and candidates collapse toward the true
    pair count; at t ~0.5 on a vocabulary-dense corpus the prefix is
    half the set and candidate volume approaches the naive join's
    (measured 39x at a 10x step-up at t=0.5 before the positional
    filter and regime note — BENCH_SCALE_r10) — there, use
    :func:`ngram_jaccard_pairs` (group-then-verify, no per-pair
    set join) or MinHash-LSH instead. Per-doc prefix selection is a
    doc-partitioned window; document frequency is one shingle-keyed
    agg; verification joins are pair-keyed. Nothing all-pairs,
    nothing corpus-wide.

    SECOND REGIME LIMIT (r11 100x chained step-up's find): the
    filter also assumes a vocabulary that GROWS with the corpus
    (Heaps' law — true of real text), so each doc's rarest shingles
    stay globally rare. On a BOUNDED-vocabulary corpus every
    shingle's df grows linearly with n, prefix buckets grow with it
    (measured prefix-bucket pair mass 303k -> 20.6M -> 808M across
    sf0.1 -> 10x -> 100x on the fixed-vocabulary synth corpus;
    hottest prefix token 8 -> 52 -> 129 docs), and the candidate
    join degrades toward the naive product. There, route to
    MinHash-LSH banding (its 100x chained row holds 16x on 87x
    output) or cap with ngram_jaccard_pairs' max_df stop-shingles.
    Detection is one aggregate: prefix-bucket occupancy vs corpus
    growth.
    """
    from pyspark.sql import Window

    t = float(threshold)
    sh = _doc_shingles(df, text_col, id_col, n)
    dfc = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    ranked = (
        sh.join(dfc, "shingle")
        .join(sizes, "doc_id")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "shingle")
            ),
        )
    )
    prefix = ranked.filter(
        F.col("rnk")
        <= F.col("set_size") - F.ceil(F.lit(t) * F.col("set_size")) + 1
    ).select("doc_id", "shingle", "set_size", "rnk")
    a, b = prefix.alias("a"), prefix.alias("b")
    alpha = F.ceil(
        F.lit(t / (1.0 + t))
        * (F.col("a.set_size") + F.col("b.set_size"))
        - F.lit(1e-9)
    )
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.least(F.col("a.set_size"), F.col("b.set_size"))
                >= F.lit(t)
                * F.greatest(F.col("a.set_size"), F.col("b.set_size"))
            )
            & (
                F.lit(1)
                + F.least(
                    F.col("a.set_size") - F.col("a.rnk"),
                    F.col("b.set_size") - F.col("b.rnk"),
                )
                >= alpha
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    ia = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    ib = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(ia, "doc_a")
        .join(ib, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("size_a") + F.col("size_b") - F.col("inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= t)
        .select("doc_a", "doc_b", "jaccard")
    )


def token_id(col) -> F.Column:
    """Portable 60-bit integer hash of a token: top 15 hex chars of
    md5, mod P. DuckDB twin:
    ``('0x' || substr(md5(t), 1, 15))::BIGINT % 2147483647``."""
    return (
        F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long") % MINHASH_P
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    token_ids: str = "md5",
) -> DataFrame:
    """Per-doc MinHash signature columns mh0..mh{K-1}.

    minhash_j(doc) = min over shingle ids s of (A_j * s + B_j) mod P —
    computed with array higher-order functions after collecting each
    doc's shingle-id set (JVM-side, no UDF).
    """
    sh = _doc_shingles(df, text_col, id_col, n)
    if token_ids == "md5":
        sh = sh.withColumn("sid", token_id(F.col("shingle")))
    else:
        sh = sh.withColumn("sid", F.abs(F.xxhash64("shingle")) % MINHASH_P)
    doc_sets = sh.groupBy("doc_id").agg(F.collect_set("sid").alias("sids"))
    mh_cols = [
        F.array_min(
            F.transform(
                "sids", lambda s: (F.lit(MINHASH_A[j]) * s + F.lit(MINHASH_B[j])) % MINHASH_P
            )
        ).alias(f"mh{j}")
        for j in range(MINHASH_K)
    ]
    return doc_sets.select("doc_id", "sids", *mh_cols)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    token_ids: str = "md5",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard verified.

    Banding: K=12 signatures in 4 bands of 3; docs sharing any band
    key become candidates (join on the band key — the only pairwise
    step, linear in bucket sizes, never all-pairs). Candidates are
    then verified with exact Jaccard over the shingle-id sets and
    filtered at `threshold`, so LSH affects only recall pressure,
    not correctness of emitted pairs.

    Execution shape (matters at scale): the per-doc shingle-id sets
    are computed once and persisted — they feed the signatures AND
    both sides of the verify join; the band self-join carries only
    (doc_id, band, key), never the array payload, so the pairwise
    shuffle is a few dozen bytes per row.

    ``sigs`` injects a pre-persisted :func:`minhash_signatures`
    frame so a caller composing several minhash operators over the
    SAME corpus (the incremental-components fixture signs history
    for its closure AND for the probe) signs each side once — the
    cents/assigned injection pattern of similarity.cosine_topk_ivf;
    signatures are deterministic, so injection cannot move a value.
    """
    if sigs is None:
        sigs = minhash_signatures(df, text_col, id_col, n, token_ids).persist()
    bands = _band_keys(sigs)
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sets = sigs.select("doc_id", "sids")
    cands = cands.join(
        sets.select(F.col("doc_id").alias("doc_a"), F.col("sids").alias("sids_a")), "doc_a"
    ).join(
        sets.select(F.col("doc_id").alias("doc_b"), F.col("sids").alias("sids_b")), "doc_b"
    )
    inter = F.size(F.array_intersect("sids_a", "sids_b"))
    union = F.size("sids_a") + F.size("sids_b") - inter
    return (
        cands.withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_ids: str = "md5",
) -> DataFrame:
    """62-bit SimHash over word tokens (distinct words per doc).

    Bit b of token t is bit b of its md5 digest (two 60-bit hex
    chunks, shift+mask) — reproducible in plain SQL. Doc bit b is
    1 when strictly more than half its tokens set the bit.
    """
    # per-doc distinct via array_distinct behind the fan-out barrier:
    # row-local dedup, no (doc, word) shuffle (see _doc_shingles)
    w = (
        df.select(F.col(id_col).alias("doc_id"), words(text_col).alias("_ws"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select("doc_id", F.explode(F.array_distinct("_ws")).alias("word"))
    )
    if token_ids == "md5":
        # Token bits come straight from md5: two 60-bit chunks of the
        # hex digest, bit b extracted with shift+mask. One hash + 62
        # bitwise ops per token instead of 62 modular multiply/mod
        # chains (the previous universal-hash scheme) — measured ~2x
        # on the bench query, identical portability (DuckDB twin:
        # ('0x'||substr(md5(w),1,15))::BIGINT etc.).
        h = F.md5(F.col("word"))
        w = w.withColumn(
            "tid_lo", F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
        ).withColumn(
            "tid_hi", F.conv(F.substring(h, 16, 15), 16, 10).cast("long")
        )
    else:
        x = F.xxhash64("word")
        w = (
            w.withColumn("tid_lo", F.abs(x) % F.lit(1 << 60))
            .withColumn("tid_hi", F.abs(F.xxhash64("word", F.lit(1))) % F.lit(1 << 60))
        )

    def _bit_sql(b: int) -> str:
        if b < 60:
            return f"(shiftright(tid_lo, {b}) & 1)"
        return f"(shiftright(tid_hi, {b - 60}) & 1)"

    # Pack per-bit counters into each SUM using a 2^radix_bits radix
    # (20 bits -> 3 counters per 63-bit long -> 21 aggregate columns
    # instead of 62 naive ones; measured 3.7x). Valid while every
    # doc's distinct-token count stays below 2^radix_bits (1M at 20
    # bits); a raise_error guard enforces that at run time — overflow
    # would corrupt counters silently otherwise. Decoding reverses
    # the packing (shift+mask, exact: the radix is a power of two),
    # so signatures are bit-identical for ANY radix and the oracle
    # needs no knowledge of it.
    #
    # The 62-bit pack/decode expressions are assembled as SQL STRINGS,
    # not Column-API chains: one py4j call per expression instead of
    # ~600 — the Column version spent ~1.5 s of every run in driver
    # round-trips building the plan (measured r3), 2x the time the
    # query itself takes.
    radix_bits = 20
    radix = 1 << radix_bits
    per = 63 // radix_bits
    packs = []
    for gi, g in enumerate(range(0, SIMHASH_BITS, per)):
        span = range(g, min(g + per, SIMHASH_BITS))
        terms = [
            _bit_sql(b) if i == 0 else f"{_bit_sql(b)} * {radix**i}L"
            for i, b in enumerate(span)
        ]
        packs.append(
            F.expr(f"sum(CAST({' + '.join(terms)} AS BIGINT))").alias(f"p{gi}")
        )
    counts = w.groupBy("doc_id").agg(F.count("*").alias("n_tok"), *packs)
    decoded = []
    for gi, g in enumerate(range(0, SIMHASH_BITS, per)):
        span = range(g, min(g + per, SIMHASH_BITS))
        for i, b in enumerate(span):
            c = f"(shiftright(p{gi}, {radix_bits * i}) & {radix - 1})"
            decoded.append(f"IF(2 * {c} > n_tok, {2**b}L, 0L)")
    sim = " + ".join(decoded)
    guarded = (
        f"CASE WHEN n_tok < {radix} THEN ({sim}) "
        f"ELSE raise_error('simhash counter overflow: doc has >= {radix} "
        f"distinct tokens; raise radix_bits') END"
    )
    return counts.selectExpr("doc_id", f"{guarded} AS simhash")


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    token_ids: str = "md5",
) -> DataFrame:
    """SimHash near-dup pairs at Hamming distance <= max_hamming.

    Candidates come from joining on any equal chunk of the signature.
    The signature is split into ``max_hamming + 1`` chunks, so by
    pigeonhole every pair within the threshold shares at least one
    chunk — banding is lossless at ANY requested threshold (a fixed
    chunk count would silently drop distant-but-qualifying pairs).
    The verify step computes the exact Hamming distance.
    """
    # persisted: feeds the chunk explode AND both sides of the
    # candidate self-join (3 consumers of a 62-aggregate pipeline)
    sigs = simhash_signatures(df, text_col, id_col, token_ids).persist()
    n_chunks = min(max_hamming + 1, SIMHASH_BITS)
    base, rem = divmod(SIMHASH_BITS, n_chunks)
    widths = [base + (1 if i < rem else 0) for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright("simhash", offsets[i]).bitwiseAND(
                            F.lit((1 << widths[i]) - 1)
                        ).alias("ckey"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.ckey").alias("ckey"))
    a, b = chunks.alias("a"), chunks.alias("b")
    cands = a.join(
        b,
        (F.col("a.chunk") == F.col("b.chunk"))
        & (F.col("a.ckey") == F.col("b.ckey"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.chunk").alias("chunk"),
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.simhash").alias("h_a"),
        F.col("b.simhash").alias("h_b"),
    )
    # First-matching-chunk-wins replaces the former
    # dropDuplicates(doc_a, doc_b): a pair agreeing on several chunks
    # is kept only where it matched at its LOWEST agreeing chunk — a
    # row-local bitwise filter on the xor, so candidate dedup costs no
    # Exchange at all (the dropDuplicates shuffled every candidate).
    x = F.col("h_a").bitwiseXOR(F.col("h_b"))
    chunk_differs = [
        F.shiftright(x, offsets[j]).bitwiseAND(F.lit((1 << widths[j]) - 1))
        != 0
        for j in range(n_chunks)
    ]
    first_match = F.lit(True)
    for i in range(n_chunks - 1, 0, -1):
        earlier_all_differ = chunk_differs[0]
        for j in range(1, i):
            earlier_all_differ = earlier_all_differ & chunk_differs[j]
        first_match = F.when(F.col("chunk") == i, earlier_all_differ).otherwise(
            first_match
        )
    hamming = F.bit_count(x)
    return (
        cands.filter(first_match)
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def keep_list(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Keep/drop decision from near-dup pairs: drop the larger id of
    every pair (the standard keep-first policy — transitive chains
    collapse to the smallest id since every later member pairs with
    an earlier one directly or drops via its own pair).

    One anti-join of the corpus against the distinct drop set; at
    scale the drop set is small relative to the corpus and AQE
    broadcasts it.
    """
    drops = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return df.join(drops, id_col, "left_anti")


def embedding_cosine_pairs_brute(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs: cosine >= threshold, id_a < id_b.

    Brute-force correctness baseline — O(n^2) by design, small inputs
    only. The scale path is ``embedding_cosine_pairs_lsh`` (bucketed
    candidates, never all pairs); both are oracle-checked. Pass
    ``dim`` when known to get the codegen'd inline cosine
    (functions/vector.py:cosine_sim_expr).
    """
    from ..functions.vector import cosine_from_norms_pandas, norm_expr

    base = _fan_out(df)
    if dim:
        base = base.withColumn("_nrm", norm_expr(vec_col, dim))
        nrm_a, nrm_b = [F.col("_nrm").alias(n) for n in ("na", "nb")]
        a = base.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), nrm_a)
        b = base.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), nrm_b)
        # norms precomputed per side (codegen'd map stage); the dot
        # rides the Arrow pandas path so Catalyst CANNOT push the
        # cosine filter into the BNLJ condition — the nested loop
        # prunes on id_a < id_b first, then the surviving half gets a
        # vectorized bit-identical dot (functions/vector.py:
        # dot_chain_pandas; was ~20s of interpreted per-pair chains)
        cos = cosine_from_norms_pandas("va", "vb", F.col("na"), F.col("nb"), dim)
    else:
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
        cos = cosine_sim(F.col("va"), F.col("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(cos, 4))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def _auto_planes(df: DataFrame, target_occupancy: int = 8,
                 lo: int = 4, hi: int = 24) -> int:
    """log2-size the hyperplane count so expected bucket occupancy
    stays ~constant as the corpus grows. A FIXED plane count is the
    one way hyperplane LSH goes quadratic: 10x rows in the same
    2^n_planes buckets means ~100x in-bucket candidate pairs — the
    round-5 10x step-up bench measured a 54x runtime factor for the
    pinned-8-planes configuration. Auto-sizing restores ~linear cost
    (occupancy constant, probe count grows only with log n).

    Planning-side count: parquet-backed inputs answer from footer
    metadata; the general-DataFrame fallback is one count job — the
    same planning-cost class as merge partition pruning.

    REGIME LIMIT (r11 100x chained step-up's find): the occupancy
    model assumes vectors SPREAD across the 2^n_planes sign
    patterns. A low-entropy embedding distribution realizes only a
    bounded number of distinct patterns — the synthetic 100x corpus
    saturates at 128 occupied buckets no matter the plane count
    (measured occupancy-sum-of-squares 139k at 2k vectors -> 1.36e9
    at 200k) — and then more planes DON'T split buckets, occupancy
    grows linearly with n, and the candidate join is quadratic
    again. Hyperplane LSH is the right tool for spread (real-world,
    high-entropy) embeddings; for clustered/structured
    distributions, use data-ADAPTIVE candidate generation —
    ``semantic_dedup``'s IVF clustering (centroids follow the data,
    so cluster sizes stay bounded by construction) or the IVF-based
    search family. Detection is one cheap aggregate: bucket
    occupancy stats vs target_occupancy.
    """
    import math

    n = df.count()
    return max(lo, min(hi, math.ceil(math.log2(max(2.0, n / target_occupancy)))))


def embedding_cosine_pairs_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    n_planes: int | None = None,
    dim: int = 64,
    multiprobe: int = 1,
) -> DataFrame:
    """Scale-safe embedding near-dup pairs: hyperplane-LSH candidate
    generation + exact-cosine verify on candidates only.

    One side probes its own bucket plus every bucket within
    ``multiprobe`` bit flips; the join key is the bucket id, so the
    plan is an equi-join whose cost scales with bucket occupancy
    (~ n^2 / 2^n_planes per probe), never an all-pairs cartesian.
    Probe buckets are distinct, so each (id_a < id_b) pair appears at
    most once — no dedup pass needed. Buckets are closed-form
    deterministic (similarity._plane_sign), so the DuckDB oracle
    reproduces the candidate set exactly. Recall vs the brute-force
    baseline is the documented LSH trade; the dial is (n_planes,
    multiprobe).

    ``n_planes=None`` (the default) auto-sizes the plane count from
    the corpus size (``_auto_planes``) so bucket occupancy — and with
    it the candidate-join cost per row — stays constant at any scale.
    Callers that need a reproducible bucket layout across differently
    sized corpora (the driver oracle does) pin an explicit value.

    Measured (r6 10x step-up, BENCH_SCALE_r06): cost per CANDIDATE
    fell at 10x — 7.6 -> 3.0 sec per million candidate pairs (auto),
    8.0 -> 3.1 (pinned-8) — so the raw runtime factor (21x auto) is
    candidate/output growth, not per-pair cost: the 10x corpus's TRUE
    verified-pair count grew 63x and candidates grew 52x, i.e. the
    plan does ~0.8 candidates per emitted pair more work at 10x than
    at 1x. The operator is output-bound, which is the optimum for a
    near-dup miner — a corpus with quadratic pair structure costs
    quadratic output no matter the algorithm.
    """
    from ..functions.vector import cosine_from_norms

    cand = embedding_lsh_candidates(
        df, vec_col, id_col, n_planes=n_planes, dim=dim,
        multiprobe=multiprobe,
    )
    cos = cosine_from_norms("va", "vb", F.col("na"), F.col("nb"), dim)
    return (
        cand.withColumn("cos_sim", F.round(cos, 4))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def embedding_lsh_candidates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int | None = None,
    dim: int = 64,
    multiprobe: int = 1,
) -> DataFrame:
    """The LSH candidate-pair set BEFORE exact-cosine verification:
    ``(id_a, id_b, va, vb, na, nb)`` from the banded bucket equi-join
    (id_a < id_b). This is the frame whose cardinality governs the
    operator's cost — exposed separately so scale benches can price
    candidate generation per pair, independent of how many verified
    pairs the threshold emits (`BENCH_SCALE` records
    sec-per-million-candidates across step-ups to back the ~linear
    claim with a measurement rather than an occupancy argument).
    """
    from ..functions.vector import norm_expr
    from .similarity import hyperplane_buckets

    if n_planes is None:
        n_planes = _auto_planes(df)

    b = hyperplane_buckets(_fan_out(df), vec_col, id_col, n_planes, dim).withColumn(
        "nrm", norm_expr("embedding", dim)
    )
    masks = [0]
    if multiprobe >= 1:
        masks += [1 << j for j in range(n_planes)]
    if multiprobe >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    probes = b.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("bucket"),
    )
    cands = b.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
        "bucket",
    )
    # Norms are precomputed per side (bit-identical fold, see
    # functions/vector.py:cosine_from_norms): the full inline cosine
    # inside the candidate join's codegen'd consume method breached
    # the JVM 64 KB method limit — Janino failed, and Spark re-ran
    # the multi-second compile on every execution before falling back
    # to the interpreted path. The dot-only verify compiles, and the
    # _fan_out guarantees the shuffle-free probe pipeline isn't
    # serialized onto the input's (possibly single) scan splits.
    # 3.8s -> 1.5s at sf0.1.
    return (
        probes.join(cands, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "va", "vb", "na", "nb")
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    key_col: str,
    max_dist: int = 3,
) -> DataFrame:
    """Edit-distance pairs (levenshtein <= max_dist) with LOSSLESS
    blocking — returns exactly the all-pairs result without ever
    joining all pairs.

    Three sound filters (each implied by dist <= t, so no pair is
    lost; the DuckDB oracle can therefore stay the simple all-pairs
    SQL):

    1. length band: |len_a - len_b| <= t (an edit changes length by
       <= 1).
    2. prefix filter on positional q-grams (PPJoin-style, q = 2):
       dist <= t destroys at most t*q multiset bigrams, so a matching
       pair shares >= max(len)-1 - t*q positional bigrams. Ordering
       every string's (bigram, occurrence) tokens by global frequency
       (rarest first), two matching strings MUST collide within their
       first t*q + 1 tokens. The inverted index holds only those
       t*q + 1 rarest tokens per string -> candidate join fan-out is
       governed by rare-token bucket sizes, not vocabulary skew.
       Applies when max(len) >= t*q + 2 (else the overlap bound is
       vacuous).
    3. short-string fallback: when BOTH strings are shorter than
       t*q + 2 chars the overlap bound is vacuous (t edits can destroy
       every bigram), so short strings are additionally brute-joined
       among themselves — a closed tiny set. Mixed short/long pairs
       are covered by the prefix filter (the bound depends on
       max(len) only), so every string is indexed.

    Exact levenshtein verifies candidates. At 100 TB stage 2 is the
    workhorse: one groupBy for global frequencies, one window for
    per-string rarity ranks, one equi-join on (bigram, occurrence).
    """
    q = 2
    prefix_len = max_dist * q + 1
    min_long = max_dist * q + 2  # strings where the overlap bound bites

    base = df.select(
        F.col(key_col).alias("key"),
        F.col(text_col).alias("txt"),
        F.length(text_col).alias("len"),
    )
    grams = base.select(
        "key",
        "len",
        # guard: sequence(1, 0) runs DESCENDING in Spark, so a
        # 1-char string must yield an empty gram array, not junk
        F.posexplode(
            F.expr(
                f"CASE WHEN length(txt) >= {q} THEN"
                f" transform(sequence(1, length(txt) - 1),"
                f" i -> substring(txt, i, {q}))"
                f" ELSE array() END"
            )
        ).alias("pos", "gram"),
    )
    from pyspark.sql import Window

    w_occ = Window.partitionBy("key", "gram").orderBy("pos")
    occ = grams.withColumn("occ", F.row_number().over(w_occ))
    freq = occ.groupBy("gram", "occ").agg(F.count("*").alias("df"))
    w_rare = Window.partitionBy("key").orderBy("df", "gram", "occ")
    sig = (
        occ.join(freq, ["gram", "occ"])
        .withColumn("rk", F.row_number().over(w_rare))
        .filter(F.col("rk") <= prefix_len)
        .select("key", "gram", "occ")
    )
    cand_long = (
        sig.select(F.col("key").alias("key_a"), "gram", "occ")
        .join(sig.select(F.col("key").alias("key_b"), "gram", "occ"), ["gram", "occ"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
    )
    shorts = base.filter(F.col("len") < min_long)
    cand_short = (
        shorts.select(F.col("key").alias("key_a"))
        .join(shorts.select(F.col("key").alias("key_b")), F.col("key_a") < F.col("key_b"))
    )
    cands = cand_long.unionByName(cand_short).distinct()
    a = base.select(F.col("key").alias("key_a"), F.col("txt").alias("ta"), F.col("len").alias("la"))
    b = base.select(F.col("key").alias("key_b"), F.col("txt").alias("tb"), F.col("len").alias("lb"))
    return (
        cands.join(a, "key_a")
        .join(b, "key_b")
        .filter(F.abs(F.col("la") - F.col("lb")) <= max_dist)
        .withColumn("edit_dist", F.levenshtein("ta", "tb").cast("int"))
        .filter(F.col("edit_dist") <= max_dist)
        .select("key_a", "key_b", "edit_dist")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Transitive closure of a near-dup pair graph: (id, component_id)
    where component_id is the smallest id reachable from ``id``.

    The pair operators (minhash_lsh_pairs, simhash_pairs, ...) emit
    direct edges only; real dup groups are chains (A~B, B~C but not
    A~C above threshold). ``keep_list`` handles the keep/drop decision
    without closure; this operator materializes the groups themselves
    — the standard step between candidate pairs and per-group dedup
    stats in a training-data pipeline.

    Algorithm: iterative min-label propagation. Each round every
    vertex takes the min label among itself and its neighbors — one
    join + one aggregation (two shuffles) per round, converging in
    O(graph diameter) rounds. Near-dup components are overwhelmingly
    tiny cliques/short chains, so the diameter is small at any corpus
    size; the edge set (pairs, not corpus) is the only data touched.
    Convergence is detected by the strictly-decreasing label sum
    (decimal(38,0) — immune to int64 overflow at any corpus size);
    ``localCheckpoint`` truncates lineage each round so the plan does
    not grow with iterations. Raises after ``max_iter`` rounds rather
    than returning a partial closure.
    """
    # both orientations in ONE pass over pairs: a union of two selects
    # would evaluate the (expensive) upstream pair pipeline twice
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).cast("long").alias("src"),
                        F.col(id_b).cast("long").alias("dst"),
                    ),
                    F.struct(
                        F.col(id_b).cast("long").alias("src"),
                        F.col(id_a).cast("long").alias("dst"),
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .persist()
    )
    # EAGER per-iteration checkpoints, kept deliberately (r12
    # optimization round, measured): folding the materialization into
    # the checksum action (localCheckpoint(eager=False)) halves the
    # nominal job count but ran ~20% SLOWER in matched back-to-back
    # runs — the eager checkpoint executes with the final
    # AQE-optimized plan and the checksum then reads the cache, while
    # the lazy RDD-lineage materialization loses that re-optimization.
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn("lbl", F.col("id"))
    labels = labels.localCheckpoint(eager=True)
    checksum = labels.agg(F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s")).first()["s"]
    for _ in range(max_iter):
        msgs = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), "lbl")
        )
        labels = (
            labels.union(msgs).groupBy("id").agg(F.min("lbl").alias("lbl"))
        ).localCheckpoint(eager=True)
        new_sum = labels.agg(F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s")).first()["s"]
        if new_sum == checksum:
            edges.unpersist()
            return labels.select(F.col("id"), F.col("lbl").alias("component_id"))
        checksum = new_sum
    edges.unpersist()
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def incremental_components(
    history_labels: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 50,
    output_mode: str = "full",
) -> DataFrame:
    """Update an existing dup-group labeling with a NEW batch's edges
    WITHOUT re-closing history — the components analogue of
    :func:`minhash_lsh_probe` (and the third member of the
    incremental family next to ``ann_incremental_ivf_append``).

    ``history_labels`` is a complete closure ``(id, component_id)``
    of the historical pair graph (component_id = min reachable id —
    exactly :func:`connected_components`' output). ``new_pairs`` are
    the batch's edges: new-vs-history probe hits plus new-vs-new
    pairs. Each existing component is CONTRACTED to its label
    (supernode) — connectivity through a closed component needs no
    interior edges — so the min-label iteration runs only on the
    contracted graph, whose size is proportional to the batch's edge
    set, never |history|. At 100 TB the history labeling is a stored
    table and each micro-batch closes a graph of its own collisions.

    ``output_mode="full"`` outputs ``(id, component_id)`` for every
    historically labeled id plus every id appearing in ``new_pairs``
    — bit-identical to re-running :func:`connected_components` on
    the union of all edges (contraction preserves both connectivity
    and the min-id label, since history labels ARE min member ids).
    Proven against the full recompute by the driver oracle and the
    pytest equivalence test.

    ``output_mode="delta"`` outputs ONLY the rows a maintained
    labels table must upsert: history ids whose component label
    CHANGED plus ids not historically labeled — exactly
    ``full_recompute EXCEPT history_labels``. This is the honest
    incremental contract at 100 TB: the full mode re-emits the
    entire O(|history|) labeling every micro-batch (read+write
    amplification proportional to the corpus), while the delta is
    proportional to the batch's touched components and applies as a
    MERGE INTO the stored table. The label remap (one row per
    touched closed component — bounded by the batch's edge count,
    never |history|) is broadcast in both modes, so the history-side
    relabel join is shuffle-free. The delta's own driver oracle
    hashes it against the set-difference of two from-scratch
    closures, proving minimality (no unchanged row is re-emitted)
    as well as correctness.
    """
    if output_mode not in ("full", "delta"):
        raise ValueError(f"output_mode must be 'full' or 'delta', got {output_mode!r}")
    ep = new_pairs.select(
        F.col(id_a).cast("long").alias("a"),
        F.col(id_b).cast("long").alias("b"),
    )
    hl = history_labels.select(
        F.col("id").cast("long").alias("id"),
        F.col("component_id").cast("long").alias("lbl"),
    ).persist()
    mapped = (
        ep.join(
            hl.select(F.col("id").alias("a"), F.col("lbl").alias("la")),
            "a", "left",
        )
        .join(
            hl.select(F.col("id").alias("b"), F.col("lbl").alias("lb")),
            "b", "left",
        )
        .select(
            F.coalesce("la", F.col("a")).alias("doc_a"),
            F.coalesce("lb", F.col("b")).alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    remap = connected_components(mapped, "doc_a", "doc_b", max_iter).select(
        F.col("id").alias("old_lbl"), F.col("component_id").alias("new_lbl")
    )
    if output_mode == "delta":
        # only the touched history rows: components whose label moved
        hist_out = (
            hl.join(
                F.broadcast(remap.filter(F.col("new_lbl") != F.col("old_lbl"))),
                hl["lbl"] == remap["old_lbl"],
            )
            .select("id", F.col("new_lbl").alias("component_id"))
        )
    else:
        hist_out = (
            hl.join(F.broadcast(remap), hl["lbl"] == remap["old_lbl"], "left")
            .select("id", F.coalesce("new_lbl", "lbl").alias("component_id"))
        )
    new_ids = (
        ep.select(F.col("a").alias("id"))
        .union(ep.select(F.col("b").alias("id")))
        .distinct()
        .join(hl.select("id"), "id", "left_anti")
    )
    new_out = (
        new_ids.join(F.broadcast(remap), new_ids["id"] == remap["old_lbl"], "left")
        .select("id", F.coalesce("new_lbl", F.col("id")).alias("component_id"))
    )
    # hl stays persisted: the returned frames consume it again at the
    # caller's action, and re-deriving it would re-run the (possibly
    # expensive) history closure it represents
    return hist_out.unionByName(new_out)


def decontaminate_ngram_overlap(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    any word ``n``-gram with an evaluation/benchmark set.

    Standard guard in LLM training-data pipelines (the reference has
    no counterpart): before training, any document containing a
    long-enough verbatim n-gram from a held-out benchmark is removed
    or down-weighted so eval scores measure generalization, not
    memorized test data.

    Returns one row per CONTAMINATED training doc:
    ``(doc_id, n_shared, n_shingles, frac_shared)`` where n_shared =
    distinct shared n-grams, n_shingles = the doc's distinct n-gram
    count, frac_shared = n_shared / n_shingles rounded to 4dp.

    Scale: the benchmark side is tiny relative to a 100 TB corpus
    (thousands of eval docs vs billions of training docs), so its
    distinct-shingle set is BROADCAST: the contamination probe is a
    map-side hash semi-join over the training shingles — no shuffle
    of the big side by shingle. The only wide exchanges are the two
    per-doc count aggregations on doc_id. Per-doc shingle dedup is
    row-local array_distinct inside _doc_shingles.
    """
    train_sh = _doc_shingles(train, text_col, id_col, n)
    bench_sh = (
        _doc_shingles(benchmark, text_col, id_col, n)
        .select("shingle")
        .distinct()
    )
    sizes = train_sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        train_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return hits.join(sizes, "doc_id").select(
        "doc_id",
        "n_shared",
        "n_shingles",
        F.round(
            F.col("n_shared").cast("double") / F.col("n_shingles").cast("double"), 4
        ).alias("frac_shared"),
    )


def decontaminate_semantic(
    train: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic (embedding-level) benchmark decontamination: flag
    training vectors whose cosine to ANY benchmark vector reaches
    ``threshold`` — the companion to the verbatim 8-gram probe
    (:func:`decontaminate_ngram_overlap`) for paraphrased or
    re-worded eval leakage that shares no literal n-gram.

    Returns one row per TRAINING vector: ``(vec_id,
    n_bench_matches, max_cos, contaminated)`` — 0/NULL/0 for clean
    vectors, so the output is a total annotation (join-free to
    consume as a filter).

    Scale: the benchmark side is tiny relative to the corpus
    (thousands of eval items vs billions of training vectors), so
    its probe set — own bucket plus every Hamming-1 neighbor —
    explodes and BROADCASTS; the training side is bucketed in one
    map-only pass and hash-joined on the bucket key. The corpus
    never shuffles by bucket and no all-pairs join exists; exact
    cosine verifies candidates only. Buckets are the closed-form
    deterministic hyperplanes (similarity._plane_sign), so the
    DuckDB oracle reproduces the candidate set exactly.
    """
    from ..functions.vector import cosine_from_norms, norm_expr
    from .similarity import hyperplane_buckets

    tb = hyperplane_buckets(
        _fan_out(train), vec_col, id_col, n_planes, dim
    ).withColumn("nrm", norm_expr("embedding", dim))
    qb = hyperplane_buckets(
        benchmark, vec_col, id_col, n_planes, dim
    ).withColumn("qn", norm_expr("embedding", dim))
    masks = [0] + [1 << j for j in range(n_planes)]
    probes = qb.select(
        F.col("vec_id").alias("bench_id"),
        F.col("embedding").alias("qv"),
        F.col("qn"),
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("bucket"),
    )
    cand = (
        tb.join(F.broadcast(probes), "bucket")
        .withColumn(
            "cos_sim",
            F.round(
                cosine_from_norms(
                    "qv", "embedding", F.col("qn"), F.col("nrm"), dim
                ),
                4,
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    hits = cand.groupBy("vec_id").agg(
        F.countDistinct("bench_id").alias("n_bench_matches"),
        F.max("cos_sim").alias("max_cos"),
    )
    return (
        train.select(F.col(id_col).alias("vec_id"))
        .join(hits, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(
                F.col("n_bench_matches"), F.lit(0).cast("long")
            ).alias("n_bench_matches"),
            "max_cos",
            F.when(F.col("n_bench_matches").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("contaminated"),
        )
    )


def boilerplate_ngram_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_df: int = 3,
) -> DataFrame:
    """Corpus-wide boilerplate accounting: for each document, what
    fraction of its distinct word ``n``-grams appear in at least
    ``min_df`` documents (navigation chrome, license footers, share
    buttons — the C4-style cleanup signal: docs dominated by
    high-document-frequency n-grams are templates, not content).

    Returns ``(doc_id, n_shingles, n_boiler, boiler_frac)`` for every
    doc with at least one shingle.

    Scale: one shuffle computes document frequency per shingle; the
    per-doc membership probe joins the (shingle -> is_common) relation
    back on the SAME shingle key — with AQE the exchange is reused,
    and the df table only carries shingles at min_df or above. Final
    per-doc counts are one aggregation; nothing touches doc x doc.
    """
    sh = _doc_shingles(df, text_col, id_col, n)
    common = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= min_df)
        .select("shingle")
    )
    flagged = sh.join(common.withColumn("_boiler", F.lit(1)), "shingle", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("_boiler").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_boiler",
            F.round(
                F.col("n_boiler").cast("double") / F.col("n_shingles").cast("double"),
                4,
            ).alias("boiler_frac"),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric shingle-containment pairs: |inner ∩ outer| / |inner|
    >= threshold, inner = the smaller shingle set (ties: smaller id).
    Catches documents EMBEDDED in larger ones — a 50-word doc quoted
    inside a 5000-word page has Jaccard ~0.01 (invisible to the
    symmetric dedup family) but containment 1.0. Standard curation
    step for quote/boilerplate-wrapper removal.

    Same inverted-index candidate shape as ngram_jaccard_pairs (join
    on shingle, never doc x doc); the only new math is dividing the
    intersection by the smaller set size instead of the union.
    """
    sh = _doc_shingles(df, text_col, id_col, n)
    if max_df is not None:
        keep = (
            sh.groupBy("shingle").count()
            .filter(F.col("count") <= max_df).select("shingle")
        )
        sh = sh.join(keep, "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    joined = inter.join(sa, "doc_a").join(sb, "doc_b")
    a_is_inner = F.col("size_a") <= F.col("size_b")
    containment = F.round(
        F.col("inter") / F.least("size_a", "size_b"), 4
    )
    return (
        joined.withColumn("containment", containment)
        .filter(F.col("containment") >= threshold)
        .select(
            F.when(a_is_inner, F.col("doc_a")).otherwise(F.col("doc_b")).alias("inner_doc"),
            F.when(a_is_inner, F.col("doc_b")).otherwise(F.col("doc_a")).alias("outer_doc"),
            "containment",
        )
    )


def _band_keys(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, key) rows from a minhash_signatures frame —
    the LSH banding shared by the self-join (minhash_lsh_pairs) and
    the incremental probe (minhash_lsh_probe)."""
    r = MINHASH_K // MINHASH_BANDS
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_", *[F.col(f"mh{b * r + i}") for i in range(r)]
                        ).alias("key"),
                    )
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def minhash_lsh_probe(
    new_df: DataFrame,
    hist_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    token_ids: str = "md5",
    new_sigs: DataFrame | None = None,
    hist_sigs: DataFrame | None = None,
) -> DataFrame:
    """Incremental dedup: probe a NEW batch against the HISTORICAL
    corpus without re-deduping history against itself — the shape a
    running ingestion pipeline needs (history's band index is
    precomputable and append-only; each arriving batch only signs
    itself and equi-joins the index).

    Cost scales with |new| + collisions, never |hist|²: the band join
    is new-bands x hist-bands on the band key, and exact-Jaccard
    verification runs on colliding pairs only. Returns verified
    (new_doc, hist_doc, jaccard) rows at ``threshold``.

    ``new_sigs``/``hist_sigs`` inject pre-persisted
    :func:`minhash_signatures` frames (see minhash_lsh_pairs) so a
    caller that also self-pairs either side signs it exactly once.
    """
    sig_new = (
        new_sigs
        if new_sigs is not None
        else minhash_signatures(new_df, text_col, id_col, n, token_ids).persist()
    )
    sig_hist = (
        hist_sigs
        if hist_sigs is not None
        else minhash_signatures(hist_df, text_col, id_col, n, token_ids).persist()
    )
    bn = _band_keys(sig_new).select(
        F.col("doc_id").alias("new_doc"), "band", "key"
    )
    bh = _band_keys(sig_hist).select(
        F.col("doc_id").alias("hist_doc"), "band", "key"
    )
    cands = (
        bn.join(bh, ["band", "key"])
        .select("new_doc", "hist_doc")
        .dropDuplicates(["new_doc", "hist_doc"])
    )
    cands = cands.join(
        sig_new.select(F.col("doc_id").alias("new_doc"), F.col("sids").alias("sids_n")),
        "new_doc",
    ).join(
        sig_hist.select(F.col("doc_id").alias("hist_doc"), F.col("sids").alias("sids_h")),
        "hist_doc",
    )
    inter = F.size(F.array_intersect("sids_n", "sids_h"))
    union = F.size("sids_n") + F.size("sids_h") - inter
    return (
        cands.withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("new_doc", "hist_doc", "jaccard")
    )


def _auto_centroids(df: DataFrame, target_cluster: int = 64,
                    lo: int = 16, hi: int = 65536,
                    n_rows: int | None = None) -> int:
    """Size the IVF cluster count to BALANCE the two cost terms that
    bracket every cluster-scoped algorithm:

    - assignment: n * k vector comparisons (the broadcast-centroid
      argmax pass — every vector scores every centroid);
    - intra-cluster pairing: ~n * (n/k) / 2 comparisons (cluster
      size n/k, quadratic within the cluster).

    A FIXED k sends the pair term quadratic (the round-5 10x
    step-up measured 25x for pinned k=16); the earlier
    cluster-size-64 rule (k = n/64) fixed that but sent the
    ASSIGNMENT term quadratic instead — invisible at 10x (n*k =
    6.8e8 at 208k vectors) but 6.7e10 comparisons at the 100x
    decade (the r11 chained step-up's find). k = sqrt(n/2) equates
    the terms at ~n^1.5 apiece — the same balance FAISS's k ~ sqrt(n)
    training guideline encodes. ``target_cluster`` caps k from above
    (k never exceeds n/target_cluster, keeping tiny corpora at the
    lo clamp and mid-size cluster occupancy sane). Same
    planning-side count (parquet footer metadata / one count job) as
    ``_auto_planes``; callers that already counted pass ``n_rows``
    to avoid a second job."""
    import math

    n = df.count() if n_rows is None else n_rows
    balanced = math.ceil(math.sqrt(n / 2))
    return max(lo, min(hi, balanced, math.ceil(n / target_cluster)))


def semantic_dedup(
    df: DataFrame,
    eps: float = 0.4,
    n_centroids: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with the deterministic IVF
    quantizer, then WITHIN each cluster drop one member of every pair
    whose cosine exceeds ``eps`` — keeping the member LESS similar to
    its cluster centroid (the paper's keep-the-edge-example rule; ties
    drop the higher id). Returns every vector with
    ``(vec_id, centroid_id, cent_sim, is_kept)``.

    Scale shape: candidate generation is the cluster itself — a
    broadcast-centroid assignment (codegen'd scalar argmax + one
    keyed embedding rejoin — similarity.ivf_assign) then one equi-join
    on centroid_id, never an all-pairs plan. Intra-cluster pairing is
    quadratic in the CLUSTER size, which is the knob SemDeDup scales
    by: at 100 TB you raise n_centroids so n/k stays bounded (the
    paper runs 50k clusters), and the per-cluster work parallelizes
    across the cluster key. ``n_centroids=None`` (the default) does
    that automatically — ``_auto_centroids`` sizes k ~ sqrt(n/2) so
    the centroid-assignment pass (n*k) and the intra-cluster pair
    join (n^2/k) stay BALANCED at ~n^1.5 each as the corpus grows
    (cluster size then grows as sqrt(2n), which is what keeps the
    assignment from going quadratic); callers needing a reproducible clustering
    across differently sized corpora (the driver oracle does) pin an
    explicit k. Centroid seeding/refinement is the oracle-proven
    ivf_centroids pipeline (rank-spaced seeds, one distributive Lloyd
    step, round-6 quantized means).
    """
    from .similarity import _cos_join, _norm_col, ivf_assign, ivf_centroids

    # one planning-side count sizes both the auto cluster count and
    # ivf_assign's small-input gate (skips the rejoin exchange when
    # the n*k scored set is tiny)
    n_rows = df.count()
    if n_centroids is None:
        n_centroids = _auto_centroids(df, n_rows=n_rows)
    nk_hint = n_rows * n_centroids

    cents = ivf_centroids(
        df, n_centroids, vec_col=vec_col, id_col=id_col, dim=dim,
        nk_hint=nk_hint,
    )
    assigned = ivf_assign(
        df, cents, vec_col=vec_col, id_col=id_col, dim=dim, nk_hint=nk_hint
    )
    cn = _norm_col(cents, "cv", "_cnrm", dim)
    # PERSISTED: three consumers read this frame (both sides of the
    # intra-cluster pair join below plus the final keep/drop join),
    # and its lineage embeds the full Lloyd training + assignment —
    # without the persist the plan re-executed that subtree three
    # times per action (measured 96 Exchange nodes in the final plan
    # at sf0.1, 12.4 s; persisting collapses the re-execution the way
    # ann_recall_at_k's shared persisted IVF upstream does). Round-6
    # quantized training makes every re-read bit-identical, so this
    # cannot move a value.
    scored = (
        assigned.join(F.broadcast(cn), "centroid_id")
        .withColumn(
            "cent_sim",
            F.round(_cos_join("embedding", "cv", "nrm", "_cnrm", dim), 6),
        )
        .select("vec_id", "embedding", "centroid_id", "nrm", "cent_sim")
        .persist()
    )
    a = scored.select(
        "centroid_id",
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
        F.col("cent_sim").alias("ca"),
    )
    b = scored.select(
        "centroid_id",
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
        F.col("cent_sim").alias("cb"),
    )
    pairs = (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(_cos_join("ea", "eb", "na", "nb", dim), 4))
        .filter(F.col("cos_sim") >= eps)
    )
    dropped = pairs.select(
        F.when(F.col("ca") > F.col("cb"), F.col("id_a"))
        .otherwise(F.col("id_b"))  # tie -> id_b (the higher id) goes
        .alias("vec_id")
    ).distinct()
    return (
        scored.join(
            dropped.withColumn("_dropped", F.lit(1)), "vec_id", "left"
        )
        .select(
            "vec_id",
            "centroid_id",
            "cent_sim",
            F.when(F.col("_dropped").isNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_kept"),
        )
    )


def keep_best_quality(
    df: DataFrame,
    pairs: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality_score",
) -> DataFrame:
    """Canonical selection per duplicate cluster: where ``keep_list``
    keeps the SMALLEST id of each near-dup group (cheap, no
    closure), this keeps the HIGHEST-QUALITY member — what
    production pipelines actually do once a quality signal exists
    (dropping a clean original in favor of a boilerplate-padded
    copy because it had a smaller id is a real data-quality bug).

    Composition: :func:`connected_components` labels every doc in
    the pair graph with its group; singletons form their own
    1-member component; one window per component (argmax by score
    desc, id asc — the score is the round(.,4) quality both engines
    compute identically, so the argmax never tie-breaks on noise)
    flags the kept canonical. Returns
    ``(doc_id, component_id, <score>, keep)`` for every doc.

    Scale: the component labeling is the bounded-round min-label
    propagation; the argmax window partitions by component_id —
    never a global window; the scores join is a corpus-sized
    equi-join on id."""
    from pyspark.sql import Window

    comp = connected_components(pairs)
    labeled = (
        df.select(F.col(id_col).alias("doc_id"))
        .join(
            comp.select(F.col("id").alias("doc_id"), "component_id"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce(F.col("component_id"), F.col("doc_id")).alias(
                "component_id"
            ),
        )
    )
    scored = labeled.join(
        scores.select(F.col(id_col).alias("doc_id"), score_col), "doc_id"
    )
    win = Window.partitionBy("component_id").orderBy(
        F.desc(score_col), F.asc("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .select(
            "doc_id",
            "component_id",
            score_col,
            (F.col("rn") == 1).cast("int").alias("keep"),
        )
    )


def pagerank_pairs(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    n_iter: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over an undirected near-dup pair graph — link-analysis
    authority for curation decisions (a doc duplicated by many
    independent sources carries more evidential weight than a leaf of
    one mirror chain; Common Crawl-scale pipelines rank canonical
    picks by exactly this kind of graph centrality).

    Determinism across engines: neighbor contributions are
    NANO-QUANTIZED integers before each per-node sum (float summation
    order never matters), so every iteration's scores are exact
    integers and the oracle replays the unrolled rounds bit-for-bit.

    At 100 TB: edges come from the banded pair operators (never
    all-pairs); each of the ``n_iter`` bounded rounds is one keyed
    aggregate over the edge list plus a node-keyed join — the
    bounded-round discipline of connected_components, with
    per-iteration localCheckpoints cutting the lineage the same way.
    """
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    )
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint()
    nodes = edges.select(F.col("src").alias("node")).distinct()
    # Eager count, DELIBERATELY not folded into the plan as a
    # broadcast scalar (contrast the IVF seeding path, which does
    # fold): the teleport terms below must be exact Python-int floor
    # quotients (10^9 // n, (100-d)*10^9 // 100 // n) embedded as
    # LITERALS so every engine replays the identical BIGINT score
    # stream — an in-plan DOUBLE division would reintroduce the
    # float-order nondeterminism the nano-quantization exists to
    # kill, and the n==0 early return needs a driver int anyway.
    # Cost: one O(nodes) scalar job over an already-localCheckpointed
    # bounded node set, once per call — not per iteration.
    n_nodes = nodes.count()  # scalar for the teleport term (driver int)
    if n_nodes == 0:
        return local_frame(
            pairs.sparkSession, [], "node long, pr_nano long, degree long"
        )
    deg = edges.groupBy("src").agg(F.count("*").alias("degree"))
    # all-integer scalars and damping (damping expressed in percent)
    # so every engine computes the identical BIGINT score stream
    d_pct = int(round(damping * 100))
    base_nano = 10**9 // n_nodes
    teleport_nano = (100 - d_pct) * 10**9 // 100 // n_nodes
    # eager per-round checkpoints, kept deliberately (r12
    # optimization round): the non-eager variant measured slower in
    # matched runs — see connected_components' note.
    pr = nodes.select(
        "node", F.lit(base_nano).cast("long").alias("pr_nano")
    ).localCheckpoint()
    for _ in range(int(n_iter)):
        contrib = (
            edges.join(pr, edges["src"] == pr["node"])
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                # explicit floor: Spark's long cast truncates but
                # DuckDB's BIGINT cast rounds — floor() agrees, and
                # an integer-valued IEEE quotient is exact
                F.floor(F.col("pr_nano") / F.col("degree"))
                .cast("long")
                .alias("c_nano"),
            )
        )
        summed = contrib.groupBy("node").agg(
            F.sum("c_nano").cast("long").alias("s_nano")
        )
        pr = (
            nodes.join(summed, "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport_nano)
                    + F.floor(
                        F.coalesce(F.col("s_nano"), F.lit(0))
                        * F.lit(d_pct)
                        / F.lit(100)
                    ).cast("long")
                ).alias("pr_nano"),
            )
            .localCheckpoint()
        )
    return pr.join(deg.select(F.col("src").alias("node"), "degree"), "node")


def _positioned_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    max_df: int | None,
) -> DataFrame:
    """Positioned k-token shingle table ``(doc_id, pos, gid)`` shared
    by the cross-document and within-document ExactSubstr detectors:
    one JVM-side pass over the tokenized array, then the corpus-wide
    ``max_df`` heavy-hitter cap (boilerplate shingles never reach a
    self-join). Shingle ids are the portable 60-bit md5 ints
    (``token_id``) so DuckDB oracles replay them bit-for-bit."""
    sk = int(k)
    toks = df.select(
        F.col(id_col).alias("doc_id"), words(text_col).alias("w")
    ).repartition(df.sparkSession.sparkContext.defaultParallelism)
    grams = F.when(
        F.size("w") >= sk,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - (sk - 1)),
            lambda i: F.struct(
                i.alias("pos"),
                token_id(F.concat_ws(" ", F.slice(F.col("w"), i, sk)))
                .alias("gid"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,gid:long>>"))
    sh = toks.select("doc_id", F.explode(grams).alias("s")).select(
        "doc_id", F.col("s.pos").alias("pos"), F.col("s.gid").alias("gid")
    )
    if max_df is not None:
        keep = (
            sh.groupBy("gid")
            .count()
            .filter(F.col("count") <= int(max_df))
            .select("gid")
        )
        sh = sh.join(keep, "gid")
    return sh


def _merged_intervals(spans: DataFrame) -> DataFrame:
    """Union of ``(doc_id, s, e)`` cut spans (1-based inclusive) into
    maximal merged intervals ``(doc_id, ms, me)`` — overlapping OR
    adjacent spans coalesce. Classic prev-max gaps-and-islands over
    doc-partitioned windows; input rows are match SPANS, never token
    streams. DISTINCT first so tied (s, e) keys cannot order
    differently between the two window passes (see
    :func:`_interval_removal_report`'s docstring)."""
    from pyspark.sql import Window

    spans = spans.select("doc_id", "s", "e").distinct()
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        spans.withColumn("prev_max_e", F.max("e").over(w_prev))
        .withColumn(
            "new_iv",
            (
                F.col("prev_max_e").isNull()
                | (F.col("s") > F.col("prev_max_e") + 1)
            ).cast("int"),
        )
        .withColumn(
            "iv",
            F.sum("new_iv").over(
                Window.partitionBy("doc_id")
                .orderBy("s", "e")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "iv")
        .agg(
            F.min("s").cast("long").alias("ms"),
            F.max("e").cast("long").alias("me"),
        )
    )


def _interval_removal_report(
    spans: DataFrame, sizes: DataFrame
) -> DataFrame:
    """Interval-union removal accounting shared by the cross-document
    and within-document ExactSubstr APPLY steps: merge overlapping or
    adjacent ``(doc_id, s, e)`` cut spans (1-based inclusive token
    positions) per document, then report per affected doc the token
    count before, the merged span count, tokens removed, and tokens
    kept. ``sizes`` supplies ``(doc_id, n_tokens)``.

    DISTINCT on the spans is load-bearing, not an optimization: two
    different sources can contribute the IDENTICAL (s, e) span, and
    with tied keys the two window passes (prev-max, then running
    island sum) may order the peers DIFFERENTLY — splitting one
    merged interval into two and double-counting the cut. After
    DISTINCT the (s, e) order is total per doc, so both windows see
    the same sequence in every engine. Both windows partition by
    doc_id — rows here are match SPANS, never token streams."""
    merged = _merged_intervals(spans)
    removed = merged.groupBy("doc_id").agg(
        F.sum(F.col("me") - F.col("ms") + 1).cast("long").alias("n_removed"),
        F.count("*").cast("long").alias("n_spans"),
    )
    return removed.join(sizes, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_spans",
        "n_removed",
        (F.col("n_tokens") - F.col("n_removed")).alias("n_kept"),
    )


def _exact_substring_runs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_match_tokens: int = 15,
    max_df: int | None = 32,
) -> DataFrame:
    """ExactSubstr cross-document verbatim-overlap detection — the
    suffix-array dedup of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better", the deduplicate-text-datasets
    method), re-expressed relationally. Shared core of
    :func:`exact_substring_pairs` (the pair report) and
    :func:`exact_substring_dedup` (the removal application).

    Key identity: a shared verbatim run of L >= k tokens between two
    documents contains exactly L-k+1 ALIGNED k-token shingles —
    consecutive in both documents with a CONSTANT position offset.
    So instead of a corpus-wide suffix array (a single global sorted
    structure no distributed job should build), the operator:

    1. emits positioned k-shingles per document (one pass over the
       tokenized array, JVM-side);
    2. drops shingles occurring more than ``max_df`` times corpus-wide
       (boilerplate heavy-hitters — the same fan-out cap discipline as
       ``paragraph_dedup``; a run through a dropped shingle splits
       into two reported runs, which is the documented approximation);
    3. equi-joins shingle ids to get aligned seed positions — the
       candidate generator is BANDED by shingle equality, never
       all-pairs, with per-shingle fan-out bounded by max_df^2;
    4. groups seeds by (doc_a, doc_b, pos_a - pos_b) — the DIAGONAL
       of the implicit alignment matrix — and extends maximal runs of
       consecutive seeds with one gaps-and-islands window (a run of m
       consecutive seeds = a shared substring of m+k-1 tokens). The
       window partitions by (pair, diagonal): bounded by document
       length, never corpus-wide.

    Returns one row per MAXIMAL run of >= min_match_tokens tokens:
    ``doc_a, doc_b, diag, isl, match_tokens, start_a, start_b``
    (starts are 1-based token positions). This catches exactly the
    overlap class CDC chunk fingerprints miss: a shared span shorter
    than the expected chunk length almost never yields a shared
    chunk (boundaries inside the span sit at different content
    offsets), while every shared span of >= k tokens yields aligned
    k-shingles by construction —
    ``tests/test_llm_operators.py::test_exact_substr_finds_what_cdc_misses``
    proves the separation on a planted fixture.

    Shingle ids are the portable 60-bit md5 ints (``token_id``), so
    the DuckDB oracle replays the whole construction bit-for-bit.
    A hash collision can only add an isolated spurious SEED; a
    reported match needs min_match_tokens-k+1 CONSECUTIVE seeds on
    one diagonal, so collisions never fabricate a pair (and the
    oracle computes identical ids anyway).
    """
    from pyspark.sql import Window

    sk = int(k)
    sh = _positioned_shingles(df, text_col, id_col, sk, max_df)
    a, b = sh.alias("a"), sh.alias("b")
    # pos_b is NOT carried through the diagonal shuffle (r13, guide
    # §2.3): within a (doc_a, doc_b, diag) group every seed satisfies
    # pos_b = pos_a - diag exactly (integers), so start_b re-derives
    # from the aggregated min(pos_a) after the window — one of the
    # five shuffled columns deleted from the corpus-sized seed set.
    seeds = a.join(
        b,
        (F.col("a.gid") == F.col("b.gid"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.pos").alias("pos_a"),
        (F.col("a.pos") - F.col("b.pos")).alias("diag"),
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    isl = seeds.withColumn(
        "isl", F.col("pos_a") - F.row_number().over(w)
    )
    runs = isl.groupBy("doc_a", "doc_b", "diag", "isl").agg(
        (F.count("*") + F.lit(sk - 1)).cast("long").alias("match_tokens"),
        F.min("pos_a").cast("long").alias("start_a"),
    ).withColumn(
        "start_b", (F.col("start_a") - F.col("diag")).cast("long")
    )
    return runs.filter(F.col("match_tokens") >= int(min_match_tokens))


def exact_substring_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_match_tokens: int = 15,
    max_df: int | None = 32,
) -> DataFrame:
    """Pair report over :func:`_exact_substring_runs` — see that
    docstring for the full construction. One row per unordered doc
    pair with a shared verbatim run of >= min_match_tokens tokens:
    longest run and run count."""
    runs = _exact_substring_runs(
        df, text_col, id_col, k, min_match_tokens, max_df
    )
    return runs.groupBy("doc_a", "doc_b").agg(
        F.max("match_tokens").alias("longest_match_tokens"),
        F.count("*").cast("long").alias("n_runs"),
    )


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_match_tokens: int = 15,
    max_df: int | None = 32,
    include_self: bool = False,
) -> DataFrame:
    """The APPLY step of ExactSubstr dedup (Lee et al. 2022 remove
    all but one copy of every duplicated span): for each maximal
    cross-document verbatim run, the copy in the LATER document
    (larger id — ingestion order, so the first-seen copy stays
    canonical) is marked for removal; overlapping marked spans merge
    (classic interval union — :func:`_interval_removal_report`), and
    the report gives per affected document the token count before,
    the tokens removed, and the tokens kept.

    ``include_self=True`` unifies the WITHIN-document repeats into
    the same accounting (Lee et al. dedup both): every maximal
    intra-doc repeated run (:func:`_exact_substring_self_runs`) cuts
    its LATER occurrence, and those spans join the cross-doc spans in
    one interval union — a token covered by both a self-repeat and a
    cross-doc copy is counted once.

    At 100 TB the added work over the pair detection is one
    doc-keyed window over the RUN spans (rows = number of matches,
    not tokens) plus two bounded hash-aggs — the interval-merge
    never touches the token stream.
    """
    spans = _exact_substring_cut_spans(
        df, text_col, id_col, k, min_match_tokens, max_df, include_self
    )
    sizes = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(words(text_col)).cast("long").alias("n_tokens"),
    )
    return _interval_removal_report(spans, sizes)


def _exact_substring_cut_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    min_match_tokens: int,
    max_df: int | None,
    include_self: bool,
) -> DataFrame:
    """Cut spans ``(doc_id, s, e)`` (1-based inclusive token
    positions) of every LATER copy: cross-document runs cut in the
    larger-id doc; with ``include_self`` the within-doc runs cut
    their later occurrence too. Shared by the removal REPORT
    (:func:`exact_substring_dedup`) and the text APPLY
    (:func:`exact_substring_apply`)."""
    runs = _exact_substring_runs(
        df, text_col, id_col, k, min_match_tokens, max_df
    )
    spans = runs.select(
        F.col("doc_b").alias("doc_id"),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("match_tokens") - 1).alias("e"),
    )
    if include_self:
        self_runs = _exact_substring_self_runs(
            df, text_col, id_col, k, min_match_tokens, max_df
        )
        spans = spans.unionByName(
            self_runs.select(
                "doc_id",
                F.col("start_b").alias("s"),
                (
                    F.col("start_b") + F.col("match_tokens") - 1
                ).alias("e"),
            )
        )
    return spans


def exact_substring_apply(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_match_tokens: int = 15,
    max_df: int | None = 32,
    include_self: bool = True,
) -> DataFrame:
    """PRODUCE the deduplicated corpus — the step after the removal
    report: cut every later-copy token span (cross-document, plus
    within-document with ``include_self``) out of the NORMALIZED
    token stream and reassemble each document's surviving text. The
    output is what a training pipeline actually feeds the tokenizer
    after ExactSubstr dedup (Lee et al. 2022 apply their suffix-array
    spans the same way); the report operators only say HOW MUCH this
    step would cut.

    Returns ``doc_id, n_kept, kept_text`` for every document with at
    least one surviving token (a fully-cut document disappears, like
    an empty one). ``kept_text`` is the space-joined surviving
    NORMALIZED tokens — the same token stream the match detection ran
    on, so cuts land exactly on the reported spans.

    100 TB plan: merged intervals come from doc-keyed windows over
    MATCH spans; the cut itself is one doc-keyed left-anti join of
    the positioned token stream against the merged intervals (equi on
    doc_id, the s<=pos<=e range as a join residual — per-token
    fan-out bounded by intervals-per-doc); reassembly is a per-doc
    aggregate (array_sort over the doc's own tokens, JVM-side). No
    corpus-wide window, no driver data."""
    spans = _exact_substring_cut_spans(
        df, text_col, id_col, k, min_match_tokens, max_df, include_self
    )
    merged = _merged_intervals(spans)
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(words(text_col)).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    kept = toks.join(
        merged,
        (toks["doc_id"] == merged["doc_id"])
        & (toks["pos"] >= merged["ms"])
        & (toks["pos"] <= merged["me"]),
        "left_anti",
    )
    return kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("kept_text"),
    )


def _exact_substring_self_runs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_match_tokens: int = 15,
    max_df: int | None = 32,
) -> DataFrame:
    """WITHIN-document ExactSubstr detection — the intra-doc half of
    Lee et al. 2022 (a suffix array finds repeats inside one document
    exactly as readily as across documents; ``text_repeated_spans``
    detects them but feeds no removal accounting). Same machinery as
    :func:`_exact_substring_runs`, restricted to one document: the
    positioned-shingle table self-joins on shingle id WITHIN the doc
    with ``pos_a < pos_b``; the diagonal is the repeat DISTANCE
    ``pos_b - pos_a``; gaps-and-islands per (doc, distance) extends
    maximal runs. For tandem/periodic repeats the later-occurrence
    spans overlap and the downstream interval union keeps exactly the
    FIRST occurrence (every repeated token's later copy is covered by
    some (first, later) seed pair, and position 1's copy never is).

    Returns one row per MAXIMAL intra-doc run of >= min_match_tokens
    tokens: ``doc_id, diag, isl, match_tokens, start_a, start_b``
    (1-based token positions; start_a < start_b are the two
    occurrence starts). The per-(doc, distance) window is bounded by
    document length, never corpus-wide; the max_df cap bounds the
    per-shingle self-join fan-out exactly as in the cross case."""
    from pyspark.sql import Window

    sk = int(k)
    sh = _positioned_shingles(df, text_col, id_col, sk, max_df)
    a, b = sh.alias("a"), sh.alias("b")
    # pos_b re-derives from the repeat distance after the window
    # (start_b = start_a + diag), exactly as in the cross-document
    # variant — one shuffled column fewer on the corpus-sized seeds
    seeds = a.join(
        b,
        (F.col("a.gid") == F.col("b.gid"))
        & (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.pos") < F.col("b.pos")),
    ).select(
        F.col("a.doc_id").alias("doc_id"),
        F.col("a.pos").alias("pos_a"),
        (F.col("b.pos") - F.col("a.pos")).alias("diag"),
    )
    w = Window.partitionBy("doc_id", "diag").orderBy("pos_a")
    isl = seeds.withColumn(
        "isl", F.col("pos_a") - F.row_number().over(w)
    )
    runs = isl.groupBy("doc_id", "diag", "isl").agg(
        (F.count("*") + F.lit(sk - 1)).cast("long").alias("match_tokens"),
        F.min("pos_a").cast("long").alias("start_a"),
    ).withColumn(
        "start_b", (F.col("start_a") + F.col("diag")).cast("long")
    )
    return runs.filter(F.col("match_tokens") >= int(min_match_tokens))


def exact_substring_self_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_match_tokens: int = 15,
    max_df: int | None = 32,
) -> DataFrame:
    """Within-document ExactSubstr removal accounting: every maximal
    intra-doc repeated run (:func:`_exact_substring_self_runs`) cuts
    its LATER occurrence; overlapping cuts merge through the same
    interval union as the cross-document APPLY step
    (:func:`_interval_removal_report`), keeping exactly the first
    occurrence of every repeated span. Per affected doc:
    ``doc_id, n_tokens, n_spans, n_removed, n_kept``."""
    runs = _exact_substring_self_runs(
        df, text_col, id_col, k, min_match_tokens, max_df
    )
    spans = runs.select(
        "doc_id",
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("match_tokens") - 1).alias("e"),
    )
    sizes = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(words(text_col)).cast("long").alias("n_tokens"),
    )
    return _interval_removal_report(spans, sizes)


def ngram_novelty_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY vs all earlier documents (by id —
    ingestion order in a crawl pipeline): a shingle is novel for the
    document with the SMALLEST id containing it. The streaming-order
    twin of boilerplate detection: novelty collapsing toward 0 over
    a source is the classic signal of template/mirror content, and
    per-doc novelty is the cheap proxy for "how much new text does
    this doc add" that dedup-aware mixture builders weight by.

    One distinct-shingle pass + one min-per-shingle hash-agg + one
    doc-keyed rollup; the shingle table is the same inverted index
    every dedup family here builds, so at 100 TB this piggybacks on
    an existing shuffle key. Docs shorter than n words have no
    shingles and no row (mirrored by the oracle)."""
    sh = _doc_shingles(df, text_col, id_col, n)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per = (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum((F.col("doc_id") == F.col("first_doc")).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return per.select(
        "doc_id", "n_grams", "n_novel",
        F.round(F.col("n_novel") / F.col("n_grams"), 4)
        .alias("novelty_ratio"),
    )


def component_size_histogram(pairs: DataFrame) -> DataFrame:
    """Duplicate-cluster SIZE distribution from a near-dup pair
    graph: close the pairs to connected components, then roll up
    per-size counts — the corpus-health observability panel next to
    ann_index_health (a fat tail of giant clusters means boilerplate
    is leaking through the candidate caps; mass at size 2 means
    mostly simple mirrors). Returns (cluster_size, n_clusters,
    n_dup_docs) with n_dup_docs = size * n_clusters; singleton docs
    never enter the pair graph and are deliberately absent. Costs
    two bounded hash-aggs beyond the components closure."""
    comp = connected_components(pairs)  # (id, component_id)
    sizes = comp.groupBy("component_id").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").cast("long").alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("long").alias("cluster_size"),
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_dup_docs"),
        )
    )


def triangle_counts(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Per-node triangle participation over an undirected pair graph:
    (doc_id, n_triangles) for every node that closes at least one
    triangle. Triangles are the density signal the cluster-size
    histogram can't see — a size-5 component that is a clique (10
    triangles per node is impossible; C(4,2)=6 each) is mutual
    boilerplate, while a size-5 chain (0 triangles) is a drift
    cascade where transitive dedup may over-delete.

    Algorithm (degree-ordered compact-forward — the standard
    distributed triangle enumeration, cf. Suri & Vassilvitskii
    WWW'11): orient every undirected edge from its lower endpoint to
    its higher endpoint under the total order (degree, id). Each
    triangle is then counted EXACTLY ONCE, as the wedge at its
    lowest-ordered vertex plus the closing edge. The orientation
    bounds every vertex's out-degree by O(sqrt(m)) regardless of
    skew: a hub of degree d ranks above most neighbors, so the
    wedge join fans out on the many low-degree vertices (each a few
    out-edges), never d^2 at the hub. Cost: one degree agg, one
    (src)-keyed wedge self-join, one (v, w)-keyed closing equi-join —
    all hash-partitioned, no driver state, no all-pairs step.
    """
    # canonical undirected edge set (dedup both orientations)
    e = pairs.select(
        F.least(F.col(id_a), F.col(id_b)).cast("long").alias("u"),
        F.greatest(F.col(id_a), F.col(id_b)).cast("long").alias("v"),
    ).filter(F.col("u") != F.col("v")).distinct()
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    # orient by (deg, id): src = lower endpoint in that order; carry
    # the dst's order key so the wedge join can order its two spokes
    # without re-joining degrees
    ed = (
        e.join(deg.select(F.col("id").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("deg").alias("dv")), "v")
        .select(
            F.when(
                F.struct(F.col("du"), F.col("u"))
                < F.struct(F.col("dv"), F.col("v")),
                F.struct(
                    F.col("u").alias("src"),
                    F.col("v").alias("dst"),
                    F.col("dv").alias("ddeg"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("v").alias("src"),
                    F.col("u").alias("dst"),
                    F.col("du").alias("ddeg"),
                )
            )
            .alias("o")
        )
        .select("o.src", "o.dst", "o.ddeg")
        .persist()
    )
    w1, w2 = ed.alias("w1"), ed.alias("w2")
    # wedges at the lowest-ordered vertex; spokes ordered so the
    # closing edge's orientation (lower spoke -> higher spoke) is known
    wedges = w1.join(
        w2,
        (F.col("w1.src") == F.col("w2.src"))
        & (
            F.struct(F.col("w1.ddeg"), F.col("w1.dst"))
            < F.struct(F.col("w2.ddeg"), F.col("w2.dst"))
        ),
    ).select(
        F.col("w1.src").alias("a"),
        F.col("w1.dst").alias("b"),
        F.col("w2.dst").alias("c"),
    )
    closing = ed.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closing, ["b", "c"])
    # persist stays live for the lazy result (same pattern as
    # minhash_lsh_pairs' sigs): ed feeds the wedge self-join twice
    # plus the closing join, and unpersisting before the action
    # would just force three recomputes of the orientation subplan
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )


def k_core_bounded(
    pairs: DataFrame,
    k: int = 3,
    rounds: int = 4,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Bounded-round k-core peel of a near-dup pair graph: nodes
    surviving ``rounds`` rounds of "remove every node with fewer
    than k live neighbors", with their final live degree and a
    corpus-wide ``converged`` flag (1 iff the last round removed
    nothing, i.e. the survivors ARE the exact k-core). The density
    classifier between boilerplate cliques (high core number — safe
    to collapse aggressively) and drift chains (core 1 — transitive
    dedup over-deletes); the bounded-round contract follows the
    pagerank precedent so the result is deterministic and the SQL
    oracle can unroll the same rounds.

    Plan (100 TB): each round is two semi-join filters of the edge
    list against the live set plus one degree agg — edge-cardinality
    keyed shuffles, never corpus-cardinality; ``localCheckpoint``
    cuts lineage per round so the plan stays flat. The per-round
    live counts are driver-side scalars (bounded planning metadata,
    the connected_components convergence-check precedent)."""
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).cast("long").alias("src"),
                        F.col(id_b).cast("long").alias("dst"),
                    ),
                    F.struct(
                        F.col(id_b).cast("long").alias("src"),
                        F.col(id_a).cast("long").alias("dst"),
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    live = edges.select(F.col("src").alias("node")).distinct()
    prev_n = live.count()
    converged = False
    deg = None
    for _ in range(rounds):
        e_live = edges.join(
            live.select(F.col("node").alias("src")), "src"
        ).join(live.select(F.col("node").alias("dst")), "dst")
        deg = e_live.groupBy("src").agg(
            F.count("*").cast("long").alias("degree")
        )
        live = (
            deg.filter(F.col("degree") >= k)
            .select(F.col("src").alias("node"))
            .localCheckpoint(eager=False)
        )
        n = live.count()
        if n == prev_n:
            converged = True
            break
        prev_n = n
    # final degree over the SURVIVOR subgraph (at a fixpoint this
    # equals the last round's degree; at the round bound it reports
    # the survivors' current live degree, 0 for bound-isolated nodes)
    e_final = edges.join(
        live.select(F.col("node").alias("src")), "src"
    ).join(live.select(F.col("node").alias("dst")), "dst")
    deg_final = e_final.groupBy("src").agg(
        F.count("*").cast("long").alias("degree")
    )
    # edges stays persisted: the RETURNED plan reads it again (the
    # final-degree pass), so an eager unpersist here would force the
    # consumer to recompute the whole upstream pair pipeline — the
    # cache follows the session's normal eviction instead (the
    # minhash-signature persist precedent)
    return live.join(
        deg_final.select(F.col("src").alias("node"), "degree"),
        "node",
        "left",
    ).select(
        "node",
        F.coalesce("degree", F.lit(0)).cast("long").alias("degree"),
        F.lit(1 if converged else 0).cast("int").alias("converged"),
    )


def phash_hamming_pairs(
    bands: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Near-duplicate image pairs from banded 64-bit perceptual
    hashes (multimodal.ahash_images): candidates from a band
    equi-join — LOSSLESS at Hamming radius <= 3 by pigeonhole over
    the 4 bands — then exact Hamming verification with bit_count on
    the band XORs. The image twin of the text prefix-filter: exact
    answer, candidate volume from bucket collisions rather than
    all-pairs. At petabyte scale, heavy hash buckets (monochrome
    boilerplate) take the same stop-key cap as the winnowing /
    ExactSubstr generators — wider bands (8x8-bit) or a band-df cap
    trade candidate volume against the verified radius."""
    # PERSISTED (r13, guide §5): four subtrees consume `bands` in one
    # action (both sides of the banded self-join plus the two exact-
    # verification hash lookups), and its lineage is the Python
    # synth+decode+aHash mapInPandas chain — re-executed per subtree
    # without this (the semantic_dedup scored-frame precedent). Five
    # small ints per image, deterministic, so re-reads are
    # bit-identical and cannot move a value.
    bands = bands.persist()
    melted = bands.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.col(f"b{i}").alias("band_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "e.band_idx", "e.band_val")
    a, b = melted.alias("a"), melted.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ha = bands.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{i}").alias(f"a{i}") for i in range(4)],
    )
    hb = bands.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{i}").alias(f"b{i}") for i in range(4)],
    )
    joined = cands.join(ha, "doc_a").join(hb, "doc_b")
    hamming = sum(
        F.bit_count(
            F.col(f"a{i}").bitwiseXOR(F.col(f"b{i}")).cast("int")
        )
        for i in range(4)
    )
    return (
        joined.select(
            "doc_a", "doc_b", hamming.cast("int").alias("hamming")
        )
        .filter(F.col("hamming") <= max_hamming)
    )
