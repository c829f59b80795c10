"""Product quantization (operators/similarity.py PQ half)."""

from pyspark.sql import functions as F

from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_pq,
    pq_train_encode,
)

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_codebooks_and_codes_shape(spark):
    emb = _emb(spark)
    cb, codes = pq_train_encode(emb, n_subspaces=4, k_sub=16, dim=64)
    cb_rows = cb.collect()
    assert {(r["subspace"], r["code"]) for r in cb_rows} == {
        (s, c) for s in range(4) for c in range(16)
    }
    assert all(len(r["cv"]) == 16 for r in cb_rows)
    n = emb.count()
    assert codes.count() == n * 4
    # each vector has exactly one code per subspace, all in range
    per_vec = codes.groupBy("vec_id").count().collect()
    assert all(r["count"] == 4 for r in per_vec)
    assert codes.filter(
        (F.col("code") < 0) | (F.col("code") >= 16)
    ).count() == 0


def test_codes_are_argmin_at_large_distances(spark):
    """Code assignment assumes no range of distances: with vectors
    scaled so squared subvector distances pass 1e8, every stored code
    is still the (lowest distance, lowest code) brute-force argmin."""
    emb = _emb(spark).filter(F.col("vec_id") < 100).select(
        "vec_id", F.transform("embedding", lambda x: x * 1e5).alias("embedding")
    )
    cb, codes = pq_train_encode(emb, n_subspaces=4, k_sub=16, dim=64)
    books = {(r["subspace"], r["code"]): r["cv"] for r in cb.collect()}
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    got = {(r["vec_id"], r["subspace"]): r["code"] for r in codes.collect()}
    assert len(got) == 4 * len(vecs)
    top = 0.0
    for (v, s), code in got.items():
        sv = vecs[v][s * 16 : (s + 1) * 16]
        d = {
            c: sum((a - b) ** 2 for a, b in zip(sv, cv))
            for (bs, c), cv in books.items()
            if bs == s
        }
        assert code == min(d, key=lambda c: (d[c], c)), (v, s)
        top = max(top, d[code])
    assert top > 1e8


def test_pq_is_deterministic(spark):
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 5)
    a = cosine_topk_pq(emb, q, k=5).collect()
    b = cosine_topk_pq(emb, q, k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pq_reranked_recall_against_brute(spark):
    """Two-stage search (ADC shortlist -> exact rerank): recall@5 is
    bounded by shortlist coverage, not quantization error. On this
    corpus (~8 intrinsic dims over 64 — hostile to contiguous-split
    PQ) an 8x16 codebook with a 100-wide shortlist clears 0.6;
    raw ADC alone sits near 0.15."""
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_pq(
            emb, q, k=5, n_subspaces=8, rerank=100
        ).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.6, f"recall@5 {recall:.2f}"


def test_reranked_scores_are_exact(spark):
    """After the rerank the reported score IS the true cosine: every
    retrieved pair's score equals the brute-force score exactly."""
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 10)
    approx = cosine_topk_pq(emb, q, k=5, n_subspaces=8, rerank=100)
    true = cosine_topk(emb, q, k=499)  # scores for all pairs
    j = approx.alias("a").join(
        true.alias("t"),
        (F.col("a.query_id") == F.col("t.query_id"))
        & (F.col("a.neighbor_id") == F.col("t.neighbor_id")),
    )
    assert j.count() == approx.count()
    assert j.filter(
        F.col("a.cos_sim") != F.col("t.cos_sim")
    ).count() == 0


def test_ivfpq_recall_and_rank_contract(spark, sf_dir):
    """Composed IVF-PQ must (a) return exact-cosine-ordered ranks
    after the rerank pass, (b) only surface neighbors from probed
    lists, and (c) keep recall near the PQ-only path at full probe
    coverage (nprobe = n_centroids makes IVF a no-op filter, so any
    recall drop would be a composition bug, not a quantization
    trade)."""
    from pyspark.sql import functions as F

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.relational import load
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivfpq,
    )

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }

    got = cosine_topk_ivfpq(
        emb, queries, k=5, n_centroids=8, nprobe=8, n_subspaces=8,
        rerank=50,
    ).collect()
    pairs = {(r["query_id"], r["neighbor_id"]) for r in got}
    recall = len(exact & pairs) / len(exact)
    assert recall >= 0.5, f"full-probe recall={recall}"

    # rank contract: 1..k dense per query, cos_sim non-increasing
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
        sims = [r["cos_sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)

    # narrowing the probe can only shrink the candidate pool
    narrow = cosine_topk_ivfpq(
        emb, queries, k=5, n_centroids=8, nprobe=1, n_subspaces=8,
        rerank=50,
    ).collect()
    assert len(narrow) <= len(got)


def test_rrf_fuse_contract(spark):
    """RRF fusion: exact reciprocal-rank scores, full-outer
    semantics (an item in only one list still scores), and the
    (rrf DESC, id ASC) tie-break."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.similarity import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], ["doc_id", "lex_rank"]
    )
    vec = spark.createDataFrame(
        [(3, 1), (4, 2), (1, 3)], ["doc_id", "vec_rank"]
    )
    rows = {
        r["doc_id"]: r
        for r in rrf_fuse([("lex", lex), ("vec", vec)], k=10, k0=60).collect()
    }
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1]["lex_rank"] == 1 and rows[1]["vec_rank"] == 3
    assert rows[2]["vec_rank"] is None
    assert abs(rows[1]["rrf"] - round(1 / 61 + 1 / 63, 6)) < 1e-9
    assert abs(rows[2]["rrf"] - round(1 / 62, 6)) < 1e-9
    # doc 1 (both lists) outranks doc 2 and 4 (single-list)
    ordered = sorted(
        rows.values(), key=lambda r: (-r["rrf"], r["doc_id"])
    )
    assert ordered[0]["doc_id"] in (1, 3)


def test_rrf_fuse_needs_two_lists(spark):
    import pytest

    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.similarity import rrf_fuse

    df = spark.createDataFrame([(1, 1)], ["doc_id", "a_rank"])
    with pytest.raises(ValueError):
        rrf_fuse([("a", df)])


def test_ivfpq_residual_recall_beats_floor(spark, sf_dir):
    """Residual encoding (FAISS-proper) must clear the raised
    ANN_RECALL_FLOOR['ivfpq'] and produce the exact-cosine rank
    contract after the rerank pass."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.llm_queries import (
        ANN_RECALL_FLOOR,
    )
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.relational import load
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivfpq,
    )

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    got = cosine_topk_ivfpq(
        emb, queries, k=5, n_centroids=16, nprobe=4, n_subspaces=8,
        rerank=50, residual=True,
    ).collect()
    pairs = {(r["query_id"], r["neighbor_id"]) for r in got}
    recall = len(truth & pairs) / len(truth)
    assert recall > ANN_RECALL_FLOOR["ivfpq"], f"residual recall {recall}"
    # rank contract: dense 1..k, cos_sim non-increasing
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
        sims = [r["cos_sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)


def test_ivfsq_recall_and_rank_contract(spark, sf_dir):
    """IVF-SQ8: int8 codes are near-exact for cosine (the per-vector
    scale cancels), so with the exact rerank recall should at least
    match the plain-IVF floor; ranks dense, scores non-increasing."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.relational import load
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivfsq,
    )

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    got = cosine_topk_ivfsq(
        emb, queries, k=5, n_centroids=16, nprobe=4, rerank=50
    ).collect()
    pairs = {(r["query_id"], r["neighbor_id"]) for r in got}
    recall = len(truth & pairs) / len(truth)
    assert recall > 0.4, f"ivfsq recall {recall}"
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
        sims = [r["cos_sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)


def test_sq8_codes_shape(spark, sf_dir):
    """SQ8 encode: one int8-range code per dimension, max-magnitude
    dimension maps to +/-127, cnorm positive."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.relational import load
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.similarity import sq8_encode

    emb = load(spark, sf_dir, "embeddings")
    rows = sq8_encode(emb).limit(50).collect()
    for r in rows:
        assert len(r["codes"]) == 64
        assert all(-127 <= c <= 127 for c in r["codes"])
        assert max(abs(c) for c in r["codes"]) == 127
        assert r["cnorm"] > 0


def test_sq8_zero_vector_deterministic(spark):
    """An all-zero vector encodes to all-zero codes (not NaN/null
    codes that silently vanish), and IVF-SQ scoring gives it score 0
    instead of the 0/0 NaN that Spark's NaN-greatest DESC order would
    rank FIRST."""
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.similarity import (
        cosine_topk_ivfsq,
        sq8_encode,
    )

    rows = [(0, [0.0] * 64)] + [
        (i, [float((i * 7 + d) % 13) - 6.0 for d in range(64)])
        for i in range(1, 40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    enc = {r["vec_id"]: r for r in sq8_encode(emb).collect()}
    assert enc[0]["codes"] == [0] * 64
    assert enc[0]["cnorm"] == 0.0
    got = cosine_topk_ivfsq(
        emb, emb.filter("vec_id = 1"), k=5, n_centroids=4, nprobe=4
    ).collect()
    # the zero vector never outranks a genuinely similar neighbor
    for r in got:
        assert r["approx_cos"] is not None
        if r["neighbor_id"] == 0:
            assert r["approx_cos"] == 0.0
