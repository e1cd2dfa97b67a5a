from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pdf_using_hugging_face_and_vector_database_spark.functions.hashing import det_embed_py
from pdf_using_hugging_face_and_vector_database_spark.io import read_table
from pdf_using_hugging_face_and_vector_database_spark.operators.ann import (
    BrpLshIndex,
    IvfIndex,
)
from pdf_using_hugging_face_and_vector_database_spark.operators.search import (
    fetch_by_ids,
    delete_by_ids,
    knn_join,
    topk_cosine,
)


@pytest.fixture(scope="module")
def emb_np(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype="float64")
    return ids, mat


def brute_topk(ids, mat, q, k):
    q = np.asarray(q, dtype="float64")
    scores = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -scores))[:k]
    return list(ids[order])


def test_topk_matches_numpy(spark, sf_dir, emb_np):
    ids, mat = emb_np
    q = det_embed_py("some query", 64)
    got = topk_cosine(read_table(spark, sf_dir, "embeddings"), q, k=10).collect()
    assert [r["vec_id"] for r in got] == brute_topk(ids, mat, q, 10)


def test_knn_join_matches_numpy(spark, sf_dir, emb_np):
    ids, mat = emb_np
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    got = knn_join(queries, emb, k=5).collect()
    for qid in range(3):
        expect = brute_topk(ids, mat, mat[qid], 5)
        mine = [r["vec_id"] for r in sorted(got, key=lambda r: r["rank"]) if r["query_id"] == qid]
        assert mine == expect, f"query {qid}"


def test_knn_partial_topk_reduces_exchange_input(spark, sf_dir, emb_np):
    """The pre-exchange partial top-k must (a) cap the shuffled row
    count at k * partitions * |queries| and (b) select exactly the rows
    the final window would rank <= k — same strict total order."""
    from pdf_using_hugging_face_and_vector_database_spark.functions.vector import cosine
    from pdf_using_hugging_face_and_vector_database_spark.operators.search import (
        partial_topk_per_partition,
    )

    ids, mat = emb_np
    emb = read_table(spark, sf_dir, "embeddings").repartition(8)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    k = 5
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .withColumn("score", cosine(F.col("embedding"), F.col("query_embedding")))
        .select("query_id", "vec_id", "score")
    )
    reduced = partial_topk_per_partition(scored, k)
    n_reduced = reduced.count()
    n_parts = emb.rdd.getNumPartitions()
    assert n_reduced <= k * n_parts * 4, (n_reduced, n_parts)
    assert n_reduced < scored.count()  # strictly fewer rows shuffle
    # every exact top-k row survives the partition cut
    got = knn_join(queries, emb.repartition(8), k=k).collect()
    for qid in range(4):
        expect = brute_topk(ids, mat, mat[qid], k)
        mine = [
            r["vec_id"]
            for r in sorted(got, key=lambda r: r["rank"])
            if r["query_id"] == qid
        ]
        assert mine == expect, f"query {qid}"


def _planted_clusters(n=500, n_clusters=10, dim=64):
    """Deterministic clustered corpus: the regime where sublinear ANN
    is meaningful. (The driver's embeddings fixture is uniform-random
    on the sphere — same-label mean cos 0.019 — where no index can
    concentrate top-k neighbors; IVF recall there is ~scan-fraction by
    construction, so the recall gate uses planted clusters.)"""
    cents = np.array([det_embed_py(f"cluster:{c}", dim) for c in range(n_clusters)])
    mat = []
    for i in range(n):
        v = cents[i % n_clusters] + 0.6 * np.array(det_embed_py(f"noise:{i}", dim))
        mat.append(v / np.linalg.norm(v))
    return np.arange(n), np.array(mat)


def test_ann_recall(spark):
    """IVF ANN top-10 must recall >= 0.9 of exact top-10 (SURVEY §5)
    while scanning only ~nprobe/k of the corpus."""
    ids, mat = _planted_clusters()
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in mat[i]]) for i in ids],
        "vec_id long, embedding array<double>",
    )
    idx = IvfIndex(k=16, iters=3, dim=64).fit(df)
    recalls = []
    for qid in [5, 123, 250, 377, 499]:
        q = mat[qid]
        exact = set(brute_topk(ids, mat, q, 10))
        approx = {r["vec_id"] for r in idx.query(q, k=10, nprobe=3).collect()}
        recalls.append(len(exact & approx) / 10.0)
    assert sum(recalls) / len(recalls) >= 0.9, recalls
    # probing 3/16 cells must not scan more than ~35% of the corpus
    cells = idx.probe_cells(mat[5], 3)
    frac = idx.assigned.filter(F.col("cell").isin(cells)).count() / len(ids)
    assert frac < 0.35, frac


def test_brp_lsh_index(spark, sf_dir, emb_np):
    ids, mat = emb_np
    emb = read_table(spark, sf_dir, "embeddings")
    idx = BrpLshIndex(bucket_length=1.0, num_hash_tables=4).fit(emb)
    q = det_embed_py("lsh probe", 64)
    got = [r["vec_id"] for r in idx.query(q, k=10).collect()]
    exact = set(brute_topk(ids, mat, q, 10))
    assert len(exact & set(got)) / 10.0 >= 0.7


def test_fetch_and_delete(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    total = emb.count()
    got = fetch_by_ids(emb, [1, 2, 3])
    assert got.count() == 3
    left = delete_by_ids(emb, [1, 2, 3])
    assert left.count() == total - 3
    assert left.filter(F.col("vec_id").isin(1, 2, 3)).count() == 0


def test_quantized_rerank_empty_corpus(spark):
    """Re-rank over an empty corpus returns an empty frame (the
    collect-then-isin path must tolerate zero candidates)."""
    from pyspark.sql import functions as F

    from pdf_using_hugging_face_and_vector_database_spark.operators.ann import (
        quantized_rerank_topk,
    )

    emb = spark.createDataFrame(
        [], "vec_id long, label string, embedding array<double>"
    )
    q = spark.createDataFrame([([0.1, 0.2],)], "qv array<double>")
    assert quantized_rerank_topk(emb, q, k=5, cand_k=10).count() == 0


def test_rrf_fuse_semantics(spark):
    from pdf_using_hugging_face_and_vector_database_spark.operators.search import (
        rrf_fuse,
    )

    kw = spark.createDataFrame([(1, 1), (2, 2)], ["doc_id", "rank"])
    vec = spark.createDataFrame([(2, 1), (3, 2)], ["doc_id", "rank"])
    out = {r["doc_id"]: r for r in rrf_fuse([("kw", kw), ("vec", vec)], k_const=60).collect()}
    # doc 2 appears in both legs -> highest fused score
    assert out[2]["fused_rank"] == 1
    assert out[2]["rrf_score"] == round(1 / 62 + 1 / 61, 6)
    # single-leg docs contribute only their own reciprocal
    assert out[1]["rrf_score"] == round(1 / 61, 6)
    assert out[1]["vec_rank"] is None
    assert out[3]["kw_rank"] is None
    # tie between doc 1 (kw rank 1) and doc 3 (vec rank 2)? no: 1/61 > 1/62
    assert out[1]["fused_rank"] == 2 and out[3]["fused_rank"] == 3


def test_retrieval_eval_invariants(spark, sf_dir):
    """Eval-harness sanity: the self-query must rank itself first
    (MRR = 1), metrics live in (0, 1], and recall is n_relevant/k."""
    from pdf_using_hugging_face_and_vector_database_spark.queries import retrieval_eval

    r = retrieval_eval(spark, sf_dir).collect()[0]
    assert r.mrr == 1.0
    assert 0 < r.ndcg_at_k <= 1.0
    assert 0 < r.recall_at_k <= 1.0
    assert r.recall_at_k == round(r.n_relevant / r.k, 6)
    # NDCG can't exceed what recall allows, and a perfectly-ordered
    # prefix can't make NDCG lower than a tail-only arrangement
    assert r.ndcg_at_k <= 1.0


def test_mmr_diversifies_and_is_deterministic(spark, sf_dir):
    """MMR must (a) start from the top-1 relevant item, (b) pick a
    set different from the plain relevance top-k on this corpus (the
    penalty has to bite), and (c) be exactly reproducible."""
    from pdf_using_hugging_face_and_vector_database_spark.queries import (
        MMR_K,
        mmr_diversified_topk,
    )

    a = mmr_diversified_topk(spark, sf_dir).collect()
    assert len(a) == MMR_K
    assert a[0].rank == 1
    # rank 1 is pure relevance: the self-query must lead
    assert a[0].vec_id == 0
    b = mmr_diversified_topk(spark, sf_dir).collect()
    assert [(r.rank, r.vec_id) for r in a] == [(r.rank, r.vec_id) for r in b]


def test_mmr_differs_from_relevance_topk(spark, sf_dir):
    """The diversified set must not equal the plain cosine top-k —
    otherwise the penalty term is dead code on this fixture."""
    from pyspark.sql import functions as F

    from pdf_using_hugging_face_and_vector_database_spark.functions.vector import cosine
    from pdf_using_hugging_face_and_vector_database_spark.io import read_table
    from pdf_using_hugging_face_and_vector_database_spark.queries import (
        MMR_K,
        mmr_diversified_topk,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    dv = F.transform("embedding", lambda x: x.cast("double"))
    qvd = F.transform("qv", lambda x: x.cast("double"))
    plain = [
        r.vec_id
        for r in emb.crossJoin(F.broadcast(q))
        .select("vec_id", F.round(cosine(dv, qvd), 9).alias("s"))
        .orderBy(F.desc("s"), "vec_id")
        .limit(MMR_K)
        .collect()
    ]
    mmr = [r.vec_id for r in mmr_diversified_topk(spark, sf_dir).collect()]
    assert set(mmr) != set(plain)


def test_rag_pipeline_composition(spark, sf_dir):
    """Capstone sanity: 10 distinct ranks, metadata joined correctly
    (id == doc-<doc_id>-<chunk_index>), descending greedy order on
    rank-1 (pure relevance leads), and determinism across runs."""
    from pdf_using_hugging_face_and_vector_database_spark.queries import rag_pipeline

    a = sorted(rag_pipeline(spark, sf_dir).collect(), key=lambda r: r.rank)
    assert [r.rank for r in a] == list(range(1, 11))
    for r in a:
        assert r.id == f"doc-{r.doc_id}-{r.chunk_index}"
    assert a[0].simq == max(r.simq for r in a)
    b = sorted(rag_pipeline(spark, sf_dir).collect(), key=lambda r: r.rank)
    assert [(r.rank, r.id) for r in a] == [(r.rank, r.id) for r in b]


def test_ivf_append_visibility_and_idempotence(spark, tmp_path):
    """Appended vectors must be probe-visible without a rebuild, and
    a same-tag re-append must be a no-op."""
    from pdf_using_hugging_face_and_vector_database_spark.operators.ann import (
        append_ivf_index,
        build_ivf_index,
        probe_ivf_index,
    )

    dim = 16
    base = spark.createDataFrame(
        [(i, det_embed_py(f"v:{i}", dim)) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    newbie = spark.createDataFrame(
        [(999, det_embed_py("newcomer", dim))],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ivf")
    build_ivf_index(base, path, n_cells=4, iters=2, dim=dim, fingerprint="t")
    q = det_embed_py("newcomer", dim)
    before = {r.vec_id for r in probe_ivf_index(spark, path, q, k=1, nprobe=2).collect()}
    assert 999 not in before
    assert append_ivf_index(spark, path, newbie, tag="b1") == 1
    after = probe_ivf_index(spark, path, q, k=1, nprobe=2).collect()
    assert after[0].vec_id == 999
    assert append_ivf_index(spark, path, newbie, tag="b1") == 0  # no-op
    import os

    n_files = sum(
        len(fs) for _, _, fs in os.walk(os.path.join(path, "assigned"))
    )
    assert append_ivf_index(spark, path, newbie, tag="b1") == 0
    # the no-op really wrote nothing
    n_files2 = sum(
        len(fs) for _, _, fs in os.walk(os.path.join(path, "assigned"))
    )
    assert n_files2 == n_files


def test_ivf_deferred_fingerprint_crash_convergence(spark, tmp_path):
    """The build+append fixture sequence commits its real fingerprint
    LAST (set_index_fingerprint): an index interrupted anywhere before
    that single atomic stamp — including after the data append but
    before the tag rewrite — reads as absent and is rebuilt, never
    resumed half-applied."""
    from pdf_using_hugging_face_and_vector_database_spark.operators.ann import (
        append_ivf_index,
        build_ivf_index,
        ivf_index_exists,
        set_index_fingerprint,
    )

    dim = 16
    base = spark.createDataFrame(
        [(i, det_embed_py(f"v:{i}", dim)) for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    extra = spark.createDataFrame(
        [(999, det_embed_py("x", dim))], "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "ivf")

    # crash after build, before the initial append: sentinel fp only
    build_ivf_index(base, path, n_cells=4, iters=1, dim=dim,
                    fingerprint="__building__")
    assert not ivf_index_exists(path, "real_fp")

    # crash after the data append, before the tag commit: simulate by
    # appending under one tag but never stamping — still absent
    append_ivf_index(spark, path, extra, tag="b1")
    assert not ivf_index_exists(path, "real_fp")

    # the completed sequence commits atomically and is then trusted
    set_index_fingerprint(path, "real_fp")
    assert ivf_index_exists(path, "real_fp")
    # and the recorded tag still no-ops
    assert append_ivf_index(spark, path, extra, tag="b1") == 0


def test_round9_matches_spark_round(spark):
    """Oracle-parity pin for the driver-side MMR rounding (ADVICE r5):
    Decimal(repr(x)).quantize(1e-9, HALF_UP) must equal Spark's
    F.round(x, 9) (BigDecimal.valueOf -> Double.toString). The
    shortest-round-trip guarantee Double.toString shares with Python's
    repr landed in JDK 19 (JDK-4511638); this test makes the
    equivalence executable on whatever JDK runs Spark, over the
    adversarial cases: doubles whose decimal expansion sits at a
    .5-at-1e-9 HALF_UP boundary, plus a deterministic pseudo-random
    sweep of cosine-range values."""
    import struct
    from decimal import ROUND_HALF_UP, Decimal

    q9 = Decimal("0.000000001")

    def round9(x: float) -> float:
        return float(Decimal(repr(x)).quantize(q9, rounding=ROUND_HALF_UP))

    # .5-at-the-10th-digit boundaries: k*1e-9 + 5e-10 is not binary-
    # representable, so repr/toString must agree on which side the
    # nearest double landed; include negatives and magnitude spread
    cases = []
    for k in range(0, 2000, 7):
        for scale in (1.0, 1e-3, 1e3):
            v = (k * 1e-9 + 5e-10) * scale
            cases.extend([v, -v])
    # deterministic xorshift sweep over [-1, 1] (cosine range)
    s = 0x9E3779B97F4A7C15
    for _ in range(2000):
        s ^= (s << 13) & 0xFFFFFFFFFFFFFFFF
        s ^= s >> 7
        s ^= (s << 17) & 0xFFFFFFFFFFFFFFFF
        cases.append((s % (2**53)) / float(2**52) - 1.0)
    # exact binary fractions right at a representable boundary
    cases.extend([struct.unpack("<d", struct.pack("<q", b))[0]
                  for b in range(4607182418800017408, 4607182418800017408 + 64)])

    df = spark.createDataFrame([(float(v),) for v in cases], "x double")
    got = [r.r for r in df.select(F.round("x", 9).alias("r")).collect()]
    want = [round9(v) for v in cases]
    mism = [(cases[i], want[i], got[i]) for i in range(len(cases))
            if want[i] != got[i]]
    assert not mism, f"{len(mism)} parity breaks, first: {mism[:3]}"


def test_round6_matches_spark_round(spark):
    """Oracle-parity pin for rag_pipeline's driver-side 6 dp round
    (ADVICE r12): Decimal(repr(x)).quantize(1e-6, HALF_UP) must equal
    Spark's F.round(x, 6) — same JDK-dependent shortest-repr contract
    the round9 pin makes executable, at the digit position rag actually
    emits. Cases: .5-at-the-7th-digit HALF_UP boundaries (x.xxxxxx5
    ties), magnitude spread, negatives, and a deterministic sweep of
    cosine-range values."""
    import struct
    from decimal import ROUND_HALF_UP, Decimal

    q6 = Decimal("0.000001")

    def round6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(q6, rounding=ROUND_HALF_UP))

    cases = []
    for k in range(0, 2000, 7):
        for scale in (1.0, 1e-3, 1e3):
            v = (k * 1e-6 + 5e-7) * scale
            cases.extend([v, -v])
    s = 0x9E3779B97F4A7C15
    for _ in range(2000):
        s ^= (s << 13) & 0xFFFFFFFFFFFFFFFF
        s ^= s >> 7
        s ^= (s << 17) & 0xFFFFFFFFFFFFFFFF
        cases.append((s % (2**53)) / float(2**52) - 1.0)
    cases.extend([struct.unpack("<d", struct.pack("<q", b))[0]
                  for b in range(4607182418800017408, 4607182418800017408 + 64)])

    df = spark.createDataFrame([(float(v),) for v in cases], "x double")
    got = [r.r for r in df.select(F.round("x", 6).alias("r")).collect()]
    want = [round6(v) for v in cases]
    mism = [(cases[i], want[i], got[i]) for i in range(len(cases))
            if want[i] != got[i]]
    assert not mism, f"{len(mism)} parity breaks, first: {mism[:3]}"


def test_mmr_select_refuses_duplicate_pool_ids(spark):
    """ADVICE r12: a duplicate candidate id silently kept the LAST
    row's carry metadata while the pool list kept both entries — the
    selected tuple's metadata could belong to the losing row. The
    unique-id precondition must refuse; fails on the pre-r13 code
    (no raise)."""
    import pytest as _pytest

    from pdf_using_hugging_face_and_vector_database_spark.operators.search import mmr_select

    dup = spark.createDataFrame(
        [("a", [1.0, 0.0], 0.9, 7), ("a", [0.0, 1.0], 0.8, 8),
         ("b", [1.0, 1.0], 0.5, 9)],
        "vec_id string, embedding array<double>, simq double, meta int",
    )
    with _pytest.raises(ValueError, match="unique"):
        mmr_select(dup, k=2, carry_cols=("meta",))


def test_mmr_select_skips_nan_candidates(spark):
    """A NaN query-similarity (e.g. a degenerate upstream score — the
    ANSI-mode cosine itself raises on a zero vector before reaching
    here, so simq is the NaN ingress) must be skipped deterministically
    by the driver-side argmax instead of letting dict iteration order
    decide (ADVICE r5). The NaN candidate must never be selected, and
    the remaining ranking must be stable across repeated runs."""
    from pdf_using_hugging_face_and_vector_database_spark.operators.search import mmr_select

    rows = [
        (0, [1.0, 0.0, 0.0], 1.0),
        (1, [0.1, 0.1, 0.1], float("nan")),  # NaN relevance score
        (2, [0.9, 0.1, 0.0], 0.9),
        (3, [0.0, 1.0, 0.0], 0.5),
    ]
    cand = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, simq double"
    )
    out = [
        tuple(t[:2])
        for t in mmr_select(cand, k=4, lam=0.7)
    ]
    assert all(vid != 1 for _, vid in out), "NaN candidate selected"
    assert len(out) == 3
    again = [tuple(t[:2]) for t in mmr_select(cand, k=4, lam=0.7)]
    assert out == again


def test_ivf_fit_unpersists_on_midloop_failure(spark, monkeypatch):
    """r10 ADVICE: IvfIndex.fit persists its input for a Lloyd loop of
    two or more iterations; an exception mid-loop (here the
    per-partition kernel) must not leak the cached plan into the
    global CacheManager (which would substitute an InMemoryRelation
    into every other query's scan of the same table and kill their
    pushdown) — the unpersist sits in a finally block."""
    import pytest

    from pdf_using_hugging_face_and_vector_database_spark.operators import ann

    from pdf_using_hugging_face_and_vector_database_spark.functions.hashing import (
        det_embed_py,
    )

    vecs = [(i, det_embed_py(f"v{i}", 8)) for i in range(20)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")

    def boom(_centroids, _vec_col):
        raise RuntimeError("mid-loop kernel failure")

    monkeypatch.setattr(ann, "lloyd_partials", boom)
    with pytest.raises(RuntimeError, match="mid-loop"):
        ann.IvfIndex(k=2, iters=2, dim=8).fit(df)
    assert not df.storageLevel.useMemory and not df.storageLevel.useDisk


def _np_lloyd(X, k, iters):
    """NumPy Lloyd reference for IvfIndex.fit: det_embed_py seeds,
    argmax ties to the lowest cell, normalised cell sums, an empty
    cell keeps its centroid."""
    C = np.array([det_embed_py(f"centroid:{i}", X.shape[1]) for i in range(k)])
    for _ in range(iters):
        cells = (X @ C.T).argmax(axis=1)
        for i in range(k):
            if (cells == i).any():
                s = X[cells == i].sum(axis=0)
                C[i] = s / np.linalg.norm(s)
    return C, (X @ C.T).argmax(axis=1) + 1


def _ivf_frame(spark, X):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(X)],
        "vec_id long, embedding array<double>",
    )


def test_ivf_fit_matches_numpy_lloyd(spark):
    """The per-partition Lloyd kernel reproduces a NumPy Lloyd loop to
    1e-12 over two iterations, final cells included; the planted
    corpus sits near the first three seeds, so the fourth cell stays
    empty and keeps its seed exactly."""
    dim, k = 16, 4
    seeds = [np.array(det_embed_py(f"centroid:{i}", dim)) for i in range(3)]
    X = np.array(
        [
            seeds[i % 3] + 0.2 * np.array(det_embed_py(f"noise:{i}", dim))
            for i in range(60)
        ]
    )
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    want, want_cells = _np_lloyd(X, k, 2)
    assert not (want_cells == k).any()  # the planted empty cell
    idx = IvfIndex(k=k, iters=2, dim=dim).fit(_ivf_frame(spark, X).repartition(3))
    assert np.abs(np.array(idx.centroids) - want).max() <= 1e-12
    assert idx.centroids[k - 1] == det_embed_py(f"centroid:{k - 1}", dim)
    got = {r.vec_id: r.cell for r in idx.assigned.collect()}
    assert [got[i] for i in range(len(X))] == want_cells.tolist()


def test_ivf_fit_empty_partitions_and_cells(spark):
    """Three rows over eight partitions with four cells: empty
    partitions emit no partials, and the cells no row reaches keep
    their seeds."""
    dim, k = 8, 4
    X = np.array([det_embed_py(f"few:{i}", dim) for i in range(3)])
    want, want_cells = _np_lloyd(X, k, 2)
    idx = IvfIndex(k=k, iters=2, dim=dim).fit(_ivf_frame(spark, X).repartition(8))
    assert np.abs(np.array(idx.centroids) - want).max() <= 1e-12
    got = {r.vec_id: r.cell for r in idx.assigned.collect()}
    assert [got[i] for i in range(3)] == want_cells.tolist()


def test_ivf_fit_one_job_per_lloyd_iteration(spark):
    """Each Lloyd iteration is one Spark job (no shuffle stage, no
    separate count); the final assignment stays lazy."""
    X = np.array([det_embed_py(f"j:{i}", 8) for i in range(40)])
    df = _ivf_frame(spark, X)
    sc = spark.sparkContext
    for iters in (1, 2):
        group = f"ivf_fit_jobs_{iters}"
        sc.setJobGroup(group, group)
        try:
            IvfIndex(k=4, iters=iters, dim=8).fit(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == iters


def test_ivf_fit_rejects_vector_width(spark):
    """A vector whose length is not the index dim fails in the kernel
    with both widths named."""
    X = np.array([det_embed_py(f"w:{i}", 16) for i in range(10)])
    with pytest.raises(Exception, match="IVF index dim 8 but a vector has width 16"):
        IvfIndex(k=2, iters=1, dim=8).fit(_ivf_frame(spark, X))


def test_brp_lsh_survives_zero_vector(spark):
    """r14 review wave 8: the LSH feature normalize previously rebuilt
    l2_normalize inline WITHOUT its zero-vector guard — one all-zero
    embedding (an empty doc through a mean-pooled encoder) crashed the
    whole fit under an ANSI session (DIVIDE_BY_ZERO) and produced NULL
    features under a non-ANSI one. Routed through the shared
    l2_normalize: the zero vector stays zero, fit/join/query all
    complete, and non-zero rows keep their exact buckets. Fails on the
    old code."""
    import math

    rows = [(0, [0.0] * 8)] + [
        (i, [math.cos(i * j + j) for j in range(8)]) for i in range(1, 12)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = BrpLshIndex(bucket_length=1.0, num_hash_tables=2).fit(df)
    pairs = idx.similarity_self_join(max_cos_dist=0.6).collect()
    assert all(r["id_a"] < r["id_b"] for r in pairs)
    got = idx.query([1.0] + [0.0] * 7, k=3).collect()
    assert len(got) == 3
    # a zero QUERY vector must not poison the probe either
    got0 = idx.query([0.0] * 8, k=2).collect()
    assert len(got0) == 2
