from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pdf_using_hugging_face_and_vector_database_spark.functions.vector import (
    cosine,
    dot,
    l2_norm,
    l2_normalize,
)
from pdf_using_hugging_face_and_vector_database_spark.io import read_table


def test_dot_and_norm(spark):
    df = spark.createDataFrame([([3.0, 4.0], [1.0, 0.0])], ["a", "b"])
    r = df.select(
        dot("a", "b").alias("d"), l2_norm("a").alias("n"), cosine("a", "b").alias("c")
    ).first()
    assert r["d"] == 3.0
    assert r["n"] == 5.0
    assert abs(r["c"] - 0.6) < 1e-12


def test_normalize_unit_norm(spark):
    df = spark.createDataFrame([([1.0, 2.0, 2.0],)], ["a"])
    r = df.select(l2_norm(l2_normalize("a")).alias("n")).first()
    assert abs(r["n"] - 1.0) < 1e-12


def test_unit_sphere_euclid_cosine_equivalence(spark, sf_dir):
    """‖a−b‖² = 2−2·cos(a,b) on the unit-norm fixture vectors — the
    property that makes Euclidean LSH order cosine order (SURVEY §7)."""
    emb = read_table(spark, sf_dir, "embeddings").limit(20)
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("ia") < F.col("ib"))
    sq = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    chk = pairs.select((sq - (2.0 - 2.0 * cosine("va", "vb"))).alias("diff")).collect()
    # fixture vectors are float32-normalized: norms are 1 ± ~1e-7
    assert all(abs(r["diff"]) < 1e-5 for r in chk)


def test_int8_quantize_roundtrip_error_bound(spark):
    from pyspark.sql import functions as F

    from pdf_using_hugging_face_and_vector_database_spark.functions.vector import (
        int8_quantize,
        int8_reconstruct,
    )

    df = spark.createDataFrame(
        [(1, [0.5, -0.25, 0.127, 0.0]), (2, [1.0, -1.0, 0.003, 0.9999])],
        "vec_id long, v array<double>",
    )
    scale = (
        F.greatest(F.array_max(F.transform("v", F.abs)), F.lit(1e-12)) / 127.0
    )
    base = df.select("vec_id", "v", scale.alias("s"))
    q = int8_quantize(F.col("v"), F.col("s"))
    out = base.select(
        "vec_id",
        "s",
        F.array_max(F.transform(q, F.abs)).alias("qmax"),
        F.array_max(
            F.zip_with(
                F.col("v"),
                int8_reconstruct(q, F.col("s")),
                lambda a, b: F.abs(a - b),
            )
        ).alias("err"),
    ).collect()
    for r in out:
        assert r["qmax"] <= 127
        # round-to-nearest: reconstruction error <= scale/2 (+ float eps)
        assert r["err"] <= r["s"] / 2 + 1e-12, r


def test_binary_codes_pack_and_hamming(spark):
    """Known bit pattern: vec with dims 0 and 33 positive -> w0 = 1,
    w1 = 2; Hamming between that and the all-negative vector is 2."""
    from pdf_using_hugging_face_and_vector_database_spark.operators.ann import (
        binary_candidates,
        binary_codes_of,
    )
    import pyspark.sql.functions as F

    v1 = [0.0] * 64
    v1[0] = 1.0
    v1[33] = 0.5
    v2 = [-1.0] * 64
    df = spark.createDataFrame(
        [(1, 0, v1), (2, 0, v2)], "vec_id long, label int, embedding array<double>"
    )
    codes = {r["vec_id"]: r for r in binary_codes_of(df).collect()}
    assert codes[1]["w0"] == 1 and codes[1]["w1"] == 2
    assert codes[2]["w0"] == 0 and codes[2]["w1"] == 0
    q = spark.createDataFrame([(v2,)], "qv array<double>")
    out = {r["vec_id"]: r["hamming"] for r in
           binary_candidates(binary_codes_of(df), q, cand_k=10).collect()}
    assert out == {1: 2, 2: 0}


def test_probe_ivf_index_rejects_dim_mismatch(spark, sf_dir, tmp_path):
    """r10 review: a query vector of the wrong dimension previously
    scored SILENTLY on a truncated prefix (zip_with stops at the
    shorter array); now it fails fast against the stored meta."""
    import pytest

    from pdf_using_hugging_face_and_vector_database_spark.io import read_table
    from pdf_using_hugging_face_and_vector_database_spark.operators.ann import (
        build_ivf_index,
        probe_ivf_index,
    )

    emb = read_table(spark, sf_dir, "embeddings").limit(50)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_cells=4, iters=1, dim=64)
    with pytest.raises(ValueError, match="query dim 8 != stored index dim 64"):
        probe_ivf_index(spark, path, [0.1] * 8, k=5, nprobe=2)


def test_binary_candidates_word_bits_contract(spark, sf_dir):
    """r10 review: binary_candidates must probe with the SAME word
    packing the codes table was built with — a 16-bit-packed table
    yields identical candidates when probed at 16 bits, and a
    mismatched probe fails fast instead of XOR-ing misaligned
    layouts."""
    import pytest

    from pdf_using_hugging_face_and_vector_database_spark.functions.hashing import (
        det_embed_py,
    )
    from pdf_using_hugging_face_and_vector_database_spark.io import read_table
    from pdf_using_hugging_face_and_vector_database_spark.operators.ann import (
        binary_candidates,
        binary_codes_of,
    )
    from pyspark.sql import functions as F

    emb = read_table(spark, sf_dir, "embeddings").limit(100)
    qv = det_embed_py("probe", 64)
    query = spark.createDataFrame([(qv,)], "qv array<float>")
    got = {}
    for wb in (32, 16):
        codes = binary_codes_of(emb, extra_cols=(), dim=64, word_bits=wb)
        rows = binary_candidates(
            codes, query, cand_k=10, extra_cols=(), dim=64, word_bits=wb
        ).collect()
        got[wb] = [(r.vec_id, r.hamming) for r in rows]
    assert got[32] == got[16]  # packing is an encoding detail only
    codes16 = binary_codes_of(emb, extra_cols=(), dim=64, word_bits=16)
    with pytest.raises(ValueError, match="different dim/word_bits"):
        binary_candidates(codes16, query, cand_k=10, extra_cols=(), dim=64)


def test_binary_candidates_rejects_same_word_count_mismatch(spark, tmp_path):
    """r10 ADVICE: the word-column NAME guard alone passes when two
    different layouts share a word COUNT — (dim=32, word_bits=16) and
    (dim=64, word_bits=32) both carry {w0, w1}. The codes table now
    self-describes its packing via column metadata (parquet
    round-tripped), so the mismatched probe must fail fast instead of
    XOR-ing misaligned bit layouts."""
    import pytest

    from pdf_using_hugging_face_and_vector_database_spark.functions.hashing import (
        det_embed_py,
    )
    from pdf_using_hugging_face_and_vector_database_spark.operators.ann import (
        binary_candidates,
        binary_codes_of,
    )

    vecs = [(i, det_embed_py(f"v{i}", 64)) for i in range(50)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    query = spark.createDataFrame([(det_embed_py("probe", 64),)], "qv array<float>")

    codes_narrow = binary_codes_of(emb, extra_cols=(), dim=32, word_bits=16)
    assert {c for c in codes_narrow.columns if c.startswith("w")} == {"w0", "w1"}
    with pytest.raises(ValueError, match="packed with"):
        binary_candidates(
            codes_narrow, query, cand_k=5, extra_cols=(), dim=64, word_bits=32
        )

    # metadata survives a parquet round trip: a PERSISTED table built
    # with the other layout still refuses the misaligned probe...
    p = str(tmp_path / "codes32")
    codes_narrow.write.parquet(p)
    stored = spark.read.parquet(p)
    with pytest.raises(ValueError, match="packed with"):
        binary_candidates(
            stored, query, cand_k=5, extra_cols=(), dim=64, word_bits=32
        )
    # ...and serves the aligned probe
    rows = binary_candidates(
        stored, query, cand_k=5, extra_cols=(), dim=32, word_bits=16
    ).collect()
    assert len(rows) == 5


def test_median_udaf_null_only_group_is_null(spark):
    """r12 review adjudication: NULLs are skipped (SQL semantics) and
    a NULL-only group comes back NULL. The NaN->NULL step previously
    happened implicitly in the pandas->Arrow return conversion
    (measured: the old code also returns NULL); the UDAF now states it
    explicitly, and this test pins the SQL contract either way."""
    import math

    from pyspark.sql import functions as F

    from pdf_using_hugging_face_and_vector_database_spark.functions.udafs import (
        median_udaf,
    )

    df = spark.createDataFrame(
        [(1, 1.0), (1, None), (1, 3.0), (2, None), (2, None)],
        "k int, v double",
    )
    got = {
        r.k: r.m
        for r in df.groupBy("k").agg(median_udaf("v").alias("m")).collect()
    }
    assert got[1] == 2.0  # NULLs skipped, interpolated median
    assert got[2] is None and not (
        isinstance(got[2], float) and math.isnan(got[2])
    )


def test_l2_normalize_zero_vector_stays_zero(spark):
    """r12 review: Spark's non-ANSI 0.0/0.0 is NULL, so a zero
    embedding normalized to an all-NULL array — poisoning every
    downstream dot product and LSH hash with NULLs. normalize(0) = 0
    now; fails on the pre-r12 kernel (NULL components)."""
    from pyspark.sql import functions as F

    from pdf_using_hugging_face_and_vector_database_spark.functions.vector import (
        dot,
        l2_normalize,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [3.0, 0.0, 4.0])],
        "vid int, v array<double>",
    )
    out = {
        r.vid: (r.nv, r.d)
        for r in df.select(
            "vid",
            l2_normalize("v").alias("nv"),
            dot(l2_normalize("v"), l2_normalize("v")).alias("d"),
        ).collect()
    }
    assert out[1] == ([0.0, 0.0, 0.0], 0.0)  # not [None, None, None]
    assert out[2][0] == [0.6, 0.0, 0.8]
    assert abs(out[2][1] - 1.0) < 1e-12


def test_normalize_expr_zero_vector_stays_zero(spark):
    """r12 review: same zero-guard contract as l2_normalize, on the
    embedder's hot-path normalize (reachable from the codec-gated
    real-model embedder). Fails on the pre-r12 kernel (NULLs)."""
    from pyspark.sql import functions as F

    from pdf_using_hugging_face_and_vector_database_spark.operators.embedder import (
        normalize_expr,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [3.0, 4.0])], "vid int, v array<double>"
    )
    out = {r.vid: r.nv for r in df.select("vid", normalize_expr(F.col("v")).alias("nv")).collect()}
    assert out[1] == [0.0, 0.0]
    assert out[2] == [0.6, 0.8]


def test_cosine_zero_vector_is_null_not_error(spark):
    """r14 review wave 8: Spark 4 runs ANSI by default in BOTH session
    shapes, so cosine's plain division turned one zero-norm vector
    into a DIVIDE_BY_ZERO crash for the whole query. try_divide yields
    NULL — DuckDB's / contract — and NULL sorts below every real score
    under descending order. Fails on the old kernel (crash)."""
    from pyspark.sql import functions as F

    from pdf_using_hugging_face_and_vector_database_spark.functions.vector import (
        cosine,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [3.0, 4.0]), (3, [4.0, 3.0])],
        "vid int, v array<double>",
    )
    q = F.array(F.lit(1.0), F.lit(0.0))
    scored = df.select("vid", cosine(F.col("v"), q).alias("s"))
    rows = {r.vid: r.s for r in scored.collect()}
    assert rows[1] is None
    assert abs(rows[2] - 0.6) < 1e-12 and abs(rows[3] - 0.8) < 1e-12
    ordered = [r.vid for r in scored.orderBy(F.desc("s"), "vid").collect()]
    assert ordered == [3, 2, 1]  # NULL ranks last under DESC


def test_mmr_select_skips_zero_vector_candidate(spark):
    """r14 review wave 8: a zero-norm pool vector now reaches
    mmr_select as a NULL simq / NULL pairwise sim; the greedy loop
    must skip it deterministically instead of crashing on None
    arithmetic (old code: TypeError in the max() fold). Finite
    candidates keep their exact ranks."""
    from pyspark.sql import functions as F

    from pdf_using_hugging_face_and_vector_database_spark.functions.vector import (
        cosine,
    )
    from pdf_using_hugging_face_and_vector_database_spark.operators.search import (
        mmr_select,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [0.0, 0.0, 0.0]),  # degenerate: NULL simq + NULL pairs
        ],
        "vec_id long, embedding array<double>",
    )
    q = F.array(*[F.lit(x) for x in (1.0, 0.0, 0.0)])
    cand = df.select(
        "vec_id",
        "embedding",
        F.round(cosine(F.col("embedding"), q), 9).alias("simq"),
    )
    picked = mmr_select(cand, k=4, lam=0.7)
    ids = [t[1] for t in picked]
    assert 4 not in ids  # the zero vector is unselectable
    assert len(ids) == 3 and ids[0] == 1  # finite ranking intact


def _score_bits(x):
    """A score's identity: None for NULL, one class for every NaN (Spark
    SQL treats all NaNs as equal, and their payload bits are not
    preserved on the way out of the JVM), else the exact double bits."""
    import struct

    if x is None:
        return None
    return "nan" if x != x else struct.pack(">d", x)


def test_cosine_to_bit_identical_to_three_fold_cosine(spark):
    """cosine_to(name, q) — the query norm folded once on the driver,
    two folds per row — gives the same double, bit for bit, as
    cosine(col, query_vector_lit(q)) on every row: degenerate vectors
    (zero, null, null element, wrong width, NaN / +-inf / subnormal /
    -0.0 components), array<double> and array<float> columns, and
    degenerate queries (zero, NaN element). The first query's norm is
    exactly 1.0 under the sequential left fold, but a blocked or pairwise
    sum (np.dot, np.linalg.norm) reads it as 1 + a few ulps, so a driver
    fold in any other order fails this test."""
    from pdf_using_hugging_face_and_vector_database_spark.functions.hashing import (
        det_embed_py,
    )
    from pdf_using_hugging_face_and_vector_database_spark.functions.vector import (
        cosine_to,
        query_vector_lit,
    )

    d = 16
    inf, nan = float("inf"), float("nan")
    rows = [det_embed_py(f"row:{i}", d) for i in range(40)]
    rows += [[float(x) * 3.5e-3 for x in det_embed_py("small", d)]]
    rows += [
        [0.0] * d,
        None,
        [1.0, None] + [0.5] * (d - 2),
        [0.25] * (d - 1),
        [0.25] * (d + 1),
        [nan] + [0.5] * (d - 1),
        [inf] + [0.5] * (d - 1),
        [-inf, inf] + [0.5] * (d - 2),
        [5e-324, -2.5e-310] + [0.0] * (d - 2),
        [-0.0] * d,
        [-0.0, 1.0] + [-0.0] * (d - 2),
        [1e200, 1e-200] + [3.0] * (d - 2),
    ]
    df = spark.createDataFrame(
        list(enumerate(rows)), "id int, v array<double>"
    ).withColumn("f", F.col("v").cast("array<float>"))
    queries = [
        [1.0] + [2.0**-27] * (d - 1),
        det_embed_py("query", d),
        [x * 1e-3 for x in det_embed_py("q-small", d)],
        [0.0] * d,
        [nan] + [0.5] * (d - 1),
        [inf] + [0.5] * (d - 1),
        [5e-324] * d,
        [-0.0] * d,
    ]
    for q in queries:
        for c in ("v", "f"):
            got = df.select(
                "id",
                cosine(F.col(c), query_vector_lit(q)).alias("old"),
                cosine_to(c, q).alias("new"),
            ).collect()
            assert len(got) == len(rows)
            for r in got:
                assert _score_bits(r["new"]) == _score_bits(r["old"]), (q[:2], c, r)
