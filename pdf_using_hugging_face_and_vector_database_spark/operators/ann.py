"""Q3 — approximate nearest neighbor: the scale path for the
reference's cosine index (`streamlit_app.py:49`).

Three tools:

- :class:`IvfIndex` — IVF (inverted-file) coarse quantization, the
  batch "vector index build" the north star names. Deterministic
  seeded centroids refined by Lloyd iterations, one job each: every
  partition assigns its rows (numpy matmul + argmax, the same kernel
  as the final assignment) and emits per-cell (count, sum vector)
  partials from a ``mapInPandas`` — no shuffle — which the driver adds
  up and normalises. Query probes the ``nprobe`` nearest cells
  and re-ranks exactly — scanning ~nprobe/k of the corpus. At 100 TB
  the table is written partitioned by ``cell`` so a probe prunes
  whole partitions.
- :class:`BrpLshIndex` — MLlib BucketedRandomProjectionLSH over
  L2-normalized vectors (unit sphere: ‖a−b‖² = 2−2·cos, so L2 order
  is cosine order — property-tested in tests/test_vector.py).
- :func:`random_projection_buckets` — signed-hyperplane bucket ids
  (SimHash-for-vectors) for near-dup blocking.
"""

from __future__ import annotations

import os
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import MAX24, det_embed_py
from ..functions.vector import cosine

# persisted-index root (generated data, gitignored): the build/probe
# split writes the assigned table here partitioned by cell, so a probe
# is a partition-pruned read — never a rebuild
INDEX_ROOT = os.environ.get(
    "SPARK_GRAFT_INDEX_DIR",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".ann_index",
    ),
)


def _vector_matrix(vecs: pd.Series, dim: int) -> np.ndarray:
    """Stack an Arrow batch of vectors into a float64 (batch x dim)
    matrix, failing fast on a vector whose length is not the index's
    ``dim`` (a ragged batch otherwise surfaces as a NumPy shape error
    that names neither width)."""
    if not len(vecs):
        return np.empty((0, dim), dtype="float64")
    widths = vecs.str.len()
    bad = widths[widths != dim]
    if len(bad):
        w = "null" if pd.isna(bad.iloc[0]) else int(bad.iloc[0])
        raise ValueError(f"IVF index dim {dim} but a vector has width {w}")
    return np.stack(vecs.to_numpy()).astype("float64", copy=False)


def assign_cells(M: np.ndarray, C: np.ndarray) -> np.ndarray:
    """0-based max-dot-product cell per row of ``M`` (batch x dim)
    against ``C`` (dim x k), ties -> lowest cell (argmax keeps the
    first). The one assignment kernel: the Lloyd partials and the
    final/append assignment both call it, so they cannot drift."""
    return (M @ C).argmax(axis=1)


def ivf_assign_udf(centroids: list[list[float]]) -> Column:
    """Vectorized cell assignment: one (batch x dim) @ (dim x k)
    matmul per Arrow batch (:func:`assign_cells`), as a 1-based int.
    Returns a callable to apply to the vector col."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype="float64").T  # dim x k

    @pandas_udf("int")
    def assign(s: pd.Series) -> pd.Series:
        cells = assign_cells(_vector_matrix(s, C.shape[0]), C) + 1
        return pd.Series(cells).astype("int32")

    return assign


def lloyd_partials(centroids: list[list[float]], vec_col: str):
    """Per-partition half of one Lloyd iteration, for ``mapInPandas``:
    assign every row (:func:`assign_cells`) and emit one row per
    non-empty cell — (1-based cell, row count, float64 sum vector).
    An empty partition emits nothing (an empty untyped frame would not
    convert to Arrow)."""
    C = np.asarray(centroids, dtype="float64").T  # dim x k
    dim, k = C.shape

    def partials(batches):
        counts = np.zeros(k, dtype="int64")
        totals = np.zeros((k, dim), dtype="float64")
        for pdf in batches:
            M = _vector_matrix(pdf[vec_col], dim)
            cells = assign_cells(M, C)
            for c in np.unique(cells):
                totals[c] += M[cells == c].sum(axis=0)
            counts += np.bincount(cells, minlength=k)
        hit = np.flatnonzero(counts)
        if len(hit):
            yield pd.DataFrame(
                {
                    "cell": (hit + 1).astype("int32"),
                    "n": counts[hit],
                    "total": list(totals[hit]),
                }
            )

    return partials


def lloyd_step(
    df: DataFrame, vec_col: str, centroids: list[list[float]]
) -> list[list[float]]:
    """One Lloyd iteration as ONE job: a shuffle-free ``mapInPandas``
    of per-partition cell partials, collected (at most partitions x k
    rows) and added up driver-side. Each cell's new centroid is its
    normalised sum (the mean's direction); an empty cell keeps its
    previous centroid."""
    k, dim = len(centroids), len(centroids[0])
    counts = np.zeros(k, dtype="int64")
    totals = np.zeros((k, dim), dtype="float64")
    rows = (
        df.select(vec_col)
        .mapInPandas(
            lloyd_partials(centroids, vec_col), "cell int, n long, total array<double>"
        )
        .collect()
    )
    for r in rows:
        counts[r["cell"] - 1] += r["n"]
        totals[r["cell"] - 1] += np.asarray(r["total"], dtype="float64")
    new = []
    for i in range(k):
        if not counts[i]:
            new.append(centroids[i])
            continue
        norm = float(np.sqrt(totals[i] @ totals[i])) or 1.0
        new.append((totals[i] / norm).tolist())
    return new


class IvfIndex:
    """Batch-built IVF index over an embedding column."""

    def __init__(self, k: int = 16, iters: int = 2, dim: int = 64):
        self.k = k
        self.iters = iters
        self.dim = dim
        self.centroids: list[list[float]] = []
        self.assigned: DataFrame | None = None

    def fit(self, df: DataFrame, vec_col: str = "embedding") -> "IvfIndex":
        # each Lloyd iteration scans df once — with two or more, persist
        # for the duration of the loop so the input lineage is paid one
        # scan, not once per iteration; with one, the loop's single job
        # is the only read the cache could serve, so it is skipped.
        # UNPERSIST before returning: Spark's CacheManager substitutes a
        # cached plan into EVERY matching query globally, so leaving the
        # raw input cached leaks an InMemoryRelation into unrelated
        # consumers of the same table and kills their scan pushdown
        cached = self.iters >= 2
        if cached:
            df = df.persist()
        # deterministic seeds in the same hash-projection space
        centroids = [det_embed_py(f"centroid:{i}", self.dim) for i in range(self.k)]
        try:
            for _ in range(self.iters):
                centroids = lloyd_step(df, vec_col, centroids)
            self.centroids = centroids
            self.assigned = df.withColumn(
                "cell", ivf_assign_udf(centroids)(F.col(vec_col))
            )
        finally:
            # the assignment is written by the caller AFTER this cache
            # is gone — one fresh scan; the loop's jobs are what the
            # persist buys. finally: an exception mid-loop (kernel
            # failure) must not leak the cached plan into the global
            # CacheManager either
            if cached:
                df.unpersist()
        return self

    def probe_cells(self, query_vec: Sequence[float], nprobe: int) -> list[int]:
        return nearest_cells(self.centroids, query_vec, nprobe)

    def query(
        self,
        query_vec: Sequence[float],
        k: int = 10,
        nprobe: int = 4,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> DataFrame:
        return topk_in_cells(
            self.assigned, self.centroids, query_vec, k, nprobe, vec_col, id_col
        )


def nearest_cells(
    centroids: list[list[float]], query_vec: Sequence[float], nprobe: int
) -> list[int]:
    """1-based ids of the nprobe max-dot-product cells (tie -> lower id).
    Shared by the in-memory index and the persisted-index probe so the
    two paths can never drift."""
    scores = []
    for i, c in enumerate(centroids):
        scores.append((sum(float(a) * b for a, b in zip(query_vec, c)), i + 1))
    scores.sort(key=lambda t: (-t[0], t[1]))
    return [cell for _, cell in scores[:nprobe]]


def topk_in_cells(
    assigned: DataFrame,
    centroids: list[list[float]],
    query_vec: Sequence[float],
    k: int,
    nprobe: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe the nprobe nearest cells of an assigned corpus and re-rank
    exactly inside them (shared probe kernel)."""
    from .search import query_vector_lit

    cells = nearest_cells(centroids, query_vec, nprobe)
    cand = assigned.filter(F.col("cell").isin(cells))
    scored = cand.withColumn(
        "score", cosine(F.col(vec_col), query_vector_lit(query_vec))
    )
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k).drop("cell")


def dataset_dir_key(sf_dir: str) -> str:
    """Store-directory key for a dataset dir: basename (readable) plus
    a short hash of the FULL normalized path, so two sf dirs sharing a
    basename under different parents get distinct stores instead of
    thrashing/rebuilding each other's."""
    import hashlib

    norm = os.path.normpath(os.path.abspath(sf_dir))
    digest = hashlib.sha256(norm.encode()).hexdigest()[:8]
    return f"{os.path.basename(norm)}_{digest}"


def ivf_index_path(sf_dir: str, n_cells: int = 16, root: str | None = None) -> str:
    """Deterministic on-disk location for one (dataset, n_cells) index."""
    return os.path.join(root or INDEX_ROOT, f"ivf_{dataset_dir_key(sf_dir)}_k{n_cells}")


def dataset_fingerprint(path: str, salt: str = "") -> str:
    """Cheap staleness key for a parquet file/dir: per-file (name, size,
    mtime_ns) digest (+ a caller salt for derivation constants). A
    regenerated fixture — even one rewritten within the same second at
    identical total byte size — or changed constants produce a
    different fingerprint, so a persisted index built from old data is
    detected and rebuilt rather than silently served."""
    import hashlib

    # recursive (r10 review): a partitioned source (label=X/part-*)
    # previously hashed only the direct children, so a part file
    # rewritten IN PLACE inside a partition subdir could leave the
    # fingerprint unchanged and serve stale stores; every nested file
    # now contributes its (relative path, size, mtime_ns)
    if os.path.isfile(path):
        names = [(os.path.basename(path), path)]
    else:
        names = sorted(
            (os.path.relpath(os.path.join(root, f), path), os.path.join(root, f))
            for root, _dirs, files in os.walk(path)
            for f in files
        )
    h = hashlib.sha256()
    for name, p in names:
        try:
            st = os.stat(p)
        except OSError:
            continue
        h.update(f"{name}:{st.st_size}:{st.st_mtime_ns};".encode())
    return f"{h.hexdigest()[:16]}:{salt}"


def _ann_code_token() -> str:
    """Code token over this module + the vector functions — folded
    into every code-table store salt so a quantization/encoding kernel
    change rebuilds the store (r7 ADVICE item 2)."""
    import sys

    from ..functions import vector as _vector
    from ..store import code_token

    return code_token(sys.modules[__name__], _vector)


def ivf_fingerprint(
    source_path: str,
    n_cells: int,
    iters: int,
    dim: int,
    extra_salt: str = "",
) -> str:
    """Staleness key for a persisted IVF index: the source fingerprint
    SALTED with the index's derivation constants AND the module's code
    token (r10 review — the same salt class the int8/binary code
    tables already fold in). Call sites previously keyed on the bare
    dataset fingerprint, so an assignment-kernel fix or a constant
    change kept serving cell assignments computed by the old kernel —
    the exact stale-store class the module docstring promises is
    detected."""
    return dataset_fingerprint(
        source_path,
        salt=f"ivf:{n_cells}:{iters}:{dim}:{extra_salt}:{_ann_code_token()}",
    )


def build_ivf_index(
    df: DataFrame,
    path: str,
    n_cells: int = 16,
    iters: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
    fingerprint: str = "",
) -> "IvfIndex":
    """S6 index BUILD, persisted: fit IVF, write the assigned corpus
    partitioned by ``cell`` (so probes prune whole partitions —
    PartitionFilters, plan-asserted in tests/test_plans.py) and the
    centroids as JSON next to it. At 100 TB this is the batch index
    job; probes then touch ~nprobe/n_cells of the files.

    Crash-safe ordering: centroids.json is REMOVED before the data
    overwrite and re-written (atomically) last, so a rebuild that dies
    mid-way leaves a visibly-absent index (rebuilt on next use), never
    old centroids pointing at new partitions.
    """
    idx = IvfIndex(k=n_cells, iters=iters, dim=dim).fit(df, vec_col)
    os.makedirs(path, exist_ok=True)
    marker = os.path.join(path, "centroids.json")
    if os.path.exists(marker):
        os.remove(marker)
    idx.assigned.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(path, "assigned")
    )
    from ..store import write_marker_atomic

    write_marker_atomic(
        marker,
        {
            "n_cells": n_cells,
            "iters": iters,
            "dim": dim,
            "fingerprint": fingerprint,
            "centroids": idx.centroids,
        },
    )
    return idx


def set_index_fingerprint(path: str, fingerprint: str) -> None:
    """Atomically stamp the stored index's source fingerprint — the
    deferred-commit half of a multi-step index fixture: build (and
    any initial appends) run under a sentinel fingerprint, then this
    single os.replace marks the whole sequence complete. A crash at
    ANY earlier point leaves a non-matching fingerprint, so
    ivf_index_exists reports the index absent and the next run
    rebuilds from scratch instead of resuming a half-applied state
    (the append-then-crash double-insert the round-4 advisor
    flagged)."""
    from ..store import read_marker, write_marker_atomic

    marker = os.path.join(path, "centroids.json")
    meta = read_marker(marker)
    if not meta:
        raise FileNotFoundError(f"no readable index marker at {marker}")
    meta["fingerprint"] = fingerprint
    write_marker_atomic(marker, meta)


def ivf_index_exists(path: str, fingerprint: str | None = None) -> bool:
    """True iff a readable index is present AND (when given) its stored
    source fingerprint matches — stale indexes count as absent."""
    from ..store import read_marker

    meta = read_marker(os.path.join(path, "centroids.json"))
    if not meta:
        return False
    return fingerprint is None or meta.get("fingerprint") == fingerprint


def probe_ivf_index(
    spark: SparkSession,
    path: str,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """S6/Q3 probe: nearest ``nprobe`` cells chosen driver-side from
    the stored centroids (n_cells tiny), then a partition-pruned scan
    of only those cells, exact re-rank inside (shared kernel
    :func:`topk_in_cells` — cannot drift from the in-memory index).
    No index rebuild — the read path is what repeated queries pay."""
    from ..store import read_marker

    meta = read_marker(os.path.join(path, "centroids.json"))
    if not meta:
        raise FileNotFoundError(f"no readable index marker under {path}")
    # a dim mismatch was previously SILENT: cosine's zip_with truncates
    # to the shorter array, scoring on a prefix (r10 review)
    if "dim" in meta and len(query_vec) != meta["dim"]:
        raise ValueError(
            f"probe_ivf_index: query dim {len(query_vec)} != stored "
            f"index dim {meta['dim']} at {path}"
        )
    assigned = spark.read.parquet(os.path.join(path, "assigned"))
    return topk_in_cells(
        assigned, meta["centroids"], query_vec, k, nprobe, vec_col, id_col
    )


def append_ivf_index(
    spark: SparkSession,
    path: str,
    new_vectors: DataFrame,
    tag: str,
    vec_col: str = "embedding",
) -> int:
    """Incremental index maintenance: assign a NEW batch against the
    STORED centroids and append it into the cell-partitioned store —
    no rebuild, no touch of existing rows. This is how a serving
    index absorbs daily ingest; centroids drift only with the corpus
    distribution, which a periodic full rebuild (build_ivf_index, the
    stale-fingerprint path) corrects.

    At-most-once per ``tag``: an already-recorded tag is a no-op
    (returns 0), so pipeline retries don't double-insert. The tag
    list lives in centroids.json and is rewritten atomically AFTER
    the data append — a crash in between leaves an un-recorded
    partial append, and the documented recovery is a rebuild (the
    same answer as for any interrupted non-transactional bulk load).
    Callers that must converge WITHOUT manual intervention run the
    build+append sequence under a sentinel fingerprint and commit the
    real one last via set_index_fingerprint (see q3_ann_append), so
    any crash forces that rebuild automatically. Returns the number
    of appended rows.
    """
    from ..store import read_marker, write_marker_atomic

    marker = os.path.join(path, "centroids.json")
    meta = read_marker(marker)
    if not meta:
        raise FileNotFoundError(f"no readable index marker at {marker}")
    if tag in meta.get("appends", {}):
        return 0
    from pyspark.sql import Observation

    # the row count rides the append WRITE as an Observation: one job,
    # the assignment UDF runs once and nothing stays cached. The write
    # is a single stage (no shuffle), so no fetch-failure stage retry
    # can double-report the observed count
    obs = Observation("ivf_append")
    assigned = new_vectors.withColumn(
        "cell", ivf_assign_udf(meta["centroids"])(F.col(vec_col))
    ).observe(obs, F.count(F.lit(1)).alias("n"))
    assigned.write.mode("append").partitionBy("cell").parquet(
        os.path.join(path, "assigned")
    )
    n = obs.get["n"]
    meta.setdefault("appends", {})[tag] = n
    write_marker_atomic(marker, meta)
    return n


class BrpLshIndex:
    """Batch-built LSH index over an embedding column (MLlib-backed).

    Reserved working-column names (r15 ADVICE): "__features" and
    "__hashes" (MLlib input/output, dropped from join results) and
    "__brp_raw" (the unnormalized vector `_to_vector` materializes and
    drops). Caller DataFrames carrying any of these names would be
    overwritten; the `__`-prefixed spellings keep collision odds
    negligible for real schemas.
    """

    def __init__(self, bucket_length: float = 0.5, num_hash_tables: int = 3):
        self.bucket_length = bucket_length
        self.num_hash_tables = num_hash_tables
        self.model = None
        self._fitted_df = None

    @staticmethod
    def _to_vector(df: DataFrame, vec_col: str) -> DataFrame:
        from pyspark.ml.feature import Normalizer
        from pyspark.ml.functions import array_to_vector

        # normalize first: unit sphere makes L2-LSH order cosine order.
        # MLlib Normalizer, not a SQL higher-order function (r15 LSH
        # WATCH root cause): every SQL formulation of the guarded
        # normalize is interpreted (CodegenFallback), and materializing
        # the norm as a helper column does NOT keep it per-row —
        # CollapseProject inlines a once-referenced alias straight into
        # the consuming transform lambda, so the r14 "per-row column"
        # guard actually re-evaluated the O(dim) norm aggregate per
        # ELEMENT, twice (CASE condition + ELSE branch): O(2·dim²)/row.
        # That one projection was the whole r14 bench elevation of the
        # two MLlib LSH rows (~+1.2 s each at sf0.1 — the one-time
        # materialization of the fitted corpus; optimized-plan receipt
        # in NOTES_r15.md). Normalizer runs one JVM pass per row with
        # no lambda interpretation: measured 0.11 s vs 1.66 s (shipped
        # r14) vs 0.52 s (pre-guard r13) for the normalize+noop-write
        # at sf0.1. Plan pin: tests/test_plans.py asserts no aggregate
        # HOF survives in the fitted-features plan.
        #
        # Contract (verified, tests/test_search.py): Normalizer returns
        # a ZERO vector unchanged — exactly the l2_normalize zero-guard
        # (an empty doc through a mean-pooled encoder must not kill the
        # fit under ANSI) — and NaN components stay NaN. array_to_vector
        # widens float components to double exactly as the previous
        # x.cast("double") did. Normalizer scales by multiplying with
        # the reciprocal norm, so components can differ from the
        # division form in the last ulp; bucket boundaries for
        # knife-edge values may shift, which the gates tolerate by
        # design (distances are recomputed from the RAW embedding and
        # the id set is already projection-dependent).
        raw = df.withColumn("__brp_raw", array_to_vector(vec_col))
        unit = Normalizer(
            inputCol="__brp_raw", outputCol="__features", p=2.0
        ).transform(raw)
        return unit.drop("__brp_raw")

    def fit(self, df: DataFrame, vec_col: str = "embedding") -> "BrpLshIndex":
        from pyspark.ml.feature import BucketedRandomProjectionLSH

        feat = self._to_vector(df, vec_col)
        lsh = BucketedRandomProjectionLSH(
            inputCol="__features",
            outputCol="__hashes",
            bucketLength=self.bucket_length,
            numHashTables=self.num_hash_tables,
            seed=42,
        )
        self.model = lsh.fit(feat)
        # persist the transformed corpus: every probe/join references
        # it (a self-join references it TWICE), and its lineage holds
        # the normalize+hash higher-order expressions — without the
        # persist approxSimilarityJoin re-derives both sides from raw
        # parquet (measured 7.2 s -> 3.5 s warm at sf0.1)
        from ..caching import persist_tracked

        self._fitted_df = persist_tracked(self.model.transform(feat))
        return self

    def query(self, vec: Sequence[float], k: int = 10) -> DataFrame:
        import numpy as np
        from pyspark.ml.linalg import Vectors

        v = np.asarray(vec, dtype="float64")
        n = float(np.linalg.norm(v))
        # zero query vector stays zero (the l2_normalize contract) —
        # numpy's v/0.0 would hand MLlib an all-NaN probe vector
        if n:
            v = v / n
        res = self.model.approxNearestNeighbors(self._fitted_df, Vectors.dense(v), k)
        return res.drop("__features", "__hashes")

    def similarity_join(self, other_fitted: DataFrame, max_cos_dist: float) -> DataFrame:
        # cosine distance -> euclidean threshold on unit sphere
        eucl = float((2.0 * max_cos_dist) ** 0.5)
        return self.model.approxSimilarityJoin(
            self._fitted_df, other_fitted, eucl, distCol="eucl_dist"
        )

    def similarity_self_join(
        self, max_cos_dist: float, id_col: str = "vec_id"
    ) -> DataFrame:
        """Corpus×corpus near-neighbor pairs (id_a < id_b) within a
        cosine-distance threshold — the Q2/Q3 similarity-JOIN surface
        the reference's index DDL implies (streamlit_app.py:49). LSH
        bucketing makes candidate generation sub-quadratic (pairs only
        meet if they share a bucket in SOME hash table); the exact
        euclidean filter inside approxSimilarityJoin keeps precision
        exact, so only recall is approximate."""
        joined = self.similarity_join(self._fitted_df, max_cos_dist)
        return (
            joined.select(
                F.col(f"datasetA.{id_col}").alias("id_a"),
                F.col(f"datasetB.{id_col}").alias("id_b"),
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )


def random_projection_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    out_col: str = "bucket",
) -> DataFrame:
    """Signed-random-projection bucket id (0 .. 2^n_planes-1) as a pure
    SQL expression — a blocking key for embedding near-dup joins.
    Plane p component j = md5_int('plane:p:j') folded to [-1,1].

    The plane weights are CONSTANTS, so they are computed once
    driver-side (md5_int_py is the exact integer twin of the SQL
    md5_int, and the /MAX24*2-1 fold is the same IEEE double ops) and
    embedded as literal arrays. The previous form rebuilt the weights
    inside a transform() per row — dim * n_planes md5 hashes per
    vector, interpreted: at sf0.1 that was ~4 M md5 calls per pass and
    ~5 s of the semantic_dedup wall. Buckets are bit-identical: the
    projection fold order (left-to-right aggregate over zip_with) is
    unchanged.
    """
    from ..functions.hashing import md5_int_py

    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        weights = [
            md5_int_py(f"plane:{p}:{j}") / MAX24 * 2.0 - 1.0 for j in range(dim)
        ]
        plane = F.array(*[F.lit(float(w)) for w in weights])
        proj = F.aggregate(
            F.zip_with(F.col(vec_col), plane, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(2**p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return df.withColumn(out_col, bucket)


def int8_codes_of(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    extra_cols: tuple[str, ...] = ("label",),
) -> DataFrame:
    """Project a float-vector table to its int8 codes table
    (id, extras, codes): per-vector symmetric scale, round-clamp to
    [-127, 127] (functions/vector.int8_quantize — HALF_UP matches
    DuckDB's half-away-from-zero). This is the 4x-smaller column a
    serving deployment persists next to the vectors."""
    return emb.select(id_col, *extra_cols, int8_codes_col(vec_col))


def int8_codes_col(vec_col: str = "embedding"):
    """The symmetric-int8 codes expression as a Column (aliased
    ``codes``) — for builds that persist the codes alongside other
    columns (rag_pipeline's chunk-vector store) and for
    int8_codes_of's projection."""
    from ..functions.vector import int8_quantize

    v = F.transform(vec_col, lambda x: x.cast("double"))
    scale = (
        F.greatest(
            F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-12)
        )
        / F.lit(127.0)
    )
    return int8_quantize(v, scale).alias("codes")


def persisted_int8_codes(
    spark,
    sf_dir: str,
    emb: DataFrame,
    extra_cols: tuple[str, ...] = ("label",),
    tag: str = "int8",
) -> DataFrame:
    """Fingerprint-keyed persisted int8 codes table — the build/probe
    split for quantized prefilter serving: built once per corpus
    version, then every query's stage-1 scan reads THIS parquet (4x
    less I/O than the float column) and never touches the vectors.
    Staleness/crash-safety via store.persisted_result (round-8
    consolidation); the salt folds in a code token of the vector
    functions + this module so a quantization-kernel change rebuilds
    the codes instead of serving the old derivation."""
    from ..io import table_path
    from ..store import persisted_result

    salt = f"int8:{','.join(extra_cols)}:{tag}:{_ann_code_token()}"
    fp = dataset_fingerprint(table_path(sf_dir, "embeddings"), salt=salt)
    return persisted_result(
        spark,
        f"int8codes_{dataset_dir_key(sf_dir)}_{tag}",
        fp,
        lambda: int8_codes_of(emb, extra_cols=extra_cols),
    )


def quantized_candidates(
    codes: DataFrame,
    query: DataFrame,
    cand_k: int = 50,
    id_col: str = "vec_id",
    query_vec_col: str = "qv",
    extra_cols: tuple[str, ...] = ("label",),
) -> DataFrame:
    """Stage 1 of quantized re-rank serving (lazy): exact integer dot
    product of the corpus codes against the query's codes, keep the
    ``cand_k`` best (ties to min id — fully deterministic). The scan
    touches ONLY the codes table; lowers to TakeOrderedAndProject
    (partition-local top-k + driver merge, plan-asserted in tests)."""
    from ..functions.vector import int8_quantize

    qv = F.transform(query_vec_col, lambda x: x.cast("double"))
    qscale = (
        F.greatest(
            F.array_max(F.transform(qv, lambda x: F.abs(x))), F.lit(1e-12)
        )
        / F.lit(127.0)
    )
    qcoded = query.select(int8_quantize(qv, qscale).alias("__qcodes"))
    # integer dot product over codes: exact, overflow-safe in long
    # (|code| <= 127, so dim 384 tops out at ~6.2e6)
    q_dot = F.aggregate(
        F.zip_with("codes", "__qcodes", lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return (
        codes.crossJoin(F.broadcast(qcoded))
        .withColumn("q_dot", q_dot)
        .orderBy(F.desc("q_dot"), id_col)
        .limit(cand_k)
        .select(id_col, *extra_cols, "q_dot")
    )


def quantized_rerank_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    cand_k: int = 50,
    codes: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    extra_cols: tuple[str, ...] = ("label",),
    query_vec_col: str = "qv",
) -> DataFrame:
    """Two-stage int8-prefilter + exact re-rank top-k — the
    memory-bandwidth serving shape, executed as build/probe:

    - stage 1 (``quantized_candidates``) scans the int8 ``codes``
      table (pass the persisted_int8_codes store — 4x less I/O than
      the float column; derived in-scan from ``emb`` only as a
      convenience fallback when ``codes`` is None) and keeps the
      ``cand_k`` best integer dot products;
    - the ``cand_k`` candidate rows are collected to the driver
      (bounded by cand_k — same class as the k-centroid collect in
      IvfIndex) so stage 2 can push an ``isin`` on the ids INTO the
      vector scan: at 100 TB the re-fetch reads only the row groups
      containing the candidates, never the corpus;
    - stage 2 re-scores those rows with exact double cosine and
      returns the top ``k`` (ties to min id).

    ``query`` must be a 1-row DataFrame with a ``query_vec_col`` array
    column. Every step is pure SQL shared bit-for-bit with the DuckDB
    oracle (quantization: functions/vector.int8_quantize).
    """
    from ..functions.vector import cosine

    if codes is None:
        codes = int8_codes_of(
            emb, vec_col=vec_col, id_col=id_col, extra_cols=extra_cols
        )
    cands = quantized_candidates(
        codes,
        query,
        cand_k=cand_k,
        id_col=id_col,
        query_vec_col=query_vec_col,
        extra_cols=extra_cols,
    )
    rows = cands.collect()  # cand_k rows — bounded, documented above
    spark = emb.sparkSession
    lit = F.broadcast(spark.createDataFrame(rows, schema=cands.schema))
    fetched = emb.filter(
        F.col(id_col).isin([r[id_col] for r in rows])
    ).select(id_col, F.transform(vec_col, lambda x: x.cast("double")).alias("__v"))
    qv_d = query.select(
        F.transform(query_vec_col, lambda x: x.cast("double")).alias("__qv")
    )
    return (
        fetched.join(lit, id_col)
        .crossJoin(F.broadcast(qv_d))
        .withColumn("score", cosine(F.col("__v"), F.col("__qv")))
        .orderBy(F.desc("score"), id_col)
        .limit(k)
        .select(id_col, *extra_cols, "q_dot", "score")
    )


# ---------------- binary (sign-bit) quantization ----------------

# 32 bits per packed word: every shift stays < 32, so the words are
# overflow-safe plain BIGINTs with identical arithmetic in Spark and
# DuckDB (a 64-bit pack would make bit 63 sign-ambiguous across
# engines).
BIN_WORD_BITS = 32


def binary_codes_of(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    extra_cols: tuple[str, ...] = ("label",),
    dim: int = 64,
    word_bits: int = BIN_WORD_BITS,
) -> DataFrame:
    """Sign-bit binary quantization: one bit per dimension
    (``vec[i] > 0``) packed into ``word_bits``-wide words stored as
    longs — a 32x-smaller column than the floats, the cheapest
    Hamming-space prefilter a vector store serves from. Pure codegen'd
    conditional sums; no UDF, no shuffle."""
    v = F.col(vec_col)
    n_words = (dim + word_bits - 1) // word_bits
    words = []
    for j in range(n_words):
        w = F.lit(0).cast("long")
        for i in range(word_bits):
            idx = j * word_bits + i
            if idx >= dim:
                break
            w = w + F.when(v[idx] > 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        # stamp the packing layout on w0 as column metadata — Spark
        # round-trips field metadata through parquet, so a persisted
        # codes table carries its OWN (dim, word_bits) and a probe can
        # refuse a misaligned layout even when the word-column NAMES
        # coincide, e.g. (dim=32, word_bits=16) vs (dim=64,
        # word_bits=32) both yield {w0, w1} (r10 ADVICE).
        meta = {"dim": dim, "word_bits": word_bits} if j == 0 else None
        words.append(w.alias(f"w{j}", metadata=meta))
    return emb.select(id_col, *extra_cols, *words)


def persisted_binary_codes(
    spark: SparkSession,
    sf_dir: str,
    emb: DataFrame,
    extra_cols: tuple[str, ...] = ("label",),
    dim: int = 64,
    tag: str = "bin",
) -> DataFrame:
    """Fingerprint-keyed persisted binary-codes table (the
    persisted_int8_codes contract at 32x compression): stage-1 Hamming
    scans read THIS parquet and never touch the float column. Same
    store.persisted_result protocol + code-token salt as the int8
    table."""
    from ..io import table_path
    from ..store import persisted_result

    salt = (
        f"bin:{','.join(extra_cols)}:{dim}:{BIN_WORD_BITS}:{tag}:"
        f"{_ann_code_token()}"
    )
    fp = dataset_fingerprint(table_path(sf_dir, "embeddings"), salt=salt)
    return persisted_result(
        spark,
        f"bincodes_{dataset_dir_key(sf_dir)}_{tag}",
        fp,
        lambda: binary_codes_of(emb, extra_cols=extra_cols, dim=dim),
    )


def binary_candidates(
    codes: DataFrame,
    query: DataFrame,
    cand_k: int = 50,
    id_col: str = "vec_id",
    extra_cols: tuple[str, ...] = ("label",),
    dim: int = 64,
    query_vec_col: str = "qv",
    word_bits: int = BIN_WORD_BITS,
) -> DataFrame:
    """Stage 1 of binary re-rank serving: Hamming distance =
    sum_j bit_count(w_j XOR qw_j) over the packed words, keep the
    ``cand_k`` nearest (ties to min id). The scan touches only the
    codes table; the cut lowers to TakeOrderedAndProject.

    ``word_bits`` MUST match the packing the codes table was built
    with (r10 review: a hardcoded constant here against a
    parameterized binary_codes_of silently XOR'd misaligned bit
    layouts and ignored the extra words of a narrower packing —
    garbage distances, no error)."""
    n_words = (dim + word_bits - 1) // word_bits
    qcodes = binary_codes_of(
        query.select(F.lit(-1).alias("__qid"), F.col(query_vec_col)),
        vec_col=query_vec_col,
        id_col="__qid",
        extra_cols=(),
        dim=dim,
        word_bits=word_bits,
    ).select(*[F.col(f"w{j}").alias(f"qw{j}") for j in range(n_words)])
    import re as _re

    want = {f"w{j}" for j in range(n_words)}
    have = {c for c in codes.columns if _re.fullmatch(r"w\d+", c)}
    if want != have:
        raise ValueError(
            f"binary_candidates: probe expects words {sorted(want)} but "
            f"the codes table carries {sorted(have)} — built with "
            f"different dim/word_bits than probed"
        )
    # the name check alone passes when two different layouts share a
    # word COUNT — (dim=32, word_bits=16) vs (dim=64, word_bits=32)
    # both carry {w0, w1} yet XOR misaligned bit layouts (r10 ADVICE).
    # binary_codes_of stamps (dim, word_bits) on w0's column metadata
    # and parquet round-trips it, so a persisted table self-describes;
    # validate the values, not just the count.
    built = codes.schema["w0"].metadata or {}
    for name, probed in (("dim", dim), ("word_bits", word_bits)):
        if name in built and int(built[name]) != probed:
            raise ValueError(
                f"binary_candidates: codes table was packed with "
                f"{name}={int(built[name])} but probed with {name}="
                f"{probed} — Hamming distances would be computed over "
                f"misaligned bit layouts"
            )
    ham = F.lit(0)
    for j in range(n_words):
        ham = ham + F.bit_count(F.col(f"w{j}").bitwiseXOR(F.col(f"qw{j}")))
    return (
        codes.crossJoin(F.broadcast(qcodes))
        .withColumn("hamming", ham.cast("int"))
        .orderBy("hamming", id_col)
        .limit(cand_k)
        .select(id_col, *extra_cols, "hamming")
    )


def binary_rerank_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    cand_k: int = 50,
    codes: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    extra_cols: tuple[str, ...] = ("label",),
    query_vec_col: str = "qv",
    dim: int = 64,
    word_bits: int = BIN_WORD_BITS,
) -> DataFrame:
    """Two-stage binary-prefilter + exact re-rank top-k (the
    quantized_rerank_topk contract at 32x compression): stage 1 scans
    the packed sign-bit codes and keeps the ``cand_k``
    Hamming-nearest; the bounded candidate ids are collected so stage
    2 pushes an ``isin`` into the vector scan and re-scores with exact
    double cosine. Seed-free and fully SQL — the DuckDB oracle replays
    both stages bit-for-bit. ``word_bits`` must match the packing of a
    caller-supplied ``codes`` table (see binary_candidates)."""
    if codes is None:
        codes = binary_codes_of(
            emb, vec_col=vec_col, id_col=id_col, extra_cols=extra_cols,
            dim=dim, word_bits=word_bits,
        )
    cands = binary_candidates(
        codes,
        query,
        cand_k=cand_k,
        id_col=id_col,
        extra_cols=extra_cols,
        dim=dim,
        query_vec_col=query_vec_col,
        word_bits=word_bits,
    )
    rows = cands.collect()  # cand_k rows — bounded, same class as int8 path
    spark = emb.sparkSession
    lit = F.broadcast(spark.createDataFrame(rows, schema=cands.schema))
    fetched = emb.filter(
        F.col(id_col).isin([r[id_col] for r in rows])
    ).select(id_col, F.transform(vec_col, lambda x: x.cast("double")).alias("__v"))
    qv_d = query.select(
        F.transform(query_vec_col, lambda x: x.cast("double")).alias("__qv")
    )
    return (
        fetched.join(lit, id_col)
        .crossJoin(F.broadcast(qv_d))
        .withColumn("score", cosine(F.col("__v"), F.col("__qv")))
        .orderBy(F.desc("score"), id_col)
        .limit(k)
        .select(id_col, *extra_cols, "hamming", "score")
    )
