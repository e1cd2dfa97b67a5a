"""Q1-Q5 — the query surface implied by the reference's index DDL
(``create_index(dimension=384, metric='cosine')``,
`streamlit_app.py:49`): cosine top-k, batch kNN similarity join,
metadata-filtered search, ANN, point fetch/delete.

Physical shapes (what .explain should show):

- Q1 single-query top-k: scan -> project(score) -> TakeOrderedAndProject.
  No shuffle of the corpus. The score is one SQL expression
  (:func:`functions.vector.cosine_to`): the query vector is one literal,
  its norm is folded once on the driver, and each row costs two folds
  (dot with the literal, own squared norm) — bit-identical to the
  three-fold column cosine. It stays in the JVM: a Python-executed job
  carries ~150-200 ms of fixed cost, more than the whole query.
- Q2 batch kNN: scan -> MapInArrow (exact per-partition kernel) ->
  window row_number per query <= k. The small query batch is collected
  once and rides in the task closure; each corpus Arrow batch is scored
  against all queries by a NumPy left fold that is bit-identical to the
  SQL cosine (same fold order, same IEEE ops, no FMA in either engine),
  and only a running k best per query and partition reaches the
  window's shuffle. No join, and the corpus never shuffles.
- Q4 filtered search: plain .filter() BEFORE scoring — Catalyst pushes
  it into the parquet scan (PushedFilters) and prunes partitions when
  the table is partitioned by the metadata column.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DoubleType, StructField, StructType

from ..functions.vector import cosine_to


def topk_cosine(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    predicate: Column | None = None,
    score_col: str = "score",
) -> DataFrame:
    """Q1 — cosine top-k for one query vector, with optional metadata
    predicate (Q4). Scan -> (pushed) filter -> score -> top-k; the
    orderBy+limit lowers to TakeOrderedAndProject (no full sort).
    """
    if predicate is not None:
        corpus = corpus.filter(predicate)
    scored = corpus.withColumn(score_col, cosine_to(vec_col, query_vec))
    return scored.orderBy(F.desc(score_col), *_tiebreak(corpus)).limit(k)


def _tiebreak(df: DataFrame) -> list[Column]:
    """Deterministic tiebreak for equal scores: first id-ish column."""
    for c in ("vec_id", "id", "doc_id"):
        if c in df.columns:
            return [F.col(c)]
    return []


def _dense_rows(vecs: pa.Array):
    """(row indices, float64 matrix) per vector width of an Arrow
    ``list<float|double>`` array, leaving out null vectors and vectors
    with a null element: their cosine is NULL, as ``zip_with``'s null
    product makes it. Reads the Arrow buffers, not pandas, which would
    turn a null element into NaN (whose cosine is NaN, not NULL)."""
    off = vecs.offsets.to_numpy()
    width = np.diff(off)
    ok = vecs.is_valid().to_numpy(zero_copy_only=False)
    if vecs.values.null_count:
        nulls = np.cumsum(np.r_[0, vecs.values.is_null().to_numpy(zero_copy_only=False)])
        ok &= nulls[off[1:]] == nulls[off[:-1]]
    vals = vecs.values.to_numpy(zero_copy_only=False).astype("float64", copy=False)
    for w in np.unique(width[ok]):
        rows = np.flatnonzero(ok & (width == w))
        if len(rows) == len(vecs):  # one contiguous block: no gather
            yield rows, vals[off[0] : off[-1]].reshape(len(rows), w)
        else:
            yield rows, vals[off[rows, None] + np.arange(w)]


def cosine_fold(M: np.ndarray, Q: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Exact cosine of every query row of ``Q`` against every row of
    ``M`` (both float64, same width): a (|Q| x |M|) score matrix and
    the mask of its NULL cells (zero denominator, the ``try_divide``
    contract of :func:`functions.vector.cosine`).

    Bit-identical to that expression: every dot product is the same
    sequential left fold ``0.0 + x0*y0 + x1*y1 + ...``, here evaluated
    one dimension at a time across all rows with elementwise NumPy ops.
    Both engines do the same IEEE double multiplies, adds and square
    roots in the same order, and neither fuses a multiply-add."""
    MT = np.ascontiguousarray(M.T)
    ab = np.zeros((len(Q), len(M)))
    aa = np.zeros(len(M))
    qq = np.zeros(len(Q))
    for j in range(len(MT)):
        ab += Q[:, j, None] * MT[j]
        aa += MT[j] * MT[j]
        qq += Q[:, j] * Q[:, j]
    den = np.sqrt(aa) * np.sqrt(qq)[:, None]
    with np.errstate(divide="ignore", invalid="ignore"):
        return ab / den, den == 0


def _first_k(t: pa.Table, k: int) -> pa.Table:
    """The first k rows per query ``q`` of (q, key, cls, id, score)
    rows, in the window's order (see :func:`knn_partials`); null ids
    first, as Spark's ascending order puts them."""
    t = t.sort_by(
        [("q", "ascending"), ("key", "ascending"), ("cls", "ascending"), ("id", "ascending")],
        null_placement="at_start",
    )
    q = t["q"].to_numpy()
    return t.filter(np.arange(len(q)) - np.searchsorted(q, q) < k)


def knn_partials(qids: pa.Array, qvecs: pa.Array, k: int):
    """Per-partition half of :func:`knn_join`, for ``mapInArrow`` over
    (corpus id, corpus vector): score each Arrow batch against every
    query (ids ``qids``, vectors ``qvecs``) with :func:`cosine_fold`,
    keep a running k best per query, and emit (query id, corpus id,
    score) for the survivors. Memory is one batch plus k rows per query.

    The order is the window's (score DESC, id ASC) as Spark sorts it:
    NaN first, NULL last. ``key`` maps it onto one ascending double
    (NaN -inf, NULL +inf) and ``cls`` (NaN 0, number 1, NULL 2) breaks
    the ties that mapping could make. A batch's rows whose key is past
    a query's k-th smallest cannot make the cut and are dropped before
    the exact sort."""
    queries = {M.shape[1]: (rows, M) for rows, M in _dense_rows(qvecs)}
    nq = len(qids)

    def partials(batches):
        keep = None
        for b in batches:
            n = b.num_rows
            if not (n and nq and k > 0):
                continue
            score = np.full((nq, n), np.nan)
            null = np.ones((nq, n), dtype=bool)
            for rows, M in _dense_rows(b.column(1)):
                if M.shape[1] in queries:
                    qrows, Q = queries[M.shape[1]]
                    cell = np.ix_(qrows, rows)
                    score[cell], null[cell] = cosine_fold(M, Q)
            cls = np.where(null, 2, np.where(np.isnan(score), 0, 1))
            key = np.where(cls == 1, -score, np.where(null, np.inf, -np.inf))
            kth = np.partition(key, min(k, n) - 1, axis=1)[:, min(k, n) - 1, None]
            qi, ri = np.nonzero(key <= kth)
            t = pa.table({
                "q": qi, "key": key[qi, ri], "cls": cls[qi, ri], "id": b.column(0).take(ri),
                "score": pa.array(score[qi, ri], mask=null[qi, ri]),
            })
            keep = _first_k(t if keep is None else pa.concat_tables([keep, t]), k)
        if keep is not None and keep.num_rows:
            out = [qids.take(keep["q"].to_numpy()), keep["id"], keep["score"]]
            yield from pa.table(out, names=["query_id", "corpus_id", "score"]).to_batches()

    return partials


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Q2 — exact batch kNN: top-k corpus rows per query row.

    The query batch is the small side by contract (a batch of search
    requests vs a 100 TB corpus): it is collected once, when this is
    called (one job at most), and travels in the task closure. One shuffle-free ``mapInArrow`` over
    the corpus (:func:`knn_partials`) scores each Arrow batch against
    all queries with the exact NumPy kernel :func:`cosine_fold` and
    keeps a running k best per query, so the window's shuffle carries
    at most k * partitions * |queries| narrow rows. The scores are
    bit-identical to :func:`functions.vector.cosine` (same left-fold
    order, same IEEE ops, no FMA in either engine), so the survivors
    are exactly the rows the per-query ``row_number`` window would keep
    from the full cross product.
    """
    score = StructField(score_col, DoubleType())
    schema = StructType([queries.schema[query_id], corpus.schema[corpus_id], score])
    # collect(), not toArrow(): a local query batch collects without a job
    rows = queries.select(query_id, query_vec).collect()
    qids = pa.array([r[0] for r in rows], to_arrow_type(schema[0].dataType))
    qvecs = pa.array([r[1] for r in rows], pa.list_(pa.float64()))
    reduced = corpus.select(corpus_id, corpus_vec).mapInArrow(
        knn_partials(qids, qvecs, k), schema
    )
    w = Window.partitionBy(query_id).orderBy(F.desc(score_col), F.col(corpus_id))
    return (
        reduced.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, score_col, "rank")
    )


def filtered_topk(
    corpus: DataFrame,
    query_vec: Sequence[float],
    predicate: Column,
    k: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """Q4 — metadata-filtered search = Q1 with a pushed-down predicate."""
    return topk_cosine(corpus, query_vec, k=k, vec_col=vec_col, predicate=predicate)


def rrf_fuse(
    legs: Sequence[tuple[str, DataFrame]],
    id_col: str = "doc_id",
    k_const: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009, the standard hybrid
    keyword+vector merge): each leg contributes 1/(k_const + rank) for
    the ids it ranked; missing legs contribute 0. Returns the fused
    top-``topk`` with per-leg ranks and a dense ``fused_rank``.

    Each leg DataFrame carries (id_col, rank) for its OWN top-k only,
    so the fuse operates on a candidate set bounded by
    sum(leg sizes) — the full-outer join and the final window run on
    at most a few dozen rows regardless of corpus size (the corpus-
    scale work happened upstream in the legs)."""
    fused: DataFrame | None = None
    for name, leg in legs:
        sel = leg.select(F.col(id_col), F.col("rank").alias(f"{name}_rank"))
        fused = sel if fused is None else fused.join(sel, id_col, "full_outer")
    score: Column | None = None
    for name, _ in legs:
        c = F.when(
            F.col(f"{name}_rank").isNotNull(),
            F.lit(1.0) / (F.lit(float(k_const)) + F.col(f"{name}_rank")),
        ).otherwise(F.lit(0.0))
        score = c if score is None else score + c
    w = Window.orderBy(F.desc("rrf_score"), F.col(id_col))
    return (
        fused.withColumn("rrf_score", F.round(score, 6))
        .withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= topk)
    )


def ranked_topk(
    scored: DataFrame, score_col: str, id_col: str, k: int
) -> DataFrame:
    """Top-``k`` rows by (score desc, id asc) with a 1-based ``rank``
    column. The cut lowers to TakeOrderedAndProject (no full sort);
    the rank window then runs on the k-row result only — never on the
    corpus — so this is safe as a leg-builder at any corpus size."""
    top = scored.orderBy(F.desc(score_col), F.col(id_col)).limit(k)
    w = Window.orderBy(F.desc(score_col), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(w))


def fetch_by_ids(corpus: DataFrame, ids: Sequence, id_col: str = "vec_id") -> DataFrame:
    """Q5 fetch — point lookup; isin pushes to the scan."""
    return corpus.filter(F.col(id_col).isin(list(ids)))


def delete_by_ids(corpus: DataFrame, ids: Sequence, id_col: str = "vec_id") -> DataFrame:
    """Q5 delete — anti-join rewrite (no Delta in this container); at
    cluster scale this is `MERGE ... WHEN MATCHED DELETE` on Delta."""
    return corpus.filter(~F.col(id_col).isin(list(ids)))


def mmr_select(
    cand: DataFrame,
    k: int,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    simq_col: str = "simq",
    carry_cols: tuple[str, ...] = (),
) -> list[tuple]:
    """Maximal Marginal Relevance re-ranking over a candidate pool:
    greedily pick k items maximizing
    ``lam * sim(query, d) - (1 - lam) * max_{s in selected} sim(d, s)``
    — the standard diversity-aware retrieval pass that runs AFTER a
    distributed top-N candidate scan (the pool is result-scale by
    construction; the corpus work already happened upstream).

    Determinism contract shared with the DuckDB oracle: both the
    query-similarity and all pairwise similarities are rounded to 9 dp
    BEFORE any comparison, the MMR score is re-rounded to 9 dp, and
    argmax ties break on the id — so K greedy rounds are bit-stable
    cross-engine (same discipline as pagerank's rounded power
    iteration).

    Execution shape: ALL vector arithmetic (the pairwise cosines) is
    one distributed self-join over the bounded pool, collected once
    together with the pool rows — pool-scale data, the same class as
    the IVF centroid collect. The K greedy rounds then run
    driver-side over those already-Spark-computed 9 dp values: per
    round the only arithmetic is lam*simq - (1-lam)*pen (identical
    IEEE doubles in Python) re-rounded via Decimal(repr(x)) HALF_UP,
    which matches Spark's BigDecimal.valueOf(double) round. Parity
    caveat: BigDecimal.valueOf goes through Double.toString, which is
    guaranteed shortest-round-trip (= Python's repr) only on JDK >= 19
    (JDK-4511638); on older JDKs a longer digit string could in theory
    flip a HALF_UP boundary at the 10th digit.
    tests/test_search.py::test_round9_matches_spark_round pins the
    equivalence executable on whatever JDK is present, over adversarial
    .5-at-1e-9 boundary doubles. (The previous version ran
    each round as its own Spark job: K jobs of pure scheduling
    overhead over a <=pool-size table, ~0.5 s/round at local scale,
    for arithmetic identical to this.)

    Returns [(rank, id, simq, *carry), ...] — driver-side,
    pool-scale. ``carry_cols`` (r12): extra pool columns returned per
    selected row, riding the SAME pool collect — a caller needing
    result metadata (the RAG capstone's doc_id/chunk_index/source) avoids
    a whole extra Spark join action on the 10-row output (~1s of pure
    scheduling overhead at local scale; at serving scale it is one
    fewer cluster round-trip on the query path).
    """
    from decimal import ROUND_HALF_UP, Decimal

    from ..caching import persist_tracked
    from ..functions.vector import cosine as _cos

    # the pool is referenced three times (both self-join sides + the
    # pool collect); persist it so the upstream candidate scan — at
    # serving scale the expensive part — executes once
    cand = persist_tracked(cand)
    a = cand.alias("a")
    b = cand.alias("b")
    va = F.transform(f"a.{vec_col}", lambda x: x.cast("double"))
    vb = F.transform(f"b.{vec_col}", lambda x: x.cast("double"))
    pair_rows = (
        a.join(b, F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("ia"),
            F.col(f"b.{id_col}").alias("ib"),
            F.round(_cos(va, vb), 9).alias("sim"),
        )
        .collect()
    )
    pool_rows = cand.select(id_col, simq_col, *carry_cols).collect()
    pool = [(r[id_col], r[simq_col]) for r in pool_rows]
    carry = {r[id_col]: tuple(r[c] for c in carry_cols) for r in pool_rows}
    # unique-id precondition (ADVICE r12): duplicate pool ids would
    # silently keep the LAST row's carry metadata (and collapse the
    # greedy `remaining` dict) while pair similarities keyed (ia, ib)
    # conflate the duplicates — refuse rather than misattribute
    if len(carry) != len(pool_rows):
        raise ValueError(
            f"mmr_select: candidate pool ids must be unique "
            f"({len(pool_rows)} rows, {len(carry)} distinct {id_col})"
        )
    sim = {(r["ia"], r["ib"]): r["sim"] for r in pair_rows}
    q9 = Decimal("0.000000001")

    def round9(x: float) -> float:
        return float(Decimal(repr(x)).quantize(q9, rounding=ROUND_HALF_UP))

    one_m = 1.0 - lam
    selected: list[tuple] = []
    remaining = dict(pool)
    for rank in range(1, k + 1):
        if not remaining:
            break
        best = None
        for cid, simq in remaining.items():
            # Undefined similarity makes the candidate unselectable —
            # DETERMINISTICALLY (r14 wave 8): a zero-norm vector now
            # yields NULL cosine (functions/vector.cosine try_divide),
            # which reaches this loop as None — the old
            # ``max(gen, default=0.0)`` fold crashed on None and was
            # order-dependent on NaN (Python's max keeps the first
            # maximal element, so a NaN could be masked by a later
            # finite value). The explicit scan gives NaN/None one
            # fate: skip in THIS and every later round — matching
            # "never preferred over any finite score" (Spark sorts
            # NULL/NaN last under descending order).
            if simq is None or simq != simq:
                continue
            # pen = max over selected (may be NEGATIVE — the 0.0
            # default applies only to an empty selection, exactly the
            # old max(..., default=0.0) semantics the oracle replays)
            pen = None
            undefined = False
            for s in selected:
                v = sim.get((cid, s[1]), 0.0)
                if v is None or v != v:
                    undefined = True
                    break
                if pen is None or v > pen:
                    pen = v
            if undefined:
                continue
            mmr = round9(lam * simq - one_m * (0.0 if pen is None else pen))
            key = (-mmr, cid)
            if best is None or key < best[0]:
                best = (key, cid, simq)
        if best is None:
            break
        selected.append((rank, best[1], best[2], *carry[best[1]]))
        del remaining[best[1]]
    return selected
