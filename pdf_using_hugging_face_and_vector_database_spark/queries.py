"""Named engine queries — the driver-facing surface.

Every function takes ``(spark, sf_dir)`` and returns a DataFrame;
``__spark_entry__.queries()`` exposes this registry and
``oracle.py`` holds the matching DuckDB SQL (generated from the SAME
constants, so formulas can't drift apart).

Naming discipline: every computed column is aliased identically here
and in the oracle — the driver sorts columns by name before hashing.
Floats that cross an aggregation/score boundary are rounded to 6
decimals in both engines; everything upstream of the rounding is
bit-identical arithmetic (see functions/hashing.py).
"""

from __future__ import annotations

import math as _math
from decimal import Decimal as _Decimal

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.hashing import det_embed_py
from .functions.text import LANG_MARKERS
from .functions.vector import cosine, cosine_to
from .io import read_table
from .operators.chunker import chunk_stride
from .operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    minhash_candidate_pairs,
)
from .operators.embedder import embed_deterministic
from .operators.ids import with_metadata, with_vector_id
from .operators.search import knn_join, topk_cosine
from .operators.text_analysis import corpus_rollup, doc_stats, fingerprint, language_id

# ---- shared constants (oracle.py imports these — single source) ----
CHUNK_SIZE = 120          # small enough that fixture docs multi-chunk
CHUNK_OVERLAP = 20
EMBED_DIM = 64            # matches the embeddings fixture space
# 4 rows per band: band-match prob = J^4 — selective enough that the
# shared-vocab corpus doesn't produce quadratic hot buckets (2-row
# bands gave a 1567-doc bucket = 1.2M candidate pairs at sf0.1)
MINHASH_HASHES = 16
MINHASH_BANDS = 4
NGRAM = 7  # 4-gram shingles are non-selective on the shared-vocab corpus
WORD_NGRAM = 3  # word-shingle width for the jaccard-verify pipeline
NEARDUP_TRUNC = 10        # chars dropped to synthesize near-dup docs
# 48-bit SimHash, 4x12-bit chunks, Hamming<=3: narrower fingerprints
# drown in false positives on the shared-vocab fixture (see
# operators/dedup.simhash_agg); chunks > max_hamming is the pigeonhole
# completeness condition for the banded Hamming join.
SIMHASH_BITS = 48
SIMHASH_CHUNKS = 4
SIMHASH_MAXH = 3
QUERY_TEXT = "spark vector search query"
KNN_QUERIES = 5
KNN_K = 3
FETCH_IDS = (3, 7, 11, 42)
Q4_LABELS = (1, 3, 5)
DEC = "decimal(27,6)"     # exact-sum carrier for double aggregations
# IVF sizing. The recall gate runs on a label-clustered corpus derived
# from the fixture (centroid(label) + ALPHA*embedding): the raw fixture
# is uniform on the sphere, where ANY index's recall equals its scan
# fraction by construction — no signal. alpha=0.6 measured: recall 1.0
# at nprobe 3-4 while scanning ~20-30% at sf0.01 AND sf0.1.
ANN_CELLS = 16
ANN_NPROBE = 6
ANN_RECALL_NPROBE = 4
ANN_RECALL_K = 10
ANN_ALPHA = 0.6
ANN_N_LABELS = 10         # fixture label cardinality (0..9, all SFs)
# LSH similarity-join sizing: cosine>=0.45 keeps the exact pair set
# small but non-trivial on the uniform-sphere fixture (14 pairs at
# sf0.01, 144 at sf0.1 — measured in DuckDB). bucket_length/tables
# re-swept round 7 (seed fixed, so recall is deterministic per SF):
# the r4 pick 1.0/4 was DEGENERATE on the unit sphere — projections
# land in ~2 buckets per table, so the "LSH" join was distance-
# filtering nearly all n² candidate pairs (that was the 4.1-4.8 s
# profiled inside approxSimilarityJoin, r6 verdict). 0.1/8 makes the
# buckets real: measured recall 1.0 @ sf0.001+sf0.01 and 0.993 @
# sf0.1 against the 0.9 gate, join ~2x faster at sf0.1; 0.3/4 was
# rejected (recall 0.857 @ sf0.001 — under the gate).
ANN_JOIN_COS = 0.45
ANN_JOIN_BUCKET_LEN = 0.1
ANN_JOIN_TABLES = 8
ANN_RERANK_CAND = 50      # int8-prefilter candidate pool for re-rank
BIN_CAND = 50             # binary-prefilter candidate pool
BIN_QUERY_ID = 1          # corpus row serving as the binary-path query
# curation family sizing
PACK_BUDGET = 256         # tokens per packed sequence
PACK_GROUPS = 32          # parallel packing streams (id % PACK_GROUPS)
CONTAM_NGRAM = 8          # word-gram width for decontamination
QUALITY_MIN = 0.95        # capstone quality gate (scores cluster at
                          # 0.8 / 0.9 / 1.0 — no float-boundary risk)
# Gopher-style repetition-filter sizing (calibrated on the fixture:
# top-2-gram char frac spans 0.03-0.33 median 0.07; unique-word frac
# 0.32-0.75 median 0.46; dup-3-gram frac nonzero for 27/500 docs at
# sf0.01 — each threshold splits the corpus non-trivially)
GOPHER_TOP_N = 2
GOPHER_DUP_N = 3
GOPHER_MIN_UNIQUE = 0.35
GOPHER_MAX_TOP2 = 0.10
GOPHER_MAX_DUP3 = 0.05
# cross-doc duplicated-span detection (8-word shingles; 47/500 docs at
# sf0.01 have any cross-doc dup span, all of them >= 50% covered)
CROSSDOC_NGRAM = 8
CROSSDOC_MIN_DOCS = 2
CROSSDOC_FLAG_FRAC = 0.5
# mixture-sampling plan: named per-source percent rates (default for
# the long tail), a per-source doc cap that BINDS at sf0.01 (25
# docs/source -> src0 keeps 15), and 2-epoch upsampling of src0
MIX_RATES = {"src0": 100, "src1": 80, "src2": 60, "src3": 40}
MIX_DEFAULT_RATE = 25
MIX_CAP = 15
MIX_REPEATS = {"src0": 2}
MIX_SALT = "mix:"
# hybrid search: per-leg candidate depth, fused cut, RRF constant
# (60 is the Cormack et al. 2009 default)
HYBRID_LEG_K = 20
HYBRID_K = 10
RRF_KCONST = 60
# corpus segment dedup: 8-token segments (calibrated: 3609 segments /
# 3434 distinct at sf0.01 -> 175 rewrite drops; wider segments halve
# the duplicate signal on the fixture)
SEG_N = 8
# bigram-LM quality bands (fixture xent spread 3.26..3.64, quartiles
# 3.366 / 3.404 -> both thresholds split the corpus non-trivially)
LM_BAND_LOW = 3.37
LM_BAND_MID = 3.41
# events-analytics sizing
FUNNEL_STAGES = ("signup", "view", "click", "purchase")
RETENTION_ANCHOR = "2024-01-01"   # fixed epoch anchor (fixture starts here)
MAD_K = 3.0                       # robust-z outlier cut
MAD_SCALE = 1.4826                # normal-consistency constant
# SemDeDup sizing: 8 projection planes over the label-clustered
# corpus (buckets max ~20 at sf0.01 / ~85 at sf0.1); cos>=0.80 drops
# 74/500 at sf0.01, 713/2000 at sf0.1 — selective, non-trivial
SEMDEDUP_PLANES = 8
SEMDEDUP_COS = 0.80
# TPC-H-class breadth sizing (fixture: orders 1995-2001, qty<=50,
# ~4 items/order -> >170 total qty is a selective large-order cut)
LARGE_ORDER_QTY = 170
Q15_START, Q15_END = "1996-01-01", "1996-04-01"
Q10_START, Q10_END = "1996-01-01", "1996-04-01"
RETENTION_ANCHOR_TPCH = "1995-01-01"
# full-22 TPC-H shape sizing. Thresholds that gate on a per-key TOTAL
# are expressed as fractions of a same-query global aggregate (scalar
# subquery) so they stay selective at every SF — an absolute cutoff
# calibrated at sf0.01 would select everything at sf0.1 and nothing at
# sf10. Per-row cutoffs (quantity, size, dates) are SF-invariant and
# stay absolute.
Q2_REGION = "ASIA"
Q2_MAX_SIZE = 5
Q2_TOPN = 20
Q4_LATE_DAYS = 60                 # ship > order + 60d ~ commit<receipt proxy
Q4_START, Q4_END = "1996-01-01", "1996-04-01"
Q7_NATION_A, Q7_NATION_B = "NATION_1", "NATION_2"
Q7_START, Q7_END = "1996-01-01", "1998-01-01"
Q8_REGION, Q8_NATION, Q8_TYPE = "ASIA", "NATION_3", "PROMO"
Q9_NAME_FRAG = "widget"
Q9_COST_FRAC = 0.1                # retailprice fraction ~ supplycost proxy
Q11_REGION = "EUROPE"
# TPC-H scales Q11's HAVING fraction by 1/SF because the part count
# grows with SF; a mean-relative multiplier is the SF-invariant
# equivalent (1.6x mean == the 0.0008 fraction at sf0.01's 2000 parts)
Q11_MEAN_MULT = 1.6
Q12_SLOW_DAYS = 30
Q12_START, Q12_END = "1996-01-01", "1997-01-01"
Q12_HIGH = ("1-URGENT", "2-HIGH")
Q14_START, Q14_END = "1996-03-01", "1996-04-01"
Q16_EXCL_BRAND = "Brand#1"
Q17_BRAND = "Brand#4"
Q17_QTY_FRAC = 0.5
Q19_BRANCHES = (                  # (brand, size_lo, size_hi, qty_lo, qty_hi)
    ("Brand#12", 1, 10, 1, 15),
    ("Brand#23", 10, 25, 10, 30),
    ("Brand#34", 20, 40, 20, 45),
)
Q20_NAME_PREFIX = "red"
Q20_REGION = "AMERICA"
Q20_VOL_FACTOR = 1.05             # suppliers >5% above mean red volume
Q21_LATE_DAYS = 90
Q21_NATIONS = tuple(f"NATION_{i}" for i in range(1, 6))
Q21_TOPN = 20
Q22_CODE_MOD = 10                 # cntrycode proxy: custkey mod 10
Q22_IDLE_START = "2000-01-01"
# time-series gap-fill: minute grid over the first week of the events
# fixture. The GRID is SF-constant (10080 minutes x event types) while
# density scales with SF, so gaps exist (and the forward-fill path
# executes) at every SF instead of vanishing at sf0.1 the way an
# hourly grid would.
GAPFILL_ANCHOR = "2024-01-01"
GAPFILL_ANCHOR_EPOCH = 1704067200          # 2024-01-01T00:00:00Z
GAPFILL_MINUTES = 7 * 24 * 60

# BPE merge induction: enough rounds to exercise merged-symbol pairs
# (rounds 4/6 on the fixture merge 'er'+'</w>' and 'ow'+'</w>')
BPE_N_MERGES = 6
# DSIR importance resampling: src0 is the target slice. The selection
# cut is the CORPUS MEAN weight (same-query scalar), not an absolute
# number — the weight distribution's location shifts with the fixture
# mix across SFs (an absolute cut measured at sf0.01 selected 93% at
# sf0.1), while above-mean selection stays balanced at every SF.
DSIR_TARGET_SOURCE = "src0"
DSIR_BUCKETS = 64
DSIR_ALPHA = 0.5


def _dsum(col) -> F.Column:
    """Order-independent double sum: route through an exact decimal so
    parallel partial aggregation can't produce run-to-run (or
    cross-engine) float drift."""
    return F.sum(col.cast(DEC)).cast("double")


def _overlap(*thunks):
    """Run INDEPENDENT driver actions concurrently so a later job's
    tasks back-fill the earlier job's straggler tail (optimization
    guide §2.6 — Spark's scheduler happily runs several jobs at once;
    actions are only sequential because driver code calls them
    sequentially). Results are positionally returned. Only for legs
    with no data dependency and no side-effect ordering; values are
    identical to the sequential form by construction (r15
    optimization round).

    Cluster posture (r15 verdict item 3): concurrency is CAPPED AT 2
    in-flight legs — overlapping runs the legs' peak execution memory
    simultaneously, and two concurrent full-table aggregations is the
    worst case this engine submits (datasketch_gates); more than two
    buys no tail-fill and only raises the spill risk. The overlapped
    jobs share the session's default FIFO scheduler pool — the earlier
    leg keeps priority and the later one back-fills idle slots, which
    is exactly the wanted behavior; legs must be bounded gate actions
    (small collects/counts), never unbounded result pulls. A failing
    leg propagates as soon as it fails (FIRST_EXCEPTION) instead of
    hiding behind an earlier slow leg (r15 ADVICE); already-running
    legs still run to completion — Spark driver actions are not
    cancellable mid-job — but no new leg starts after a failure."""
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [pool.submit(t) for t in thunks]
        done, _pending = wait(futures, return_when=FIRST_EXCEPTION)
        for f in done:
            if f.exception() is not None:
                # cancel queued (not-yet-started) legs, then raise the
                # first failure in submission order for determinism
                for p in futures:
                    p.cancel()
                for p in futures:
                    if not p.cancelled() and p.exception() is not None:
                        raise p.exception()
        return [f.result() for f in futures]


# ---------------- vector search (Q1/Q2/Q4/Q5) ----------------

def q1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 — cosine top-10 over the embeddings fixture; the query vector
    is corpus row vec_id=0 (reference read surface, streamlit_app.py:49)."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    scored = emb.crossJoin(F.broadcast(q)).withColumn(
        "score", cosine(F.col("embedding"), F.col("qv"))
    )
    return (
        scored.orderBy(F.desc("score"), "vec_id")
        .limit(10)
        .select("vec_id", "label", F.round("score", 6).alias("score"))
    )


def q2_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 — exact batch kNN: top-3 corpus neighbors per query row
    (exact per-partition NumPy kernel + per-query window top-k)."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    out = knn_join(queries, emb, k=KNN_K)
    return out.select(
        "query_id", "vec_id", F.round("score", 6).alias("score"), "rank"
    )


def q4_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 — metadata-filtered search: label predicate pushed into the
    scan, then cosine top-10 for a text-derived query vector."""
    emb = read_table(spark, sf_dir, "embeddings")
    qv = det_embed_py(QUERY_TEXT, EMBED_DIM)
    out = topk_cosine(
        emb, qv, k=10, predicate=F.col("label").isin(*Q4_LABELS)
    )
    return out.select("vec_id", "label", F.round("score", 6).alias("score"))


def q5_fetch_by_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 — point fetch by id (isin pushes to the parquet scan)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id").isin(*FETCH_IDS)).select(
        "vec_id", "label", F.size("embedding").alias("dim")
    )


def q5_delete_by_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 delete — anti-filter rewrite of delete-by-id (Delta MERGE
    DELETE at cluster scale); the surviving table is the checked
    output, so a delete that under- or over-removes turns red."""
    from .operators.search import delete_by_ids

    emb = read_table(spark, sf_dir, "embeddings")
    return delete_by_ids(emb, FETCH_IDS).select(
        "vec_id", "label", F.size("embedding").alias("dim")
    )


# ---------------- ingest pipeline (S/T/P families) ----------------

def chunker_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 — fixed-size chunker (size 120 / overlap 20 so fixture docs
    actually split; reference defaults 2000/100, streamlit_app.py:34)."""
    docs = read_table(spark, sf_dir, "documents")
    return chunk_stride(docs, chunk_size=CHUNK_SIZE, chunk_overlap=CHUNK_OVERLAP)


def pipeline_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship E1 path: documents -> chunk -> deterministic embed ->
    id/metadata -> vectors-table digest (id, provenance, chunk length,
    embedding norm + component digest). The whole chain is one lazy
    plan with zero shuffles (pure per-row map + explode)."""
    docs = read_table(spark, sf_dir, "documents")
    chunks = chunk_stride(
        docs,
        chunk_size=CHUNK_SIZE,
        chunk_overlap=CHUNK_OVERLAP,
        keep_cols=("doc_id", "source"),
    )
    emb = embed_deterministic(chunks, "chunk_text", dim=EMBED_DIM)
    emb = with_vector_id(emb)
    return emb.select(
        "id",
        "doc_id",
        "chunk_index",
        "source",
        F.length("chunk_text").alias("chunk_chars"),
        F.round(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x), 6).alias(
            "emb_sum"
        ),
        F.round(
            F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x)), 6
        ).alias("emb_norm"),
        F.round(F.element_at("embedding", 1), 6).alias("emb_c0"),
    )


def chunk_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 — the reference's per-vector metadata dict
    (`streamlit_app.py:147`: {"chunk_index": i, "source": ...}) as a
    map column, projected back out through element_at so the map
    construction itself crosses the oracle: key lookups, key set, and
    cardinality must all match the DuckDB twin."""
    docs = read_table(spark, sf_dir, "documents")
    chunks = chunk_stride(
        docs,
        chunk_size=CHUNK_SIZE,
        chunk_overlap=CHUNK_OVERLAP,
        keep_cols=("doc_id", "source"),
    )
    md = with_metadata(with_vector_id(chunks))
    return md.select(
        "id",
        F.element_at("metadata", "chunk_index").cast("int").alias("md_chunk_index"),
        F.element_at("metadata", "source").alias("md_source"),
        F.size("metadata").alias("n_keys"),
        F.concat_ws(",", F.array_sort(F.map_keys("metadata"))).alias("md_keys"),
    )


N_FRAMES_MOD = 40         # synthetic per-video frame count: doc_id % MOD
FRAME_EVERY = 10
FRAME_MAX = 8


def _media_table(spark: SparkSession, sf_dir: str, modality: str) -> DataFrame:
    """Deterministic media fixture derived from documents: content =
    the utf-8 text bytes as an opaque binary payload (the fixture set
    has no real image/audio parquet; both engines derive the same
    bytes). meta carries the typed per-modality fields."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(modality).alias("modality"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            (F.col("doc_id") % N_FRAMES_MOD).cast("int").alias("n_frames"),
            F.lit(f"{modality}/fake").alias("mime"),
        ).alias("meta"),
    )


def media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode->feature chain, driver-checked: binary content
    -> mapInPandas decode (the REAL Arrow batch path; the fake kernel's
    md5-derived dims/raster are bit-reproducible in DuckDB) -> JVM-side
    features. Verifies schema, batching, and the binary column
    round-trip — everything except the codec itself."""
    from .operators.multimodal import decode_images, media_features

    media = _media_table(spark, sf_dir, "image")
    # force_fake: the fixture payloads are text bytes, not decodable
    # images, and the oracle mirrors the fake kernel — this query must
    # not flip behavior if Pillow happens to be installed
    feats = media_features(decode_images(media, force_fake=True))
    # raster_hex (not sha256): DuckDB's sha256 is VARCHAR-only, and the
    # hex form checks the same bytes
    return feats.select(
        "media_id", "width", "height", "raster_bytes", "pixels", "raster_hex"
    )


def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling plumbing (every Nth frame, capped): the
    per-frame explode happens inside the Arrow batch; frames are
    content-addressed (md5), so the DuckDB twin reproduces them."""
    from .operators.multimodal import sample_video_frames

    media = _media_table(spark, sf_dir, "video")
    frames = sample_video_frames(media, every_nth=FRAME_EVERY, max_frames=FRAME_MAX)
    return frames.select(
        "media_id", "frame_no", F.lower(F.hex("frame")).alias("frame_md5")
    )


# ---------------- text analysis ----------------

def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return doc_stats(docs)


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return language_id(docs)


# --- hostile-text adversarial row (r12 verdict item 4): the text
# kernels' delimiter contract is SINGLE-SPACE — multi-space runs,
# tabs/newlines (NOT delimiters), punctuation-adjacent stopwords (NOT
# space-delimited matches) and multibyte code points must all flow
# through tokenize/stopword/BPE-pretoken/char-gram identically in both
# engines. The fixture is single-space ASCII throughout (measured in
# the pin), so none of these shapes had ever been certified.
HOSTILE_DOCS = 120
HOSTILE_PREFIX_CHARS = 120
HOSTILE_TEMPLATES = (
    # multi-space runs between words
    "the   and  of is lone",
    # tabs / CR / LF inside what the kernel sees as ONE token
    "the\tand\nof is\r\nwith tabbed",
    # punctuation-adjacent stopwords (no space delimiter -> no hit)
    "the, and. of; is! with? (the) punct",
    # multibyte UTF-8: accents, CJK, an astral-plane emoji
    "naïve café 中文 \U0001f600 der und die ist multi",
)


def empty_relation_contracts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empty-input contracts as a driver row (r13, extending the
    adversarial-fixture program one class past hostile text): every
    fixture table is non-empty, so the 0-row code paths — the
    bug-class ledger's 'empty' family — had only pytest coverage.
    Drives provably-empty subsets (doc_id/user_id < 0: the generators
    emit non-negative keys only) through per-doc kernels, gram
    explode, grouped/global/windowed/session aggregation, and a join
    back to the full table, emitting one (kernel, n_rows, probe) row
    per contract. The load-bearing distinctions: a GLOBAL aggregate
    over an empty relation yields exactly ONE row with count 0 and a
    NULL sum, while grouped/session/window aggregation yields ZERO
    rows — identically in both engines."""
    from .operators.text_analysis import doc_stats, language_id

    docs = read_table(spark, sf_dir, "documents")
    docs0 = docs.filter(F.col("doc_id") < 0)
    events0 = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 0)

    def leg(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.lit("<none>").alias("probe"),
        )

    from .functions.text import word_ngrams

    parts = [
        leg("doc_stats", doc_stats(docs0)),
        leg("language_id", language_id(docs0)),
        leg(
            "gram_explode",
            docs0.select(F.explode(word_ngrams(F.col("text"), 2)).alias("g")),
        ),
        leg("grouped_agg", events0.groupBy("event_type").agg(F.count(F.lit(1)))),
        leg(
            "session_groups",
            events0.groupBy(
                F.session_window("ts", "30 minutes"), "user_id"
            ).agg(F.count(F.lit(1))),
        ),
        leg(
            "window_fn",
            events0.select(
                F.sum("value")
                .over(Window.partitionBy("user_id").orderBy("ts"))
                .alias("r")
            ),
        ),
        leg("join_back", docs0.select("doc_id").join(docs, "doc_id")),
        # the one-row global-aggregate contract, with the NULL-sum probe
        events0.agg(
            F.lit("global_agg").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(
                F.sum("value").cast("string"), F.lit("<null>")
            ).alias("probe"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def hostile_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text-kernel metrics over a hostile-shape augmentation of
    the documents fixture: each of the first HOSTILE_DOCS docs gets one
    HOSTILE_TEMPLATES entry (cycled by doc_id) appended to its prefix,
    then the whole lang_id/ngram/BPE kernel family runs over it —
    token count + exact token digest, BPE pre-token count, en/de
    stopword hits, punct ratio, char-3-gram count + digest, word-2-gram
    digest. The DuckDB oracle rebuilds the SAME augmented input from
    the same constants and recomputes every metric in its own idiom
    (string_split / regexp_extract_all / substr), so any divergence in
    delimiter or code-point semantics between the engines surfaces as
    a hash mismatch."""
    from .functions.text import (
        LANG_MARKERS,
        bpe_token_count,
        char_ngrams,
        punct_ratio,
        stopword_hits,
        token_count,
        tokens,
        word_ngrams,
    )

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < HOSTILE_DOCS
    )
    tmpl = F.element_at(
        F.array(*[F.lit(t) for t in HOSTILE_TEMPLATES]),
        (F.col("doc_id") % len(HOSTILE_TEMPLATES) + 1).cast("int"),
    )
    aug = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, HOSTILE_PREFIX_CHARS), F.lit(" "), tmpl
        ).alias("text"),
    )
    t = F.col("text")
    return aug.select(
        "doc_id",
        token_count(t).alias("n_tok"),
        F.md5(F.array_join(tokens(t), "|")).alias("tok_digest"),
        bpe_token_count(t).alias("n_bpe"),
        stopword_hits(t, LANG_MARKERS["en"]).alias("hits_en"),
        stopword_hits(t, LANG_MARKERS["de"]).alias("hits_de"),
        F.round(punct_ratio(t), 6).alias("punct_r"),
        F.size(char_ngrams(t, 3)).alias("n_char3"),
        F.md5(F.array_join(char_ngrams(t, 3), "|")).alias("char3_digest"),
        F.md5(F.array_join(word_ngrams(t, 2), "|")).alias("gram2_digest"),
    )


# --- NULL-bearing-keys adversarial row (r14, VERDICT r13 item 2): the
# fixtures are NULL-free, so the ledger's NULL family — Spark places
# NULL sort keys FIRST on ascending order while DuckDB places them
# LAST; `!=` change detection silently skips NULL transitions; NULL
# join keys drop under `=` but match under null-safe equality — had
# only pytest coverage. The row derives provably NULL-bearing keys
# from measured value classes and pins an EXPLICIT placement contract
# in both engines.
NULLKEY_CLASS = "click"   # nullif'd event_type class (measured nonzero)
NULLKEY_TS_MOD = 7        # event_id % 7 == 0 -> NULL as-of probe ts
NULLKEY_NULL_TAG = "<null>"  # canonical NULL spelling inside digests


def null_keys_contracts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-key contracts as one (kernel, n_rows, digest,
    nulls_touched) row per kernel class, identically derivable in both
    engines:

    - ``window_rank_asc`` / ``window_rank_desc``: per-user row_number
      over the nullable key with the placement PINNED — ASC NULLS
      LAST / DESC NULLS FIRST in both engines (each is the opposite of
      at least one engine's default, so the row certifies the explicit
      contract, not a default).
    - ``grouped_nulls``: GROUP BY collects NULL keys into ONE real
      group in both engines.
    - ``join_drop`` vs ``join_null_safe``: plain equality drops every
      NULL-key row; null-safe equality (eqNullSafe / IS NOT DISTINCT
      FROM) matches them to the NULL dim group — both counts and
      digests certified.
    - ``change_detect``: per-user transition count under IS DISTINCT
      FROM lag(key) — counts NULL<->value transitions a naive ``!=``
      silently skips (nulls_touched = the null-involved changes).
    - ``asof_null_key``: the union+last_value as-of kernel with a
      nullable probe time; NULL probe keys sort under the pinned
      NULLS LAST contract and are masked to the no-match contract
      (a NULL probe time matches nothing, as a comparison would
      evaluate in SQL).

    Every digest is an order-insensitive sum of 24-bit md5 ints over a
    canonical row string (NULL spelled NULLKEY_NULL_TAG), so value
    divergence — not just cardinality — turns the row red. The
    discrimination pin measures the raw fixture is NULL-free, the
    derived classes are non-empty, and each naive kernel variant
    actually diverges."""
    from .functions.hashing import md5_int

    ev = (
        read_table(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.nullif(F.col("event_type"), F.lit(NULLKEY_CLASS)).alias("k"),
            "event_type",
        )
    )
    null_tag = F.lit(NULLKEY_NULL_TAG)

    def _digest(*cols):
        return F.sum(md5_int(F.concat_ws(":", *cols))).cast("long")

    legs = []

    # window placement contracts (asc nulls last / desc nulls first)
    for name, order in (
        ("window_rank_asc", [F.col("k").asc_nulls_last(), F.col("event_id")]),
        ("window_rank_desc", [F.col("k").desc_nulls_first(), F.col("event_id")]),
    ):
        w = Window.partitionBy("user_id").orderBy(*order)
        ranked = ev.select(
            "user_id", "k", F.row_number().over(w).alias("rn")
        )
        legs.append(
            ranked.agg(
                F.lit(name).alias("kernel"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                _digest(
                    F.col("user_id").cast("string"),
                    F.col("rn").cast("string"),
                    F.coalesce(F.col("k"), null_tag),
                ).alias("digest"),
                F.count(F.when(F.col("k").isNull(), 1)).cast("long").alias(
                    "nulls_touched"
                ),
            )
        )

    # GROUP BY: the NULL keys form one real group
    dim = ev.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"))
    legs.append(
        dim.agg(
            F.lit("grouped_nulls").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(
                F.coalesce(F.col("k"), null_tag), F.col("cnt").cast("string")
            ).alias("digest"),
            F.sum(F.when(F.col("k").isNull(), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("nulls_touched"),
        )
    )

    # join contracts: = drops NULL keys, <=> matches them
    null_count = ev.agg(
        F.count(F.when(F.col("k").isNull(), 1)).cast("long").alias(
            "nulls_touched"
        )
    )
    dimr = dim.select(F.col("k").alias("kd"), "cnt")
    dropped = ev.select("event_id", "k").join(
        dimr, ev["k"] == dimr["kd"], "inner"
    )
    legs.append(
        dropped.agg(
            F.lit("join_drop").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(
                F.col("event_id").cast("string"), F.col("cnt").cast("string")
            ).alias("digest"),
        ).crossJoin(null_count)
    )
    safe = ev.select("event_id", "k").join(
        dimr, ev["k"].eqNullSafe(dimr["kd"]), "inner"
    )
    legs.append(
        safe.agg(
            F.lit("join_null_safe").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(
                F.col("event_id").cast("string"), F.col("cnt").cast("string")
            ).alias("digest"),
            F.count(F.when(F.col("k").isNull(), 1)).cast("long").alias(
                "nulls_touched"
            ),
        )
    )

    # change detection: IS DISTINCT FROM lag(k), NULL transitions count
    wcd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cd = ev.select(
        "user_id", "event_id", "k", F.lag("k").over(wcd).alias("prev")
    )
    changes = cd.filter(~F.col("k").eqNullSafe(F.col("prev")))
    legs.append(
        changes.agg(
            F.lit("change_detect").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(
                F.col("user_id").cast("string"),
                F.col("event_id").cast("string"),
            ).alias("digest"),
            F.count(
                F.when(F.col("k").isNull() | F.col("prev").isNull(), 1)
            )
            .cast("long")
            .alias("nulls_touched"),
        )
    )

    # as-of with a nullable probe time: union + last_value(ignorenulls)
    # under the pinned ASC NULLS LAST placement, then the no-match mask
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.when(F.col("event_id") % NULLKEY_TS_MOD == 0, F.lit(None))
        .otherwise(F.col("ts"))
        .alias("tsk"),
    )
    clicks = ev.filter(F.col("event_type") == NULLKEY_CLASS).select(
        "user_id", "ts"
    )
    tagged = purchases.withColumn(
        "__click_ts", F.lit(None).cast("timestamp")
    ).unionByName(
        clicks.select(
            F.lit(None).cast("long").alias("event_id"),
            "user_id",
            F.col("ts").alias("tsk"),
            F.col("ts").alias("__click_ts"),
        )
    )
    wa = (
        Window.partitionBy("user_id")
        # clicks (non-null __click_ts) sort before purchases at equal
        # tsk -> same-instant clicks count as at-or-before; NULL-tsk
        # probes sort LAST by the pinned contract and are masked below
        .orderBy(F.col("tsk").asc_nulls_last(), F.col("__click_ts").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = tagged.withColumn(
        "match", F.last("__click_ts", ignorenulls=True).over(wa)
    ).filter(F.col("event_id").isNotNull())
    asof = matched.select(
        "event_id",
        "tsk",
        F.when(F.col("tsk").isNull(), F.lit(None))
        .otherwise(F.col("match"))
        .alias("match"),
    )
    legs.append(
        asof.agg(
            F.lit("asof_null_key").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(
                F.col("event_id").cast("string"),
                F.coalesce(
                    F.unix_micros(F.col("match")).cast("string"), null_tag
                ),
            ).alias("digest"),
            F.count(F.when(F.col("tsk").isNull(), 1)).cast("long").alias(
                "nulls_touched"
            ),
        )
    )

    out = legs[0]
    for p in legs[1:]:
        out = out.unionByName(p)
    return out


# --- float-edge adversarial row (r14, the adversarial program one
# class further): the fixtures carry no NaN / ±Infinity / −0.0 (the
# pin measures it), so the engines' special-value contracts — the
# total sort order (−Inf < finite < +Inf < NaN), NaN folding to ONE
# group/join key, ±0.0 folding to one key, NaN propagation through
# sum/avg/max, and the divide-by-zero→NULL contract (Spark ANSI
# try_divide ↔ DuckDB's /) — had zero oracle coverage. Specials are
# INJECTED into events.value by event_id class, and every special
# stays INTERNAL: output columns are class digests and counts, never
# raw special floats (the driver's pandas-based comparator must never
# see a NaN cell).
FLOATEDGE_MOD = 11  # event_id % MOD: 0→NaN 1→+Inf 2→−Inf 3→−0.0 4→+0.0


def float_edge_contracts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Special-float contracts as one (kernel, n_rows, digest,
    specials_touched) row per kernel class, identically derivable in
    both engines:

    - ``rank_total_order``: per-user row_number over the injected
      column — certifies the SHARED total order −Inf < finite < +Inf
      < NaN (and −0.0/+0.0 ties broken by the id) position by
      position.
    - ``group_fold``: GROUP BY the value — all NaN rows form ONE
      group and −0.0/+0.0 fold into ONE group in both engines (the
      injected +0.0 class exists precisely so the fold is observable).
    - ``agg_propagation``: per event_type, sum/avg/max go NaN when a
      NaN is present while min is −Inf — classified, not emitted raw.
    - ``join_special_keys``: joining ON the value matches NaN to NaN
      and −0.0 to +0.0 (Spark normalizes NaN and −0.0 in keys; DuckDB
      equality agrees).
    - ``div_zero_null``: ``try_divide(x, x−x)`` — finite rows divide
      by exact 0.0 and MUST yield NULL (the ANSI-safe contract,
      matching DuckDB's x/0 → NULL), while NaN/Inf rows divide by NaN
      and yield NaN — each result classified to 'null'/'nan'.

    Digests are order-insensitive sums of 24-bit md5 ints over
    canonical class strings, so a placement or folding divergence —
    not just a count change — turns the row red. Discrimination pin:
    tests/test_float_edges.py (the raw fixture is special-free; an
    ``x = x`` NaN-dropping kernel and Python-naive NaN dict grouping
    each diverge; the output schema carries no double column)."""
    from .functions.hashing import md5_int

    nan, inf, ninf = float("nan"), float("inf"), float("-inf")
    m = F.col("event_id") % FLOATEDGE_MOD
    x = (
        F.when(m == 0, F.lit(nan))
        .when(m == 1, F.lit(inf))
        .when(m == 2, F.lit(ninf))
        .when(m == 3, F.expr("CAST('-0.0' AS DOUBLE)"))
        .when(m == 4, F.lit(0.0))
        .otherwise(F.col("value"))
    )
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", x.alias("x")
    )

    def cls(c):
        return (
            F.when(F.isnan(c), F.lit("nan"))
            .when(c == F.lit(inf), F.lit("inf"))
            .when(c == F.lit(ninf), F.lit("-inf"))
            .otherwise(F.lit("fin"))
        )

    def _digest(*cols):
        return F.sum(md5_int(F.concat_ws(":", *cols))).cast("long")

    special = F.isnan(F.col("x")) | (F.col("x") == F.lit(inf)) | (
        F.col("x") == F.lit(ninf)
    )
    legs = []

    w = Window.partitionBy("user_id").orderBy(F.col("x").asc(), "event_id")
    ranked = ev.select(
        "user_id", "x", F.row_number().over(w).alias("rn")
    )
    legs.append(
        ranked.agg(
            F.lit("rank_total_order").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(
                F.col("user_id").cast("string"),
                F.col("rn").cast("string"),
                cls(F.col("x")),
            ).alias("digest"),
            F.count(F.when(special, 1)).cast("long").alias(
                "specials_touched"
            ),
        )
    )

    groups = ev.groupBy("x").agg(F.count(F.lit(1)).alias("cnt"))
    legs.append(
        groups.agg(
            F.lit("group_fold").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(cls(F.col("x")), F.col("cnt").cast("string")).alias(
                "digest"
            ),
            F.sum(F.when(special, F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("specials_touched"),
        )
    )

    aggd = ev.groupBy("event_type").agg(
        F.sum("x").alias("s"),
        F.avg("x").alias("a"),
        F.max("x").alias("mx"),
        F.min("x").alias("mn"),
    )
    legs.append(
        aggd.agg(
            F.lit("agg_propagation").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(
                F.col("event_type"),
                cls(F.col("s")),
                cls(F.col("a")),
                cls(F.col("mx")),
                cls(F.col("mn")),
            ).alias("digest"),
            F.count(F.when(F.isnan(F.col("s")), 1)).cast("long").alias(
                "specials_touched"
            ),
        )
    )

    dim = (
        ev.filter((F.col("event_id") % FLOATEDGE_MOD) <= 4)
        .select(F.col("x").alias("xd"))
        .distinct()
    )
    joined = ev.join(dim, ev["x"] == dim["xd"], "inner")
    legs.append(
        joined.agg(
            F.lit("join_special_keys").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(
                F.col("event_id").cast("string"), cls(F.col("x"))
            ).alias("digest"),
            F.count(F.when(special, 1)).cast("long").alias(
                "specials_touched"
            ),
        )
    )

    divd = ev.select(
        "event_id",
        F.try_divide(F.col("x"), F.col("x") - F.col("x")).alias("q"),
    ).select(
        "event_id",
        F.when(F.col("q").isNull(), F.lit("null"))
        .when(F.isnan(F.col("q")), F.lit("nan"))
        .otherwise(F.lit("other"))
        .alias("qc"),
    )
    legs.append(
        divd.agg(
            F.lit("div_zero_null").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(F.col("event_id").cast("string"), F.col("qc")).alias(
                "digest"
            ),
            F.count(F.when(F.col("qc") == "nan", 1)).cast("long").alias(
                "specials_touched"
            ),
        )
    )

    out = legs[0]
    for p in legs[1:]:
        out = out.unionByName(p)
    return out


# --- overflow/precision adversarial row (r15, VERDICT r14 item 2):
# the ANSI generalization of the r14 cosine find. Under Spark 4 ANSI
# (BOTH session shapes) a BIGINT sum/multiply/cast that overflows is a
# query-killing error, while DuckDB promotes sums to HUGEINT — and the
# fixtures' value ranges never approach any boundary (the pin measures
# it), so every arithmetic kernel was uncovered the same way cosine
# was. Near-boundary values are INJECTED by event_id class; outputs
# are digests and counts only, and every certified leg pins an
# explicit BOTH-engine contract (try_sum/try_multiply/try_cast ↔
# HUGEINT range CASE / TRY_CAST; decimal routing for exact arithmetic;
# half-away-from-zero ties; per-engine spelling of trunc-toward-zero).
OVFL_BIGMAX = 9223372036854775807  # the BIGINT boundary, spelled in both
OVFL_CLASS_MOD = 13   # event_id % 13 == 0/1/2 -> +max / -max / huge-double
OVFL_GROUP_MOD = 17   # try_sum group key: event_id % 17
OVFL_GROUP_CUT = 5    # near-max values only land in groups 0..4, so
#                       overflowed (NULL) and exact group fates BOTH
#                       exist at every SF
OVFL_JITTER_MOD = 1009  # subtracted jitter keeps class values distinct
OVFL_NULL_TAG = "<null>"


def overflow_precision_contracts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric overflow / precision contracts as one (kernel, n_rows,
    digest, boundary_rows) row per kernel class, identically derivable
    in both engines:

    - ``sum_decimal_route``: per-event_type sum of a ±near-max BIGINT
      column routed through DECIMAL(38,0) — exact in both engines
      (Spark's plain BIGINT sum would be an ANSI ARITHMETIC_OVERFLOW
      error; DuckDB's would silently promote to HUGEINT — the naive
      kernels don't even diverge the same way, measured in the pin).
    - ``try_sum_null_on_overflow``: try_sum(BIGINT) per modulus group
      — NULL exactly where the group's true sum exceeds the BIGINT
      range (DuckDB twin: HUGEINT sum + explicit range CASE). The
      column is all-POSITIVE by construction so partial-aggregation
      order cannot make an intermediate overflow while the total
      fits: the NULL fate is deterministic under any partitioning.
    - ``mul_try_null`` / ``mul_decimal_exact``: per-row ×3 product —
      try_multiply's NULL-on-overflow vs the DECIMAL-routed exact
      product (DuckDB: HUGEINT range CASE / HUGEINT product).
    - ``cast_range_null``: try_cast(DOUBLE AS INT) — NULL for
      out-of-int-range doubles in both engines (the naive casts both
      raise; recorded honestly in the pin).
    - ``cast_fraction_contracts``: on exactly-representable fractions
      (k/4, ties included, negatives included): round-half-AWAY-FROM-
      ZERO (round(d, 0) agrees in both engines) and trunc-toward-zero
      — spelled PER ENGINE (Spark: ANSI cast to BIGINT truncates;
      DuckDB: trunc() then cast, because DuckDB's bare cast ROUNDS —
      a measured cross-engine divergence the pin records).
    - ``decimal_tie_round``: DECIMAL(20,4) values built exactly from
      strings, every row a tie at the scale-2 rounding position —
      round(dec, 2) is half-away-from-zero in both engines, negatives
      included (Python's banker's rounding disagrees; the third
      derivation uses explicit ROUND_HALF_UP).

    Digests are order-insensitive sums of 24-bit md5 ints over
    canonical row strings (NULL spelled OVFL_NULL_TAG); no raw
    boundary value crosses the result boundary except as a decimal
    string inside the digest."""
    from .functions.hashing import md5_int

    eid = F.col("event_id")
    cls_pos = (eid % OVFL_CLASS_MOD == 0) & (
        eid % OVFL_GROUP_MOD < OVFL_GROUP_CUT
    )
    cls_neg = eid % OVFL_CLASS_MOD == 1
    cls_dbl = eid % OVFL_CLASS_MOD == 2
    jit = eid % OVFL_JITTER_MOD
    benign = eid * 1000 + 7
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(cls_pos, F.lit(OVFL_BIGMAX) - jit).otherwise(benign).alias(
            "big_pos"
        ),
        F.when(cls_pos, F.lit(OVFL_BIGMAX) - jit)
        .when(cls_neg, F.lit(-OVFL_BIGMAX) + jit)
        .otherwise(benign)
        .alias("big_mix"),
        F.when(cls_dbl, F.lit(1.0e10) + eid.cast("double"))
        .otherwise(eid.cast("double"))
        .alias("d_big"),
        ((eid - 500).cast("double") + (eid % 4).cast("double") * 0.25).alias(
            "d_frac"
        ),
        F.concat(
            (eid % 2000 - 1000).cast("string"),
            F.lit("."),
            F.lpad((eid % 100).cast("string"), 2, "0"),
            F.lit("50"),
        ).alias("dec_str"),
        cls_pos.alias("is_pos"),
        cls_neg.alias("is_neg"),
        cls_dbl.alias("is_dbl"),
        (eid % 4 == 2).alias("is_tie"),
    )
    null_tag = F.lit(OVFL_NULL_TAG)

    def _digest(*cols):
        return F.sum(md5_int(F.concat_ws(":", *cols))).cast("long")

    legs = []

    # exact ±near-max sums via DECIMAL(38,0) routing
    sdec = ev.groupBy("event_type").agg(
        F.sum(F.col("big_mix").cast("decimal(38,0)")).alias("s"),
        F.count(F.when(F.col("is_pos") | F.col("is_neg"), 1)).alias("nb"),
    )
    legs.append(
        sdec.agg(
            F.lit("sum_decimal_route").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(F.col("event_type"), F.col("s").cast("string")).alias(
                "digest"
            ),
            F.sum("nb").cast("long").alias("boundary_rows"),
        )
    )

    # try_sum: NULL exactly where the true (HUGEINT) sum leaves range
    tsum = ev.groupBy((eid % OVFL_GROUP_MOD).alias("g")).agg(
        F.try_sum("big_pos").alias("t"),
        F.count(F.when(F.col("is_pos"), 1)).alias("nb"),
    )
    legs.append(
        tsum.agg(
            F.lit("try_sum_null_on_overflow").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(
                F.col("g").cast("string"),
                F.coalesce(F.col("t").cast("string"), null_tag),
            ).alias("digest"),
            F.sum("nb").cast("long").alias("boundary_rows"),
        )
    )

    # per-row products: try_multiply NULL-on-overflow + exact decimal
    mul = ev.select(
        "event_id",
        "is_pos",
        F.try_multiply(F.col("big_pos"), F.lit(3)).alias("m"),
        (F.col("big_pos").cast("decimal(20,0)") * F.lit(3).cast("decimal(1,0)"))
        .cast("string")
        .alias("p"),
    )
    legs.append(
        mul.agg(
            F.lit("mul_try_null").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(
                F.col("event_id").cast("string"),
                F.coalesce(F.col("m").cast("string"), null_tag),
            ).alias("digest"),
            F.count(F.when(F.col("m").isNull(), 1)).cast("long").alias(
                "boundary_rows"
            ),
        )
    )
    legs.append(
        mul.agg(
            F.lit("mul_decimal_exact").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(F.col("event_id").cast("string"), F.col("p")).alias(
                "digest"
            ),
            F.count(F.when(F.col("is_pos"), 1)).cast("long").alias(
                "boundary_rows"
            ),
        )
    )

    # try_cast range contract on doubles (values integral by
    # construction, so only the RANGE fate is certified here — the
    # in-range fraction fate is the next leg's explicit contract)
    cast_rng = ev.select(
        "event_id",
        F.expr("try_cast(d_big AS INT)").alias("c"),
    )
    legs.append(
        cast_rng.agg(
            F.lit("cast_range_null").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(
                F.col("event_id").cast("string"),
                F.coalesce(F.col("c").cast("string"), null_tag),
            ).alias("digest"),
            F.count(F.when(F.col("c").isNull(), 1)).cast("long").alias(
                "boundary_rows"
            ),
        )
    )

    # fraction fates on exactly-representable k/4 values: round is
    # half-away-from-zero in BOTH engines; truncation toward zero is
    # Spark's ANSI cast and DuckDB's trunc()+cast (DuckDB's bare cast
    # rounds — the cross-engine divergence the pin measures)
    frac = ev.select(
        "event_id",
        "is_tie",
        F.round(F.col("d_frac"), 0).cast("bigint").alias("rr"),
        F.col("d_frac").cast("bigint").alias("tt"),
    )
    legs.append(
        frac.agg(
            F.lit("cast_fraction_contracts").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(
                F.col("event_id").cast("string"),
                F.col("rr").cast("string"),
                F.col("tt").cast("string"),
            ).alias("digest"),
            F.count(F.when(F.col("is_tie"), 1)).cast("long").alias(
                "boundary_rows"
            ),
        )
    )

    # decimal tie rounding: every row ends '50' at scale 4, so every
    # round(·, 2) is a tie — half-away-from-zero in both engines
    dtie = ev.select(
        "event_id",
        F.round(F.col("dec_str").cast("decimal(20,4)"), 2)
        .cast("string")
        .alias("r2"),
    )
    legs.append(
        dtie.agg(
            F.lit("decimal_tie_round").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(F.col("event_id").cast("string"), F.col("r2")).alias(
                "digest"
            ),
            F.count(F.lit(1)).cast("long").alias("boundary_rows"),
        )
    )

    out = legs[0]
    for p in legs[1:]:
        out = out.unionByName(p)
    return out


# --- Unicode case/collation adversarial row (r15, second row — the
# TEXT generalization of the overflow/cosine ANSI finds): the corpus
# is measured pure-ASCII at every SF (the pin proves it, and the
# ascii_casing_agree leg re-proves it inside the certified row), so
# every case-mapping, code-point-length, and collation contract had
# zero oracle coverage. The engines genuinely diverge: the JVM applies
# FULL Unicode case mappings (ß -> SS, the fi/fl ligatures -> FI/FL,
# İ -> i + U+0307 on lower, the Greek final-sigma context rule) while
# DuckDB's utf8proc applies simple 1:1 mappings (ß -> U+1E9E, ﬁ stays,
# İ -> bare i, no sigma context); Spark's reverse is code-point while
# DuckDB's is grapheme-aware. Divergent kernels are spelled PER ENGINE
# (the cast_fraction_contracts precedent) so both produce the pinned
# canonical result; agreeing kernels (code-point length/substr/instr,
# binary code-point collation incl. astral/PUA/U+FFFD, precomposed-
# accent and titlecase-digraph casing) are certified raw. Templates
# are injected by doc_id class; digests only cross the result
# boundary. Template invariants the twins depend on (asserted by the
# pin): no template ends with a space; 'İ' appears only in class 1;
# Σ/σ only in class 2 with every Σ preceded by a letter; combining
# marks only in class 4; the class-0 divergent set is exactly
# {ß, ﬁ, ﬂ}.
UNICASE_DOCS = 120
UNICASE_PREFIX_CHARS = 24
UNICASE_ORD_PAD = 4  # doc_id zero-pad width in the collation sort key
UNICASE_TEMPLATES = (
    # 0: full-vs-simple case mapping (JVM ß -> SS, ﬁ -> FI, ﬂ -> FL;
    #    utf8proc 1:1) + capital sharp S U+1E9E (agrees both ways)
    "ßravo Straße grüßt ﬁnden ﬂink ẞLOT",
    # 1: dotted capital I (JVM lower -> i + U+0307; utf8proc -> 'i')
    "İstanbul DİYARBAKIR İyi bİlgİ",
    # 2: Greek final sigma — every Σ preceded by a letter, so the
    #    JVM's contextual rule fires exactly on the word-final ones
    "ΟΔΥΣΣΕΥΣ ΣΟΦΟΣ ΛΟΓΟΣ ΔΙΟΣ",
    # 3: precomposed accents (1:1 in BOTH engines — agree leg)
    "émigré naïve déjà ÉLAN Ça",
    # 4: decomposed combining marks (casing/length agree; REVERSE is
    #    code-point in Spark, grapheme in DuckDB — pin-only class,
    #    excluded from the reverse leg)
    "éclair créme paséo",
    # 5: astral emoji + math letter + private-use + replacement char
    #    (no case mappings; code-point length/order material)
    "\U0001f600 ab \U0001d518nicode \U0001f389x z �.",
)


def unicode_case_contracts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode case-mapping / code-point / collation contracts as one
    (kernel, n_rows, digest, marked_rows) row per kernel class, each
    independently derivable in both engines:

    - ``upper_fold_expansion``: upper() over the augmented docs — the
      JVM expands ß/ﬁ/ﬂ via full case mapping (the string GROWS);
      DuckDB's utf8proc maps 1:1, so the twin expands those three
      code points explicitly before upper() (per-engine spelling; the
      raw naive kernels diverge, measured in the pin).
    - ``lower_idot_sigma``: lower() — the JVM lowers İ to i + U+0307
      and applies the Greek final-sigma context rule; the twin
      decomposes İ before lowering and rewrites word-final σ to ς
      with a sentinel-space trick (valid because no augmented text
      ends with a space and σ appears only in the sigma class,
      always preceded by a letter).
    - ``ascii_casing_agree``: upper+lower over the RAW corpus text —
      agrees raw in both engines, and marked_rows counts docs whose
      byte length differs from their char length: 0 certifies the
      measured ASCII-ness of the fixture inside the row itself.
    - ``codepoint_metrics``: length / substring across the injected
      multibyte region / instr with an ASCII and an astral needle —
      both engines count CODE POINTS (not bytes, not UTF-16 units,
      not graphemes); agrees raw.
    - ``reverse_codepoint_agree``: reverse() over the combining-free
      classes — agrees raw (astral chars and precomposed accents are
      single code points). The combining class is EXCLUDED: Spark
      reverses code points while DuckDB reverses graphemes — the pin
      records that raw divergence.
    - ``binary_order_rank``: row_number over a template-leading sort
      key — both engines order by code point (binary UTF-8), pinning
      that 'e' < ß < é < İ < Ο < U+E000 < U+FFFD < U+1F600; agrees
      raw. Bounded global sort: UNICASE_DOCS rows, constant at any SF.
    - ``initcap_ascii``: initcap over the ASCII doc prefix vs a
      DuckDB split/transform/join twin (DuckDB has no initcap) —
      valid because the corpus has no tab/CR/LF (measured in the
      pin) so words are single-space delimited in both spellings.

    Digests are order-insensitive sums of 24-bit md5 ints over
    canonical row strings."""
    from .functions.hashing import md5_int

    n_cls = len(UNICASE_TEMPLATES)
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < UNICASE_DOCS
    )
    tmpl = F.element_at(
        F.array(*[F.lit(t) for t in UNICASE_TEMPLATES]),
        (F.col("doc_id") % n_cls + 1).cast("int"),
    )
    aug = docs.select(
        "doc_id",
        "text",
        (F.col("doc_id") % n_cls).cast("int").alias("cls"),
        F.substring("text", 1, UNICASE_PREFIX_CHARS).alias("prefix"),
        F.concat(
            F.substring("text", 1, UNICASE_PREFIX_CHARS), F.lit(" "), tmpl
        ).alias("s"),
        F.concat(
            tmpl,
            F.lit("#"),
            F.lpad(F.col("doc_id").cast("string"), UNICASE_ORD_PAD, "0"),
        ).alias("sort_key"),
    )
    did = F.col("doc_id").cast("string")

    def _digest(*cols):
        return F.sum(md5_int(F.concat_ws(":", *cols))).cast("long")

    legs = [
        aug.agg(
            F.lit("upper_fold_expansion").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(did, F.upper("s")).alias("digest"),
            F.count(F.when(F.col("cls") == 0, 1)).cast("long").alias(
                "marked_rows"
            ),
        ),
        aug.agg(
            F.lit("lower_idot_sigma").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(did, F.lower("s")).alias("digest"),
            F.count(F.when(F.col("cls").isin(1, 2), 1)).cast("long").alias(
                "marked_rows"
            ),
        ),
        aug.agg(
            F.lit("ascii_casing_agree").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(did, F.upper("text"), F.lower("text")).alias("digest"),
            F.count(
                F.when(F.octet_length("text") != F.length("text"), 1)
            ).cast("long").alias("marked_rows"),
        ),
        aug.agg(
            F.lit("codepoint_metrics").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(
                did,
                F.length("s").cast("string"),
                F.substring("s", UNICASE_PREFIX_CHARS + 2, 9),
                F.instr("s", "n").cast("string"),
                F.instr("s", "\U0001f600").cast("string"),
            ).alias("digest"),
            F.count(
                F.when(F.octet_length("s") != F.length("s"), 1)
            ).cast("long").alias("marked_rows"),
        ),
        aug.filter(F.col("cls") != 4).agg(
            F.lit("reverse_codepoint_agree").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(did, F.reverse("s")).alias("digest"),
            F.count(F.when(F.col("cls") == 5, 1)).cast("long").alias(
                "marked_rows"
            ),
        ),
        aug.select(
            "doc_id",
            "cls",
            F.row_number().over(Window.orderBy("sort_key")).alias("rk"),
        ).agg(
            F.lit("binary_order_rank").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(did, F.col("rk").cast("string")).alias("digest"),
            F.count(F.when(F.col("cls") == 5, 1)).cast("long").alias(
                "marked_rows"
            ),
        ),
        aug.agg(
            F.lit("initcap_ascii").alias("kernel"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            _digest(did, F.initcap("prefix")).alias("digest"),
            F.count(
                F.when(F.initcap("prefix") != F.col("prefix"), 1)
            ).cast("long").alias("marked_rows"),
        ),
    ]
    out = legs[0]
    for p in legs[1:]:
        out = out.unionByName(p)
    return out


def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return corpus_rollup(docs)


def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters over the documents
    corpus: lexical diversity + top-2-gram / duplicate-3-gram char
    fractions with a pass/fail gate (operators/text_analysis.py
    repetition_stats). The oracle recomputes every fraction from
    scratch with DuckDB list/unnest arithmetic."""
    from .operators.text_analysis import repetition_stats

    docs = read_table(spark, sf_dir, "documents")
    return repetition_stats(
        docs,
        top_n=GOPHER_TOP_N,
        dup_n=GOPHER_DUP_N,
        min_unique=GOPHER_MIN_UNIQUE,
        max_top=GOPHER_MAX_TOP2,
        max_dup=GOPHER_MAX_DUP3,
    )


def crossdoc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span detection (word-8-gram shingle
    approximation of suffix-array corpus dedup): per doc, the fraction
    of shingle occurrences shared with >= 2 distinct docs, plus the
    boilerplate flag (operators/text_analysis.py
    crossdoc_duplicate_spans)."""
    from .operators.text_analysis import crossdoc_duplicate_spans

    docs = read_table(spark, sf_dir, "documents")
    return crossdoc_duplicate_spans(
        docs,
        n=CROSSDOC_NGRAM,
        min_docs=CROSSDOC_MIN_DOCS,
        flag_frac=CROSSDOC_FLAG_FRAC,
    )


def mixture_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mixture sampling over documents:
    per-source hash-Bernoulli rates + per-source cap + epoch
    upsampling (operators/curation.py mixture_sample). Every decision
    is a pure function of (doc_id, source), so the DuckDB oracle
    replays the whole plan including the rank cut."""
    from .operators.curation import mixture_sample

    docs = read_table(spark, sf_dir, "documents")
    return mixture_sample(
        docs,
        rates=MIX_RATES,
        default_rate=MIX_DEFAULT_RATE,
        cap=MIX_CAP,
        repeats=MIX_REPEATS,
        salt=MIX_SALT,
    )


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return fingerprint(docs)


def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 vector quantization with a reconstruction-error report:
    per-vector symmetric scale, round-clamp to [-127,127], dequantize,
    and emit exact integer summaries (sum/min/max of codes) plus the
    max absolute reconstruction error. Every step is deterministic
    double arithmetic shared with the DuckDB oracle. At 100 TB this is
    the 4x embedding-column storage cut; the error column is the gate
    a pipeline checks before serving int8."""
    from .functions.vector import int8_quantize, int8_reconstruct

    emb = read_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    scale = (
        F.greatest(
            F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-12)
        )
        / F.lit(127.0)
    ).alias("__scale")
    base = emb.select("vec_id", v.alias("__v"), scale)
    q = int8_quantize(F.col("__v"), F.col("__scale"))
    based = base.select("vec_id", "__v", "__scale", q.alias("__q"))
    recon = int8_reconstruct(F.col("__q"), F.col("__scale"))
    max_err = F.array_max(
        F.zip_with(F.col("__v"), recon, lambda a, b: F.abs(a - b))
    )
    return based.select(
        "vec_id",
        F.round("__scale", 9).alias("scale"),
        F.aggregate(
            F.col("__q"), F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
        ).alias("q_sum"),
        F.array_min("__q").alias("q_min"),
        F.array_max("__q").alias("q_max"),
        F.round(max_err, 9).alias("max_abs_err"),
    )


# ---------------- curation family ----------------

def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus. The fixture has no PII, so every
    5th document is deterministically augmented with an email and a
    phone-shaped run (both engines build the same augmented text);
    the scrub then redacts and counts. Pure projection — no shuffle,
    no UDF (operators/curation.py)."""
    from .operators.curation import scrub_pii

    docs = read_table(spark, sf_dir, "documents")
    aug = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-0142"),
        ),
    ).otherwise(F.col("text"))
    return scrub_pii(docs.select("doc_id", aug.alias("text")))


def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM context packing: hash-grouped cumulative-token bin
    assignment (PACK_BUDGET tokens per pack, PACK_GROUPS parallel
    streams — the window never serializes on a global ordering)."""
    from .operators.curation import pack_sequences

    docs = read_table(spark, sf_dir, "documents")
    return pack_sequences(
        docs, budget=PACK_BUDGET, n_groups=PACK_GROUPS
    )


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: a synthetic benchmark set (every
    97th doc, first half of its text, ids offset) is matched against
    the corpus on shared word CONTAM_NGRAM-grams — each benchmark doc
    must at least rediscover its own source. Broadcast bench-gram
    join; the corpus side never shuffles."""
    from .operators.curation import contamination_hits

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + F.lit(500000)).alias("doc_id"),
        F.col("text")
        .substr(F.lit(1), (F.length("text") / 2).cast("int"))
        .alias("text"),
    )
    return contamination_hits(docs, bench, n=CONTAM_NGRAM)


def merge_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 general form — full MERGE (matched-update / matched-delete /
    not-matched-insert) on the part table: every 3rd part gets a price
    and size bump (update), bumped sizes divisible by 7 are dropped
    (delete), and every 10th part re-enters under a new key (insert).
    The DuckDB oracle expresses the same MERGE as
    left-join + anti-join + union — the rewrite Delta executes under
    the hood (operators/upsert.merge_into)."""
    from .operators.upsert import merge_into

    part = read_table(spark, sf_dir, "part")
    upd = (
        part.filter(F.col("p_partkey") % 3 == 0)
        .withColumn("p_size", F.col("p_size") + F.lit(1))
        .withColumn("p_retailprice", F.col("p_retailprice") + F.lit(1.0))
    )
    ins = part.filter(F.col("p_partkey") % 10 == 0).select(
        (F.col("p_partkey") + F.lit(1000000)).alias("p_partkey"),
        F.concat(F.lit("NEW "), F.col("p_name")).alias("p_name"),
        "p_brand",
        "p_type",
        "p_size",
        "p_retailprice",
    )
    return merge_into(
        part,
        upd.unionByName(ins),
        key="p_partkey",
        matched_update=lambda t, s: {
            "p_size": s["p_size"],
            "p_retailprice": s["p_retailprice"],
        },
        matched_delete=lambda t, s: s["p_size"] % 7 == 0,
        insert_unmatched=True,
    )


# ---------------- dedup family ----------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return exact_dedup(docs)


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures, projected to driver-hashable scalars: the
    operator returns array<long>, but the driver's pandas canonicalizer
    can't factorize list cells — emit one typed long column per
    signature component. Operator API unchanged. (The previous
    '-'-joined string digest ran concat_ws over a transform() HOF —
    CodegenFallback, interpreted per row, +70% on the bench;
    element_at stays inside whole-stage codegen.)

    r9: served from the ``char7base`` persisted signature store — the
    IDENTICAL derivation (raw documents, MINHASH_HASHES/NGRAM/char)
    dedup_incremental's corpus side already builds, so recomputing it
    here per query was pure duplicate work (2.8 s → parquet read at
    sf0.1; same train-once/serve-many move as bpe_merges in r8).
    Bit-identity of cached-vs-fresh is the store contract the oracle
    (which re-shingles from raw text) and store_consistency_gate
    pin; the SIGNING kernel's build cost stays measured by
    tools/scale_run.py and paid by whichever store consumer runs
    first on a new corpus version."""
    from .operators.dedup import persisted_signatures

    docs = read_table(spark, sf_dir, "documents")
    sigs = persisted_signatures(
        spark, sf_dir, docs.select("doc_id", "text"),
        MINHASH_HASHES, NGRAM, "char", "char7base",
        corpus_salt="raw",
    )
    return sigs.select(
        "doc_id",
        *[
            F.element_at("minhash", k + 1).alias(f"mh{k:02d}")
            for k in range(MINHASH_HASHES)
        ],
    )


def neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ a truncated copy of each doc (deterministic synthetic
    near-duplicates — the fixture corpus has none; both engines build
    the same union)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.select(
        (F.col("doc_id") + F.lit(100000)).alias("doc_id"),
        F.substring(
            F.col("text"), 1, F.length("text") - F.lit(NEARDUP_TRUNC)
        ).alias("text"),
    )
    return docs.unionByName(mutated)


def _neardup_corpus_salt() -> str:
    """Derivation salt for every store built over the SYNTHETIC
    near-dup corpus (r9 review fix): the truncation constant plus a
    code token of the corpus builder, so changing either rotates the
    store fingerprints instead of serving signatures / fingerprints /
    groups of a corpus that no longer exists in that form — the tag
    ('char7'/'word3'/'sim48') alone was an unenforced naming
    convention. Raw-documents stores pass 'raw' instead.

    Token granularity (r9 ADVICE): closure_code_token covers the
    builder PLUS every same-module function its body references (a
    helper later extracted from neardup_corpus is hashed
    automatically), plus the io module whose read_table semantics the
    derivation flows through. Whole-module hashing of queries.py is
    deliberately NOT used: the registry header changes every round, so
    it would rotate every signature store's fingerprint per round —
    useless as a corpus-version marker and a standing cold-rebuild tax
    on the driver."""
    from . import io as _io
    from .store import closure_code_token

    return f"trunc{NEARDUP_TRUNC}:{closure_code_token(neardup_corpus, _io)}"


def neardup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs over the synthetic corpus,
    with the MinHash Jaccard estimate (exact integer arithmetic).
    Signatures come from the fingerprint-keyed persisted store — the
    build/probe split: repeated dedup queries pay a parquet read, not
    a corpus re-shingle (same pattern as the IVF index)."""
    from .operators.dedup import persisted_signatures

    corpus = neardup_corpus(spark, sf_dir)
    sigs = persisted_signatures(
        spark, sf_dir, corpus, MINHASH_HASHES, NGRAM, "char", "char7",
        corpus_salt=_neardup_corpus_salt(),
    )
    pairs = minhash_candidate_pairs(
        sigs, num_hashes=MINHASH_HASHES, bands=MINHASH_BANDS
    )
    return pairs.filter(F.col("jaccard_est") >= 0.5)


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) near-dup check — the daily-ingest
    dedup shape: the corpus signature table comes from the persisted
    fingerprint-keyed store (built once per corpus version, no text
    re-shingle), the small new batch is signed fresh and its banded
    rows are BROADCAST against the corpus bands, so the corpus never
    shuffles. Batch fixture: docs ≡0 (mod 5) re-enter truncated (true
    near-dups of their corpus source), docs ≡1 (mod 5) re-enter
    reversed (novel content, negative path). Output is one row per
    batch doc: match count at jaccard_est ≥ 0.5, best estimate, and
    the keep/drop verdict the ingest pipeline acts on."""
    from .operators.dedup import (
        derive_incremental_batch,
        incremental_candidate_pairs,
        minhash_signatures_agg,
        persisted_signatures,
    )

    corpus = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus_sigs = persisted_signatures(
        spark, sf_dir, corpus, MINHASH_HASHES, NGRAM, "char", "char7base",
        corpus_salt="raw",
    )
    batch = derive_incremental_batch(corpus, trunc=NEARDUP_TRUNC)
    batch_sigs = minhash_signatures_agg(
        batch, num_hashes=MINHASH_HASHES, ngram=NGRAM
    )
    pairs = incremental_candidate_pairs(
        corpus_sigs,
        batch_sigs,
        num_hashes=MINHASH_HASHES,
        bands=MINHASH_BANDS,
    ).filter(F.col("jaccard_est") >= 0.5)
    agg = pairs.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.max("jaccard_est").alias("best_est"),
    )
    n = F.coalesce("n_matches", F.lit(0).cast("long"))
    return (
        batch.select(F.col("doc_id").alias("batch_id"))
        .join(agg, "batch_id", "left")
        .select(
            "batch_id",
            n.alias("n_matches"),
            F.round(F.coalesce("best_est", F.lit(0.0)), 6).alias("best_est"),
            (n > 0).alias("is_dup"),
        )
    )


def neardup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup at scale shape: per-doc group representative via
    LSH-bucket star contraction + alternating large/small-star
    connected components, run to FIXPOINT (O(n) output — pairwise
    output is O(group²)). The oracle computes true connected
    components of the shared-bucket graph with a recursive CTE, so
    convergence itself is driver-checked. WORD shingles (same choice
    as neardup_jaccard): ~7x fewer md5 calls than char-7 on prose —
    the signature build dominated this query's cost."""
    from .operators.dedup import neardup_representatives, persisted_signatures

    corpus = neardup_corpus(spark, sf_dir)
    sigs = persisted_signatures(
        spark, sf_dir, corpus, MINHASH_HASHES, WORD_NGRAM, "word", "word3",
        corpus_salt=_neardup_corpus_salt(),
    )
    return neardup_representatives(
        sigs,
        num_hashes=MINHASH_HASHES,
        bands=MINHASH_BANDS,
        nodes=corpus.select("doc_id"),
    )


def dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup consumer path: signatures -> LSH bucket graph
    -> connected-component groups -> pick ONE survivor per group (max
    token count, ties to the smaller id) — what a training-data
    pipeline actually executes before tokenization. One row per group
    with the survivor and the drop count; the oracle recomputes groups
    via recursive-CTE connected components and the same survivor rule.

    Build/probe split (same as IVF): the groups mapping is consumed
    from the fingerprint-keyed persisted store — neardup_groups is the
    query that pays the connected-components build; this capstone is
    the consumer path a pipeline runs repeatedly."""
    from .caching import persist_tracked
    from .functions.text import token_count
    from .operators.dedup import persisted_groups, persisted_signatures

    corpus = persist_tracked(neardup_corpus(spark, sf_dir))
    sigs = persisted_signatures(
        spark, sf_dir, corpus, MINHASH_HASHES, WORD_NGRAM, "word", "word3",
        corpus_salt=_neardup_corpus_salt(),
    )
    reps = persisted_groups(
        spark,
        sf_dir,
        sigs,
        corpus.select("doc_id"),
        MINHASH_HASHES,
        MINHASH_BANDS,
        "word3",
        corpus_salt=_neardup_corpus_salt(),
    )
    toks = corpus.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    j = reps.join(toks, "doc_id")
    return j.groupBy("group_rep").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.expr("max_by(doc_id, struct(n_tokens, -doc_id))").alias("survivor_doc"),
        F.max("n_tokens").alias("survivor_tokens"),
        (F.count(F.lit(1)) - F.lit(1)).alias("n_dropped"),
    )


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation capstone — the full sequence a training-data
    pipeline runs between ingest and tokenization, as ONE oracle-
    checked query: near-dup groups (persisted store) → one survivor
    per group (max tokens, ties to min id) → quality gate
    (doc_stats composite ≥ QUALITY_MIN) → PII scrub (deterministic
    email aug on ≡0 mod 5, then redact) → token-count on the CLEAN
    text → fixed-budget sequence packing. Output: one row per
    surviving, quality-passing document with its pack assignment.

    Scale shape: groups and signatures come from the persisted
    stores (built once per corpus version); survivor pick is one
    grouped agg; quality/scrub are shuffle-free projections; packing
    windows partition by pack_group (no global ordering). The only
    shuffles key on group_rep, doc_id (1:1 joins), and pack_group.
    The oracle replays the WHOLE chain from scratch in DuckDB
    (recursive-CTE connected components included), so every stage's
    semantics are pinned, not just the last one."""
    from .caching import persist_tracked
    from .functions.text import token_count
    from .operators.curation import pack_sequences, scrub_pii
    from .operators.dedup import persisted_groups, persisted_signatures
    from .operators.text_analysis import doc_stats

    corpus = persist_tracked(neardup_corpus(spark, sf_dir))
    sigs = persisted_signatures(
        spark, sf_dir, corpus, MINHASH_HASHES, WORD_NGRAM, "word", "word3",
        corpus_salt=_neardup_corpus_salt(),
    )
    reps = persisted_groups(
        spark,
        sf_dir,
        sigs,
        corpus.select("doc_id"),
        MINHASH_HASHES,
        MINHASH_BANDS,
        "word3",
        corpus_salt=_neardup_corpus_salt(),
    )
    toks = corpus.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    survivors = (
        reps.join(toks, "doc_id")
        .groupBy("group_rep")
        .agg(F.expr("max_by(doc_id, struct(n_tokens, -doc_id))").alias("doc_id"))
    )
    surv = corpus.join(survivors.select("doc_id"), "doc_id")
    quality = doc_stats(surv).select("doc_id", "quality_score")
    kept = surv.join(
        quality.filter(F.col("quality_score") >= QUALITY_MIN), "doc_id"
    )
    aug = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-0142"),
        ),
    ).otherwise(F.col("text"))
    scrubbed = scrub_pii(kept.select("doc_id", aug.alias("text")))
    packed = pack_sequences(
        scrubbed,
        text_col="clean_text",
        budget=PACK_BUDGET,
        n_groups=PACK_GROUPS,
    )
    return (
        packed.join(scrubbed.select("doc_id", "n_redactions"), "doc_id")
        .join(quality, "doc_id")
        .select(
            "doc_id",
            "quality_score",
            "n_redactions",
            "pack_group",
            "n_tokens",
            "pack_id",
            "overflowed",
        )
    )


def neardup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs over the synthetic corpus: 48-bit
    fingerprints, banded Hamming equi-join (pigeonhole-complete for
    Hamming<=3), exact bit_count(xor) verify. The third dedup modality
    (exact hash / MinHash-Jaccard / SimHash-Hamming).

    r9: fingerprints come from the persisted store
    (operators/dedup.persisted_simhash) — the self-join previously
    recomputed the explode+agg lineage once per join side, every
    query. Cached-vs-fresh bit-identity is the store contract the
    oracle (which recomputes fingerprints from raw text) pins."""
    from .operators.dedup import persisted_simhash, simhash_candidate_pairs

    corpus = neardup_corpus(spark, sf_dir)
    fps = persisted_simhash(
        spark, sf_dir, corpus, SIMHASH_BITS, "sim48",
        corpus_salt=_neardup_corpus_salt(),
    )
    return simhash_candidate_pairs(
        fps, bits=SIMHASH_BITS, chunks=SIMHASH_CHUNKS, max_hamming=SIMHASH_MAXH
    )


def neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generation + exact-verify pipeline on WORD shingles:
    MinHash-LSH band join proposes pairs, exact word-3-gram set Jaccard
    (distinct semantics) confirms them — the full classic near-dup
    architecture. Word shingles are ~7x fewer hash calls than char-7
    shingles on prose (the md5 dominates signature cost), and the
    shingle space is selective even on the 109-word fixture vocab."""
    from .caching import persist_tracked
    from .operators.dedup import persisted_signatures

    corpus = persist_tracked(neardup_corpus(spark, sf_dir))
    sigs = persisted_signatures(
        spark, sf_dir, corpus, MINHASH_HASHES, WORD_NGRAM, "word", "word3",
        corpus_salt=_neardup_corpus_salt(),
    )
    cand = persist_tracked(
        minhash_candidate_pairs(sigs, num_hashes=MINHASH_HASHES, bands=MINHASH_BANDS)
        .select("id_a", "id_b")
    )
    # Only CANDIDATE docs need gram sets: semi-join the corpus down
    # before the explode+aggregate. At scale candidates are a tiny
    # fraction of the corpus, and the gram table feeds both pair
    # sides — building sets for every doc was most of the verify cost
    # (full-corpus grams ~2.5s x2 vs ~0.3s here at sf0.1).
    cand_ids = (
        cand.select(F.col("id_a").alias("doc_id"))
        .union(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    corpus_c = corpus.join(F.broadcast(cand_ids), "doc_id", "left_semi")
    # Materialize the DISTINCT gram set per doc BEFORE the join: with
    # the raw text joined instead, Catalyst substitutes the whole
    # ngram-construction expression into both the join condition and
    # the output projection — the array build then runs ~4x per
    # candidate pair instead of once per doc (measured 40s -> 3s at
    # sf0.1). Build the sets via explode + collect_set, NOT
    # array_distinct(transform(sequence(...))): the higher-order-
    # function form is CodegenFallback (interpreted per row) and
    # measured 15.8s vs 2.5s at sf0.1 for the same sets — same
    # explode shape as minhash_signatures_agg's word shingles.
    from .functions.text import tokens

    toked = corpus_c.select("doc_id", tokens(F.col("text")).alias("__t"))
    n_pos = F.greatest(F.size("__t") - F.lit(WORD_NGRAM - 1), F.lit(1))
    exploded = toked.select(
        "doc_id", "__t", F.explode(F.sequence(F.lit(1), n_pos)).alias("pos")
    )
    gram = F.concat_ws(
        " ", *[F.get("__t", F.col("pos") - 1 + F.lit(j)) for j in range(WORD_NGRAM)]
    )
    grams = persist_tracked(
        exploded.select("doc_id", gram.alias("__g1"))
        .groupBy("doc_id")
        .agg(F.collect_set("__g1").alias("g"))
    )
    ga_tbl = grams.select(F.col("doc_id").alias("id_a"), F.col("g").alias("__ga"))
    gb_tbl = grams.select(F.col("doc_id").alias("id_b"), F.col("g").alias("__gb"))
    inter = F.size(F.array_intersect("__ga", "__gb")).cast("double")
    union = (F.size("__ga") + F.size("__gb")).cast("double") - inter
    j = F.round(inter / union, 6)
    # Broadcast the PAIR side into the first join: candidates are tiny
    # while the gram tables carry ~300-element string arrays per doc —
    # the static size estimate gets this backwards. The second join
    # stays a plain shuffle join: both sides are already pruned to
    # candidate docs (small by construction), and nesting a second
    # broadcast would serialize an extra collect-to-driver job carrying
    # the gram arrays. At corpus scale (pairs too big to broadcast) the
    # right shape is the exploded (doc_id, gram) shuffle join.
    pa = ga_tbl.join(F.broadcast(cand), "id_a")
    return (
        pa.join(gb_tbl, "id_b")
        .select("id_a", "id_b", j.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, both modalities a data pipeline budgets with:
    whitespace tokens and BPE-ish pre-tokens (regex match count —
    functions/text.BPE_TOKEN_RE)."""
    from .functions.text import bpe_token_count, token_count

    docs = read_table(spark, sf_dir, "documents")
    text = F.col("text")
    ws, bpe = token_count(text), bpe_token_count(text)
    return docs.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.length(text).alias("n_chars"),
        F.round(
            F.length(text).cast("double") / F.greatest(bpe, F.lit(1)).cast("double"), 6
        ).alias("chars_per_token"),
    )


def neardup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within label blocks. Threshold
    0.35 ≈ 2.8σ for the uniform fixture so the result is non-empty
    (real corpora use ~0.95; the operator default)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, threshold=0.35)


# ---------------- standard relational coverage ----------------

def tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: 2-key groupBy, exact decimal
    sums (order-independent), pushed-down date filter."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(disc).alias("sum_disc_price"),
            _dsum(disc * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-fact join + broadcast dims: customer⋈orders⋈lineitem⋈nation.
    nation broadcasts (25 rows at any SF); fact-fact joins shuffle on
    their keys with AQE handling skew."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    nation = read_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer ⋈ orders ⋈ lineitem,
    revenue per order for orders placed before / shipped after a date,
    top-10. Both date predicates push to their scans; the final top-k
    is TakeOrdered, never a global sort."""
    cust = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-06-01").cast("timestamp")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-06-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — the 6-way join: customer ⋈ orders ⋈ lineitem ⋈
    supplier ⋈ nation ⋈ region, revenue per nation where customer and
    supplier share a nation, one region + one order-year. nation and
    region broadcast (25/5 rows at any SF); the three fact joins
    shuffle on their keys with AQE skew handling."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k: 3 priciest parts per brand (row_number, tiebreak
    p_partkey)."""
    part = read_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.col("p_partkey")
    )
    return (
        part.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rn")
    )


def customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    total = _dsum(F.col("c_acctbal"))
    return cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        total.alias("total_acctbal"),
        F.round(total / F.count(F.lit(1)), 6).alias("avg_acctbal"),
    )


def rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (grouping-sets family): per (flag, status),
    per flag, and grand total in one pass."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def grouping_sets_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form of rollup/cube): the
    (flag, status) cells plus the per-status margin only, with
    grouping_id disambiguating NULL-as-total from NULL data. One
    map-side expansion, one shuffle regardless of set count."""
    li = read_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__li_gs")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
               CAST(SUM(CAST(l_quantity AS {DEC})) AS DOUBLE) AS sum_qty,
               COUNT(1) AS n_rows
        FROM __li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus))
        """
    )


def above_avg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (customers above their own segment's
    average balance), decorrelated into one window pass — the rewrite
    Spark and every MPP engine want: the correlated scalar subquery
    would re-aggregate per outer row; the window computes each
    segment's average once in a single shuffle."""
    cust = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment")
    seg_avg = (
        F.sum(F.col("c_acctbal").cast(DEC)).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        cust.withColumn("seg_avg", F.round(seg_avg, 6))
        .filter(F.col("c_acctbal") > F.col("seg_avg"))
        .select("c_custkey", "c_mktsegment", "c_acctbal", "seg_avg")
    )


def semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi / left-anti joins: per market segment, how many
    customers have >=1 order vs none. The two joins share one shuffle
    key (c_custkey = o_custkey)."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").select("o_custkey")
    with_orders = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_with_orders"))
    )
    without = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_without_orders"))
    )
    return (
        with_orders.join(without, "c_mktsegment", "full_outer")
        .select(
            "c_mktsegment",
            F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
            F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"),
        )
    )


def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one — SURVEY §2.5): for each
    'purchase' event, the timestamp of the same user's most recent
    'click' at-or-before it. Implemented as the classic union +
    last_value(ignorenulls) over (user, ts) — one shuffle on user_id,
    no range-join blowup (vs DuckDB's native ASOF JOIN as oracle)."""
    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    tagged = purchases.withColumn("__click_ts", F.lit(None).cast("timestamp")).unionByName(
        clicks.select(
            F.lit(None).cast("long").alias("event_id"),
            "user_id",
            "ts",
            F.col("ts").alias("__click_ts"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        # clicks (non-null __click_ts) sort before purchases at equal
        # ts, so a same-instant click counts as "at-or-before" —
        # matching ASOF's >= semantics
        .orderBy(F.col("ts"), F.col("__click_ts").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = tagged.withColumn(
        "click_ts", F.last("__click_ts", ignorenulls=True).over(w)
    )
    return matched.filter(F.col("event_id").isNotNull()).select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("last_click_ts"),
    )


def salted_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted equi-join (operators/skew.py): orders salt on
    o_orderkey, customer replicates per salt, join on (custkey, salt) —
    a hot customer's orders spread over n_salt shuffle partitions. The
    oracle is the PLAIN join, proving the salting rewrite is
    result-invariant."""
    from .operators.skew import salted_join

    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice", "o_orderkey"
    )
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    j = salted_join(orders, cust, on="custkey", spread_col="o_orderkey", n_salt=8)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum(F.col("o_totalprice")).alias("total_price"),
    )


def pivot_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts by priority x status (explicit value list —
    at scale an unbounded pivot is a full distinct scan first)."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("n_open"),
            F.coalesce("F", F.lit(0)).alias("n_filled"),
            F.coalesce("P", F.lit(0)).alias("n_pending"),
        )
    )


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user sessions split on >30-min gaps (lag +
    running sum of gap flags — the batch twin of streaming
    session_window). Micro-second arithmetic, all integer."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_no",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_session = sessions.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
        F.sum("n_events").alias("total_events"),
    )


def distinct_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per group — the two-level shuffle Spark
    plans as partial-distinct + final (approx_count_distinct is the
    single-pass variant; not oracle-comparable across engines)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch form of the streaming op —
    streaming/ runs the same logic with a watermark)."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value")).alias("total_value"),
        )
    )


def pages_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 — order-correct page concat, closed loop: split each doc
    into 100-char 'pages' (chunk, overlap 0), shuffle them through a
    repartition, then concat_pages must reconstruct the original text
    exactly (reference `streamlit_app.py:63`: ''.join over pages).
    The oracle is simply SELECT doc_id, text FROM documents."""
    from .operators.pages import concat_pages

    docs = read_table(spark, sf_dir, "documents")
    pages = chunk_stride(docs, chunk_size=100, chunk_overlap=0).select(
        "doc_id",
        F.col("chunk_index").alias("page_no"),
        F.col("chunk_text").alias("page_text"),
    )
    # scramble physical order to prove the sort inside the agg matters
    scrambled = pages.repartition(8, "page_no")
    return concat_pages(scrambled)


def setops_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (UNION / INTERSECT / EXCEPT, all DISTINCT — the
    §2.5 set-op row): part keys in the catalog vs part keys actually
    sold. Each set-op is one hash-distinct shuffle on partkey; the
    lineitem side prunes to a single int column at the scan."""
    cat = read_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey")
    )
    sold = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey")
    )
    u = cat.union(sold).distinct().withColumn("set_op", F.lit("union"))
    i = cat.intersect(sold).withColumn("set_op", F.lit("intersect"))
    e = cat.subtract(sold).withColumn("set_op", F.lit("except"))
    return u.unionByName(i).unionByName(e)


def q6_revenue_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shape scan-heavy filter + global agg: date range,
    discount band, quantity cap collapsing to one row. The entire plan
    is scan→filter→partial-agg→single-row exchange; every predicate
    reaches the parquet reader (PushedFilters, asserted in
    tests/test_plans.py) — at 100 TB this query is pure pruned I/O."""
    li = read_table(spark, sf_dir, "lineitem")
    sel = li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return sel.agg(
        _dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def orders_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function coverage (§2.5 'scalar functions' row — date
    extraction, formatting, substring, conditional math) over orders:
    per (year, quarter) order counts, exact price sums, urgent-priority
    counts, and first/last order day."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").alias("o_year"),
        F.quarter("o_orderdate").alias("o_quarter"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum(F.col("o_totalprice")).alias("total_price"),
        F.sum(
            F.when(F.substring("o_orderpriority", 1, 1) == "1", 1).otherwise(0)
        ).alias("n_urgent"),
        F.min(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("first_day"),
        F.max(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("last_day"),
    )


def percentiles_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per market segment (sort-based
    within each group). Oracle-checkable because both engines use
    linear interpolation; at 100 TB the approx_percentile sketch is
    the drop-in scale variant (t-digest, no per-group sort)."""
    cust = read_table(spark, sf_dir, "customer")

    def pct(p: float) -> F.Column:
        return F.round(F.expr(f"percentile(c_acctbal, {p})"), 6)

    n = F.count(F.lit(1))
    return cust.groupBy("c_mktsegment").agg(
        pct(0.25).alias("p25"),
        pct(0.5).alias("p50"),
        pct(0.75).alias("p75"),
        F.round(_dsum(F.col("c_acctbal")) / n, 6).alias("mean_acctbal"),
        n.alias("n_customers"),
    )


def chunker_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 via the Spark 4 Python UDTF surface: a LATERAL table
    function emits chunk rows per document — same stride arithmetic
    (and the same oracle) as the relational chunker_stride, pinning
    UDTF==SQL row parity as a driver row."""
    from .operators.chunker import chunk_stride_udtf

    docs = read_table(spark, sf_dir, "documents")
    return chunk_stride_udtf(
        spark, docs, chunk_size=CHUNK_SIZE, chunk_overlap=CHUNK_OVERLAP
    )


def udaf_median_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (the PySpark UDAF surface): exact
    interpolated median per market segment computed by a vectorized
    Arrow batch per group; the oracle recomputes it with
    quantile_cont, so UDAF==SQL aggregation parity is driver-checked.
    At scale the Arrow grouped-agg path is how custom aggregations
    (e.g. a sketch merge) plug into groupBy without row-at-a-time
    Python."""
    from .functions.udafs import count_udaf, median_udaf

    cust = read_table(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.round(median_udaf("c_acctbal"), 6).alias("median_acctbal"),
        count_udaf("c_acctbal").alias("n_customers"),
    )


APPROX_PCT_SMALL_N = 100  # below this, gate on GK rank error, not value
APPROX_PCT_EPS = 1e-3  # GK rank guarantee at accuracy = 1000


def approx_percentiles_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch variant of percentiles_acctbal with an error
    gate: approx_percentile (GK sketch — no per-group sort, the
    100 TB drop-in) must land within 2% relative error of the exact
    interpolated percentile. Output carries the exact values (oracle
    recomputes them) plus the measured gate as a boolean the oracle
    asserts TRUE — the same pattern as the ANN recall rows.

    Small-n fix (r8 verdict item 2): GK's actual guarantee is on RANK
    (|rank(v)/n − p| ≤ 1/accuracy), not on value — on a ~20-row group
    the sketch returns an exact data element whose distance to the
    INTERPOLATED percentile can approach the largest inter-element
    gap, so the 2%-of-spread value gate is brittle below
    ``APPROX_PCT_SMALL_N`` rows. There (and only there — sf0.01/sf0.1
    behavior is bit-identical, their smallest segment is ~300 rows)
    the gate accepts the sketch value when its tie-range rank interval
    [#{x<v}/n, #{x≤v}/n], widened by ε + 1/n (element quantization),
    covers the target p. The rank pass is a second aggregate over the
    group joined against the broadcast 5-row sketch table — the same
    bounded-collect class as the IVF centroids."""
    cust = read_table(spark, sf_dir, "customer")

    def pct(p: float) -> F.Column:
        return F.expr(f"percentile(c_acctbal, {p})")

    def apx(p: float) -> F.Column:
        return F.expr(f"approx_percentile(c_acctbal, {p}, 1000)")

    from .caching import persist_tracked

    # persisted: the 5-row sketch table feeds BOTH the broadcast side
    # of the rank pass and the final join — without the persist the
    # exact+approx percentile aggregation (the query's expensive
    # stage) evaluates twice, and the two evaluations could in
    # principle see different partition orders, making value_ok and
    # rank_ok judge different sketch values
    stats = persist_tracked(
        cust.groupBy("c_mktsegment").agg(
            pct(0.25).alias("e25"),
            pct(0.5).alias("e50"),
            pct(0.75).alias("e75"),
            apx(0.25).alias("a25"),
            apx(0.5).alias("a50"),
            apx(0.75).alias("a75"),
            (F.max("c_acctbal") - F.min("c_acctbal")).alias("spread"),
            F.count(F.lit(1)).alias("n"),
        )
    )

    def rk(a: str) -> list:
        return [
            F.sum(
                F.when(F.col("c_acctbal") < F.col(a), 1).otherwise(0)
            ).alias(f"{a}_lo"),
            F.sum(
                F.when(F.col("c_acctbal") <= F.col(a), 1).otherwise(0)
            ).alias(f"{a}_hi"),
        ]

    ranks = (
        cust.join(F.broadcast(stats), "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(*rk("a25"), *rk("a50"), *rk("a75"))
    )
    full = stats.join(ranks, "c_mktsegment")
    n = F.col("n")
    tol = F.lit(APPROX_PCT_EPS) + 1.0 / n

    def ok(a: str, e: str, p: float) -> F.Column:
        value_ok = F.abs(F.col(a) - F.col(e)) <= 0.02 * F.col("spread")
        rank_ok = (
            (F.col(f"{a}_lo") / n - tol <= F.lit(p))
            & (F.lit(p) <= F.col(f"{a}_hi") / n + tol)
        )
        return value_ok | ((n < APPROX_PCT_SMALL_N) & rank_ok)

    gate = ok("a25", "e25", 0.25) & ok("a50", "e50", 0.5) & ok(
        "a75", "e75", 0.75
    )
    return full.select(
        "c_mktsegment",
        F.round(F.col("e25"), 6).alias("p25"),
        F.round(F.col("e50"), 6).alias("p50"),
        F.round(F.col("e75"), 6).alias("p75"),
        gate.alias("sketch_ok"),
    )


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar functions (§2.5 scalar-function family): extract a
    numeric field from the events ``props`` JSON column and aggregate
    per event_type. get_json_object evaluates JVM-side per row; at
    scale prefer parsing ONCE via from_json into a struct column over
    repeated path extraction."""
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.count(F.when(k % 2 == 0, 1)).alias("n_even_k"),
    )


def rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp-style polynomial rolling-hash document fingerprint:
    fp = sum_i(tok_hash_i * B^i) mod M over token positions — the
    POSITION-SENSITIVE fingerprint modality (token reorder/insert
    changes it), complementing the set-semantics MinHash/SimHash.
    Shape: posexplode tokens -> one groupBy(doc) sum with the B^pos
    coefficients looked up from a constant-folded array literal — all
    exact int64, bit-identical to the oracle."""
    from .functions.hashing import (
        ROLLING_M,
        ROLLING_MAXPOS,
        ROLLING_TOKMOD,
        md5_int,
        rolling_coefs,
    )
    from .functions.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    coef_lit = F.array(*[F.lit(c) for c in rolling_coefs()])
    toked = docs.select(
        "doc_id", F.posexplode_outer(tokens(F.col("text"))).alias("pos", "tok")
    )
    term = (
        (md5_int(F.col("tok")) % F.lit(ROLLING_TOKMOD))
        * F.element_at(coef_lit, (F.col("pos") % F.lit(ROLLING_MAXPOS) + 1).cast("int"))
    ) % F.lit(ROLLING_M)
    return toked.groupBy("doc_id").agg(
        (F.coalesce(F.sum(term), F.lit(0)) % F.lit(ROLLING_M)).alias("rolling_fp"),
        F.count("tok").alias("n_tokens"),
    )


def clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-frame window (time-range join family): for each purchase,
    how many clicks the same user made in the preceding hour. One
    shuffle on user_id; the RANGE frame runs over integer microseconds
    so both engines count the same boundary rows — no O(n^2) interval
    join, which is the trap shape at 100 TB."""
    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    n_clicks = F.sum(
        F.when(F.col("event_type") == "click", 1).otherwise(0)
    ).over(w)
    return (
        ev.withColumn("n_clicks_1h", n_clicks)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            "n_clicks_1h",
        )
    )


def clicks_in_purchase_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded interval join (operators/rangejoin.py): every
    (purchase, click) PAIR where the same user's click falls within the
    hour before the purchase — the pair-producing sibling of the
    range-frame window in clicks_before_purchase. Buckets make it an
    equi-join; DuckDB's native IEJoin is the oracle."""
    from .operators.rangejoin import range_join

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("w_start"),
        F.col("ts").alias("w_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    out = range_join(
        clicks, purchases, point_ts="c_ts", start_col="w_start", end_col="w_end",
        on=("user_id",), bucket_seconds=3600,
    )
    return out.select(
        "purchase_id",
        "click_id",
        "user_id",
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
    )


def outer_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT banded interval join (operators/rangejoin.py ``how='left'``
    — r8 verdict item 4, retiring the operator's last declared-but-
    declined surface): every click paired with each same-user purchase
    window (hour before purchase) that contains it, and every click
    inside NO window kept once, null-extended on the purchase columns
    — the attribution-coverage shape ("which clicks converted, which
    didn't") that inner interval joins cannot answer. The BETWEEN
    predicate sits INSIDE the join condition (a post-join filter would
    drop the null-extended rows); the shuffle is still the banded
    equi-join on (user_id, bucket). DuckDB replays the LEFT IEJoin
    natively as the oracle."""
    from .operators.rangejoin import range_join

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("w_start"),
        F.col("ts").alias("w_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    out = range_join(
        clicks, purchases, point_ts="c_ts", start_col="w_start", end_col="w_end",
        on=("user_id",), bucket_seconds=3600, how="left",
    )
    return out.select(
        "click_id",
        "user_id",
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        "purchase_id",
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
    )


def full_outer_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL banded interval join (operators/rangejoin.py ``how='full'``
    — r10, retiring the operator's last declared refusal): every
    (click, containing purchase-window) pair, PLUS every click inside
    no window (null-extended on the purchase columns), PLUS every
    purchase window containing no click (null-extended on the click
    columns) — the two-sided attribution audit ("which clicks
    converted, which purchases arrived cold"). The exploded-replica
    hazard the old NotImplementedError documented is resolved by
    recovering unmatched intervals from the UN-exploded side via a
    distinct + anti-join on the interval identity (purchase_id), so
    each cold purchase emits exactly once. user_id fills from
    whichever side is present (the operator's on-key contract);
    DuckDB replays the FULL IEJoin natively as the oracle."""
    from .operators.rangejoin import range_join

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("w_start"),
        F.col("ts").alias("w_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    out = range_join(
        clicks, purchases, point_ts="c_ts", start_col="w_start", end_col="w_end",
        on=("user_id",), bucket_seconds=3600, how="full",
        interval_id=("purchase_id",),
    )
    return out.select(
        "click_id",
        "user_id",
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        "purchase_id",
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
    )


def right_outer_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT banded interval join (operators/rangejoin.py
    ``how='right'`` — r11, completing the outer-variant matrix the r10
    full variant opened): every (click, containing purchase-window)
    pair PLUS every purchase window containing no click (null-extended
    on the click columns) — the cold-conversion audit ("which
    purchases arrived with no attributable click") without the left
    side's unmatched clicks. Shares full_outer_range_join's unmatched-
    interval recovery path (distinct matched ids + anti-join on the
    UN-exploded interval side); the matched base is the plain inner
    banded join. DuckDB replays the RIGHT IEJoin natively as the
    oracle."""
    from .operators.rangejoin import range_join

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("w_start"),
        F.col("ts").alias("w_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    out = range_join(
        clicks, purchases, point_ts="c_ts", start_col="w_start", end_col="w_end",
        on=("user_id",), bucket_seconds=3600, how="right",
        interval_id=("purchase_id",),
    )
    return out.select(
        "click_id",
        "user_id",
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        "purchase_id",
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
    )


def scd2_null_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 build over a changelog that PROVABLY contains NULL
    attribute transitions (r10 VERDICT item 3: the r10 proactive
    review found the NULL-unsafe change-detection bug precisely
    because no oracle fixture exercised non-NULL→NULL / NULL→non-NULL
    / repeated-NULL shapes — this row makes those shapes
    driver-certified, not just pytest-pinned). The adversarial input
    derives deterministically from orders: the tracked attribute is
    NULLed for o_orderkey % 5 IN (0, 3) (~40% of observations), so
    every customer's ordered log contains transitions INTO NULL
    (must open a version whose attr is NULL — the `attr != prev`
    formulation silently dropped these), OUT of NULL, and runs of
    consecutive NULLs (must EXTEND one NULL version, not open one per
    observation — the `prev IS NULL` formulation opened spurious
    versions). Same one-Exchange two-window plan as
    scd2_customer_priority; oracle replays with IS DISTINCT FROM."""
    from .operators.upsert import scd2_from_changelog

    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.when((F.col("o_orderkey") % 5).isin(0, 3), F.lit(None))
        .otherwise(F.col("o_orderpriority"))
        .alias("priority"),
    )
    return scd2_from_changelog(
        orders,
        key="o_custkey",
        attr="priority",
        order_cols=["o_orderdate", "o_orderkey"],
        valid_col="o_orderdate",
    )


def upsert_dup_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LWW upsert over inputs that PROVABLY contain duplicate
    (id, version) rows (r10 VERDICT item 3's second shape — the r10
    review's nondeterministic-survivor bug was invisible because no
    oracle fixture carried duplicate versions). Derived
    deterministically from customer: existing = every customer at
    version 1; the batch carries (a) a version-2 upgrade for id%3==0,
    (b) a SAME-(id, version-1) row with a DIFFERENT payload for
    id%7==0 — the cross-input tie, resolved batch-wins, and (c) an
    identical (id, version-3) row TWICE for id%11==0 — the
    within-input duplicate, resolved by the full-row-hash tiebreak
    (identical payloads here: Spark's xxhash64 has no DuckDB twin, so
    the DIFFERING-payload within-input case stays pinned by
    tests/test_upsert.py::test_upsert_duplicate_id_version_deterministic
    — the documented oracle boundary). The oracle computes the
    expected survivor per id directly (an independent derivation,
    not a mechanics replay)."""
    from .operators.upsert import upsert

    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_mktsegment").alias("seg")
    )
    existing = cust.withColumn("v", F.lit(1).cast("long"))
    b_upgrade = (
        cust.filter(F.col("id") % 3 == 0)
        .withColumn("seg", F.upper(F.col("seg")))
        .withColumn("v", F.lit(2).cast("long"))
    )
    b_tie = (
        cust.filter(F.col("id") % 7 == 0)
        .withColumn("seg", F.concat(F.col("seg"), F.lit("!")))
        .withColumn("v", F.lit(1).cast("long"))
    )
    b_dup = (
        cust.filter(F.col("id") % 11 == 0)
        .withColumn("seg", F.lit("DUP"))
        .withColumn("v", F.lit(3).cast("long"))
    )
    batch = b_upgrade.unionByName(b_tie).unionByName(b_dup).unionByName(b_dup)
    return upsert(existing, batch, id_col="id", version_col="v").select(
        "id", "seg", "v"
    )


def cube_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (all 2^k grouping sets in one pass — the
    rollup_pricing sibling): per (returnflag x linestatus), each
    margin, and the grand total. Spark expands the sets map-side;
    one shuffle regardless of k."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        _dsum(F.col("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def session_windows_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native gap-based session windows (F.session_window — the same
    operator Structured Streaming uses for streaming sessionization;
    sessionize_events is the hand-rolled lag+cumsum twin). Session =
    events per user with < 30-min gaps; window end = last event +
    gap."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value")).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


# ------------- corpus statistics / curation (training-pipeline ops) -------------

VOCAB_TOP = 50
TFIDF_TOP = 3
SAMPLE_PCT = 15


def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: global token frequencies, top-N. Explode ->
    one groupBy(token) with map-side partial counts -> TakeOrdered.
    At 100 TB this is the standard two-phase count (the explode stays
    in-task; only (token, partial_count) rows shuffle)."""
    from .functions.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "token")
        .limit(VOCAB_TOP)
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per document, top-3 terms: tf from one explode+groupBy,
    document frequency from the distinct (doc, term) pairs, smooth idf
    = ln((N+1)/(df+1)) + 1 (sklearn's formulation — public knowledge),
    window top-k per doc. Three shuffles total (term stats reused via
    one aggregation); the df table is tiny (vocabulary-sized) and
    broadcasts back onto the doc-term table."""
    from .functions.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar dimension of idf; one cheap action
    dt = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = dt.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df as a WINDOW count over the (doc, term) rows (r16): the r15
    # self-join of tf against its own groupBy(term) aggregate planned
    # as TWO full explode + (doc, term) shuffle subtrees (the branches
    # disagree on the tf column, so AQE's ReuseExchange cannot
    # deduplicate them — the same shape fixed in crossdoc_spans, plan
    # receipt in plans/r16/). df = count over the term partition is
    # the same integer by construction (tf is one row per (doc, term)).
    scored = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    idf = F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0
    scored = scored.withColumn("tfidf", F.round(F.col("tf") * idf, 6))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — the signature vector-database serving query
    (keyword + vector legs fused with reciprocal-rank fusion):

    - keyword leg: per-doc sum of smooth TF-IDF over the query's
      terms (same idf formulation as tfidf_top_terms), exact-decimal
      summed, top-HYBRID_LEG_K;
    - vector leg: cosine of the deterministic doc embedding vs the
      query embedding (raw component space, so the oracle reproduces
      the doubles bit-for-bit), top-HYBRID_LEG_K;
    - fuse: rrf_fuse (operators/search.py) at k=RRF_KCONST, top-10.

    Scale shape: both legs end in TakeOrderedAndProject over the
    corpus scan; the join/window run on the <=2*LEG_K candidate set
    only. The oracle replays both legs and the fusion in DuckDB."""
    from .functions.hashing import det_components_py, hash_components
    from .functions.text import tokens
    from .operators.search import ranked_topk, rrf_fuse

    docs = read_table(spark, sf_dir, "documents")
    qterms = sorted(set(QUERY_TEXT.split()))

    n_docs = docs.count()  # scalar idf dimension; one cheap action
    dt = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    ).filter(F.col("term").isin(qterms))
    tf = dt.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df via window count over the (doc, term) rows — same
    # double-subtree removal as tfidf_top_terms (r16): the corpus
    # explode + term filter ran once per branch of the old tf ⋈
    # groupBy(term) self-join; identical df integer by construction
    contrib = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    idf = F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0
    contrib = contrib.withColumn("c", F.round(F.col("tf") * idf, 6))
    kw = contrib.groupBy("doc_id").agg(
        F.sum(F.col("c").cast(DEC)).cast("double").alias("kw_score")
    )
    kw_leg = ranked_topk(kw, "kw_score", "doc_id", HYBRID_LEG_K)

    qv = det_components_py(QUERY_TEXT, EMBED_DIM)
    emb = docs.select(
        "doc_id", hash_components(F.col("text"), EMBED_DIM).alias("v")
    )
    vec = emb.select(
        "doc_id",
        F.round(cosine_to("v", qv), 6).alias("vec_score"),
    )
    vec_leg = ranked_topk(vec, "vec_score", "doc_id", HYBRID_LEG_K)

    return rrf_fuse(
        [("kw", kw_leg), ("vec", vec_leg)],
        id_col="doc_id",
        k_const=RRF_KCONST,
        topk=HYBRID_K,
    )


def sample_docs_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible corpus sampling: keep a doc iff
    md5('sample:'||doc_id) mod 100 < PCT — deterministic across
    engines, runs, AND cluster sizes (unlike df.sample, whose result
    depends on partitioning). The curation primitive for held-out
    splits: membership is a pure function of the key."""
    from .functions.hashing import md5_int

    docs = read_table(spark, sf_dir, "documents")
    bucket = md5_int(F.concat(F.lit("sample:"), F.col("doc_id"))) % 100
    return docs.filter(bucket < SAMPLE_PCT).select(
        "doc_id", bucket.cast("int").alias("sample_bucket"), F.length("text").alias("n_chars")
    )


def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch with a checked error bound: HyperLogLog++ distinct-part
    count vs the exact COUNT(DISTINCT), one row (n_exact, err_ok).
    The oracle recomputes n_exact and asserts err_ok TRUE, so a sketch
    regression >10x its 2% target rsd turns red. At 100 TB the sketch
    is the only affordable answer; this query keeps it honest."""
    li = read_table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.countDistinct("l_partkey").alias("n_exact"),
        F.approx_count_distinct("l_partkey", 0.02).alias("n_approx"),
    ).head()
    err_ok = abs(row["n_approx"] - row["n_exact"]) <= 0.10 * row["n_exact"]
    # exact + sketch computed in ONE pass above; the returned row
    # carries the already-measured values (no second scan)
    return spark.createDataFrame(
        [(row["n_exact"], bool(err_ok))], "n_exact long, err_ok boolean"
    )


# ---------------- streaming (driver-visible, bounded replay) ----------------

def stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming, driver-checked: the watermarked tumbling-
    window agg runs the finite events fixture to completion through a
    memory sink and must equal the BATCH answer — the oracle is the
    same SQL as events_hourly, so stream==batch parity is a green/red
    driver row, not just a pytest."""
    from .streaming.windows import run_stream_to_memory

    return run_stream_to_memory(spark, sf_dir, query_name="q_stream_events_hourly")


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-based session windows, driver-checked: the same
    F.session_window aggregation as session_windows_native run through
    Structured Streaming over the finite fixture — its oracle IS the
    batch oracle, so stream==batch sessionization parity is a
    green/red driver row."""
    from .streaming.windows import run_sessions_to_memory

    return run_sessions_to_memory(spark, sf_dir, query_name="q_stream_sessions")


def stream_clicks_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time interval join, driver-checked: the
    watermarked (clicks ⋈ purchases within 1 hour) join replays the
    finite fixture in append mode and must equal the batch banded
    range join — its oracle IS clicks_in_purchase_window's (DuckDB
    native IEJoin)."""
    from .streaming.joins import run_interval_join_to_memory

    return run_interval_join_to_memory(
        spark, sf_dir, query_name="q_stream_clicks_purchases"
    )


def stream_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream event-time interval join,
    driver-checked (r9 verdict item 4 — extends the streaming-parity
    family to OUTER semantics): the watermarked (clicks ⟕ purchases
    within 1 hour) join replays the sentinel-extended finite fixture in
    append mode — Spark emits each unmatched click exactly once, when
    the watermark proves no future purchase can still match — and must
    equal the batch LEFT banded range join bit-for-bit: its oracle IS
    outer_range_join's (DuckDB native LEFT IEJoin). The sentinel
    mechanics (why a finite outer replay needs them, and why the tail
    would otherwise never flush) live in
    streaming/joins.outer_join_landing_dir."""
    from .streaming.joins import run_outer_interval_join_to_memory

    return run_outer_interval_join_to_memory(
        spark, sf_dir, query_name="q_stream_outer_interval_join"
    )


def stream_pdf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 streaming variant, driver-checked: a landing directory of
    REAL PDFs (pdf_text.make_pdf: text layer + FlateDecode, derived
    deterministically from the first 40 documents at 400 chars/page)
    is streamed through binaryFile readStream -> parse_pdf_pages
    (the same Arrow-batched kernel as batch) into a memory sink;
    pages are then reassembled with the T1 concat operator. The
    oracle recomputes (doc_id, n_pages, text) straight from the
    documents table, so the whole write -> stream -> parse ->
    reassemble loop must reproduce the source text EXACTLY to stay
    green (reference `streamlit_app.py:127,62-63`)."""
    from .streaming.ingest import run_pdf_ingest_to_memory

    sunk = run_pdf_ingest_to_memory(
        spark, sf_dir, query_name="q_stream_pdf_ingest"
    )
    # one pass: count + T1 order-correct concat (concat_pages shape,
    # inlined so both aggregates share a single shuffle)
    return sunk.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_pages"),
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("page_no"), F.col("page_text")))
                ),
                lambda s: s["page_text"],
            ),
        ).alias("text"),
    )


def stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join, driver-checked: the batch-doc stream is
    MinHash-signed per row (stateless — no watermark or state needed),
    banded, and joined against the STATIC persisted corpus signature
    store inside Structured Streaming; cross-band pair dedup + the
    per-doc verdict aggregation run as a batch step over the sink.
    Output is IDENTICAL to dedup_incremental, so its oracle (which
    recomputes both signature sets from scratch in DuckDB) certifies
    stream==batch parity for the one streaming join flavor the other
    stream queries don't cover (stream-stream: stream_clicks_purchases;
    this: stream-static)."""
    from .streaming.dedup import run_incremental_dedup_to_memory

    sunk = run_incremental_dedup_to_memory(
        spark,
        sf_dir,
        query_name="q_stream_dedup_incremental",
        num_hashes=MINHASH_HASHES,
        ngram=NGRAM,
        bands=MINHASH_BANDS,
        trunc=NEARDUP_TRUNC,
    )
    pairs = sunk.dropDuplicates(["batch_id", "corpus_id"]).filter(
        F.col("jaccard_est") >= 0.5
    )
    agg = pairs.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.max("jaccard_est").alias("best_est"),
    )
    from .operators.dedup import derive_incremental_batch

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch_ids = derive_incremental_batch(docs, trunc=NEARDUP_TRUNC).select(
        F.col("doc_id").alias("batch_id")
    )
    n = F.coalesce("n_matches", F.lit(0).cast("long"))
    return batch_ids.join(agg, "batch_id", "left").select(
        "batch_id",
        n.alias("n_matches"),
        F.round(F.coalesce("best_est", F.lit(0.0)), 6).alias("best_est"),
        (n > 0).alias("is_dup"),
    )


def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming watermark-bounded dedup, driver-checked on the key
    SET: which physical row survives per key is arrival-order-
    dependent, but the emitted key coverage must equal batch DISTINCT."""
    from .streaming.dedup import run_dedup_to_memory

    out = run_dedup_to_memory(spark, sf_dir, query_name="q_stream_dedup_keys")
    return out.select("user_id", "event_type").distinct()


# ---------------- write semantics (S8 upsert) ----------------

def _upsert_fixture(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Shared S8 fixture: existing table v1; a batch that updates every
    5th doc (uppercased text, v2) and inserts new ids."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    existing = docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("id"),
        F.col("text"),
        F.lit(1).cast("long").alias("ingest_version"),
    )
    updates = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("id"),
        F.upper(F.col("text")).alias("text"),
        F.lit(2).cast("long").alias("ingest_version"),
    )
    inserts = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.concat(F.lit("new-"), F.col("doc_id")).alias("id"),
        F.col("text"),
        F.lit(2).cast("long").alias("ingest_version"),
    )
    return existing, updates.unionByName(inserts)


def upsert_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 — idempotent last-writer-wins upsert (reference
    `streamlit_app.py:106-112` upsert semantics, minus the silent
    batch-skip of :117-121): compact keeps the highest
    (version, is_batch) per id."""
    from .functions.hashing import md5_int
    from .operators.upsert import upsert

    existing, batch = _upsert_fixture(spark, sf_dir)
    out = upsert(existing, batch)
    return out.select(
        "id", "ingest_version", md5_int(F.col("text"), 12).alias("content_fp48")
    )


def upsert_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 at storage level, end-to-end: the existing table is WRITTEN
    id-bucketed (io.write_bucketed), then merged with the batch via the
    co-clustered full-outer-join MERGE — the big side reads its buckets
    with no Exchange (plan-asserted in tests/test_io_scale.py); only
    the small batch moves. Same LWW result as upsert_compact, so the
    same oracle values check the whole write->read->merge loop."""
    import os as _os

    from .functions.hashing import md5_int
    from .io import write_bucketed
    from .operators.upsert import upsert_cocluster

    existing, batch = _upsert_fixture(spark, sf_dir)
    base = _os.path.basename(_os.path.normpath(sf_dir)).replace(".", "_")
    name = f"upsert_bucketed_{base}"
    root = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), ".tmp_tables"
    )
    write_bucketed(
        existing, name, _os.path.join(root, name), buckets=8, by=("id",)
    )
    out = upsert_cocluster(spark.table(name), batch)
    return out.select(
        "id", "ingest_version", md5_int(F.col("text"), 12).alias("content_fp48")
    )


# ---------------- ANN family (Q3 + S6 index build) ----------------

def clustered_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-clustered corpus derived deterministically from the
    embeddings fixture: centroid(label) + ALPHA * embedding, with
    centroid(l) = det_embed("cluster:l"). Gives ANN recall something
    real to measure (see ANN_CELLS comment); exactly reproducible in
    DuckDB (elementwise double arithmetic, no normalization — cosine
    is scale-invariant per vector)."""
    emb = read_table(spark, sf_dir, "embeddings")
    cents = [det_embed_py(f"cluster:{l}", EMBED_DIM) for l in range(ANN_N_LABELS)]
    cent_lit = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cents])
    cent = F.element_at(cent_lit, F.col("label") + 1)
    derived = F.zip_with(
        cent, F.col("embedding"), lambda c, x: c + F.lit(ANN_ALPHA) * x
    )
    return emb.select("vec_id", "label", derived.alias("embedding"))


def q3_ann_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 — IVF index BUILD as its own query: fit (2 Lloyd passes) and
    persist the assigned corpus partitioned by ``cell``; probes
    (q3_ann_ivf) then prune partitions instead of rebuilding.

    Output = seed-independent invariants the oracle re-asserts (the
    per-cell histogram itself is k-means-init-dependent and stays off
    the hashed surface): every corpus vector assigned exactly once —
    total and distinct counts recomputed by DuckDB from the source
    table — and the nonempty cell count within (0, ANN_CELLS],
    asserted TRUE."""
    import os as _os

    from .io import table_path
    from .operators.ann import build_ivf_index, ivf_fingerprint, ivf_index_path

    emb = read_table(spark, sf_dir, "embeddings")
    path = ivf_index_path(sf_dir, ANN_CELLS)
    # constants + kernel code token in the salt (r10 review): a kernel
    # fix or constant change must rebuild, never serve old-kernel cells
    fp = ivf_fingerprint(table_path(sf_dir, "embeddings"), ANN_CELLS, 2, EMBED_DIM)
    build_ivf_index(
        emb, path, n_cells=ANN_CELLS, iters=2, dim=EMBED_DIM, fingerprint=fp
    )
    assigned = spark.read.parquet(_os.path.join(path, "assigned"))
    n_cells = F.countDistinct("cell")
    return assigned.agg(
        F.count(F.lit(1)).alias("total_assigned"),
        F.countDistinct("vec_id").alias("distinct_vecs"),
        ((n_cells >= 1) & (n_cells <= ANN_CELLS)).alias("cells_ok"),
    )


def q3_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 — ANN top-10 probing the PERSISTED IVF index (built by
    q3_ann_build; built here once if missing): nprobe/16 cells read
    via partition pruning (plan-asserted), exact re-rank inside.

    Driver-visible output is the invariant row (the returned id SET is
    k-means-init-dependent): k rows returned; every probe score equals
    the exact cosine recomputed independently over the source table
    (guaranteed by the exact re-rank — a distance-kernel bug turns
    this false); scores descend; and measured recall vs the exact
    top-10 >= 0.4 — above the 0.375 uniform-random baseline of probing
    nprobe/ANN_CELLS of the corpus (measured 0.6-0.9 across
    sf0.001-0.1, round 4; the uniform fixture has no cluster structure
    for IVF to exploit, so the honest floor is beats-random, not 0.9 —
    q3_ann_recall holds the 0.9 gate on the clustered corpus)."""
    from .io import table_path
    from .operators.ann import (
        build_ivf_index,
        ivf_fingerprint,
        ivf_index_exists,
        ivf_index_path,
        probe_ivf_index,
    )

    path = ivf_index_path(sf_dir, ANN_CELLS)
    fp = ivf_fingerprint(table_path(sf_dir, "embeddings"), ANN_CELLS, 2, EMBED_DIM)
    emb = read_table(spark, sf_dir, "embeddings")
    if not ivf_index_exists(path, fp):
        build_ivf_index(
            emb, path, n_cells=ANN_CELLS, iters=2, dim=EMBED_DIM, fingerprint=fp
        )
    qv = det_embed_py(QUERY_TEXT, EMBED_DIM)
    probe = probe_ivf_index(spark, path, qv, k=10, nprobe=ANN_NPROBE).select(
        "vec_id", F.round("score", 6).alias("score")
    )
    scored = emb.select(
        "vec_id", F.round(cosine_to("embedding", qv), 6).alias("s")
    )

    def _probe_leg():
        rows = probe.collect()  # <= k rows — driver-side gate assembly
        truth = {
            r["vec_id"]: r["s"]
            for r in scored.filter(
                F.col("vec_id").isin([r["vec_id"] for r in rows])
            ).collect()
        }
        return rows, truth

    def _exact_leg():
        return {r["vec_id"] for r in topk_cosine(emb, qv, k=10).collect()}

    # the exact-top-10 scan is independent of the probe chain — run
    # both legs concurrently (_overlap, guide §2.6); identical values
    (rows, truth), exact_ids = _overlap(_probe_leg, _exact_leg)
    scores_exact_ok = all(truth.get(r["vec_id"]) == r["score"] for r in rows)
    sorted_ok = all(
        rows[i]["score"] >= rows[i + 1]["score"] for i in range(len(rows) - 1)
    )
    recall_ok = len(exact_ids & {r["vec_id"] for r in rows}) / 10 >= 0.4
    return spark.range(1).select(
        F.lit(len(rows)).cast("int").alias("k"),
        F.lit(scores_exact_ok).alias("scores_exact_ok"),
        F.lit(sorted_ok).alias("sorted_ok"),
        F.lit(recall_ok).alias("recall_ok"),
    )


def q3_ann_quantized_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 serving variant — int8-prefilter + exact re-rank top-10:
    stage 1 scans 4x-compressed int8 codes and keeps the
    ANN_RERANK_CAND best exact-integer dot products (ties to min id),
    stage 2 re-scores only those with exact double cosine. Unlike the
    IVF/LSH variants this path is seed-free and FULLY deterministic,
    so the oracle replicates the whole pipeline (quantize -> integer
    dot -> candidate cut -> cosine re-rank) bit-for-bit in DuckDB —
    a hash-green ANN row, not just invariants."""
    from .operators.ann import persisted_int8_codes, quantized_rerank_topk

    emb = read_table(spark, sf_dir, "embeddings")
    codes = persisted_int8_codes(spark, sf_dir, emb)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    out = quantized_rerank_topk(
        emb, q, k=10, cand_k=ANN_RERANK_CAND, codes=codes
    )
    return out.select(
        "vec_id", "label", "q_dot", F.round("score", 6).alias("score")
    )


def q3_ann_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 serving variant at 32x compression — sign-bit binary codes +
    Hamming prefilter + exact cosine re-rank (operators/ann.py
    binary_*): stage 1 scans the persisted packed-bit codes store and
    keeps the BIN_CAND Hamming-nearest via xor+bit_count; stage 2
    point-fetches those rows (isin pushed into the vector scan) and
    re-ranks with exact double cosine. Seed-free, so the DuckDB oracle
    replays codes, Hamming cut, and re-rank bit-for-bit — a hash-green
    ANN row like q3_ann_quantized_rerank."""
    from .operators.ann import binary_rerank_topk, persisted_binary_codes

    emb = read_table(spark, sf_dir, "embeddings")
    codes = persisted_binary_codes(spark, sf_dir, emb, dim=EMBED_DIM)
    q = emb.filter(F.col("vec_id") == BIN_QUERY_ID).select(
        F.col("embedding").alias("qv")
    )
    out = binary_rerank_topk(
        emb, q, k=10, cand_k=BIN_CAND, codes=codes, dim=EMBED_DIM
    )
    return out.select(
        "vec_id", "label", "hamming", F.round("score", 6).alias("score")
    )


def q3_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 quality, driver-visible: IVF top-k vs exact top-k on the
    clustered derived corpus, one row (k, exact_ids, recall_ok). The
    oracle recomputes the exact top-k in DuckDB (bit-identical derived
    embeddings + cosine) and asserts recall_ok TRUE — so an index
    regression that drops recall below 0.9 turns this row red."""
    from .io import table_path
    from .operators.ann import (
        build_ivf_index,
        ivf_fingerprint,
        ivf_index_exists,
        ivf_index_path,
        probe_ivf_index,
    )

    corpus = clustered_embeddings(spark, sf_dir)
    path = ivf_index_path(sf_dir, ANN_CELLS) + "_clustered"
    # corpus-derivation constants join via extra_salt; index constants
    # + kernel code token come from ivf_fingerprint itself (r10 review)
    fp = ivf_fingerprint(
        table_path(sf_dir, "embeddings"), ANN_CELLS, 2, EMBED_DIM,
        extra_salt=f"a{ANN_ALPHA}:l{ANN_N_LABELS}",
    )
    if not ivf_index_exists(path, fp):
        build_ivf_index(
            corpus, path, n_cells=ANN_CELLS, iters=2, dim=EMBED_DIM, fingerprint=fp
        )
    qv = [float(x) for x in corpus.filter(F.col("vec_id") == 0).head()["embedding"]]
    approx = probe_ivf_index(
        spark, path, qv, k=ANN_RECALL_K, nprobe=ANN_RECALL_NPROBE
    ).select("vec_id")
    exact = topk_cosine(corpus, qv, k=ANN_RECALL_K).select("vec_id")
    n_overlap = approx.join(exact, "vec_id").count()
    recall_ok = (n_overlap / ANN_RECALL_K) >= 0.9
    return exact.agg(
        F.lit(ANN_RECALL_K).alias("k"),
        F.concat_ws(
            "-",
            F.transform(F.sort_array(F.collect_list("vec_id")), lambda x: x.cast("string")),
        ).alias("exact_ids"),
        F.lit(recall_ok).alias("recall_ok"),
    )


def q3_ann_lsh_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2/Q3 corpus×corpus similarity JOIN, driver-visible: MLlib
    approxSimilarityJoin (BucketedRandomProjectionLSH over L2-normalized
    vectors) at cosine >= ANN_JOIN_COS, gated against the exact pair
    set — the same oracle pattern as q3_ann_recall. Output is one row:
    the exact pair count + sorted pair digest (DuckDB recomputes both
    bit-identically) and recall/precision booleans the Spark side
    measures; the oracle asserts them TRUE, so an LSH regression that
    drops either below 0.9 turns this row red.

    The exact side here is the unblocked O(n²) verify — test-scale
    truth computation only. At corpus scale the LSH join IS the
    product path (sub-quadratic candidates, exact distance filter);
    you never materialize the unblocked exact join. Since round 7 the
    exact side reads the fingerprint-keyed truth store
    (persisted_cosine_truth, r6 verdict item 3) — the oracle still
    recomputes it from raw parquet, so staleness turns the row red."""
    from .caching import persist_tracked
    from .operators.ann import BrpLshIndex

    emb = read_table(spark, sf_dir, "embeddings")
    exact = persist_tracked(persisted_cosine_truth(spark, sf_dir))
    idx = BrpLshIndex(
        bucket_length=ANN_JOIN_BUCKET_LEN, num_hash_tables=ANN_JOIN_TABLES
    ).fit(emb)
    approx = idx.similarity_self_join(max_cos_dist=1.0 - ANN_JOIN_COS)
    # the persisted-truth read and the LSH self-join are independent
    # jobs — overlap the two collects (guide §2.6); identical values
    exact_pairs, approx_pairs = _overlap(
        lambda: {(r["id_a"], r["id_b"]) for r in exact.collect()},
        lambda: {(r["id_a"], r["id_b"]) for r in approx.collect()},
    )
    overlap = len(exact_pairs & approx_pairs)
    recall_ok = (not exact_pairs) or overlap / len(exact_pairs) >= 0.9
    precision_ok = (not approx_pairs) or overlap / len(approx_pairs) >= 0.9
    pair_str = F.concat_ws(":", "id_a", "id_b")
    return exact.agg(
        F.count(F.lit(1)).alias("n_exact_pairs"),
        F.concat_ws(",", F.sort_array(F.collect_list(pair_str))).alias(
            "pair_digest"
        ),
        F.lit(recall_ok).alias("recall_ok"),
        F.lit(precision_ok).alias("precision_ok"),
    )


def q3_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 (MLlib variant) — ANN top-10 via BucketedRandomProjectionLSH
    over L2-normalized vectors (unit sphere: Euclidean order == cosine
    order; property-tested in tests/test_vector.py).

    Driver-visible output is the invariant row (bucket boundaries are
    projection-dependent, so the id SET is not stable): k rows; every
    reported distance equals sqrt(2 - 2*cos) recomputed independently
    (within 2e-6 — two float paths to the same quantity); distances
    ascend; measured recall vs the exact cosine top-10 >= 0.5
    (measured 0.8-1.0 across sf0.001-0.1, round 4)."""
    import math

    from .operators.ann import BrpLshIndex

    emb = read_table(spark, sf_dir, "embeddings")
    qv = det_embed_py(QUERY_TEXT, EMBED_DIM)
    idx = BrpLshIndex(bucket_length=0.5, num_hash_tables=3).fit(emb)
    out = idx.query(qv, k=10).select(
        "vec_id", F.round("distCol", 6).alias("eucl_dist")
    )
    scored = emb.select(
        "vec_id",
        cosine_to("embedding", qv).alias("s"),
    )

    def _probe_leg():
        rows = out.collect()  # <= k rows — driver-side gate assembly
        truth = {
            r["vec_id"]: math.sqrt(max(0.0, 2.0 - 2.0 * r["s"]))
            for r in scored.filter(
                F.col("vec_id").isin([r["vec_id"] for r in rows])
            ).collect()
        }
        return rows, truth

    def _exact_leg():
        return {r["vec_id"] for r in topk_cosine(emb, qv, k=10).collect()}

    # exact-top-10 leg is independent of the LSH probe chain — overlap
    # the driver actions (guide §2.6); identical values
    (rows, truth), exact_ids = _overlap(_probe_leg, _exact_leg)
    dists_exact_ok = all(
        abs(truth.get(r["vec_id"], float("inf")) - r["eucl_dist"]) <= 2e-6
        for r in rows
    )
    sorted_ok = all(
        rows[i]["eucl_dist"] <= rows[i + 1]["eucl_dist"]
        for i in range(len(rows) - 1)
    )
    recall_ok = len(exact_ids & {r["vec_id"] for r in rows}) / 10 >= 0.5
    return spark.range(1).select(
        F.lit(len(rows)).cast("int").alias("k"),
        F.lit(dists_exact_ok).alias("dists_exact_ok"),
        F.lit(sorted_ok).alias("sorted_ok"),
        F.lit(recall_ok).alias("recall_ok"),
    )


def chunker_separator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 (reference-faithful variant) — separator-aware greedy merge
    chunker (CharacterTextSplitter semantics) as a Pandas UDF."""
    from .operators.chunker import chunk_separator

    docs = read_table(spark, sf_dir, "documents")
    return chunk_separator(
        docs, chunk_size=CHUNK_SIZE, chunk_overlap=CHUNK_OVERLAP, separator=" "
    )


# ------------- corpus rewrite + LM quality (round 4b) -------------

def segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact segment dedup with rewrite (the destructive
    twin of crossdoc_spans): SEG_N-token segments, global keep-first,
    per-doc reassembly (operators/text_analysis.segment_dedup_rewrite
    — one window shuffle on the segment text + one doc_id groupBy)."""
    from .operators.text_analysis import segment_dedup_rewrite

    docs = read_table(spark, sf_dir, "documents")
    out = segment_dedup_rewrite(docs, n=SEG_N)
    return out.select(
        "doc_id",
        "n_segments",
        "kept_segments",
        F.md5(F.col("clean_text")).alias("clean_md5"),
        F.length("clean_text").alias("clean_chars"),
    )


def lm_bigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring: per-doc cross-entropy under a
    corpus-trained bigram MLE model (operators/text_analysis
    .bigram_lm_xent), banded low/mid/high on the rounded score so the
    band is decided on identical numbers in both engines."""
    from .operators.text_analysis import bigram_lm_xent

    docs = read_table(spark, sf_dir, "documents")
    out = bigram_lm_xent(docs)
    band = (
        F.when(F.col("xent") <= LM_BAND_LOW, F.lit("low"))
        .when(F.col("xent") <= LM_BAND_MID, F.lit("mid"))
        .otherwise(F.lit("high"))
    )
    return out.select("doc_id", "n_bigrams", "xent", band.alias("ppl_band"))


# ---------------- events analytics (round 4b) ----------------

def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel over the events stream: signup -> view -> click
    -> purchase, each stage's timestamp required AT OR AFTER the
    user's previous-stage entry (min-ts chaining, the standard product
    funnel). Output: one row per stage with reached-user counts and
    conversion rates.

    Scale shape (100 TB): each stage is a filtered scan + one
    map-side-combined groupBy on user_id; the stage joins are
    user_id-equi-joins between aggregates (both sides already
    user-unique, co-partitioned under AQE); the final assembly joins
    four 1-row aggregates. No window over the raw event stream, no
    per-user event sorting."""
    ev = read_table(spark, sf_dir, "events")
    reached = None
    stage_counts = []
    for stage in FUNNEL_STAGES:
        stage_ev = ev.filter(F.col("event_type") == stage)
        if reached is None:
            cur = stage_ev.groupBy("user_id").agg(F.min("ts").alias("t"))
        else:
            cur = (
                stage_ev.join(reached, "user_id")
                .filter(F.col("ts") >= F.col("t"))
                .groupBy("user_id")
                .agg(F.min("ts").alias("t2"))
                .withColumnRenamed("t2", "t")
            )
        reached = cur
        stage_counts.append(
            cur.agg(F.count(F.lit(1)).alias(f"n_{stage}"))
        )
    row = stage_counts[0]
    for c in stage_counts[1:]:
        row = row.crossJoin(c)
    stages = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("stage_idx"),
                F.lit(stage).alias("stage"),
                F.col(f"n_{stage}").alias("n_users"),
                # try_divide (r15 review wave 11, the cosine ANSI
                # class): a stage with ZERO reached users is a
                # legitimate input shape (sparse event mix, filtered
                # window) and the stage counts are GLOBAL aggregates,
                # so 0 reaches this denominator — plain / is a
                # query-killing DIVIDE_BY_ZERO under ANSI (doubles
                # included, measured) while the DuckDB twin's / is
                # NULL. NULL conversion from an empty stage is the
                # agreed fate in both engines.
                F.round(
                    F.try_divide(
                        F.col(f"n_{stage}").cast("double"),
                        F.col(f"n_{FUNNEL_STAGES[max(i - 1, 0)]}").cast(
                            "double"
                        ),
                    ),
                    6,
                ).alias("conv_from_prev"),
                F.round(
                    F.try_divide(
                        F.col(f"n_{stage}").cast("double"),
                        F.col(f"n_{FUNNEL_STAGES[0]}").cast("double"),
                    ),
                    6,
                ).alias("conv_from_first"),
            )
            for i, stage in enumerate(FUNNEL_STAGES)
        ]
    )
    return row.select(F.explode(stages).alias("s")).select("s.*")


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: cohort = week (vs a fixed
    anchor date) of the user's first event; a cohort is "active at
    offset k" if any member has an event in cohort_week + k. Output:
    (cohort_week, week_offset, n_active, cohort_size, retention).

    Scale shape: first-touch is one groupBy(user_id) min; activity is
    a distinct over (user, week) pairs (cardinality-bounded, NOT the
    raw event count); the first-touch join is user-unique on both
    sides. All integer day arithmetic vs a fixed anchor — no
    engine-specific week()/timezone semantics."""
    ev = read_table(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.lit(RETENTION_ANCHOR))
    evd = ev.select("user_id", day.alias("day"))
    first = evd.groupBy("user_id").agg(F.min("day").alias("first_day"))
    cohort = first.select(
        "user_id", (F.col("first_day") / 7).cast("int").alias("cohort_week")
    )
    size = cohort.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    active = (
        evd.join(cohort, "user_id")
        .select(
            "user_id",
            "cohort_week",
            ((F.col("day") / 7).cast("int") - F.col("cohort_week")).alias(
                "week_offset"
            ),
        )
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return active.join(F.broadcast(size), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        F.round(
            F.col("n_active").cast("double") / F.col("cohort_size").cast("double"),
            6,
        ).alias("retention"),
    )


def scd2_customer_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD build from the orders change log: per customer,
    order-priority history as validity intervals [valid_from,
    valid_to) with change detection (repeat observations extend the
    interval) — operators/upsert.scd2_from_changelog: one Exchange,
    both windows in a single WindowExec pipeline."""
    from .operators.upsert import scd2_from_changelog

    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"
    )
    return scd2_from_changelog(
        orders,
        key="o_custkey",
        attr="o_orderpriority",
        order_cols=["o_orderdate", "o_orderkey"],
        valid_col="o_orderdate",
    )


def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection over event values: per event_type
    median + MAD (exact interpolated percentiles, rounded to 6 before
    the score so both engines score identical numbers), flag events
    with |value - med| / (1.4826 * MAD) > MAD_K.

    Scale shape: exact medians via two percentile aggregations —
    at 100 TB these become approx_percentile with a documented error
    budget (the approx_percentiles_gate query measures that swap); the
    scoring pass is a broadcast join of a 5-row stats table against
    the scan."""
    ev = read_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile("ad", F.lit(0.5)), 6).alias("mad")
    )
    scored = dev.join(F.broadcast(mad), "event_type").withColumn(
        "rscore", F.round(F.col("ad") / (F.lit(MAD_SCALE) * F.col("mad")), 6)
    )
    return scored.filter(F.col("rscore") > MAD_K).select(
        "event_id", "event_type", "value", "med", "mad", "rscore"
    )


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    bucket the corpus by a deterministic signed-random-projection
    semantic key (operators/ann.random_projection_buckets — the
    seed-free stand-in for k-means cluster ids), find within-bucket
    pairs with cosine >= SEMDEDUP_COS (the chunked blocked kernel from
    embedding_neardup_pairs), and drop the LATER member of each pair
    (keep-earliest-id — the deterministic twin of SemDeDup's
    keep-one-per-epsilon-ball). Runs on the label-clustered derived
    corpus (clustered_embeddings) where semantic duplicates actually
    exist; the raw fixture is uniform on the sphere.

    Scale shape (100 TB): the projection key is pure codegen'd SQL at
    scan speed; the self-join is bucket-bounded (never all-pairs); the
    drop set is |pairs|-bounded and broadcasts back against the
    corpus. Verdict per vector: (vec_id, label, bucket, is_kept)."""
    from .caching import persist_tracked
    from .operators.ann import random_projection_buckets
    from .operators.dedup import embedding_neardup_pairs

    corpus = clustered_embeddings(spark, sf_dir)
    # persisted: the pairs kernel AND the output join both consume the
    # bucketed corpus, and its lineage holds the zip_with centroid
    # derivation (higher-order function — interpreted, the expensive
    # part at this scale) — compute it once, not per consumer
    bucketed = persist_tracked(
        random_projection_buckets(corpus, dim=EMBED_DIM, n_planes=SEMDEDUP_PLANES)
    )
    pairs = embedding_neardup_pairs(
        bucketed, block_col="bucket", threshold=SEMDEDUP_COS
    )
    drops = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return bucketed.join(
        F.broadcast(drops.withColumn("__dropped", F.lit(True))),
        "vec_id",
        "left",
    ).select(
        "vec_id",
        "label",
        F.col("bucket"),
        F.coalesce(F.col("__dropped"), F.lit(False)).alias("is_dropped"),
    )


# ------------- TPC-H-class SQL-surface breadth (round 4b) -------------

def order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer LEFT OUTER orders (priority-filtered),
    per-customer order count, then the count distribution — the
    left-outer + double-aggregation pattern. Customers with zero
    qualifying orders must appear in the c_count=0 bucket."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        cust.join(
            orders,
            cust.c_custkey == orders.o_custkey,
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total lineitem quantity exceeds a
    threshold (aggregate-derived IN set, planned as a semi-join),
    joined back to customer, top-10 by totalprice. The HAVING
    aggregate runs over lineitem once; orders/customer join it."""
    li = read_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > LARGE_ORDER_QTY)
    )
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate"),
            "o_totalprice",
            F.col("total_qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )


def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: per-supplier revenue over a shipdate quarter,
    keep supplier(s) whose revenue equals the corpus max (scalar
    subquery over the SAME aggregate — Catalyst computes the CTE once
    per branch; ties all surface, deterministically)."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q15_START).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q15_END).cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        _dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    sup = read_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == mx.mx)
        .join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round("total_revenue", 6).alias("total_revenue"),
        )
    )


def returned_items_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer over a
    quarter of orders, customer/nation broadcast, top-20 TakeOrdered."""
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q10_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q10_END).cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            _dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            ).alias("revenue")
        )
    )
    return (
        rev.join(F.broadcast(cust), rev.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "c_acctbal",
            F.round("revenue", 6).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def rolling_revenue_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame sliding aggregation: per nation, daily order
    revenue with a 7-day trailing-window sum (RANGE BETWEEN 6
    PRECEDING, integer day key vs a fixed anchor — no interval-frame
    dialect drift). Scale shape: one groupBy to daily grain (bounded
    cardinality: nations x days), then the window runs per-nation over
    the DAILY series, never the raw orders."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    day = F.datediff(F.to_date("o_orderdate"), F.lit(RETENTION_ANCHOR_TPCH))
    daily = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name"), day.alias("day"))
        .agg(_dsum(F.col("o_totalprice")).alias("day_rev"))
    )
    w = (
        Window.partitionBy("n_name")
        .orderBy("day")
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "n_name",
        "day",
        F.round("day_rev", 6).alias("day_rev"),
        F.round(
            F.sum(F.col("day_rev").cast(DEC)).over(w).cast("double"), 6
        ).alias("rev_7d"),
    )


def acctbal_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-function breadth on one partitioned ordering: ntile
    quartiles, percent_rank, cume_dist over customer balances per
    market segment — one Exchange, one sort, one WindowExec."""
    cust = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


# ---------------- full-22 TPC-H shape closure ----------------
# The eight shapes already covered elsewhere: Q1 tpch_q1_pricing,
# Q3 top_unshipped_orders, Q5 local_supplier_volume, Q6
# q6_revenue_band, Q10 returned_items_topk, Q13
# order_count_distribution, Q15 top_supplier_revenue, Q18
# large_order_customers. The fourteen below close the remaining
# query-shape families (correlated scalar subqueries, ratio-of-
# conditional-sums, nation-pair joins, NOT IN, double-EXISTS,
# disjunctive pushdown) against the driver's schema (no partsupp /
# commitdate / shipmode — each docstring names its adaptation).


def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (no partsupp: supply cost := realized unit
    price l_extendedprice/l_quantity per part x supplier in one
    region). The correlated `= (SELECT min ...)` is expressed as an
    aggregate + equi-join-back on partkey — the same shuffle key as
    the aggregate, so Catalyst reuses the partitioning; the final
    top-20 is TakeOrdered. Both sums route through DECIMAL and the
    division happens on the two exact-cast doubles, so the argmin is
    bit-identical cross-engine."""
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q2_REGION
    )
    part = read_table(spark, sf_dir, "part").filter(
        F.col("p_size") <= Q2_MAX_SIZE
    )
    cost = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            (_dsum(F.col("l_extendedprice")) / _dsum(F.col("l_quantity"))).alias(
                "unit_price"
            )
        )
    )
    supp_dim = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    # the correlated min as a WINDOW over the aggregated cost rows
    # (r16): the r15 cost ⋈ groupBy(partkey) join-back planned the
    # whole lineitem 3-way join + aggregation TWICE (diverging
    # branches defeat ReuseExchange — same class as crossdoc/tfidf,
    # plan receipt in plans/r16/); min over the partkey partition is
    # the same double by construction and rides the aggregation's
    # existing (l_partkey, l_suppkey) clustering with one narrower
    # re-shuffle instead of a second scan+join subtree.
    min_up = F.min("unit_price").over(Window.partitionBy("l_partkey"))
    return (
        cost.withColumn("min_up", min_up)
        .filter(F.col("unit_price") == F.col("min_up"))
        .join(part, cost.l_partkey == part.p_partkey)
        .join(supp_dim, cost.l_suppkey == supp_dim.s_suppkey)
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            F.round("unit_price", 4).alias("min_unit_price"),
        )
        .orderBy(F.desc("min_unit_price"), "p_partkey", "s_name")
        .limit(Q2_TOPN)
    )


def priority_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (no commit/receipt dates: a late line is
    l_shipdate > o_orderdate + 60 days): order counts per priority for
    one quarter where EXISTS a late line — a left-semi join keyed on
    orderkey with the date condition riding along, so lineitem is
    never aggregated, and the quarter filter pushes to the orders
    scan."""
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q4_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q4_END).cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (
            li.l_shipdate
            > orders.o_orderdate + F.expr(f"INTERVAL {Q4_LATE_DAYS} DAY")
        ),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations by ship
    year, supplier side vs customer side. The two nation dims
    broadcast under distinct aliases; the pair predicate is a
    disjunction over the two broadcast columns, evaluated after both
    map-side joins — no shuffle is keyed on it."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q7_START).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q7_END).cast("timestamp"))
    )
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    sn = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == Q7_NATION_A)
        & (F.col("cust_nation") == Q7_NATION_B)
    ) | (
        (F.col("supp_nation") == Q7_NATION_B)
        & (F.col("cust_nation") == Q7_NATION_A)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), supp.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            _dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            ).alias("volume")
        )
    )


def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of PROMO-part revenue among
    one region's customers, per order year — a ratio of two
    conditional sums over the same 7-way join. Numerator and
    denominator are each exact decimal sums cast to double once, so
    the division (and its round-6) cannot drift cross-engine."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    part = read_table(spark, sf_dir, "part").filter(F.col("p_type") == Q8_TYPE)
    sn = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q8_REGION
    )
    vol = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), supp.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(cn), cust.c_nationkey == cn.n_nationkey)
        .join(F.broadcast(region), cn.n_regionkey == region.r_regionkey)
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.round(
                _dsum(
                    F.when(F.col("supp_nation") == Q8_NATION, vol).otherwise(
                        F.lit(0.0)
                    )
                )
                / _dsum(vol),
                6,
            ).alias("mkt_share")
        )
    )


def product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (no partsupp: supply cost := 10% of
    p_retailprice per unit): profit on name-matched parts by supplier
    nation and order year. The LIKE filter prunes part before any
    join; the profit expression folds in whole-stage codegen and sums
    through DECIMAL."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    part = read_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains(Q9_NAME_FRAG)
    )
    profit = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) - (
        F.lit(Q9_COST_FRAC) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("order_year"),
        )
        .agg(_dsum(profit).alias("profit"))
    )


def important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (no partsupp: inventory value := shipped
    quantity x retail price through one region's suppliers): parts
    whose value exceeds a multiple of the MEAN part value — the HAVING
    scalar subquery is a 1-row broadcast cross join over the same
    aggregate, so the per-part values are computed once. The cut is
    mean-relative (TPC-H scales its absolute fraction by 1/SF for the
    same reason: part count grows with SF). Sums stay in exact DECIMAL
    through the global mean; each side is cast to double once before
    the threshold compare, so the cut is deterministic at any
    parallelism."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q11_REGION
    )
    val = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("l_partkey")
        .agg(
            F.sum((F.col("l_quantity") * F.col("p_retailprice")).cast(DEC)).alias(
                "pv_dec"
            )
        )
    )
    mean = val.agg(
        (F.sum("pv_dec").cast("double") / F.count(F.lit(1))).alias("mean_value")
    )
    return (
        val.crossJoin(F.broadcast(mean))
        .filter(
            F.col("pv_dec").cast("double")
            > F.lit(Q11_MEAN_MULT) * F.col("mean_value")
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round(F.col("pv_dec").cast("double"), 2).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "partkey")
    )


def shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (no l_shipmode: mode := ship-delay bucket,
    SLOW when shipped >30 days after ordering): high- vs low-priority
    line counts per bucket for one ship year — conditional CASE
    aggregation over the orders join, date filter pushed to the
    lineitem scan."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q12_START).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q12_END).cast("timestamp"))
    )
    orders = read_table(spark, sf_dir, "orders")
    bucket = F.when(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {Q12_SLOW_DAYS} DAY"),
        "SLOW",
    ).otherwise("FAST")
    high = F.col("o_orderpriority").isin(list(Q12_HIGH))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(bucket.alias("ship_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_bucket")
    )


def promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: PROMO-part share of one ship month's revenue,
    as 100 x conditional-sum / sum — single-row result, both sums
    exact decimal cast to double once before the divide."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q14_START).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q14_END).cast("timestamp"))
    )
    part = read_table(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return li.join(part, li.l_partkey == part.p_partkey).agg(
        F.round(
            F.lit(100.0)
            * _dsum(F.when(F.col("p_type") == Q8_TYPE, vol).otherwise(F.lit(0.0)))
            / _dsum(vol),
            6,
        ).alias("promo_pct")
    )


def supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per (brand, type,
    size decade), excluding one brand and NOT IN the
    negative-balance supplier list. The NOT IN subquery is a
    broadcast anti join (6 rows at sf0.01 — and supplier stays tiny
    relative to lineitem at every SF); count(DISTINCT) expands to the
    standard two-phase partial-distinct aggregate."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(
        F.col("p_brand") != Q16_EXCL_BRAND
    )
    bad_supp = read_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(bad_supp),
            li.l_suppkey == bad_supp.s_suppkey,
            "left_anti",
        )
        .groupBy(
            "p_brand",
            "p_type",
            F.expr("p_size div 10").cast("int").alias("size_decade"),
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue/7 from lines of one brand whose
    quantity is below half that PART's average quantity. The
    correlated AVG subquery is an aggregate over lineitem joined back
    on partkey; the average is computed as exact-decimal-sum / count
    so the per-part threshold is engine-independent. The brand filter
    prunes part FIRST and the threshold aggregate runs only over the
    brand's lines (semantics identical: the correlation is per-part)."""
    part = read_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == Q17_BRAND
    )
    li = read_table(spark, sf_dir, "lineitem")
    brand_li = li.join(
        F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey")
    )
    thresh = brand_li.groupBy("l_partkey").agg(
        (
            F.lit(Q17_QTY_FRAC)
            * (_dsum(F.col("l_quantity")) / F.count(F.lit(1)))
        ).alias("qty_cut")
    )
    return (
        brand_li.join(thresh, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(_dsum(F.col("l_extendedprice")) / F.lit(7.0), 4).alias(
                "avg_yearly"
            )
        )
    )


def disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate mixing
    part attributes (brand, size) and line attributes (quantity).
    The brand/size half of every branch pushes to the part scan as
    one disjunction; the mixed residual evaluates post-join in
    codegen."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    branch = None
    for brand, slo, shi, qlo, qhi in Q19_BRANCHES:
        b = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(slo, shi)
            & F.col("l_quantity").between(qlo, qhi)
        )
        branch = b if branch is None else (branch | b)
    return joined.filter(branch).agg(
        _dsum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def excess_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: one region's suppliers whose shipped volume of
    name-prefixed parts exceeds 1.05x the cross-supplier mean — the
    nested IN(agg) subquery becomes an aggregate + scalar-threshold
    semi filter. The threshold is a fraction of a same-query global
    mean (not an absolute cutoff), so selectivity is SF-invariant."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(
        F.col("p_name").startswith(Q20_NAME_PREFIX)
    )
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q20_REGION
    )
    redvol = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(_dsum(F.col("l_quantity")).alias("red_qty"))
    )
    mean = redvol.agg(
        (
            F.lit(Q20_VOL_FACTOR)
            * (_dsum(F.col("red_qty")) / F.count(F.lit(1)))
        ).alias("qty_cut")
    )
    return (
        supp.join(redvol, supp.s_suppkey == redvol.l_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .crossJoin(F.broadcast(mean))
        .filter(F.col("red_qty") > F.col("qty_cut"))
        .select(
            "s_suppkey",
            "s_name",
            F.round("red_qty", 1).alias("red_qty"),
        )
        .orderBy("s_suppkey")
    )


def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (late := shipped >90 days after ordering):
    suppliers in five nations who were the SOLE late shipper on a
    finished multi-supplier order — EXISTS(other supplier on the
    order) as a left-semi self-join, NOT EXISTS(other LATE supplier)
    as a left-anti against the late subset, both keyed on orderkey
    with the supplier-inequality riding the join condition. lineitem
    is never aggregated before the semi/anti filters."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(list(Q21_NATIONS))
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {Q21_LATE_DAYS} DAY"
    )
    l1 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(late)
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
    )
    # NOT EXISTS(other late supplier) as a WINDOW over the late rows
    # (r16): the r15 left-anti of l1 against itself planned the
    # lineitem ⋈ orders late subtree TWICE (diverging projections
    # defeat ReuseExchange — the crossdoc/tfidf/min_cost class, plan
    # receipt in plans/r16/). A late row has no other late supplier
    # on its order iff ALL late rows of the order carry one suppkey,
    # i.e. min == max over the order partition — row multiplicity
    # (and therefore numwait) is untouched. The order partition is
    # bounded by lines-per-order, the same bound the anti-join's
    # shuffle key had. EXISTS(other supplier) stays a left-semi
    # against the full lineitem — a genuinely different table.
    w21 = Window.partitionBy("l_orderkey")
    sole_late = (
        l1.withColumn("__lo_s", F.min("l_suppkey").over(w21))
        .withColumn("__hi_s", F.max("l_suppkey").over(w21))
        .filter(F.col("__lo_s") == F.col("__hi_s"))
        .drop("__lo_s", "__hi_s")
        .join(
            others,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        )
    )
    return (
        sole_late.join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(Q21_TOPN)
    )


def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (cntrycode := custkey mod 10; "no orders" :=
    none since 2000, an SF-invariant idleness window): count and
    total balance of above-average-balance customers with no recent
    orders, per code. The positive-balance average is a 1-row
    broadcast scalar (exact decimal sum / count); the NOT EXISTS is a
    left-anti against the date-pruned orders scan."""
    cust = read_table(spark, sf_dir, "customer")
    recent = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(Q22_IDLE_START).cast("timestamp")
    ).select("o_custkey")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (_dsum(F.col("c_acctbal")) / F.count(F.lit(1))).alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy(
            (F.col("c_custkey") % Q22_CODE_MOD).cast("string").alias("cntrycode")
        )
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling (Deequ/dbt-docs style): one wide-agg pass over
    lineitem -> per-column null/distinct/min/max report
    (operators/profiling.profile_columns). The oracle recomputes every
    cell from scratch."""
    from .operators.profiling import profile_columns

    li = read_table(spark, sf_dir, "lineitem")
    return profile_columns(
        li,
        numeric_cols=(
            "l_orderkey",
            "l_partkey",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
        ),
        string_cols=("l_returnflag", "l_linestatus"),
        date_cols=("l_shipdate",),
    )


def quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate report (dbt tests / Deequ checks): domain,
    range and referential constraints over lineitem in one
    conditional-count pass + one anti-join
    (operators/profiling.validate_rules). The ship-before-order rule
    genuinely fires on the fixture (~49% of lines — the synthetic
    generator draws dates independently), so the report shows a real
    failure, not a wall of greens."""
    from .operators.profiling import validate_rules

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    li_orders = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    )
    base_rules = [
        ("quantity_in_1_50", ~F.col("l_quantity").between(1, 50)),
        ("discount_in_0_0.1", ~F.col("l_discount").between(0.0, 0.1)),
        (
            "returnflag_in_domain",
            ~F.col("l_returnflag").isin("A", "N", "R"),
        ),
        ("extendedprice_positive", F.col("l_extendedprice") <= 0),
    ]
    report = validate_rules(
        li,
        base_rules,
        anti_rules=[
            (
                "lineitem_has_order",
                orders.select("o_orderkey"),
                li.l_orderkey == F.col("o_orderkey"),
            )
        ],
    )
    shipped_early = validate_rules(
        li_orders,
        [("ship_on_or_after_order", F.col("l_shipdate") < F.col("o_orderdate"))],
    )
    return report.unionByName(shipped_early)


def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization — the resample/gap-fill/forward-fill
    family: events binned to a minute grid per type over one week,
    missing buckets materialized from an exploded sequence (grid
    cardinality is bounded: minutes x types, never event-scale), and
    the last known value carried forward with an IGNORE NULLS running
    window per type. Minute keys are integer epoch arithmetic vs a
    fixed anchor (no interval/format dialect drift); fills carry the
    already-rounded sums so both engines forward identical values."""
    ev = read_table(spark, sf_dir, "events").filter(
        # BOTH bounds in integer epoch seconds (r11 review): the lower
        # bound was a string literal cast to timestamp, which parses in
        # the SESSION zone — the one tz-dependent expression in a query
        # whose docstring promises pure epoch arithmetic (observed:
        # 248 vs 243 bucket-rows under UTC vs America/New_York before
        # read_table pinned the zone)
        (F.col("ts").cast("long") >= F.lit(GAPFILL_ANCHOR_EPOCH))
        & (
            F.col("ts").cast("long")
            < F.lit(GAPFILL_ANCHOR_EPOCH + GAPFILL_MINUTES * 60)
        )
    )
    binned = (
        ev.groupBy(
            "event_type",
            F.floor(
                (F.col("ts").cast("long") - F.lit(GAPFILL_ANCHOR_EPOCH)) / 60
            ).alias("minute"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(_dsum(F.col("value")), 6).alias("v"),
        )
    )
    types = binned.select("event_type").distinct()
    grid = types.crossJoin(
        spark.range(GAPFILL_MINUTES).select(F.col("id").alias("minute"))
    )
    full = grid.join(binned, ["event_type", "minute"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("minute")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return full.select(
        "event_type",
        "minute",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        F.col("n").isNull().alias("is_gap"),
        F.col("v").alias("value_sum"),
        F.last("v", ignorenulls=True).over(w).alias("filled_value"),
    )


def stream_upsert_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8's streaming flavor: the upsert fixture streamed file-by-file
    through a foreachBatch LWW merge into a parquet store
    (streaming/upsert_sink.py — idempotent merge per micro-batch, so
    at-least-once replay converges; checkpointed offsets survive
    restart). Shares upsert_compact's oracle: the store must equal the
    batch LWW compact exactly."""
    from .functions.hashing import md5_int
    from .streaming.upsert_sink import streamed_upsert_store

    out = streamed_upsert_store(spark, sf_dir)
    return out.select(
        "id", "ingest_version", md5_int(F.col("text"), 12).alias("content_fp48")
    )


def datasketch_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch columns (Apache DataSketches bindings, Spark
    4.x): HLL distinct sketches built PER GROUP and unioned without
    rescanning — the 100 TB pattern where per-partition/per-day
    sketches are stored once and any slice's distinct count is a
    cheap union — plus KLL quantile sketches. Each estimate is gated
    against the exact answer (computed in the same pass) and the
    oracle re-asserts the gates over DuckDB-exact values:

    - hll_direct / hll_union_of_groups: distinct l_partkey, direct
      sketch and union of 3 per-returnflag sketches, both within 5%
      of exact (the union path is NOT bit-identical to direct — the
      sketches cross sparse/dense modes — which is exactly why it
      needs its own gate);
    - kll_p50 / kll_p95: KLL quantiles of l_extendedprice within 2%
      of the exact interpolated percentile."""
    li = read_table(spark, sf_dir, "lineitem")
    grouped = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sk")
    )
    direct = li.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey")).alias("est"),
        F.countDistinct("l_partkey").alias("exact"),
        F.kll_sketch_agg_double("l_extendedprice").alias("kll"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("p95"),
    )
    # The two legs are INDEPENDENT jobs over the same scan; run the two
    # driver actions concurrently so the second job's tasks back-fill
    # the first job's stragglers (guide §2.6) — wall becomes
    # max(leg, leg) instead of leg + leg, with identical results.
    # (A single-pass rollup variant was A/B-measured and REJECTED:
    # the grouping-set Expand doubles every KLL/HLL update and the
    # partial sketches shuffle twice — 21.7 -> 45.7 MB shuffled and
    # ~3x the aggregate CPU at sf0.1. Two cheap scans beat one
    # double-cost aggregation; receipt in OPTIMIZATION_r15.md.)
    def _union_leg():
        return grouped.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("v")
        ).head()["v"]

    def _direct_leg():
        return direct.select(
            "est",
            "exact",
            "p50",
            "p95",
            F.kll_sketch_get_quantile_double("kll", F.lit(0.5)).alias("k50"),
            F.kll_sketch_get_quantile_double("kll", F.lit(0.95)).alias("k95"),
        ).head()

    est_union, row = _overlap(_union_leg, _direct_leg)
    rows = [
        (
            "hll_direct",
            float(row["exact"]),
            abs(row["est"] - row["exact"]) <= 0.05 * row["exact"],
        ),
        (
            "hll_union_of_groups",
            float(row["exact"]),
            abs(est_union - row["exact"]) <= 0.05 * row["exact"],
        ),
        (
            "kll_p50",
            row["p50"],
            abs(row["k50"] - row["p50"]) <= 0.02 * abs(row["p50"]),
        ),
        (
            "kll_p95",
            row["p95"],
            abs(row["k95"] - row["p95"]) <= 0.02 * abs(row["p95"]),
        ),
    ]
    # the 6dp rounding runs through F.round (HALF_UP, == DuckDB's),
    # not Python's round (banker's) — r15 wave 11, the
    # decimal_tie_round lesson applied to a result-boundary value (a
    # percentile landing exactly on a 6dp tie would have rounded
    # differently from the oracle twin)
    return spark.createDataFrame(
        [(m, float(v), bool(ok)) for m, v, ok in rows],
        "metric string, exact double, err_ok boolean",
    ).withColumn("exact", F.round("exact", 6))


def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection: hashed-unigram importance weight of
    every document against the src0 target slice
    (operators/curation.dsir_weights), plus the selection verdict at
    the calibrated cut. One corpus scan, bucket-table broadcast."""
    from .operators.curation import dsir_weights

    docs = read_table(spark, sf_dir, "documents")
    from .caching import persist_tracked

    # weights feed both the output and the mean scalar — persist so
    # the gram pipeline runs once (doc-scale table, released by the
    # harness after collection)
    w = persist_tracked(
        dsir_weights(
            docs,
            F.col("source") == DSIR_TARGET_SOURCE,
            n_buckets=DSIR_BUCKETS,
            alpha=DSIR_ALPHA,
        )
    )
    mean_w = w.agg(
        F.round(
            F.sum(F.col("dsir_weight").cast(DEC)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_weight")
    )
    return w.crossJoin(F.broadcast(mean_w)).select(
        "doc_id",
        "n_grams",
        "dsir_weight",
        (F.col("dsir_weight") > F.col("mean_weight")).alias("selected"),
    )


def persisted_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-keyed store of the learned BPE merge table — the
    exact production shape: a tokenizer is TRAINED once per corpus
    version and every encode job reuses the rules (round 8; the same
    build/probe split as the groups/signature/code stores). The salt
    folds in the merge budget + a code token of the trainer module,
    and the consumers' DuckDB oracles replay the full learning chain
    from raw parquet, so a stale or wrong stored table is a driver
    hash mismatch."""
    from .functions import text as _text
    from .io import table_path
    from .operators import text_analysis as _ta
    from .operators.ann import dataset_dir_key, dataset_fingerprint
    from .store import code_token, persisted_result

    # token spans the trainer module AND the tokenization functions it
    # draws words from (r8 review fix — same gap class as the dedup
    # stores: functions/text.py edits must rebuild the merge table)
    salt = f"bpe:{BPE_N_MERGES}:{code_token(_ta, _text)}"
    fp = dataset_fingerprint(table_path(sf_dir, "documents"), salt=salt)

    def build() -> DataFrame:
        docs = read_table(spark, sf_dir, "documents")
        return _ta.bpe_merge_table(docs, n_merges=BPE_N_MERGES)

    return persisted_result(
        spark, f"bpe_merges_{dataset_dir_key(sf_dir)}", fp, build
    )


def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training at corpus scale: the first K BPE merge
    rules (operators/text_analysis.bpe_merge_table — corpus scanned
    once into the word histogram; every merge round is
    histogram-scale). Served from the persisted tokenizer store
    (persisted_bpe_merges, r8); the oracle replays the identical
    learning chain in DuckDB from raw parquet, gating the STORED
    rules bit-for-bit."""
    return persisted_bpe_merges(spark, sf_dir)


MMR_K = 10
MMR_POOL = 30
MMR_LAMBDA = 0.7


def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware retrieval: exact cosine top-30 candidate pool
    (distributed scan), then Maximal Marginal Relevance greedy
    re-ranking to 10 (operators/search.mmr_select) — the standard
    redundancy-suppression pass RAG stacks run after ANN. All
    similarities 9dp-rounded before comparison and ties broken on id,
    so the DuckDB oracle replays the ENTIRE 10-round greedy selection
    (chained argmax CTEs) bit-for-bit — selection order included,
    since rank is an output column."""
    from .operators.search import mmr_select

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    dv = F.transform("embedding", lambda x: x.cast("double"))
    qvd = F.transform("qv", lambda x: x.cast("double"))
    cand = (
        emb.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            F.round(cosine(dv, qvd), 9).alias("simq"),
        )
        .orderBy(F.desc("simq"), "vec_id")
        .limit(MMR_POOL)
    )
    sel = mmr_select(cand, k=MMR_K, lam=MMR_LAMBDA)
    out = spark.createDataFrame(
        [(r, i, s) for r, i, s in sel], "rank int, vec_id long, simq double"
    )
    return out.select("rank", "vec_id", F.round("simq", 6).alias("simq"))


def pit_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension join (operators/rangejoin.pit_join):
    every lineitem is joined to the customer-priority SCD2 version
    valid ON ITS SHIP DATE — the warehouse "what did the dimension say
    when the fact happened" join, exploiting SCD2's disjoint-interval
    invariant (equi-join on key + interval residual; no window, no
    dedup). Digest output per matched priority: line count, revenue,
    key and version checksums — a single misattributed version shifts
    the sums. The oracle replays change detection, intervals, and the
    PIT match from scratch."""
    from .operators.rangejoin import pit_join
    from .operators.upsert import scd2_from_changelog

    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    dim = scd2_from_changelog(
        orders.select("o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"),
        key="o_custkey",
        attr="o_orderpriority",
        order_cols=["o_orderdate", "o_orderkey"],
        valid_col="o_orderdate",
    )
    facts = li.join(
        F.broadcast(orders.select("o_orderkey", "o_custkey")),
        li.l_orderkey == F.col("o_orderkey"),
    ).select("o_custkey", "l_shipdate", "l_orderkey", "l_extendedprice")
    j = pit_join(facts, dim, key="o_custkey", time_col="l_shipdate")
    return j.groupBy(F.col("o_orderpriority").alias("priority_at_ship")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        _dsum(F.col("l_extendedprice")).alias("revenue"),
        F.sum("l_orderkey").alias("sum_keys"),
        F.sum("version").alias("sum_versions"),
    )


PIT_AS_OF = "1995-06-30 00:00:00"


def outer_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT point-in-time join (operators/rangejoin.pit_join
    ``how='left'`` — r9 verdict item 3, exercising pit_join's last
    unregistered surface): every customer's order-priority SCD2
    version valid AS OF one fixed audit instant; customers with no
    orders at all (the fixture has many) or whose FIRST priority
    version begins after the instant come back exactly once,
    null-extended on the dimension columns — the "state of the world
    on date D, including entities with no state yet" audit shape that
    the inner PIT join silently drops. pit_join's interval predicate
    already lives INSIDE the join condition (tests/test_pit.py pinned
    the left semantics in r9), so left shuffles identically to inner:
    an equi-join on the key with the interval residual in the probe,
    no window, no dedup — one row per customer by the SCD2
    disjoint-interval invariant. DuckDB replays change detection,
    interval construction, and the LEFT PIT match as the oracle."""
    from .operators.rangejoin import pit_join
    from .operators.upsert import scd2_from_changelog

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    dim = scd2_from_changelog(
        orders.select("o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"),
        key="o_custkey",
        attr="o_orderpriority",
        order_cols=["o_orderdate", "o_orderkey"],
        valid_col="o_orderdate",
    )
    facts = cust.select(
        F.col("c_custkey").alias("o_custkey"),
        F.lit(PIT_AS_OF).cast("timestamp").alias("as_of"),
    )
    j = pit_join(facts, dim, key="o_custkey", time_col="as_of", how="left")
    return j.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority_asof"),
        "version",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
    )


def pit_boundary_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adversarial boundary-tied PIT join (r12, VERDICT r11 item 4):
    the fact timestamps are EXACTLY the SCD2 dimension's own version
    boundaries — every version's ``valid_from`` instant, duplicated
    (two fact copies per boundary). By the abutting-interval invariant
    (``valid_to`` of version N == ``valid_from`` of version N+1), a
    fact from version >= 2 sits simultaneously AT its own version's
    start AND AT the previous version's end, and every fact is an
    AS-OF probe at a tied instant — the three tie shapes the
    hypothesis property suite covers randomly (tests/test_pit.py) but
    no registered oracle row provably contained (the r11
    scd2_null_transitions precedent, applied to the PIT family).

    The digest DISCRIMINATES the off-by-one kernel classes: a strict
    ``> valid_from`` match drops every fact at its start instant
    (n_at_start collapses to 0 and version-1 facts vanish); a closed
    ``<= valid_to`` match double-joins every abutting-boundary fact to
    versions N-1 AND N (n_facts inflates by exactly the end-tie
    count); sum_matched_versions vs sum_src_versions shifts under
    either. Measured adversarial-shape counts + wrong-kernel deltas
    are pinned by tests/test_pit.py::test_pit_boundary_ties_query_is_adversarial.

    Scale shape: identical to pit_priority_revenue — equi-join on the
    key with the half-open interval residual in the probe; the fact
    side here is the dim's own boundary set (bounded by version
    count), so the join is broadcast-able on either side."""
    from .operators.rangejoin import pit_join
    from .operators.upsert import scd2_from_changelog

    orders = read_table(spark, sf_dir, "orders")
    dim = scd2_from_changelog(
        orders.select("o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"),
        key="o_custkey",
        attr="o_orderpriority",
        order_cols=["o_orderdate", "o_orderkey"],
        valid_col="o_orderdate",
    )
    bounds = dim.select(
        "o_custkey",
        F.col("valid_from").alias("ts"),
        F.col("version").alias("src_version"),
    )
    facts = bounds.withColumn("copy", F.lit(1)).unionByName(
        bounds.withColumn("copy", F.lit(2))
    )
    j = pit_join(facts, dim, key="o_custkey", time_col="ts")
    return j.groupBy(F.col("o_orderpriority").alias("priority_at_ts")).agg(
        F.count(F.lit(1)).alias("n_facts"),
        F.sum("version").alias("sum_matched_versions"),
        F.sum("src_version").alias("sum_src_versions"),
        F.sum(
            F.when(F.col("ts") == F.col("valid_from"), 1).otherwise(0)
        ).alias("n_at_start"),
        F.sum(F.when(F.col("src_version") >= 2, 1).otherwise(0)).alias(
            "n_end_tied"
        ),
    )


def asof_boundary_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adversarial event-stream as-of join with SAME-INSTANT ties
    (r12, VERDICT r11 item 4 — the fixture carries ZERO exact-ts
    purchase/click pairs, measured, so asof_join_events' documented
    at-or-before tie semantics was certified only on untied input):
    synthetic clicks are injected EXACTLY at purchase instants —
    one for every event_id % 3 == 0 purchase, a DUPLICATE same-instant
    click for % 6 == 0, and a wrong-user click at the same instant for
    % 7 == 0 (per-key isolation under tied timestamps). The kernel is
    the same union + last_value(ignorenulls) as asof_join_events
    (clicks sort before purchases at equal ts — ASOF >= semantics);
    ``matched_at_instant`` discriminates the strict-before kernel
    class, which misses every injected tie. Oracle: DuckDB native
    ASOF LEFT JOIN over the same augmented click set.

    Scale shape: identical to asof_join_events — one shuffle on
    user_id, a single WindowExec, no range-join blowup; the synthetic
    side is a projection of purchases, not a second scan shuffle."""
    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    real_clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    at3 = purchases.filter(F.col("event_id") % 3 == 0).select("user_id", "ts")
    at6 = purchases.filter(F.col("event_id") % 6 == 0).select("user_id", "ts")
    wrong7 = purchases.filter(F.col("event_id") % 7 == 0).select(
        (F.col("user_id") + 1).alias("user_id"), "ts"
    )
    clicks = (
        real_clicks.unionByName(at3).unionByName(at6).unionByName(wrong7)
    )
    tagged = purchases.withColumn(
        "__click_ts", F.lit(None).cast("timestamp")
    ).unionByName(
        clicks.select(
            F.lit(None).cast("long").alias("event_id"),
            "user_id",
            "ts",
            F.col("ts").alias("__click_ts"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("__click_ts").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = tagged.withColumn(
        "click_ts", F.last("__click_ts", ignorenulls=True).over(w)
    )
    return matched.filter(F.col("event_id").isNotNull()).select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("last_click_ts"),
        F.coalesce(F.col("ts") == F.col("click_ts"), F.lit(False)).alias(
            "matched_at_instant"
        ),
    )


PR_ITERS = 5
PR_DAMPING = 0.85


def supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (operators/graph.pagerank) over the customer↔supplier
    purchase graph (orders⋈lineitem edges, both directions, distinct):
    the fixed-iteration power-method family beside the fixpoint CC
    family. 5 rounds of edge-join + dst-groupBy; per-edge
    contributions are 9dp-rounded and decimal-summed so the DuckDB
    oracle's 5-round chained-CTE replay is bit-identical — an
    ITERATIVE algorithm with a full hash oracle, not a rows-only
    check."""
    from .operators.graph import pagerank

    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    # dedup on the INT pair before stringifying (the distinct shuffles
    # 16-byte key pairs, not concatenated strings) and broadcast the
    # 2-column orders projection into the fact join
    ipairs = (
        li.join(
            F.broadcast(orders.select("o_orderkey", "o_custkey")),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    # Node identity stays a LONG through all five power rounds (r16,
    # guide §2.3 "narrower types — halve the column, halve its shuffle
    # bytes"): customers map to 2*custkey, suppliers to 2*suppkey+1
    # (injective, ranges disjoint — the integer twin of the c/s string
    # prefixes), so every per-round join/groupBy hashes and shuffles
    # 8-byte longs instead of variable-width strings; the contract's
    # "c<id>"/"s<id>" node strings are decoded ONCE from the final
    # node-scale rank vector. The rank arithmetic never touches the
    # key (identical contribution multiset per node, exact decimal
    # sums are order-independent), so values are bit-identical and the
    # oracle hash is unchanged (r16 receipt: cpu 29.5→lower, shuffle
    # 35.6 MB→lower in OPTIMIZATION_r16.md).
    ckey = F.col("o_custkey").cast("long")
    skey = F.col("l_suppkey").cast("long")
    pairs = ipairs.select(
        (ckey * 2).alias("src"), (skey * 2 + 1).alias("dst")
    )
    edges = pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # edges are provably distinct (ipairs is distinct; even/odd long
    # ranges make the two union directions disjoint) and symmetric
    # (every node appears as a src) — skipping the operator's
    # defensive edge distinct removes the largest Exchange of the
    # query (the full 2|pairs|-row key-pair shuffle), and node
    # discovery rides the out-degree aggregation (r15 optimization;
    # values bit-identical, oracle hash unchanged).
    ranks = pagerank(
        edges,
        n_iters=PR_ITERS,
        damping=PR_DAMPING,
        assume_distinct=True,
        assume_symmetric=True,
    )
    node = F.col("node")
    decoded = F.when(
        node % 2 == 0, F.concat(F.lit("c"), F.expr("node div 2"))
    ).otherwise(F.concat(F.lit("s"), F.expr("(node - 1) div 2")))
    return ranks.select(decoded.alias("node"), "rank")


def rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling DISTINCT count — the window family Spark has no native
    aggregate for: per (event_type, day), the count of distinct users
    over the trailing 3-day window, expressed as
    size(collect_set(user)) over a RANGE frame on the integer day key.
    The oracle computes the same thing with a correlated
    band-subquery (DuckDB lacks windowed DISTINCT aggregates too).
    Scale note (in-operator): exact rolling distinct carries the
    window's value set per row — viable while per-window cardinality
    is bounded (here: users); at unbounded cardinality this is
    exactly what the mergeable-HLL column family (datasketch_gates)
    replaces, trading exactness for O(sketch) state."""
    ev = read_table(spark, sf_dir, "events")
    day = (F.unix_timestamp(F.col("ts").cast("timestamp")) / F.lit(86400)).cast(
        "long"
    )
    daily = ev.select("event_type", day.alias("day"), "user_id")
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-2, 0)
    )
    out = daily.select(
        "event_type",
        "day",
        F.size(F.collect_set("user_id").over(w)).alias("distinct_users_3d"),
    ).distinct()
    return out


def rolling_distinct_users_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB path for rolling DISTINCT: per (event_type, day)
    the trailing-3-day distinct-user count via MERGEABLE DataSketches
    HLL — hll_sketch_agg per day (map-side: raw events collapse to
    one fixed-size sketch per group), then hll_union_agg over the
    RANGE frame, so window state is O(days x 4KB sketch) instead of
    the O(window value set) that rolling_distinct_users carries per
    row. That exact variant stops being viable at unbounded user
    cardinality; this one never does, and sketch columns persist and
    re-merge across days/partitions without touching raw data again.
    Gate, approx_distinct_parts-style: the exact count is computed in
    the SAME window pass (collect_set union — test-scale truth), the
    sketch estimate must land within max(5%, 2) of it on EVERY row
    (3-sigma for lgK=12's 1.6% rsd), and the oracle recomputes the
    exact counts with DuckDB's band subquery and asserts err_ok TRUE
    — a sketch regression is a hash-red driver row."""
    ev = read_table(spark, sf_dir, "events")
    day = (F.unix_timestamp(F.col("ts").cast("timestamp")) / F.lit(86400)).cast(
        "long"
    )
    daily = (
        ev.select("event_type", day.alias("day"), "user_id")
        .groupBy("event_type", "day")
        .agg(
            F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"),
            F.collect_set("user_id").alias("us"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-2, 0)
    )
    # each window aggregate computed ONCE (referencing them inline in
    # the final expressions would re-evaluate the collect_list three
    # times in the Window operator), then a plain projection derives
    # the gate
    win = daily.select(
        "event_type",
        "day",
        F.size(
            F.array_distinct(F.flatten(F.collect_list("us").over(w)))
        ).alias("__exact"),
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias(
            "__approx"
        ),
    )
    exact = F.col("__exact")
    return win.select(
        "event_type",
        "day",
        exact.alias("distinct_users_3d"),
        (
            F.abs(F.col("__approx") - exact)
            <= F.greatest(F.round(exact * 0.05), F.lit(2))
        ).alias("err_ok"),
    )


def q3_ann_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance (operators/ann.append_ivf_index):
    the IVF index is built WITHOUT a 2% held-out slice (vec_id % 50 ==
    7), the slice is then APPENDED against the stored centroids (no
    rebuild, new files land inside the existing cell partitions), and
    a probe with one held-out vector must surface it at rank 1 with
    cosine 1.0 — proof the appended rows are visible through the
    partition-pruned read path. A same-tag re-append must be a no-op
    (at-most-once). Output invariants are all recomputable or
    mathematically guaranteed, so this is a hash-green row: base /
    appended / total counts (DuckDB recomputes from the source
    table), the no-op boolean, and the planted top-1 identity+score
    (cos(q, q) = 1 and q's own cell is by construction among the
    nprobe nearest — the self-match cannot miss).

    Crash convergence: build + initial append run under a SENTINEL
    fingerprint; the real fingerprint is stamped by one atomic
    set_index_fingerprint only after both complete. A crash anywhere
    inside the fixture sequence (after the build marker, mid-append,
    between data append and tag rewrite) leaves a non-matching
    fingerprint, so the next run REBUILDS from scratch (overwrite
    resets the assigned store) rather than re-appending into a
    half-applied index — reappend_noop and n_total hold after any
    interruption."""
    import os as _os

    from .io import table_path
    from .operators.ann import (
        append_ivf_index,
        build_ivf_index,
        ivf_fingerprint,
        ivf_index_exists,
        ivf_index_path,
        probe_ivf_index,
        set_index_fingerprint,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    holdout = emb.filter(F.col("vec_id") % 50 == 7)
    base = emb.filter(F.col("vec_id") % 50 != 7)
    path = ivf_index_path(sf_dir, ANN_CELLS, root=None) + "_appendable"
    fp = ivf_fingerprint(
        table_path(sf_dir, "embeddings"), ANN_CELLS, 2, EMBED_DIM,
        extra_salt="append_base_v1",
    )
    if not ivf_index_exists(path, fp):
        build_ivf_index(
            base,
            path,
            n_cells=ANN_CELLS,
            iters=2,
            dim=EMBED_DIM,
            fingerprint="__building__",
        )
        append_ivf_index(spark, path, holdout, tag="holdout")
        set_index_fingerprint(path, fp)
    # same-tag re-append: must be the no-op path every retry takes
    # (runs FIRST — it owns the store-mutation ordering; the legs
    # below are read-only and independent, so they overlap: §2.6)
    n_again = append_ivf_index(spark, path, holdout, tag="holdout")
    assigned = spark.read.parquet(_os.path.join(path, "assigned"))

    def _probe_leg():
        qv = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]
        ]
        return probe_ivf_index(spark, path, qv, k=1, nprobe=ANN_NPROBE).collect()[0]

    n_base, n_holdout, n_total, t = _overlap(
        base.count, holdout.count, assigned.count, _probe_leg
    )
    return spark.createDataFrame(
        [
            (
                n_base,
                n_holdout,
                n_total,
                n_again == 0,
                int(t["vec_id"]),
                float(t["score"]),
            )
        ],
        "n_base long, n_appended long, n_total long, "
        "reappend_noop boolean, top1_id long, top1_score double",
        # F.round, not Python round (r15 wave 11): a cosine landing on
        # a 6dp tie would round banker's here vs half-away in the twin
    ).withColumn("top1_score", F.round("top1_score", 6))


def impute_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data repair: every 9th event's value is knocked out to NULL
    (deterministic corruption), then imputed with its event_type's
    median computed over the SURVIVING values (exact percentile,
    rounded at 6 before writing — both engines impute identical
    numbers). Output is a per-type audit: rows, nulls created, the
    imputation value, and exact-decimal sums before/after — the
    after-sum moves by exactly n_imputed * median, which the oracle
    re-derives from scratch. The missing-data repair step every
    feature pipeline runs; scale shape: one stats pass (broadcast
    5-row medians) + one codegen'd coalesce projection."""
    ev = read_table(spark, sf_dir, "events")
    holed = ev.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 9 == 0, F.lit(None)).otherwise(
            F.col("value")
        ).alias("value"),
    )
    med = holed.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("med")
    )
    repaired = holed.join(F.broadcast(med), "event_type").select(
        "event_type",
        "value",
        F.coalesce(F.col("value"), F.col("med")).alias("repaired"),
        "med",
    )
    return repaired.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("int")).alias("n_imputed"),
        F.first("med").alias("imputation_value"),
        _dsum(F.col("value")).alias("sum_before"),
        _dsum(F.col("repaired")).alias("sum_after"),
    )


HIST_BINS = 10


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of event values: ntile binning under a
    deterministic total order (value, event_id), per-bin bounds,
    count, and exact-decimal sum — the distribution view column
    profiling (profile_lineitem) doesn't give. Scale note: a single
    global ntile is one total sort; at 100 TB you'd approximate the
    cut points with approx_percentile and bin by range instead (the
    swap approx_percentiles_gate measures) — the equi-depth CONTRACT
    (equal counts, ordered disjoint bounds) is what this query pins."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.orderBy("value", "event_id")
    binned = ev.select(
        "value", F.ntile(HIST_BINS).over(w).alias("bin")
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
        _dsum(F.col("value")).alias("sum_value"),
    )


def lineitem_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-shuffle skew diagnostic (operators/profiling.skew_report)
    on lineitem's join key: top heavy l_orderkey values with shares
    plus distinct-key / mean / max / skew-factor summary — the number
    that decides between a plain hash shuffle, salting, and AQE skew
    handling before a 100 TB join. Oracle recomputes counts, top-n,
    and every ratio."""
    from .operators.profiling import skew_report

    li = read_table(spark, sf_dir, "lineitem")
    return skew_report(li, "l_orderkey", top_n=5)


LSH_AUDIT_FLOOR = 0.8  # LSH candidate recall floor vs the exact join


def _ppjoin_store_fingerprint(sf_dir: str, what: str) -> str:
    """Shared fingerprint for the PPJoin-derived stores: source
    parquet content hash + every derivation constant + a code token
    of the kernel modules (r7 ADVICE item 2 — a kernel bug fix must
    invalidate stored derivations, not surface later as a confusing
    oracle mismatch on a consumer)."""
    from .functions import text as _text
    from .io import table_path
    from .operators import setjoin as _setjoin
    from .operators.ann import dataset_fingerprint
    from .store import code_token

    salt = (
        f"{what}:{WORD_NGRAM}:{PPJOIN_THRESHOLD}:trunc{NEARDUP_TRUNC}:"
        f"{code_token(_setjoin, _text)}"
    )
    return dataset_fingerprint(table_path(sf_dir, "documents"), salt=salt)


def persisted_ppjoin_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-keyed store of the dictionary-ENCODED word-3-gram
    corpus ``(doc_id, gi)`` — the PPJoin vocabulary + encode front end
    (setjoin.encoded_sets) materialized once per corpus version
    (r7 verdict item 3: the driver's single cold run paid the full
    tokenize -> explode -> frequency -> two-level rank lineage on
    every audit; ids are a pure function of the data, which is
    exactly the store contract). Join runs then pay only the prefix
    probe + verify. A stale or wrong encoding cannot pass silently:
    every consumer's DuckDB oracle recomputes its answer from the raw
    parquet, and the code token in the salt rebuilds the store when
    the encoding kernel changes."""
    from .operators.ann import dataset_dir_key
    from .operators.setjoin import encoded_sets, word_gram_sets
    from .store import persisted_result

    def build() -> DataFrame:
        corpus = neardup_corpus(spark, sf_dir)
        return encoded_sets(
            word_gram_sets(corpus, WORD_NGRAM).filter(F.size("g") > 0)
        )

    return persisted_result(
        spark,
        f"ppjoin_encoded_{dataset_dir_key(sf_dir)}",
        _ppjoin_store_fingerprint(sf_dir, "ppenc"),
        build,
    )


def persisted_ppjoin_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-keyed store of the exact PPJoin pair set
    (id_a, id_b, jaccard) over word-3-gram sets of the synthetic
    near-dup corpus at PPJOIN_THRESHOLD — the truth table the audit
    queries consume (r6 verdict item 3: stop rebuilding the exact
    side per audit run). The salt folds in every derivation constant
    (gram width, threshold, corpus-synthesis truncation) and the
    kernel code token, so changing any of them — or the documents
    parquet — invalidates the store. The build reads the persisted
    encoded corpus (same fingerprint scope), so a truth rebuild
    re-encodes only when the encoding store is itself stale."""
    from .operators.ann import dataset_dir_key
    from .operators.setjoin import set_similarity_join_encoded
    from .store import persisted_result

    def build() -> DataFrame:
        return set_similarity_join_encoded(
            persisted_ppjoin_encoded(spark, sf_dir), PPJOIN_THRESHOLD
        )

    return persisted_result(
        spark,
        f"ppjoin_truth_{dataset_dir_key(sf_dir)}",
        _ppjoin_store_fingerprint(sf_dir, "ppjoin"),
        build,
    )


def persisted_cosine_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-keyed store of the exact cosine>=ANN_JOIN_COS pair
    set (id_a, id_b) over the embeddings table — the unblocked O(n²)
    truth side of q3_ann_lsh_join, test-scale only by design; at
    corpus scale the LSH join is the product path and this store is
    how the audit's truth is amortized across runs. The salt folds in
    a code token of the dedup + vector-function kernels (r7 ADVICE
    item 2), so a kernel change rebuilds the truth."""
    from .functions import vector as _vector
    from .io import table_path
    from .operators import dedup as _dedup
    from .operators.ann import dataset_dir_key, dataset_fingerprint
    from .operators.dedup import embedding_neardup_pairs
    from .store import code_token, persisted_result

    salt = f"cospairs:{ANN_JOIN_COS}:{code_token(_dedup, _vector)}"
    fp = dataset_fingerprint(table_path(sf_dir, "embeddings"), salt=salt)

    def build() -> DataFrame:
        emb = read_table(spark, sf_dir, "embeddings")
        return embedding_neardup_pairs(
            emb, block_col=None, threshold=ANN_JOIN_COS
        ).select("id_a", "id_b")

    return persisted_result(
        spark, f"cospairs_truth_{dataset_dir_key(sf_dir)}", fp, build
    )


def lsh_exact_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous audit of the probabilistic dedup path against the
    exact one — possible only because the suite has BOTH: MinHash-LSH
    band candidates (word-3-gram signatures, the neardup_jaccard
    front end) are scored for RECALL against the provably-complete
    prefix-filtered exact join at the same Jaccard threshold. One
    row: truth size, candidate size, hit count, recall, and the
    floor gate. Fully deterministic (md5 MinHash, exact join), so the
    DuckDB oracle recomputes the entire audit — the number the 100 TB
    operator watches before trusting banded dedup on a new corpus.

    Round 7 (r6 verdict item 3): the exact pair set comes from the
    fingerprint-keyed truth store (persisted_ppjoin_truth) instead of
    being rebuilt per run — the PPJoin kernel itself stays live-
    certified through neardup_ppjoin, and the oracle still recomputes
    this audit's truth from raw parquet, so a wrong/stale store is a
    driver hash mismatch, not a silent pass."""
    from .caching import persist_tracked
    from .operators.dedup import persisted_signatures

    corpus = persist_tracked(neardup_corpus(spark, sf_dir))
    truth = persist_tracked(
        persisted_ppjoin_truth(spark, sf_dir).select("id_a", "id_b")
    )
    sigs = persisted_signatures(
        spark, sf_dir, corpus, MINHASH_HASHES, WORD_NGRAM, "word", "word3",
        corpus_salt=_neardup_corpus_salt(),
    )
    cand = persist_tracked(
        minhash_candidate_pairs(
            sigs, num_hashes=MINHASH_HASHES, bands=MINHASH_BANDS
        ).select("id_a", "id_b")
    )
    hits = truth.join(cand, ["id_a", "id_b"], "left_semi")
    # truth (store read) and cand (LSH banding) are independent —
    # overlap their counts, which also materializes both caches; the
    # hits count then runs over cached inputs (guide §2.6)
    n_truth, n_cand = _overlap(truth.count, cand.count)
    n_hits = hits.count()
    # recall arithmetic through Spark's round (HALF_UP, == DuckDB's),
    # NOT Python's round (banker's) — boundary values must agree
    row = spark.createDataFrame(
        [(n_truth, n_cand, n_hits)],
        "n_truth long, n_candidates long, n_hits long",
    )
    # try_divide (r15 review wave 11, the cosine ANSI class): a corpus
    # with NO exact near-dup pairs above the threshold is a legitimate
    # input (n_truth = 0), and plain / would be a query-killing ANSI
    # DIVIDE_BY_ZERO where the DuckDB twin's / is NULL — NULL recall
    # (and a NULL recall_ok gate) is the agreed fate in both engines.
    recall = F.round(
        F.try_divide(
            F.col("n_hits").cast("double"), F.col("n_truth").cast("double")
        ),
        6,
    )
    return row.select(
        "n_truth",
        "n_candidates",
        "n_hits",
        recall.alias("recall"),
        (recall >= F.lit(LSH_AUDIT_FLOOR)).alias("recall_ok"),
    )


MG_K = 8  # Misra-Gries counter budget


def heavy_hitters_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters over event types
    (operators/heavyhitters.py): per-partition k-counter summaries
    merged by summation, then GATED against the exact counts computed
    in the same job — one row per TRUE heavy hitter (frequency >
    n/(k+1)) with the exact count and the two theorem booleans
    (present in summary; estimate within the additive n/(k+1)
    undercount). The summary content is partition-order-dependent;
    the theorem is not — so the oracle (exact counts + literal trues)
    is deterministic, the datasketch_gates pattern."""
    from .operators.heavyhitters import merged_summary

    ev = read_table(spark, sf_dir, "events")
    n = ev.count()
    thresh = n / (MG_K + 1.0)
    summ = merged_summary(ev, "event_type", MG_K)
    exact = ev.groupBy(F.col("event_type").alias("item")).agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    hh = exact.filter(F.col("exact_count") > F.lit(thresh))
    j = hh.join(summ, "item", "left")
    return j.select(
        "item",
        "exact_count",
        F.col("est").isNotNull().alias("present"),
        (
            F.col("est").isNotNull()
            & (F.col("est") <= F.col("exact_count"))
            & (
                F.col("est")
                >= F.col("exact_count").cast("double") - F.lit(thresh)
            )
        ).alias("within_bound"),
    )


RAG_POOL = 30
RAG_K = 10


def rag_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval capstone — the reference's entire serving flow as
    ONE hash-verified query: documents -> stride chunking (the
    suite's 120/20 constants, so fixture docs multi-chunk; the
    reference's 2000/100 defaults run in entry()) -> deterministic
    embedding -> stable ids +
    metadata -> int8-prefilter candidate scan (integer dot over
    4x-compressed codes) -> exact cosine scoring of the pool -> MMR
    diversified top-10 -> metadata join-back. Every stage is an
    already-certified operator; the DuckDB oracle replays the full
    chain (chunk arithmetic, md5 embedding, symmetric quantization,
    integer-dot cut, 10-round greedy MMR) from the raw documents
    table, so the COMPOSITION is pinned, not just the parts — the
    retrieval-side twin of curation_pipeline.

    The chunk-vector table comes from a fingerprint-keyed persisted
    store (the reference's own architecture: vectors are upserted
    once into the index and served many times, `streamlit_app.py:110`);
    a stale fingerprint rebuilds from scratch, and the oracle's
    from-documents replay gates the STORED content bit-for-bit, so a
    corrupt or stale store is a driver hash mismatch."""
    import os as _os

    from .caching import persist_tracked
    from .io import table_path
    from .operators.ann import (
        INDEX_ROOT,
        _ann_code_token,
        dataset_dir_key,
        dataset_fingerprint,
        int8_codes_col,
        quantized_candidates,
    )
    from .operators.maintenance import ensure_store
    from .operators.search import mmr_select

    def _build(d: str) -> None:
        docs = read_table(spark, sf_dir, "documents")
        chunks = chunk_stride(
            docs,
            chunk_size=CHUNK_SIZE,
            chunk_overlap=CHUNK_OVERLAP,
            keep_cols=("doc_id", "source"),
        )
        vecs = with_metadata(
            with_vector_id(embed_deterministic(chunks, "chunk_text", dim=EMBED_DIM))
        ).select("id", "doc_id", "chunk_index", "source", "embedding")
        # the int8 codes column is PERSISTED at build time (store v2):
        # the serve path reads codes straight off parquet instead of
        # re-quantizing the float column per query — at scale that is
        # the whole point of a codes table (4x less I/O and no
        # quantization arithmetic on the query path), and locally it
        # removes the widest codegen'd expression from the hot loop
        vecs.select("*", int8_codes_col("embedding")).write.mode(
            "overwrite"
        ).parquet(d)

    store = ensure_store(
        _os.path.join(INDEX_ROOT, f"chunkvecs_{dataset_dir_key(sf_dir)}"),
        dataset_fingerprint(
            table_path(sf_dir, "documents"),
            salt=(
                f"chunkvecs2:{CHUNK_SIZE}:{CHUNK_OVERLAP}:{EMBED_DIM}:"
                f"{_ann_code_token()}"
            ),
        ),
        _build,
    )
    vec = persist_tracked(spark.read.parquet(store))
    qdf = spark.createDataFrame(
        [(det_embed_py(QUERY_TEXT, EMBED_DIM),)], "qv array<double>"
    )
    cands = quantized_candidates(
        vec.select("id", "codes"), qdf, cand_k=RAG_POOL, id_col="id",
        extra_cols=(),
    )
    dv = F.transform("embedding", lambda x: x.cast("double"))
    qvd = F.transform("qv", lambda x: x.cast("double"))
    # metadata rides the pool projection so the final "join-back" is
    # pure driver work on the k selected rows (r12 bench adjudication:
    # the old 10-row broadcast-join action was ~1s of pure scheduling
    # overhead per query — one fewer cluster round-trip on the serve
    # path; values identical, driver-oracled)
    pool = (
        vec.join(F.broadcast(cands.select("id")), "id")
        .crossJoin(F.broadcast(qdf))
        .select(
            "id",
            "embedding",
            "doc_id",
            "chunk_index",
            "source",
            F.round(cosine(dv, qvd), 9).alias("simq"),
        )
    )
    sel = mmr_select(
        pool,
        k=RAG_K,
        lam=MMR_LAMBDA,
        id_col="id",
        carry_cols=("doc_id", "chunk_index", "source"),
    )
    from decimal import ROUND_HALF_UP, Decimal

    def _r6(x: float) -> float:
        # HALF_UP over repr, matching Spark's F.round on doubles (the
        # same discipline mmr_select's round9 pins in test_search)
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )

    return spark.createDataFrame(
        [(r, i, d, c, src, _r6(s)) for r, i, s, d, c, src in sel],
        "rank int, id string, doc_id long, chunk_index int, "
        "source string, simq double",
    )


WRS_PER_SOURCE = 5  # weighted sample size per stratum


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis): each doc draws key = -ln(u)/w with u a
    deterministic md5-uniform in (0,1) and w = its token count, and
    the k smallest keys per source win — one scan + one per-stratum
    top-k, no sequential draw loop, which is why this is THE
    weighted-sampling algorithm at 100 TB (mixture_sample covers
    rate-based Bernoulli; this covers exact-size weighted draws).
    Derandomized via the repo's oracle-parity hash, ln outputs ride
    the usual 9dp rounding, so DuckDB replays every draw and the
    selection is hash-gated end to end."""
    from .functions.hashing import md5_int
    from .functions.text import token_count

    docs = read_table(spark, sf_dir, "documents")
    u = (
        md5_int(F.concat(F.lit("wrs:"), F.col("doc_id").cast("string"))) + 1
    ).cast("double") / F.lit(float((1 << 24) + 1))
    w = token_count(F.col("text")).cast("double")
    key = F.round(-F.log(u) / w, 9)
    # w = 0 (empty doc) must mean probability 0 — EXCLUDED (r11
    # review): unfiltered, the 0-division key is NULL and the two
    # engines disagree on NULL placement in an ascending window
    # (Spark NULLS FIRST: sampled with certainty; DuckDB NULLS LAST:
    # never sampled). Invisible on the fixtures (no empty docs);
    # pinned by tests/test_analytics_r4b.py.
    scored = docs.filter(w > 0).select(
        "doc_id", "source", w.cast("int").alias("weight"), key.alias("__k")
    )
    win = Window.partitionBy("source").orderBy("__k", "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= WRS_PER_SOURCE)
        .select("source", "doc_id", "weight", "rank")
    )


# ER blocking-suffix width (r13: widened 3 -> 4; see the docstring's
# saturation analysis — any width <= 15 is corruption-invariant here)
ER_SFX_CHARS = 4


def entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage (operators/linkage.best_match): every 4th
    customer re-enters under a new key with its name corrupted (3rd
    character deleted); blocking, Levenshtein scoring, and per-record
    argmin selection must link each corrupted record back to its
    source. The block key is COMPOSITE — (right(c_name,ER_SFX_CHARS),
    c_nationkey) vs the 25-value nation key alone — chosen invariant
    under the corruption model (a deletion at position 3 never touches
    the trailing characters), so no true match leaves its block. That
    is the 100 TB shape: within-block pair count is quadratic in block
    size, and nation-only blocking is a genuine scale-killer (measured
    candidate pairs at the r11 3-char width: sf0.01 23,138 nation-only
    vs 391 composite = 59x; sf0.1 2,256,077 vs 5,828 = 387x). r13
    widened the suffix 3 -> 4 chars (the lever the r12 saturation note
    named): the fixture's Customer#%09d names give 10x more suffix
    blocks, so the within-block pair sum drops ~10x exactly where the
    3-char key saturated — at 50x replication the 3-char blocks hit
    near-constant-factor density and the family exponent read a
    pair-bound 0.99 (SCALE_r12_rag_mmr_50x). A deletion at position 3
    leaves the last 15 characters intact, so ANY suffix width <= 15 is
    equally corruption-invariant; 4 keeps blocks plural at test scale
    while cutting the saturated pair count 10x (re-measured curves in
    SCALE_r13_er_*.json: 50x exponent 0.99 -> 0.66; the residual slope
    is the 4-digit space itself re-densifying, and the next notch —
    width 5, or crossing in a second corruption-invariant name
    feature — is the same knob when the corpus grows another order).
    The oracle deliberately stays nation-only —
    the UNBLOCKED-within-nation truth — so the gate also proves the
    finer blocking drops no pair that changes any argmin. Levenshtein
    is a built-in with identical semantics in Spark SQL and DuckDB."""
    from .operators.linkage import best_match

    cust = read_table(spark, sf_dir, "customer")
    dirty = cust.filter(F.col("c_custkey") % 4 == 0).select(
        (F.col("c_custkey") + F.lit(1000000)).alias("c_custkey"),
        F.concat(
            F.substring("c_name", 1, 2), F.expr("substring(c_name, 4)")
        ).alias("c_name"),
        "c_nationkey",
    ).withColumn("c_name_sfx", F.expr(f"right(c_name, {ER_SFX_CHARS})"))
    clean = cust.withColumn("c_name_sfx", F.expr(f"right(c_name, {ER_SFX_CHARS})"))
    return best_match(
        dirty,
        clean,
        block_col=["c_name_sfx", "c_nationkey"],
        text_col="c_name",
        id_col="c_custkey",
        max_dist=3,
    )


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (operators/diff.table_diff): documents
    v1 vs a derived v2 (every 5th text uppercased, every 17th doc
    deleted, 30 new docs inserted, every 7th source renamed) — one
    full-outer key join with null-safe column compares, emitting the
    change class and the exact changed-column set per key. The oracle
    rebuilds v2 and the diff from scratch in DuckDB.

    ``changed_cols`` is serialized to a comma-joined string at the
    query surface (the operator keeps the typed array): the round-5
    driver row failed not on values but in the driver's pandas
    canonicalizer, which cannot sort/hash list-typed cells
    (``TypeError: unhashable type: 'list'``). The array is
    name-sorted before joining, so the string is canonical."""
    from .operators.diff import table_diff

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    v2 = (
        docs.filter(F.col("doc_id") % 17 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("source"), F.lit("_v2"))
            )
            .otherwise(F.col("source"))
            .alias("source"),
            F.when(F.col("doc_id") % 5 == 0, F.upper(F.col("text")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.limit(0).unionByName(
                spark.range(30).select(
                    (F.col("id") + F.lit(900000)).alias("doc_id"),
                    F.lit("srcnew").alias("source"),
                    F.concat(F.lit("new doc "), F.col("id")).alias("text"),
                )
            )
        )
    )
    diff = table_diff(docs, v2, key_cols=["doc_id"], compare_cols=["source", "text"])
    return diff.withColumn("changed_cols", F.array_join("changed_cols", ","))


def stream_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming continuous aggregate (streaming/matview.py): orders
    land in 4 micro-batches; each folds ADDITIVELY into a persisted
    monthly MV through a TRANSACTIONAL foreachBatch sink — the
    batch-id watermark commits atomically WITH the data, so replay
    skips (additive merges aren't idempotent; this is the other
    exactly-once mechanism beside the LWW sink's idempotence).
    Decimal addition is associative, so the streamed MV must equal a
    from-scratch GROUP BY over all orders — the oracle it shares with
    mv_incremental_refresh."""
    from .streaming.matview import streamed_mv_store

    return streamed_mv_store(spark, sf_dir)


CLUSTER_BAND = ("1995-03-01", "1995-03-15")  # narrow shipdate slice


def _scrambled_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """Shared layout-fixture: a 16-file round-robin-scrambled lineitem
    store (fingerprint-keyed) — the 'before' state for the clustering
    and z-order rewrites."""
    import os as _os

    from .io import table_path
    from .operators.ann import INDEX_ROOT, dataset_dir_key, dataset_fingerprint
    from .operators.maintenance import ensure_store

    key = dataset_dir_key(sf_dir)
    fp = dataset_fingerprint(table_path(sf_dir, "lineitem"), salt="scram16")
    return ensure_store(
        _os.path.join(INDEX_ROOT, f"scrambled_{key}"),
        fp,
        lambda d: read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate", "l_returnflag", "l_quantity")
        .repartition(16)
        .write.mode("overwrite")
        .parquet(d),
    )


def store_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout clustering (operators/maintenance.cluster_store): a
    deliberately scrambled 16-file lineitem store is rewritten
    range-partitioned + sorted on l_shipdate, then a narrow date-band
    aggregate runs AGAINST THE CLUSTERED STORE. The oracle recomputes
    the band from the source table, so the rewrite is gated on
    row-perfect content through the re-layout; the skipping property
    itself (disjoint row-group min/max ranges, pyarrow footer stats)
    is asserted in tests/test_maintenance.py."""
    import os as _os

    from .operators.ann import INDEX_ROOT, dataset_dir_key
    from .operators.maintenance import cluster_store

    key = dataset_dir_key(sf_dir)
    frag = _scrambled_lineitem(spark, sf_dir)
    clustered = cluster_store(
        spark,
        frag,
        _os.path.join(INDEX_ROOT, f"clustered_{key}", "data"),
        key="l_shipdate",
        n_files=8,
    )
    lo, hi = CLUSTER_BAND
    return (
        clustered.filter(
            (F.col("l_shipdate") >= F.lit(lo)) & (F.col("l_shipdate") < F.lit(hi))
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            F.sum("l_orderkey").alias("sum_keys"),
        )
    )


ZORDER_KEY_BAND = (1000, 3000)  # l_orderkey slice for the 2-D probe


def store_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column Z-order layout (operators/maintenance.zorder_store):
    the scrambled lineitem store is rewritten sorted on the Morton
    interleave of (l_orderkey, l_shipdate), then a TWO-dimensional
    band probe (key slice AND date band) runs against the z-ordered
    store — the query shape single-key clustering cannot serve for
    both predicates at once. Content gate: the oracle recomputes the
    band digest from the source table; the layout property (row-group
    min/max tightened in BOTH columns) is pytest-asserted with
    pyarrow footer stats."""
    import os as _os

    from .operators.ann import INDEX_ROOT, dataset_dir_key
    from .operators.maintenance import zorder_store

    key = dataset_dir_key(sf_dir)
    frag = _scrambled_lineitem(spark, sf_dir)
    zed = zorder_store(
        spark,
        frag,
        _os.path.join(INDEX_ROOT, f"zordered_{key}", "data"),
        keys=["l_orderkey", "l_shipdate"],
        n_files=8,
    )
    lo, hi = CLUSTER_BAND
    klo, khi = ZORDER_KEY_BAND
    return (
        zed.filter(
            (F.col("l_orderkey") >= klo)
            & (F.col("l_orderkey") < khi)
            & (F.col("l_shipdate") >= F.lit(lo))
            & (F.col("l_shipdate") < F.lit(hi))
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            F.sum("l_orderkey").alias("sum_keys"),
        )
    )


def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance
    (operators/matview.refresh_changed_partitions): the monthly
    (month, status) revenue MV is built WITHOUT the late-arriving
    batch (orders with o_orderkey % 1000 == 7), then refreshed by
    re-aggregating ONLY the months that batch touches and splicing
    them with the untouched MV rows (broadcast anti + semi joins on
    the month list). The oracle is a full from-scratch GROUP BY over
    all orders — the spliced path must be indistinguishable from the
    recompute, including the exact-decimal revenue sums."""
    from .operators.matview import refresh_changed_partitions

    orders = read_table(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("month")
    base = orders.select(
        month, "o_orderstatus", "o_totalprice", "o_orderkey"
    )

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("month", "o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("revenue"),
        )

    late = base.filter(F.col("o_orderkey") % 1000 == 7)
    mv0 = agg(base.filter(F.col("o_orderkey") % 1000 != 7))
    changed = late.select("month").distinct()
    return refresh_changed_partitions(base, mv0, "month", changed, agg)


def store_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (operators/maintenance.compact_store):
    a deliberately fragmented 32-file store is rewritten into
    ~target-sized files behind a write-then-swap, and the query
    returns a per-source content digest (row counts, id sums, text
    hash sums) of the COMPACTED store. The oracle recomputes the same
    digest from the source table — so the maintenance job is gated on
    preserving every row and every byte of text, which is the only
    thing that matters about a rewrite. File-count mechanics are
    pytest-asserted (tests/test_maintenance.py); content is
    driver-asserted here."""
    import os as _os

    from .functions.hashing import md5_int
    from .io import table_path
    from .operators.ann import INDEX_ROOT, dataset_dir_key, dataset_fingerprint
    from .operators.maintenance import compact_store, store_data_size
    from .store import ensure_store_dir

    key = dataset_dir_key(sf_dir)
    base = _os.path.join(INDEX_ROOT, f"frag_{key}")
    fp = dataset_fingerprint(table_path(sf_dir, "documents"), salt="frag32")

    def _build_frag(d: str) -> None:
        docs = read_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
        docs.repartition(32).write.mode("overwrite").parquet(d)

    frag = ensure_store_dir(base, fp, _build_frag)
    total, _nf = store_data_size(frag)
    out_dir = _os.path.join(INDEX_ROOT, f"compacted_{key}", "data")
    compacted = compact_store(
        spark, frag, out_dir, target_bytes=max(total // 4, 1)
    )
    return compacted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum(md5_int(F.col("text"))).alias("sum_text_hash"),
    )


EVAL_K = 10
# rank -> 1/log2(rank+1), 9 dp — DRIVER-side literals injected into
# both engines, so cross-engine log-implementation ulps cannot exist;
# the 9dp decimal carrier makes the 10-term sums associativity-proof
NDCG_DISCOUNTS = [round(1.0 / _math.log2(i + 1), 9) for i in range(1, EVAL_K + 1)]
IDCG_AT_K = float(sum(_Decimal(repr(d)) for d in NDCG_DISCOUNTS))


def retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality metrics — recall@k, MRR, NDCG@k — of the
    int8 stage-1 prefilter ranking against the exact-cosine truth
    ranking (binary relevance = membership in the exact top-k). Both
    rankings are seed-free and deterministic, so the DuckDB oracle
    replays retrieval AND evaluation end-to-end: the eval harness
    itself is correctness-gated, not just the index. Discount weights
    are driver literals shared verbatim with the oracle (no
    cross-engine log2 ulp risk); the DCG sums ride the repo's scale-9
    decimal carrier."""
    from .operators.ann import persisted_int8_codes, quantized_candidates
    from .functions.vector import cosine

    emb = read_table(spark, sf_dir, "embeddings")
    codes = persisted_int8_codes(spark, sf_dir, emb)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    sysr = quantized_candidates(codes, q, cand_k=EVAL_K)
    w = Window.orderBy(F.desc("q_dot"), "vec_id")
    sys_ranked = sysr.select("vec_id", "q_dot").withColumn(
        "rank", F.row_number().over(w)
    )
    dv = F.transform("embedding", lambda x: x.cast("double"))
    qvd = F.transform("qv", lambda x: x.cast("double"))
    truth = (
        emb.crossJoin(F.broadcast(q))
        .select("vec_id", cosine(dv, qvd).alias("score"))
        .orderBy(F.desc("score"), "vec_id")
        .limit(EVAL_K)
        .select("vec_id", F.lit(1).alias("rel"))
    )
    joined = sys_ranked.join(truth, "vec_id", "left")
    rel = F.coalesce(F.col("rel"), F.lit(0))
    disc = F.element_at(
        F.array(*[F.lit(d) for d in NDCG_DISCOUNTS]), F.col("rank")
    )
    dec9 = "decimal(27,9)"
    return joined.agg(
        F.lit(EVAL_K).alias("k"),
        F.sum(rel).alias("n_relevant"),
        F.round(F.sum(rel).cast("double") / F.lit(float(EVAL_K)), 6).alias(
            "recall_at_k"
        ),
        F.round(
            F.max(rel.cast("double") / F.col("rank").cast("double")), 6
        ).alias("mrr"),
        F.round(
            F.sum(
                F.when(rel == 1, disc).otherwise(F.lit(0.0)).cast(dec9)
            ).cast("double")
            / F.lit(IDCG_AT_K),
            6,
        ).alias("ndcg_at_k"),
    )


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer application: learn the K-rule BPE merge chain
    (bpe_merges' operator, same deterministic tie-breaks), then encode
    every document through it — merges run over the DISTINCT-WORD
    table (vocabulary-scale) and join back to the corpus by word. Per
    doc: word/token/base-symbol counts + compression ratio. The
    DuckDB oracle replays BOTH halves from scratch: the full learning
    chain and the word-level encode join. Round 8: the rules come
    from the persisted tokenizer store (persisted_bpe_merges) — the
    production encode job never re-trains; the from-scratch oracle
    replay gates the stored rules through this query too."""
    from .operators.text_analysis import bpe_apply

    docs = read_table(spark, sf_dir, "documents")
    # K learned rules: a driver-side literal list by construction
    # (same class of collect as the IVF centroids — the tokenizer IS
    # small; the corpus never is)
    rules = [
        (r["lhs"], r["rhs"])
        for r in persisted_bpe_merges(spark, sf_dir)
        .orderBy("merge_rank")
        .collect()
    ]
    return bpe_apply(docs, rules)


# ---------------- flagship (entry-point smoke query) ----------------

def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 end-to-end (reference `streamlit_app.py:129-148`): documents
    -> chunk (reference defaults 2000/100) -> deterministic embed ->
    stable ids + metadata -> cosine top-10 for a text query, filtered
    by source metadata (Q1+Q4). One lazy plan, shuffle-free except the
    final top-k reduce."""
    docs = read_table(spark, sf_dir, "documents")
    chunks = chunk_stride(docs, chunk_size=2000, chunk_overlap=100, keep_cols=("doc_id", "source"))
    vec = embed_deterministic(chunks, "chunk_text", dim=EMBED_DIM)
    vec = with_metadata(with_vector_id(vec))
    qv = det_embed_py(QUERY_TEXT, EMBED_DIM)
    out = topk_cosine(
        vec,
        qv,
        k=10,
        predicate=F.col("source").isin([f"src{i}" for i in range(10)]),
    )
    return out.select(
        "id", "doc_id", "chunk_index", "source", F.round("score", 6).alias("score")
    )


PPJOIN_THRESHOLD = 0.6  # exact-join Jaccard cut (word-3-gram sets)

SPLIT_BUCKETS = 1000
SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}


def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by key hash — zero
    shuffle, stable under corpus growth (a doc's split never flips
    when other docs arrive), cross-engine reproducible via the
    oracle-parity md5 bucket. The scalable alternative to
    row_number-per-stratum splits, which re-deal every assignment on
    ingest and sort whole strata."""
    from .operators.curation import hash_split

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    return hash_split(docs, "doc_id", SPLIT_FRACTIONS, buckets=SPLIT_BUCKETS).select(
        "doc_id", "source", "bucket", "split"
    )


def split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: near-dup GROUPS that span the
    split boundary. Composes the LSH star-contraction components with
    the hash split — if any member of a near-dup group lands in train
    while a sibling lands in test, the eval set leaks. One row per
    multi-doc group with per-split member counts and the leak verdict;
    the oracle replays connected components (recursive CTE) plus the
    same md5 bucket assignment from scratch.

    Round 8: the near-dup groups come from the persisted groups store
    (persisted_groups, tag 'word3') instead of a live star-contraction
    run — the r8 adjudication of this query's drift profiled 3.0 s of
    its 3.5 s inside the CC fixpoint's per-run checkpoint I/O, and the
    build/probe split is the architecture the groups table already has
    (dedup_pipeline and curation_pipeline consume the same store): at
    100 TB the leakage audit reads the corpus-version groups table,
    it does not re-run connected components. The oracle's from-scratch
    CC replay still gates the STORED content bit-for-bit."""
    from .operators.curation import hash_split
    from .operators.dedup import persisted_groups, persisted_signatures

    corpus = neardup_corpus(spark, sf_dir)
    sigs = persisted_signatures(
        spark, sf_dir, corpus, MINHASH_HASHES, WORD_NGRAM, "word", "word3",
        corpus_salt=_neardup_corpus_salt(),
    )
    groups = persisted_groups(
        spark,
        sf_dir,
        sigs,
        corpus.select("doc_id"),
        num_hashes=MINHASH_HASHES,
        bands=MINHASH_BANDS,
        tag="word3",
        corpus_salt=_neardup_corpus_salt(),
    )
    assigned = hash_split(
        corpus.select("doc_id"), "doc_id", SPLIT_FRACTIONS, buckets=SPLIT_BUCKETS
    )
    j = groups.join(assigned, "doc_id")
    return (
        j.groupBy("group_rep")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("split") == "train").cast("int")).alias("n_train"),
            F.sum((F.col("split") == "val").cast("int")).alias("n_val"),
            F.sum((F.col("split") == "test").cast("int")).alias("n_test"),
        )
        .filter(F.col("n_docs") > 1)
        .withColumn(
            "leaked", (F.col("n_train") > 0) & (F.col("n_test") > 0)
        )
    )


def neardup_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard-threshold near-dup join via prefix filtering
    (PPJoin-style) over word-3-gram sets — the provably-complete
    counterpart to the probabilistic MinHash-LSH path: candidates are
    pruned by the rarest-first prefix + length + positional filters,
    yet the result equals the naive all-pairs join. The DuckDB oracle
    computes the ALL-PAIRS truth through an inverted-index group-by,
    so a single dropped pair (an over-short prefix, a broken total
    order) is a driver hash mismatch. Filter bite at sf0.1: 49.99M
    doc pairs -> 735k prefix candidates -> 259k after the positional
    bound -> 6,008 verified (the fixture's 5,000 synthetic near-dups
    + organic repeats).

    Round 8 (r7 verdict item 3): the dictionary-encoded corpus comes
    from the fingerprint-keyed store (persisted_ppjoin_encoded) — the
    encode front end is a pure function of the corpus, built once per
    corpus version; each run pays only the prefix probe + exact
    verify. The oracle still computes the ALL-PAIRS truth from raw
    parquet, so a stale/wrong encoding is a driver hash mismatch, and
    the kernel code token in the store salt forces a rebuild whenever
    the encoding code changes."""
    from .operators.setjoin import set_similarity_join_encoded

    # deliberately NOT persist_tracked: the store read feeds four
    # consumers (prefix lhs/rhs + the two broadcast id tables), but
    # the parquet scan is ~0.4 s at sf0.1 while forcing the cache to
    # materialize BEFORE the broadcasts serializes the stage graph —
    # measured 4.0 s cached vs 2.5 s re-scanned (min-of-3, quiet box)
    enc = persisted_ppjoin_encoded(spark, sf_dir)
    return set_similarity_join_encoded(enc, PPJOIN_THRESHOLD)


EQUIDEPTH_TOL = 0.10  # range-binned counts must sit within 10% of n/k


def equidepth_cut_probs(k: int) -> list:
    """The k−1 interior cut probabilities of a k-bin equi-depth
    histogram — shared by equidepth_by_range and the scale tool
    (tools/scale_run_i.py) so the measured product path cannot drift
    from the shipped one."""
    return [i / k for i in range(1, k)]


def equidepth_range_bin_counts(ev: DataFrame, acuts: list) -> dict:
    """The PRODUCT side's range binning, shared with the scale tool:
    one broadcast pass assigning each row to a bin by its position
    among the k−1 cut literals (rows equal to a cut fall in the lower
    bin — deterministic), then a k-row count collect (the
    IVF-centroid class of bounded collect)."""
    acut_arr = F.array(*[F.lit(c) for c in acuts])
    return {
        int(r["bin"]): int(r["n"])
        for r in ev.select(
            (
                F.size(F.filter(acut_arr, lambda c: c < F.col("value")))
                + F.lit(1)
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def equidepth_by_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB equi-depth histogram path, correctness-gated against
    value_histogram's contract (r7 verdict item 2c): cut points come
    from approx_percentile (GK sketch — one aggregate scan, NO global
    sort), the corpus is then binned BY RANGE against the 9 broadcast
    cut literals, and three gates pin the swap to the exact ntile
    derivation: (1) each approx cut within 2% of the exact
    interpolated percentile, (2) each approx cut lands inside the two
    ntile bins it must separate (GK rank error n/1000 << bin width
    n/10, so this cannot flake), (3) every range-binned count within
    10% of the perfect n/k. One row per cut with the exact percentile
    and the ntile bin bounds (both DuckDB-recomputable) plus the gate
    booleans the oracle asserts TRUE.

    The exact ntile side is the TEST-SCALE contract gate (same class
    as value_histogram itself — the docstring there owns the global
    window); the approx+range side is the product path at scale. The
    driver-side collects are all bounded: one 1-row aggregate, k bin
    bounds, k bin counts — the IVF-centroid class of collect."""
    ev = read_table(spark, sf_dir, "events").select("value", "event_id")
    k = HIST_BINS
    plist = ", ".join(repr(p) for p in equidepth_cut_probs(k))
    agg = ev.agg(
        F.expr(f"percentile(value, array({plist}))").alias("ecuts"),
        F.expr(f"approx_percentile(value, array({plist}), 1000)").alias(
            "acuts"
        ),
        F.count(F.lit(1)).alias("n_rows"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    row = agg.collect()[0]
    n_rows = int(row["n_rows"])
    schema = (
        "cut_rank int, exact_cut double, hi_below double, lo_above double,"
        " approx_near_exact boolean, approx_separates_bins boolean,"
        " bins_balanced boolean, n_rows long"
    )
    if n_rows < k or row["ecuts"] is None or row["acuts"] is None:
        # small-n guard (r8 ADVICE): with fewer rows than bins an
        # ntile bucket is empty and the bound lookup below would
        # KeyError — emit FAILING gate rows instead of crashing the
        # driver (same class as approx_percentiles_gate's floor)
        out = [
            (i, None, None, None, False, False, False, n_rows)
            for i in range(1, k)
        ]
        return spark.createDataFrame(out, schema)
    ecuts = [float(x) for x in row["ecuts"]]
    acuts = [float(x) for x in row["acuts"]]
    spread = float(row["vmax"]) - float(row["vmin"])

    w = Window.orderBy("value", "event_id")
    bounds = (
        ev.select("value", F.ntile(k).over(w).alias("bin"))
        .groupBy("bin")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    )
    b = {int(r["bin"]): (float(r["lo"]), float(r["hi"])) for r in bounds.collect()}

    counts = equidepth_range_bin_counts(ev, acuts)
    ideal = n_rows / k
    balanced = (
        len(counts) == k
        and max(counts.values()) <= (1.0 + EQUIDEPTH_TOL) * ideal
        and min(counts.values()) >= (1.0 - EQUIDEPTH_TOL) * ideal
    )

    out = []
    for i in range(1, k):
        near = abs(acuts[i - 1] - ecuts[i - 1]) <= 0.02 * spread
        lo_bin, hi_bin = b.get(i), b.get(i + 1)
        if lo_bin is None or hi_bin is None:
            # unreachable with n_rows >= k (ntile is row-based, so no
            # bucket is ever empty), kept as a failing-gate fallback
            out.append((i, ecuts[i - 1], None, None,
                        bool(near), False, False, n_rows))
            continue
        separates = lo_bin[0] <= acuts[i - 1] <= hi_bin[1]
        out.append(
            (
                i,
                ecuts[i - 1],
                lo_bin[1],
                hi_bin[0],
                bool(near),
                bool(separates),
                bool(balanced),
                n_rows,
            )
        )
    # the 6dp rounding of the three result-boundary doubles runs
    # through F.round (HALF_UP, == the twin's DuckDB round), not
    # Python's banker's round (r15 wave 11 — the decimal_tie_round
    # lesson; the gate booleans above are computed in UNROUNDED space
    # and are unaffected)
    return (
        spark.createDataFrame(out, schema)
        .withColumn("exact_cut", F.round("exact_cut", 6))
        .withColumn("hi_below", F.round("hi_below", 6))
        .withColumn("lo_above", F.round("lo_above", 6))
    )


def store_consistency_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-certified gate for the persisted-store contract
    (store.persisted_result — r7 verdict item 2b: the pytest contract
    in tests/test_store.py, made driver-visible as an oracle row).
    Starting from a wiped store dir, the sequence must observe:
    build-once (1 build), serve-from-cache with identical content
    (still 1), rebuild on a fingerprint-salt change with identical
    content (2 — the result is a pure function of the data, so a
    rebuild is bit-identical), and rebuild — not crash — on a
    malformed marker that is valid JSON but not an object, the exact
    r7 ADVICE case (3). The payload is a per-source digest of the
    documents table; the DuckDB oracle recomputes the digest from raw
    parquet and asserts every gate boolean TRUE and builds_total=3,
    so a store serving stale/partial bytes is a hash mismatch."""
    import os as _os
    import shutil as _shutil

    from .functions.hashing import md5_int
    from .io import table_path
    from .operators.ann import INDEX_ROOT, dataset_dir_key, dataset_fingerprint
    from .store import persisted_result

    name = f"consistency_gate_{dataset_dir_key(sf_dir)}"
    base = _os.path.join(INDEX_ROOT, name)
    _shutil.rmtree(base, ignore_errors=True)  # deterministic build count

    calls = {"n": 0}

    def build() -> DataFrame:
        calls["n"] += 1
        docs = read_table(spark, sf_dir, "documents")
        return docs.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum(md5_int(F.col("text"))).alias("sum_text_hash"),
        )

    def snap(df: DataFrame) -> list:
        return sorted(map(tuple, df.collect()))

    fp_a = dataset_fingerprint(table_path(sf_dir, "documents"), salt="gate:A")
    fp_b = dataset_fingerprint(table_path(sf_dir, "documents"), salt="gate:B")

    s1 = snap(persisted_result(spark, name, fp_a, build))
    built_once = calls["n"] == 1
    s2 = snap(persisted_result(spark, name, fp_a, build))
    cached_serve_identical = calls["n"] == 1 and s2 == s1
    s3 = snap(persisted_result(spark, name, fp_b, build))
    salt_change_rebuilt = calls["n"] == 2 and s3 == s1
    # valid JSON, not an object — must fall through to rebuild
    with open(_os.path.join(base, "meta.json"), "w") as f:
        f.write("[1]")
    final = persisted_result(spark, name, fp_b, build)
    malformed_marker_rebuilt = calls["n"] == 3 and snap(final) == s1

    return final.select(
        "source",
        "n_docs",
        "sum_ids",
        "sum_text_hash",
        F.lit(bool(built_once)).alias("built_once"),
        F.lit(bool(cached_serve_identical)).alias("cached_serve_identical"),
        F.lit(bool(salt_change_rebuilt)).alias("salt_change_rebuilt"),
        F.lit(bool(malformed_marker_rebuilt)).alias(
            "malformed_marker_rebuilt"
        ),
        F.lit(calls["n"]).cast("long").alias("builds_total"),
    )


# ---------------- registry ----------------

# Registry order IS driver certification order (the driver certifies
# only the first ~50 entries). Rotation policy, set round 4, arithmetic
# corrected round 5: queries NEW or CHANGED this round always run
# first, then the queries whose last driver certification is oldest.
# At 147 queries / 50 slots the guaranteed staleness bound is
# ceil(147/50) = 3 rounds - three consecutive CORRECTNESS files
# jointly cover the whole registry.
#
# Round-12 front (executes VERDICT r11 items 1 and 4): the NEW
# boundary-tied PIT row (item 4) first, then the three r8 rows the
# r11 front displaced (impute_event_values, q3_ann_append,
# rolling_distinct_users — tri-scale receipts in NOTES_r11.md, the
# verdict-prescribed first owed slots), then the first 45
# round-9-certified rows = exactly 50. The five r9 rows the front
# can no longer hold (lm_bigram_quality, funnel_conversion,
# retention_cohorts, scd2_customer_priority, anomaly_mad) carry
# tri-scale oracle receipts in NOTES_r12.md — the r9-equidepth /
# r10-full_outer / r11-displaced precedent — and take the FIRST slots
# of the round-13 front, ahead of the round-10 block. Growth
# arithmetic: at 155 queries / 50 slots the pure-rotation bound is
# ceil(155/50) = 4 rounds; the (at most) five over-bound rows per
# round are exactly
# the receipt-covered ones, so every row is either driver-certified
# within 3 rounds or receipt-certified in the round it slipped — the
# NOTES ledger shows which.
QUERIES = {
    # --- round-15 front, as the r14 verdict item 1 prescribes: the
    # NINE r11-stale rows FIRST (registry rows 51-59 last round; all
    # nine judge re-oracled under vanilla + non-UTC in r14; the first
    # two carry r14 tri-scale + harsh-config builder receipts) ---
    "pit_priority_revenue": pit_priority_revenue,
    "mmr_diversified_topk": mmr_diversified_topk,
    "stream_mv_refresh": stream_mv_refresh,
    "store_zorder": store_zorder,
    "weighted_sample": weighted_sample,
    "rag_pipeline": rag_pipeline,
    "heavy_hitters_events": heavy_hitters_events,
    "lineitem_skew_report": lineitem_skew_report,
    "value_histogram": value_histogram,
    # --- new in round 15 (VERDICT r14 item 2): numeric overflow /
    # precision contracts — the ANSI generalization of the r14 cosine
    # find (BIGINT sum/multiply/cast overflow is FATAL under Spark 4
    # ANSI while DuckDB promotes to HUGEINT); near-boundary values
    # injected by event_id class, digest-only outputs ---
    "overflow_precision_contracts": overflow_precision_contracts,
    # --- new in round 15 (second row, beyond the prescription):
    # Unicode case-mapping / code-point / collation contracts — the
    # TEXT generalization of the ANSI arithmetic class (the corpus is
    # measured pure-ASCII, so the JVM's full case mappings vs
    # utf8proc's 1:1 mappings had zero oracle coverage); divergent
    # kernels spelled per engine, agree legs certified raw ---
    "unicode_case_contracts": unicode_case_contracts,
    # --- driver-green round 12 (oldest-certified block; the first 39
    # rows fill the round-15 front to exactly 50; the eleven rows past
    # the cut lead the round-16 front, the first two displaced by the
    # new r15 slots with per-row receipts in NOTES_r15.md) ---
    "pit_boundary_ties": pit_boundary_ties,
    "asof_boundary_ties": asof_boundary_ties,
    "impute_event_values": impute_event_values,
    "q3_ann_append": q3_ann_append,
    "rolling_distinct_users": rolling_distinct_users,
    "outer_range_join": outer_range_join,
    "approx_percentiles_gate": approx_percentiles_gate,
    "clicks_in_purchase_window": clicks_in_purchase_window,
    "snapshot_diff": snapshot_diff,
    "rolling_fingerprint": rolling_fingerprint,
    "chunker_separator": chunker_separator,
    "q3_ann_recall": q3_ann_recall,
    "media_pipeline": media_pipeline,
    "video_frame_sample": video_frame_sample,
    "clicks_before_purchase": clicks_before_purchase,
    "cube_pricing": cube_pricing,
    "session_windows_native": session_windows_native,
    "pii_scrub": pii_scrub,
    "pack_sequences": pack_sequences_q,
    "contamination_check": contamination_check,
    "stream_session_windows": stream_session_windows,
    "embed_quantize": embed_quantize,
    "stream_clicks_purchases": stream_clicks_purchases,
    "chunker_udtf": chunker_udtf,
    "udaf_median_acctbal": udaf_median_acctbal,
    "q1_cosine_topk": q1_cosine_topk,
    "q2_knn_join": q2_knn_join,
    "q4_filtered_topk": q4_filtered_topk,
    "q5_fetch_by_ids": q5_fetch_by_ids,
    "q5_delete_by_ids": q5_delete_by_ids,
    "chunker_stride": chunker_stride,
    "chunk_metadata": chunk_metadata,
    "pipeline_vectors": pipeline_vectors,
    "text_stats": text_stats,
    "lang_id": lang_id,
    "corpus_stats": corpus_stats,
    "doc_fingerprints": doc_fingerprints,
    "dedup_exact": dedup_exact,
    "minhash_signatures": minhash_signatures,
    "neardup_minhash": neardup_minhash,
    "neardup_groups": neardup_groups,
    "neardup_simhash": neardup_simhash,
    "neardup_jaccard": neardup_jaccard,
    "token_counts": token_counts,
    "vocab_top_tokens": vocab_top_tokens,
    "tfidf_top_terms": tfidf_top_terms,
    "sample_docs_hash": sample_docs_hash,
    "approx_distinct_parts": approx_distinct_parts,
    "tpch_q1_pricing": tpch_q1_pricing,
    "revenue_by_nation": revenue_by_nation,
    # --- driver-green round 13 ---
    "lm_bigram_quality": lm_bigram_quality,
    "funnel_conversion": funnel_conversion,
    "retention_cohorts": retention_cohorts,
    "scd2_customer_priority": scd2_customer_priority,
    "anomaly_mad": anomaly_mad,
    "hostile_text_tokens": hostile_text_tokens,
    "empty_relation_contracts": empty_relation_contracts,
    "entity_resolution": entity_resolution,
    "outer_pit_join": outer_pit_join,
    "stream_outer_interval_join": stream_outer_interval_join,
    "equidepth_by_range": equidepth_by_range,
    "semantic_dedup": semantic_dedup,
    "large_order_customers": large_order_customers,
    "top_supplier_revenue": top_supplier_revenue,
    "returned_items_topk": returned_items_topk,
    "rolling_revenue_7d": rolling_revenue_7d,
    "gopher_quality": gopher_quality,
    "crossdoc_spans": crossdoc_spans,
    "mixture_sample": mixture_sample_q,
    "hybrid_search_rrf": hybrid_search_rrf,
    "q3_ann_binary_rerank": q3_ann_binary_rerank,
    "dedup_incremental": dedup_incremental,
    "stream_dedup_incremental": stream_dedup_incremental,
    "q3_ann_quantized_rerank": q3_ann_quantized_rerank,
    "curation_pipeline": curation_pipeline,
    "stream_pdf_ingest": stream_pdf_ingest,
    "q3_ann_build": q3_ann_build,
    "q3_ann_ivf": q3_ann_ivf,
    "q3_ann_lsh": q3_ann_lsh,
    "neardup_embedding": neardup_embedding,
    "merge_parts": merge_parts,
    "top_unshipped_orders": top_unshipped_orders,
    "local_supplier_volume": local_supplier_volume,
    "top_parts_per_brand": top_parts_per_brand,
    "customer_segments": customer_segments,
    "events_hourly": events_hourly,
    "stream_events_hourly": stream_events_hourly,
    "stream_dedup_keys": stream_dedup_keys,
    "rollup_pricing": rollup_pricing,
    "grouping_sets_pricing": grouping_sets_pricing,
    "above_avg_customers": above_avg_customers,
    "semi_anti_customers": semi_anti_customers,
    "salted_join_segments": salted_join_segments,
    "asof_join_events": asof_join_events,
    "pivot_order_status": pivot_order_status,
    "sessionize_events": sessionize_events,
    "distinct_parts_per_supplier": distinct_parts_per_supplier,
    "pages_roundtrip": pages_roundtrip,
    "upsert_compact": upsert_compact,
    "upsert_bucketed": upsert_bucketed,
    # --- driver-green round 14 (newest certifications: the eight
    # displaced r10-tail rows, the two r14 adversarial rows and the
    # r11 block that filled the r14 front) ---
    "setops_parts": setops_parts,
    "q6_revenue_band": q6_revenue_band,
    "orders_calendar": orders_calendar,
    "percentiles_acctbal": percentiles_acctbal,
    "events_json_props": events_json_props,
    "segment_dedup": segment_dedup,
    "rolling_distinct_users_sketch": rolling_distinct_users_sketch,
    "order_count_distribution": order_count_distribution,
    "null_keys_contracts": null_keys_contracts,
    "float_edge_contracts": float_edge_contracts,
    "scd2_null_transitions": scd2_null_transitions,
    "upsert_dup_versions": upsert_dup_versions,
    "right_outer_range_join": right_outer_range_join,
    "full_outer_range_join": full_outer_range_join,
    "neardup_ppjoin": neardup_ppjoin,
    "lsh_exact_audit": lsh_exact_audit,
    "q3_ann_lsh_join": q3_ann_lsh_join,
    "dedup_pipeline": dedup_pipeline,
    "flagship_e1": flagship,
    "store_consistency_gate": store_consistency_gate,
    "acctbal_window_stats": acctbal_window_stats,
    "min_cost_supplier": min_cost_supplier,
    "priority_order_counts": priority_order_counts,
    "nation_pair_volume": nation_pair_volume,
    "market_share": market_share,
    "product_profit": product_profit,
    "important_parts": important_parts,
    "shipmode_priority": shipmode_priority,
    "promo_revenue_pct": promo_revenue_pct,
    "supplier_part_counts": supplier_part_counts,
    "small_qty_revenue": small_qty_revenue,
    "disjunctive_revenue": disjunctive_revenue,
    "excess_volume_suppliers": excess_volume_suppliers,
    "waiting_suppliers": waiting_suppliers,
    "idle_rich_customers": idle_rich_customers,
    "bpe_merges": bpe_merges,
    "dsir_select": dsir_select,
    "datasketch_gates": datasketch_gates,
    "stream_upsert_store": stream_upsert_store,
    "events_gapfill": events_gapfill,
    "profile_lineitem": profile_lineitem,
    "quality_gates": quality_gates,
    "dataset_split": dataset_split,
    "split_leakage": split_leakage,
    "bpe_encode": bpe_encode,
    "retrieval_eval": retrieval_eval,
    "store_compaction": store_compaction,
    "mv_incremental_refresh": mv_incremental_refresh,
    "store_clustering": store_clustering,
    "supplier_pagerank": supplier_pagerank,
}



