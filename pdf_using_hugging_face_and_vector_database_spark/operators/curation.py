"""Corpus-curation operators a large-scale training-data pipeline runs
between ingest and training (north-star family, BASELINE.json): PII
scrubbing, sequence packing, benchmark-contamination detection.

All three are pure relational/SQL shapes — no UDFs — so they stay in
whole-stage codegen and are oracle-checkable in DuckDB verbatim.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import token_count

# Deliberately simple patterns that parse identically under Java regex
# (Spark) and RE2 (DuckDB): no lookaround, no backrefs.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "[0-9]{3}-[0-9]{4}[0-9-]*"


def scrub_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact email addresses and phone-shaped digit runs, reporting
    per-document redaction counts. 100 TB shape: one projection, no
    shuffle — the scan's natural parallelism is the whole story; the
    regexes run codegen'd JVM-side (never a Python UDF)."""
    text = F.col(text_col)
    n_email = F.regexp_count(text, F.lit(EMAIL_RE))
    emails_gone = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    # count phones on the EMAIL-REDACTED text, mirroring the
    # sequential replacement below (r10 review: counting both patterns
    # on the raw text over-reported when they overlap — a digit-bearing
    # email like 555-1234@x.com yielded n_phones=1 with no <PHONE>
    # ever emitted, so audit counts disagreed with the output)
    n_phone = F.regexp_count(emails_gone, F.lit(PHONE_RE))
    clean = F.regexp_replace(emails_gone, PHONE_RE, "<PHONE>")
    return df.select(
        F.col(id_col),
        clean.alias("clean_text"),
        (n_email + n_phone).cast("int").alias("n_redactions"),
        n_email.cast("int").alias("n_emails"),
        n_phone.cast("int").alias("n_phones"),
    )


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 256,
    n_groups: int = 32,
) -> DataFrame:
    """Assign documents to fixed-token-budget packs (LLM context
    packing). Documents are hash-partitioned into ``n_groups``
    independent streams (``id % n_groups`` — deterministic and
    engine-portable), then packed in id order by cumulative token
    count: ``pack_id = floor(tokens_before / budget)``.

    Scale shape: the window partitions by pack_group, so the cumsum
    parallelizes across groups instead of serializing on one global
    ordering — at 100 TB a single orderBy() window is the bottleneck
    this avoids. The cumsum rule is the streaming-friendly
    "split-fill" variant (a pack may overflow by at most one document,
    marked in ``overflowed``); exact next-fit needs per-group
    sequential state (applyInPandas) and changes nothing about the
    distribution strategy."""
    n_tok = token_count(F.col(text_col)).alias("n_tokens")
    base = df.select(
        F.col(id_col), (F.col(id_col) % n_groups).alias("pack_group"), n_tok
    )
    w = (
        Window.partitionBy("pack_group")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return base.select(
        id_col,
        "pack_group",
        "n_tokens",
        F.floor(before / budget).cast("int").alias("pack_id"),
        ((before % budget) + F.col("n_tokens") > budget).alias("overflowed"),
    )


def mixture_sample(
    df: DataFrame,
    rates: dict[str, int],
    default_rate: int,
    cap: int,
    repeats: dict[str, int],
    salt: str = "mix:",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Deterministic training-mixture construction: per-source
    hash-Bernoulli DOWN-sampling (``rates``/``default_rate`` percent),
    a per-source document CAP (rank by hash among the sampled), and
    per-source epoch UP-sampling (``repeats`` emits one row per epoch)
    — the sampling plan a pretraining pipeline applies to weight
    sources before packing.

    Every decision is a pure function of (id, source): the Bernoulli
    bucket is an md5 hash mod 100, the cap rank orders by (bucket, id),
    and repeats explode a literal sequence — fully reproducible in the
    DuckDB oracle and ACROSS CLUSTER SIZES (no rand(), no
    partition-dependent sampling).

    Scale shape: the filter and explode are shuffle-free projections;
    the cap is one window keyed by source. With domain-cardinality
    sources the window parallelizes across keys; a skewed giant source
    would cut each partition to its cap before the window (the running
    per-partition top-k of operators/search.knn_partials) — same
    contract, same output.
    """
    from ..functions.hashing import md5_int

    bucket = md5_int(F.concat(F.lit(salt), F.col(id_col).cast("string"))) % 100
    rate = F.lit(default_rate)
    for src, r in rates.items():
        rate = F.when(F.col(source_col) == src, F.lit(r)).otherwise(rate)
    n_epochs = F.lit(1)
    for src, r in repeats.items():
        n_epochs = F.when(F.col(source_col) == src, F.lit(r)).otherwise(n_epochs)
    sampled = (
        df.select(
            id_col,
            source_col,
            bucket.cast("int").alias("sample_bucket"),
            n_epochs.cast("int").alias("__n_epochs"),
            rate.alias("__rate"),
        )
        # filter on the SELECTED columns: filtering on the rebuilt
        # bucket expression made Catalyst push it below the projection
        # and re-evaluate the md5 per surviving row (r10 review)
        .filter(F.col("sample_bucket") < F.col("__rate"))
        .drop("__rate")
        # repeats < 1 means "drop the source", not a DESCENDING
        # sequence(1, 0) = [1, 0] that would emit the doc TWICE
        # (r10 review)
        .filter(F.col("__n_epochs") >= 1)
    )
    w = Window.partitionBy(source_col).orderBy("sample_bucket", id_col)
    capped = (
        sampled.withColumn("rank_in_source", F.row_number().over(w).cast("int"))
        .filter(F.col("rank_in_source") <= cap)
    )
    return capped.select(
        id_col,
        source_col,
        "sample_bucket",
        "rank_in_source",
        F.explode(F.sequence(F.lit(1), F.col("__n_epochs"))).alias("epoch"),
    )


def _word_ngrams_exploded(
    df: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, gram) rows of word n-grams via the codegen'd explode shape
    (same rationale as dedup.minhash_signatures_agg: transform() HOFs
    are CodegenFallback)."""
    from ..functions.text import tokens

    toked = df.select(id_col, tokens(F.col(text_col)).alias("__t"))
    n_pos = F.greatest(F.size("__t") - F.lit(n - 1), F.lit(1))
    exploded = toked.select(
        id_col, "__t", F.explode(F.sequence(F.lit(1), n_pos)).alias("pos")
    )
    gram = F.concat_ws(
        " ", *[F.get("__t", F.col("pos") - 1 + F.lit(j)) for j in range(n)]
    )
    # the repo-wide shingle convention keeps a sub-n doc as ONE
    # whole-doc gram (it still deserves a signature / can still be
    # verbatim contamination), but a ZERO-token doc produces the empty
    # gram '' — which would match every other empty doc and flag
    # spurious contamination pairs (r10 review); drop it on both
    # engines (the oracle's word-n-gram helper applies the same filter)
    return exploded.select(id_col, gram.alias("gram")).filter(
        F.col("gram") != ""
    )


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination (the C4/Dolma shape): flag corpus
    documents sharing any word ``n``-gram with a benchmark document.
    Returns one row per contaminated (corpus_doc, bench_doc) pair with
    the count of distinct shared grams.

    Scale shape: the benchmark side is small by definition — its
    DISTINCT gram set broadcasts, so the corpus-side explode never
    shuffles; the only aggregation keys on (corpus id, bench id).
    """
    corpus_grams = _word_ngrams_exploded(corpus, n, text_col, id_col).select(
        F.col(id_col).alias("corpus_doc"), "gram"
    )
    bench_grams = (
        _word_ngrams_exploded(benchmark, n, text_col, id_col)
        .select(F.col(id_col).alias("bench_doc"), "gram")
        .distinct()
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("corpus_doc", "bench_doc")
        .agg(F.count_distinct("gram").alias("n_shared_grams"))
    )


def dsir_weights(
    df: DataFrame,
    target_pred: Column,
    n_buckets: int = 64,
    alpha: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    document by how much its hashed-unigram feature distribution looks
    like a TARGET slice of the corpus versus the corpus overall —
    weight = mean over the doc's tokens of
    log(p_target(bucket) / p_raw(bucket)), add-alpha smoothed.

    Scale shape: one explode + TWO conditional aggregations produce
    the (n_buckets)-row distribution table (map-side combined — the
    shuffle carries n_buckets rows per task); the per-doc score is a
    broadcast join of that tiny table onto the exploded tokens and one
    groupBy(doc). Nothing is ever quadratic and the corpus is scanned
    once.

    Cross-engine determinism: bucket log-ratios are computed over
    integer counts (exact), rounded to 9 dp BEFORE the per-doc mean
    (ln may differ by an ulp between engines), summed through exact
    DECIMAL, and the final weight is round(., 6).
    """
    from ..functions.hashing import md5_int
    from ..functions.text import tokens

    # scale-9 carrier: log_ratio is rounded to 9 dp, so the decimal
    # cast must be EXACT (a 6-scale carrier would re-round the last 3
    # digits under engine-specific cast rounding — observed mismatch)
    DEC9 = "decimal(27,9)"
    # explode_outer (r10 review): a zero-token doc must still come
    # back (n_grams 0, neutral weight 0.0) — a plain explode silently
    # dropped it, and a downstream importance-resampling join on
    # doc_id lost the doc entirely instead of deciding about it
    grams = df.select(
        F.col(id_col),
        target_pred.alias("is_target"),
        F.explode_outer(tokens(F.col(text_col))).alias("gram"),
    ).withColumn("bucket", md5_int(F.col("gram")) % n_buckets)

    # bucket stats over REAL grams only — the null-gram carrier rows
    # of empty docs must not inflate raw_total
    counts = grams.filter(F.col("gram").isNotNull()).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("raw_cnt"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("tgt_cnt"),
    )
    totals = counts.agg(
        F.sum("raw_cnt").alias("raw_total"), F.sum("tgt_cnt").alias("tgt_total")
    )
    stats = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            F.log(
                ((F.col("tgt_cnt") + F.lit(alpha))
                 / (F.col("tgt_total") + F.lit(alpha * n_buckets)))
                / ((F.col("raw_cnt") + F.lit(alpha))
                   / (F.col("raw_total") + F.lit(alpha * n_buckets)))
            ),
            9,
        ).alias("log_ratio"),
    )
    return (
        grams.join(F.broadcast(stats), "bucket", "left")
        .groupBy(id_col)
        .agg(
            # count(gram) skips the null carrier row -> 0 for empty docs
            F.count("gram").alias("n_grams"),
            F.round(
                F.coalesce(
                    F.sum(F.col("log_ratio").cast(DEC9)).cast("double"),
                    F.lit(0.0),
                )
                / F.greatest(F.count("gram"), F.lit(1)),
                6,
            ).alias("dsir_weight"),
        )
    )


def hash_split(
    df: DataFrame,
    key_col: str = "doc_id",
    fractions: dict[str, float] | None = None,
    salt: str = "split",
    buckets: int = 1000,
) -> DataFrame:
    """Deterministic train/val/test assignment by hashing the stable
    document key — the split operator every training pipeline needs
    before anything touches an example.

    Design choices for 100 TB:

    - Pure projection, ZERO shuffle: the assignment is a function of
      the key alone. A row_number-per-stratum "exact" split needs a
      window over every stratum (one sort task per source at scale)
      and, worse, CHANGES existing assignments when new docs arrive.
      Hash assignment is stable under corpus growth: a doc's split
      never flips when other docs are added or removed — the property
      that keeps yesterday's test set untouched by today's ingest.
    - Proportions hold per stratum in expectation (the hash is
      uniform within any subpopulation), asserted within tolerance by
      tests rather than forced exactly.
    - Cross-engine reproducible: bucket = md5_int('<salt>:' || key)
      % buckets, the repo's standard oracle-parity hash
      (functions/hashing.py), so DuckDB recomputes every assignment.

    ``fractions`` maps split name -> fraction (must sum to ~1); cut
    points are floor(cumulative * buckets), matching the oracle's
    integer arithmetic exactly.
    """
    from ..functions.hashing import md5_int

    if fractions is None:
        fractions = {"train": 0.8, "val": 0.1, "test": 0.1}
    bucket = md5_int(
        F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))
    ) % F.lit(buckets)
    cum = 0.0
    cuts: list[tuple[str, int]] = []
    for name, frac in fractions.items():
        cum += frac
        cuts.append((name, int(cum * buckets + 1e-9)))
    # CASE WHEN bucket < cut_1 THEN name_1 WHEN bucket < cut_2 ... —
    # first-match-wins, remainder bucket takes the last split
    expr = None
    for name, cut in cuts[:-1]:
        cond = bucket < F.lit(cut)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = F.lit(cuts[-1][0]) if expr is None else expr.otherwise(F.lit(cuts[-1][0]))
    return df.withColumn("bucket", bucket).withColumn("split", expr)
