"""Physical-plan shape assertions — the 100 TB survival properties
(SURVEY.md §4). A refactor that silently drops a pushdown, broadcasts
the wrong side, or turns top-k into a global sort fails here, at
sf0.001, long before it would melt a cluster."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_using_hugging_face_and_vector_database_spark import queries as Q
from pdf_using_hugging_face_and_vector_database_spark.io import read_table
from pdf_using_hugging_face_and_vector_database_spark.plans import (
    formatted_plan,
    has_broadcast_join,
    has_pushed_filters,
    has_take_ordered,
    scan_read_schema,
)
from pdf_using_hugging_face_and_vector_database_spark.plans.explain import count_shuffles


def test_metadata_filter_pushed_to_scan(spark, sf_dir):
    """Q4: the label predicate must reach the parquet reader."""
    df = Q.q4_filtered_topk(spark, sf_dir)
    assert has_pushed_filters(df, "label")


def test_date_filter_pushed_to_scan(spark, sf_dir):
    df = Q.tpch_q1_pricing(spark, sf_dir)
    assert has_pushed_filters(df, "l_shipdate")


def test_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    """Q1: orderBy+limit must lower to TakeOrderedAndProject (local
    top-k + driver merge), never a full sort of the corpus."""
    assert has_take_ordered(Q.q1_cosine_topk(spark, sf_dir))
    assert has_take_ordered(Q.q4_filtered_topk(spark, sf_dir))


def test_knn_join_scores_corpus_without_join_or_shuffle(spark, sf_dir):
    """Q2: the corpus scan feeds the scoring kernel directly: no
    Exchange or SortMergeJoin under it, and no join of any kind reads
    it (the query batch travels in the task closure, which PySpark
    itself broadcasts above 1 MB). The per-partition top-k
    (MapInArrow) must sit UPSTREAM of the window's Exchange, so the
    shuffle carries the reduced stream, not |corpus| x |queries|."""
    df = Q.q2_knn_join(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Join" not in plan  # no BroadcastNestedLoopJoin, no SortMergeJoin
    # formatted explain's tree section is indented root-first: the
    # kernel and the scan below it come after (below) the Exchange,
    # and the scan is the kernel's direct child
    tree = plan.split("\n\n")[0].splitlines()
    exch = [i for i, l in enumerate(tree) if "Exchange" in l]
    mia = [i for i, l in enumerate(tree) if "MapInArrow" in l]
    scan = [i for i, l in enumerate(tree) if "Scan parquet" in l]
    assert len(exch) == 1 and len(mia) == 1 and len(scan) == 1, tree
    assert exch[0] < mia[0] and scan[0] == mia[0] + 1, tree


def test_revenue_join_broadcasts_dim(spark, sf_dir):
    """nation (25 rows) must broadcast, whatever the fact-join does."""
    assert has_broadcast_join(Q.revenue_by_nation(spark, sf_dir))


def test_column_pruning_on_count(spark, sf_dir):
    """Counting vectors must not read the 64-float embedding column —
    at 384-d/100 TB that's the difference between a metadata scan and
    reading the whole table."""
    emb = read_table(spark, sf_dir, "embeddings")
    df = emb.groupBy("label").count()
    schemas = scan_read_schema(df)
    assert schemas, "no scan found"
    assert all("embedding" not in s for s in schemas)


def test_pipeline_is_shuffle_free(spark, sf_dir):
    """The flagship ingest chain (chunk -> embed -> id -> metadata) is
    pure per-row map + explode: zero Exchange nodes."""
    from pdf_using_hugging_face_and_vector_database_spark.operators.chunker import chunk_stride
    from pdf_using_hugging_face_and_vector_database_spark.operators.embedder import (
        embed_deterministic,
    )
    from pdf_using_hugging_face_and_vector_database_spark.operators.ids import (
        with_metadata,
        with_vector_id,
    )

    docs = read_table(spark, sf_dir, "documents")
    chunks = chunk_stride(docs, keep_cols=("doc_id", "source"))
    vec = with_metadata(with_vector_id(embed_deterministic(chunks, "chunk_text")))
    assert count_shuffles(vec) == 0


def test_ivf_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The persisted IVF index is partitioned by cell; a probe must
    show PartitionFilters on cell (whole-partition pruning), read
    strictly fewer rows than the corpus, and run as ONE Spark job: the
    table is read with the schema the build recorded, so there is no
    footer-inference job. The file listing stays fresh per probe: rows
    appended after the build are found."""
    from pdf_using_hugging_face_and_vector_database_spark.functions.hashing import (
        det_embed_py,
    )
    from pdf_using_hugging_face_and_vector_database_spark.operators.ann import (
        append_ivf_index,
        build_ivf_index,
        probe_ivf_index,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") % 50 != 7), path, n_cells=8, iters=1, dim=64)
    q = det_embed_py("probe", 64)
    df = probe_ivf_index(spark, path, q, k=5, nprobe=2)
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]
    assert df.count() == 5

    sc = spark.sparkContext
    sc.setJobGroup("ivf_probe_jobs", "ivf_probe_jobs")
    try:
        rows = probe_ivf_index(spark, path, q, k=5, nprobe=2).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("ivf_probe_jobs")) == 1
    assert len(rows) == 5

    held = emb.filter(F.col("vec_id") % 50 == 7)
    target = held.orderBy("vec_id").first()
    before = probe_ivf_index(spark, path, list(target["embedding"]), k=5, nprobe=2)
    assert target["vec_id"] not in {r["vec_id"] for r in before.collect()}
    assert append_ivf_index(spark, path, held, tag="held") == held.count()
    after = probe_ivf_index(spark, path, list(target["embedding"]), k=5, nprobe=2)
    assert target["vec_id"] in {r["vec_id"] for r in after.collect()}


def test_fetch_pushes_isin(spark, sf_dir):
    df = Q.q5_fetch_by_ids(spark, sf_dir)
    assert has_pushed_filters(df, "vec_id")


def test_vocab_topn_is_take_ordered(spark, sf_dir):
    """Vocabulary top-N: partial counts map-side, then TakeOrdered —
    never a global sort of the token table."""
    assert has_take_ordered(Q.vocab_top_tokens(spark, sf_dir))


def test_tfidf_single_corpus_pass(spark, sf_dir):
    """r16: document frequency rides a WINDOW count over the
    (doc, term) aggregate — the corpus is exploded and shuffled once.
    The r15 broadcast-join shape re-ran the full explode + (doc, term)
    shuffle for the groupBy(term) branch (AQE cannot reuse exchanges
    whose columns diverge); this pin holds the single-subtree shape:
    exactly one documents scan, no join of any kind."""
    plan = formatted_plan(Q.tfidf_top_terms(spark, sf_dir))
    # formatted plans name each scan in the tree AND detail sections;
    # count detail entries only ("(n) Scan parquet")
    n_scans = sum(
        1
        for line in plan.splitlines()
        if line.lstrip().startswith("(") and "Scan parquet" in line
    )
    assert n_scans == 1, plan
    assert "Join" not in plan
    assert "Window" in plan


def test_multimodal_chains_are_shuffle_free(spark, sf_dir):
    """Decode -> feature and frame-sample run inside the Arrow batch:
    per-row maps, zero Exchange."""
    assert count_shuffles(Q.media_pipeline(spark, sf_dir)) == 0
    assert count_shuffles(Q.video_frame_sample(spark, sf_dir)) == 0
    assert count_shuffles(Q.sample_docs_hash(spark, sf_dir)) == 0


def test_q6_all_predicates_pushed(spark, sf_dir):
    """Q6-shape scan query: every predicate (date range, discount
    band, quantity cap) reaches the parquet reader, and the scan reads
    only the 4 referenced columns."""
    df = Q.q6_revenue_band(spark, sf_dir)
    for c in ("l_shipdate", "l_discount", "l_quantity"):
        assert has_pushed_filters(df, c), c
    schemas = scan_read_schema(df)
    assert schemas and all("l_orderkey" not in s for s in schemas)

def test_merge_parts_single_fullouter_join(spark, sf_dir):
    from pdf_using_hugging_face_and_vector_database_spark.queries import merge_parts

    plan = merge_parts(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" in plan
    # one key-shuffle per side at most, nothing else
    assert plan.count("Exchange") <= 3


def test_pack_sequences_one_grouped_window_shuffle(spark, sf_dir):
    from pdf_using_hugging_face_and_vector_database_spark.queries import (
        pack_sequences_q,
    )

    plan = (
        pack_sequences_q(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )
    # exactly the pack_group hash partitioning; no global-order Exchange
    assert plan.count("Exchange") == 1
    assert "rangepartitioning" not in plan.lower()


def test_embed_quantize_shuffle_free(spark, sf_dir):
    from pdf_using_hugging_face_and_vector_database_spark.queries import embed_quantize

    plan = (
        embed_quantize(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_incremental_dedup_corpus_never_shuffles(spark, sf_dir, tmp_path):
    """dedup_incremental: with the corpus signatures coming from the
    persisted store (the production shape — built once per corpus
    version), the banded corpus must feed the candidate join as a
    map-side broadcast probe — zero Exchange between the corpus scan
    and the join (at 100 TB the corpus side is the whole point;
    shuffling it would dwarf the query)."""
    from pdf_using_hugging_face_and_vector_database_spark.operators.dedup import (
        incremental_candidate_pairs,
        minhash_signatures_agg,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = str(tmp_path / "sigs")
    minhash_signatures_agg(docs, num_hashes=8, ngram=4).write.parquet(store)
    corpus_sigs = spark.read.parquet(store)
    # batch signatures also from parquet (the stream/batch queries sign
    # the increment fresh, but its groupBy shuffle is on the SMALL side
    # and irrelevant here) — with both sides as plain scans, the ONLY
    # legal Exchange in the whole candidate plan is the batch side's
    # BroadcastExchange, which is robust to assert plan-wide.
    bstore = str(tmp_path / "bsigs")
    minhash_signatures_agg(
        docs.filter(F.col("doc_id") % 5 == 0), num_hashes=8, ngram=4
    ).write.parquet(bstore)
    batch_sigs = spark.read.parquet(bstore)
    pairs = incremental_candidate_pairs(
        corpus_sigs, batch_sigs, num_hashes=8, bands=4
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    import re

    # every non-broadcast Exchange must partition on the PAIR keys
    # (the post-join candidate dedup — small by construction); any
    # shuffle keyed on the corpus side (doc_id / band) means the
    # corpus stopped being a map-side probe
    bad = [
        l
        for l in plan.splitlines()
        if re.search(r"\bExchange\b", l)
        and "BroadcastExchange" not in l
        and "batch_id" not in l
    ]
    assert not bad, bad


def test_quantized_rerank_serving_shape(spark, sf_dir, tmp_path):
    """The int8 re-rank serving path, both stages plan-asserted:
    stage 1 must read ONLY the codes table (never the float embedding
    column) and lower to TakeOrderedAndProject; stage 2 must push the
    candidate-id isin into the vector scan (point re-fetch, not a
    corpus scan) and take its top-k locally — no global sort
    anywhere."""
    from pdf_using_hugging_face_and_vector_database_spark.operators.ann import (
        int8_codes_of,
        quantized_candidates,
        quantized_rerank_topk,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    store = str(tmp_path / "codes")
    int8_codes_of(emb).write.parquet(store)
    codes = spark.read.parquet(store)
    # literal query vector so the only parquet scans in stage 1 are
    # the codes table itself
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    q = spark.createDataFrame([(qvec,)], "qv array<double>")

    cands = quantized_candidates(codes, q, cand_k=20)
    tree1 = formatted_plan(cands).split("\n\n")[0]
    assert "TakeOrderedAndProject" in tree1, tree1
    schemas = scan_read_schema(cands)
    assert schemas and all("embedding" not in s for s in schemas), schemas

    out = quantized_rerank_topk(emb, q, k=5, cand_k=20, codes=codes)
    assert has_pushed_filters(out, "vec_id")
    tree2 = formatted_plan(out).split("\n\n")[0]
    assert tree2.count("TakeOrderedAndProject") == 1, tree2
    assert "Sort " not in tree2, tree2


def test_hybrid_legs_are_take_ordered(spark, sf_dir):
    """Hybrid RRF: both corpus-scale legs must cut to their top-k via
    TakeOrderedAndProject (never a global sort); the fuse then runs on
    the bounded candidate set."""
    plan = formatted_plan(Q.hybrid_search_rrf(spark, sf_dir))
    assert plan.count("TakeOrderedAndProject") >= 2


def test_binary_rerank_serving_shape(spark, sf_dir, tmp_path):
    """The sign-bit re-rank path, both stages plan-asserted: stage 1
    reads ONLY the packed-word codes table (32x smaller than the float
    column) and lowers to TakeOrderedAndProject; stage 2 pushes the
    candidate-id isin into the vector scan."""
    from pdf_using_hugging_face_and_vector_database_spark.operators.ann import (
        binary_candidates,
        binary_codes_of,
        binary_rerank_topk,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    store = str(tmp_path / "bincodes")
    binary_codes_of(emb).write.parquet(store)
    codes = spark.read.parquet(store)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 1).first()["embedding"]]
    q = spark.createDataFrame([(qvec,)], "qv array<double>")

    cands = binary_candidates(codes, q, cand_k=20)
    tree1 = formatted_plan(cands).split("\n\n")[0]
    assert "TakeOrderedAndProject" in tree1, tree1
    schemas = scan_read_schema(cands)
    assert schemas and all("embedding" not in s for s in schemas), schemas

    out = binary_rerank_topk(emb, q, k=5, cand_k=20, codes=codes)
    assert has_pushed_filters(out, "vec_id")
    tree2 = formatted_plan(out).split("\n\n")[0]
    assert "Sort " not in tree2, tree2


def test_segment_dedup_two_shuffles(spark, sf_dir):
    """Corpus rewrite = ONE window Exchange on the segment text + ONE
    reassembly groupBy on doc_id — no joins, nothing all-pairs."""
    df = Q.segment_dedup(spark, sf_dir)
    assert count_shuffles(df) <= 2
    assert "Join" not in formatted_plan(df)


def test_scd2_single_exchange(spark, sf_dir):
    """Change-detect lag + interval lead/version share one
    partitioning: Catalyst must plan a single Exchange and pipeline
    both WindowExecs on it."""
    df = Q.scd2_customer_priority(spark, sf_dir)
    assert count_shuffles(df) == 1


def test_lm_model_join_broadcasts(spark, sf_dir):
    """The bigram model (vocab^2 rows) must broadcast against the
    exploded corpus — a sort-merge join here would shuffle the whole
    corpus on a low-cardinality key."""
    plan = formatted_plan(Q.lm_bigram_quality(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_anomaly_mad_stats_broadcast(spark, sf_dir):
    """Both per-type stats tables (5 rows) broadcast against the event
    scan; the only shuffles are the two percentile aggregations."""
    plan = formatted_plan(Q.anomaly_mad(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_large_orders_customer_broadcasts(spark, sf_dir):
    """Q18 shape: the HAVING-aggregate set joins lineitem once; the
    customer dim broadcasts; final top-10 is TakeOrdered."""
    df = Q.large_order_customers(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert has_take_ordered(df)


def test_rolling_window_runs_on_daily_grain(spark, sf_dir):
    """The RANGE-frame window must sit above the daily aggregation
    (nations x days rows), never over the raw orders: exactly one
    Exchange for the groupBy and one for the window partitioning."""
    df = Q.rolling_revenue_7d(spark, sf_dir)
    assert count_shuffles(df) <= 2
    plan = formatted_plan(df)
    # dims broadcast; no sort-merge join of the fact table
    assert "SortMergeJoin" not in plan


def test_acctbal_window_single_exchange(spark, sf_dir):
    """ntile + percent_rank + cume_dist share one (partition, order):
    one Exchange, one WindowExec pipeline."""
    assert count_shuffles(Q.acctbal_window_stats(spark, sf_dir)) == 1


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime semi-join reduction: with a selective dim predicate and
    a non-broadcast join, Catalyst must inject a bloom_filter_agg on
    the dim side and a might_contain filter above the fact scan — the
    shape that skips most of a 100 TB fact table's rows before the
    shuffle. Thresholds are tuned for the test's data sizes (at real
    scale the 10 GB application-side default is what gates it)."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = read_table(spark, sf_dir, "lineitem")
        supp = read_table(spark, sf_dir, "supplier").filter(
            F.col("s_nationkey") == 3
        )
        j = li.join(supp, li.l_suppkey == supp.s_suppkey)
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt
        assert "might_contain" in opt
        # the filter must sit on the FACT (lineitem) key
        assert "might_contain" in opt and "l_suppkey" in opt.split("might_contain")[1][:120]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_snapshot_diff_is_single_full_outer_join(spark, sf_dir):
    """Reconciliation must be ONE key join — no cartesian, no
    nested-loop fallback."""
    plan = formatted_plan(Q.snapshot_diff(spark, sf_dir))
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_sample_single_shuffle(spark, sf_dir):
    """E-S sampling = scan + one per-stratum window: exactly one
    Exchange."""
    assert count_shuffles(Q.weighted_sample(spark, sf_dir)) == 1


def test_skew_report_counts_shuffle_key_scale(spark, sf_dir):
    """The diagnostic's data movement is the counting groupBy plus
    keys-scale reductions — and the heavy-key cut is a TakeOrdered,
    never a global sort of the count table."""
    df = Q.lineitem_skew_report(spark, sf_dir)
    assert has_take_ordered(df)
    assert "CartesianProduct" not in formatted_plan(df)


def test_pit_join_is_equi_join_with_residual(spark, sf_dir):
    """The PIT join must hash/sort-merge on the KEY with the interval
    as a residual filter — never a nested loop over the dim."""
    plan = formatted_plan(Q.pit_priority_revenue(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rolling_sketch_is_preagg_then_single_window(spark, sf_dir):
    """The mergeable-HLL rolling distinct must collapse raw events to
    per-(type, day) sketches MAP-SIDE (partial_hll_sketch_agg before
    the group-by exchange), then run ONE window pass — each window
    aggregate evaluated once (the exact collect_list is not
    re-computed per derived expression) — with exactly two shuffles
    (group-by, window partition) and a pruned 3-column scan."""
    from pdf_using_hugging_face_and_vector_database_spark.plans.explain import (
        count_nodes,
        scan_read_schema,
        window_arguments,
    )

    df = Q.rolling_distinct_users_sketch(spark, sf_dir)
    # map-side combine: the pre-exchange aggregate runs the sketch agg
    # in partial mode (the mode prefix is the semantic anchor here)
    assert "partial_hll_sketch_agg" in formatted_plan(df)
    # ONE window pass, and ITS OWN expression list evaluates each
    # aggregate exactly once (no re-computation per derived column)
    import re

    wargs = window_arguments(df)
    assert len(wargs) == 1
    assert wargs[0].count("collect_list") == 1
    assert wargs[0].count("hll_union_agg") == 1
    assert count_shuffles(df) == 2  # group-by + window partition
    # pruned scan: only the three needed event columns are read
    schemas = scan_read_schema(df)
    assert len(schemas) == 1
    cols = re.findall(r"(\w+):", schemas[0])
    assert "ts" in cols and "value" not in cols and len(cols) <= 3


def test_flagship_e1_plan_shape(spark, sf_dir):
    """The E1 chain (flagship_e1, r8): the source predicate must reach
    the documents scan BELOW the chunk posexplode, the whole
    chunk->embed->score pipeline must stay shuffle-free (per-row maps
    only), and the final top-10 must lower to TakeOrderedAndProject —
    zero Exchanges end to end, the plan that survives a 100 TB corpus."""
    df = Q.flagship(spark, sf_dir)
    assert has_pushed_filters(df, "source")
    assert has_take_ordered(df)
    assert count_shuffles(df) == 0, formatted_plan(df)


def test_outer_range_join_is_equijoin_not_nested_loop(spark, sf_dir):
    """r9 left-outer banded range join: Catalyst must extract the
    (user, bucket) equality conjuncts as JOIN KEYS — a LeftOuter
    hash/sort-merge join with the BETWEEN residual evaluated inside —
    never a BroadcastNestedLoopJoin over the raw interval predicate
    (the O(points x intervals) shape banding exists to kill)."""
    plan = formatted_plan(Q.outer_range_join(spark, sf_dir))
    low = plan.lower()
    assert "nestedloop" not in low, plan
    assert "cartesian" not in low, plan
    assert "leftouter" in low.replace(" ", ""), plan
    # the bucket helper participates as an equi-key on both sides
    assert "__rj_bucket" in plan and "__rj_bucket_r" in plan


def test_signature_queries_serve_stores_not_reshingle(spark, sf_dir):
    """r9 store-serving pins: minhash_signatures and neardup_simhash
    must read ONLY their persisted stores — a regression that re-wires
    either back to live shingling shows up as md5/token work and a
    documents scan in the plan (the 2.8 s/side cost the stores
    exist to amortize)."""
    p = formatted_plan(Q.QUERIES["minhash_signatures"](spark, sf_dir))
    assert "md5" not in p.lower() and "explode" not in p.lower(), p
    locs = [ln for ln in p.splitlines() if "Location" in ln]
    assert locs and all("minhash_" in ln for ln in locs), locs

    p = formatted_plan(Q.QUERIES["neardup_simhash"](spark, sf_dir))
    assert "md5" not in p.lower(), p  # banding explodes chunks, not tokens
    locs = [ln for ln in p.splitlines() if "Location" in ln]
    assert locs and all("simhash_" in ln for ln in locs), locs


def test_outer_pit_join_is_equijoin_not_nested_loop(spark, sf_dir):
    """r10 left PIT join: Catalyst must extract the custkey equality
    as the JOIN KEY — a LeftOuter hash/sort-merge join with the
    interval residual evaluated inside — never a nested loop over the
    raw interval predicate (SCD2 disjointness makes the equi-join
    shape correct; the residual is probe-side work only)."""
    plan = formatted_plan(Q.outer_pit_join(spark, sf_dir))
    low = plan.lower()
    assert "nestedloop" not in low, plan
    assert "cartesian" not in low, plan
    assert "leftouter" in low.replace(" ", ""), plan
    assert "o_custkey" in plan


def test_full_outer_range_join_plan_shape(spark, sf_dir):
    """r10 full banded range join: the matched side must stay the
    banded equi-join (no nested loop, no cartesian), and the
    unmatched-interval recovery must be a LeftAnti join against the
    distinct matched ids — visible as exactly one LeftAnti in the
    plan — with the union on top."""
    plan = formatted_plan(Q.full_outer_range_join(spark, sf_dir))
    low = plan.lower()
    assert "nestedloop" not in low, plan
    assert "cartesian" not in low, plan
    assert "leftouter" in low.replace(" ", ""), plan
    assert low.count("leftanti") >= 1, plan
    assert "union" in low, plan
    assert "__rj_bucket" in plan and "__rj_m_purchase_id" in plan


def test_right_outer_range_join_plan_shape(spark, sf_dir):
    """r11 right banded range join: matched side = plain INNER banded
    equi-join (no left-outer residual needed), plus the same
    LeftAnti unmatched-interval recovery and union as the full
    variant — never a nested loop or cartesian."""
    plan = formatted_plan(Q.right_outer_range_join(spark, sf_dir))
    low = plan.lower()
    assert "nestedloop" not in low, plan
    assert "cartesian" not in low, plan
    assert low.count("leftanti") >= 1, plan
    assert "union" in low, plan
    assert "__rj_bucket" in plan and "__rj_m_purchase_id" in plan
    # the matched base is inner, not leftouter (the right variant's
    # cost advantage over full: no null-extension probe on the left)
    assert "leftouter" not in low.replace(" ", ""), plan


def test_l2_normalize_folds_norm_once_per_row(spark, sf_dir):
    """r15 review wave 11: the LIBRARY l2_normalize carried the same
    shape the LSH WATCH root cause exposed — the norm aggregate
    referenced inside the transform lambda appears TWICE in the
    optimized plan (guard condition + divisor) and re-evaluates the
    O(dim) fold per element (measured 2.58 s vs 0.244 s for the
    sf0.1 embeddings table — 10.6x). The fix binds the squared norm
    as the aggregate's finish-lambda VARIABLE (the embedder's shape),
    so the optimized plan carries exactly ONE aggregate and values
    stay bit-identical (measured: zero per-component differences over
    the full embeddings fixture). Fails on the old form (two
    aggregates, both inside the per-element lambda)."""
    from pdf_using_hugging_face_and_vector_database_spark.functions.vector import (
        l2_normalize,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    proj = emb.select(l2_normalize("embedding").alias("nv"))
    optimized = proj._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("aggregate(") == 1, optimized[:2000]


def test_lsh_fitted_features_have_no_interpreted_norm(spark, sf_dir):
    """r15 LSH WATCH root cause: the r14 zero-guard materialized the
    norm as a helper column, but CollapseProject inlines a
    once-referenced alias into the consuming transform lambda — the
    optimized plan carried the O(dim) norm aggregate INSIDE the
    per-element lambda, evaluated twice (CASE condition + ELSE), i.e.
    O(2*dim^2) per row. That single projection was the entire
    q3_ann_lsh / q3_ann_lsh_join bench elevation (~+1.2 s each at
    sf0.1). The normalize now runs through MLlib's Normalizer (one
    JVM pass per row, no SQL lambda); this pin asserts no aggregate
    higher-order function survives anywhere in the fitted-features
    plan. Fails on the r14 code (inlined CASE WHEN ... aggregate(...)
    inside transform) AND on the r13 code (unguarded inline norm,
    same O(dim^2) shape)."""
    from pdf_using_hugging_face_and_vector_database_spark.operators.ann import (
        BrpLshIndex,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    feat = BrpLshIndex._to_vector(emb, "embedding")
    optimized = feat._jdf.queryExecution().optimizedPlan().toString()
    assert "aggregate(" not in optimized, optimized[:2000]
    assert "CASE WHEN" not in optimized, optimized[:2000]
