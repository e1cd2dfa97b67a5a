"""The four workloads. Each one sets up its inputs from the seed, runs
identical passes of work against the engine's public operators, and
checks the outputs of its last pass against the generator's truth.

A pass starts from wiped, benchmark-owned state (store, index,
checkpoint); nothing is served from an earlier pass or from the
repository's persisted stores. ``traced`` passes follow each lazy call
with its own action (see ``trace.Span``) so per-layer times are self
times; untraced passes run the calls the way a user composes them.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pdf_using_hugging_face_and_vector_database_spark.operators import (
    ann, chunker, curation, dedup, embedder, search, setjoin, text_analysis, upsert,
)
from pdf_using_hugging_face_and_vector_database_spark.sources import binaryfile, pdf
from pdf_using_hugging_face_and_vector_database_spark.streaming import upsert_sink

from . import checks, gen

EMBED_DIM = gen.EMBED_DIM
# Search runs narrower than the reference's 384: the engine builds a
# query literal with one py4j call per dimension, and at 384-d that
# doubled the run-to-run spread of the search metrics on a shared host,
# past their bounds (measurements in README.md). Both widths move
# together; call_ms shows the plan-building cost at either.
SEARCH_DIM = 64
N_CELLS = 16
NPROBE = 6
TOPK = 10
ANN_RECALL_FLOOR = 0.8  # below this the index is broken, not merely approximate
NEARDUP_RECALL_FLOOR = 0.9


@dataclass
class Pass:
    wall_s: float
    work: int  # work units completed (chunks, queries or docs)
    ops_ms: list[float]  # latency of each operation in the pass


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)  # workload-specific figures
    extras: dict = field(default_factory=dict)  # per-layer extras

    def item(self, errs: list[str]) -> None:
        """One checked output: counts as attempted, and failed on error."""
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.extend(errs)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


def wipe(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Workload:
    name = ""
    why = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = None  # the tracer of the current pass, set by the runner
        self.out = ctx.outcome

    def path(self, *parts: str) -> str:
        return os.path.join(self.ctx.run_dir, *parts)

    def materialise(self, df, name: str):
        """The traced run's per-call action: write, then read back, so
        the next call starts from this call's stored output."""
        p = self.path("stage", name)
        df.write.mode("overwrite").parquet(p)
        return self.spark.read.parquet(p)

    def setup(self, i: int) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        """Before timing. The batch workloads do nothing here: each run
        is a fresh application, as a batch job run is, and pays its
        first pass's code generation, JIT and Python worker start. (A
        warm-up pass would cost as much as the timed one: at this scale
        a pass is per-job overhead, not data.)"""

    def run_pass(self, traced: bool) -> Pass:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError


# ------------------------------------------------------------------ ingest


def _doc_key_col():
    """doc_id * VERSION_BASE + version, read from the landed file name."""
    m = F.regexp_extract(F.col("path"), r"d(\d+)_v(\d+)\.pdf$", 1).cast("long")
    v = F.regexp_extract(F.col("path"), r"d(\d+)_v(\d+)\.pdf$", 2).cast("long")
    return m * F.lit(gen.VERSION_BASE) + v


def _pages_cols(pages):
    # the parser names its key column doc_id whatever the input called it
    key = F.col("doc_id")
    return pages.select(
        (key / F.lit(gen.VERSION_BASE)).cast("long").alias("doc_id"),
        (key % F.lit(gen.VERSION_BASE)).alias("ingest_version"),
        "page_no",
        "page_text",
    )


def _chunk(pages):
    return chunker.chunk_stride(
        pages,
        text_col="page_text",
        chunk_size=gen.CHUNK_SIZE,
        chunk_overlap=gen.CHUNK_OVERLAP,
        keep_cols=("doc_id", "ingest_version", "page_no"),
    )


def _with_id(chunks):
    return chunks.withColumn(
        "id", F.concat_ws("-", F.col("doc_id"), F.col("page_no"), F.col("chunk_index"))
    )


def _store_rows(df) -> list[tuple[str, int, str]]:
    return [
        (r[0], int(r[1]), r[2])
        for r in df.select("id", "ingest_version", F.md5("chunk_text")).collect()
    ]


MAX_FILES_PER_TRIGGER = 5


@dataclass
class IngestInputs:
    plan: gen.IngestPlan
    root: str
    # (chunks in the round, store rows after it) per round, from the plan
    round_counts: list[tuple[int, int]]

    @classmethod
    def write(cls, plan: gen.IngestPlan, root: str) -> "IngestInputs":
        for r, batch in enumerate(plan.rounds):
            gen.write_pdfs(batch, os.path.join(root, f"round{r}"))
        gen.write_pdfs(plan.append, os.path.join(root, "append"))
        counts = [
            (plan.chunk_count(batch), len(gen.IngestPlan(plan.rounds[: r + 1], []).expected_store(False)))
            for r, batch in enumerate(plan.rounds)
        ]
        return cls(plan, root, counts)


class Ingest(Workload):
    name = "ingest"
    why = (
        "the reference's write path: PDF rounds parsed, chunked, embedded and upserted in batch,"
        " the last round streamed in as files, then an IVF build and append"
    )

    def setup(self, i: int) -> None:
        """Write the PDFs, then have the engine's reader list the batch
        rounds' files (the streamed round is found by its stream)."""
        root = wipe(self.path("inputs", f"setup{i}"))
        self.data = IngestInputs.write(gen.ingest_plan(self.ctx.seed), root)
        batch = [f"round{r}" for r in range(len(self.data.round_counts) - 1)] + ["append"]
        self.batch_inputs = {name: self._read_round(name) for name in batch}

    def _embedded(self, keyed, traced: bool, tag: str):
        """parse -> chunk -> embed over (doc_key, content) rows."""
        with self.tr.span("sources.parse_pdf_pages") as sp:
            pages = pdf.parse_pdf_pages(keyed, doc_id_col="doc_key")
            sp.called()
            pages = _pages_cols(pages)
            if traced:
                pages = self.materialise(pages, f"pages_{tag}")
        with self.tr.span("chunker.chunk_stride") as sp:
            chunks = _chunk(pages)
            sp.called()
            if traced:
                chunks = self.materialise(chunks, f"chunks_{tag}")
        with self.tr.span("embedder.embed_deterministic") as sp:
            emb = embedder.embed_deterministic(_with_id(chunks), text_col="chunk_text", dim=EMBED_DIM)
            sp.called()
            if traced:
                emb = self.materialise(emb, f"emb_{tag}")
        return emb

    def _read_round(self, name: str):
        return binaryfile.read_pdf_dir(self.spark, os.path.join(self.data.root, name)).withColumn(
            "doc_key", _doc_key_col()
        )

    def _stream_round(self, name: str, store: str, state: str, ops: list[float]) -> int:
        """The round's files drained by a binaryFile stream, one
        foreachBatch last-writer-wins merge into the store per
        micro-batch. Streaming plans cannot be materialised per call, so
        parse/chunk/embed report their call time only and their work is
        inside each micro-batch."""
        from pdf_using_hugging_face_and_vector_database_spark.schemas import BINARY_DOCUMENTS

        raw = (
            self.spark.readStream.format("binaryFile")
            .schema(BINARY_DOCUMENTS)
            .option("pathGlobFilter", "*.pdf")
            .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
            .load(os.path.join(self.data.root, name))
            .withColumn("doc_key", _doc_key_col())
        )
        emb = self._embedded(raw, traced=False, tag=name)
        batches = 0

        def sink(batch_df, _batch_id):
            nonlocal batches
            t = time.perf_counter()
            with self.tr.span("streaming.apply_upsert_batch"):
                upsert_sink.apply_upsert_batch(self.spark, store, batch_df)
            ops.append((time.perf_counter() - t) * 1e3)
            batches += 1

        q = (
            emb.writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(state, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        self.ctx.aliases[str(q.runId)] = self.tr.group("streaming.query")
        q.awaitTermination()
        return batches

    def run_pass(self, traced: bool) -> Pass:
        state = wipe(self.path("state"))
        ops, written, replaced = [], 0, 0
        t0 = time.perf_counter()
        store = os.path.join(state, "store")
        counts = self.data.round_counts
        n_rounds = len(counts)
        for r in range(n_rounds - 1):
            emb = self._embedded(self.batch_inputs[f"round{r}"], traced, f"r{r}")
            existing = self.spark.read.parquet(store) if r else emb.limit(0)
            nxt = os.path.join(state, f"store_next{r}")
            with self.tr.span("upsert.upsert") as sp:
                merged = upsert.upsert(existing, emb)
                sp.called()
                merged.write.parquet(nxt)
            shutil.rmtree(store, ignore_errors=True)
            os.rename(nxt, store)
            written += dir_bytes(store)
            prev = counts[r - 1][1] if r else 0
            replaced += prev + counts[r][0] - counts[r][1]
        micro_batches = self._stream_round(f"round{n_rounds - 1}", store, state, ops)
        written += dir_bytes(store)
        index = os.path.join(state, "index")
        t_index = time.perf_counter()
        with self.tr.span("ann.build_ivf_index"):
            # one Lloyd iteration: at 384-d each iteration is a 384-column
            # aggregate that costs seconds of planning, and the run budget
            # is tight; search builds its index with the default two
            ann.build_ivf_index(
                self.spark.read.parquet(store), index, n_cells=N_CELLS, iters=1,
                dim=EMBED_DIM, vec_col="embedding",
            )
        emb = self._embedded(self.batch_inputs["append"], traced, "append")
        with self.tr.span("ann.append_ivf_index"):
            n_app = ann.append_ivf_index(self.spark, index, emb, tag="append")
        t1 = time.perf_counter()
        self.store, self.index = store, index
        n_store = counts[-1][1]
        d, x = self.out.detail, self.out.extras
        d.setdefault("index_build_s", []).append(t1 - t_index)
        d.setdefault("store_bytes_per_chunk", []).append(dir_bytes(store) / n_store)
        x.setdefault("store.bytes_written", []).append(written)
        x.setdefault("upsert.upsert.rows_replaced", []).append(replaced / (n_rounds - 1))
        x.setdefault("streaming.apply_upsert_batch.micro_batches", []).append(micro_batches)
        work = sum(c for c, _n in counts) + n_app
        return Pass(t1 - t0, work, ops)

    def check(self) -> None:
        # the streamed round is held to the same expected store as the
        # batch rounds: stream and batch must leave identical rows
        plan = self.data.plan
        expected = plan.expected_store(with_append=False)
        store = self.spark.read.parquet(self.store)
        self.out.item(checks.check_store(_store_rows(store), expected, "ingest store"))
        # the stored vectors are the engine's embedding of the stored text
        from pdf_using_hugging_face_and_vector_database_spark.functions.hashing import det_embed_py

        errs = []
        for row in store.orderBy("id").limit(3).collect():
            want = det_embed_py(row["chunk_text"], EMBED_DIM)
            if len(row["embedding"]) != EMBED_DIM or max(
                abs(a - b) for a, b in zip(row["embedding"], want)
            ) > 1e-12:
                errs.append(f"ingest: embedding of {row['id']} differs from the text's")
        self.out.item(errs)
        app = gen.IngestPlan([plan.append], []).expected_store(False)
        idx = self.spark.read.parquet(os.path.join(self.index, "assigned"))
        rows = [(r[0], int(r[1])) for r in idx.select("id", "cell").collect()]
        self.out.item(checks.check_index(rows, set(expected) | set(app), N_CELLS))


# ------------------------------------------------------------------ search

_CYCLE = ["topk"] * 3 + ["filtered"] * 2 + ["ann"] * 3 + ["fetch"] * 2
KNN_BATCH = 8
RECALL_PROBES = 6  # the probes of the warm-up cycle and the first timed one
FETCH_IDS = 5


class Search(Workload):
    name = "search"
    why = "the read surface of the reference's cosine index: exact, filtered, IVF and point queries in a closed loop, plus kNN batches"

    def setup(self, i: int) -> None:
        vs = gen.clustered_vectors(self.ctx.seed, dim=SEARCH_DIM)
        root = wipe(self.path("inputs", f"setup{i}"))
        store_dir = wipe(os.path.join(root, "store"))
        table = pa.table({
            "vec_id": vs.ids,
            "label": vs.label,
            "source": vs.source,
            "embedding": pa.array(list(vs.vecs), type=pa.list_(pa.float64())),
        })
        pq.write_table(table, os.path.join(store_dir, "part-0.parquet"))
        self.vs, self.store_dir = vs, store_dir
        self.store = self.spark.read.parquet(store_dir)
        self.queries = gen.query_vectors(self.ctx.seed, vs, 4096)
        self.rng = random.Random(self.ctx.seed)
        self.next_q = 0
        self.results: list[tuple] = []
        self.op_ms: dict[str, list[float]] = {k: [] for k in ("topk", "filtered", "ann", "fetch")}
        self.knn_qps: list[float] = []

    def _q(self) -> tuple[int, np.ndarray]:
        i = self.next_q % len(self.queries)
        self.next_q += 1
        return i, self.queries[i]

    def _single(self, kind: str) -> None:
        qi, q = self._q()
        t0 = time.perf_counter()
        if kind == "topk":
            with self.tr.span("search.topk_cosine") as sp:
                df = search.topk_cosine(self.store, q.tolist(), k=TOPK)
                sp.called()
                rows = df.select("vec_id", "score").collect()
                sp.rows = len(rows)
            self.results.append(("topk", qi, None, [r[0] for r in rows]))
        elif kind == "filtered":
            label = self.rng.randrange(8)
            src = gen.SOURCES[self.rng.randrange(len(gen.SOURCES))]
            with self.tr.span("search.filtered_topk") as sp:
                df = search.filtered_topk(
                    self.store, q.tolist(), (F.col("label") == label) & (F.col("source") == src), k=TOPK
                )
                sp.called()
                rows = df.select("vec_id", "score").collect()
                sp.rows = len(rows)
            self.results.append(("filtered", qi, (label, src), [r[0] for r in rows]))
        elif kind == "ann":
            with self.tr.span("ann.probe_ivf_index") as sp:
                df = ann.probe_ivf_index(self.spark, self.index, q.tolist(), k=TOPK, nprobe=NPROBE)
                sp.called()
                rows = df.select("vec_id", "score").collect()
                sp.rows = len(rows)
            self.results.append(("ann", qi, None, [(r[0], r[1]) for r in rows]))
        else:
            ids = self.rng.sample(range(len(self.vs.ids)), FETCH_IDS)
            with self.tr.span("search.fetch_by_ids") as sp:
                df = search.fetch_by_ids(self.store, ids)
                sp.called()
                rows = df.select("vec_id").collect()
                sp.rows = len(rows)
            self.results.append(("fetch", qi, ids, [r[0] for r in rows]))
        self.op_ms[kind].append((time.perf_counter() - t0) * 1e3)

    def _knn(self) -> None:
        import pandas as pd

        picked = [self._q() for _ in range(KNN_BATCH)]
        qdf = self.spark.createDataFrame(
            pd.DataFrame(
                {"query_id": [qi for qi, _ in picked], "query_embedding": [q for _, q in picked]}
            )
        )
        t0 = time.perf_counter()
        with self.tr.span("search.knn_join") as sp:
            df = search.knn_join(qdf, self.store, k=TOPK)
            sp.called()
            rows = df.select("query_id", "vec_id", "rank").collect()
        self.knn_qps.append(KNN_BATCH / (time.perf_counter() - t0))
        self.results.append(("knn", None, [qi for qi, _ in picked], [tuple(r) for r in rows]))

    def warm_up(self) -> None:
        """Build the IVF index once (its build is measured on ``ingest``,
        with the same single Lloyd iteration), then, since a serving
        loop is timed warm, run one cycle."""
        t0 = time.perf_counter()
        self.index = self.path("index")
        ann.build_ivf_index(
            self.store, self.index, n_cells=N_CELLS, iters=1,
            dim=self.vs.vecs.shape[1], vec_col="embedding",
        )
        self.out.detail["index_build_s"] = time.perf_counter() - t0
        self.run_pass(traced=False)
        self.op_ms = {k: [] for k in self.op_ms}
        self.knn_qps = []

    def run_pass(self, traced: bool) -> Pass:
        """One closed-loop cycle: one client, no think time, the single
        queries in a seeded order, then one kNN batch."""
        cycle = list(_CYCLE)
        self.rng.shuffle(cycle)
        t0 = time.perf_counter()
        ops = []
        for kind in cycle:
            n = len(self.op_ms[kind])
            self._single(kind)
            ops.append(self.op_ms[kind][n])
        self._knn()
        return Pass(time.perf_counter() - t0, len(cycle) + KNN_BATCH, ops)

    def check(self) -> None:
        vs = self.vs
        norms = np.linalg.norm(vs.vecs, axis=1)
        recall = []
        for kind, qi, arg, got in self.results:
            q = self.queries[qi] if qi is not None else None
            if kind == "topk":
                self.out.item(checks.check_ids(got, gen.topk_truth(vs, q, TOPK), "topk_cosine"))
            elif kind == "filtered":
                mask = (vs.label == arg[0]) & (vs.source == arg[1])
                self.out.item(checks.check_ids(got, gen.topk_truth(vs, q, TOPK, mask), "filtered_topk"))
            elif kind == "ann":
                qn = np.linalg.norm(q)

                def exact(i, q=q, qn=qn):
                    return float(vs.vecs[i] @ q / (norms[i] * qn))

                self.out.item(checks.check_ann(got, exact, TOPK))
                if len(recall) < RECALL_PROBES:  # the seeded sequence's first probes
                    truth = set(gen.topk_truth(vs, q, TOPK))
                    recall.append(len(truth & {i for i, _ in got}) / TOPK)
            elif kind == "fetch":
                self.out.item(checks.check_fetch(got, arg))
            else:
                truth = {qi_: gen.topk_truth(vs, self.queries[qi_], TOPK) for qi_ in arg}
                self.out.item(checks.check_knn(got, truth))
        r = sum(recall) / len(recall) if recall else 0.0
        self.out.item(
            [] if r >= ANN_RECALL_FLOOR else [f"ann_recall_at_10 {r:.3f} below {ANN_RECALL_FLOOR}"]
        )
        self.out.extras["ann.probe_ivf_index.recall_at_10"] = r
        d = self.out.detail
        d["ann_recall_at_10"] = r
        d["knn_queries_per_s"] = float(np.median(self.knn_qps)) if self.knn_qps else 0.0
        for kind, key in (("topk", "topk_p50_ms"), ("filtered", "filtered_p50_ms"), ("ann", "ann_p50_ms")):
            d[key] = float(np.median(self.op_ms[kind])) if self.op_ms[kind] else 0.0


# ------------------------------------------------------------------ curate


class Curate(Workload):
    name = "curate"
    why = "the LLM-data curation chain: exact and MinHash near-dup removal with the CC fixpoint, set-join verify, PII scrub, quality gate, split"

    def setup(self, i: int) -> None:
        self.corpus = gen.curate_corpus(self.ctx.seed)
        self.docs_dir = wipe(self.path("inputs", f"setup{i}"))
        ids, texts = zip(*self.corpus.docs)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, type=pa.int64()), "text": list(texts)}),
            os.path.join(self.docs_dir, "part-0.parquet"),
        )
        self.docs = self.spark.read.parquet(self.docs_dir)

    def run_pass(self, traced: bool) -> Pass:
        """Untraced, the calls compose lazily and the pass writes the
        job's outputs: the exact-duplicate groups, the near-duplicate
        candidate pairs, verified pairs and groups, and the curated
        split. Traced, every call's output is also stored. An operation
        is one action the pass waits on: an output write or the eager
        CC fixpoint."""
        from pdf_using_hugging_face_and_vector_database_spark.caching import release_caches

        release_caches()
        self.spark.catalog.clearCache()
        ops: list[float] = []

        def settle(df, name: str, output: bool = False):
            if not (traced or output):
                return df
            t = time.perf_counter()
            df = self.materialise(df, name)
            ops.append((time.perf_counter() - t) * 1e3)
            return df

        t0 = time.perf_counter()
        docs = self.docs
        with self.tr.span("dedup.exact_dedup") as sp:
            ex = dedup.exact_dedup(docs)
            sp.called()
            ex = settle(ex, "exact", output=True)
        survivors = docs.join(ex.select(F.col("kept_doc_id").alias("doc_id")), "doc_id", "left_semi")
        with self.tr.span("dedup.with_minhash") as sp:
            sigs = dedup.with_minhash(survivors)
            sp.called()
            sigs = settle(sigs.select("doc_id", "minhash"), "sigs")
        with self.tr.span("dedup.minhash_candidate_pairs") as sp:
            cand = dedup.minhash_candidate_pairs(sigs)
            sp.called()
            cand = settle(cand, "cand", output=True)
        with self.tr.span("dedup.neardup_representatives"):
            t = time.perf_counter()
            labels = dedup.neardup_representatives(sigs)
            ops.append((time.perf_counter() - t) * 1e3)
            labels = settle(labels, "labels", output=True)
        with self.tr.span("setjoin.set_similarity_join") as sp:
            pairs = setjoin.set_similarity_join(setjoin.word_gram_sets(survivors, 3), 0.5)
            sp.called()
            pairs = settle(pairs, "pairs", output=True)
        keep = survivors.join(
            labels.filter(F.col("doc_id") == F.col("group_rep")).select("doc_id"), "doc_id", "left_semi"
        )
        with self.tr.span("curation.scrub_pii") as sp:
            scrubbed = curation.scrub_pii(keep)
            sp.called()
            scrubbed = settle(scrubbed, "scrubbed")
        with self.tr.span("text_analysis.repetition_stats") as sp:
            rep = text_analysis.repetition_stats(scrubbed, text_col="clean_text")
            sp.called()
            rep = settle(rep, "rep")
        with self.tr.span("curation.hash_split") as sp:
            split = curation.hash_split(rep.filter("passes_repetition"))
            sp.called()
            split = settle(split, "split", output=True)
        wall = time.perf_counter() - t0
        self.traced = traced
        self.stages = dict(
            ex=ex, cand=cand, labels=labels, pairs=pairs, scrubbed=scrubbed, rep=rep, split=split,
            survivors=survivors,
        )
        return Pass(wall, len(self.corpus.docs), ops)

    def check(self) -> None:
        c, st = self.corpus, self.stages
        self.out.item(checks.check_exact_dedup(
            [(r[0], r[1]) for r in st["ex"].select("kept_doc_id", "dup_count").collect()], c
        ))
        rep_of = {r[0]: r[1] for r in st["labels"].collect()}
        recall = checks.neardup_recall(rep_of, c)
        self.out.item([] if recall >= NEARDUP_RECALL_FLOOR else [
            f"neardup_recall {recall:.3f} below {NEARDUP_RECALL_FLOOR}"
        ])
        cands = [(r[0], r[1]) for r in st["cand"].select("id_a", "id_b").collect()]
        scrub = [tuple(r) for r in st["scrubbed"].select("doc_id", "n_emails", "n_phones", "clean_text").collect()]
        self.out.item(checks.check_scrub(scrub, c))
        rep = [(r[0], bool(r[1])) for r in st["rep"].select("doc_id", "passes_repetition").collect()]
        self.out.item(checks.check_quality(rep, c))
        passing = {d for d, ok in rep if ok}
        self.out.item(checks.check_split(
            [(r[0], r[1]) for r in st["split"].select("doc_id", "split").collect()], passing
        ))
        # planted pairs the exact set join must verify (word 3-gram Jaccard >= 0.5)
        found = {(r[0], r[1]) for r in st["pairs"].select("id_a", "id_b").collect()}
        missed = [p for p in c.planted_pairs() if p not in found]
        self.out.item([f"set_similarity_join: {len(missed)} planted pairs not verified"] if missed else [])
        x = self.out.extras
        x["dedup.neardup_representatives.recall"] = recall
        x["dedup.minhash_candidate_pairs.candidate_precision"] = checks.candidate_precision(cands, c)
        if self.traced:
            # outside the timed passes: the candidates the length and
            # prefix filters leave for the join to verify
            n_verify = setjoin.prefix_filtered_pairs(
                setjoin.word_gram_sets(st["survivors"], 3), 0.5
            ).count()
            x["setjoin.set_similarity_join.verify_yield"] = len(found) / n_verify if n_verify else 0.0
        self.out.detail["neardup_recall"] = recall


WORKLOADS = {w.name: w for w in (Ingest, Search, Curate)}
