"""Self-tests of the benchmark (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from perfbench import checks, gen, metrics

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ---------------------------------------------------------------- generator


def test_generators_are_deterministic_per_seed():
    a, b = gen.ingest_plan(3), gen.ingest_plan(3)
    assert a.rounds == b.rounds and a.append == b.append
    assert gen.curate_corpus(3).docs == gen.curate_corpus(3).docs
    va, vb = gen.clustered_vectors(3, n=300), gen.clustered_vectors(3, n=300)
    assert np.array_equal(va.vecs, vb.vecs) and np.array_equal(va.label, vb.label)
    assert np.array_equal(gen.query_vectors(3, va, 20), gen.query_vectors(3, vb, 20))


def test_generators_differ_across_seeds_but_keep_their_size():
    a, b = gen.ingest_plan(1), gen.ingest_plan(2)
    assert a.rounds != b.rounds
    assert [len(r) for r in a.rounds] == [len(r) for r in b.rounds]
    ca, cb = gen.curate_corpus(1), gen.curate_corpus(2)
    assert ca.docs != cb.docs and len(ca.docs) == len(cb.docs)
    va, vb = gen.clustered_vectors(1, n=300), gen.clustered_vectors(2, n=300)
    assert not np.array_equal(va.vecs, vb.vecs) and va.vecs.shape == vb.vecs.shape


def test_pdf_round_trip_keeps_page_text():
    """The expected store is computed from the generator's page text,
    so the PDF writer/parser pair must return it unchanged."""
    from pdf_using_hugging_face_and_vector_database_spark.sources.pdf_text import (
        extract_pdf_pages_text, make_pdf,
    )

    _doc, _v, pages = gen.ingest_plan(5).rounds[1][-1]
    assert extract_pdf_pages_text(make_pdf(pages, compress=True)) == pages


def test_stride_chunks_match_the_engine_formula():
    text = "x" * 4100
    chunks = gen.stride_chunks(text)
    assert [len(c) for c in chunks] == [2000, 2000, 300]
    assert gen.stride_chunks("") == [""]


def test_expected_store_keeps_highest_version_and_stale_ids():
    plan = gen.IngestPlan(
        rounds=[[(1, 1, ["a" * 2500])], [(1, 2, ["b"])]], append=[]
    )
    exp = plan.expected_store(with_append=False)
    assert exp["1-0-0"] == (2, gen.md5_hex("b"))
    assert exp["1-0-1"] == (1, gen.md5_hex("a" * 600))  # stale chunk id survives


def test_topk_truth_breaks_ties_by_id():
    vs = gen.VectorSet(
        ids=np.arange(4, dtype="int64"),
        vecs=np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 0.0], [0.6, 0.8]]),
        label=np.zeros(4, dtype="int32"),
        source=np.array(["web"] * 4),
    )
    assert gen.topk_truth(vs, np.array([1.0, 0.0]), 3) == [0, 2, 3]


# ---------------------------------------------------------------- checks


def test_dropped_row_is_a_failure():
    plan = gen.ingest_plan(4)
    exp = plan.expected_store(with_append=False)
    rows = [(k, v, h) for k, (v, h) in sorted(exp.items())]
    assert checks.check_store(rows, exp, "s") == []
    assert checks.check_store(rows[1:], exp, "s") != []
    assert checks.check_index([(k, 1) for k in exp], set(exp), 16) == []
    assert checks.check_index([(k, 1) for k in list(exp)[1:]], set(exp), 16) != []
    assert checks.check_ids([1, 2, 3], [1, 2, 3], "t") == []
    assert checks.check_ids([1, 2], [1, 2, 3], "t") != []
    assert checks.check_knn([(0, 5, 1), (0, 6, 2)], {0: [5, 6]}) == []
    assert checks.check_knn([(0, 5, 1)], {0: [5, 6]}) != []


def test_curate_checks_catch_planted_faults():
    c = gen.curate_corpus(2, n_base=120, n_exact=10, n_groups=8, n_pii=10, n_low=5)
    by_text: dict[str, list[int]] = {}
    for d, t in c.docs:
        by_text.setdefault(t, []).append(d)
    good = [(min(ids), len(ids)) for ids in by_text.values()]
    assert checks.check_exact_dedup(good, c) == []
    assert checks.check_exact_dedup(good[1:], c) != []
    copy = next(iter(c.exact_copies))
    assert checks.check_exact_dedup(good + [(copy, 1)], c) != []
    rep = {d: d for d, _t in c.docs}
    for g in c.near_groups:
        for d in g:
            rep[d] = g[0]
    assert checks.neardup_recall(rep, c) == 1.0
    rep[c.near_groups[0][1]] = -1
    assert checks.neardup_recall(rep, c) < 1.0
    quality = [(d, d not in c.low_quality) for d, _t in c.docs]
    assert checks.check_quality(quality, c) == []
    assert checks.check_quality([(d, True) for d, _t in c.docs], c) != []


# ---------------------------------------------------------------- metrics


def test_metric_names_and_counts():
    layer = metrics.per_layer()
    for name in list(metrics.END_TO_END) + list(layer):
        assert metrics.NAME_RE.match(name), name
    assert 1 <= len(metrics.END_TO_END) <= 16
    assert 1 <= len(layer) <= 128
    assert not set(layer) & set(metrics.END_TO_END)
    assert "setup_s" in metrics.END_TO_END
    assert all(b <= 0.25 for _u, _b, b in metrics.END_TO_END.values())
    assert metrics.END_TO_END["setup_s"][2] == max(b for _u, _w, b in metrics.END_TO_END.values())


def test_benchmark_json_matches_the_declarations():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from perfbench.workloads import WORKLOADS

    want = metrics.benchmark_spec(
        spec["command"], spec["paths"], spec["run_seconds"],
        {n: w.why for n, w in WORKLOADS.items()},
    )
    assert spec == want


@pytest.mark.parametrize(
    "n, want", [(5, None), (19, None), (20, 50), (39, 50), (40, 75), (100, 90), (199, 90), (200, 95), (1000, 99)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert metrics.tail_percentile(n) == want
    if want is not None:
        assert n * (100 - want) / 100 >= 10


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0]
    for p in (0, 10, 50, 90, 100):
        assert metrics.percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))
