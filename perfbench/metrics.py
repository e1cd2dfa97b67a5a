"""Metric names, units and the percentile rule.

``END_TO_END`` and ``PER_LAYER`` are the single source of the names
``BENCHMARK.json`` declares (a self-test keeps the two in step). Every
workload prints every end-to-end metric on an untraced run and every
per-layer metric on a traced run; a layer the workload leaves idle
reads 0, which is the "no change predicted" row of the layer table in
``README.md``.
"""

from __future__ import annotations

import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# name -> (unit, better, bound)
END_TO_END: dict[str, tuple[str, str, float]] = {
    "setup_s": ("s", "lower", 0.25),
    "peak_pss_mb": ("MB", "lower", 0.1),
    "work_per_s": ("1/s", "higher", 0.25),
    "op_p50_ms": ("ms", "lower", 0.25),
}

# layer.function -> True when the call runs its own jobs before it
# returns (then call and exec are one phase, reported as exec only)
FUNCTIONS: dict[str, bool] = {
    "sources.parse_pdf_pages": False,
    "chunker.chunk_stride": False,
    "embedder.embed_deterministic": False,
    "upsert.upsert": False,
    "streaming.apply_upsert_batch": True,
    "ann.build_ivf_index": True,
    "ann.append_ivf_index": True,
    "ann.probe_ivf_index": False,
    "search.topk_cosine": False,
    "search.filtered_topk": False,
    "search.fetch_by_ids": False,
    "search.knn_join": False,
    "dedup.exact_dedup": False,
    "dedup.with_minhash": False,
    "dedup.minhash_candidate_pairs": False,
    "dedup.neardup_representatives": True,
    "setjoin.set_similarity_join": False,
    "curation.scrub_pii": False,
    "text_analysis.repetition_stats": False,
    "curation.hash_split": False,
}

# single-query calls report their action per query in ms
PER_QUERY = {
    "ann.probe_ivf_index", "search.topk_cosine", "search.filtered_topk", "search.fetch_by_ids",
}

EXTRAS: dict[str, str] = {
    "session.start_s": "s",
    "sources.parse_pdf_pages.idle_frac": "ratio",
    "embedder.embed_deterministic.idle_frac": "ratio",
    "upsert.upsert.shuffle_mb": "MB",
    "upsert.upsert.rows_replaced": "count",
    "store.bytes_written": "bytes",
    "streaming.apply_upsert_batch.micro_batches": "count",
    "ann.build_ivf_index.shuffle_mb": "MB",
    "ann.append_ivf_index.shuffle_mb": "MB",
    "ann.probe_ivf_index.input_mb": "MB",
    "ann.probe_ivf_index.rows_scanned_per_result": "ratio",
    "ann.probe_ivf_index.recall_at_10": "ratio",
    "search.topk_cosine.input_mb": "MB",
    "search.topk_cosine.rows_scanned_per_result": "ratio",
    "search.filtered_topk.input_mb": "MB",
    "search.filtered_topk.rows_scanned_per_result": "ratio",
    "search.fetch_by_ids.rows_scanned_per_result": "ratio",
    "search.knn_join.shuffle_mb": "MB",
    "search.knn_join.idle_frac": "ratio",
    "dedup.exact_dedup.shuffle_mb": "MB",
    "dedup.with_minhash.idle_frac": "ratio",
    "dedup.minhash_candidate_pairs.shuffle_mb": "MB",
    "dedup.minhash_candidate_pairs.candidate_precision": "ratio",
    "dedup.neardup_representatives.shuffle_mb": "MB",
    "dedup.neardup_representatives.rounds": "count",
    "dedup.neardup_representatives.idle_frac": "ratio",
    "dedup.neardup_representatives.recall": "ratio",
    "setjoin.set_similarity_join.verify_yield": "ratio",
    "trace.overhead_s": "s",
    "trace.uncovered_s": "s",
    "trace.unlabelled_jobs": "count",
    "trace.bus_sync_ok": "bool",
}

# metrics where a larger value is the better one; all others: lower
_HIGHER = ("recall", "precision", "yield", "bus_sync_ok")


def per_layer() -> dict[str, str]:
    """name -> unit for every per-layer metric, in a fixed order."""
    out: dict[str, str] = {}
    for fn, eager in FUNCTIONS.items():
        if not eager:
            out[f"{fn}.call_ms"] = "ms"
        if fn in PER_QUERY:
            out[f"{fn}.exec_ms"] = "ms"
        else:
            out[f"{fn}.exec_s"] = "s"
        out[f"{fn}.jobs"] = "count"
        out[f"{fn}.tasks"] = "count"
        out[f"{fn}.cpu_s"] = "s"
    out.update(EXTRAS)
    return out


def better(name: str) -> str:
    return "higher" if any(h in name for h in _HIGHER) else "lower"


def tail_percentile(n: int, ladder=(99.9, 99, 95, 90, 75, 50)) -> float | None:
    """Highest percentile of the ladder with at least ten of ``n``
    samples beyond it (None when even the median has fewer)."""
    for p in ladder:
        if n * (100.0 - p) / 100.0 >= 10.0 - 1e-9:
            return p
    return None


def percentile(xs, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def benchmark_spec(command, paths, run_seconds, workloads) -> dict:
    """The BENCHMARK.json document these declarations describe."""
    return {
        "command": command,
        "paths": paths,
        "run_seconds": run_seconds,
        "workloads": [{"name": n, "why": w} for n, w in workloads.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bd} for n, (u, b, bd) in END_TO_END.items()
        ],
        "per_layer": [{"name": n, "unit": u, "better": better(n)} for n, u in per_layer().items()],
    }
