"""Output checks: plain functions from engine results (as Python rows)
and generator truth to a list of error strings (empty = correct).

Every failed check counts as one failed item against the attempted
items of the run; a run with any failure prints ``"correct": false``.
"""

from __future__ import annotations

from .gen import CurateCorpus


def check_ids(got: list[int], truth: list[int], what: str) -> list[str]:
    """Ordered id lists must match exactly ((score desc, id asc) ties)."""
    if list(got) != list(truth):
        return [f"{what}: got {list(got)[:12]} want {list(truth)[:12]}"]
    return []


def check_fetch(got: list[int], asked: list[int]) -> list[str]:
    if sorted(got) != sorted(asked):
        return [f"fetch_by_ids: got {sorted(got)} want {sorted(asked)}"]
    return []


def check_ann(got: list[tuple[int, float]], exact_score, k: int) -> list[str]:
    """An IVF probe may miss true neighbours (that is recall, measured
    separately) but must return k distinct rows in (score desc, id asc)
    order whose scores are the true cosines of those ids."""
    errs = []
    if len(got) != k or len({i for i, _ in got}) != k:
        errs.append(f"probe_ivf_index: {len(got)} rows, want {k} distinct")
    for i, s in got:
        if abs(s - exact_score(i)) > 1e-9:
            errs.append(f"probe_ivf_index: id {i} score {s} != {exact_score(i)}")
            break
    if [(-s, i) for i, s in got] != sorted((-s, i) for i, s in got):
        errs.append("probe_ivf_index: rows not in (score desc, id asc) order")
    return errs


def check_knn(rows: list[tuple[int, int, int]], truth: dict[int, list[int]]) -> list[str]:
    """rows: (query_id, vec_id, rank); each query's ids in rank order
    must equal its exact top-k."""
    got: dict[int, list[tuple[int, int]]] = {}
    for q, v, r in rows:
        got.setdefault(q, []).append((r, v))
    errs = []
    for q, want in truth.items():
        ids = [v for _r, v in sorted(got.get(q, []))]
        errs += check_ids(ids, want, f"knn_join query {q}")
    extra = set(got) - set(truth)
    if extra:
        errs.append(f"knn_join: unexpected query ids {sorted(extra)[:5]}")
    return errs


def check_store(rows: list[tuple[str, int, str]], expected: dict[str, tuple[int, str]], what: str) -> list[str]:
    """rows: (id, ingest_version, md5(chunk_text)). One row per chunk id,
    each at its highest version with that version's text."""
    errs = []
    ids = [r[0] for r in rows]
    if len(ids) != len(set(ids)):
        errs.append(f"{what}: {len(ids) - len(set(ids))} duplicate ids")
    got = {r[0]: (r[1], r[2]) for r in rows}
    missing = set(expected) - set(got)
    extra = set(got) - set(expected)
    if missing:
        errs.append(f"{what}: {len(missing)} chunk ids missing, e.g. {sorted(missing)[:3]}")
    if extra:
        errs.append(f"{what}: {len(extra)} unexpected chunk ids, e.g. {sorted(extra)[:3]}")
    wrong = [k for k in set(got) & set(expected) if got[k] != expected[k]]
    if wrong:
        k = sorted(wrong)[0]
        errs.append(f"{what}: {len(wrong)} rows at wrong version/text, e.g. {k}: {got[k]} want {expected[k]}")
    return errs


def check_index(rows: list[tuple[str, int]], expected_ids: set[str], n_cells: int) -> list[str]:
    """rows: (id, cell). Every expected vector assigned exactly once."""
    errs = []
    ids = [r[0] for r in rows]
    if len(ids) != len(set(ids)):
        errs.append(f"ivf index: {len(ids) - len(set(ids))} ids assigned more than once")
    if set(ids) != expected_ids:
        errs.append(
            f"ivf index: {len(expected_ids - set(ids))} ids unassigned, "
            f"{len(set(ids) - expected_ids)} unknown"
        )
    bad = [c for _i, c in rows if not 1 <= c <= n_cells]
    if bad:
        errs.append(f"ivf index: {len(bad)} rows with cell outside 1..{n_cells}")
    return errs


def check_exact_dedup(rows: list[tuple[int, int]], corpus: CurateCorpus) -> list[str]:
    """rows: (kept_doc_id, dup_count). One survivor, the minimum id, per
    distinct text, so every planted exact copy is gone."""
    by_text: dict[str, list[int]] = {}
    for doc_id, text in corpus.docs:
        by_text.setdefault(text, []).append(doc_id)
    want = {min(ids): len(ids) for ids in by_text.values()}
    got = dict(rows)
    if len(rows) != len(got) or got != want:
        kept = sorted(set(got) & set(corpus.exact_copies) - set(want))
        return [f"exact_dedup: {len(got)} survivors, want {len(want)}; planted copies kept: {kept[:5]}"]
    return []


def neardup_recall(group_rep: dict[int, int], corpus: CurateCorpus) -> float:
    """Planted near-duplicate pairs that ended in one group, over all
    planted pairs."""
    pairs = corpus.planted_pairs()
    if not pairs:
        return 1.0
    hit = sum(1 for a, b in pairs if a in group_rep and group_rep.get(a) == group_rep.get(b))
    return hit / len(pairs)


def candidate_precision(cands: list[tuple[int, int]], corpus: CurateCorpus) -> float:
    truth = corpus.planted_pairs()
    if not cands:
        return 0.0
    return sum(1 for a, b in cands if (min(a, b), max(a, b)) in truth) / len(cands)


def check_scrub(rows: list[tuple[int, int, int, str]], corpus: CurateCorpus) -> list[str]:
    """rows: (doc_id, n_emails, n_phones, clean_text) for the docs kept.
    Planted PII is counted and no address survives the redaction."""
    errs = []
    for doc_id, n_em, n_ph, clean in rows:
        if n_em != corpus.pii_emails.get(doc_id, 0) or n_ph != corpus.pii_phones.get(doc_id, 0):
            errs.append(
                f"scrub_pii: doc {doc_id} counted {n_em} emails/{n_ph} phones, want "
                f"{corpus.pii_emails.get(doc_id, 0)}/{corpus.pii_phones.get(doc_id, 0)}"
            )
            break
        if "@" in clean or "555-" in clean:
            errs.append(f"scrub_pii: doc {doc_id} still holds PII")
            break
    return errs


def check_quality(rows: list[tuple[int, bool]], corpus: CurateCorpus) -> list[str]:
    """rows: (doc_id, passes_repetition). Planted repetitive docs fail;
    generated prose passes."""
    wrong = [d for d, ok in rows if ok == (d in corpus.low_quality)]
    if wrong:
        return [f"repetition_stats: {len(wrong)} docs gated wrongly, e.g. {wrong[:5]}"]
    return []


def check_split(rows: list[tuple[int, str]], expected_ids: set[int]) -> list[str]:
    ids = [d for d, _s in rows]
    errs = []
    if len(ids) != len(set(ids)) or set(ids) != expected_ids:
        errs.append(f"hash_split: {len(ids)} rows for {len(expected_ids)} expected docs")
    if not {s for _d, s in rows} <= {"train", "val", "test"}:
        errs.append("hash_split: unknown split names")
    return errs
