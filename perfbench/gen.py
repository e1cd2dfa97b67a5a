"""Seeded input generators and their ground truth.

Everything the engine receives is made here from one integer seed:
PDF files (written with the engine's own ``make_pdf``), a curation
corpus with planted duplicates, and clustered unit vectors. The truth
the benchmark checks against (expected store rows, exact top-k ids,
planted duplicate groups) is computed here too, in plain Python and
NumPy, never by the engine.

Pure functions of their arguments: the same seed gives the same inputs
and the same truth; different seeds give different inputs of the same
size and shape, so timings stay comparable across seeds.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

import numpy as np

CHUNK_SIZE = 2000
CHUNK_OVERLAP = 100
VERSION_BASE = 1000  # doc key = doc_id * VERSION_BASE + ingest_version

_SYLLABLES = (
    "ka ri to mu sen va lo pi dra nel quo fi ber tam sol gu wen"
    " ox ha ly cor te bin mas ul fre zo ip dan kel ru"
).split()


def vocabulary(size: int = 1500) -> list[str]:
    """Fixed synthetic word list (letters only, so no PII regex fires)."""
    rng = random.Random(12345)
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(1, 3))))
    return sorted(words)


_VOCAB = vocabulary()


def _text(rng: random.Random, n_chars: int, line_chars: int = 80) -> str:
    """Random words wrapped into lines of about ``line_chars``."""
    lines, line, total = [], [], 0
    while total < n_chars:
        w = rng.choice(_VOCAB)
        line.append(w)
        total += len(w) + 1
        if sum(len(x) + 1 for x in line) >= line_chars:
            lines.append(" ".join(line))
            line = []
    if line:
        lines.append(" ".join(line))
    return "\n".join(lines)


def stride_chunks(text: str, size: int = CHUNK_SIZE, overlap: int = CHUNK_OVERLAP) -> list[str]:
    """Python twin of the stride chunker's arithmetic (one chunk for a
    text no longer than ``size``, including the empty text)."""
    stride = size - overlap
    if len(text) <= size:
        return [text]
    n = 1 + (len(text) - size + stride - 1) // stride
    return [text[i * stride : i * stride + size] for i in range(n)]


def md5_hex(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


# ---------------------------------------------------------------- ingest


@dataclass
class IngestPlan:
    """Rounds of (doc_id, version, pages); version = round + 1."""

    rounds: list[list[tuple[int, int, list[str]]]]
    append: list[tuple[int, int, list[str]]]

    def expected_store(self, with_append: bool = True) -> dict[str, tuple[int, str]]:
        """chunk id -> (highest version, md5 of chunk text): the state
        a last-writer-wins upsert of every round must leave."""
        out: dict[str, tuple[int, str]] = {}
        batches = self.rounds + ([self.append] if with_append else [])
        for batch in batches:
            for doc_id, version, pages in batch:
                for page_no, text in enumerate(pages):
                    for ci, chunk in enumerate(stride_chunks(text)):
                        key = f"{doc_id}-{page_no}-{ci}"
                        if key not in out or out[key][0] < version:
                            out[key] = (version, md5_hex(chunk))
        return out

    def chunk_count(self, batch) -> int:
        return sum(len(stride_chunks(t)) for _d, _v, pages in batch for t in pages)


PAGE_CHARS = (2900, 4800, 3300, 4400)


def ingest_plan(
    seed: int,
    rounds: int = 3,
    fresh_per_round: int = 20,
    reingest_per_round: int = 5,
    append_docs: int = 10,
) -> IngestPlan:
    """Fresh docs every round; from round 1 on, some earlier docs come
    back at the round's higher version with new text and a page count
    that may differ (so stale chunk ids must survive by id). Doc and
    page and chunk counts do not depend on the seed; the text does."""
    rng = random.Random(seed * 7919 + 1)
    next_id = 0
    seen: list[int] = []
    plan: list[list[tuple[int, int, list[str]]]] = []

    def pages_for(n_pages: int) -> list[str]:
        # lengths sit mid-way between chunk-count steps (2000, 3900,
        # 5800), so every seed yields the same number of chunks
        return [_text(rng, PAGE_CHARS[(next_id + i) % len(PAGE_CHARS)]) for i in range(n_pages)]

    for r in range(rounds):
        version = r + 1
        batch = []
        for i in range(fresh_per_round):
            batch.append((next_id, version, pages_for(1 + i % 3)))
            seen.append(next_id)
            next_id += 1
        if r > 0:
            earlier = [d for d in seen if d not in {b[0] for b in batch}]
            for i, doc_id in enumerate(rng.sample(earlier, reingest_per_round)):
                pages = pages_for(1 + i % 3)
                pages[0] = f"revision {version} of document {doc_id}\n" + pages[0]
                batch.append((doc_id, version, pages))
        plan.append(batch)
    append = [
        (next_id + i, rounds + 1, pages_for(1 + i % 3)) for i in range(append_docs)
    ]
    return IngestPlan(plan, append)


def pdf_name(doc_id: int, version: int) -> str:
    return f"d{doc_id:06d}_v{version:03d}.pdf"


def write_pdfs(batch, out_dir: str) -> None:
    """Write one PDF per (doc, version)."""
    import os

    from pdf_using_hugging_face_and_vector_database_spark.sources.pdf_text import make_pdf

    os.makedirs(out_dir, exist_ok=True)
    for doc_id, version, pages in batch:
        with open(os.path.join(out_dir, pdf_name(doc_id, version)), "wb") as fh:
            fh.write(make_pdf(pages, compress=True))


# ---------------------------------------------------------------- vectors


@dataclass
class VectorSet:
    ids: np.ndarray  # int64
    vecs: np.ndarray  # float64, unit rows
    label: np.ndarray  # int32
    source: np.ndarray  # str


SOURCES = ("web", "pdf", "wiki", "code")


EMBED_DIM = 384  # the reference model's width
MEMBER_NOISE = 0.96  # expected norm of a member's offset from its unit centre
QUERY_NOISE = 0.4  # expected norm of a query's offset from its corpus point


def clustered_vectors(seed: int, n: int = 20000, dim: int = EMBED_DIM, clusters: int = 24) -> VectorSet:
    """Unit vectors around ``clusters`` random centres, so an IVF index
    has real structure to find (uniform vectors give near-random
    recall). The offsets' norm does not depend on ``dim``, so clusters
    are as tight at any width."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    member = rng.integers(0, clusters, n)
    vecs = centres[member] + rng.normal(scale=MEMBER_NOISE / np.sqrt(dim), size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    label = rng.integers(0, 8, n).astype("int32")
    source = np.array(SOURCES)[rng.integers(0, len(SOURCES), n)]
    return VectorSet(np.arange(n, dtype="int64"), vecs, label, source)


def query_vectors(seed: int, vs: VectorSet, n: int) -> np.ndarray:
    """Queries near corpus points (perturbed, re-normalised)."""
    rng = np.random.default_rng(seed + 99991)
    base = vs.vecs[rng.integers(0, len(vs.ids), n)]
    q = base + rng.normal(scale=QUERY_NOISE / np.sqrt(base.shape[1]), size=base.shape)
    return q / np.linalg.norm(q, axis=1, keepdims=True)


def topk_truth(vs: VectorSet, q: np.ndarray, k: int, mask: np.ndarray | None = None) -> list[int]:
    """Exact cosine top-k ids under (score desc, id asc)."""
    norms = np.linalg.norm(vs.vecs, axis=1) * np.linalg.norm(q)
    scores = (vs.vecs @ q) / norms
    ids = vs.ids
    if mask is not None:
        scores, ids = scores[mask], ids[mask]
    order = np.lexsort((ids, -scores))[:k]
    return [int(i) for i in ids[order]]


# ---------------------------------------------------------------- curate


@dataclass
class CurateCorpus:
    docs: list[tuple[int, str]]
    exact_copies: dict[int, int] = field(default_factory=dict)  # copy id -> original id
    near_groups: list[list[int]] = field(default_factory=list)
    pii_emails: dict[int, int] = field(default_factory=dict)  # doc id -> emails planted
    pii_phones: dict[int, int] = field(default_factory=dict)
    low_quality: set[int] = field(default_factory=set)

    def planted_pairs(self) -> set[tuple[int, int]]:
        pairs = set()
        for g in self.near_groups:
            for i, a in enumerate(g):
                for b in g[i + 1 :]:
                    pairs.add((min(a, b), max(a, b)))
        return pairs


def _edit(rng: random.Random, text: str, frac: float) -> str:
    words = text.split(" ")
    for _ in range(max(1, int(len(words) * frac))):
        words[rng.randrange(len(words))] = rng.choice(_VOCAB)
    return " ".join(words)


def curate_corpus(
    seed: int,
    n_base: int = 500,
    n_exact: int = 40,
    n_groups: int = 30,
    n_pii: int = 40,
    n_low: int = 20,
) -> CurateCorpus:
    """Base docs plus planted exact copies, k-way near-duplicate groups
    (2-4 members, ~2% of words replaced per member), PII strings and
    repetitive low-quality docs. Ids are shuffled so planted rows are
    not contiguous."""
    rng = random.Random(seed * 104729 + 3)
    texts: list[str] = []
    kind: list[tuple] = []
    for _ in range(n_base):
        texts.append(_text(rng, rng.randint(600, 1400), line_chars=10**9))
        kind.append(("base",))
    for i in range(n_pii):  # PII goes into base docs
        t = texts[i].split(" ")
        emails = rng.randint(1, 2)
        for e in range(emails):
            t.insert(rng.randrange(len(t)), f"user{e}.{rng.choice(_VOCAB)}@mail{i % 7}.example.com")
        phone = i % 2 == 0
        if phone:
            t.insert(rng.randrange(len(t)), f"555-{rng.randint(1000, 9999)}")
        texts[i] = " ".join(t)
        kind[i] = ("pii", emails, int(phone))
    for g in range(n_groups):
        src = texts[n_pii + g]
        for _ in range(1 + g % 3):
            texts.append(_edit(rng, src, 0.02))
            kind.append(("near", n_pii + g))
    for _ in range(n_exact):
        src = rng.randrange(n_pii + n_groups, n_base)
        texts.append(texts[src])
        kind.append(("exact", src))
    for _ in range(n_low):
        phrase = " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(3, 6)))
        texts.append(" ".join([phrase] * rng.randint(25, 60)))
        kind.append(("low",))

    perm = list(range(len(texts)))
    rng.shuffle(perm)  # position -> doc id
    c = CurateCorpus(docs=[(perm[i], texts[i]) for i in range(len(texts))])
    groups: dict[int, list[int]] = {}
    for i, k in enumerate(kind):
        if k[0] == "pii":
            c.pii_emails[perm[i]] = k[1]
            c.pii_phones[perm[i]] = k[2]
        elif k[0] == "near":
            groups.setdefault(k[1], [perm[k[1]]]).append(perm[i])
        elif k[0] == "exact":
            c.exact_copies[perm[i]] = perm[k[1]]
        elif k[0] == "low":
            c.low_quality.add(perm[i])
    c.near_groups = [sorted(g) for g in groups.values()]
    c.docs.sort()
    return c
