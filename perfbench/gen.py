"""Seeded input generator for the benchmark.

Everything here depends only on the seed and the size constants below;
the package under test never imports this module and sees only the
files written by ``write_*``. The same seed gives byte-identical files.
"""

from __future__ import annotations

import itertools
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- mr_batch sizes -------------------------------------------------------
TEXT_FILES = 4
TEXT_LINES_PER_FILE = 6_000
TEXT_TOKENS_PER_LINE = (8, 24)
VOCAB = 6_000
SORT_FILES = 4
SORT_LINES_PER_FILE = 20_000
SORT_DISTINCT_KEYS = 30_000
PAIR_FILES = 4
PAIR_LINES_PER_FILE = 25_000
PAIR_DOCS = 2_000
PAIR_WORDS = 3_000
PAIR_MALFORMED_PER_FILE = 40

# ---- dedup_batch sizes ----------------------------------------------------
DEDUP_FILES = 4
DEDUP_BACKGROUND = 1_000
DEDUP_FAMILIES = 60
DEDUP_FAMILY_VARIANTS = (2, 2)
DEDUP_EDIT_RATES = (0.03, 0.06)
DEDUP_EXACT_COPIES = 80
DEDUP_DOC_WORDS = (40, 80)
DEDUP_VOCAB = 20_000

# ---- ann_serve sizes ------------------------------------------------------
DIM = 32
ANN_CORPUS = 3_000
ANN_CENTERS = 16
ANN_QUERY_BATCHES = 12
ANN_QUERY_BATCH = 8
ANN_APPEND_BATCHES = 12
ANN_APPEND_BATCH = 40
QUERY_ID0 = 10_000_000
APPEND_ID0 = 5_000_000

_PUNCT = [",", ".", "!", "?", ";", ":", '"', "(", ")", "--"]
_NON_ASCII = ["café", "naïve", "Straße", "東京", "über", "Ελλάδα", "piñata", "—", "’s"]


def _word(rng: random.Random, lo: int = 3, hi: int = 9) -> str:
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(lo, hi)))


def _vocab(rng: random.Random, n: int) -> list[str]:
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        w = _word(rng)
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_cum_weights(n: int) -> list[float]:
    return list(itertools.accumulate(1.0 / (i + 1) for i in range(n)))


def _decorate(rng: random.Random, w: str) -> str:
    """Turn a clean word into a raw token the reference normalisation
    must undo: case, punctuation, apostrophes, digits, non-ASCII, or a
    token that normalises to nothing."""
    r = rng.random()
    if r < 0.10:
        return w.capitalize()
    if r < 0.14:
        return w.upper()
    if r < 0.22:
        return w + rng.choice(_PUNCT)
    if r < 0.26:
        i = rng.randint(1, len(w) - 1)
        return w[:i] + "'" + w[i:]
    if r < 0.29:
        return w + str(rng.randint(0, 99))
    if r < 0.31:
        return str(rng.randint(0, 9999))
    if r < 0.33:
        return rng.choice(_NON_ASCII)
    if r < 0.34:
        return rng.choice(_PUNCT)
    return w


def _write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\n".join(lines))
        f.write("\n")


def write_mr_inputs(seed: int, root: str) -> dict:
    """Text, sort and tab-pair inputs for the MapReduce trio.

    Returns the generator-side facts the checks need that cannot be read
    back from the files (the malformed-line count)."""
    rng = random.Random(seed * 1_000_003 + 11)
    vocab = _vocab(rng, VOCAB)
    cum = _zipf_cum_weights(VOCAB)

    text_dir = os.path.join(root, "text")
    os.makedirs(text_dir)
    for f in range(TEXT_FILES):
        lines = []
        for _ in range(TEXT_LINES_PER_FILE):
            n = rng.randint(*TEXT_TOKENS_PER_LINE)
            toks = [_decorate(rng, w) for w in rng.choices(vocab, cum_weights=cum, k=n)]
            sep = "\t" if rng.random() < 0.05 else " "
            lines.append(sep.join(toks) + (" " if rng.random() < 0.05 else ""))
        _write_lines(os.path.join(text_dir, f"part-{f:02d}.txt"), lines)

    sort_dir = os.path.join(root, "sort")
    os.makedirs(sort_dir)
    keys = [
        f"{_word(rng, 2, 6)}{rng.choice(['', ' ', '-', 'é', 'Z'])}{rng.randint(0, 999):03d}"
        for _ in range(SORT_DISTINCT_KEYS)
    ]
    for f in range(SORT_FILES):
        _write_lines(
            os.path.join(sort_dir, f"part-{f:02d}.txt"),
            [rng.choice(keys) for _ in range(SORT_LINES_PER_FILE)],
        )

    pair_dir = os.path.join(root, "pairs")
    os.makedirs(pair_dir)
    pwords = _vocab(rng, PAIR_WORDS)
    pcum = _zipf_cum_weights(PAIR_WORDS)
    malformed = 0
    for f in range(PAIR_FILES):
        lines = [
            f"{w}\tdoc{rng.randrange(PAIR_DOCS)}"
            for w in rng.choices(pwords, cum_weights=pcum, k=PAIR_LINES_PER_FILE)
        ]
        # Whitespace-only lines holding a tab are left to the runner's
        # fixed-input probe, so that the package's miscount of them fails
        # the same operation on every seed and this file's check stays live.
        for _ in range(PAIR_MALFORMED_PER_FILE):
            bad = rng.choice(["", "   ", _word(rng), f"{_word(rng)} doc{rng.randrange(9)}"])
            lines.insert(rng.randrange(len(lines) + 1), bad)
            malformed += 1
        _write_lines(os.path.join(pair_dir, f"part-{f:02d}.txt"), lines)

    return {"text": text_dir, "sort": sort_dir, "pairs": pair_dir, "malformed": malformed}


def _edit(rng: random.Random, words: list[str], rate: float, vocab: list[str]) -> list[str]:
    out = list(words)
    n = max(1, round(rate * len(out)))
    for i in rng.sample(range(len(out)), n):
        out[i] = rng.choice(vocab)
    return out


def write_dedup_corpus(seed: int, root: str) -> dict:
    """Corpus of (doc_id, text) parquet files with planted exact copies
    and near-duplicate families.

    Ids are shuffled so that a family's base is not always its lowest id.
    Returns the planted structure: ``families`` (lists of doc ids, base
    first) and ``exact`` (lists of doc ids with identical text)."""
    rng = random.Random(seed * 7_919 + 3)
    vocab = _vocab(rng, DEDUP_VOCAB)
    texts: list[str] = []
    families: list[list[int]] = []
    for _ in range(DEDUP_BACKGROUND):
        texts.append(" ".join(rng.choices(vocab, k=rng.randint(*DEDUP_DOC_WORDS))))
    for _ in range(DEDUP_FAMILIES):
        base = rng.choices(vocab, k=rng.randint(*DEDUP_DOC_WORDS))
        fam = [len(texts)]
        texts.append(" ".join(base))
        rate = rng.choice(DEDUP_EDIT_RATES)
        for _ in range(rng.randint(*DEDUP_FAMILY_VARIANTS)):
            fam.append(len(texts))
            texts.append(" ".join(_edit(rng, base, rate, vocab)))
        families.append(fam)
    exact_src = rng.sample(range(len(texts)), DEDUP_EXACT_COPIES)
    copy_of: dict[int, int] = {}
    for src in exact_src:
        copy_of[len(texts)] = src
        texts.append(texts[src])

    ids = list(range(1, len(texts) + 1))
    rng.shuffle(ids)  # position -> doc_id
    families = [[ids[p] for p in fam] for fam in families]
    groups: dict[str, list[int]] = {}
    for p, t in enumerate(texts):
        groups.setdefault(t, []).append(ids[p])
    exact = [sorted(g) for g in groups.values() if len(g) > 1]
    copies = {ids[c]: ids[s] for c, s in copy_of.items()}

    corpus_dir = os.path.join(root, "corpus")
    os.makedirs(corpus_dir)
    order = list(range(len(texts)))
    rng.shuffle(order)
    per = -(-len(order) // DEDUP_FILES)
    for f in range(DEDUP_FILES):
        part = order[f * per : (f + 1) * per]
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([ids[p] for p in part], pa.int64()),
                    "text": pa.array([texts[p] for p in part], pa.string()),
                }
            ),
            os.path.join(corpus_dir, f"part-{f:02d}.parquet"),
        )
    docs = {ids[p]: texts[p] for p in range(len(texts))}
    return {"corpus": corpus_dir, "docs": docs, "families": families, "exact": exact, "copies": copies}


def _write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32)), flat)
    pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb}), path)


def write_ann_inputs(seed: int, root: str) -> dict:
    """Clustered float32 embeddings: corpus, held-out query batches and
    append batches, one parquet file each.

    Points are a unit centre plus Gaussian noise, scaled to norm < 1 so
    every component lies in (-1, 1), the range the package's 1e6 fixed
    point assumes."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((ANN_CENTERS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def draw(n: int) -> np.ndarray:
        c = centers[rng.integers(0, ANN_CENTERS, n)]
        v = c + 0.35 * rng.standard_normal((n, DIM))
        v /= 1.25 * np.linalg.norm(v, axis=1, keepdims=True)
        return v.astype(np.float32)

    d = os.path.join(root, "ann")
    os.makedirs(d)
    corpus = draw(ANN_CORPUS)
    corpus_ids = np.arange(ANN_CORPUS, dtype=np.int64)
    _write_vectors(os.path.join(d, "corpus.parquet"), corpus_ids, corpus)
    queries = []
    for b in range(ANN_QUERY_BATCHES):
        ids = QUERY_ID0 + b * ANN_QUERY_BATCH + np.arange(ANN_QUERY_BATCH, dtype=np.int64)
        v = draw(ANN_QUERY_BATCH)
        p = os.path.join(d, f"query-{b:02d}.parquet")
        _write_vectors(p, ids, v)
        queries.append((p, ids, v))
    appends = []
    for b in range(ANN_APPEND_BATCHES):
        ids = APPEND_ID0 + b * ANN_APPEND_BATCH + np.arange(ANN_APPEND_BATCH, dtype=np.int64)
        v = draw(ANN_APPEND_BATCH)
        p = os.path.join(d, f"append-{b:02d}.parquet")
        _write_vectors(p, ids, v)
        appends.append((p, ids, v))
    return {
        "corpus": os.path.join(d, "corpus.parquet"),
        "corpus_ids": corpus_ids,
        "corpus_vecs": corpus,
        "queries": queries,
        "appends": appends,
    }
