"""Reference computations and output checks, made without the package.

Each ``check_*`` takes what the package wrote (already parsed into
plain Python values) and the generated inputs, recomputes the answer
here in Python/numpy, and raises ``CheckFailed`` on any difference.
Nothing in this module imports ``mapreduce_task_spark``.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np

# Java's ``\s`` (no UNICODE_CHARACTER_CLASS) is ASCII [ \t\n\x0B\f\r];
# the reference mapper splits on ``\s+``, lowercases and strips [^a-z].
_SPLIT = re.compile(r"[ \t\n\x0b\f\r]+")
_NON_LETTER = re.compile(r"[^a-z]")
# Java's String.trim() strips every char <= U+0020.
_JAVA_TRIM = "".join(chr(i) for i in range(33))

QUANT = 1_000_000


class CheckFailed(AssertionError):
    pass


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def tokens(line: str) -> list[str]:
    out = []
    for raw in _SPLIT.split(line):
        w = _NON_LETTER.sub("", raw.lower())
        if w:
            out.append(w)
    return out


def read_lines(paths: list[str]) -> list[str]:
    """Lines of text files the way a line reader sees them (no trailing
    newline, a final newline does not start an empty line)."""
    lines: list[str] = []
    for p in paths:
        with open(p, encoding="utf-8", newline="") as f:
            data = f.read()
        if data.endswith("\n"):
            data = data[:-1]
        lines.extend(data.split("\n"))
    return lines


# ---- MapReduce trio ---------------------------------------------------------


def check_wordcount(rows: list[tuple[str, int]], lines: list[str]) -> None:
    """``rows``: (word, count) in the order the part files list them,
    part files read in name order."""
    words = [w for w, _ in rows]
    _require(
        all(a < b for a, b in zip(words, words[1:])),
        "wordcount: output not strictly sorted by word across part files",
    )
    want = Counter(t for line in lines for t in tokens(line))
    got = dict(rows)
    _require(len(got) == len(rows), "wordcount: duplicate words in output")
    if got != want:
        bad = sorted(set(got.items()) ^ set(want.items()))[:5]
        raise CheckFailed(f"wordcount: counts differ from reference, e.g. {bad}")


def check_sort(rows: list[tuple[int, str]], lines: list[str]) -> None:
    """``rows``: (rank, line) pairs in any order."""
    ranks = sorted(r for r, _ in rows)
    _require(ranks == list(range(1, len(lines) + 1)), "sort: ranks are not exactly 1..N")
    by_rank = [k for _, k in sorted(rows, key=lambda x: x[0])]
    _require(by_rank == sorted(lines), "sort: rank order differs from sorted(lines)")


def reference_index(lines: list[str]) -> tuple[dict[str, list[str]], int]:
    """word -> sorted distinct doc ids, and the malformed-line count
    (blank after Java trim, or no tab)."""
    postings: dict[str, set[str]] = {}
    malformed = 0
    for line in lines:
        parts = line.split("\t", 1)
        if line.strip(_JAVA_TRIM) == "" or len(parts) < 2:
            malformed += 1
            continue
        postings.setdefault(parts[0], set()).add(parts[1])
    return {w: sorted(d) for w, d in postings.items()}, malformed


def check_inverted_index(
    rows: list[tuple[str, str, int]],
    malformed_counter: int,
    lines: list[str],
    generated_malformed: int,
) -> None:
    """``rows``: (word, comma-joined doc ids, n_docs)."""
    want, malformed = reference_index(lines)
    _require(
        malformed == generated_malformed,
        f"inverted index: reference counts {malformed} malformed lines, generator planted {generated_malformed}",
    )
    _require(
        malformed_counter == generated_malformed,
        f"inverted index: MALFORMED_LINES={malformed_counter}, expected {generated_malformed}",
    )
    got = {}
    for word, docs, n in rows:
        _require(word not in got, f"inverted index: word {word!r} emitted twice")
        lst = docs.split(",")
        _require(n == len(lst), f"inverted index: n_docs {n} != list length {len(lst)} for {word!r}")
        got[word] = lst
    if got != want:
        bad = sorted(w for w in set(got) | set(want) if got.get(w) != want.get(w))[:5]
        raise CheckFailed(f"inverted index: postings differ from reference for {bad}")


# ---- dedup ------------------------------------------------------------------


def shingle_set(text: str, k: int = 3) -> set[str]:
    t = tokens(text)
    return {" ".join(t[i : i + k]) for i in range(len(t) - k + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def lsh_probability(j: float, rows: int, bands: int) -> float:
    """P(a pair with Jaccard ``j`` shares at least one LSH bucket)."""
    return 1.0 - (1.0 - j**rows) ** bands


def near_dup_floor(js: list[float], rows: int, bands: int) -> float:
    """Recall floor for pairs of known exact Jaccard: the S-curve's
    expected hit rate minus three binomial standard deviations."""
    ps = [lsh_probability(j, rows, bands) for j in js]
    mean = sum(ps)
    sd = math.sqrt(sum(p * (1 - p) for p in ps))
    return max(0.0, (mean - 3 * sd) / len(ps))


def check_dedup(
    deleted: list[int],
    docs: dict[int, str],
    families: list[list[int]],
    threshold: float,
    rows: int,
    bands: int,
) -> float:
    """Check a delete list; return the planted near-dup recall."""
    dels = set(deleted)
    _require(len(dels) == len(deleted), "dedup: delete list has repeated ids")
    _require(dels <= set(docs), "dedup: delete list names unknown ids")
    groups: dict[str, list[int]] = {}
    for i, t in docs.items():
        groups.setdefault(t, []).append(i)
    exact = [sorted(g) for g in groups.values() if len(g) > 1]
    for g in exact:
        _require(
            all(i in dels for i in g[1:]),
            f"dedup: exact copies {g[1:]} of doc {g[0]} not all deleted",
        )
    planted = {i for fam in families for i in fam} | {i for g in exact for i in g}
    stray = sorted(dels - planted)
    _require(not stray, f"dedup: deleted documents outside every planted family: {stray[:5]}")
    kept_texts = [docs[i] for i in docs if i not in dels]
    _require(len(kept_texts) == len(set(kept_texts)), "dedup: kept documents hold exact copies")
    # families joined through exact copies of their members: each must keep one
    root = {i: i for i in planted}

    def find(i):
        while root[i] != i:
            i = root[i]
        return i

    for g in families + exact:
        for i in g[1:]:
            root[find(i)] = find(g[0])
    clusters: dict[int, list[int]] = {}
    for i in planted:
        clusters.setdefault(find(i), []).append(i)
    for members in clusters.values():
        _require(any(i not in dels for i in members), f"dedup: every member of family {sorted(members)} deleted")

    js, hits = [], 0
    sh = {i: shingle_set(docs[i]) for fam in families for i in fam}
    for fam in families:
        base = fam[0]
        for v in fam[1:]:
            j = jaccard(sh[base], sh[v])
            if j >= threshold:
                js.append(j)
                hits += base in dels or v in dels
    _require(bool(js), "dedup: no planted near-duplicate pair reaches the threshold")
    recall = hits / len(js)
    floor = near_dup_floor(js, rows, bands)
    _require(recall >= floor, f"dedup: near-dup recall {recall:.3f} below S-curve floor {floor:.3f}")
    return recall


# ---- ANN ------------------------------------------------------------------


def quantize(v: np.ndarray) -> np.ndarray:
    """floor(v * 1e6) on float64, as int64 — the package's fixed point."""
    return np.floor(v.astype(np.float64) * float(QUANT)).astype(np.int64)


def exact_cosine_topk(
    q_ids: np.ndarray, q: np.ndarray, c_ids: np.ndarray, c: np.ndarray, k: int
) -> dict[int, list[tuple[int, float]]]:
    """Exact cosine top-k on the quantized grid, ties to the lowest id:
    integer dot products, then one IEEE divide per pair."""
    qq, cq = quantize(q), quantize(c)
    dot = qq @ cq.T
    nq = np.einsum("ij,ij->i", qq, qq).astype(np.float64)
    nc = np.einsum("ij,ij->i", cq, cq).astype(np.float64)
    cos = dot.astype(np.float64) / (np.sqrt(nq)[:, None] * np.sqrt(nc)[None, :])
    out = {}
    for i, qid in enumerate(q_ids):
        order = np.lexsort((c_ids, -cos[i]))[:k]
        out[int(qid)] = [(int(c_ids[j]), float(cos[i, j])) for j in order]
    return out


def exact_l2_topk(
    q_ids: np.ndarray, q: np.ndarray, c_ids: np.ndarray, c: np.ndarray, k: int
) -> dict[int, list[tuple[int, int]]]:
    """Exact int64 squared-L2 top-k on the quantized grid, ties to the
    lowest id."""
    qq, cq = quantize(q), quantize(c)
    d = (
        np.einsum("ij,ij->i", qq, qq)[:, None]
        + np.einsum("ij,ij->i", cq, cq)[None, :]
        - 2 * (qq @ cq.T)
    )
    out = {}
    for i, qid in enumerate(q_ids):
        order = np.lexsort((c_ids, d[i]))[:k]
        out[int(qid)] = [(int(c_ids[j]), int(d[i, j])) for j in order]
    return out


def _ranked(rows: list[tuple], q_ids, k: int, valid: set[int], what: str) -> dict[int, list[tuple]]:
    """Group (query_id, cand_id, score, rank) rows per query; check each
    query got k distinct valid ids with ranks 1..k."""
    by_q: dict[int, list[tuple]] = {}
    for qid, cid, score, rank in rows:
        by_q.setdefault(int(qid), []).append((int(rank), int(cid), score))
    _require(set(by_q) == {int(x) for x in q_ids}, f"{what}: result queries differ from the batch")
    out = {}
    for qid, lst in by_q.items():
        lst.sort()
        ids = [c for _, c, _ in lst]
        _require([r for r, _, _ in lst] == list(range(1, k + 1)), f"{what}: query {qid} ranks are not 1..{k}")
        _require(len(set(ids)) == k, f"{what}: query {qid} has repeated ids")
        _require(set(ids) <= valid, f"{what}: query {qid} returned ids outside the corpus")
        out[qid] = [(c, s) for _, c, s in lst]
    return out


def check_ivf_exact(rows, q_ids, q, c_ids, c, k: int, what: str) -> None:
    """IVF at nprobe = all lists must equal exact cosine top-k, scores
    bit for bit."""
    got = _ranked(rows, q_ids, k, {int(x) for x in c_ids}, what)
    want = exact_cosine_topk(q_ids, q, c_ids, c, k)
    for qid, lst in want.items():
        _require(got[qid] == lst, f"{what}: query {qid} differs from exact cosine top-{k}")


def check_ivf_served(rows, q_ids, c_ids, k: int, what: str) -> dict[int, list[int]]:
    """Serving-time IVF result: shape checks; returns ids per query."""
    got = _ranked(rows, q_ids, k, {int(x) for x in c_ids}, what)
    return {qid: [cid for cid, _ in lst] for qid, lst in got.items()}


def check_ivfpq(rows, q_ids, q, c_ids, c, k: int) -> dict[int, list[int]]:
    """``rows``: (query_id, cand_id, exact_d, rank). Every exact_d must be
    the numpy int64 squared L2, and ranks must follow (exact_d, cand_id)."""
    got = _ranked(rows, q_ids, k, {int(x) for x in c_ids}, "ivfpq")
    pos = {int(x): i for i, x in enumerate(c_ids)}
    cq = quantize(c)
    for i, qid in enumerate(q_ids):
        qq = quantize(q[i : i + 1])[0]
        lst = got[int(qid)]
        for cid, d in lst:
            diff = qq - cq[pos[cid]]
            _require(int(d) == int(diff @ diff), f"ivfpq: exact_d of ({qid}, {cid}) differs from numpy")
        keys = [(int(d), cid) for cid, d in lst]
        _require(keys == sorted(keys), f"ivfpq: query {qid} ranks do not follow (exact_d, cand_id)")
    return {qid: [cid for cid, _ in lst] for qid, lst in got.items()}


def check_same(before: list[tuple], after: list[tuple], what: str) -> None:
    _require(sorted(before) == sorted(after), f"{what}: results differ")


def recall_at(got: dict[int, list[int]], truth: dict[int, list[tuple]], k: int) -> float:
    hits = sum(len(set(got[q]) & {c for c, _ in truth[q][:k]}) for q in truth)
    return hits / (k * len(truth))
