"""Self-test of the output checks in ref.py, without Spark.

Each check must accept the reference micro-fixtures' known answers
(FIXTURES.md §A) and reject a corrupted copy of them. Every benchmark
run calls ``run()`` first; ``python3 perfbench/selftest.py`` runs it alone.
"""

from __future__ import annotations

import sys
from collections import Counter

import numpy as np

import ref

# the reference's canned inputs (FIXTURES.md §A1-A3)
WORDCOUNT_LINES = [
    "The quick brown fox jumps over the lazy dog.",
    "The quick brown fox is fast and clever.",
    "Lazy dogs don't jump over quick foxes.",
    "The fox and the dog became friends in the forest.",
    "Every morning, the quick fox would race with the lazy dog.",
    "Sometimes the dog won, but usually the fox was faster.",
    "One day, a clever crow watched them from a tall tree.",
    "She wondered who would win the next morning’s race.",
    "In the end, they both sat under the sun, tired but happy.",
]
FRUITS = ["orange", "apple", "banana", "grape", "kiwi", "pear", "mango", "pineapple", "lemon", "strawberry"]
FRUITS_SORTED = ["apple", "banana", "grape", "kiwi", "lemon", "mango", "orange", "pear", "pineapple", "strawberry"]
PAIRS = [f"{w}\tdoc{i}" for i in range(1, 6) for w in ("apple", "banana", "cat")] + ["zebra\tdoc6"]
# blank after Java's trim() (which strips tabs as well as spaces), or no tab
MALFORMED = ["", "   ", "no-tab-here", "\t", " \t "]


def _rejects(check, *args) -> bool:
    try:
        check(*args)
    except ref.CheckFailed:
        return True
    return False


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise ref.CheckFailed(f"self-test: {what}")


def wordcount() -> None:
    counts = Counter(t for line in WORDCOUNT_LINES for t in ref.tokens(line))
    _expect(sum(counts.values()) == 87, "sample should hold 87 tokens")
    _expect(counts["the"] == 13 and counts["dont"] == 1 and counts["mornings"] == 1, "spot counts")
    rows = sorted(counts.items())
    ref.check_wordcount(rows, WORDCOUNT_LINES)
    off = [(w, c + 1 if w == "fox" else c) for w, c in rows]
    _expect(_rejects(ref.check_wordcount, off, WORDCOUNT_LINES), "count off by one accepted")
    _expect(_rejects(ref.check_wordcount, rows[::-1], WORDCOUNT_LINES), "unsorted output accepted")


def sort() -> None:
    lines = FRUITS + ["apple"]
    rows = [(i + 1, w) for i, w in enumerate(["apple"] + FRUITS_SORTED)]
    ref.check_sort(rows, lines)
    swapped = [(r, w) for r, w in rows]
    swapped[2], swapped[3] = (3, rows[3][1]), (4, rows[2][1])
    _expect(_rejects(ref.check_sort, swapped, lines), "two swapped ranks accepted")


def inverted_index() -> None:
    lines = MALFORMED[:1] + PAIRS + MALFORMED[1:] + ["apple\tdoc1"]
    docs = "doc1,doc2,doc3,doc4,doc5"
    rows = [("apple", docs, 5), ("banana", docs, 5), ("cat", docs, 5), ("zebra", "doc6", 1)]
    n = len(MALFORMED)
    ref.check_inverted_index(rows, n, lines, n)
    dropped = [("apple", "doc1,doc2,doc4,doc5", 4)] + rows[1:]
    _expect(_rejects(ref.check_inverted_index, dropped, n, lines, n), "dropped doc accepted")
    _expect(_rejects(ref.check_inverted_index, rows, n - 1, lines, n), "wrong MALFORMED_LINES accepted")
    # tab-only lines read as pairs: an empty word, a one-space word
    tab_pairs = [("", "", 1), (" ", " ", 1)] + rows
    _expect(_rejects(ref.check_inverted_index, tab_pairs, n - 2, lines, n), "tab-only lines as pairs accepted")


def dedup() -> None:
    words = [f"w{chr(97 + i // 26)}{chr(97 + i % 26)}" for i in range(40)]
    base = " ".join(words)
    variant = " ".join(words[:20] + ["changed"] + words[21:])
    other = " ".join(f"z{chr(97 + i // 26)}{chr(97 + i % 26)}" for i in range(40))
    docs = {1: base, 2: variant, 3: base, 4: other}
    families = [[1, 2]]
    ref.check_dedup([3, 2], docs, families, 0.5, 2, 8)
    _expect(_rejects(ref.check_dedup, [3, 2, 4], docs, families, 0.5, 2, 8), "false deletion accepted")
    _expect(_rejects(ref.check_dedup, [2], docs, families, 0.5, 2, 8), "kept exact copy accepted")


def ann() -> None:
    rng = np.random.default_rng(7)
    c = (rng.standard_normal((60, 8)) / 4).astype(np.float32)
    q = (rng.standard_normal((3, 8)) / 4).astype(np.float32)
    c_ids, q_ids = np.arange(60, dtype=np.int64), np.arange(1000, 1003, dtype=np.int64)
    k = 5
    top = ref.exact_cosine_topk(q_ids, q, c_ids, c, k)
    rows = [(qid, cid, s, r + 1) for qid, lst in top.items() for r, (cid, s) in enumerate(lst)]
    ref.check_ivf_exact(rows, q_ids, q, c_ids, c, k, "fixture")
    qid, cid, s, r = rows[1]
    outsider = next(i for i in range(60) if i not in {x[1] for x in rows if x[0] == qid})
    replaced = rows[:1] + [(qid, outsider, s, r)] + rows[2:]
    _expect(_rejects(ref.check_ivf_exact, replaced, q_ids, q, c_ids, c, k, "fixture"), "replaced neighbour accepted")

    l2 = ref.exact_l2_topk(q_ids, q, c_ids, c, k)
    rows = [(qid, cid, d, r + 1) for qid, lst in l2.items() for r, (cid, d) in enumerate(lst)]
    ref.check_ivfpq(rows, q_ids, q, c_ids, c, k)
    qid, cid, d, r = rows[0]
    bad = [(qid, outsider, d, r)] + rows[1:]
    _expect(_rejects(ref.check_ivfpq, bad, q_ids, q, c_ids, c, k), "replaced IVF-PQ neighbour accepted")


def run() -> None:
    for t in (wordcount, sort, inverted_index, dedup, ann):
        t()


if __name__ == "__main__":
    run()
    print("checker self-test: ok")
    sys.exit(0)
