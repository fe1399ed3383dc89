from pyspark.sql import Observation, Row

from mapreduce_task_spark.operators.inverted_index import inverted_index
from mapreduce_task_spark.sources.text import read_tab_pairs

from .fixtures import INSERTINDEX_GOLDEN, INSERTINDEX_LINES


def _lines_df(spark, lines):
    return spark.createDataFrame([Row(value=l) for l in lines])


def test_inverted_index_golden(spark):
    pairs = read_tab_pairs(spark, _lines_df(spark, INSERTINDEX_LINES))
    out = {r["word"]: r["doc_ids"] for r in inverted_index(pairs).collect()}
    assert out == INSERTINDEX_GOLDEN


def test_duplicate_pairs_dedupe(spark):
    pairs = read_tab_pairs(spark, _lines_df(spark, ["a\td1", "a\td1", "a\td2"]))
    out = inverted_index(pairs).collect()
    assert [(r["word"], r["doc_ids"], r["n_docs"]) for r in out] == [("a", "d1,d2", 2)]


def test_malformed_lines_dropped_and_counted(spark):
    # P6/P7: blank lines and lines without a tab are dropped + counted
    # (TraceInsertIndexMapper.java:102-115)
    lines = ["a\td1", "", "   ", "no-tab-here", "b\td2\textra", "\t", " \t "]
    obs = Observation("ii")
    pairs = read_tab_pairs(spark, _lines_df(spark, lines), observation=obs)
    rows = sorted((r["word"], r["doc_id"]) for r in pairs.collect())
    # split("\t", 2) keeps the remainder in the value, like Java split
    assert rows == [("a", "d1"), ("b", "d2\textra")]
    assert obs.get["MALFORMED_LINES"] == 5
    assert obs.get["RAW_LINES"] == 7


def test_positional_index_and_phrase_search_match_python_replay(spark, sf_small):
    from mapreduce_task_spark.functions.text import normalized_tokens
    from mapreduce_task_spark.operators.inverted_index import (
        phrase_search,
        positional_index,
    )
    from mapreduce_task_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_small, "documents")
    tok_rows = {
        r["doc_id"]: r["t"]
        for r in docs.select("doc_id", normalized_tokens("text").alias("t")).collect()
    }

    # index positions replay exactly for a sample of words
    idx_rows = positional_index(docs).filter(F.col("word") == "spark").collect()
    want_pos = {
        d: [i for i, w in enumerate(toks) if w == "spark"]
        for d, toks in tok_rows.items()
        if "spark" in toks
    }
    assert {r["doc_id"]: list(r["positions"]) for r in idx_rows} == want_pos

    # pick a phrase that actually occurs: first adjacent pair in corpus
    some_doc = next(d for d, t in tok_rows.items() if len(t) >= 2)
    w1, w2 = tok_rows[some_doc][0], tok_rows[some_doc][1]
    phrase = f"{w1} {w2}"
    got = {r["doc_id"]: r["n_hits"] for r in phrase_search(docs, phrase).collect()}
    want = {}
    for d, toks in tok_rows.items():
        n = sum(1 for a, b in zip(toks, toks[1:]) if a == w1 and b == w2)
        if n:
            want[d] = n
    assert got == want and some_doc in got


def test_phrase_search_no_false_positives_on_scattered_words(spark):
    from pyspark.sql import Row

    from mapreduce_task_spark.operators.inverted_index import phrase_search

    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="alpha beta gamma"),
            Row(doc_id=1, text="beta something alpha"),  # both words, wrong order
            Row(doc_id=2, text="alpha beta alpha beta"),
        ]
    )
    got = {r["doc_id"]: r["n_hits"] for r in phrase_search(docs, "alpha beta").collect()}
    assert got == {0: 1, 2: 2}


def test_phrase_search_normalizes_query_like_index(spark):
    """Query terms must pass the index's normalization (lowercase,
    strip [^a-z], drop empties): 'Don't stop' and 'top 10' match text
    whose index tokens are normalized — pre-fix these returned 0 rows."""
    from pyspark.sql import Row

    from mapreduce_task_spark.operators.inverted_index import phrase_search

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="please dont stop the music"),
            Row(doc_id=2, text="stop dont please"),
            Row(doc_id=3, text="the top hits right now"),
        ]
    )
    hits = phrase_search(docs, "Don't STOP!").collect()
    assert [r.doc_id for r in hits] == [1]
    # digits strip to empty and drop out: "top 10" -> ["top"]
    hits2 = {r.doc_id for r in phrase_search(docs, "top 10").collect()}
    assert hits2 == {3}
