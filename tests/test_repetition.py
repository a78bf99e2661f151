"""Gopher repetition metrics: planted documents with hand-computed
counts, the pass flag, and plan-shape checks."""

from __future__ import annotations

import pytest

from osm_render_spark.operators.repetition import repetition_metrics


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # 0: clean doc — no dup lines, no dup 5-grams
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        # 1: duplicate lines ("x y" twice) across 3 lines
        (1, "x y\nz w\nx y"),
        # 2: repeated 5-gram: "a b c d e" occurs at pos 1 and 6 (overlap-free)
        (2, "a b c d e a b c d e"),
        # 3: overlapping dup 5-grams: "p p p p p p" -> grams at 1,2 both
        #    "p p p p p" -> covered positions 1..6 (union, counted once)
        (3, "p p p p p p"),
        # 4: dominant bigram "hi yo" x3
        (4, "hi yo hi yo hi yo"),
        # 5: empty text
        (5, ""),
        # 6: single word
        (6, "solo"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _by_id(df):
    return {r["doc_id"]: r.asDict() for r in df.collect()}


def test_planted_counts(docs):
    m = _by_id(repetition_metrics(docs))

    # doc 0: 8 words, 1 line, nothing duplicated
    assert m[0]["n_words"] == 8
    assert m[0]["n_lines"] == 1
    assert m[0]["dup_line_count"] == 0
    assert m[0]["dup5_covered_words"] == 0
    assert m[0]["top_bigram_count"] == 1
    assert m[0]["gopher_pass"] == 1

    # doc 1: 3 lines, "x y" twice -> 1 dup line of 3 chars
    assert m[1]["n_lines"] == 3
    assert m[1]["dup_line_count"] == 1
    assert m[1]["dup_line_chars"] == 3

    # doc 2: "a b c d e" at word pos 1..5 and 6..10 -> all 10 words covered
    assert m[2]["n_words"] == 10
    assert m[2]["dup5_covered_words"] == 10
    assert m[2]["dup5_covered_chars"] == 10
    assert m[2]["gopher_pass"] == 0  # 10*20 > 19*3

    # doc 3: grams at pos 1 and 2 are both "p p p p p" -> covered 1..6,
    #        union counted once
    assert m[3]["n_words"] == 6
    assert m[3]["dup5_covered_words"] == 6
    assert m[3]["dup5_covered_chars"] == 6
    # top bigram "p p" occurs 5 times, 2 chars
    assert m[3]["top_bigram_count"] == 5
    assert m[3]["top_bigram_chars"] == 10

    # doc 4: "hi yo" x3 beats "yo hi" x2; chars = 3 * (2 + 2) = 12
    assert m[4]["top_bigram_count"] == 3
    assert m[4]["top_bigram_chars"] == 12
    assert m[4]["gopher_pass"] == 0  # 12*5 > 17

    # doc 5: split('') -> [''] -> 1 empty word, 1 empty line, 0 chars
    assert m[5]["n_words"] == 1
    assert m[5]["n_chars"] == 0
    assert m[5]["n_lines"] == 1
    assert m[5]["dup_line_count"] == 0
    assert m[5]["top_bigram_count"] == 0
    assert m[5]["gopher_pass"] == 1

    # doc 6: one word, no bigrams, no 5-grams
    assert m[6]["n_words"] == 1
    assert m[6]["top_bigram_count"] == 0
    assert m[6]["dup5_covered_words"] == 0


def test_bigram_tiebreak_deterministic(spark):
    # two bigrams tied at 2 occurrences: "bb cc" (5 chars) must beat
    # "a a" (3 chars) on the longer-gram tie-break
    df = spark.createDataFrame(
        [(0, "a a bb cc a a bb cc")], "doc_id long, text string"
    )
    m = _by_id(repetition_metrics(df))
    # counts: "a a"x2... positions: (a a)(a bb)(bb cc)(cc a)(a a)(a bb)(bb cc)
    assert m[0]["top_bigram_count"] == 2
    assert m[0]["top_bigram_chars"] == 2 * 4  # "bb cc" -> "bb"+"cc"


def test_gopher_filter_keeps_clean_docs(docs):
    kept = {
        r["doc_id"]
        for r in repetition_metrics(docs).where("gopher_pass = 1").collect()
    }
    assert 0 in kept and 5 in kept
    assert 2 not in kept and 3 not in kept and 4 not in kept


def test_plan_no_cartesian_and_keyed_shuffles(docs):
    plan = repetition_metrics(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
