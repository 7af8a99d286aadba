"""Differential tests: our analyzer chain vs reference Whoosh's
StandardAnalyzer (RegexTokenizer | LowercaseFilter | StopFilter)."""

import random

import pytest

from whoosh_spark.analysis import standard_analyzer, simple_analyzer


SAMPLES = [
    "This is a test",
    "hi there 3.141 big-time under_score",
    "def foo(self): return self.x  # a comment",
    "import os, sys\nclass Foo:\n    pass",
    "THE QUICK brown FoX and a an it to",
    "",
    "a",
    "x" * 300,
    "one.two.three a.b mixed.Case.Path",
    "tbd tbd yet your f g hh",
    "unicode café naïve über straße Αβγ",
    "red red town render red",
]


def ref_tokens(whoosh_ref, text, positions=True):
    from whoosh.analysis import StandardAnalyzer

    ana = StandardAnalyzer()
    return [(t.text, t.pos if positions else None) for t in ana(text, positions=positions)]


@pytest.mark.parametrize("text", SAMPLES)
def test_standard_analyzer_matches_whoosh(whoosh_ref, text):
    ours = standard_analyzer().tokens(text)
    theirs = ref_tokens(whoosh_ref, text)
    assert ours == theirs


def test_random_texts_match_whoosh(whoosh_ref):
    rng = random.Random(42)
    vocab = ["def", "import", "a", "it", "the", "foo", "bar2", "x", "self", "return", "Class", "a.b.c", "Mixed_Case"]
    for _ in range(50):
        text = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40)))
        assert standard_analyzer().tokens(text) == ref_tokens(whoosh_ref, text)


def test_analyze_doc_aggregation():
    text = "red red town render red a it"
    terms, length = standard_analyzer().analyze_doc(text)
    d = {t: (tf, ps) for t, tf, ps in terms}
    assert length == 5
    assert d["red"] == (3, [0, 1, 4])
    assert d["town"] == (1, [2])
    assert d["render"] == (1, [3])


def test_stopfilter_first_kept_keeps_original_pos(whoosh_ref):
    # "a an the foo bar" — first kept token 'foo' has original pos 3
    ours = standard_analyzer().tokens("a an the foo bar")
    theirs = ref_tokens(whoosh_ref, "a an the foo bar")
    assert ours == theirs
    assert ours[0] == ("foo", 3)
    assert ours[1] == ("bar", 4)


def test_spark_udf_matches_driver(spark):
    from pyspark.sql import Row

    ana = standard_analyzer()
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(SAMPLES)])
    rows = ana.apply(df, "text").select("doc_id", "_analysis").collect()
    for r in rows:
        text = SAMPLES[r["doc_id"]]
        terms, length = ana.analyze_doc(text)
        got = sorted((t["term"], t["tf"], list(t["positions"])) for t in r["_analysis"]["terms"])
        want = sorted((t, tf, ps) for t, tf, ps in terms)
        assert got == want
        assert r["_analysis"]["length"] == length


def test_simple_analyzer_no_stop():
    assert [t for t, _ in simple_analyzer().tokens("This is a test")] == ["this", "is", "a", "test"]
