"""NestedParent / NestedChildren vs the reference (its own chapter fixture,
query/nested.py docstring + tests/test_nested.py style)."""

import pytest
from pyspark.sql import Row

import whoosh_spark.query as Q
from whoosh_spark.index import Index, build_index
from whoosh_spark.schema import IndexSchema, ID, TEXT
from whoosh_spark.search import Searcher
from whoosh_spark.search.nested import nested_children, nested_parent

DOCS = [
    ("chap", "Chapter 1"),
    ("p", "Able baker"),
    ("p", "Bright morning day"),
    ("chap", "Chapter two"),
    ("p", "Car trip"),
    ("p", "Dog eared"),
    ("p", "Every day"),
    ("chap", "Chapter 3"),
    ("p", "Fine day day"),
]


@pytest.fixture(scope="module")
def nested_ours(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("nested"))
    schema = IndexSchema.of(type=ID(stored=True), text=TEXT(stored=True))
    df = spark.createDataFrame([Row(doc_id=i, type=t, text=x) for i, (t, x) in enumerate(DOCS)])
    build_index(spark, df, schema, d, sha_col=None)
    return Index(spark, d)


@pytest.fixture(scope="module")
def pair(nested_ours, whoosh_ref):
    from whoosh import fields
    from whoosh.filedb.filestore import RamStorage

    wix = RamStorage().create_index(
        fields.Schema(type=fields.ID(stored=True), text=fields.TEXT(stored=True))
    )
    w = wix.writer()
    for t, x in DOCS:
        w.add_document(type=t, text=x)
    w.commit()
    return nested_ours, wix


def test_nested_parent_matches_whoosh(pair, whoosh_ref):
    ix, wix = pair
    from whoosh import query as wq

    with wix.searcher() as s:
        r = s.search(
            wq.NestedParent(wq.Term("type", "chap"), wq.Term("text", "day")), limit=10
        )
        want = [(h.docnum, h.score) for h in r]
    got_df = nested_parent(
        Searcher(ix), Q.Term("type", "chap"), Q.Term("text", "day"), limit=10
    )
    got = [(r["doc_id"], r["score"]) for r in got_df.collect()]
    assert [d for d, _ in got] == [d for d, _ in want]
    for (d1, s1), (d2, s2) in zip(got, want):
        assert s1 == pytest.approx(s2, rel=1e-12), d1


def test_nested_parent_limit_and_fn(nested_ours):
    ix = nested_ours
    got = nested_parent(
        Searcher(ix), Q.Term("type", "chap"), Q.Term("text", "day"),
        per_parent_limit=1, score_fn="max", limit=10,
    ).collect()
    assert all(r["doc_id"] in (0, 3, 7) for r in got)


def test_nested_children_matches_whoosh(pair, whoosh_ref):
    ix, wix = pair
    from whoosh import query as wq

    with wix.searcher() as s:
        r = s.search(
            wq.NestedChildren(wq.Term("type", "chap"), wq.Term("text", "two")), limit=10
        )
        want = sorted(h.docnum for h in r)
    got_df = nested_children(Searcher(ix), Q.Term("type", "chap"), Q.Term("text", "two"))
    got = sorted(r["doc_id"] for r in got_df.collect())
    assert got == want  # the paragraphs of chapter 2
    assert got == [4, 5, 6]
