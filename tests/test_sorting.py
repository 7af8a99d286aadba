"""Sorting/faceting/collapse vs the reference (FIXTURES.md B4 sort9 corpus,
reference tests/test_sorting.py oracle pattern)."""

import pytest
from pyspark.sql import Row

import whoosh_spark.query as Q
from whoosh_spark.index import Index, build_index
from whoosh_spark.schema import IndexSchema, ID, NUMERIC, TEXT
from whoosh_spark.search import Searcher
from whoosh_spark.search.sorting import (
    collapse,
    facet_best,
    facet_counts,
    facet_groups,
    range_facet_col,
    search_sorted,
)

B4 = [
    ("zulu", 100, "one", 0.75),
    ("xray", -5, "three", 2.0),
    ("yankee", 3, "two", 5.5),
    ("alfa", 7, "three", 2.25),
    ("tango", 2, "two", 1.75),
    ("foxtrot", -800, "two", 3.25),
    ("sierra", 1, "one", 4.75),
    ("whiskey", 0, "three", 5.25),
    ("bravo", 582045, "three", 1.25),
]


@pytest.fixture(scope="module")
def b4_ours(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("b4"))
    schema = IndexSchema.of(
        id=ID(stored=True), num=NUMERIC(stored=True), frac=NUMERIC(stored=True),
        tag=ID(stored=True), ev=ID(),
    )
    rows = [Row(doc_id=i, id=i_, num=n, frac=f, tag=t, ev="a") for i, (i_, n, t, f) in enumerate(B4)]
    build_index(spark, spark.createDataFrame(rows), schema, d, sha_col=None)
    return Index(spark, d)


@pytest.fixture(scope="module")
def b4(b4_ours, whoosh_ref):
    from whoosh import fields
    from whoosh.filedb.filestore import RamStorage

    ws = fields.Schema(
        id=fields.ID(stored=True),
        num=fields.NUMERIC(int, stored=True),
        frac=fields.NUMERIC(float, stored=True),
        tag=fields.ID(stored=True),
        ev=fields.ID(),
    )
    wix = RamStorage().create_index(ws)
    w = wix.writer()
    for i_, n, t, f in B4:
        w.add_document(id=i_, num=n, frac=f, tag=t, ev="a")
    w.commit()
    return b4_ours, wix


@pytest.mark.parametrize("field,reverse", [
    ("id", False), ("id", True), ("num", False), ("num", True),
    ("frac", False), ("frac", True),
])
def test_sortedby_matches_whoosh(b4, whoosh_ref, field, reverse):
    ix, wix = b4
    from whoosh.query import Every

    with wix.searcher() as s:
        want = [h["id"] for h in s.search(Every("ev"), sortedby=field, reverse=reverse, limit=None)]
    got = [
        r["id"]
        for r in search_sorted(Searcher(ix), Q.Every("ev"), sortedby=field, reverse=reverse).collect()
    ]
    assert got == want
    # and the python-sorted oracle (reference tests/test_sorting.py:68-80)
    key_idx = {"id": 0, "num": 1, "frac": 3}[field]
    oracle = [r[0] for r in sorted(B4, key=lambda t: t[key_idx], reverse=reverse)]
    assert got == oracle


def test_sortedby_limit(b4, whoosh_ref):
    ix, wix = b4
    from whoosh.query import Every

    with wix.searcher() as s:
        want = [h["id"] for h in s.search(Every("ev"), sortedby="num", limit=3)]
    got = [r["id"] for r in search_sorted(Searcher(ix), Q.Every("ev"), "num", limit=3).collect()]
    assert got == want


def test_facet_counts_matches_whoosh(b4, whoosh_ref):
    ix, wix = b4
    from whoosh.query import Every
    from whoosh import sorting as wsorting

    with wix.searcher() as s:
        r = s.search(Every("ev"), groupedby={"tag": wsorting.FieldFacet("tag", maptype=wsorting.Count)})
        want = dict(r.groups("tag"))
    got = {r["value"]: r["count"] for r in facet_counts(Searcher(ix), Q.Every("ev"), "tag").collect()}
    assert got == want


def test_facet_groups_ordered(b4, whoosh_ref):
    ix, wix = b4
    from whoosh.query import Every

    with wix.searcher() as s:
        r = s.search(Every("ev"), groupedby="tag")
        want = {k: list(v) for k, v in r.groups("tag").items()}
    got = {r["value"]: list(r["doc_ids"]) for r in facet_groups(Searcher(ix), Q.Every("ev"), "tag").collect()}
    assert got == want


def test_collapse_matches_whoosh(b4, whoosh_ref):
    ix, wix = b4
    from whoosh.query import Every

    with wix.searcher() as s:
        want = [h["id"] for h in s.search(Every("ev"), collapse="tag", collapse_limit=1, limit=None)]
    got = [r["id"] for r in collapse(Searcher(ix), Q.Every("ev"), "tag", limit=None).collect()]
    assert sorted(got) == sorted(want)  # same kept set; order: score ties -> doc order both


def test_range_facet(b4_ours):
    ix = b4_ours
    s = Searcher(ix)
    from whoosh_spark.search.sorting import _matches_with_docs

    from pyspark.sql import functions as F

    df = _matches_with_docs(s, Q.Every("ev")).withColumn(
        "bucket", range_facet_col("frac", 0.0, 6.0, 2.0)
    )
    got = {r["bucket"]: r["n"] for r in df.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    # frac: 0.75,1.75,1.25 -> b0; 2.0,2.25,3.25 -> b1; 5.5,4.75,5.25 -> b2
    assert got == {0: 3, 1: 3, 2: 3}


def test_facet_best(b4_ours):
    ix = b4_ours
    got = {r["value"]: r["best_doc_id"] for r in facet_best(Searcher(ix), Q.Every("ev"), "tag").collect()}
    # Every scores all 1.0 -> best = lowest doc_id per tag
    assert got == {"one": 0, "three": 1, "two": 2}


def test_matched_terms(b4, whoosh_ref):
    from whoosh_spark.search.sorting import matched_terms

    ix, wix = b4
    # reference comparison: terms=True search records matched terms per hit
    from whoosh.query import Or, Term

    with wix.searcher() as s:
        r = s.search(Or([Term("tag", "one"), Term("tag", "two")]), terms=True, limit=None)
        want = {h.docnum: sorted(t[1].decode() for t in h.matched_terms()) for h in r}
    got_df = matched_terms(
        Searcher(ix), Q.Or([Q.Term("tag", "one"), Q.Term("tag", "two")]), limit=None
    )
    got = {r["doc_id"]: list(r["matched_terms"]) for r in got_df.collect()}
    assert got == want


def test_sorted_search_respects_filter_and_mask(spark, b4_ours):
    """search_results(sortedby=...) must honor filter_q/mask_q (they fold
    into the match set as Require/AndNot on the unscored path); unknown
    kwargs raise instead of being silently dropped."""
    ix = b4_ours
    s = Searcher(ix)
    every = Q.Term("ev", "a")

    res = s.search_results(every, limit=None, sortedby="num",
                           filter_q=Q.Term("tag", "three"))
    ids = [h["id"] for h in res]
    assert ids == ["xray", "whiskey", "alfa", "bravo"]

    res = s.search_results(every, limit=None, sortedby="num",
                           mask_q=Q.Term("tag", "three"))
    ids = [h["id"] for h in res]
    assert ids == ["foxtrot", "sierra", "tango", "yankee", "zulu"]

    import pytest as _pytest
    with _pytest.raises(TypeError, match="unsupported search kwargs"):
        s.search_results(every, sortedby="num", bogus_kwarg=1)
