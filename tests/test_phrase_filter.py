"""Phrase slop + repeated words + search filter/mask differential tests
(FIXTURES.md B6; reference SpanNear2 positional.py:216-249 and
FilterCollector searching.py:445-463)."""

import pytest
from pyspark.sql import Row

import whoosh_spark.query as Q
from whoosh_spark.index import Index, build_index
from whoosh_spark.index.merge import clear_index
from whoosh_spark.index.segment import read_manifest
from whoosh_spark.schema import IndexSchema, ID, TEXT
from whoosh_spark.search import Searcher

DOCS = [
    ("A", "red red town render red"),
    ("B", "red green blue render town"),
    ("C", "render the red town again"),  # stopword between: positions renumber
    ("D", "town red render of red town"),
    ("E", "blue green yellow purple"),
    ("F", "red town red town red town"),
]


@pytest.fixture(scope="module")
def ph_ours(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ph"))
    schema = IndexSchema.of(key=ID(stored=True), value=TEXT())
    df = spark.createDataFrame([Row(doc_id=i, key=k, value=v) for i, (k, v) in enumerate(DOCS)])
    build_index(spark, df, schema, d, sha_col=None)
    return Index(spark, d)


@pytest.fixture(scope="module")
def pair(ph_ours, whoosh_ref):
    from whoosh import fields
    from whoosh.filedb.filestore import RamStorage

    wix = RamStorage().create_index(fields.Schema(key=fields.ID(stored=True), value=fields.TEXT()))
    w = wix.writer()
    for k, v in DOCS:
        w.add_document(key=k, value=v)
    w.commit()
    return ph_ours, wix


PHRASES = [
    (["red", "town"], 1),
    (["red", "town"], 2),
    (["red", "red"], 1),
    (["render", "red"], 2),
    (["red", "town", "red"], 1),
    (["red", "render"], 3),
    (["red", "town", "again"], 2),  # crosses a removed stopword
]


@pytest.mark.parametrize("words,slop", PHRASES, ids=[f"{'_'.join(w)}~{s}" for w, s in PHRASES])
def test_phrase_slop_matches_whoosh(pair, whoosh_ref, words, slop):
    ix, wix = pair
    from whoosh.query import Phrase

    with wix.searcher() as s:
        want = [(h.docnum, h.score) for h in s.search(Phrase("value", words, slop=slop), limit=10)]
    srch = Searcher(ix)
    got = [
        (r["doc_id"], r["score"])
        for r in srch.search(Q.Phrase("value", words, slop=slop), limit=10).collect()
    ]
    srch.clear_cache()
    assert got == want, f"{words}~{slop}"


def test_filter_and_mask_match_whoosh(pair, whoosh_ref):
    ix, wix = pair
    from whoosh.query import Term

    with wix.searcher() as s:
        want_f = [(h.docnum, h.score) for h in s.search(Term("value", "red"), filter=Term("value", "town"), limit=10)]
        want_m = [(h.docnum, h.score) for h in s.search(Term("value", "red"), mask=Term("value", "render"), limit=10)]
    srch = Searcher(ix)
    got_f = [(r["doc_id"], r["score"]) for r in srch.search(
        Q.Term("value", "red"), filter_q=Q.Term("value", "town"), limit=10).collect()]
    got_m = [(r["doc_id"], r["score"]) for r in srch.search(
        Q.Term("value", "red"), mask_q=Q.Term("value", "render"), limit=10).collect()]
    srch.clear_cache()
    assert got_f == want_f
    assert got_m == want_m


def test_clear_policy(spark, tmp_path):
    d = str(tmp_path / "clr")
    schema = IndexSchema.of(value=TEXT())
    df = spark.createDataFrame([Row(doc_id=i, value="alfa bravo") for i in range(6)])
    build_index(spark, df, schema, d, num_chunks=2, sha_col=None)
    assert read_manifest(d).doc_count_all() == 6
    cleared = clear_index(d)
    assert len(cleared) == 2
    m = read_manifest(d)
    assert m.segments == [] and m.completed_chunks == []
    # rebuild after clear works
    build_index(spark, df, schema, d, sha_col=None)
    assert read_manifest(d).doc_count_all() == 6


def test_ordered_semantics(ph_ours):
    """Ordered = sub-terms occur in document order at any distance. The
    REFERENCE's SpanBefore matcher misses valid docs when the query terms
    repeat (e.g. it returns only doc D for town<red on this corpus although
    docs A and F plainly contain town before red), so the oracle here is
    the ground-truth position check alone: for each word list, the matched
    doc ids must equal the docs whose analyzed tokens hold an increasing
    chain of positions, one per word in order. No reference result is
    compared."""
    ix = ph_ours

    def ordered_truth(words):
        from whoosh_spark.analysis import standard_analyzer

        ana = standard_analyzer()
        out = []
        for i, (_, text) in enumerate(DOCS):
            kept = ana.tokens(text)
            pls = [[p for t, p in kept if t == w] for w in words]
            if all(pls):
                # exists increasing chain p1 < p2 < ...
                cur = -1
                ok = True
                for pl in pls:
                    nxt = [p for p in pl if p > cur]
                    if not nxt:
                        ok = False
                        break
                    cur = min(nxt)
                if ok:
                    out.append(i)
        return sorted(out)

    srch = Searcher(ix)
    for words in [["red", "render"], ["town", "red"], ["red", "town", "render"],
                  ["render", "town"], ["blue", "render", "town"]]:
        got = sorted(
            r["doc_id"]
            for r in srch.search(Q.Ordered("value", words), limit=None).collect()
        )
        assert got == ordered_truth(words), words
    srch.clear_cache()
