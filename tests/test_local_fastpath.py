"""The adaptive driver-local top-k (search/local.py) must return results
IDENTICAL to the distributed DataFrame plan — same docs, bit-equal scores —
across query shapes, and must refuse queries over the threshold."""

import random

import pytest
from pyspark.sql import Row

import whoosh_spark.query as Q
from whoosh_spark.index import Index, build_index
from whoosh_spark.schema import IndexSchema, TEXT
from whoosh_spark.search import Searcher

VOCAB = "alfa bravo charlie delta echo foxtrot golf hotel".split()
N_DOCS = 150


@pytest.fixture(scope="module")
def ix(spark, tmp_path_factory):
    rng = random.Random(5)
    docs = [
        (i, " ".join(rng.choice(VOCAB) for _ in range(rng.randint(3, 30))))
        for i in range(N_DOCS)
    ]
    d = str(tmp_path_factory.mktemp("localix"))
    schema = IndexSchema.of(text=TEXT())
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in docs])
    build_index(spark, df, schema, d, sha_col=None)
    return Index(spark, d)


def _gen(rng, depth=0):
    t = lambda: Q.Term("text", rng.choice(VOCAB),
                       boost=rng.choice([1.0, 1.0, 2.0, 0.5]))
    if depth >= 2 or rng.random() < 0.4:
        return t()
    kind = rng.randrange(7)
    subs = [_gen(rng, depth + 1) for _ in range(rng.randint(2, 3))]
    if kind == 0:
        return Q.And(subs)
    if kind == 1:
        return Q.Or(subs)
    if kind == 2:
        return Q.DisjunctionMax(subs)
    if kind == 3:
        return Q.AndNot(subs[0], subs[1])
    if kind == 4:
        return Q.AndMaybe(subs[0], subs[1])
    if kind == 5:
        return Q.And([subs[0], Q.Not(subs[1])])
    return Q.Phrase("text", [rng.choice(VOCAB) for _ in range(2)])


@pytest.mark.parametrize("seed", range(20))
def test_local_equals_distributed(ix, seed):
    rng = random.Random(seed)
    q = _gen(rng)
    fast = Searcher(ix, use_local=True)
    slow = Searcher(ix, use_local=False)
    got = [(r["doc_id"], r["score"]) for r in fast.search(q, limit=15).collect()]
    want = [(r["doc_id"], r["score"]) for r in slow.search(q, limit=15).collect()]
    assert got == want, (q, got[:5], want[:5])


def _has_not(q):
    return isinstance(q, Q.Not) or any(_has_not(c) for c in q.children())


@pytest.mark.parametrize("seed", range(40))
def test_bucket_placement_equals_generic(ix, seed, monkeypatch):
    """Cross-placement differential: past the local threshold, bucket_topk
    answers every tree without Not, bit-identical to the generic plan
    (Searcher.search with the placement patched off)."""
    from whoosh_spark.search import local as L

    q = _gen(random.Random(seed))
    s = Searcher(ix, use_local=False, local_threshold=0)
    out = L.bucket_topk(s, [("q", q)], 15)
    assert (out is not None) == (not _has_not(q)), q
    monkeypatch.setattr(L, "bucket_topk", lambda *a, **kw: None)
    want = [(r["doc_id"], r["score"]) for r in s.search(q, limit=15).collect()]
    if out is not None:
        got = [(r["doc_id"], r["score"]) for r in out.orderBy("rank").collect()]
        assert got == want, (q, got[:5], want[:5])


def test_local_read_error_falls_back(ix, monkeypatch):
    """An IO error while reading postings declines the driver placement;
    the search still returns the generic plan's rows."""
    import pyarrow.parquet as pq

    from whoosh_spark.search import local as L
    from whoosh_spark.search.local import try_local_search

    q = Q.Or([Q.Term("text", "alfa"), Q.And([Q.Term("text", "bravo"),
                                              Q.Not(Q.Term("text", "echo"))])])
    with monkeypatch.context() as m:
        m.setattr(L, "bucket_topk", lambda *a, **kw: None)
        slow = Searcher(ix, use_local=False)
        want = [(r["doc_id"], r["score"]) for r in slow.search(q, limit=15).collect()]

    def unreadable(*a, **kw):
        raise OSError("unreadable segment file")

    monkeypatch.setattr(pq, "read_table", unreadable)
    fast = Searcher(ix)
    assert try_local_search(fast, q, 15) is None
    got = [(r["doc_id"], r["score"]) for r in fast.search(q, limit=15).collect()]
    assert got == want


def test_local_path_actually_used(ix):
    from whoosh_spark.search.local import try_local_search

    s = Searcher(ix)
    rows = try_local_search(s, Q.Term("text", "alfa"), 10)
    assert rows is not None and len(rows) == 10


def test_threshold_refuses_big_queries(ix):
    from whoosh_spark.search.local import try_local_search

    s = Searcher(ix, local_threshold=1)
    assert try_local_search(s, Q.Term("text", "alfa"), 10) is None


def test_phrase_and_ordered_local(ix):
    for q in [Q.Phrase("text", ["alfa", "bravo"]),
              Q.Ordered("text", ["alfa", "hotel"])]:
        fast = Searcher(ix, use_local=True)
        slow = Searcher(ix, use_local=False)
        got = [(r["doc_id"], r["score"]) for r in fast.search(q, limit=None or 20).collect()]
        want = [(r["doc_id"], r["score"]) for r in slow.search(q, limit=20).collect()]
        assert got == want


def test_multiterm_local(ix):
    for q in [Q.Prefix("text", "a"), Q.Wildcard("text", "*o*"),
              Q.TermRange("text", "bravo", "echo"),
              Q.FuzzyTerm("text", "alfa", maxdist=1, prefixlength=0)]:
        fast = Searcher(ix, use_local=True)
        slow = Searcher(ix, use_local=False)
        got = [(r["doc_id"], r["score"]) for r in fast.search(q, limit=25).collect()]
        want = [(r["doc_id"], r["score"]) for r in slow.search(q, limit=25).collect()]
        assert got == want, (q, got[:5], want[:5])
        from whoosh_spark.search.local import try_local_search

        assert try_local_search(fast, q, 25) is not None


def test_timelimit_search(spark, ix):
    """TimeLimitCollector semantics: a generous budget returns the normal
    result; an impossible budget raises TimeLimit (or returns a completed
    partial in greedy mode)."""
    import whoosh_spark.query as Q
    from whoosh_spark.search import Searcher
    from whoosh_spark.search.timelimit import TimeLimit, search_with_timelimit

    s = Searcher(ix, use_local=False)
    q = Q.Term("text", "alfa")
    want = [(r["doc_id"], r["score"]) for r in s.search(q, limit=10).collect()]
    got = search_with_timelimit(s, q, timelimit=120.0, limit=10)
    assert [(r["doc_id"], r["score"]) for r in got] == want

    try:
        rows = search_with_timelimit(s, q, timelimit=0.001, limit=10)
        raised = False
    except TimeLimit:
        raised = True
        rows = None
    # 1ms budget: either the cancellation raced a finished job (rows equal)
    # or TimeLimit raised — both are contract-conforming
    assert raised or [(r["doc_id"], r["score"]) for r in rows] == want

    # greedy mode never raises; it returns a list (possibly empty partial)
    rows = search_with_timelimit(s, q, timelimit=0.001, limit=10, greedy=True)
    assert isinstance(rows, list)
