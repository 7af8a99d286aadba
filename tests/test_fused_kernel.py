"""The bucket placement of the exact evaluator (search/local.py
bucket_topk, which Searcher.search routes flat bags and slop-1 phrases to
past the driver-local threshold, and batch_search every tree it accepts)
must return results BIT-IDENTICAL to the generic exact plan for every tree
it answers — same docs, same scores, same tie-breaks. Every batch route
for And-of-N equals per-query search too.

The suite's differential tests run on corpora small enough that the
driver-local path answers first, so this file forces the distributed
routes: use_local=False makes the bucket placement primary, and patching
bucket_topk to decline exposes the generic join/aggregation plan
underneath.
"""

import random

import pytest
from pyspark.sql import Row

import whoosh_spark.query as Q
from whoosh_spark.index import Index, build_index
from whoosh_spark.schema import IndexSchema, TEXT
from whoosh_spark.search import Searcher
from whoosh_spark.search import local as L

VOCAB = "alfa bravo charlie delta echo foxtrot golf hotel".split()
N_DOCS = 200


@pytest.fixture(scope="module")
def ix(spark, tmp_path_factory):
    rng = random.Random(11)
    docs = [
        (i, " ".join(rng.choice(VOCAB) for _ in range(rng.randint(4, 40))))
        for i in range(N_DOCS)
    ]
    d = str(tmp_path_factory.mktemp("fusedix"))
    schema = IndexSchema.of(text=TEXT())
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in docs])
    build_index(spark, df, schema, d, sha_col=None)
    return Index(spark, d)


def T(t, boost=1.0):
    return Q.Term("text", t, boost=boost)


CASES = {
    "term": lambda: T("alfa"),
    "or2": lambda: Q.Or([T("alfa"), T("bravo")]),
    "or5": lambda: Q.Or([T(t) for t in VOCAB[:5]]),
    "or_dup": lambda: Q.Or([T("alfa"), T("alfa")]),
    "or_missing": lambda: Q.Or([T("alfa"), T("zzz")]),
    "or_minmatch": lambda: Q.Or([T(t) for t in VOCAB[:4]], minmatch=2),
    "and2": lambda: Q.And([T("alfa"), T("bravo")]),
    "and3": lambda: Q.And([T("charlie"), T("alfa"), T("bravo")]),
    "and4": lambda: Q.And([T(t) for t in VOCAB[:4]]),
    "and_missing": lambda: Q.And([T("alfa"), T("zzz")]),
    "dismax": lambda: Q.DisjunctionMax([T("alfa"), T("bravo"), T("echo")]),
    "andnot": lambda: Q.AndNot(T("alfa"), T("bravo")),
    "andnot_or_both": lambda: Q.AndNot(Q.Or([T("alfa"), T("charlie")]),
                                       Q.Or([T("bravo"), T("delta")])),
    "andnot_overlap": lambda: Q.AndNot(Q.Or([T("alfa"), T("bravo")]), T("bravo")),
    "require": lambda: Q.Require(T("alfa"), T("bravo")),
    "require_and_a": lambda: Q.Require(Q.And([T("alfa"), T("charlie")]), T("echo")),
    "phrase2": lambda: Q.Phrase("text", ["alfa", "bravo"]),
    "phrase3": lambda: Q.Phrase("text", ["alfa", "bravo", "charlie"]),
    "phrase1": lambda: Q.Phrase("text", ["alfa"]),
    "phrase_dup": lambda: Q.Phrase("text", ["alfa", "alfa"]),
    "phrase_missing": lambda: Q.Phrase("text", ["alfa", "zzz"]),
}

#: trees Searcher.search leaves on the generic plan but batch_search sends
#: to the bucket placement (one bucket_topk call for the whole batch)
NESTED = {
    "term_boosted": lambda: T("alfa", 2.0),
    "or_boosted": lambda: Q.Or([T("alfa", 2.0), T("bravo", 0.5)], boost=1.5),
    "minmatch_nested": lambda: Q.Or([
        Q.And([T("alfa"), T("bravo")]), T("charlie", 3.0),
        Q.Or([T("delta"), T("echo"), T("golf")], minmatch=2),
    ], minmatch=2),
    "andmaybe": lambda: Q.AndMaybe(T("alfa"), Q.Or([T("bravo"), T("charlie")])),
}


def _top(s, q, limit):
    return [(r["doc_id"], r["score"]) for r in s.search(q, limit=limit).collect()]


def _spy(monkeypatch) -> list:
    """Patch bucket_topk to record, per call, whether it answered."""
    answered = []
    orig = L.bucket_topk

    def spy(*a, **kw):
        out = orig(*a, **kw)
        answered.append(out is not None)
        return out

    monkeypatch.setattr(L, "bucket_topk", spy)
    return answered


def _generic_top(s, q, limit, monkeypatch):
    with monkeypatch.context() as m:
        m.setattr(L, "bucket_topk", lambda *a, **kw: None)
        return _top(s, q, limit)


@pytest.mark.parametrize("name", sorted(CASES))
def test_fused_single_bit_identical(ix, name, monkeypatch):
    q = CASES[name]()
    s = Searcher(ix, exact_scores=True, cache_postings=False,
                 use_local=False, local_threshold=0)
    answered = _spy(monkeypatch)
    got = _top(s, q, 15)
    assert answered == [True], "tree not answered by the bucket placement"
    want = _generic_top(s, q, 15, monkeypatch)
    assert got == want, (name, got[:5], want[:5])


def test_fused_relaxed_contract_not_routed(ix, monkeypatch):
    """exact_scores=False searchers keep their aggregation plan (oracle
    comparisons hash that plan's output)."""
    s = Searcher(ix, exact_scores=False, cache_postings=False, use_local=False)
    answered = _spy(monkeypatch)
    s.search(Q.Or([T("alfa"), T("bravo")]), limit=10).collect()
    assert answered == []


@pytest.mark.parametrize("name", sorted(NESTED))
def test_bucket_topk_nested_bit_identical(ix, name, monkeypatch):
    """Boosted, nested-minmatch and AndMaybe trees: Searcher.search keeps
    them on the generic plan; bucket_topk called with them matches it."""
    q = NESTED[name]()
    s = Searcher(ix, exact_scores=True, cache_postings=False,
                 use_local=False, local_threshold=0)
    answered = _spy(monkeypatch)
    want = _top(s, q, 15)
    assert answered == [], "Searcher.search routed an unmeasured shape"
    got = [(r["doc_id"], r["score"]) for r in
           L.bucket_topk(s, [("q", q)], 15).orderBy("rank").collect()]
    assert got == want, (name, got[:5], want[:5])


def test_fused_declines_boosts_and_mixed_shapes(ix):
    """Searcher.search routes only flat bags, slop-1 phrases and
    AndNot/Require of a bag; bucket_topk itself declines Not, Or(scale=),
    sloppy phrases and non-BM25F weightings."""
    from whoosh_spark.search.scoring import TF_IDF

    s = Searcher(ix, exact_scores=True, cache_postings=False, use_local=False,
                 local_threshold=0)
    assert L.kernel_shape(Q.Or([T("alfa"), T("bravo")], minmatch=2))
    assert not L.kernel_shape(Q.Or([T("alfa", 2.0), T("bravo")]))
    assert not L.kernel_shape(Q.Or([T("alfa"), Q.Phrase("text", ["a", "b"])]))
    assert not L.kernel_shape(Q.And([T("alfa"), T("alfa")]))  # dup terms
    assert not L.kernel_shape(Q.Phrase("text", ["alfa", "bravo"], slop=2))
    assert not L.kernel_shape(Q.AndMaybe(T("alfa"), T("bravo")))

    def gate(q, searcher=s):
        return L.bucket_topk(searcher, [("q", q)], 10) is not None

    assert gate(Q.Or([T("alfa", 2.0), Q.Phrase("text", ["a", "b"])]))
    assert not gate(Q.Phrase("text", ["alfa", "bravo"], slop=2))
    assert not gate(Q.Or([T("alfa"), Q.Phrase("text", ["alfa", "bravo"], slop=3)]))
    assert not gate(Q.Not(T("alfa")))
    assert not gate(Q.And([T("alfa"), Q.Not(T("bravo"))]))
    assert not gate(Q.Or([T("alfa"), T("bravo")], scale=0.5))
    assert not gate(T("alfa"), Searcher(ix, weighting=TF_IDF(), use_local=False))


def test_fused_batch_matches_dataframe_plan(ix, monkeypatch):
    """Every batch query equals per-query Searcher.search bit for bit —
    And-of-3/4 included, which needs the engine's huffman (df-descending)
    sum order — and the kernel equals the DataFrame batch plans."""
    import whoosh_spark.search.batch as B

    rng = random.Random(3)
    s = Searcher(ix, exact_scores=True, cache_postings=False)

    def by_query(df):
        out: dict = {}
        for r in sorted(df.collect(), key=lambda r: (r["query_id"], r["rank"])):
            out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        return out

    def skip_plan(batch):
        return B.batch_conjunctive_search(s, batch, k=8)

    def full_plan(batch):
        with monkeypatch.context() as m:
            m.setattr(L, "bucket_topk", lambda *a, **kw: None)
            return B.batch_term_search(s, batch, k=8, conjunctive=True,
                                       conjunctive_skip=False)

    for n_terms, conj in ((2, False), (2, True), (3, True), (4, True)):
        batch = [(f"q{i}", "text", rng.sample(VOCAB, n_terms)) for i in range(25)]
        node = Q.And if conj else Q.Or
        routes = [B.batch_term_search(s, batch, k=8, conjunctive=conj)]
        if conj:
            # the DataFrame And plans sum in the same huffman order
            routes += [skip_plan(batch), full_plan(batch)]
        for route in routes:
            got = by_query(route)
            for qid, field, terms in batch:
                want = _top(s, node([Q.Term(field, t) for t in terms]), 8)
                assert got.get(qid, []) == want, (n_terms, conj, qid, terms)

    batch = [(f"q{i}", "text", rng.sample(VOCAB, 2)) for i in range(25)]

    def rows(df):
        return sorted((r["query_id"], r["rank"], r["doc_id"], r["score"])
                      for r in df.collect())

    for conj in (False, True):
        fused = rows(B.batch_term_search(s, batch, k=8, conjunctive=conj))
        if conj:
            plan = rows(B.batch_conjunctive_search(s, batch, k=8))
        else:
            with monkeypatch.context() as m:
                m.setattr(L, "bucket_topk", lambda *a, **kw: None)
                plan = rows(B.batch_term_search(s, batch, k=8, use_wand=False))
        assert fused == plan, f"conjunctive={conj}"


def test_batch_search_one_bucket_call(ix, monkeypatch):
    """batch_search sends bag trees and the fallback trees bucket_topk
    accepts to ONE bucket_topk call; Not trees run per query. Every query
    equals per-query Searcher.search."""
    from whoosh_spark.search.batch import batch_search

    s = Searcher(ix, exact_scores=True, cache_postings=False,
                 use_local=False, local_threshold=0)
    queries = [(f"c{n}", f()) for n, f in sorted(CASES.items())
               if not n.startswith("phrase")]
    queries += [(f"n{n}", f()) for n, f in sorted(NESTED.items())]
    queries.append(("not", Q.And([T("alfa"), Q.Not(T("bravo"))])))
    want = {qid: _top(s, q, 8) for qid, q in queries}
    answered = _spy(monkeypatch)
    rows = batch_search(s, queries, k=8).collect()
    assert answered == [True]
    got: dict = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, _ in queries:
        assert got.get(qid, []) == want[qid], qid


def test_selective_conjunctive_batch_matches_search(spark, tmp_path, monkeypatch):
    """A selective And-of-3/4 batch (each query has a doc-range-sparse
    term) takes the chunk-intersection plan, not the bucket placement,
    and still equals per-query Searcher.search bit for bit."""
    from whoosh_spark.search.batch import _selective_fraction, batch_search

    rng = random.Random(5)
    n_docs = 2560  # selectivity cutoff: df <= 2560 // 256 = 10
    rare = [f"rare{j}" for j in range(6)]
    docs = []
    for i in range(n_docs):
        words = [rng.choice(VOCAB) for _ in range(rng.randint(4, 30))]
        if i % 320 < 6:  # each rare term in ~8 docs, spread over the ids
            words += [rare[(i // 320 + i) % len(rare)]] * rng.randint(1, 3)
        docs.append(Row(doc_id=i, text=" ".join(words)))
    d = str(tmp_path / "selix")
    build_index(spark, spark.createDataFrame(docs), IndexSchema.of(text=TEXT()),
                d, sha_col=None)
    s = Searcher(Index(spark, d), exact_scores=True, cache_postings=False,
                 use_local=False, local_threshold=0)
    queries = []
    for i in range(20):
        terms = [rng.choice(rare)] + rng.sample(VOCAB, 2 + i % 2)
        rng.shuffle(terms)
        queries.append((f"q{i}", "text", terms))
    assert _selective_fraction(s, queries, 3) >= 0.8
    trees = [(qid, Q.And([Q.Term(f, t) for t in ts])) for qid, f, ts in queries]
    want = {qid: _top(s, q, 3) for qid, q in trees}
    answered = _spy(monkeypatch)
    rows = batch_search(s, trees, k=3).collect()
    assert answered == []
    got: dict = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    assert any(got.values())
    for qid, _ in trees:
        assert got.get(qid, []) == want[qid], qid


def test_fused_tombstoned_index_bit_identical(spark, ix, tmp_path, monkeypatch):
    """Deleted doc ids ship in the kernel closure and are dropped during
    decode: the bucket placement answers and matches the generic plan on
    the same tombstoned copy."""
    import shutil

    from whoosh_spark.index.merge import delete_docs

    d = str(tmp_path / "delix")
    shutil.copytree(ix.index_dir, d)
    delete_docs(spark, d, [0, 1, 2, 57])
    ix2 = Index(spark, d)
    s = Searcher(ix2, exact_scores=True, cache_postings=False,
                 use_local=False, local_threshold=0)
    answered = _spy(monkeypatch)
    for q in (Q.Or([T("alfa"), T("bravo")]),
              Q.And([T("alfa"), T("charlie"), T("bravo")]),
              Q.Phrase("text", ["alfa", "bravo"])):
        got = _top(s, q, N_DOCS)
        assert got == _generic_top(s, q, N_DOCS, monkeypatch), q
        assert got and not ({0, 1, 2, 57} & {doc for doc, _ in got})
    assert answered == [True] * 3
