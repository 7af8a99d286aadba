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
    got = _by_query(batch_search(s, queries, k=8).collect())
    assert answered == [True]
    for qid, _ in queries:
        assert got.get(qid, []) == want[qid], qid


def _by_query(rows) -> dict:
    out: dict = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return out


#: batch_search's DataFrame kernels, which serve what bucket_topk declines
KERNELS = ("batch_term_search", "batch_phrase_search", "batch_prefix_search",
           "batch_fuzzy_search", "batch_multiterm_search")


def _kernel_spy(monkeypatch) -> dict:
    """Patch the batch kernels to record the query ids of each call."""
    import whoosh_spark.search.batch as B

    calls: dict = {n: [] for n in KERNELS}
    for name in KERNELS:
        def spy(searcher, queries, *a, _name=name, _orig=getattr(B, name), **kw):
            calls[_name].append(sorted(q[0] for q in queries))
            return _orig(searcher, queries, *a, **kw)

        monkeypatch.setattr(B, name, spy)
    return calls


MIX_VOCAB = "alfa bravo charlie sort sorted sorting scan scanner merge mergesort join".split()


@pytest.fixture(scope="module")
def mix(spark, tmp_path_factory):
    """A 200-doc index whose lexicon has shared prefixes: ``sor*`` expands
    to three terms, ``merge*`` to two, ``join*`` to one. Doc 0 starts with
    the phrase "sort merge join"."""
    rng = random.Random(17)
    docs = [" ".join(rng.choice(MIX_VOCAB) for _ in range(rng.randint(4, 40)))
            for _ in range(N_DOCS)]
    docs[0] = "sort merge join " + docs[0]
    d = str(tmp_path_factory.mktemp("mixix"))
    build_index(spark, spark.createDataFrame([Row(doc_id=i, text=t)
                                              for i, t in enumerate(docs)]),
                IndexSchema.of(text=TEXT()), d, sha_col=None)
    return Index(spark, d)


def M(t):
    return Q.Term("text", t)


#: a mixed query log every tree of which bucket_topk accepts, but for the
#: Not tree, which runs per query
MIXED_LOG = {
    "phrase2": lambda: Q.Phrase("text", ["alfa", "bravo"]),
    "phrase3": lambda: Q.Phrase("text", ["sort", "merge", "join"]),
    "phrase_dup": lambda: Q.Phrase("text", ["alfa", "alfa"]),
    "phrase_missing": lambda: Q.Phrase("text", ["alfa", "zzz"]),
    "prefix0": lambda: Q.Prefix("text", "zz"),
    "prefix1": lambda: Q.Prefix("text", "joi"),
    "prefix2": lambda: Q.Prefix("text", "merge"),
    "prefix3": lambda: Q.Prefix("text", "sor"),
    "wildcard": lambda: Q.Wildcard("text", "s*n*"),
    "fuzzy": lambda: Q.FuzzyTerm("text", "sorte"),
    "term": lambda: M("scan"),
    "or2": lambda: Q.Or([M("alfa"), M("join")]),
    "or3": lambda: Q.Or([M("sorted"), M("scanner"), M("charlie")]),
    "and2": lambda: Q.And([M("alfa"), M("sort")]),
    "and3": lambda: Q.And([M("merge"), M("bravo"), M("scan")]),
    "not": lambda: Q.And([M("alfa"), Q.Not(M("bravo"))]),
}

#: MIXED_LOG queries that match nothing
MIXED_EMPTY = {"phrase_missing", "prefix0"}


def _answering_spy(monkeypatch) -> list:
    """Patch bucket_topk to record the sorted query ids of each call that
    answers."""
    answered: list = []
    orig = L.bucket_topk

    def spy(searcher, trees, k):
        out = orig(searcher, trees, k)
        if out is not None:
            answered.append(sorted(qid for qid, _ in trees))
        return out

    monkeypatch.setattr(L, "bucket_topk", spy)
    return answered


def test_batch_search_mixed_log_one_bucket_call(mix, monkeypatch):
    """Slop-1 phrases, cached-lexicon prefixes (0, 1, 2 and 3 terms), a
    Wildcard and term/And bags all join ONE bucket_topk call; the phrase,
    prefix and multiterm kernels never run. The FuzzyTerm stays on
    batch_fuzzy_search, whose expanded bag is a second bucket_topk call
    of its own. Every query equals per-query Searcher.search exactly."""
    from whoosh_spark.search.batch import batch_search

    s = Searcher(mix, exact_scores=True, cache_postings=False,
                 use_local=False, local_threshold=0)
    queries = [(n, f()) for n, f in sorted(MIXED_LOG.items())]
    want = {qid: _top(s, q, 8) for qid, q in queries}
    assert all(bool(want[qid]) == (qid not in MIXED_EMPTY) for qid, _ in queries)
    calls = _kernel_spy(monkeypatch)
    answered = _answering_spy(monkeypatch)
    got = _by_query(batch_search(s, queries, k=8).collect())
    assert answered == [sorted(set(MIXED_LOG) - {"fuzzy", "not"}), ["fuzzy"]]
    assert calls == {**{n: [] for n in KERNELS},
                     "batch_fuzzy_search": [["fuzzy"]],
                     "batch_term_search": [["fuzzy"]]}
    for qid, _ in queries:
        assert got.get(qid, []) == want[qid], qid


def _declined_case(case, spark, mix, monkeypatch):
    """(searcher, queries, round_to, kernel -> expected calls, query ids
    of each bucket_topk call that answers) for one shape bucket_topk
    declines, mixed with trees it accepts where the case allows."""
    import whoosh_spark.search.batch as B
    from whoosh_spark.search.scoring import TF_IDF

    opts = dict(exact_scores=True, cache_postings=False, use_local=False,
                local_threshold=0)
    phrase = ("phrase", Q.Phrase("text", ["alfa", "bravo"]))
    if case == "slop2":
        queries = [("sloppy", Q.Phrase("text", ["sort", "join"], slop=2)), phrase]
        return (Searcher(mix, **opts), queries, None,
                {"batch_phrase_search": [["sloppy"]]}, [["phrase"]])
    if case == "round_to":
        queries = [(n, MIXED_LOG[n]()) for n in
                   ("phrase2", "prefix3", "wildcard", "fuzzy", "or2", "and2")]
        return (Searcher(mix, **opts), queries, 6,
                {"batch_phrase_search": [["phrase2"]],
                 "batch_prefix_search": [["prefix3"]],
                 "batch_multiterm_search": [["wildcard"]],
                 "batch_fuzzy_search": [["fuzzy"]]}, [])
    if case == "uncached_lexicon":
        monkeypatch.setattr(Index, "PREFETCH_TERMS", 0)
        fresh = Index(spark, mix.index_dir)
        queries = [(n, MIXED_LOG[n]()) for n in ("prefix3", "wildcard", "fuzzy")]
        return (Searcher(fresh, **opts), queries + [phrase], None,
                {"batch_prefix_search": [["prefix3"]],
                 "batch_multiterm_search": [["wildcard"]],
                 "batch_fuzzy_search": [["fuzzy"]]},
                # the fuzzy kernel scores its expanded bag through bucket_topk
                [["fuzzy"], ["phrase"]])
    if case == "wide_expansion":
        monkeypatch.setattr(B, "BUCKET_MAX_EXPANSION", 2)
        queries = [(n, MIXED_LOG[n]()) for n in ("prefix3", "prefix2", "wildcard")]
        return (Searcher(mix, **opts), queries + [phrase], None,
                {"batch_prefix_search": [["prefix3"]],
                 "batch_multiterm_search": [["wildcard"]]},
                [["phrase", "prefix2"]])
    if case == "max_expansion":
        queries = [("prefix3", MIXED_LOG["prefix3"]()),  # 3 terms > 2
                   ("prefix2", MIXED_LOG["prefix2"]()), phrase]
        return (Searcher(mix, max_expansion=2, **opts), queries, None,
                {"batch_prefix_search": [["prefix3"]]}, [["phrase", "prefix2"]])
    assert case == "tf_idf"
    queries = [(n, MIXED_LOG[n]()) for n in ("phrase2", "prefix3", "term", "or2")]
    return (Searcher(mix, weighting=TF_IDF(), **opts), queries, None,
            {"batch_phrase_search": [["phrase2"]],
             "batch_prefix_search": [["prefix3"]]}, [])


@pytest.mark.parametrize(
    "case", ["slop2", "round_to", "uncached_lexicon", "wide_expansion",
             "max_expansion", "tf_idf"])
def test_batch_search_declined_trees_keep_their_kernels(case, spark, mix, monkeypatch):
    """A tree bucket_topk declines — a slop-2 phrase, any tree of a
    round_to batch, a multiterm over an uncached lexicon or past
    max_expansion, any tree under a non-BM25F weighting — and a multiterm
    batch_search keeps off it for expanding past BUCKET_MAX_EXPANSION
    still reach their DataFrame kernels; the accepted trees of the same
    batch still join one bucket_topk call; every query equals per-query
    search."""
    from whoosh_spark.search.batch import batch_search

    s, queries, round_to, expected, bucket = _declined_case(
        case, spark, mix, monkeypatch)
    k = N_DOCS if round_to else 8  # no rounded k-boundary tie-cut
    want = {qid: _top(s, q, k) for qid, q in queries}
    calls = _kernel_spy(monkeypatch)
    answered = _answering_spy(monkeypatch)
    got = _by_query(batch_search(s, queries, k=k, round_to=round_to).collect())
    for kernel, qids in expected.items():
        assert calls[kernel] == qids, kernel
    assert sorted(answered) == bucket
    assert all(want.values())
    for qid, _ in queries:
        if round_to is None:
            assert got.get(qid, []) == want[qid], qid
        else:
            assert sorted(got.get(qid, [])) == sorted(
                (d, round(sc, round_to)) for d, sc in want[qid]), qid


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
    got = _by_query(batch_search(s, trees, k=3).collect())
    assert answered == []
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
