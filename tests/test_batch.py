import pytest
from pyspark.sql import Row

import whoosh_spark.query as Q
from whoosh_spark.index import Index, build_index
from whoosh_spark.schema import IndexSchema, TEXT
from whoosh_spark.search import Searcher
from whoosh_spark.search.batch import batch_term_search


@pytest.fixture(scope="module")
def ix(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("batch_idx"))
    import random

    rng = random.Random(42)
    vocab = "alfa bravo charlie delta echo foxtrot".split()
    rows = [
        Row(doc_id=i, text=" ".join(rng.choice(vocab) for _ in range(rng.randint(10, 20))))
        for i in range(100)
    ]
    build_index(spark, spark.createDataFrame(rows), IndexSchema.of(text=TEXT()), d, sha_col=None)
    return Index(spark, d)


def test_batch_matches_per_query_engine(ix):
    s = Searcher(ix, exact_scores=False, cache_postings=False)
    batch = [
        ("q1", "text", ["alfa"]),
        ("q2", "text", ["alfa", "echo"]),
        ("q3", "text", ["bravo", "charlie", "delta"]),
    ]
    out = batch_term_search(s, batch, k=10).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, field, terms in batch:
        want_df = s.search(Q.Or([Q.Term(field, t) for t in terms]), limit=10)
        want = [(i + 1, r["doc_id"]) for i, r in enumerate(want_df.collect())]
        got = [(rk, d) for rk, d, _ in sorted(by_q[qid])]
        assert got == want, qid


def test_batch_wand_equals_exact(ix):
    s = Searcher(ix, exact_scores=True, cache_postings=False, use_local=False)
    batch = [
        ("q1", "text", ["alfa"]),
        ("q2", "text", ["alfa", "echo"]),
        ("q3", "text", ["bravo", "charlie", "delta"]),
    ]
    exact = _ranked(batch_term_search(s, batch, k=10, use_wand=False))
    assert _ranked(batch_term_search(s, batch, k=10, use_wand=True)) == exact


def test_wand_repeated_term_scores_per_occurrence(ix):
    """A repeated term scores once per occurrence (the reference does not
    dedupe at match time), on the batch and the single-query WAND."""
    s = Searcher(ix, exact_scores=True, cache_postings=False, use_local=False)
    qs = [("q", "text", ["alfa", "alfa"])]
    exact = _ranked(batch_term_search(s, qs, k=10, use_wand=False))
    assert len(exact["q"]) == 10
    assert _ranked(batch_term_search(s, qs, k=10, use_wand=True)) == exact

    q = Q.Or([Q.Term("text", "alfa"), Q.Term("text", "alfa")])
    want = [(r["doc_id"], r["score"]) for r in s.search(q, limit=10, use_wand=False).collect()]
    got = [(r["doc_id"], r["score"]) for r in s.search(q, limit=10, use_wand=True).collect()]
    assert got == want
    assert [(d, sc) for _, d, sc in exact["q"]] == want


def test_batch_conjunctive(ix):
    s = Searcher(ix, exact_scores=False, cache_postings=False)
    out = batch_term_search(s, [("q", "text", ["alfa", "echo"])], k=100, conjunctive=True).collect()
    want = s.search(Q.And([Q.Term("text", "alfa"), Q.Term("text", "echo")]), limit=100).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(r["doc_id"] for r in want)
    got_scores = {r["doc_id"]: r["score"] for r in out}
    for r in want:
        assert got_scores[r["doc_id"]] == pytest.approx(r["score"], rel=1e-12)


def test_chunk_aligned_wand_prunes_sparse_term_ranges(spark, tmp_path):
    """POSITIVE pruning evidence for the chunk-aligned doc-range bound: the
    whole corpus is ONE salt bucket (4000 docs < default bucket_width), so
    a per-bucket rest could never prune — but the rare term's postings all
    live in the first 256-id chunk, so the hot term's blocks outside that
    doc range bound below theta and must prune, while results stay
    identical to the exact path. (On the saturated control workload in
    BENCH/WAND_SKEW.json every term touches every chunk and nothing can
    prune — this test isolates the regime the bound is FOR.)"""
    import random

    from whoosh_spark.search.batch import batch_wand_search

    rng = random.Random(7)
    rows = []
    for i in range(4000):
        words = ["hot"] * rng.randint(1, 4) + ["filler%d" % rng.randint(0, 30)
                                               for _ in range(rng.randint(5, 15))]
        if i < 40:  # rare term only in doc ids 0..39 = chunk 0 (BOUND_CHUNK=256)
            words.append("rareterm")
        rng.shuffle(words)
        rows.append(Row(doc_id=i, text=" ".join(words)))
    d = str(tmp_path / "sparse")
    build_index(spark, spark.createDataFrame(rows), IndexSchema.of(text=TEXT()),
                d, sha_col=None)
    s = Searcher(Index(spark, d), exact_scores=True, cache_postings=False,
                 use_local=False)
    qs = [("q0", "text", ["hot", "rareterm"])]

    exact = _ranked(batch_term_search(s, qs, k=5, use_wand=False))
    out, stats = batch_wand_search(s, qs, k=5, with_stats=True)
    assert _ranked(out) == exact
    assert stats["qt_blocks_kept"] < stats["qt_blocks_total"], stats
    # the hot term's ~32 blocks span 16 chunks; the rare term lives in
    # chunk 0 only — the vast majority of the batch's blocks must prune
    # even though every block shares the single bucket
    assert stats["qt_blocks_kept"] <= stats["qt_blocks_total"] * 0.4, stats


def test_batch_phrase_matches_per_query_engine(ix):
    from whoosh_spark.search.batch import batch_phrase_search

    s = Searcher(ix, exact_scores=True, cache_postings=False, use_local=False)
    batch = [
        ("q1", "text", ["alfa", "echo"]),
        ("q2", "text", ["bravo", "charlie"]),
        ("q3", "text", ["delta"]),
        ("q4", "text", ["alfa", "alfa"]),          # repeated word
        ("q5", "text", ["alfa", "zzz_missing"]),   # missing word -> empty
    ]
    for skip in (True, False):
        out = batch_phrase_search(s, batch, k=20, conjunctive_skip=skip).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], round(r["score"], 9)))
        for qid, field, words in batch:
            want_df = s.search(Q.Phrase(field, words), limit=20)
            want = [(i + 1, r["doc_id"], round(r["score"], 9))
                    for i, r in enumerate(want_df.collect())]
            got = sorted(by_q.get(qid, []))
            assert got == want, (qid, skip)
        assert "q5" not in by_q


def test_batch_phrase_slop_matches_per_query_engine(ix):
    from whoosh_spark.search.batch import batch_phrase_search

    s = Searcher(ix, exact_scores=True, cache_postings=False, use_local=False)
    batch = [
        ("q1", "text", ["alfa", "echo"]),
        ("q2", "text", ["bravo", "charlie", "delta"]),
    ]
    out = batch_phrase_search(s, batch, k=20, slop=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 9)))
    for qid, field, words in batch:
        want_df = s.search(Q.Phrase(field, words, slop=2), limit=20)
        want = [(i + 1, r["doc_id"], round(r["score"], 9))
                for i, r in enumerate(want_df.collect())]
        assert sorted(by_q.get(qid, [])) == want, qid


@pytest.fixture(scope="module")
def pix(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("prefix_idx"))
    import random

    rng = random.Random(7)
    vocab = "sort sorted sorting scan scanner merge mergesort join".split()
    rows = [
        Row(doc_id=i, text=" ".join(rng.choice(vocab) for _ in range(rng.randint(8, 16))))
        for i in range(80)
    ]
    build_index(spark, spark.createDataFrame(rows), IndexSchema.of(text=TEXT()), d, sha_col=None)
    return Index(spark, d)


def test_batch_prefix_matches_per_query_engine(pix):
    from whoosh_spark.search.batch import batch_prefix_search

    s = Searcher(pix, exact_scores=True, cache_postings=False, use_local=False)
    batch = [
        ("q1", "text", "sor"),    # sort/sorted/sorting -> constant-score set
        ("q2", "text", "s"),      # 5 terms
        ("q3", "text", "join"),   # exactly 1 term -> scored BM25 Term
        ("q4", "text", "merge"),  # merge + mergesort -> constant-score set
        ("q5", "text", "zzz"),    # 0 terms -> absent from output
    ]
    out = batch_prefix_search(s, batch, k=25).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 9)))
    for qid, field, p in batch:
        want_df = s.search(Q.Prefix(field, p), limit=25)
        want = [(i + 1, r["doc_id"], round(r["score"], 9))
                for i, r in enumerate(want_df.collect())]
        assert sorted(by_q.get(qid, [])) == want, qid
    assert "q5" not in by_q


def test_batch_fuzzy_matches_per_query_engine(pix):
    from whoosh_spark.search.batch import batch_fuzzy_search

    s = Searcher(pix, exact_scores=True, cache_postings=False, use_local=False)
    batch = [
        ("q1", "text", "sorts"),   # -> {sort, sorted}: scored Or
        ("q2", "text", "merga"),   # -> {merge}: single scored term
        ("q3", "text", "zzz"),     # -> no expansion: absent
    ]
    out = batch_fuzzy_search(s, batch, k=25, maxdist=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 9)))
    for qid, field, w in batch:
        want_df = s.search(Q.FuzzyTerm(field, w, maxdist=2), limit=25)
        want = [(i + 1, r["doc_id"], round(r["score"], 9))
                for i, r in enumerate(want_df.collect())]
        assert sorted(by_q.get(qid, [])) == want, qid
    assert "q3" not in by_q


def test_batch_fuzzy_expansion_cap(pix):
    from whoosh_spark.search.batch import batch_fuzzy_search

    s = Searcher(pix, exact_scores=True, cache_postings=False,
                 use_local=False, max_expansion=1)
    with pytest.raises(ValueError, match="max_expansion"):
        batch_fuzzy_search(s, [("q1", "text", "sorts")], maxdist=2).collect()


def test_batch_multiterm_matches_per_query_engine(pix):
    from whoosh_spark.search.batch import batch_multiterm_search

    s = Searcher(pix, exact_scores=True, cache_postings=False, use_local=False)
    batch = [
        ("q1", Q.Wildcard("text", "sort*")),            # sort/sorted/sorting
        ("q2", Q.Regex("text", "er$")),                 # scanner only -> scored
        ("q3", Q.TermRange("text", "merge", "scan")),   # merge/mergesort/scan
        ("q4", Q.Wildcard("text", "s*ed")),             # sorted only -> scored
        ("q5", Q.Wildcard("text", "zzz*")),             # empty -> absent
    ]
    out = batch_multiterm_search(s, batch, k=25).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 9)))
    for qid, q in batch:
        want_df = s.search(q, limit=25)
        want = [(i + 1, r["doc_id"], round(r["score"], 9))
                for i, r in enumerate(want_df.collect())]
        assert sorted(by_q.get(qid, [])) == want, qid
    assert "q5" not in by_q


def test_batch_multiterm_rejects_scored_nodes(pix):
    from whoosh_spark.search.batch import batch_multiterm_search

    s = Searcher(pix, exact_scores=True, cache_postings=False, use_local=False)
    with pytest.raises(ValueError, match="batch_fuzzy_search"):
        batch_multiterm_search(s, [("q1", Q.FuzzyTerm("text", "sorts"))])


def test_batch_search_routes_mixed_query_log(pix):
    from whoosh_spark.search.batch import batch_search

    s = Searcher(pix, exact_scores=True, cache_postings=False, use_local=False)
    batch = [
        ("q_term", Q.Term("text", "scan")),
        ("q_or", Q.Or([Q.Term("text", "sort"), Q.Term("text", "merge")])),
        ("q_and", Q.And([Q.Term("text", "scan"), Q.Term("text", "merge")])),
        ("q_phrase", Q.Phrase("text", ["merge", "join"])),
        ("q_prefix", Q.Prefix("text", "sor")),
        ("q_fuzzy", Q.FuzzyTerm("text", "sorts")),
        ("q_wild", Q.Wildcard("text", "s*r*")),
        ("q_fall", Q.Or([Q.Term("text", "sort"), Q.Term("text", "scan"),
                         Q.Term("text", "join")], minmatch=2)),
        ("q_null", Q.NullQuery),
    ]
    by_q = _ranked(batch_search(s, batch, k=25))
    for qid, q in batch:
        want = [(i + 1, r["doc_id"], r["score"])
                for i, r in enumerate(s.search(q, limit=25).collect())]
        assert by_q.get(qid, []) == want, qid
    assert "q_null" not in by_q


def _ranked(out) -> dict:
    """query_id -> exact [(rank, doc_id, score)] in rank order."""
    by_q: dict = {}
    for r in sorted(out.collect(), key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    return by_q


def test_batch_search_parses_strings_and_strict(pix):
    from whoosh_spark.query.parser import QueryParser
    from whoosh_spark.search.batch import batch_search

    s = Searcher(pix, exact_scores=True, cache_postings=False, use_local=False)
    p = QueryParser("text", pix.schema, group="or")
    batch = [("q1", "scan merge"), ("q2", '"merge join"'), ("q3", "sor*")]
    by_q = _ranked(batch_search(s, batch, k=25, parser=p))
    for qid, text in batch:
        want = [(i + 1, r["doc_id"], r["score"])
                for i, r in enumerate(s.search(p.parse(text), limit=25).collect())]
        assert by_q.get(qid, []) == want, qid

    with pytest.raises(ValueError, match="parser"):
        batch_search(s, [("q1", "scan")])
    with pytest.raises(ValueError, match="strict"):
        batch_search(s, [("q1", Q.Term("text", "scan", boost=2.0))], strict=True)
