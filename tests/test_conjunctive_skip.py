"""Conjunctive chunk-intersection block skipping (the reference
IntersectionMatcher skip_to analog, matching/binary.py +
codec/whoosh3.py:1018-1036): And-of-Terms / Phrase roots and conjunctive
batches must return IDENTICAL results with skipping on and off, while
decoding strictly fewer posting blocks when one term is doc-range sparse.
"""

import random

import pytest
from pyspark.sql import Row

import whoosh_spark.query as Q
from whoosh_spark.index import Index, build_index
from whoosh_spark.schema import IndexSchema, TEXT
from whoosh_spark.search import Searcher
from whoosh_spark.search.batch import batch_conjunctive_search, batch_term_search


@pytest.fixture(autouse=True)
def generic_plan(monkeypatch):
    """The skip is a generic-plan optimization: keep the bucket placement
    of the exact evaluator, which decodes whole buckets either way, out of
    the on/off comparisons."""
    from whoosh_spark.search import local as L

    monkeypatch.setattr(L, "bucket_topk", lambda *a, **kw: None)


@pytest.fixture(scope="module")
def sparse_ix(spark, tmp_path_factory):
    """4000 docs = ONE salt bucket; 'rareterm' only in doc ids 0..39
    (= chunk 0 of 16), adjacent to 'hot' so phrases also match."""
    rng = random.Random(11)
    rows = []
    for i in range(4000):
        words = ["hot"] * rng.randint(1, 3) + [
            "filler%d" % rng.randint(0, 30) for _ in range(rng.randint(5, 15))
        ]
        rng.shuffle(words)
        if i < 40:
            words += ["hot", "rareterm"]  # adjacent pair for the phrase case
        rows.append(Row(doc_id=i, text=" ".join(words)))
    d = str(tmp_path_factory.mktemp("conj_idx"))
    build_index(spark, spark.createDataFrame(rows), IndexSchema.of(text=TEXT()),
                d, sha_col=None)
    return Index(spark, d)


def _topk(s, q, limit=10):
    return [(r["doc_id"], round(r["score"], 9))
            for r in s.search(q, limit=limit).collect()]


@pytest.mark.parametrize("exact", [True, False])
def test_and_root_skip_identical(sparse_ix, exact):
    q = Q.And([Q.Term("text", "hot"), Q.Term("text", "rareterm")])
    on = Searcher(sparse_ix, exact_scores=exact, cache_postings=False,
                  use_local=False, conjunctive_skip=True)
    off = Searcher(sparse_ix, exact_scores=exact, cache_postings=False,
                   use_local=False, conjunctive_skip=False)
    assert _topk(on, q, 50) == _topk(off, q, 50)


def test_phrase_root_skip_identical(sparse_ix):
    q = Q.Phrase("text", ["hot", "rareterm"])
    on = Searcher(sparse_ix, exact_scores=True, cache_postings=False,
                  use_local=False, conjunctive_skip=True)
    off = Searcher(sparse_ix, exact_scores=True, cache_postings=False,
                   use_local=False, conjunctive_skip=False)
    got_on, got_off = _topk(on, q, 50), _topk(off, q, 50)
    assert got_on == got_off
    assert len(got_on) > 0  # the adjacent pair really matches


def test_conjunction_decodes_fewer_postings(sparse_ix):
    """The hot term's postings outside chunk 0 must never reach decode."""
    full = sparse_ix.postings_for("text", ["hot", "rareterm"]).count()
    pruned = sparse_ix.postings_for_conjunction(
        {"text": ["hot", "rareterm"]}).count()
    # hot df ~4000 over 16 chunks; rare lives in 1 chunk -> ~94% skipped
    assert pruned < full * 0.25, (pruned, full)
    # every rare posting survives (they all sit in shared chunks)
    rare = sparse_ix.postings_for_conjunction(
        {"text": ["hot", "rareterm"]}).filter("term = 'rareterm'").count()
    assert rare == 40


def test_batch_conjunctive_skip_identical_and_prunes(sparse_ix):
    s = Searcher(sparse_ix, exact_scores=False, cache_postings=False)
    qs = [
        ("q0", "text", ["hot", "rareterm"]),
        ("q1", "text", ["hot", "filler3"]),
        ("q2", "text", ["filler1", "filler2", "filler3"]),
    ]

    def norm(rows):
        return sorted((r["query_id"], r["doc_id"], round(r["score"], 9))
                      for r in rows)

    pruned = batch_term_search(s, qs, k=20, conjunctive=True).collect()
    control = batch_term_search(s, qs, k=20, conjunctive=True,
                                conjunctive_skip=False).collect()
    assert norm(pruned) == norm(control)

    _, stats = batch_conjunctive_search(s, qs, k=20, with_stats=True)
    # q0's hot-term blocks outside chunk 0 must prune
    assert stats["qt_blocks_kept"] < stats["qt_blocks_total"], stats


def test_multisegment_with_deletes_skip_identical(spark, tmp_path_factory):
    """Chunk pruning works on GLOBAL doc-id ranges, so it must stay exact
    across segment boundaries and must respect tombstoned docs."""
    from whoosh_spark.index.merge import delete_docs

    rng = random.Random(17)
    rows = []
    for i in range(1200):
        words = ["hot"] * rng.randint(1, 2) + [
            "filler%d" % rng.randint(0, 20) for _ in range(rng.randint(4, 10))
        ]
        if i % 100 < 5:
            words += ["hot", "rareterm"]
        rows.append(Row(doc_id=i, text=" ".join(words)))
    d = str(tmp_path_factory.mktemp("conj_seg"))
    build_index(spark, spark.createDataFrame(rows), IndexSchema.of(text=TEXT()),
                d, sha_col=None, num_chunks=3)
    delete_docs(spark, d, [0, 1, 2, 101, 102])
    ix = Index(spark, d)
    q = Q.And([Q.Term("text", "hot"), Q.Term("text", "rareterm")])
    on = Searcher(ix, exact_scores=True, cache_postings=False,
                  use_local=False, conjunctive_skip=True)
    off = Searcher(ix, exact_scores=True, cache_postings=False,
                   use_local=False, conjunctive_skip=False)
    got_on, got_off = _topk(on, q, 100), _topk(off, q, 100)
    assert got_on == got_off
    assert len(got_on) > 0
    assert not {0, 1, 2, 101, 102} & {d_ for d_, _ in got_on}


def test_mixed_and_root_skip_identical(sparse_ix):
    """And([Phrase, Term]) — the parser's `"a b" c` shape — requires every
    term, so both the plain and the positional decode may prune on the
    THREE-way chunk intersection."""
    q = Q.And([Q.Phrase("text", ["hot", "rareterm"]), Q.Term("text", "filler3")])
    on = Searcher(sparse_ix, exact_scores=True, cache_postings=False,
                  use_local=False, conjunctive_skip=True)
    off = Searcher(sparse_ix, exact_scores=True, cache_postings=False,
                   use_local=False, conjunctive_skip=False)
    got_on, got_off = _topk(on, q, 50), _topk(off, q, 50)
    assert got_on == got_off
    assert len(got_on) > 0


def test_chunk_terms_superset_prunes_position_decode(sparse_ix):
    """chunk_terms not being decoded still bound the decode: the hot
    term's positions decode only where rareterm also lives."""
    full = sparse_ix.postings_for("text", ["hot"], with_positions=True).count()
    pruned = sparse_ix.postings_for_conjunction(
        {"text": ["hot"]}, with_positions=True,
        chunk_terms={("text", "hot"), ("text", "rareterm")})
    rows = pruned.collect()
    assert len(rows) < full * 0.25, (len(rows), full)
    # only the requested term is decoded, and chunk-0 postings all survive
    assert {r["term"] for r in rows} == {"hot"}
    assert {r["doc_id"] for r in rows} >= set(range(40))


def test_spannear_and_require_roots_skip_identical(sparse_ix):
    """SpanNear2/Sequence and Require roots are also all-terms-required —
    their pruned results must match the full-decode plan."""
    from whoosh_spark.query.spans import Sequence, SpanNear

    cases = [
        Sequence([Q.Term("text", "hot"), Q.Term("text", "rareterm")]),
        SpanNear(Q.Term("text", "hot"), Q.Term("text", "rareterm"),
                 slop=3, ordered=False),
        Q.Require(Q.Term("text", "hot"), Q.Term("text", "rareterm")),
    ]
    on = Searcher(sparse_ix, exact_scores=True, cache_postings=False,
                  use_local=False, conjunctive_skip=True)
    off = Searcher(sparse_ix, exact_scores=True, cache_postings=False,
                   use_local=False, conjunctive_skip=False)
    for q in cases:
        got_on, got_off = _topk(on, q, 50), _topk(off, q, 50)
        assert got_on == got_off, q
        assert len(got_on) > 0, q


def test_nonroot_and_keeps_full_base(sparse_ix):
    """An And nested under an Or must NOT prune (the Or side needs the
    full posting lists)."""
    q = Q.Or([
        Q.And([Q.Term("text", "hot"), Q.Term("text", "rareterm")]),
        Q.Term("text", "hot"),
    ])
    on = Searcher(sparse_ix, exact_scores=True, cache_postings=False,
                  use_local=False, conjunctive_skip=True)
    off = Searcher(sparse_ix, exact_scores=True, cache_postings=False,
                   use_local=False, conjunctive_skip=False)
    assert _topk(on, q, 30) == _topk(off, q, 30)
    # the hot term alone matches far more than the conjunction
    assert len(_topk(on, q, 3000)) > 1000
