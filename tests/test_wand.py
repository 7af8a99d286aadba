"""Block-max WAND: pruned top-k must equal the exact top-k (mirrors the
reference's usequality on/off differential, tests/test_quality.py). WAND
is the block-max skip inside the bucket placement (local.bucket_topk)."""

import pytest
from pyspark.sql import Row

import whoosh_spark.query as Q
from whoosh_spark.corpus import synth_code_corpus
from whoosh_spark.index import Index, build_index
from whoosh_spark.schema import IndexSchema, TEXT, code_corpus_schema
from whoosh_spark.search import Searcher
from whoosh_spark.search.batch import batch_term_search, batch_wand_search


@pytest.fixture(scope="module")
def synth_ix(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wand_idx"))
    corpus = synth_code_corpus(spark, 3000)
    build_index(spark, corpus, code_corpus_schema(), d, sha_col="content")
    return Index(spark, d)


QUERIES = [
    Q.Term("content", "def"),
    Q.Or([Q.Term("content", "def"), Q.Term("content", "merge")]),
    Q.Or([Q.Term("content", "data"), Q.Term("content", "cache"), Q.Term("content", "mutex")]),
    Q.Or([Q.Term("content", "alpha"), Q.Term("content", "lima"), Q.Term("content", "import")]),
    Q.Or([Q.Term("content", "def", boost=2.0), Q.Term("content", "golf")]),
    # the Or's boost multiplies the ordered sum; a lone Term's boost its score
    Q.Or([Q.Term("content", "def"), Q.Term("content", "merge")], boost=1.5),
    Q.Term("content", "def", boost=2.0),
]


def _exact_searcher(ix):
    # use_local=False: the driver-local path would answer before WAND
    return Searcher(ix, exact_scores=True, cache_postings=False, use_local=False)


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.mark.parametrize("qi", range(len(QUERIES)))
def test_wand_equals_exact(synth_ix, qi):
    q = QUERIES[qi]
    s = _exact_searcher(synth_ix)
    exact = _rows(s.search(q, limit=10, use_wand=False))
    assert _rows(s.search(q, limit=10, use_wand=True)) == exact


def test_wand_actually_prunes(synth_ix):
    s = _exact_searcher(synth_ix)
    qs = [("q", "content", ["def", "mutex"])]
    out, stats = batch_wand_search(s, qs, 10, with_stats=True)
    ranked = sorted((r["rank"], r["doc_id"], r["score"]) for r in out.collect())
    assert ranked == sorted((r["rank"], r["doc_id"], r["score"]) for r in
                            batch_term_search(s, qs, 10).collect())
    assert stats["qt_blocks_total"] > 0
    assert stats["qt_blocks_kept"] <= stats["qt_blocks_total"]
    assert stats["decode_blocks_kept"] <= stats["decode_blocks_total"]
    # θ must have been seeded from the strongest term (df >= 10)
    assert stats["theta"].get("q") is not None


def test_wand_negative_boost_declines(spark, tmp_path):
    """WAND's bounds assume every contribution is >= 0; with a negative
    boost the block quality is a lower bound, so the query must take the
    exact route. The rare term's docs also hold the hot term, so pruning
    on the hot term's negative bound would drop every rare doc."""
    import random

    rng = random.Random(11)
    rows = []
    for i in range(1000):
        words = ["hot"] * rng.randint(1, 4) + ["filler%d" % rng.randint(0, 20)
                                               for _ in range(rng.randint(5, 15))]
        if i < 40:
            words.append("rareterm")
        rng.shuffle(words)
        rows.append(Row(doc_id=i, text=" ".join(words)))
    d = str(tmp_path / "negboost")
    build_index(spark, spark.createDataFrame(rows), IndexSchema.of(text=TEXT()),
                d, sha_col=None)
    s = _exact_searcher(Index(spark, d))
    for q in (Q.Or([Q.Term("text", "hot", boost=-1.0), Q.Term("text", "rareterm")]),
              Q.Or([Q.Term("text", "hot"), Q.Term("text", "rareterm")], boost=-1.0)):
        exact = _rows(s.search(q, limit=10, use_wand=False))
        assert len(exact) == 10
        assert _rows(s.search(q, limit=10, use_wand=True)) == exact


def test_wand_ineligible_shapes_fall_back(synth_ix):
    s = Searcher(synth_ix, exact_scores=False, cache_postings=False)
    q = Q.And([Q.Term("content", "def"), Q.Term("content", "merge")])
    a = [(r["doc_id"],) for r in s.search(q, limit=5, use_wand=True).collect()]
    b = [(r["doc_id"],) for r in s.search(q, limit=5, use_wand=False).collect()]
    assert a == b
