"""Differential spelling-suggestion tests vs reference Whoosh."""

import pytest
from pyspark.sql import Row

from whoosh_spark.index import Index, build_index
from whoosh_spark.schema import IndexSchema, TEXT
from whoosh_spark.search.spelling import correct_query_string, correct_query_terms, suggest

DOCS = [
    "render render render",
    "renders",
    "rendering",
    "renderer bender",
    "sender sender blender",
    "zender",
    "axbyc axbyc",
]


@pytest.fixture(scope="module")
def spell_ours(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("spell"))
    df = spark.createDataFrame([Row(doc_id=i, value=t) for i, t in enumerate(DOCS)])
    build_index(spark, df, IndexSchema.of(value=TEXT()), d, sha_col=None)
    return Index(spark, d)


@pytest.fixture(scope="module")
def pair(spell_ours, whoosh_ref):
    from whoosh import fields
    from whoosh.filedb.filestore import RamStorage

    wix = RamStorage().create_index(fields.Schema(value=fields.TEXT))
    w = wix.writer()
    for t in DOCS:
        w.add_document(value=t)
    w.commit()
    return spell_ours, wix


CASES = [
    ("render", 6, 2, 0),
    ("rendar", 6, 2, 0),
    ("sender", 6, 2, 1),
    ("bender", 3, 1, 0),
    ("axbyc", 4, 2, 0),
    ("aybxc", 4, 2, 0),  # transposition-ish: discriminates plain vs damerau
]


@pytest.mark.parametrize("text,limit,maxdist,prefix", CASES)
def test_suggest_matches_whoosh(pair, whoosh_ref, text, limit, maxdist, prefix):
    ix, wix = pair
    with wix.searcher() as s:
        want = s.suggest("value", text, limit=limit, maxdist=maxdist, prefix=prefix)
    got = suggest(ix, "value", text, limit=limit, maxdist=maxdist, prefix=prefix)
    assert got == want, f"{text}: {got} != {want}"


def test_correct_query_terms(spell_ours):
    ix = spell_ours
    fixes = correct_query_terms(ix, "value", ["rendar", "render", "zzzzzz"])
    assert fixes.get("rendar") == "render"
    assert "render" not in fixes


def test_correct_query_string_matches_whoosh(pair, whoosh_ref):
    ix, wix = pair
    from whoosh.qparser import QueryParser as WQP

    qp = WQP("value", wix.schema)
    # parity on strings where each misspelled term appears once — with
    # repeated terms the reference's char-range replacement garbles the
    # output (e.g. '"rendar bender" rendar' -> '"render render" render',
    # replacing the well-spelled 'bender'); we correct every occurrence
    cases = [
        "rendar bender",
        "value:rendar^2 sender",
        "rendar AND blendr",
        "render",  # nothing to fix
    ]
    with wix.searcher() as s:
        for qs in cases:
            want = s.correct_query(qp.parse(qs), qs).string
            got = correct_query_string(ix, qs, "value")
            assert got == want, qs
    # our behavior on duplicates: every occurrence corrected, others intact
    assert correct_query_string(ix, "rendar rendar", "value") == "render render"
    assert (
        correct_query_string(ix, 'rendar AND "blender rendar"', "value")
        == 'render AND "blender render"'
    )


def test_spelling_word_graph_matches_reference(spark, whoosh_ref, tmp_path):
    """spelling=True on a STEMMED field: suggestions come from the separate
    spell_* lexicon of UNSTEMMED words (reference subfields/spell_ prefix,
    fields.py:1132-1148) — so 'rendering'/'renders' survive as suggestions
    even though the scoring index only holds the stem 'render'."""
    from whoosh import fields
    from whoosh.analysis import StemmingAnalyzer
    from whoosh.filedb.filestore import RamStorage

    from whoosh_spark.analysis.tokenize import stemming_analyzer

    d = str(tmp_path / "spellix")
    df = spark.createDataFrame([Row(doc_id=i, value=t) for i, t in enumerate(DOCS)])
    schema = IndexSchema.of(value=TEXT(analyzer=stemming_analyzer(), spelling=True))
    build_index(spark, df, schema, d, sha_col=None)
    ix = Index(spark, d)

    wix = RamStorage().create_index(
        fields.Schema(value=fields.TEXT(analyzer=StemmingAnalyzer(), spelling=True))
    )
    w = wix.writer()
    for t in DOCS:
        w.add_document(value=t)
    w.commit()

    # the spell lexicon holds unstemmed forms
    terms = {r["term"] for r in ix.termstats().filter("field = 'spell_value'").collect()}
    assert "rendering" in terms and "renders" in terms

    for text, limit, maxdist, prefix in CASES:
        with wix.searcher() as s:
            want = s.suggest("value", text, limit=limit, maxdist=maxdist, prefix=prefix)
        got = suggest(ix, "value", text, limit=limit, maxdist=maxdist, prefix=prefix)
        assert got == want, f"{text}: {got} != {want}"


def test_correct_query_tree_matches_reference(pair, whoosh_ref):
    """Searcher.correct_query(q, qstring) returns a Correction whose QUERY
    tree has the misspelled terms replaced (reference
    test_spelling.py:test_correct_query / searching.py:820-905)."""
    import whoosh_spark.query as Q
    from whoosh.qparser import QueryParser as WQP

    from whoosh_spark.query.parser import QueryParser
    from whoosh_spark.search import Searcher

    ix, wix = pair
    s = Searcher(ix)
    qp = QueryParser("value", ix.schema)
    wqp = WQP("value", wix.schema)

    for qs in ["rendar bender", "rendar AND blendr",
               '"rendar sender" OR zender', "render"]:
        c = s.correct_query(qp.parse(qs), qs)
        with wix.searcher() as ws:
            want = ws.correct_query(wqp.parse(qs), qs)
        assert c.string == want.string, qs
        got_terms = sorted(c.query.all_terms())
        want_terms = sorted((f, t if isinstance(t, str) else t.decode())
                            for f, t in want.query.iter_all_terms())
        assert got_terms == want_terms, qs
        # the original tree is untouched (our replace copies)
        assert sorted(c.original_query.all_terms()) == sorted(
            qp.parse(qs).all_terms())

    # string-only back-compat path
    assert s.correct_query("rendar bender",
                           default_field="value") == "render bender"
