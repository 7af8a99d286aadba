"""PositionBoosts / CharacterBoosts format differentials vs the reference
(formats.py:339-481, fixtures from /root/reference/tests/test_postings.py):
per-occurrence (pos, boost) and (pos, startchar, endchar, boost) payloads
stored in posting blocks and decoded back identically, weights = summed
boosts, and payload survival across merges.
"""

import pytest
from pyspark.sql import Row

import whoosh_spark.query as Q
from whoosh_spark.analysis import Analyzer
from whoosh_spark.index import Index, build_index
from whoosh_spark.schema import IndexSchema, TEXT
from whoosh_spark.search import Searcher

CONTENT = "alfa^2 bravo^0.1 charlie^2 bravo^0.5 alfa alfa"

ANA = Analyzer(pattern=r"\S+", lowercase=False, use_stopfilter=False,
               delimited_boost="^")


def _ref_word_values(whoosh_ref, format_, astype):
    """term -> decoded payload via the reference format itself."""
    from whoosh import analysis

    ana = analysis.RegexTokenizer(r"\S+") | analysis.DelimitedAttributeFilter()
    fmt = format_()
    out = {}
    weights = {}
    for w, freq, weight, value in fmt.word_values(CONTENT, ana):
        out[w] = fmt.decoder(astype)(value)
        weights[w] = (freq, weight)
    return out, weights


@pytest.fixture(scope="module")
def pb_ix(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pbix"))
    df = spark.createDataFrame([Row(doc_id=0, text=CONTENT)])
    schema = IndexSchema.of(text=TEXT(analyzer=ANA, pos_boosts=True))
    build_index(spark, df, schema, d, sha_col=None)
    return Index(spark, d)


@pytest.fixture(scope="module")
def cb_ix(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cbix"))
    df = spark.createDataFrame([Row(doc_id=0, text=CONTENT)])
    schema = IndexSchema.of(text=TEXT(analyzer=ANA, chars=True, pos_boosts=True))
    build_index(spark, df, schema, d, sha_col=None)
    return Index(spark, d)


def _decoded(ix):
    rows = ix.char_postings("text").collect()
    return {r["term"]: r for r in rows}


def test_position_boosts_roundtrip(pb_ix, whoosh_ref):
    from whoosh.formats import PositionBoosts

    want, weights = _ref_word_values(whoosh_ref, PositionBoosts, "position_boosts")
    got = _decoded(pb_ix)
    assert set(got) == set(want)
    for term, pbs in want.items():
        r = got[term]
        assert list(zip(r["positions"], r["pos_boosts"])) == [
            (p, float(b)) for p, b in pbs
        ], term
        # weight = summed boost, freq = occurrence count (reference word_values)
        freq, weight = weights[term]
        assert r["tf"] == freq
        assert r["weight"] == pytest.approx(weight)
        # chars not stored on a PositionBoosts-only field
        assert r["startchars"] is None


def test_character_boosts_roundtrip(cb_ix, whoosh_ref):
    from whoosh.formats import CharacterBoosts

    want, weights = _ref_word_values(whoosh_ref, CharacterBoosts, "character_boosts")
    got = _decoded(cb_ix)
    assert set(got) == set(want)
    for term, quads in want.items():
        r = got[term]
        ours = list(zip(r["positions"], r["startchars"], r["endchars"],
                        [float(b) for b in r["pos_boosts"]]))
        assert ours == [(p, sc, ec, float(b)) for p, sc, ec, b in quads], term
        freq, weight = weights[term]
        assert r["tf"] == freq and r["weight"] == pytest.approx(weight)


def test_characters_only_roundtrip(spark, tmp_path, whoosh_ref):
    """chars=True without pos_boosts == the reference Characters format
    (offsets stored, no boost payload)."""
    from whoosh.formats import Characters
    from whoosh import analysis

    content = "alfa bravo charlie bravo alfa alfa"
    d = str(tmp_path / "chars")
    df = spark.createDataFrame([Row(doc_id=0, text=content)])
    ana = Analyzer(lowercase=True, use_stopfilter=False)
    build_index(spark, df, IndexSchema.of(text=TEXT(analyzer=ana, chars=True)), d, sha_col=None)
    ix = Index(spark, d)
    got = {r["term"]: r for r in ix.char_postings("text").collect()}

    fmt = Characters()
    ref_ana = analysis.StandardAnalyzer(stoplist=None, minsize=0)
    for w, freq, weight, value in fmt.word_values(content, ref_ana):
        r = got[w]
        assert list(zip(r["positions"], r["startchars"], r["endchars"])) == \
            fmt.decoder("characters")(value), w
        assert r["pos_boosts"] is None  # Characters stores no boosts


def test_search_scores_match_reference(pb_ix, whoosh_ref, spark):
    """BM25 over a PositionBoosts field: posting weight = summed boosts ->
    (doc, score) identical to reference Whoosh with the same format."""
    from whoosh import analysis, fields
    from whoosh.formats import PositionBoosts
    from whoosh.filedb.filestore import RamStorage
    from whoosh.query import Term as WTerm

    docs = [CONTENT, "bravo charlie", "alfa^3 delta", "delta echo alfa"]
    ana = analysis.RegexTokenizer(r"\S+") | analysis.DelimitedAttributeFilter()
    ftype = fields.FieldType(format=PositionBoosts(), analyzer=ana, scorable=True)
    wix = RamStorage().create_index(fields.Schema(text=ftype))
    w = wix.writer()
    for t in docs:
        w.add_document(text=t)
    w.commit()

    import tempfile

    with tempfile.TemporaryDirectory(dir=".") as d:
        df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(docs)])
        build_index(spark, df, IndexSchema.of(text=TEXT(analyzer=ANA, pos_boosts=True)),
                    d, sha_col=None)
        s = Searcher(Index(spark, d))
        for term in ["alfa", "bravo", "delta"]:
            ours = [(r["doc_id"], r["score"])
                    for r in s.search(Q.Term("text", term), limit=10).collect()]
            with wix.searcher() as ws:
                want = [(h.docnum, h.score) for h in ws.search(WTerm("text", term), limit=10)]
            assert ours == want, term


def test_payloads_survive_merge(spark, tmp_path):
    from whoosh_spark.index.build import build_segment
    from whoosh_spark.index.merge import merge_segments

    d = str(tmp_path / "mrg")
    schema = IndexSchema.of(text=TEXT(analyzer=ANA, chars=True, pos_boosts=True))
    df1 = spark.createDataFrame([Row(doc_id=0, text=CONTENT)])
    df2 = spark.createDataFrame([Row(doc_id=1, text="alfa^4 foxtrot")])
    build_index(spark, df1, schema, d, sha_col=None)
    build_segment(spark, df2, schema, d, sha_col=None)
    ix = Index(spark, d)
    assert len(ix.manifest.segments) == 2
    before = {(r["term"], r["doc_id"]):
              (r["positions"], r["pos_boosts"], r["startchars"], r["endchars"])
              for r in ix.char_postings("text").collect()}
    merge_segments(spark, d, [s.name for s in ix.manifest.segments])
    ix = Index(spark, d)
    assert len(ix.manifest.segments) == 1
    after = {(r["term"], r["doc_id"]):
             (r["positions"], r["pos_boosts"], r["startchars"], r["endchars"])
             for r in ix.char_postings("text").collect()}
    assert after == before


def test_plain_field_rejects_char_postings(spark, tmp_path):
    d = str(tmp_path / "plain")
    df = spark.createDataFrame([Row(doc_id=0, text="alfa bravo")])
    build_index(spark, df, IndexSchema.of(text=TEXT()), d, sha_col=None)
    with pytest.raises(ValueError, match="character/position-boost"):
        Index(spark, d).char_postings("text")


def test_stored_chars_highlighting_matches_reference(spark, tmp_path, whoosh_ref):
    """add_highlights_stored == the reference Highlighter's can_load_chars
    pinpoint path (no retokenize; spans from the stored Characters
    format)."""
    from whoosh import analysis, fields
    from whoosh.filedb.filestore import RamStorage
    from whoosh.highlight import PinpointFragmenter
    from whoosh.query import Or as WOr, Term as WTerm

    from whoosh_spark.analysis import standard_analyzer
    from whoosh_spark.search.highlight import add_highlights_stored

    docs = [
        "the render pipeline processes the scene and the render pass "
        "finishes with texture lookups before the final render completes",
        "texture cache misses dominate the early render stage " + "pad " * 60
        + "render again far away from the first cluster",
        "nothing relevant here at all",
    ]
    wix = RamStorage().create_index(
        fields.Schema(text=fields.TEXT(stored=True, chars=True)))
    w = wix.writer()
    for t in docs:
        w.add_document(text=t)
    w.commit()

    d = str(tmp_path / "hlchars")
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(docs)])
    build_index(spark, df, IndexSchema.of(
        text=TEXT(stored=True, chars=True, analyzer=standard_analyzer())), d, sha_col=None)
    ix = Index(spark, d)
    s = Searcher(ix)

    terms = ["render", "texture"]
    q = Q.Or([Q.Term("text", t) for t in terms])
    topk = s.search_with_stored(q, limit=5)
    got_rows = add_highlights_stored(topk, ix, "text", terms, "text").collect()
    got = {r["doc_id"]: r["highlights"] for r in got_rows}

    # fresh Results per hit: the reference's shared HtmlFormatter numbers
    # "termN" classes by the caller's hit-iteration order; our distributed
    # rows use deterministic per-document numbering, which equals the
    # reference's when each hit is highlighted from a clean formatter
    wq = WOr([WTerm("text", t) for t in terms])
    with wix.searcher() as ws:
        docnums = [h.docnum for h in ws.search(wq, limit=5, terms=True)]
        for dn in docnums:
            r = ws.search(wq, limit=5, terms=True)
            r.fragmenter = PinpointFragmenter()
            hit = [h for h in r if h.docnum == dn][0]
            assert got[dn] == hit.highlights("text"), dn


def test_phrase_scores_on_posboost_field_match_reference(spark, tmp_path, whoosh_ref):
    """Phrase match inside a boosted region: the reference scores phrases
    by the term matchers' per-doc summed-boost WEIGHT (its spans() drops
    per-position boosts — matching.mcore:276-290 builds Span(pos) only), so
    parity means identical scores through the weight channel, which the
    float32 weight rounding now guarantees."""
    from whoosh import analysis, fields
    from whoosh.formats import PositionBoosts
    from whoosh.filedb.filestore import RamStorage
    from whoosh.query import Phrase as WPhrase

    docs = ["alfa^3 bravo charlie", "alfa bravo^0.2 delta", "bravo alfa echo",
            "alfa^0.5 bravo^2.5 alfa bravo"]
    ana = analysis.RegexTokenizer(r"\S+") | analysis.DelimitedAttributeFilter()
    ftype = fields.FieldType(format=PositionBoosts(), analyzer=ana, scorable=True)
    wix = RamStorage().create_index(fields.Schema(text=ftype))
    w = wix.writer()
    for t in docs:
        w.add_document(text=t)
    w.commit()

    d = str(tmp_path / "pbphrase")
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(docs)])
    build_index(spark, df, IndexSchema.of(text=TEXT(analyzer=ANA, pos_boosts=True)),
                d, sha_col=None)
    s = Searcher(Index(spark, d))
    ours = [(r["doc_id"], r["score"])
            for r in s.search(Q.Phrase("text", ["alfa", "bravo"]), limit=10).collect()]
    with wix.searcher() as ws:
        want = [(h.docnum, h.score)
                for h in ws.search(WPhrase("text", ["alfa", "bravo"]), limit=10)]
    assert ours == want
