"""DATETIME/BOOLEAN schema kinds + date query parsing, differential vs the
reference DateParserPlugin (mirrors the basics of reference
tests/test_dateparse.py)."""

from datetime import datetime

import pytest
from pyspark.sql import Row

from whoosh_spark.index import Index, build_index
from whoosh_spark.query.dateparse import (DateParseError, date_term_range,
                                          parse_timespan)
from whoosh_spark.query.parser import QueryParser
from whoosh_spark.schema import BOOLEAN, DATETIME, ID, IndexSchema, TEXT
from whoosh_spark.search import Searcher

BASEDATE = datetime(2010, 9, 20, 15, 16, 6, 454000)

DOCS = [
    (0, "alfa", datetime(2009, 12, 31, 23, 59), True),
    (1, "bravo", datetime(2010, 1, 1, 0, 0), False),
    (2, "charlie", datetime(2010, 5, 23, 10, 30, 15), True),
    (3, "delta", datetime(2010, 5, 23, 11, 0), False),
    (4, "echo", datetime(2010, 9, 20, 12, 0), True),
    (5, "fox", datetime(2011, 1, 1, 0, 0), False),
    (6, "golf", datetime(2011, 6, 15, 8, 45), True),
]

QUERIES = [
    "date:2010",
    "date:201005",
    "date:20100523",
    "date:2010052310",
    "date:'2010-05-23'",
    "date:'may 2010'",
    "date:'23 may 2010'",
    "date:today",
    "date:yesterday",
    "date:[2010 TO 2011]",
    "date:[20100523 TO 20110101]",
    "date:[TO 2010]",
    "date:[2011 TO]",
    # relative forms (round 3): daynames and plusminus offsets
    "date:'next tuesday'",
    "date:'last friday'",
    "date:'last mon'",
    "date:'next monday'",  # basedate IS a Monday -> jumps a full week
    "date:'-3 weeks'",
    "date:'+1 year'",
    "date:'-1 month'",
    "date:'+2 months 10 days'",
    "date:['last tuesday' TO 'next friday']",
    "date:[-2 weeks TO now]",
    # round 4: full-grammar forms — times, time+date bags, 8 date orders
    "date:noon",
    "date:midnight",
    "date:'12pm'",
    "date:'10:30am'",
    "date:'11:00'",
    "date:'3pm tomorrow'",
    "date:'tomorrow 3pm'",
    "date:'noon today'",
    "date:'may 23'",
    "date:'23 may'",
    "date:'2010 may 23'",
    "date:'2010 23 may'",
    "date:'23rd may 2010'",
    "date:'this year'",
    "date:'this month'",
    # capital-L "Last" counts as next (reference Daynames dir quirk)
    "date:'Last friday'",
    "date:'last friday'",
    # _parse_datestring fallback forms (grammar fails, field parse succeeds)
    "date:'2010-05-23'",
    "date:'2010-05'",
    "date:20100523103015",
    # fallback ALSO fails -> NullQuery, matches nothing
    "date:'2010-05-23 10:30:15'",
    "date:bogusdate",
    # ranges exercising timespan.disambiguated heuristics
    "date:['may 2010' TO june]",
    "date:[may TO june]",
    "date:['3pm' TO '5pm']",
    "date:[december TO february]",
    "date:['jan 2011' TO 'feb 2010']",
    "date:[mar TO 20100523]",
]


def _ref_results(whoosh_ref, qs):
    from whoosh import fields, qparser
    from whoosh.filedb.filestore import RamStorage
    from whoosh.qparser.dateparse import DateParserPlugin

    schema = fields.Schema(
        doc_id=fields.NUMERIC(stored=True, bits=64),
        name=fields.ID,
        date=fields.DATETIME,
        flag=fields.BOOLEAN,
    )
    ix = RamStorage().create_index(schema)
    w = ix.writer()
    for did, name, date, flag in DOCS:
        w.add_document(doc_id=did, name=name, date=date, flag=flag)
    w.commit()
    qp = qparser.QueryParser("name", schema)
    qp.add_plugin(DateParserPlugin(basedate=BASEDATE))
    with ix.searcher() as s:
        q = qp.parse(qs)
        return sorted(hit["doc_id"] for hit in s.search(q, limit=None))


@pytest.fixture(scope="module")
def our_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("dateix"))
    schema = IndexSchema.of(name=ID(stored=True), date=DATETIME(), flag=BOOLEAN())
    df = spark.createDataFrame(
        [Row(doc_id=i, name=n, date=dt, flag=f) for i, n, dt, f in DOCS]
    )
    build_index(spark, df, schema, d, sha_col=None)
    return Index(spark, d), schema


@pytest.mark.parametrize("qs", QUERIES)
def test_date_queries_match_reference(our_index, whoosh_ref, qs):
    ix, schema = our_index
    want = _ref_results(whoosh_ref, qs)
    qp = QueryParser("name", schema)
    qp.basedate = BASEDATE
    q = qp.parse(qs)
    s = Searcher(ix)
    got = sorted(r["doc_id"] for r in s.search(q, limit=None).collect())
    assert got == want, (qs, q, got, want)


GTLT_QUERIES = [
    # reference GtLtPlugin + DateParserPlugin: one-sided RangeNode through
    # range_to_dt — a lone start always uses its span's FLOOR (even for ">")
    # and a lone end its CEIL (even for "<")
    "date:>2010",
    "date:>=2010",
    "date:<2010",
    "date:<=2010",
    "date:>201005",
    "date:<'may 2010'",
    "date:>='23 may 2010'",
    "date:<'next friday'",
]


@pytest.mark.parametrize("qs", GTLT_QUERIES)
def test_gtlt_date_queries_match_reference(our_index, whoosh_ref, qs):
    from whoosh import fields, qparser
    from whoosh.filedb.filestore import RamStorage
    from whoosh.qparser.dateparse import DateParserPlugin

    schema = fields.Schema(
        doc_id=fields.NUMERIC(stored=True, bits=64),
        name=fields.ID,
        date=fields.DATETIME,
        flag=fields.BOOLEAN,
    )
    rix = RamStorage().create_index(schema)
    w = rix.writer()
    for did, name, date, flag in DOCS:
        w.add_document(doc_id=did, name=name, date=date, flag=flag)
    w.commit()
    rqp = qparser.QueryParser("name", schema)
    rqp.add_plugin(DateParserPlugin(basedate=BASEDATE))
    rqp.add_plugin(qparser.GtLtPlugin())
    with rix.searcher() as rs:
        want = sorted(hit["doc_id"] for hit in rs.search(rqp.parse(qs),
                                                         limit=None))

    ix, our_schema = our_index
    qp = QueryParser("name", our_schema, gtlt=True)
    qp.basedate = BASEDATE
    s = Searcher(ix)
    got = sorted(r["doc_id"]
                 for r in s.search(qp.parse(qs), limit=None).collect())
    assert got == want, (qs, got, want)


FREE_QUERIES = [
    # DateParserPlugin(free=True): undelimited dates after datefield:
    "date:last tuesday",
    "date:next friday",
    "date:tomorrow",
    "date:today name:alfa",
    "name:echo date:today",
    "date:20100523",
    "date:may 23 2010",
    "date:3pm to 5pm",
    "date:2010 to 2011",
    "date:-2 weeks to now",
    "(name:alfa OR name:fox) date:2011",
    "date:tomorrow^3 name:echo",
    "date:today^2",
]


@pytest.mark.parametrize("qs", FREE_QUERIES)
def test_free_date_queries_match_reference(our_index, whoosh_ref, qs):
    from whoosh import fields, qparser
    from whoosh.filedb.filestore import RamStorage
    from whoosh.qparser.dateparse import DateParserPlugin

    schema = fields.Schema(
        doc_id=fields.NUMERIC(stored=True, bits=64),
        name=fields.ID,
        date=fields.DATETIME,
        flag=fields.BOOLEAN,
    )
    rix = RamStorage().create_index(schema)
    w = rix.writer()
    for did, name, date, flag in DOCS:
        w.add_document(doc_id=did, name=name, date=date, flag=flag)
    w.commit()
    rqp = qparser.QueryParser("name", schema)
    rqp.add_plugin(DateParserPlugin(basedate=BASEDATE, free=True))
    with rix.searcher() as rs:
        want = sorted(hit["doc_id"] for hit in rs.search(rqp.parse(qs),
                                                         limit=None))

    ix, our_schema = our_index
    qp = QueryParser("name", our_schema, free_dates=True)
    qp.basedate = BASEDATE
    s = Searcher(ix)
    got = sorted(r["doc_id"]
                 for r in s.search(qp.parse(qs), limit=None).collect())
    assert got == want, (qs, got, want)


def test_boolean_field(our_index):
    ix, schema = our_index
    s = Searcher(ix)
    for text, expect in [("true", [0, 2, 4, 6]), ("yes", [0, 2, 4, 6]),
                         ("false", [1, 3, 5]), ("0", [1, 3, 5])]:
        q = QueryParser("name", schema).parse(f"flag:{text}")
        got = sorted(r["doc_id"] for r in s.search(q, limit=None).collect())
        assert got == expect, (text, got)


def _fuzz_pieces(rng):
    months = ["january", "jan", "february", "febuary", "feb", "march", "mar",
              "april", "apr", "may", "june", "jun", "july", "jul", "august",
              "aug", "september", "sept", "sep", "october", "oct",
              "november", "nov", "december", "dec"]
    daynames = ["monday", "mon", "mo", "tuesday", "tues", "tue", "tu",
                "wednesday", "wed", "we", "thursday", "thur", "thu", "th",
                "friday", "fri", "fr", "saturday", "sat", "sa",
                "sunday", "sun", "su"]
    units = ["years", "year", "yrs", "yr", "ys", "y", "months", "month",
             "mons", "mon", "mos", "mo", "weeks", "week", "wks", "wk", "ws",
             "w", "days", "day", "dys", "dy", "ds", "d", "hours", "hour",
             "hrs", "hr", "hs", "h", "minutes", "minute", "mins", "min",
             "ms", "m", "seconds", "second", "secs", "sec", "s"]
    words = ["today", "tomorrow", "yesterday", "now", "noon", "midnight",
             "this year", "this month"]

    def piece():
        k = rng.randint(0, 12)
        if k == 0:
            return str(rng.randint(1000, 9999))
        if k == 1:
            return str(rng.randint(0, 39))
        if k == 2:
            return rng.choice(months)
        if k == 3:
            return rng.choice(words)
        if k == 4:
            return (rng.choice(["next", "last", "Next", "Last", "NEXT"])
                    + " " + rng.choice(daynames))
        if k == 5:
            n = rng.randint(1, 3)
            return rng.choice("+-") + " ".join(
                str(rng.randint(0, 40)) + rng.choice(["", "", " "])
                + rng.choice(units) for _ in range(n))
        if k == 6:
            return "%d:%02d" % (rng.randint(0, 29), rng.randint(0, 61))
        if k == 7:
            return (str(rng.randint(1, 13))
                    + rng.choice(["", "", ":%02d" % rng.randint(0, 59)])
                    + rng.choice(["am", "pm", " am", " PM"]))
        if k == 8:
            s = str(rng.randint(1000, 9999))
            for lim in (19, 39, 23, 59, 59):
                if rng.random() < 0.7:
                    s += (rng.choice(["", "-", " ", ".", ":", "/", "--"])
                          + "%02d" % rng.randint(0, lim))
                else:
                    break
            return s
        if k == 9:
            return str(rng.randint(1, 31)) + rng.choice(["st", "nd", "rd",
                                                         "th"])
        if k == 10:
            return rng.choice(["to", "TO", "xyzzy", "foo", "feb31", "2010x"])
        if k == 11:
            return str(rng.randint(0, 999999))
        return rng.choice(months).capitalize()

    def gen():
        n = rng.randint(1, 4)
        parts = [piece() for _ in range(n)]
        if rng.random() < 0.3:
            parts.insert(rng.randint(0, len(parts) - 1), "to")
        return rng.choice([" ", " ", " ", ", ", ",", "  "]).join(parts)

    return gen


def test_grammar_fuzz_vs_reference(whoosh_ref):
    """Seeded structured fuzz: the full-text grammar parse (toend +
    disambiguate) must agree with reference English().date_from on value or
    on erroring, over thousands of generated expressions."""
    import random

    from whoosh.qparser.dateparse import English
    from whoosh.util.times import timespan as RefSpan

    from whoosh_spark.query.dateparse import parse_date

    bases = [BASEDATE, datetime(2012, 2, 29), datetime(1999, 12, 31, 23, 59,
                                                       59, 999999)]
    eng = English()
    rng = random.Random(20260818)
    gen = _fuzz_pieces(rng)
    mismatches = []
    for _ in range(4000):
        s = gen()
        base = rng.choice(bases)
        try:
            r = eng.date_from(s, base)
            if isinstance(r, RefSpan):
                r = (r.start, r.end)
        except Exception:
            r = "ERR"
        try:
            m = parse_date(s, base)
        except Exception:
            m = "ERR"
        if r != m:
            mismatches.append((s, base, r, m))
    assert not mismatches, mismatches[:5]


def test_range_endpoint_fuzz_vs_reference(whoosh_ref):
    """Seeded fuzz of date_range_bounds vs the reference range_to_dt path
    (raw endpoint parse + joint disambiguation + _parse_datestring
    fallback)."""
    import random

    from whoosh.qparser.dateparse import English
    from whoosh.util.times import timespan as RefSpan

    from whoosh_spark.query.dateparse import date_range_bounds

    eng = English()
    bases = [BASEDATE, datetime(2012, 2, 29), datetime(1999, 12, 31, 23, 59,
                                                       59, 999999)]
    rng = random.Random(4816)
    gen = _fuzz_pieces(rng)

    def ref_range(st, en, base):
        # mirrors DateParserPlugin.range_to_dt + the ErrorNode fallback to
        # the REAL reference DATETIME.parse_range (fields.py:893-907)
        from whoosh import fields as ref_fields
        from whoosh.util.times import long_to_datetime

        dp = eng.get_parser()
        try:
            start = dp.date_from(st, base) if st else None
            end = dp.date_from(en, base) if en else None
        except Exception:
            return "ERR"
        if (st and start is None) or (en and end is None):
            try:
                nr = ref_fields.DATETIME().parse_range(
                    "date", st or None, en or None, False, False)
                lo = (long_to_datetime(nr.start)
                      if nr.start is not None else None)
                hi = (long_to_datetime(nr.end)
                      if nr.end is not None else None)
                return lo, hi
            except Exception:
                return "ERR"
        try:
            if start is not None and end is not None:
                ts = RefSpan(start, end).disambiguated(base)
                return ts.start, ts.end
            if start is not None:
                start = start.disambiguated(base)
                if isinstance(start, RefSpan):
                    start = start.start
                return start, None
            if end is not None:
                end = end.disambiguated(base)
                if isinstance(end, RefSpan):
                    end = end.end
                return None, end
            return None, None
        except Exception:
            return "ERR"

    mismatches = []
    for _ in range(3000):
        st = gen() if rng.random() < 0.85 else ""
        en = gen() if rng.random() < 0.85 else ""
        base = rng.choice(bases)
        r = ref_range(st, en, base)
        try:
            m = date_range_bounds(st or None, en or None, base)
        except Exception:
            m = "ERR"
        if r != m:
            mismatches.append((st, en, base, r, m))
    assert not mismatches, mismatches[:5]


def test_reference_testfile_strings(whoosh_ref):
    """Every date-string literal in the reference's own tests/test_dateparse.py
    must parse identically through our grammar — both the raw (no to-end,
    no disambiguation) endpoint parse and the full to-end parse."""
    import re as _re

    from whoosh.qparser.dateparse import English
    from whoosh.util.times import adatetime
    from whoosh.util.times import timespan as RefSpan

    from whoosh_spark.query.dateparse import (PartialDate, Span, _UNITS,
                                              _GRAMMAR, parse_date)

    src = open("/root/reference/tests/test_dateparse.py").read()
    strings = sorted(set(
        _re.findall(r'date_from\((?:u)?["\']([^"\']+)["\']', src)
        + _re.findall(r'parse\((?:u)?["\']([^"\']+)["\']', src)))
    assert len(strings) > 60
    eng = English()

    def norm(v):
        if v is None or isinstance(v, datetime):
            return v
        if isinstance(v, adatetime):
            return ("pd",) + tuple(v.tuple())
        if isinstance(v, PartialDate):
            return ("pd",) + tuple(getattr(v, u) for u in _UNITS)
        if isinstance(v, (RefSpan, Span)):
            return ("span", norm(v.start), norm(v.end))
        return v

    mismatches = []
    for s in strings:
        for base in (BASEDATE, datetime(2012, 2, 29)):
            # raw parse (range-endpoint path)
            try:
                r = norm(eng.get_parser().date_from(s, base))
            except Exception:
                r = "ERR"
            try:
                m = norm(_GRAMMAR(s, 0, base)[0])
            except Exception:
                m = "ERR"
            if r != m:
                mismatches.append(("raw", s, base, r, m))
            # full to-end disambiguated parse
            try:
                r2 = eng.date_from(s, base)
                r2 = (r2.start, r2.end) if isinstance(r2, RefSpan) else r2
            except Exception:
                r2 = "ERR"
            try:
                m2 = parse_date(s, base)
            except Exception:
                m2 = "ERR"
            if r2 != m2:
                mismatches.append(("full", s, base, r2, m2))
    assert not mismatches, mismatches[:5]


def test_parse_timespan_forms():
    assert parse_timespan("2010") == (datetime(2010, 1, 1),
                                      datetime(2010, 12, 31, 23, 59, 59, 999999))
    lo, hi = parse_timespan("20100523 103015")
    assert lo == datetime(2010, 5, 23, 10, 30, 15)
    assert hi == datetime(2010, 5, 23, 10, 30, 15, 999999)
    lo, hi = parse_timespan("sep 2010")
    assert lo == datetime(2010, 9, 1) and hi == datetime(2010, 9, 30, 23, 59, 59, 999999)
    lo, hi = parse_timespan("today", BASEDATE)
    assert lo == datetime(2010, 9, 20)
    with pytest.raises(DateParseError):
        parse_timespan("next blursday")
    # "2010-05-23 10:30:15" fails the reference grammar (the datetime Bag
    # consumes only the year and ToEnd fails) AND the _parse_datestring
    # fallback (colons survive the strip and break int()): match-nothing.
    with pytest.raises(DateParseError):
        parse_timespan("2010-05-23 10:30:15", BASEDATE)
    assert date_term_range("2010-05-23 10:30:15", BASEDATE) is None
    # the fallback handles dashed day-resolution forms the grammar rejects
    assert date_term_range("2010-05-23", BASEDATE) == (
        datetime(2010, 5, 23), datetime(2010, 5, 23, 23, 59, 59, 999999))
