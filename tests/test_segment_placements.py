"""The segment build's two placements write the same tables: the same
driver-held rows through ``build_segment_rows`` (pyarrow on the driver) and
through ``build_segment`` (the Spark plan) give equal sorted rows in every
table, column for column, with binary payloads byte-equal and floats
bit-equal. Merging segments of both placements answers queries exactly
like one Spark-built segment of the same documents.

The schema holds every payload the block encoder writes: positions (a
phrase TEXT field), token-boost weights (``delimited_boost``), per-
occurrence boosts and character spans (chars + pos_boosts), a spelling
lexicon, term vectors, and stored fields of each canonical type, one of
them all-None. One term is in every document, so its postings span
several 128-posting blocks.

The values cover every conversion the driver placement makes in Python
where the Spark placement casts: strings into boolean, numeric and
datetime fields, tz-aware datetimes with mixed offsets, floats, ints and
datetimes into text fields, and ints and datetimes into STORED fields.
A malformed string raises in both placements under ANSI casts (Spark's
default) and stores null in both without them.
"""

import datetime
import random
import struct

import pytest
from pyspark.sql import types as T

import whoosh_spark.query as Q
from whoosh_spark.analysis import Analyzer, stemming_analyzer
from whoosh_spark.index import Index, build_segment, create_in
from whoosh_spark.index.build import build_segment_rows
from whoosh_spark.index.merge import apply_merge_policy
from whoosh_spark.schema import (BOOLEAN, DATETIME, ID, NUMERIC, STORED, TEXT,
                                 IndexSchema)
from whoosh_spark.search import Searcher

BOOST_ANA = Analyzer(pattern=r"\S+", lowercase=False, use_stopfilter=False,
                     delimited_boost="^")
SCHEMA = IndexSchema.of(
    key=ID(stored=True, unique=True),
    body=TEXT(stored=True),
    boosted=TEXT(analyzer=BOOST_ANA, phrase=False),
    marked=TEXT(analyzer=BOOST_ANA, chars=True, pos_boosts=True),
    spelled=TEXT(analyzer=stemming_analyzer(), spelling=True),
    vec=TEXT(vector=True),
    n=NUMERIC(),
    when=DATETIME(),
    flag=BOOLEAN(),
    blob=STORED(),
    nothing=NUMERIC(),
    sflag=BOOLEAN(),
    snum=NUMERIC(),
    swhen=DATETIME(),
    zwhen=DATETIME(),
    fcode=ID(stored=True),
    icode=ID(stored=True),
    tcode=ID(stored=True),
    iblob=STORED(),
    tblob=STORED(),
)
SPARK_TYPES = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("key", T.StringType()),
    T.StructField("body", T.StringType()),
    T.StructField("boosted", T.StringType()),
    T.StructField("marked", T.StringType()),
    T.StructField("spelled", T.StringType()),
    T.StructField("vec", T.StringType()),
    T.StructField("n", T.DoubleType()),
    T.StructField("when", T.TimestampType()),
    T.StructField("flag", T.BooleanType()),
    T.StructField("blob", T.StringType()),
    T.StructField("nothing", T.DoubleType()),
    T.StructField("sflag", T.StringType()),
    T.StructField("snum", T.StringType()),
    T.StructField("swhen", T.StringType()),
    T.StructField("zwhen", T.TimestampType()),
    T.StructField("fcode", T.DoubleType()),
    T.StructField("icode", T.LongType()),
    T.StructField("tcode", T.TimestampType()),
    T.StructField("iblob", T.LongType()),
    T.StructField("tblob", T.TimestampType()),
])
# strings Spark's cast reads, and (MALFORMED) strings it rejects
BOOL_STRINGS = ["false", "No", " yes ", "1", "0", "T", "f", "Y\t", None]
NUM_STRINGS = ["1.5", " 2 ", "1e3", "inf", "-Infinity", "NaN", "2.5d", "0x1p3",
               "-0", ".5", "1.", "+INF", None]
TIME_STRINGS = ["2020-01-01", "2020", "2020-1-5", "2020-01-01 12", "2020-01-01 12:30",
                "2020-01-01T12:30:15.123456789Z", "2020-01-01 00:00:00 America/New_York",
                "2020-01-01T00:00:00+0530", "2020-01-01 00:00:00 UTC+01:00",
                "2020-01-01 00:00:00.", " 2020-06-30 23:59:59.5 ", None]
MALFORMED = {"sflag": "maybe", "snum": "1_000", "swhen": "2020-01-01T"}
FLOATS = [0.0, -0.0, 1.0, 1e7, 9999999.5, 1e-3, 9.99e-4, 1e20, 1.234e-5, 0.1,
          123456.789, -2.5e-10, float("inf"), float("nan")]
OFFSETS = [datetime.timezone(datetime.timedelta(hours=h, minutes=m))
           for h, m in ((0, 0), (5, 30), (-8, 0), (13, 45))]
WORDS = ["alfa", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
         "hotel", "running", "runs", "jumped", "jumping"]
TABLES = ("postings", "termstats", "lengths", "docs", "vectors")


def _rows(n: int) -> list[dict]:
    rng = random.Random(17)
    rows = []
    for i in range(n):
        pick = lambda k: " ".join(rng.choice(WORDS) for _ in range(k))  # noqa: E731
        rows.append({
            "doc_id": i,
            "key": f"k{i}",
            # "common" is in every document: its postings fill several blocks
            "body": f"common {pick(rng.randint(2, 9))}" if i % 11 else None,
            "boosted": " ".join(f"{w}^{rng.choice([0.1, 0.5, 1, 2.5])}"
                                for w in pick(3).split()),
            "marked": " ".join(f"{w}^{rng.choice([0.3, 1, 2])}" for w in pick(4).split()),
            "spelled": pick(4),
            "vec": pick(3),
            "n": float(rng.randint(0, 50)) / 4 if i % 3 else None,
            "when": datetime.datetime(2020, 1, 1 + i % 28, i % 24,
                                      tzinfo=datetime.timezone.utc),
            "flag": bool(i % 2) if i % 5 else None,
            "blob": f"payload {i}" if i % 4 else None,
            "nothing": None,
            "sflag": BOOL_STRINGS[i % len(BOOL_STRINGS)],
            "snum": NUM_STRINGS[i % len(NUM_STRINGS)],
            "swhen": TIME_STRINGS[i % len(TIME_STRINGS)],
            "zwhen": datetime.datetime(2021, 3, 1 + i % 28, i % 24, i % 60, i % 60,
                                       tzinfo=OFFSETS[i % len(OFFSETS)]) if i % 6 else None,
            "fcode": FLOATS[i % len(FLOATS)] * (1 + i // len(FLOATS)),
            "icode": i * 7919 - 1000,
            "tcode": datetime.datetime(2019, 12, 31, 23, i % 60, 0, 10000 * (i % 100),
                                       tzinfo=OFFSETS[i % len(OFFSETS)]),
            "iblob": i * 3 if i % 7 else None,
            "tblob": datetime.datetime(2022, 7, 4, 0, 0, i % 60, tzinfo=OFFSETS[i % 4]),
        })
    return rows


def _spark_segment(spark, rows, d):
    df = spark.createDataFrame([tuple(r[f.name] for f in SPARK_TYPES) for r in rows],
                               SPARK_TYPES)
    return build_segment(spark, df, Index(spark, d).schema, d, sha_col=None)


def _driver_segment(spark, rows, d):
    return build_segment_rows(spark, rows, Index(spark, d).schema, d)


def _norm(v):
    """Bit-level form of a cell: floats by their IEEE bytes, binary as bytes."""
    if isinstance(v, float):
        return ("f", struct.pack("<d", v))
    if isinstance(v, (bytes, bytearray)):
        return ("b", bytes(v))
    return ("v", v)


def _table(spark, d, info, table):
    df = spark.read.parquet(f"{info.path(d)}/{table}.parquet")
    rows = sorted((tuple(_norm(v) for v in r) for r in df.collect()), key=repr)
    return [(f.name, f.dataType) for f in df.schema], rows


def _build_both(spark, tmp_path, rows):
    infos = {}
    for placement, build in (("spark", _spark_segment), ("driver", _driver_segment)):
        d = str(tmp_path / placement)
        create_in(spark, d, SCHEMA)
        infos[placement] = (d, build(spark, rows, d))
    return infos["spark"], infos["driver"]


def _assert_equal_tables(spark, spark_seg, driver_seg):
    (ds, s_info), (dd, d_info) = spark_seg, driver_seg
    for table in TABLES:
        s_cols, s_rows = _table(spark, ds, s_info, table)
        d_cols, d_rows = _table(spark, dd, d_info, table)
        assert d_cols == s_cols, table
        assert len(d_rows) == len(s_rows), table
        for a, b in zip(d_rows, s_rows):
            assert a == b, (table, a, b)


def test_driver_and_spark_placements_write_equal_tables(spark, tmp_path):
    (ds, s_info), (dd, d_info) = _build_both(spark, tmp_path, _rows(300))
    _assert_equal_tables(spark, (ds, s_info), (dd, d_info))
    cols, blocks = _table(spark, dd, d_info, "postings")
    col = {name: i for i, (name, _) in enumerate(cols)}
    # the common term spans several blocks, and every payload is written
    assert sum(r[col["term"]] == ("v", "common") for r in blocks) >= 2
    for payload in ("positions", "weights", "pos_boosts", "startchars", "endchars"):
        assert any(r[col[payload]] != ("v", None) for r in blocks), payload
    assert ("v", "spell_spelled") in {r[col["field"]] for r in blocks}
    for attr in ("doc_count", "min_doc_id", "max_doc_id", "field_lengths",
                 "field_term_counts", "stored_cols"):
        assert getattr(d_info, attr) == getattr(s_info, attr), attr


@pytest.mark.parametrize("ansi", [True, False])
def test_placements_agree_on_malformed_strings(spark, tmp_path, ansi):
    """A string Spark's cast rejects fails the build in both placements
    under ANSI casts, and stores null in both without them."""
    rows = _rows(20)
    for i, (field, bad) in enumerate(MALFORMED.items()):
        rows[3 + i][field] = bad
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", str(ansi).lower())
    try:
        if not ansi:
            _assert_equal_tables(spark, *_build_both(spark, tmp_path, rows))
            return
        for i, (field, bad) in enumerate(MALFORMED.items()):
            one = [dict(r, **{f: None for f in MALFORMED if f != field}) for r in rows]
            for build in (_spark_segment, _driver_segment):
                d = str(tmp_path / f"{field}-{build.__name__}")
                create_in(spark, d, SCHEMA)
                with pytest.raises(Exception, match="cannot be cast|CAST_INVALID_INPUT"):
                    build(spark, one, d)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


QUERIES = [
    Q.Term("body", "common"),
    Q.Or([Q.Term("body", "alfa"), Q.Term("body", "echo")]),
    Q.Phrase("body", ["common", "alfa"]),
    Q.Term("boosted", "bravo"),
    Q.Or([Q.Term("marked", "golf"), Q.Term("marked", "hotel")]),
    Q.Term("spelled", "run"),
]


def _top(spark, d):
    s = Searcher(Index(spark, d))
    return [[(r["doc_id"], r["score"]) for r in s.search(q, limit=10).collect()]
            for q in QUERIES]


@pytest.mark.parametrize("policy,chunks", [("OPTIMIZE", [(0, 150), (150, 150)]),
                                           ("MERGE_SMALL", [(5 * i, 5) for i in range(6)])])
def test_merged_placements_answer_like_one_spark_segment(spark, tmp_path, policy, chunks):
    n = sum(k for _, k in chunks)
    rows = _rows(n)
    one = str(tmp_path / "one")
    create_in(spark, one, SCHEMA)
    _spark_segment(spark, rows, one)

    mixed = str(tmp_path / "mixed")
    create_in(spark, mixed, SCHEMA)
    for i, (start, k) in enumerate(chunks):
        build = _driver_segment if i % 2 else _spark_segment
        build(spark, rows[start:start + k], mixed)
    merged = apply_merge_policy(spark, mixed, policy)
    assert len(merged) >= 2  # the policy merged segments of both placements
    assert _top(spark, mixed) == _top(spark, one)
