"""Buffered writer API (reference writing.py:196-520): ix.writer() /
add_document / update_document / delete_* / commit(optimize=, merge=) /
cancel / context manager, and ix.searcher() as a context manager.
Mirrors the reference's test_writing.py / test_indexing.py usage shapes.
"""

import pytest

import whoosh_spark.query as Q
from whoosh_spark.index import Index, create_in
from whoosh_spark.schema import ID, KEYWORD, TEXT, IndexSchema


@pytest.fixture()
def ix(spark, tmp_path):
    schema = IndexSchema.of(key=ID(stored=True, unique=True),
                            body=TEXT(stored=True))
    return create_in(spark, str(tmp_path / "widx"), schema)


def test_add_and_search(ix):
    w = ix.writer()
    d0 = w.add_document(key="a", body="alfa bravo charlie")
    d1 = w.add_document(key="b", body="bravo delta")
    with pytest.raises(ValueError):
        w.add_document(nope="x")
    w.commit()
    assert d0 != d1 and ix.doc_count() == 2

    with ix.searcher() as s:
        got = [r["doc_id"] for r in
               s.search(Q.Term("body", "bravo"), limit=5).collect()]
        assert sorted(got) == sorted([d0, d1])
        assert s.document(key="a")["body"] == "alfa bravo charlie"


def test_context_manager_commit_and_cancel(ix):
    with ix.writer() as w:
        w.add_document(key="a", body="alfa")
    assert ix.doc_count() == 1

    with pytest.raises(RuntimeError):
        with ix.writer() as w:
            w.add_document(key="b", body="bravo")
            raise RuntimeError("boom")
    assert ix.doc_count() == 1  # cancelled, nothing committed
    with pytest.raises(ValueError):
        w.add_document(key="c", body="closed")


def test_update_and_delete(ix):
    with ix.writer() as w:
        w.add_document(key="a", body="alfa old")
        w.add_document(key="b", body="bravo")
        w.add_document(key="c", body="charlie")
    with ix.writer() as w:
        with pytest.raises(ValueError):
            w.update_document(body="no unique value")
        w.update_document(key="a", body="alfa new")
        w.delete_by_term("body", "charlie")
    assert ix.doc_count() == 2
    with ix.searcher() as s:
        assert s.document(key="a")["body"] == "alfa new"
        assert s.search(Q.Term("body", "old"), limit=5).collect() == []
        assert s.document(key="c") is None

    docnum = ix.searcher().document_number(key="b")
    with ix.writer() as w:
        w.delete_document(docnum)
    assert ix.doc_count() == 1

    with ix.writer() as w:
        w.delete_by_query(Q.Term("body", "new"))
    assert ix.doc_count() == 0


def test_writer_schema_ops_and_optimize(ix):
    with ix.writer() as w:
        w.add_document(key="a", body="alfa")
    with ix.writer() as w:
        w.add_field("tag", KEYWORD(stored=True))
        w.add_document(key="b", body="bravo", tag="blue")
    with ix.searcher() as s:
        assert s.document(key="b") == {"doc_id": 1, "key": "b",
                                       "body": "bravo", "tag": "blue"}
    w = ix.writer()
    w.remove_field("tag")
    w.commit(optimize=True)
    assert len(ix.manifest.segments) == 1
    with ix.searcher() as s:
        assert s.document(key="b") == {"doc_id": 1, "key": "b",
                                       "body": "bravo"}
        assert s.search(Q.Term("tag", "blue"), limit=5).collect() == []


def test_commit_merge_policy(ix):
    for k in "abcdefg":
        with ix.writer() as w:  # default commit -> MERGE_SMALL each time
            w.add_document(key=k, body=f"word{k} shared")
    assert ix.doc_count() == 7
    # fibonacci tiering keeps the segment count well under one-per-commit
    assert len(ix.manifest.segments) < 7
    with ix.searcher() as s:
        assert len(s.search(Q.Term("body", "shared"), limit=20).collect()) == 7


def test_stored_dtypes_consistent_across_commits(spark, tmp_path):
    """Stored columns are cast to ONE canonical dtype per schema kind at
    segment-write time: an all-None NUMERIC batch, an int batch, and a
    float batch must produce merge-compatible docs.parquet segments (the
    old behavior let pandas inference pin string/bigint/double per batch
    and docs()'s mergeSchema read then threw)."""
    from whoosh_spark.schema import NUMERIC

    d = str(tmp_path / "wdtype")
    ix = create_in(spark, d, IndexSchema.of(
        body=TEXT(), n=NUMERIC(), k=ID(stored=True)))
    with ix.writer() as w:
        w.add_document(doc_id=0, body="alfa", k="a", n=None)  # all-None batch
    with ix.writer() as w:
        w.add_document(doc_id=1, body="bravo", k="b", n=7)    # int batch
    with ix.writer() as w:
        w.add_document(doc_id=2, body="charlie", k="c", n=2.5)  # float batch
    ix.reload()
    docs = ix.docs()
    assert dict(docs.dtypes)["n"] == "double"
    rows = {r["doc_id"]: r["n"] for r in docs.collect()}
    assert rows == {0: None, 1: 7.0, 2: 2.5}


def test_stored_glob_numeric_widths_merge(spark, tmp_path):
    """Untyped (glob STORED) numeric payloads collapse to double so an
    int-only segment and a float segment still merge-read."""
    from pyspark.sql import Row

    from whoosh_spark.index import build_index
    from whoosh_spark.index.build import build_segment
    from whoosh_spark.schema import STORED

    d = str(tmp_path / "globw")
    schema = IndexSchema(fields={}, dyn_fields={})
    schema.add("f*", STORED, glob=True)
    schema.add("key", ID(stored=True))
    build_index(spark, spark.createDataFrame(
        [Row(doc_id=0, key="k0", f1=1)]), schema, d, sha_col=None)
    build_segment(spark, spark.createDataFrame(
        [Row(doc_id=1, key="k1", f1=2.5)]),
        Index(spark, d).schema, d, sha_col=None)
    ix = Index(spark, d)
    rows = {r["doc_id"]: r["f1"] for r in ix.docs().collect()}
    assert rows == {0: 1.0, 1: 2.5}


def test_commit_one_tombstone_pass_equals_two(spark, tmp_path):
    """A commit tombstones its deleted ids and the rows its updates
    replace in one pass; the live set and every segment's deleted_count
    equal deleting the ids first and committing the updates after. One
    update replaces a row that is also deleted by id."""
    from whoosh_spark.index.merge import delete_docs

    schema = IndexSchema.of(key=ID(stored=True, unique=True),
                            body=TEXT(stored=True))
    twins = []
    for name in ("one_pass", "two_pass"):
        ix = create_in(spark, str(tmp_path / name), schema)
        for r in range(2):
            with ix.writer() as w:
                for i in range(6):
                    w.add_document(key=f"k{r}{i}", body=f"alfa {r} {i}")
        twins.append(ix)
    ids = [1, 7, 8]  # doc 1 is key k01, which an update below replaces
    updates = [("k01", "bravo one"), ("k03", "bravo three"), ("k15", "bravo five")]

    one, two = twins
    w = one.writer()
    for i in ids:
        w.delete_document(i)
    for k, body in updates:
        w.update_document(key=k, body=body)
    w.commit(merge=False)

    delete_docs(spark, two.index_dir, ids)
    w = two.writer()
    for k, body in updates:
        w.update_document(key=k, body=body)
    w.commit(merge=False)

    def state(ix):
        ix.reload()
        live = sorted((r["doc_id"], r["key"], r["body"]) for r in ix.docs().collect())
        return live, [s.deleted_count for s in ix.manifest.segments]

    assert state(one) == state(two)
    assert state(one)[1] == [2, 3, 0]


def test_writer_commit_launches_no_jobs(spark, tmp_path):
    """A commit of adds, updates by a stored and by an unstored unique
    field, deletes by id and a delete by term writes its segment and its
    tombstones on the driver: no Spark job. The tombstones are those of
    test_commit_one_tombstone_pass_equals_two's one-pass commit, plus the
    rows the term and the unstored-key update select."""
    import pyarrow.parquet as pq
    from test_merge import _count_jobs

    schema = IndexSchema.of(key=ID(stored=True, unique=True),
                            tag=ID(unique=True), body=TEXT(stored=True))
    ix = create_in(spark, str(tmp_path / "nojobs"), schema)
    for r in range(2):
        with ix.writer() as w:
            for i in range(6):
                w.add_document(key=f"k{r}{i}", tag=f"t{r}{i}", body=f"alfa r{r} i{i}")

    w = ix.writer()
    for i in [1, 7, 8]:  # doc 1 is key k01, which an update below replaces
        w.delete_document(i)
    for k, body in [("k01", "bravo one"), ("k03", "bravo three")]:
        w.update_document(key=k, body=body)
    w.update_document(tag="t15", body="bravo five")  # unstored unique field
    w.delete_by_term("body", "i4")  # docs 4 and 10
    w.add_document(key="new", body="charlie")
    assert _count_jobs(spark, lambda: w.commit(merge=False)) == 0

    ix.reload()
    assert [s.deleted_count for s in ix.manifest.segments] == [3, 4, 0]
    live = sorted((r["doc_id"], r["key"], r["body"]) for r in ix.docs().collect())
    assert live == [(0, "k00", "alfa r0 i0"), (2, "k02", "alfa r0 i2"),
                    (5, "k05", "alfa r0 i5"), (6, "k10", "alfa r1 i0"),
                    (9, "k13", "alfa r1 i3"), (12, "k01", "bravo one"),
                    (13, "k03", "bravo three"), (14, None, "bravo five"),
                    (15, "new", "charlie")]
    # the tombstone files hold exactly the deleted ids
    dead = sorted(int(i) for s in ix.manifest.segments if s.has_deletes
                  for i in pq.read_table(s.deletes_path(ix.index_dir))["doc_id"].to_pylist())
    assert dead == [1, 3, 4, 7, 8, 10, 11]
