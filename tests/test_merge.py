import os

import pytest
from pyspark.sql import Row, functions as F

import whoosh_spark.query as Q
from whoosh_spark.index import Index, build_index
from whoosh_spark.index.merge import (
    apply_merge_policy,
    delete_by_term,
    delete_docs,
    fib,
    pick_merge_small,
    update_documents,
)
from whoosh_spark.index.segment import SegmentInfo, read_manifest
from whoosh_spark.schema import IndexSchema, ID, TEXT
from whoosh_spark.search import Searcher


def seg(name, n):
    return SegmentInfo(name=name, doc_count=n, field_lengths={}, min_doc_id=0, max_doc_id=n - 1)


def test_fib():
    assert [fib(i) for i in range(10)] == [0, 1, 1, 2, 3, 5, 8, 13, 21, 34]


def test_pick_merge_small_reference_heuristic():
    # 5 tiny segments: at i=4 (>3), total=5 < fib(9)=34 -> merge all 5
    segs = [seg(f"s{i}", 1) for i in range(5)]
    to_merge, unchanged = pick_merge_small(segs)
    assert len(to_merge) == 5 and unchanged == []
    # big segments never meet total < fib(i+5) -> no merge
    segs = [seg(f"s{i}", 10_000) for i in range(5)]
    to_merge, unchanged = pick_merge_small(segs)
    assert to_merge == [] and len(unchanged) == 5


@pytest.fixture()
def multi_ix(spark, tmp_path):
    d = str(tmp_path / "idx")
    schema = IndexSchema.of(key=ID(stored=True), value=TEXT())
    rows = [Row(doc_id=i, key=str(i), value=f"alfa bravo w{i % 7} shared") for i in range(30)]
    df = spark.createDataFrame(rows)
    build_index(spark, df, schema, d, num_chunks=5, sha_col="value")
    return d


def test_multisegment_search_equals_singleseg(spark, multi_ix, tmp_path):
    # same docs in one segment
    d1 = str(tmp_path / "idx1")
    schema = IndexSchema.of(key=ID(stored=True), value=TEXT())
    rows = [Row(doc_id=i, key=str(i), value=f"alfa bravo w{i % 7} shared") for i in range(30)]
    build_index(spark, spark.createDataFrame(rows), schema, d1, sha_col="value")

    q = Q.And([Q.Term("value", "alfa"), Q.Term("value", "w3")])
    multi = [(r["doc_id"], r["score"]) for r in Searcher(Index(spark, multi_ix)).search(q, limit=30).collect()]
    single = [(r["doc_id"], r["score"]) for r in Searcher(Index(spark, d1)).search(q, limit=30).collect()]
    assert multi == single


def test_merge_small_policy_e2e(spark, multi_ix):
    m0 = read_manifest(multi_ix)
    assert len(m0.segments) == 5
    merged = apply_merge_policy(spark, multi_ix, "MERGE_SMALL")
    assert len(merged) == 5  # 5 tiny segments all merge
    m1 = read_manifest(multi_ix)
    assert len(m1.segments) == 1
    assert m1.doc_count_all() == 30
    ix = Index(spark, multi_ix)
    assert ix.postings_for("value", ["alfa"]).count() == 30
    # old segment dirs linger for the snapshot-isolation grace window,
    # then clean_files removes exactly them (reference clean_files)
    from whoosh_spark.index.merge import clean_files

    live = {s.name for s in m1.segments}
    on_disk = set(os.listdir(os.path.join(multi_ix, "segments")))
    assert live <= on_disk
    clean_files(multi_ix, grace_secs=0.0)
    on_disk = set(os.listdir(os.path.join(multi_ix, "segments")))
    assert on_disk == live


def test_optimize_policy(spark, tmp_path):
    d = str(tmp_path / "idx")
    schema = IndexSchema.of(value=TEXT())
    df = spark.createDataFrame([Row(doc_id=i, value="alfa bravo") for i in range(10)])
    build_index(spark, df, schema, d, num_chunks=2, sha_col=None)
    assert len(read_manifest(d).segments) == 2
    apply_merge_policy(spark, d, "OPTIMIZE")
    assert len(read_manifest(d).segments) == 1
    assert Index(spark, d).doc_count_all() == 10


def test_deletes_and_query(spark, tmp_path):
    d = str(tmp_path / "idx")
    schema = IndexSchema.of(key=ID(stored=True), value=TEXT())
    df = spark.createDataFrame([Row(doc_id=i, key=str(i), value="alfa target" if i % 2 else "alfa other") for i in range(10)])
    build_index(spark, df, schema, d, sha_col=None)
    n = delete_by_term(spark, d, "value", "target")
    assert n == 5
    ix = Index(spark, d)
    assert ix.doc_count() == 5
    got = Searcher(ix).search(Q.Term("value", "alfa"), limit=20).collect()
    assert sorted(r["doc_id"] for r in got) == [0, 2, 4, 6, 8]
    # merge drops tombstoned docs permanently
    df2 = spark.createDataFrame([Row(doc_id=100 + i, key=str(100 + i), value="alfa new") for i in range(3)])
    from whoosh_spark.index.build import build_segment

    build_segment(spark, df2, schema, d, sha_col=None)
    apply_merge_policy(spark, d, "OPTIMIZE")
    m = read_manifest(d)
    assert m.doc_count_all() == 8  # 5 survivors + 3 new
    assert not any(s.has_deletes for s in m.segments)


def test_update_by_unique_key(spark, tmp_path):
    d = str(tmp_path / "idx")
    schema = IndexSchema.of(key=ID(stored=True, unique=True), value=TEXT())
    df = spark.createDataFrame([Row(doc_id=i, key=f"k{i}", value="alfa old") for i in range(5)])
    build_index(spark, df, schema, d, sha_col=None)
    upd = spark.createDataFrame([Row(doc_id=10, key="k2", value="alfa fresh")])
    update_documents(spark, upd, d, unique_field="key", sha_col=None)
    ix = Index(spark, d)
    got = Searcher(ix).search(Q.Term("value", "alfa"), limit=20).collect()
    ids = sorted(r["doc_id"] for r in got)
    assert ids == [0, 1, 3, 4, 10]  # old doc 2 replaced by doc 10
    fresh = Searcher(ix).search(Q.Term("value", "fresh"), limit=5).collect()
    assert [r["doc_id"] for r in fresh] == [10]


def test_optimize_expunges_single_segment_tombstones(spark, tmp_path):
    """OPTIMIZE rewrites even a SINGLE segment when it carries tombstones
    (the reference's commit(optimize=True) expunges deletions without a
    merge partner). Regression: this used to be a silent no-op, so deleted
    docs were never physically dropped from a 1-segment index."""
    from pyspark.sql import Row

    from whoosh_spark.index.merge import apply_merge_policy, delete_by_term

    d = str(tmp_path / "opt1")
    rows = [Row(doc_id=i, text=("alfa" if i < 5 else "bravo") + f" tok{i}")
            for i in range(10)]
    build_index(spark, spark.createDataFrame(rows), IndexSchema.of(text=TEXT()),
                d, sha_col=None)
    assert delete_by_term(spark, d, "text", "alfa") == 5
    assert apply_merge_policy(spark, d, "OPTIMIZE")  # did rewrite
    ix = Index(spark, d)
    assert ix.manifest.doc_count_all() == 5 and len(ix.manifest.segments) == 1
    got = Searcher(Index(spark, d)).search(Q.Term("text", "bravo"), limit=10).collect()
    assert sorted(r["doc_id"] for r in got) == [5, 6, 7, 8, 9]
    # a clean single segment stays a no-op
    assert apply_merge_policy(spark, d, "OPTIMIZE") == []


def test_merge_keeps_snapshot_for_open_readers(spark, tmp_path):
    """Victim segment dirs survive a merge for the grace window, so a
    reader holding the previous manifest snapshot keeps working
    (reference clean_files generation semantics, index.py:374-403)."""
    import os

    from whoosh_spark.index.build import build_segment
    from whoosh_spark.index.merge import clean_files, merge_segments
    from whoosh_spark.schema import IndexSchema, ID, TEXT

    d = str(tmp_path / "snap")
    schema = IndexSchema.of(key=ID(stored=True), value=TEXT())
    for base in (0, 10):
        rows = [Row(doc_id=base + j, key=f"k{base+j}", value="alfa bravo")
                for j in range(3)]
        build_segment(spark, spark.createDataFrame(rows), schema, d,
                      sha_col=None)

    stale = Index(spark, d)                      # snapshot BEFORE the merge
    old_names = [s.name for s in stale.manifest.segments]
    assert len(old_names) == 2

    merge_segments(spark, d, old_names)

    # old dirs still on disk (grace window) -> the stale snapshot searches
    for n in old_names:
        assert os.path.isdir(os.path.join(d, "segments", n))
    got = Searcher(stale).search(Q.Term("value", "alfa"), limit=10).collect()
    assert len(got) == 6

    # grace expired -> orphans removed; live segment untouched
    removed = clean_files(d, grace_secs=0.0)
    assert sorted(removed) == sorted(old_names)
    fresh = Index(spark, d)
    assert len(fresh.manifest.segments) == 1
    got = Searcher(fresh).search(Q.Term("value", "alfa"), limit=10).collect()
    assert len(got) == 6


def _race_delete_into_merge(spark, d, monkeypatch, delete_3_and_7):
    """Merge every segment of ``d`` while ``delete_3_and_7`` tombstones
    docs 3 and 7 between the merge's snapshot and its commit; the late
    tombstones must survive the merge."""
    import contextlib

    import whoosh_spark.index.lock as lockmod
    from whoosh_spark.index.build import build_segment
    from whoosh_spark.index.merge import merge_segments

    schema = IndexSchema.of(body=TEXT())
    build_index(spark, spark.createDataFrame(
        [Row(doc_id=i, body=f"alfa doc{i}") for i in range(5)]),
        schema, d, sha_col=None)
    build_segment(spark, spark.createDataFrame(
        [Row(doc_id=i, body=f"alfa doc{i}") for i in range(5, 10)]),
        Index(spark, d).schema, d, sha_col=None)

    real_lock = lockmod.index_lock
    fired = {"done": False}

    @contextlib.contextmanager
    def race_lock(index_dir, timeout=lockmod.TIMEOUT_SECS):
        # fire ONCE, at the merge's commit-lock acquisition: the delete
        # lands after the merge read its snapshot but before the swap
        if not fired["done"]:
            fired["done"] = True
            delete_3_and_7()
        with real_lock(index_dir, timeout):
            yield

    monkeypatch.setattr(lockmod, "index_lock", race_lock)
    victims = [s.name for s in Index(spark, d).manifest.segments]
    info = merge_segments(spark, d, victims)
    assert info.has_deletes and info.deleted_count == 2

    ix = Index(spark, d)
    assert len(ix.manifest.segments) == 1
    live = sorted(r["doc_id"] for r in ix.docs().collect())
    assert live == [0, 1, 2, 4, 5, 6, 8, 9]
    got = sorted(r["doc_id"] for r in
                 Searcher(ix).search(Q.Term("body", "alfa"), limit=None).collect())
    assert got == [0, 1, 2, 4, 5, 6, 8, 9]


def test_midmerge_delete_not_resurrected(spark, tmp_path, monkeypatch):
    """A DataFrame delete landing between a merge's snapshot and its
    commit must survive the merge: the commit section compares victims'
    deleted_count under the lock and re-applies late tombstones to the
    merged segment."""
    from whoosh_spark.index.merge import _delete_docs_locked

    d = str(tmp_path / "mmd")
    _race_delete_into_merge(spark, d, monkeypatch, lambda: _delete_docs_locked(
        spark, d, spark.createDataFrame([(3,), (7,)], "doc_id long")))


def test_midmerge_driver_delete_not_resurrected(spark, tmp_path, monkeypatch):
    """The same race through the driver tombstone pass that
    ``delete_docs(list)`` and writer commits take."""
    import numpy as np

    from whoosh_spark.index.merge import _tombstone_locked

    d = str(tmp_path / "mmd")
    _race_delete_into_merge(spark, d, monkeypatch, lambda: _tombstone_locked(
        d, read_manifest(d), np.array([3, 7])))


def test_merge_aborts_when_victim_replaced(spark, tmp_path, monkeypatch):
    """If a victim segment vanished from the manifest during the rewrite
    (e.g. a concurrent merge already committed over it), committing would
    resurrect its removed docs — the merge must abort instead."""
    import contextlib

    import whoosh_spark.index.lock as lockmod
    from whoosh_spark.index.build import build_segment
    from whoosh_spark.index.merge import merge_segments
    from whoosh_spark.index.segment import write_manifest

    d = str(tmp_path / "mab")
    schema = IndexSchema.of(body=TEXT())
    build_index(spark, spark.createDataFrame(
        [Row(doc_id=0, body="alfa")]), schema, d, sha_col=None)
    build_segment(spark, spark.createDataFrame(
        [Row(doc_id=1, body="bravo")]), Index(spark, d).schema, d, sha_col=None)

    real_lock = lockmod.index_lock
    fired = {"done": False}

    @contextlib.contextmanager
    def race_lock(index_dir, timeout=lockmod.TIMEOUT_SECS):
        if not fired["done"]:
            fired["done"] = True
            m = read_manifest(d)
            m.segments = m.segments[1:]  # concurrent commit replaced victim 0
            m.generation += 1
            write_manifest(d, m)
        with real_lock(index_dir, timeout):
            yield

    monkeypatch.setattr(lockmod, "index_lock", race_lock)
    victims = [s.name for s in Index(spark, d).manifest.segments]
    with pytest.raises(RuntimeError, match="concurrent commit"):
        merge_segments(spark, d, victims)


def test_delete_writes_new_tombstone_generation(spark, tmp_path):
    """Each delete_docs commit must write a NEW deletes.<gen>.parquet and
    repoint the manifest (atomic rename) — never rewrite the live file in
    place. Readers holding the previous manifest keep a complete file."""
    d = str(tmp_path / "idx")
    schema = IndexSchema.of(key=ID(stored=True), value=TEXT())
    df = spark.createDataFrame(
        [Row(doc_id=i, key=str(i), value="alfa shared") for i in range(20)])
    build_index(spark, df, schema, d, sha_col=None)
    delete_docs(spark, d, [0, 1])
    m1 = read_manifest(d)
    (seg1,) = m1.segments
    assert seg1.deletes_gen == 1
    p1 = seg1.deletes_path(d)
    assert os.path.exists(p1)
    delete_docs(spark, d, [2, 3])
    m2 = read_manifest(d)
    (seg2,) = m2.segments
    assert seg2.deletes_gen == 2
    # the previous generation is still on disk for snapshot readers...
    assert os.path.exists(p1) and os.path.exists(seg2.deletes_path(d))
    # ...and the old manifest snapshot still reads cleanly through it
    old_ids = {r["doc_id"] for r in spark.read.parquet(p1).collect()}
    assert old_ids == {0, 1}
    # GC drops superseded generations after the grace window (0 here)
    from whoosh_spark.index.merge import clean_files

    removed = clean_files(d, grace_secs=0.0)
    assert any(name.endswith(seg1.deletes_filename()) for name in removed)
    assert not os.path.exists(p1)
    assert os.path.exists(seg2.deletes_path(d))  # live gen survives GC
    # no-op delete (already tombstoned) must not burn a generation
    delete_docs(spark, d, [2, 3])
    assert read_manifest(d).segments[0].deletes_gen == 2


def test_concurrent_reader_during_deletes(spark, tmp_path):
    """A reader loop re-opening the index while delete_docs commits in
    another thread must never error (no partial/missing tombstone file)
    and must observe monotonically shrinking result sets."""
    import threading

    d = str(tmp_path / "idx")
    schema = IndexSchema.of(key=ID(stored=True), value=TEXT())
    df = spark.createDataFrame(
        [Row(doc_id=i, key=str(i), value="alfa shared") for i in range(120)])
    build_index(spark, df, schema, d, sha_col=None)

    errors, counts = [], []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                got = Searcher(Index(spark, d)).search(
                    Q.Term("value", "alfa"), limit=200).collect()
                counts.append(len(got))
            except Exception as e:  # noqa: BLE001 — the test records any failure
                errors.append(repr(e))
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for b in range(6):
            delete_docs(spark, d, list(range(b * 10, b * 10 + 10)))
    finally:
        stop.set()
        t.join()
    assert not errors, errors
    assert counts, "reader never completed a search"
    # every snapshot is consistent: between the final and initial doc sets,
    # and non-increasing (manifest generations only add tombstones)
    assert all(60 <= c <= 120 for c in counts), counts
    assert counts == sorted(counts, reverse=True), counts
    final = Searcher(Index(spark, d)).search(Q.Term("value", "alfa"), limit=200).collect()
    assert sorted(r["doc_id"] for r in final) == list(range(60, 120))


_probe_seq = [0]


def _count_jobs(spark, fn):
    sc = spark.sparkContext
    # a FRESH group per call: getJobIdsForGroup accumulates over the
    # group's whole lifetime, so reuse would double-count the second call
    _probe_seq[0] += 1
    group = f"job-count-probe-{_probe_seq[0]}"
    sc.setJobGroup(group, "counting jobs", interruptOnCancel=False)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_delete_job_count_independent_of_segment_count(spark, tmp_path):
    """delete_docs launches a number of Spark jobs that does not grow with
    the index's segment count. A list of ids is tombstoned on the driver
    and launches none. A DataFrame of ids runs one unioned tombstone
    aggregation + one partitioned staging write — NOT a count+write pair
    per segment. At 10^12-file scale an index has hundreds of segments;
    an O(segments) job loop would serialize on driver round-trips."""
    schema = IndexSchema.of(key=ID(stored=True), value=TEXT())
    ids = list(range(0, 90, 4))
    counts = {}
    for n_chunks in (3, 9):
        for kind in ("list", "frame"):
            d = str(tmp_path / f"idx{n_chunks}{kind}")
            df = spark.createDataFrame(
                [Row(doc_id=i, key=str(i), value=f"alfa w{i % 5} shared") for i in range(90)])
            build_index(spark, df, schema, d, num_chunks=n_chunks, sha_col=None)
            assert len(read_manifest(d).segments) == n_chunks
            # ids spread across every segment so each one is affected
            batch = ids if kind == "list" else spark.createDataFrame(
                [(i,) for i in ids], "doc_id long")
            counts[n_chunks, kind] = _count_jobs(
                spark, lambda d=d, batch=batch: delete_docs(spark, d, batch))
            assert Index(spark, d).doc_count() == 90 - len(ids)
    assert counts[3, "list"] == counts[9, "list"] == 0, counts
    # shape invariance: 3x the segments must not add a single job
    assert counts[9, "frame"] == counts[3, "frame"], counts
    assert counts[3, "frame"] <= 12, counts  # measured 9: AQE stages, not per-segment work
