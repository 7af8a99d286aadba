"""Manifest write lock: concurrent committers must not lose each other's
updates (reference serializes writers via the storage WRITELOCK,
index.py:342-372). The manifest rename is atomic, but without the lock the
read-modify-write interleaves and the last rename silently drops the other
writer's segment."""

import os
import threading
import time

import pytest
from pyspark.sql import Row

import whoosh_spark.query as Q
from whoosh_spark.index import Index, create_in
from whoosh_spark.index.build import build_segment
from whoosh_spark.index.lock import LOCK_NAME, LockError, index_lock
from whoosh_spark.schema import ID, TEXT, IndexSchema
from whoosh_spark.search import Searcher


def test_lock_mutual_exclusion(tmp_path):
    d = str(tmp_path / "lk")
    order = []

    def worker(tag):
        with index_lock(d):
            order.append(("in", tag))
            time.sleep(0.15)
            order.append(("out", tag))

    ts = [threading.Thread(target=worker, args=(i,)) for i in range(3)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    # strictly serialized: every "in" is immediately followed by its "out"
    for i in range(0, 6, 2):
        assert order[i][0] == "in" and order[i + 1][0] == "out"
        assert order[i][1] == order[i + 1][1]
    assert not os.path.exists(os.path.join(d, LOCK_NAME))


def test_lock_timeout_and_stale_break(tmp_path):
    d = str(tmp_path / "lk2")
    os.makedirs(d)
    path = os.path.join(d, LOCK_NAME)
    with open(path, "w") as f:
        f.write("held\n")
    with pytest.raises(LockError):
        with index_lock(d, timeout=0.3):
            pass
    # a stale lock (older than STALE_SECS) is broken, not waited on
    old = time.time() - 10_000
    os.utime(path, (old, old))
    with index_lock(d, timeout=0.3):
        pass
    assert not os.path.exists(path)


def test_concurrent_commits_keep_every_segment(spark, tmp_path):
    d = str(tmp_path / "conc")
    schema = IndexSchema.of(key=ID(stored=True), body=TEXT())
    create_in(spark, d, schema)

    n_writers, errs = 4, []

    def writer(w):
        try:
            rows = [Row(doc_id=w * 100 + j, key=f"w{w}_{j}",
                        body=f"alfa writer{w} doc{j}") for j in range(3)]
            build_segment(spark, spark.createDataFrame(rows), schema, d,
                          sha_col=None)
        except Exception as e:  # surface failures to the main thread
            errs.append((w, e))

    ts = [threading.Thread(target=writer, args=(w,)) for w in range(n_writers)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs, errs

    ix = Index(spark, d)
    # no committer's segment was dropped by another's read-modify-write
    assert ix.doc_count() == n_writers * 3
    assert len(ix.manifest.segments) == n_writers
    assert len({s.name for s in ix.manifest.segments}) == n_writers
    got = Searcher(ix).search(Q.Term("body", "alfa"), limit=None).collect()
    assert len(got) == n_writers * 3


def test_lock_keepalive_prevents_stale_break(tmp_path, monkeypatch):
    """A long-held lock stays fresh via the heartbeat: another writer must
    wait (or time out), never break a LIVE lock."""
    import whoosh_spark.index.lock as lk

    monkeypatch.setattr(lk, "STALE_SECS", 0.3)   # heartbeat every 0.1s
    d = str(tmp_path / "lk3")
    entered = threading.Event()
    release = threading.Event()

    def holder():
        with lk.index_lock(d):
            entered.set()
            release.wait(5.0)

    t = threading.Thread(target=holder)
    t.start()
    entered.wait(5.0)
    time.sleep(0.8)  # well past STALE_SECS — heartbeat must keep it live
    with pytest.raises(lk.LockError):
        with lk.index_lock(d, timeout=0.4):
            pass
    release.set()
    t.join()
    with lk.index_lock(d, timeout=1.0):  # released -> acquirable
        pass


def test_release_verifies_owner_token(tmp_path):
    """finally-release must not unlink a SUCCESSOR's lock: if ours was
    broken and re-acquired while we held it, the token no longer matches
    and release leaves the new holder's file alone."""
    d = str(tmp_path / "tok1")
    os.makedirs(d)
    path = os.path.join(d, LOCK_NAME)
    with index_lock(d):
        os.unlink(path)  # a breaker removed our (apparently stale) lock
        with open(path, "w") as f:
            f.write("successor:deadbeef\n")
    assert os.path.exists(path), "release unlinked a lock it did not own"
    with open(path) as f:
        assert f.readline().strip() == "successor:deadbeef"


def test_stale_break_single_winner_no_overlap(tmp_path):
    """Several waiters racing to break the same stale lock: the rename-to-
    unique break means exactly one path wins; holders never overlap."""
    d = str(tmp_path / "tok2")
    os.makedirs(d)
    path = os.path.join(d, LOCK_NAME)
    with open(path, "w") as f:
        f.write("dead:writer\n")
    old = time.time() - 10_000
    os.utime(path, (old, old))

    active, overlap, guard = [], [], threading.Lock()

    def worker(i):
        with index_lock(d, timeout=10.0):
            with guard:
                if active:
                    overlap.append((i, list(active)))
                active.append(i)
            time.sleep(0.05)
            with guard:
                active.remove(i)

    ts = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not overlap, f"two holders at once after stale break: {overlap}"
    assert not os.path.exists(path)


def test_heartbeat_stops_after_lock_stolen(tmp_path, monkeypatch):
    """Once broken-and-reacquired, the OLD holder's heartbeat must not
    refresh the new lock file (token check in _heartbeat)."""
    import whoosh_spark.index.lock as lk

    monkeypatch.setattr(lk, "STALE_SECS", 0.3)
    d = str(tmp_path / "tok3")
    os.makedirs(d)
    path = os.path.join(d, LOCK_NAME)
    with lk.index_lock(d):
        os.unlink(path)
        with open(path, "w") as f:
            f.write("successor:cafe\n")
        old = time.time() - 100
        os.utime(path, (old, old))
        time.sleep(0.45)  # > heartbeat interval; must NOT utime foreign lock
        assert time.time() - os.stat(path).st_mtime > 50


def test_clean_files_keeps_staging_while_locked(spark, tmp_path):
    """clean_files removes an aged .deletes_staging dir only when no writer
    holds the index lock (delete_docs stages under that lock)."""
    from whoosh_spark.index.merge import clean_files

    d = str(tmp_path / "staged")
    create_in(spark, d, IndexSchema.of(text=TEXT()))
    os.makedirs(os.path.join(d, "segments"), exist_ok=True)
    staging = os.path.join(d, ".deletes_staging")
    os.makedirs(staging)
    with index_lock(d):
        assert ".deletes_staging" not in clean_files(d, grace_secs=0)
        assert os.path.isdir(staging)
    assert ".deletes_staging" in clean_files(d, grace_secs=0)
    assert not os.path.exists(staging)
