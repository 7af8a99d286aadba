"""Log-structured segment merging + deletes + updates.

Policies replicate the reference's tiered heuristic
(/root/reference/src/whoosh/writing.py:65-125):

  NO_MERGE      leave segments alone
  MERGE_SMALL   sort segments by doc count ascending; walk with cumulative
                doc total; at the first i > 3 where total < fib(i+5) merge
                every segment up to that point (if more than one)
  OPTIMIZE      merge all segments into one
  CLEAR         drop all existing segments

A merge here is a Spark job: decode the victim segments' posting blocks,
union, re-bucket, re-encode one new segment. Global doc_ids are stable
(no renumbering — unlike the reference's docnum compaction,
writing.py:658-705 — deletes are dropped during merge instead).

Deletes are per-segment tombstone doc_id parquet (the reference's
in-TOC deleted sets, writing.py:298-338); update_by_unique_key =
delete-by-term + add (writing.py:420-489). Ids known on the driver (a
list, a term, a writer commit's deletes and updates) are tombstoned there
with pyarrow (``tombstone``); a DataFrame of ids runs a Spark plan.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from whoosh_spark.index.build import (
    DEFAULT_BUCKET_WIDTH,
    POSTINGS_SCHEMA,
    _encode_partition,
    _write_part,
    build_segment,
)
from whoosh_spark.index.catalog import Index, decode_blocks, parquet_files
from whoosh_spark.index.segment import (
    SegmentInfo,
    next_segment_name,
    read_manifest,
    write_manifest,
)
from whoosh_spark.index.spark_cast import to_text

_FIB_CACHE = {0: 0, 1: 1}


def fib(n: int) -> int:
    if n not in _FIB_CACHE:
        _FIB_CACHE[n] = fib(n - 1) + fib(n - 2)
    return _FIB_CACHE[n]


def pick_merge_small(segments: list[SegmentInfo]) -> tuple[list[SegmentInfo], list[SegmentInfo]]:
    """(to_merge, unchanged) per the reference fibonacci heuristic."""
    unchanged: list[SegmentInfo] = []
    to_merge: list[tuple[SegmentInfo, int]] = []
    total = 0
    found = False
    for i, seg in enumerate(sorted(segments, key=lambda s: s.doc_count_all)):
        count = seg.doc_count_all
        if count > 0:
            total += count
        if found:
            unchanged.append(seg)
        else:
            to_merge.append((seg, i))
            if i > 3 and total < fib(i + 5):
                found = True
    if found and len(to_merge) > 1:
        return [s for s, _ in to_merge], unchanged
    return [], segments


def merge_segments(
    spark: SparkSession,
    index_dir: str,
    victim_names: list[str],
    bucket_width: int = DEFAULT_BUCKET_WIDTH,
) -> SegmentInfo:
    """Merge the named segments into one new segment and commit a new
    manifest generation. Deleted docs are dropped permanently."""
    manifest = read_manifest(index_dir)
    victims = [s for s in manifest.segments if s.name in set(victim_names)]
    # Snapshot each victim's delete state NOW: the rewrite below runs
    # outside the index lock, so a concurrent delete_docs can tombstone
    # victim docs mid-merge. The commit section compares these counts
    # against the re-read manifest and re-applies any late tombstones to
    # the merged segment instead of silently resurrecting the docs.
    victim_del_counts = {s.name: s.deleted_count for s in victims}
    ix = Index(spark, index_dir)
    if len(victims) < 2 and not (
        len(victims) == 1 and (victims[0].has_deletes or ix._ghost_fields)
    ):
        raise ValueError(
            "need at least two segments to merge, or one with tombstones "
            "or removed-field data to expunge")

    # claim a fresh directory atomically (same race as build_segment)
    while True:
        name = next_segment_name(manifest, index_dir)
        seg_dir = os.path.join(index_dir, "segments", name)
        try:
            os.makedirs(seg_dir, exist_ok=False)
            break
        except FileExistsError:
            continue

    vpaths = lambda table: [os.path.join(s.path(index_dir), table) for s in victims]
    deletes = [s.deletes_path(index_dir) for s in victims if s.has_deletes]
    deleted_df = spark.read.parquet(*deletes).select("doc_id").distinct() if deletes else None

    def drop_deleted(df: DataFrame) -> DataFrame:
        if deleted_df is None:
            return df
        return df.join(F.broadcast(deleted_df), on="doc_id", how="left_anti")

    # docs + lengths: plain filtered unions. Removed-field data (ghosts)
    # is expunged here — the optimize-away semantics of the reference
    # (test_flexible.py:test_optimize_away)
    docs = drop_deleted(ix.drop_ghost_doc_columns(
        spark.read.option("mergeSchema", "true").parquet(*vpaths("docs.parquet"))))
    docs.write.mode("overwrite").parquet(os.path.join(seg_dir, "docs.parquet"))
    lengths = drop_deleted(ix.mask_ghost_fields(
        spark.read.parquet(*vpaths("lengths.parquet"))))
    lengths.write.mode("overwrite").parquet(os.path.join(seg_dir, "lengths.parquet"))

    # postings: decode victim blocks -> re-bucket -> re-encode.
    # doc_ids are globally stable so this is a pure concatenation + regroup;
    # most (field,term,bucket) groups pass through partition-local.
    blocks = ix.mask_ghost_fields(spark.read.parquet(*vpaths("postings.parquet")))
    # pre-weight-channel / pre-char-format segments lack the newer payload
    # columns; NULL-pad so mixed-generation merges read cleanly
    if "weights" not in blocks.columns:
        blocks = blocks.withColumn("sum_w", F.col("sum_tf").cast("double")).withColumn(
            "weights", F.lit(None).cast("binary"))
    for _c in ("pos_boosts", "startchars", "endchars"):
        if _c not in blocks.columns:
            blocks = blocks.withColumn(_c, F.lit(None).cast("binary"))
    # concrete recorded fields (covers dynamic-glob matches) plus the
    # static schema decide which payloads survive the re-encode
    live_fts = [ix.schema[f] for f in ix.live_recorded_fields()] + [
        f for f in ix.schema.fields.values() if f.indexed
    ]
    has_positions = any(f.phrase for f in live_fts)
    has_charfmt = any((f.chars or f.pos_boosts) for f in live_fts)
    decoded = decode_blocks(blocks, with_positions=has_positions,
                            with_char_formats=has_charfmt)
    decoded = drop_deleted(decoded)
    if has_charfmt:
        decoded = decoded.withColumnRenamed("pos_boosts", "boosts")
    with_bucket = decoded.withColumn("bucket", (F.col("doc_id") / F.lit(bucket_width)).cast("long"))
    in_cols = ["field", "term", "bucket", "doc_id", "tf", "len_byte",
               "weight"] + (["positions"] if has_positions else []) + (
               ["boosts", "startchars", "endchars"] if has_charfmt else [])
    # decoded postings lack len_byte? decode provides len_byte; tf long -> ok
    nparts = max(1, spark.sparkContext.defaultParallelism)
    merged = (
        with_bucket.select(*in_cols)
        .repartition(nparts, "field", "term", "bucket")
        .sortWithinPartitions("field", "term", "bucket", "doc_id")
        .mapInPandas(_encode_partition, POSTINGS_SCHEMA)
    )
    merged.repartitionByRange(nparts, "field", "term", "bucket").sortWithinPartitions(
        "field", "term", "bucket", "block_no"
    ).write.mode("overwrite").parquet(os.path.join(seg_dir, "postings.parquet"))

    blocks_tbl = spark.read.parquet(os.path.join(seg_dir, "postings.parquet"))
    termstats = blocks_tbl.groupBy("field", "term").agg(
        F.sum("count").alias("df"),
        F.sum("sum_tf").alias("total_tf"),
        F.max("max_tf").alias("max_tf"),
        F.sum("sum_w").alias("total_w"),
        F.min("min_len_byte").alias("min_len_byte"),
        F.max("max_len_byte").alias("max_len_byte"),
        F.min("min_id").alias("min_id"),
        F.max("max_id").alias("max_id"),
    )
    termstats.write.mode("overwrite").parquet(os.path.join(seg_dir, "termstats.parquet"))

    # term vectors: rebuild for vector=True fields (doc-sorted layout)
    vector_fields = sorted(
        {f for f in ix.schema.indexed_fields() if ix.schema[f].vector}
        | {f for f in ix.live_recorded_fields() if ix.schema[f].vector}
    )
    if vector_fields:
        vec = decode_blocks(blocks_tbl.filter(F.col("field").isin(vector_fields)))
        (
            vec.select("doc_id", "field", "term", "tf")
            .repartitionByRange(max(1, nparts // 2), "doc_id")
            .sortWithinPartitions("doc_id", "field", "term")
            .write.mode("overwrite")
            .parquet(os.path.join(seg_dir, "vectors.parquet"))
        )

    lengths_tbl = spark.read.parquet(os.path.join(seg_dir, "lengths.parquet"))
    fl = {
        r["field"]: int(r["total"])
        for r in lengths_tbl.groupBy("field").agg(F.sum("length").alias("total")).collect()
    }
    id_stats = docs.agg(F.count("*").alias("n"), F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).collect()[0]

    ftc = {
        r["field"]: int(r["n"])
        for r in blocks_tbl.groupBy("field").agg(F.count_distinct("term").alias("n")).collect()
    }
    info = SegmentInfo(
        name=name,
        doc_count=int(id_stats["n"]),
        field_lengths=fl,
        min_doc_id=int(id_stats["lo"]) if id_stats["lo"] is not None else 0,
        max_doc_id=int(id_stats["hi"]) if id_stats["hi"] is not None else -1,
        lineage={"merged_from": sorted(victim_names)},
        field_term_counts=ftc,
        stored_cols=list(docs.columns),
    )

    from whoosh_spark.index.lock import index_lock

    with index_lock(index_dir):
        manifest = read_manifest(index_dir)
        fresh = {s.name: s for s in manifest.segments if s.name in set(victim_names)}
        if len(fresh) != len(victims):
            # another committer already replaced a victim (e.g. a
            # concurrent merge) — committing would resurrect its docs
            shutil.rmtree(seg_dir, ignore_errors=True)
            missing = sorted(set(victim_names) - set(fresh))
            raise RuntimeError(
                f"merge aborted: victim segment(s) {missing} were replaced "
                "by a concurrent commit during the merge")
        # tombstones added by a concurrent delete_docs during the rewrite:
        # the merged postings/docs were built from a stale snapshot, so
        # carry the late deletes forward as a deletes.parquet on the
        # merged segment (doc_ids are globally stable across segments)
        changed = [
            s for s in fresh.values()
            if s.has_deletes and s.deleted_count != victim_del_counts.get(s.name, 0)
        ]
        if changed:
            late = (
                spark.read.parquet(*[s.deletes_path(index_dir) for s in changed])
                .select("doc_id").distinct()
            )
            merged_ids = spark.read.parquet(
                os.path.join(seg_dir, "docs.parquet")).select("doc_id")
            still = late.join(merged_ids, on="doc_id", how="left_semi").persist()
            n_late = still.count()
            if n_late:
                still.write.mode("overwrite").parquet(
                    os.path.join(seg_dir, "deletes.parquet"))
                info.has_deletes = True
                info.deleted_count = n_late
            still.unpersist()
        manifest.generation += 1
        manifest.segments = [s for s in manifest.segments if s.name not in set(victim_names)] + [info]
        write_manifest(index_dir, manifest)
    # victim dirs are NOT removed here: a reader holding the previous
    # manifest snapshot may still be scanning them. They become orphans
    # cleaned after a grace window (reference clean_files keeps prior
    # generations alive the same way, index.py:374-403).
    clean_files(index_dir)
    return info


#: how long an unreferenced segment directory survives after it leaves the
#: manifest — the snapshot-isolation window for concurrently open readers
CLEAN_GRACE_SECS = 300.0


def clean_files(index_dir: str, grace_secs: float = CLEAN_GRACE_SECS) -> list[str]:
    """Remove segment directories no longer referenced by the CURRENT
    manifest, once older than ``grace_secs`` (reference clean_files,
    index.py:374-403: files of superseded generations are deleted only
    when no reader can still need them; without open-file refcounting we
    approximate with a time window). Returns the removed names."""
    import time

    manifest = read_manifest(index_dir)
    live = {s.name: s for s in manifest.segments}
    segroot = os.path.join(index_dir, "segments")
    removed = []
    if not os.path.isdir(segroot):
        return removed
    now = time.time()
    # crash leftovers at the index root: an aged .deletes_staging dir from
    # a delete_docs that died between the staged write and the renames.
    # delete_docs stages under the index lock, so a held lock means a live
    # writer may still own the dir: skip it until the lock is free.
    staging = os.path.join(index_dir, ".deletes_staging")
    try:
        aged = now - os.stat(staging).st_mtime >= grace_secs
    except FileNotFoundError:
        aged = False
    if aged:
        from whoosh_spark.index.lock import LockError, index_lock

        try:
            with index_lock(index_dir, timeout=0):
                shutil.rmtree(staging, ignore_errors=True)
            removed.append(".deletes_staging")
        except LockError:
            pass
    for name in os.listdir(segroot):
        if name in live:
            # live segment: GC superseded tombstone generations (each
            # delete_docs commit writes a new deletes.<gen>.parquet and
            # repoints the manifest; older files exist only for readers
            # holding earlier manifest snapshots) plus legacy
            # 'deletes.parquet.new' leftovers of the old in-place swap
            seg = live[name]
            current = seg.deletes_filename()
            segdir = os.path.join(segroot, name)
            for f in os.listdir(segdir):
                if not (f == "deletes.parquet" or f == "deletes.parquet.new"
                        or (f.startswith("deletes.") and f.endswith(".parquet"))):
                    continue
                if f == current:
                    continue
                fpath = os.path.join(segdir, f)
                try:
                    age = now - os.stat(fpath).st_mtime
                except FileNotFoundError:
                    continue
                if age >= grace_secs:
                    shutil.rmtree(fpath, ignore_errors=True)
                    removed.append(f"{name}/{f}")
            continue
        path = os.path.join(segroot, name)
        try:
            age = now - os.stat(path).st_mtime
        except FileNotFoundError:
            continue
        if age >= grace_secs:
            shutil.rmtree(path, ignore_errors=True)
            removed.append(name)
    return removed


def clear_index(index_dir: str) -> list[str]:
    """CLEAR policy (reference writing.py:119-125): drop every existing
    segment; the next build starts from an empty index."""
    from whoosh_spark.index.lock import index_lock

    with index_lock(index_dir):
        manifest = read_manifest(index_dir)
        names = [s.name for s in manifest.segments]
        manifest.generation += 1
        manifest.segments = []
        manifest.completed_chunks = []
        write_manifest(index_dir, manifest)
    # dirs linger for the snapshot-isolation grace window (clean_files)
    clean_files(index_dir)
    return names


def apply_merge_policy(spark: SparkSession, index_dir: str, policy: str = "MERGE_SMALL") -> list[str]:
    """Run a merge policy over the index; returns the merged segment names."""
    manifest = read_manifest(index_dir)
    if policy == "CLEAR":
        return clear_index(index_dir)
    if policy == "NO_MERGE":
        return []
    if policy == "OPTIMIZE":
        victims = list(manifest.segments)
        # a single CLEAN segment is already optimal, but a single segment
        # with tombstones — or with data for since-removed fields — still
        # rewrites: the reference's optimize expunges deletions and dead
        # fields even without a merge partner (writing.py
        # commit(optimize=True), test_flexible.py:test_optimize_away)
        if not victims or (
            len(victims) == 1
            and not victims[0].has_deletes
            and not Index(spark, index_dir)._ghost_fields
        ):
            return []
    elif policy == "MERGE_SMALL":
        if len(manifest.segments) < 2:
            return []
        victims, _ = pick_merge_small(manifest.segments)
        if not victims:
            return []
    else:
        raise ValueError(f"unknown merge policy {policy!r}")
    names = [s.name for s in victims]
    merge_segments(spark, index_dir, names)
    return names


# ------------------------------------------------------------------ deletes

def delete_docs(spark: SparkSession, index_dir: str, doc_ids: DataFrame | list[int]) -> int:
    """Tombstone the given doc_ids (per-segment ``deletes.<gen>.parquet``
    generations, repointed by the atomic manifest commit). A list runs on
    the driver (``tombstone``, no Spark job); a DataFrame runs the
    distributed plan."""
    from whoosh_spark.index.lock import index_lock

    if not isinstance(doc_ids, DataFrame):
        return tombstone(spark, index_dir, ids=doc_ids)
    with index_lock(index_dir):
        return _delete_docs_locked(spark, index_dir, doc_ids)


def tombstone(spark: SparkSession, index_dir: str, ids=(), terms=(),
              unique: dict | None = None) -> int:
    """One driver-side tombstone pass under the index lock, launching no
    Spark job: the union of ``ids``, the docs holding any ``(field,
    text)`` of ``terms`` and the docs whose unique field holds a value of
    ``unique`` (field -> values). A stored unique field is matched by a
    pyarrow read of the segments' docs; an unstored one, like a term,
    through its postings. Returns the number of new tombstones."""
    from whoosh_spark.index.lock import index_lock
    from whoosh_spark.search.local import _read_postings

    with index_lock(index_dir):
        ix = Index(spark, index_dir)
        found = [np.asarray([int(i) for i in ids], dtype=np.int64)]
        tz = spark.conf.get("spark.sql.session.timeZone")
        keys = {(f, t) for f, t in terms if f not in ix._ghost_fields}
        for field, values in (unique or {}).items():
            values = sorted({to_text(v, tz) for v in values if v is not None})
            if ix.schema[field].stored:
                found.append(_stored_doc_ids(ix, field, values))
            else:  # unstored unique field: resolve via its postings
                keys |= {(field, v) for v in values}
        if keys:
            postings, _ = _read_postings(ix, keys, set(), None)
            found += [p[0] for p in postings.values()]
        return _tombstone_locked(index_dir, ix.manifest, np.unique(np.concatenate(found)))


def _stored_doc_ids(ix: Index, field: str, values: list[str]) -> np.ndarray:
    """Ids of the docs whose stored ``field`` is one of ``values``: one
    pyarrow dataset scan over every segment's docs (a segment written
    before the field was added reads NULL)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    files = parquet_files(os.path.join(s.path(ix.index_dir), "docs.parquet")
                          for s in ix.manifest.segments)
    if not files:
        return np.empty(0, dtype=np.int64)
    schema = pa.schema([("doc_id", pa.int64()), (field, pa.string())])
    return ds.dataset(files, schema=schema, format="parquet").to_table(
        columns=["doc_id"], filter=pc.field(field).isin(values))["doc_id"].to_numpy()


def _tombstone_locked(index_dir: str, manifest, ids: np.ndarray) -> int:
    """Tombstone the sorted unique ``ids``: each affected segment's full
    set (existing ∪ new, computed with numpy) becomes its next
    ``deletes.<gen>.parquet`` generation, and one manifest commit
    repoints them all. An already-deleted doc does not delete again.
    A segment's docs are scanned for the ids in its range only, so the
    driver holds the matches, not the segment's id column."""
    total = 0
    for s in manifest.segments:
        mine = ids[(ids >= s.min_doc_id) & (ids <= s.max_doc_id)]
        if not mine.size:
            continue
        seg_ids = pq.read_table(
            os.path.join(s.path(index_dir), "docs.parquet"), columns=["doc_id"],
            filters=[("doc_id", ">=", int(mine[0])), ("doc_id", "<=", int(mine[-1])),
                     ("doc_id", "in", mine.tolist())])["doc_id"].to_numpy()
        old = (pq.read_table(s.deletes_path(index_dir), columns=["doc_id"])["doc_id"]
               .to_numpy() if s.has_deletes else np.empty(0, dtype=np.int64))
        new = np.setdiff1d(seg_ids, old)
        if not new.size:
            continue
        s.deletes_gen += 1
        target = s.deletes_path(index_dir)
        # a crashed earlier attempt (file written, manifest never
        # committed) may have left an unreferenced dir at this name
        shutil.rmtree(target, ignore_errors=True)
        _write_part(pa.table({"doc_id": np.union1d(old, new).astype(np.int64)}), target)
        s.has_deletes = True
        s.deleted_count += int(new.size)
        total += int(new.size)
    manifest.generation += 1
    write_manifest(index_dir, manifest)
    return total


def _delete_docs_locked(spark: SparkSession, index_dir: str, doc_ids: DataFrame) -> int:
    """The distributed tombstone plan, for a DataFrame of ids (stale-id
    joins, query matches). A CONSTANT number of Spark actions
    regardless of segment count (a per-segment loop shape — count +
    write, or even a per-segment broadcast-join inside one action — costs
    O(segments) jobs, wrong for a 10^12-file index with hundreds of
    segments):

    1. one tiny aggregation of the delete batch (count + id range) used to
       prune non-intersecting segments driver-side;
    2. ONE join of a single unioned scan of the candidate segments' doc-id
       columns (batch-range filter pushed into every parquet scan) against
       the delete batch — the batch is broadcast ONCE, not per segment —
       anti-joined against a single unioned scan of existing tombstones
       (reference delete semantics: an already-deleted doc does not delete
       again), aggregated to per-segment new-tombstone counts;
    3. one partitioned write of the affected segments' FULL tombstone
       sets (existing ∪ new) into a staging dir, whose ``seg=<name>``
       subdirs are then renamed into place as the next immutable
       ``deletes.<gen>.parquet`` generation (committed by the atomic
       manifest swap below; superseded generations GC'd by clean_files).
    """
    manifest = read_manifest(index_dir)
    # localCheckpoint (NOT persist: a cached shuffle under the broadcast
    # hint defeats the broadcast — AQE re-plans the semi-join as one
    # shuffled join per union child, measured 12 jobs vs 5 on a 9-segment
    # index; a checkpointed local relation broadcasts fine) pins ONE
    # materialization of the batch across the 3 actions below — a
    # non-deterministic caller DataFrame (e.g. a sampled stale-doc join)
    # would otherwise produce different counted vs written tombstone sets
    doc_ids = doc_ids.select("doc_id").distinct().localCheckpoint()

    def _finish(total: int) -> int:
        manifest.generation += 1
        write_manifest(index_dir, manifest)
        return total

    stats = doc_ids.agg(
        F.count("*").alias("n"), F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    if not stats["n"]:
        return _finish(0)
    lo, hi = int(stats["lo"]), int(stats["hi"])
    cands = [s for s in manifest.segments
             if s.min_doc_id <= hi and s.max_doc_id >= lo]
    if not cands:
        return _finish(0)

    def _tagged_union(pairs):
        """One DataFrame of (doc_id, seg) rows from per-segment parquet
        scans; the batch id-range filter lands in every scan's
        PushedFilters so row groups outside [lo, hi] never decode. The
        explicit read schema matters: schema INFERENCE runs a one-task
        Spark job per read.parquet() call, which would silently re-add
        the O(segments) job term this function exists to remove."""
        out = None
        for path, name in pairs:
            part = (spark.read.schema("doc_id BIGINT").parquet(path)
                    .filter(F.col("doc_id").between(lo, hi))
                    .withColumn("seg", F.lit(name)))
            out = part if out is None else out.unionByName(part)
        return out

    seg_docs = _tagged_union(
        (os.path.join(s.path(index_dir), "docs.parquet"), s.name) for s in cands)
    existing_all = _tagged_union(
        (s.deletes_path(index_dir), s.name) for s in cands if s.has_deletes)

    # one broadcast of the (small) delete batch serves every segment's scan
    new_tomb = seg_docs.join(F.broadcast(doc_ids), on="doc_id", how="left_semi")
    if existing_all is not None:
        new_tomb = new_tomb.join(existing_all, on=["doc_id", "seg"], how="left_anti")
    new_tomb = new_tomb.persist()
    counts = {
        r["seg"]: int(r["n"])
        for r in new_tomb.groupBy("seg").agg(F.count("*").alias("n")).collect()
    }
    affected = [s for s in cands if counts.get(s.name)]
    if not affected:
        new_tomb.unpersist()
        return _finish(0)

    # the staged write replaces each affected segment's tombstone file, so
    # it must carry the COMPLETE existing sets — re-scanned here WITHOUT
    # the batch-range filter (which only served the new-tombstone join)
    full = new_tomb.filter(F.col("seg").isin([s.name for s in affected]))
    existing_full = None
    for s in affected:
        if s.has_deletes:
            part = (spark.read.schema("doc_id BIGINT")
                    .parquet(s.deletes_path(index_dir))
                    .withColumn("seg", F.lit(s.name)))
            existing_full = part if existing_full is None else existing_full.unionByName(part)
    if existing_full is not None:
        full = full.unionByName(existing_full)
    # fixed staging name is safe: we hold the index lock
    staging = os.path.join(index_dir, ".deletes_staging")
    shutil.rmtree(staging, ignore_errors=True)
    full.write.partitionBy("seg").mode("overwrite").parquet(staging)
    total = 0
    for s in affected:
        s.deletes_gen += 1
        target = s.deletes_path(index_dir)
        # a crashed earlier attempt (staged write done, manifest never
        # committed) may have left an unreferenced dir at this name
        shutil.rmtree(target, ignore_errors=True)
        os.rename(os.path.join(staging, f"seg={s.name}"), target)
        s.has_deletes = True
        s.deleted_count += counts[s.name]
        total += counts[s.name]
    shutil.rmtree(staging, ignore_errors=True)
    new_tomb.unpersist()
    return _finish(total)


def delete_by_term(spark: SparkSession, index_dir: str, field: str, text: str) -> int:
    return tombstone(spark, index_dir, terms=[(field, text)])


def update_documents(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    unique_field: str,
    doc_id_col: str = "doc_id",
    sha_col: str | None = "content",
) -> SegmentInfo:
    """Delete-then-add by unique key (reference update_document semantics,
    writing.py:420-489): tombstone existing docs whose unique field matches
    an incoming row, then add the new rows as a fresh segment."""
    ix = Index(spark, index_dir)
    existing = ix.docs().select("doc_id", unique_field)
    stale = existing.join(
        docs.select(F.col(unique_field).alias(unique_field)).distinct(), on=unique_field
    ).select("doc_id")
    if stale.limit(1).count():
        delete_docs(spark, index_dir, stale)
    return build_segment(
        spark, docs, ix.schema, index_dir, doc_id_col=doc_id_col,
        lineage={"update_by": unique_field}, sha_col=sha_col,
    )
