"""Segment + manifest model: the index is a list of immutable segments.

Mirrors the role of the reference TOC/generation design
(/root/reference/src/whoosh/index.py:406-540, codec/base.py:481-641): an
index directory holds a versioned ``manifest.json`` naming immutable
segment directories; a commit atomically replaces the manifest
(write-tmp + rename). Deletes are per-segment tombstone tables, not
rewrites. Each segment records **lineage** (source chunk ids, row counts,
input fingerprints) so a 10^12-file build can resume from checkpoint by
skipping chunks already present in the manifest.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class SegmentInfo:
    name: str
    doc_count: int
    field_lengths: dict  # field -> sum of raw token counts
    min_doc_id: int
    max_doc_id: int
    lineage: dict = field(default_factory=dict)
    has_deletes: bool = False
    deleted_count: int = 0
    #: tombstone-file generation: the live tombstone table is
    #: ``deletes.parquet`` when 0 (legacy layout) else
    #: ``deletes.<gen>.parquet``. Each delete_docs commit writes a NEW
    #: file and repoints this via the atomic manifest swap, so a reader
    #: holding any manifest always sees a complete, immutable file —
    #: there is no in-place swap window at all. Superseded generations
    #: are GC'd by clean_files after the snapshot-isolation grace.
    deletes_gen: int = 0
    #: field -> distinct-term count (lexicon size); lets readers decide
    #: before reading anything whether to cache the field's whole stats
    field_term_counts: dict = field(default_factory=dict)
    #: columns of this segment's docs.parquet; readers only pay a
    #: mergeSchema footer sweep when segments actually disagree (schema
    #: evolution happened). Empty = unknown (pre-stat segment) -> merge.
    stored_cols: list = field(default_factory=list)

    @property
    def doc_count_all(self) -> int:
        return self.doc_count

    def path(self, index_dir: str) -> str:
        return os.path.join(index_dir, "segments", self.name)

    def deletes_filename(self) -> str:
        return (
            "deletes.parquet"
            if self.deletes_gen == 0
            else f"deletes.{self.deletes_gen}.parquet"
        )

    def deletes_path(self, index_dir: str) -> str:
        return os.path.join(self.path(index_dir), self.deletes_filename())


@dataclass
class Manifest:
    generation: int
    schema: dict
    segments: list  # list[SegmentInfo]
    created_at: float = 0.0
    completed_chunks: list = field(default_factory=list)  # checkpoint/resume

    def to_json(self) -> str:
        d = {
            "version": 1,
            "generation": self.generation,
            "schema": self.schema,
            "segments": [asdict(s) for s in self.segments],
            "created_at": self.created_at,
            "completed_chunks": self.completed_chunks,
        }
        return json.dumps(d, indent=1, sort_keys=True)

    @staticmethod
    def from_json(text: str) -> "Manifest":
        d = json.loads(text)
        return Manifest(
            generation=d["generation"],
            schema=d["schema"],
            segments=[SegmentInfo(**s) for s in d["segments"]],
            created_at=d.get("created_at", 0.0),
            completed_chunks=d.get("completed_chunks", []),
        )

    # ---- global statistics (reference: reading.py:1252-1270 combines
    # per-segment TermInfo; here doc counts / field lengths combine by sum)

    def doc_count_all(self) -> int:
        return sum(s.doc_count for s in self.segments)

    def doc_count(self) -> int:
        return sum(s.doc_count - s.deleted_count for s in self.segments)

    def field_length(self, fieldname: str) -> int:
        return sum(s.field_lengths.get(fieldname, 0) for s in self.segments)

    def field_term_count(self, fieldname: str) -> int | None:
        """Upper bound on the field's distinct terms (sum of per-segment
        lexicon sizes); None when any segment predates the stat."""
        total = 0
        for s in self.segments:
            n = s.field_term_counts.get(fieldname)
            if n is None:
                return None
            total += int(n)
        return total

    def avg_field_length(self, fieldname: str) -> float:
        # reference: searching.py:259-262 — field_length / doc_count_all, or 1
        dc = self.doc_count_all()
        return self.field_length(fieldname) / (dc or 1)


MANIFEST_NAME = "manifest.json"


def manifest_path(index_dir: str) -> str:
    return os.path.join(index_dir, MANIFEST_NAME)


def read_manifest(index_dir: str) -> Manifest:
    with open(manifest_path(index_dir)) as f:
        return Manifest.from_json(f.read())


def write_manifest(index_dir: str, manifest: Manifest) -> None:
    """Atomic commit: write tmp, fsync, rename (the TOC-generation analog)."""
    manifest.created_at = time.time()
    os.makedirs(index_dir, exist_ok=True)
    tmp = manifest_path(index_dir) + f".tmp.{manifest.generation}"
    with open(tmp, "w") as f:
        f.write(manifest.to_json())
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, manifest_path(index_dir))


def index_exists(index_dir: str) -> bool:
    return os.path.exists(manifest_path(index_dir))


def next_segment_name(manifest: Manifest | None, index_dir: str | None = None) -> str:
    taken = {s.name for s in manifest.segments} if manifest else set()
    if index_dir is not None:
        # also avoid on-disk directories (another writer's in-flight
        # segment, or an interrupted build's leftovers)
        segroot = os.path.join(index_dir, "segments")
        if os.path.isdir(segroot):
            taken |= set(os.listdir(segroot))
    i = len(taken)
    while f"seg_{i:06d}" in taken:
        i += 1
    return f"seg_{i:06d}"
