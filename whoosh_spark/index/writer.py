"""Buffered per-document writer — the reference ``ix.writer()`` ergonomics
(writing.py:196-520).

The reference IndexWriter accumulates documents into a posting pool and
flushes them in-process as one new segment at commit (writing.py:883-906).
This writer accumulates plain Python rows on the driver, and
:meth:`commit` writes them with the DRIVER placement of the segment build,
``build.build_segment_rows``: the same tokenize and block-encode kernels
as ``build_segment``'s Spark plan, with the tables written by pyarrow. The
commit's one tombstone pass (deleted ids and terms, and the rows updates
replace) runs on the driver as well, under the index lock
(``merge.tombstone``). Why the driver: a commit holds few rows, and
Spark's fixed per-job cost would dwarf their Python work, so a commit
launches no Spark job unless it holds ``delete_by_query`` or the merge
policy picks segments to merge. BULK ingestion hands a DataFrame to
``build_index`` instead, the Spark placement, which never materializes
rows on the driver.

Supported surface: add_document(**fields), update_document(**fields)
(delete-by-unique-fields then add, writing.py:420-489), delete_document,
delete_by_term, delete_by_query, add_field/remove_field (immediate, like
SegmentWriter, writing.py:600-610), commit(optimize=, merge=), cancel,
and ``with ix.writer() as w`` (commit on clean exit, cancel on error —
writing.py:186-193).
"""

from __future__ import annotations

from whoosh_spark.index.catalog import Index


class IndexWriter:
    def __init__(self, index: Index):
        self.index = index
        self.spark = index.spark
        self._adds: list[dict] = []
        self._updates: list[dict] = []
        self._delete_ids: list[int] = []
        self._delete_terms: list[tuple[str, str]] = []
        self._delete_queries: list = []
        self._closed = False
        # doc ids are global and stable: continue after the current max
        segs = self.index.manifest.segments
        self._next_id = (max((s.max_doc_id for s in segs), default=-1) + 1)

    # ---- schema ops (immediate, reference writing.py:600-610) ----

    def add_field(self, fieldname: str, fieldtype, glob: bool = False) -> None:
        self.index.add_field(fieldname, fieldtype, glob=glob)

    def remove_field(self, fieldname: str) -> None:
        self.index.remove_field(fieldname)

    # ---- document ops (buffered until commit) ----

    def add_document(self, **fields) -> int:
        """Buffer one document; returns its assigned doc_id. Unknown field
        names raise unless a dynamic glob accepts them (reference
        writing.py:725-744)."""
        self._check_open()
        for name in fields:
            if name != "doc_id" and name not in self.index.schema:
                raise ValueError(f"no field named {name!r} in the schema")
        row = dict(fields)
        if "doc_id" not in row:
            row["doc_id"] = self._next_id
        self._next_id = max(self._next_id, int(row["doc_id"])) + 1
        self._adds.append(row)
        return int(row["doc_id"])

    def update_document(self, **fields) -> int:
        """Delete-then-add by the schema's unique field(s) present in
        ``fields`` (reference writing.py:420-489; at least one required)."""
        self._check_open()
        uniques = [n for n, f in self.index.schema.fields.items()
                   if f.unique and n in fields]
        if not uniques:
            raise ValueError(
                "update_document requires at least one unique-field value")
        row = dict(fields)
        if "doc_id" not in row:
            row["doc_id"] = self._next_id
        self._next_id = max(self._next_id, int(row["doc_id"])) + 1
        row["__uniques__"] = uniques
        self._updates.append(row)
        return int(row["doc_id"])

    def delete_document(self, docnum: int) -> None:
        self._check_open()
        self._delete_ids.append(int(docnum))

    def delete_by_term(self, fieldname: str, text: str) -> None:
        self._check_open()
        self._delete_terms.append((fieldname, text))

    def delete_by_query(self, q) -> None:
        self._check_open()
        self._delete_queries.append(q)

    # ---- lifecycle ----

    def cancel(self) -> None:
        """Drop every buffered op (reference writing.py:908-912)."""
        self._adds, self._updates = [], []
        self._delete_ids, self._delete_terms = [], []
        self._delete_queries = []
        self._closed = True

    def commit(self, optimize: bool = False, merge: bool = True) -> None:
        """Apply deletes, updates, then adds as one new segment; finally
        run the merge policy (reference commit(optimize=, merge=),
        writing.py:883-906). Only ``delete_by_query`` and a merge the
        policy picks launch Spark jobs."""
        from whoosh_spark.index.build import build_segment_rows
        from whoosh_spark.index.merge import (apply_merge_policy, delete_docs,
                                              tombstone)

        self._check_open()
        d = self.index.index_dir
        for q in self._delete_queries:
            from whoosh_spark.search.engine import Searcher

            ids = Searcher(Index(self.spark, d)).matches(q).select("doc_id")
            delete_docs(self.spark, d, ids)
        # one tombstone pass: the deleted ids and terms plus the rows
        # updates replace (any of their (unique field, value) pairs)
        unique: dict[str, set] = {}
        for row in self._updates:
            for u in row["__uniques__"]:
                unique.setdefault(u, set()).add(row[u])
        if self._delete_ids or self._delete_terms or unique:
            tombstone(self.spark, d, ids=self._delete_ids,
                      terms=self._delete_terms, unique=unique)

        rows = self._adds + [
            {k: v for k, v in r.items() if k != "__uniques__"}
            for r in self._updates
        ]
        if rows:
            build_segment_rows(self.spark, rows, Index(self.spark, d).schema, d,
                               lineage={"writer_rows": len(rows)})

        if optimize:
            apply_merge_policy(self.spark, d, "OPTIMIZE")
        elif merge:
            apply_merge_policy(self.spark, d, "MERGE_SMALL")
        self.index.reload()
        self.cancel()  # clears buffers + closes

    def _check_open(self) -> None:
        if self._closed:
            raise ValueError("this writer is closed")

    # ---- context manager (reference writing.py:186-193) ----

    def __enter__(self) -> "IndexWriter":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None:
            self.commit()
        else:
            self.cancel()
