"""Buffered per-document writer — the reference ``ix.writer()`` ergonomics
(writing.py:196-520) over the DataFrame build pipeline.

The reference IndexWriter accumulates documents into a posting pool and
flushes one new segment at commit; this writer accumulates plain Python
rows on the driver and flushes them through ``build_segment`` (one Arrow
pass) at :meth:`commit`. It exists for API parity and incremental/small
writes — BULK ingestion should hand a DataFrame straight to
``build_index`` (that path never materializes rows on the driver).

Supported surface: add_document(**fields), update_document(**fields)
(delete-by-unique-fields then add, writing.py:420-489), delete_document,
delete_by_term, delete_by_query, add_field/remove_field (immediate, like
SegmentWriter, writing.py:600-610), commit(optimize=, merge=), cancel,
and ``with ix.writer() as w`` (commit on clean exit, cancel on error —
writing.py:186-193).
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import DataFrame

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
        writing.py:883-906)."""
        from whoosh_spark.index.build import build_segment
        from whoosh_spark.index.merge import (apply_merge_policy,
                                              delete_by_term, delete_docs)

        self._check_open()
        d = self.index.index_dir
        for field, text in self._delete_terms:
            delete_by_term(self.spark, d, field, text)
        for q in self._delete_queries:
            from whoosh_spark.search.engine import Searcher

            ids = Searcher(Index(self.spark, d)).matches(q).select("doc_id")
            delete_docs(self.spark, d, ids)
        # one tombstone pass: the deleted ids plus the rows updates replace
        tombstones = []
        if self._delete_ids:
            tombstones.append(self.spark.createDataFrame(
                [(i,) for i in sorted(set(self._delete_ids))], "doc_id long"))
        if self._updates:
            # rows matching any (unique field, value) pair
            ix = Index(self.spark, d)
            pairs: dict[str, set] = {}
            for row in self._updates:
                for u in row["__uniques__"]:
                    pairs.setdefault(u, set()).add(row[u])
            from pyspark.sql import functions as F

            for u, vals in pairs.items():
                if u in ix.docs().columns:
                    hit = ix.docs().filter(
                        F.col(u).isin(sorted(vals))).select("doc_id")
                else:  # unstored unique field: resolve via its postings
                    hit = ix.postings_for(
                        u, sorted(str(v) for v in vals)).select("doc_id")
                tombstones.append(hit)
        if tombstones:
            delete_docs(self.spark, d, functools.reduce(DataFrame.unionByName, tombstones))

        rows = self._adds + [
            {k: v for k, v in r.items() if k != "__uniques__"}
            for r in self._updates
        ]
        if rows:
            ix = Index(self.spark, d)
            df = self._rows_to_df(rows, ix)
            build_segment(self.spark, df, ix.schema, d, sha_col=None,
                          lineage={"writer_rows": len(rows)})

        if optimize:
            apply_merge_policy(self.spark, d, "OPTIMIZE")
        elif merge:
            apply_merge_policy(self.spark, d, "MERGE_SMALL")
        self.index.reload()
        self.cancel()  # clears buffers + closes

    def _rows_to_df(self, rows: list[dict], ix: Index):
        """Driver rows -> DataFrame via pandas (Arrow LocalRelation path).
        An all-None column is pinned to the schema kind's canonical dtype
        (not blanket string) so it can't infer NullType OR conflict with
        segments where the field had values; build_segment then casts all
        stored columns to the same canonical types (see
        build._canonical_stored_col)."""
        cols: list[str] = ["doc_id"]
        for r in rows:
            for k in r:
                if k not in cols:
                    cols.append(k)
        pdf = pd.DataFrame([{c: r.get(c) for c in cols} for r in rows],
                           columns=cols)
        df = self.spark.createDataFrame(pdf)
        from pyspark.sql import functions as F

        from whoosh_spark.index.build import _STORED_KIND_TYPES

        for c in cols:
            if c != "doc_id" and pdf[c].isna().all():
                kind = ix.schema[c].kind if c in ix.schema else None
                df = df.withColumn(
                    c, F.col(c).cast(_STORED_KIND_TYPES.get(kind, "string")))
        return df

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
