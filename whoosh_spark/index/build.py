"""Index build: documents DataFrame -> immutable Parquet posting segment.

The Spark-first re-expression of the reference write path
(/root/reference/src/whoosh/writing.py:725-797 add_document,
externalsort.py:85-226 posting pool, codec/whoosh3.py:650-869 block writer):

    docs ──(one Arrow mapInPandas pass over ALL indexed fields)──▶
         postings (field, term, doc_id, tf, positions, len_byte)
         ──repartitionByRange(field, term, doc-bucket) + partition encode──▶
         posting-block Parquet (term-sorted files -> scan pruning)
         ──groupBy over the block table──▶ term stats
    docs ──(light count-only pass)──▶ lengths table

Skew design: posting blocks shuffle on ``(field, term, bucket)`` where
``bucket = doc_id // bucket_width`` — a hot term like ``def`` appearing in
10^11 docs never lands on one reducer; its postings split across doc-id
ranges, each group bounded by ``bucket_width``. Blocks stay globally
doc-id-ordered per term (bucket asc, block asc) so queries and merges
never need a global per-term sort. This replaces the reference's
single-process external merge sort with one bounded shuffle.

Materialization: the exploded postings are deliberately NOT persisted —
Spark's in-memory columnar cache is pathologically slow on array columns
(measured 94s vs 7s recompute at 20k docs); term stats instead derive from
the written block table (sum of per-block partials), and lengths get their
own cheap pass, so tokenize runs at most 3x and nothing large is cached.

Per-posting ``len_byte`` (the quantized field length BM25 needs) is
denormalized into the block payload, so query-time scoring requires no
join against the lengths table — at 100 TB that removes the biggest
shuffle from the hot path.

Two placements share the kernels (``tokenize_postings``, ``doc_lengths``,
``encode_blocks``) and write the same tables: ``build_segment`` runs them
in the Spark plan above over a documents DataFrame (``build_index``, the
bulk path), and ``build_segment_rows`` runs them on the driver over rows
held there and writes each table with pyarrow as one sorted part file
(``IndexWriter.commit``). The input decides: a writer commit's few rows
would spend most of their time in Spark's fixed per-job cost, which the
driver placement does not pay. Where the Spark placement casts a value
to its canonical type, the driver placement evaluates the same cast in
Python (``spark_cast``).
"""

from __future__ import annotations

import datetime
import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

from whoosh_spark.index import codec, spark_cast
from whoosh_spark.index.catalog import TERMSTATS_SCHEMA
from whoosh_spark.index.quantize import length_to_byte_np
from whoosh_spark.index.segment import (
    Manifest,
    SegmentInfo,
    index_exists,
    next_segment_name,
    read_manifest,
    write_manifest,
)
from whoosh_spark.schema import IndexSchema, schema_to_dict

BLOCK_SIZE = 128  # max postings per block (reference blocklimit, whoosh3.py:77)
DEFAULT_BUCKET_WIDTH = 8192  # docs per salt bucket = 64 full blocks

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("field", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("block_no", T.IntegerType()),
        T.StructField("count", T.IntegerType()),
        T.StructField("min_id", T.LongType()),
        T.StructField("max_id", T.LongType()),
        T.StructField("sum_tf", T.LongType()),
        T.StructField("max_tf", T.DoubleType()),
        T.StructField("min_len_byte", T.IntegerType()),
        T.StructField("max_len_byte", T.IntegerType()),
        T.StructField("ids", T.BinaryType()),
        T.StructField("tfs", T.BinaryType()),
        T.StructField("len_bytes", T.BinaryType()),
        T.StructField("positions", T.BinaryType()),
        # token-boost weight channel (delimited_boost analyzers): sum of
        # per-posting weights; `weights` is a float64 array, NULL whenever
        # every weight equals its tf (the common case costs one NULL column)
        T.StructField("sum_w", T.DoubleType()),
        T.StructField("weights", T.BinaryType()),
        # PositionBoosts/CharacterBoosts format payloads (reference
        # formats.py:339-481): per-OCCURRENCE boosts (float64 stream whose
        # ragged lengths mirror `positions`) and char spans (same ragged
        # codec as positions). NULL except on chars/pos_boosts fields.
        T.StructField("pos_boosts", T.BinaryType()),
        T.StructField("startchars", T.BinaryType()),
        T.StructField("endchars", T.BinaryType()),
    ]
)

POSTINGS_ARROW = to_arrow_schema(POSTINGS_SCHEMA)

EXPLODED_SCHEMA = T.StructType(
    [
        T.StructField("field", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("tf", T.IntegerType()),
        T.StructField("positions", T.ArrayType(T.IntegerType())),
        T.StructField("length", T.IntegerType()),
        T.StructField("len_byte", T.IntegerType()),
    ]
)

# only used when some field's analyzer carries token boosts — the common
# case never pays for the extra float column in the heavy shuffle
EXPLODED_SCHEMA_W = T.StructType(
    EXPLODED_SCHEMA.fields + [T.StructField("weight", T.DoubleType())]
)

# only when some field stores the Characters/PositionBoosts formats: the
# per-occurrence boost and char-span arrays ride the same shuffle (NULL on
# fields that don't carry them)
EXPLODED_SCHEMA_CB = T.StructType(
    EXPLODED_SCHEMA_W.fields + [
        T.StructField("boosts", T.ArrayType(T.DoubleType())),
        T.StructField("startchars", T.ArrayType(T.IntegerType())),
        T.StructField("endchars", T.ArrayType(T.IntegerType())),
    ]
)

LENGTHS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("field", T.StringType()),
        T.StructField("length", T.IntegerType()),
        T.StructField("len_byte", T.IntegerType()),
    ]
)


def _field_configs(schema: IndexSchema) -> list[tuple]:
    """(fieldname, analyzer, phrase, chars, pos_boosts) per indexed field —
    the Analyzer dataclass pickles into the Arrow kernels and is the ONE
    tokenize pipeline (whoosh_spark/analysis/tokenize.py Analyzer.tokens)."""
    return [
        (fieldname, schema[fieldname].analyzer, bool(schema[fieldname].phrase),
         bool(schema[fieldname].chars), bool(schema[fieldname].pos_boosts))
        for fieldname in schema.indexed_fields()
    ]


def _postings_cfgs(schema: IndexSchema, columns) -> tuple[list[tuple], bool, bool]:
    """The tokenize plan of a batch with ``columns``: ``(out_cfgs,
    has_boost, has_charfmt)``. ``out_cfgs`` holds one ``(out_field,
    src_col, analyzer, phrase, spell, charfmt)`` per posting field, where
    charfmt is ``(store_chars, store_pos_boosts)`` for
    Characters/PositionBoosts-format fields, else None.

    spelling=True morphic fields additionally emit a ``spell_<name>``
    lexicon of UNSTEMMED words, tf=1 per (doc, word) — the reference's
    separate spelling subfield (fields.py:1132-1148, writing.py:762-767;
    spellable_words is a per-doc set, so the spell term's total weight is
    its doc frequency)."""
    import dataclasses

    # a schema field absent from this batch's columns is simply not
    # indexed for these docs (reference add_document omits absent fields,
    # writing.py:725-760) — common right after an add_field
    cfgs = [c for c in _field_configs(schema) if c[0] in columns]
    out_cfgs = [
        (name, name, ana, phrase, False,
         (chars, posb) if (chars or posb) else None)
        for name, ana, phrase, chars, posb in cfgs
    ]
    for name, ana, _phrase, _c, _pb in cfgs:
        if schema[name].separate_spelling():
            out_cfgs.append(
                ("spell_" + name, name,
                 dataclasses.replace(ana, stem=False, lang_stem=None,
                                     alt_stem=None, dmetaphone=None),
                 False, True, None)
            )
    has_boost = any(_boosted(ana) for _, _, ana, _, _, _ in out_cfgs)
    has_charfmt = any(cf is not None for _, _, _, _, _, cf in out_cfgs)
    return out_cfgs, has_boost, has_charfmt


def _boosted(ana) -> bool:
    # delimited boosts AND dmetaphone secondary codes carry per-token
    # boosts into posting weights
    return ana.delimited_boost is not None or ana.dmetaphone is not None


def _doc_kernels(out_cfgs: list[tuple]) -> list[tuple]:
    """Bind each posting field's per-document analyzer kernel once."""
    return [
        (out, src,
         ana.doc_kernel_chars() if cf is not None
         else (ana.doc_kernel_boost() if _boosted(ana) else ana.doc_kernel()),
         phrase, _boosted(ana), spell, cf)
        for out, src, ana, phrase, spell, cf in out_cfgs
    ]


def tokenize_postings(pdf: pd.DataFrame, kernels: list[tuple], has_boost: bool,
                      has_charfmt: bool) -> pd.DataFrame | None:
    """One batch of documents (``doc_id`` plus the text columns) -> its
    exploded postings, or None when no document has text. The columns
    follow EXPLODED_SCHEMA (with ``weight`` when ``has_boost`` or
    ``has_charfmt``, and the payload arrays when ``has_charfmt``)."""
    f_out, t_out, d_out, tf_out, p_out, l_out = [], [], [], [], [], []
    w_out: list = []
    b_out: list = []
    sc_out: list = []
    ec_out: list = []
    for out, src, doc_kernel, phrase, boosted, spell, cf in kernels:
        for did, text in zip(pdf["doc_id"], pdf[src]):
            if text is None:
                continue
            agg, k = doc_kernel(text)
            for t, val in agg.items():
                if cf is not None:
                    ps, scs, ecs, bs = val
                    w = float(sum(bs))
                elif boosted:
                    ps, w = val
                    scs = ecs = bs = None
                else:
                    ps, w = val, None
                    scs = ecs = bs = None
                if spell:
                    ps = ps[:1]  # unique word per doc: tf=1
                f_out.append(out)
                t_out.append(t)
                d_out.append(did)
                tf_out.append(len(ps))
                p_out.append(ps if phrase else None)
                l_out.append(k)
                if has_boost or has_charfmt:
                    w_out.append(w if w is not None and not spell else float(len(ps)))
                if has_charfmt:
                    store_c, store_b = cf if cf is not None else (False, False)
                    b_out.append(bs if (cf is not None and store_b) else None)
                    sc_out.append(scs if (cf is not None and store_c) else None)
                    ec_out.append(ecs if (cf is not None and store_c) else None)
    if not f_out:
        # a batch of only null-text docs: an all-empty pd.DataFrame
        # types its list columns float64, which Arrow can't convert
        # to list<int32> — yield nothing instead
        return None
    lens = np.asarray(l_out, dtype=np.int64)
    out = {
        "field": f_out,
        "term": t_out,
        "doc_id": d_out,
        "tf": tf_out,
        "positions": p_out,
        "length": l_out,
        "len_byte": length_to_byte_np(lens).astype(np.int32),
    }
    if has_boost or has_charfmt:
        out["weight"] = w_out
    if has_charfmt:
        out["boosts"] = b_out
        out["startchars"] = sc_out
        out["endchars"] = ec_out
    return pd.DataFrame(out)


def doc_lengths(pdf: pd.DataFrame, cfgs: list[tuple]) -> pd.DataFrame | None:
    """One batch of documents -> its (doc_id, field, length, len_byte)
    rows (LENGTHS_SCHEMA), or None when no document has text."""
    d_out, f_out, l_out = [], [], []
    for name, ana, *_rest in cfgs:
        for did, text in zip(pdf["doc_id"], pdf[name]):
            if text is None:
                continue
            d_out.append(did)
            f_out.append(name)
            l_out.append(ana.kept_count(text))
    if not d_out:
        return None  # all-null batch: see tokenize_postings
    lens = np.asarray(l_out, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": d_out,
            "field": f_out,
            "length": l_out,
            "len_byte": length_to_byte_np(lens).astype(np.int32),
        }
    )


def _text_cols(docs: DataFrame, names, doc_id_col: str) -> list:
    return [F.col(doc_id_col).alias("doc_id")] + [
        F.col(name).cast("string").alias(name) for name in names
    ]


def extract_postings(docs: DataFrame, schema: IndexSchema, doc_id_col: str = "doc_id") -> DataFrame:
    """docs -> long postings DF: one Arrow pass tokenizes ALL indexed fields
    (reference emits per-field postings per doc, writing.py:737-767) with
    ``tokenize_postings``."""
    schema = schema.bind_columns(docs.columns, exclude=(doc_id_col,))
    out_cfgs, has_boost, has_charfmt = _postings_cfgs(schema, docs.columns)
    srcs = list(dict.fromkeys(src for _, src, *_ in out_cfgs))

    def kernel(batches):
        kernels = _doc_kernels(out_cfgs)
        for pdf in batches:
            out = tokenize_postings(pdf, kernels, has_boost, has_charfmt)
            if out is not None:
                yield out

    out_schema = (EXPLODED_SCHEMA_CB if has_charfmt
                  else EXPLODED_SCHEMA_W if has_boost else EXPLODED_SCHEMA)
    return docs.select(*_text_cols(docs, srcs, doc_id_col)).mapInPandas(kernel, out_schema)


def lengths_table(docs: DataFrame, schema: IndexSchema, doc_id_col: str = "doc_id") -> DataFrame:
    """Per-(doc, field) token counts — a dedicated light pass (no per-term
    aggregation, no positions) with ``doc_lengths``."""
    schema = schema.bind_columns(docs.columns, exclude=(doc_id_col,))
    cfgs = [c for c in _field_configs(schema) if c[0] in docs.columns]

    def kernel(batches):
        for pdf in batches:
            out = doc_lengths(pdf, cfgs)
            if out is not None:
                yield out

    return docs.select(*_text_cols(docs, [c[0] for c in cfgs], doc_id_col)).mapInPandas(
        kernel, LENGTHS_SCHEMA)


# ------------------------------------------------------------ block encode

_POSTINGS_COLS = [f.name for f in POSTINGS_SCHEMA.fields]


def _encode_group(rows: list, field: str, term: str, bucket: int,
                  ids: np.ndarray, tfs: np.ndarray, lbs: np.ndarray,
                  pos_lists, ws: np.ndarray | None = None,
                  boost_lists=None, sc_lists=None, ec_lists=None) -> None:
    """Append ≤128-posting block rows for one (field, term, bucket) group.
    Inputs are doc_id-sorted numpy slices — no per-group DataFrames.
    ``ws`` (token-boost weights) is encoded only for blocks where some
    weight differs from its tf; max_tf is then the block-max WEIGHT so WAND
    bounds stay admissible."""
    n = ids.size
    for start in range(0, n, BLOCK_SIZE):
        end = min(start + BLOCK_SIZE, n)
        bids = ids[start:end]
        btfs = tfs[start:end]
        blbs = lbs[start:end]
        if pos_lists is not None and pos_lists[start] is not None:
            plists = [
                np.asarray(p if p is not None else [], dtype=np.int64)
                for p in pos_lists[start:end]
            ]
            pos_bin = codec.encode_position_lists(plists)
        else:
            pos_bin = None
        if ws is not None:
            # reference W3 posting writer keeps weights in a float32 array
            # (codec/whoosh3.py:746 array("f")) — round-trip through float32
            # so boost-summed weights score bit-identically to the reference
            bws = ws[start:end].astype(np.float32).astype(np.float64)
            boosted = bool((bws != btfs).any())
            sum_w = float(bws.sum())
            max_w = float(bws.max())
            w_bin = bws.tobytes() if boosted else None
        else:
            sum_w = float(btfs.sum())
            max_w = float(btfs.max())
            w_bin = None
        # Characters/PositionBoosts payloads (only on fields storing them;
        # list groups arrive all-None otherwise)
        if boost_lists is not None and boost_lists[start] is not None:
            pb_bin = codec.encode_float_lists(
                [np.asarray(b, dtype=np.float64) for b in boost_lists[start:end]]
            )
        else:
            pb_bin = None
        if sc_lists is not None and sc_lists[start] is not None:
            sc_bin = codec.encode_position_lists(
                [np.asarray(s, dtype=np.int64) for s in sc_lists[start:end]]
            )
            ec_bin = codec.encode_position_lists(
                [np.asarray(e2, dtype=np.int64) for e2 in ec_lists[start:end]]
            )
        else:
            sc_bin = ec_bin = None
        rows.append(
            (
                field, term, bucket, start // BLOCK_SIZE, end - start,
                int(bids[0]), int(bids[-1]), int(btfs.sum()), max_w,
                int(blbs.min()), int(blbs.max()),
                codec.delta_encode(bids),
                codec.varint_encode(btfs.astype(np.uint64)),
                blbs.astype(np.uint8).tobytes(),
                pos_bin,
                sum_w,
                w_bin,
                pb_bin,
                sc_bin,
                ec_bin,
            )
        )


def _group_starts(pdf: pd.DataFrame) -> np.ndarray:
    """Row offsets where a (field, term, bucket) group starts, over rows
    sorted by (field, term, bucket, doc_id)."""
    fields = pdf["field"].to_numpy()
    terms = pdf["term"].to_numpy()
    buckets = pdf["bucket"].to_numpy()
    chg = np.flatnonzero(
        (terms[1:] != terms[:-1]) | (buckets[1:] != buckets[:-1]) | (fields[1:] != fields[:-1])
    )
    return np.concatenate(([0], chg + 1))


def encode_blocks(pdf: pd.DataFrame) -> pd.DataFrame:
    """Non-empty postings sorted by (field, term, bucket, doc_id) -> their
    posting-block rows (POSTINGS_SCHEMA), in the same order."""
    return _encode_rows(pdf, _group_starts(pdf), len(pdf))


def _encode_partition(batches):
    """mapInPandas kernel over partitions pre-sorted by
    (field, term, bucket, doc_id). Emits posting-block rows; group work is
    numpy slicing, and groups straddling Arrow batch boundaries are carried
    over to the next batch."""
    carry: pd.DataFrame | None = None
    for pdf in batches:
        if carry is not None and len(carry):
            pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
        if not len(pdf):
            continue
        starts = _group_starts(pdf)
        # hold back the final (possibly incomplete) group for the next batch
        last_start = int(starts[-1])
        carry = pdf.iloc[last_start:]
        pdf_done = pdf.iloc[:last_start]
        if len(pdf_done):
            yield _encode_rows(pdf_done, starts[:-1], last_start)
    if carry is not None and len(carry):
        yield encode_blocks(carry.reset_index(drop=True))


def _encode_rows(pdf: pd.DataFrame, starts: np.ndarray, total: int) -> pd.DataFrame:
    fields = pdf["field"].to_numpy()
    terms = pdf["term"].to_numpy()
    buckets = pdf["bucket"].to_numpy()
    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    tfs = pdf["tf"].to_numpy(dtype=np.int64)
    lbs = pdf["len_byte"].to_numpy(dtype=np.int64)
    ws = pdf["weight"].to_numpy(dtype=np.float64) if "weight" in pdf.columns else None
    has_pos = "positions" in pdf.columns
    pos_all = pdf["positions"].to_list() if has_pos else None
    has_cb = "boosts" in pdf.columns
    b_all = pdf["boosts"].to_list() if has_cb else None
    sc_all = pdf["startchars"].to_list() if has_cb else None
    ec_all = pdf["endchars"].to_list() if has_cb else None
    bounds = np.concatenate((starts[1:], [total])).astype(np.int64)
    rows: list = []
    for s, e in zip(starts.astype(np.int64), bounds):
        _encode_group(
            rows, fields[s], terms[s], int(buckets[s]),
            ids[s:e], tfs[s:e], lbs[s:e],
            pos_all[s:e] if has_pos else None,
            ws[s:e] if ws is not None else None,
            b_all[s:e] if has_cb else None,
            sc_all[s:e] if has_cb else None,
            ec_all[s:e] if has_cb else None,
        )
    return pd.DataFrame(rows, columns=_POSTINGS_COLS)


# ------------------------------------------------------------------ build

#: canonical docs.parquet dtype per typed schema kind. Its two users must
#: agree: ``_canonical_stored_col`` (Spark's cast, the DataFrame
#: placement) and ``_stored_array`` (the same cast in Python, the driver
#: placement); tests/test_segment_placements.py feeds both every kind of
#: input they convert. The empty-index read in catalog.Index assumes the
#: same types.
_STORED_KIND_TYPES = {"numeric": T.DoubleType(), "datetime": T.TimestampType(),
                      "boolean": T.BooleanType()}

VECTORS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("field", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("tf", T.LongType()),
    ]
)

_NUMERIC_SPARK_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                        T.FloatType, T.DoubleType, T.DecimalType)


def _canonical_stored_col(docs: DataFrame, c: str, kind: str):
    """One canonical Spark type per stored field, independent of what a
    particular batch's pandas/py4j inference produced, so docs.parquet
    dtypes never conflict across segments (catalog.docs() merge-reads)."""
    dt = docs.schema[c].dataType
    pin = _STORED_KIND_TYPES.get(kind)
    if pin is not None:
        return F.col(c).cast(pin)
    if kind == "stored":
        # arbitrary payloads: numeric widths collapse to double (an
        # int-only batch and a float batch must still merge); all-None
        # stays readable as string; anything else passes through
        if isinstance(dt, _NUMERIC_SPARK_TYPES):
            return F.col(c).cast("double")
        if isinstance(dt, T.NullType):
            return F.col(c).cast("string")
        return F.col(c)
    # text-ish kinds (text/id/keyword/ngram...) are strings by definition
    return F.col(c).cast("string")


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _claim_segment_dir(index_dir: str, segment_name: str | None = None) -> tuple[str, str]:
    """(name, path) of the new segment's directory, created here."""
    if segment_name is not None:
        # partition-escaped chars (=, /, %, # ...) in a caller-supplied
        # name would break the tombstone staging rename (delete_docs
        # writes partitionBy("seg") dirs named after the raw segment name)
        if not re.fullmatch(r"[A-Za-z0-9._-]+", segment_name):
            raise ValueError(
                f"segment_name {segment_name!r} must match [A-Za-z0-9._-]+")
        seg_dir = os.path.join(index_dir, "segments", segment_name)
        os.makedirs(seg_dir, exist_ok=True)
        return segment_name, seg_dir
    # atomically CLAIM a fresh directory: concurrent builders that all
    # read the same manifest must not write into the same segment dir
    # (mkdir is the mutex; the manifest commit is separately locked)
    manifest = read_manifest(index_dir) if index_exists(index_dir) else None
    while True:
        name = next_segment_name(manifest, index_dir)
        seg_dir = os.path.join(index_dir, "segments", name)
        try:
            os.makedirs(seg_dir, exist_ok=False)
            return name, seg_dir
        except FileExistsError:
            continue


def _segment_info(name: str, seg_dir: str, t0: float, n: int, lo, hi,
                  field_lengths: dict, field_term_counts: dict,
                  stored_cols: list, lineage: dict | None) -> SegmentInfo:
    """The manifest entry of a written segment. Its lineage record carries
    the build metrics (wall time, docs/s, bytes per table) alongside the
    caller's chunk identity."""
    import time as _time

    build_sec = round(_time.time() - t0, 3)
    lineage = dict(lineage or {})
    lineage["metrics"] = {
        "build_sec": build_sec,
        "docs_per_sec": round(n / build_sec, 1) if build_sec else 0.0,
        "bytes": {
            t: _dir_bytes(os.path.join(seg_dir, f"{t}.parquet"))
            for t in ("docs", "postings", "termstats", "lengths")
        },
    }
    return SegmentInfo(
        name=name,
        doc_count=n,
        field_lengths=field_lengths,
        min_doc_id=int(lo) if lo is not None else 0,
        max_doc_id=int(hi) if hi is not None else -1,
        lineage=lineage,
        field_term_counts=field_term_counts,
        stored_cols=stored_cols,
    )


def build_segment(
    spark: SparkSession,
    docs: DataFrame,
    schema: IndexSchema,
    index_dir: str,
    doc_id_col: str = "doc_id",
    bucket_width: int = DEFAULT_BUCKET_WIDTH,
    lineage: dict | None = None,
    segment_name: str | None = None,
    commit: bool = True,
    sha_col: str | None = "content",
) -> SegmentInfo:
    """Build one immutable segment from ``docs`` and (optionally) commit it
    into the index manifest. The committed lineage record carries build
    metrics (wall time, docs/s, bytes per table) alongside the caller's
    chunk identity — the north rule's "per-partition lineage + metrics":
    a resumed 10^12-file build can tell which chunks are done AND how
    each one performed."""
    import time as _time

    _t0 = _time.time()
    name, seg_dir = _claim_segment_dir(index_dir, segment_name)

    # dynamic (glob) fields: materialize against this build's concrete
    # columns; the manifest keeps the pattern form (commit_segment below
    # receives the original schema)
    orig_schema = schema
    schema = schema.bind_columns(docs.columns, exclude=(doc_id_col,))

    # a small/compacted source (e.g. one parquet file) scans as a handful
    # of input splits, which would serialize the tokenize kernels on as
    # many cores; spread it first (the docs stream is tiny next to the
    # exploded postings, and at real scale the scan already has >= nparts
    # splits so this no-ops)
    nparts = max(1, spark.sparkContext.defaultParallelism)
    if docs.rdd.getNumPartitions() < nparts:
        docs = docs.repartition(nparts)

    # ---- docs (stored fields) + ingest-fidelity sha256 ----
    # Every stored column is cast to ONE canonical Spark type per schema
    # kind so segments written by different batches/writers always agree
    # on docs.parquet dtypes — otherwise docs()'s mergeSchema read throws
    # "Failed to merge incompatible data types" (e.g. an all-None NUMERIC
    # batch inferring string, or int/float mixing across writer commits).
    # doc_id cast to long so the on-disk type is canonical: readers use an
    # explicit 'doc_id BIGINT' schema (catalog deletes / delete_docs), and
    # an int32-id corpus must not depend on parquet int->long widening
    stored_cols = [F.col(doc_id_col).cast("long").alias("doc_id")] + [
        _canonical_stored_col(docs, c, schema[c].kind)
        for c in schema.stored_fields() if c in docs.columns and c != doc_id_col
    ]
    if sha_col and sha_col in docs.columns:
        stored_cols.append(F.sha2(F.col(sha_col).cast("string"), 256).alias("content_sha256"))
    docs_out = docs.select(*stored_cols)

    # ---- posting blocks: one tokenize -> one bounded shuffle -> encode ----
    # The HEAVY stream (exploded postings with position arrays) shuffles by
    # HASH of (field, term, bucket): bucket splits hot terms across
    # reducers, and hash avoids repartitionByRange's sampling job, which
    # recomputes the whole tokenize pass (measured 5x slower at 32 cores).
    # The COMPACT encoded blocks (128x fewer rows, binary payloads) then
    # take a cheap range shuffle so the written Parquet files are
    # term-sorted for file- and row-group-level scan pruning (the
    # sorted-terms-file analog).
    postings = extract_postings(docs, schema, doc_id_col)
    needs_positions = any(schema[f].phrase for f in schema.indexed_fields())
    with_bucket = postings.withColumn("bucket", (F.col("doc_id") / F.lit(bucket_width)).cast("long"))
    in_cols = ["field", "term", "bucket", "doc_id", "tf", "len_byte"] + (
        ["weight"] if "weight" in postings.columns else []
    ) + (["positions"] if needs_positions else []) + (
        ["boosts", "startchars", "endchars"] if "boosts" in postings.columns else []
    )
    blocks = (
        with_bucket.select(*in_cols)
        .repartition(nparts, "field", "term", "bucket")
        .sortWithinPartitions("field", "term", "bucket", "doc_id")
        .mapInPandas(_encode_partition, POSTINGS_SCHEMA)
    )

    # The four pipelines below (postings chain, stored docs, lengths chain,
    # id stats) share no data dependencies, so their jobs run CONCURRENTLY
    # from a small thread pool: the scheduler back-fills executor cores
    # freed by one chain's shuffle/write tail with the next chain's tasks
    # instead of leaving them idle between sequential actions. Postings is
    # submitted first — FIFO scheduling gives the heaviest chain resources
    # first and the light chains mop up the stragglers' idle cores.
    vector_fields = [f for f in schema.indexed_fields() if schema[f].vector]

    def _postings_chain() -> dict:
        spark.sparkContext.setJobDescription(f"build {name}: postings")
        blocks.repartitionByRange(nparts, "field", "term", "bucket").sortWithinPartitions(
            "field", "term", "bucket", "block_no"
        ).write.mode("overwrite").parquet(os.path.join(seg_dir, "postings.parquet"))

        # term stats derived from block partials (no extra tokenize)
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
        spark.sparkContext.setJobDescription(f"build {name}: termstats")
        termstats.repartitionByRange(max(1, nparts // 2), "field", "term").sortWithinPartitions(
            "field", "term"
        ).write.mode("overwrite").parquet(os.path.join(seg_dir, "termstats.parquet"))

        # term vectors (vector=True fields): decode the already-written
        # blocks (no second tokenize) and lay the postings out doc-sorted
        # so a per-doc vector read prunes to one file/row-group (reference
        # codec/whoosh3.py:224-245 per-doc term maps)
        if vector_fields:
            from whoosh_spark.index.catalog import decode_blocks

            spark.sparkContext.setJobDescription(f"build {name}: vectors")
            vec = decode_blocks(blocks_tbl.filter(F.col("field").isin(vector_fields)))
            (
                vec.select("doc_id", "field", "term", "tf")
                .repartitionByRange(max(1, nparts // 2), "doc_id")
                .sortWithinPartitions("doc_id", "field", "term")
                .write.mode("overwrite")
                .parquet(os.path.join(seg_dir, "vectors.parquet"))
            )
        term_count_rows = (
            spark.read.parquet(os.path.join(seg_dir, "termstats.parquet"))
            .groupBy("field").agg(F.count("*").alias("n")).collect()
        )
        return {r["field"]: int(r["n"]) for r in term_count_rows}

    def _docs_chain() -> None:
        spark.sparkContext.setJobDescription(f"build {name}: stored docs")
        docs_out.write.mode("overwrite").parquet(os.path.join(seg_dir, "docs.parquet"))

    def _lengths_chain() -> dict:
        spark.sparkContext.setJobDescription(f"build {name}: lengths")
        lengths = lengths_table(docs, schema, doc_id_col)
        lengths.write.mode("overwrite").parquet(os.path.join(seg_dir, "lengths.parquet"))
        lengths_tbl = spark.read.parquet(os.path.join(seg_dir, "lengths.parquet"))
        rows = lengths_tbl.groupBy("field").agg(F.sum("length").alias("total")).collect()
        return {r["field"]: int(r["total"]) for r in rows}

    def _id_stats_chain():
        spark.sparkContext.setJobDescription(f"build {name}: id stats")
        return docs.agg(
            F.count("*").alias("n"), F.min(doc_id_col).alias("lo"), F.max(doc_id_col).alias("hi")
        ).collect()[0]

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_post = pool.submit(_postings_chain)
        f_docs = pool.submit(_docs_chain)
        f_len = pool.submit(_lengths_chain)
        f_ids = pool.submit(_id_stats_chain)
        field_term_counts = f_post.result()
        f_docs.result()
        field_lengths = f_len.result()
        id_stats = f_ids.result()

    info = _segment_info(
        name, seg_dir, _t0, int(id_stats["n"]), id_stats["lo"], id_stats["hi"],
        field_lengths, field_term_counts, list(docs_out.columns), lineage)
    if commit:
        commit_segment(index_dir, orig_schema, info)
    return info


def _stored_array(values: list, kind: str, tz: str, ansi: bool) -> pa.Array:
    """A stored column in its canonical type: Spark's cast of
    ``_canonical_stored_col``, evaluated by ``spark_cast`` (session time
    zone ``tz``, ``ansi`` from ``spark.sql.ansi.enabled``)."""
    present = [v for v in values if v is not None]
    if kind == "datetime" or (kind == "stored" and present and all(
            isinstance(v, datetime.datetime) for v in present)):
        us = pa.array([spark_cast.to_timestamp_us(v, tz, ansi) for v in values],
                      type=pa.int64())
        return us.cast(to_arrow_type(_STORED_KIND_TYPES["datetime"]))
    if kind in ("numeric", "boolean"):
        to = spark_cast.to_double if kind == "numeric" else spark_cast.to_bool
        return pa.array([to(v, ansi) for v in values],
                        type=to_arrow_type(_STORED_KIND_TYPES[kind]))
    if kind == "stored":
        if not present:
            return pa.array(values, type=pa.string())
        if all(isinstance(v, (int, float)) and not isinstance(v, bool) for v in present):
            return pa.array([None if v is None else float(v) for v in values],
                            type=pa.float64())
        return pa.array(values)
    return pa.array([spark_cast.to_text(v, tz) for v in values], type=pa.string())


def _termstats(blocks: pd.DataFrame) -> pa.Table:
    """The termstats rows of term-sorted block rows: the DataFrame
    placement's groupBy aggregation, with each term's ``total_w`` summed
    in block order as Spark's sum does."""
    f, t = blocks["field"].to_numpy(), blocks["term"].to_numpy()
    starts = np.concatenate(([0], np.flatnonzero((t[1:] != t[:-1]) | (f[1:] != f[:-1])) + 1))

    def red(ufunc, col):
        return ufunc.reduceat(blocks[col].to_numpy(), starts)

    sum_w = blocks["sum_w"].to_numpy(dtype=np.float64)
    total_w = sum_w[starts].copy()
    ends = np.append(starts[1:], len(blocks))
    for g in np.flatnonzero(ends - starts > 1):
        acc = 0.0
        for w in sum_w[starts[g]:ends[g]]:
            acc += w
        total_w[g] = acc
    return pa.table({
        "field": f[starts], "term": t[starts],
        "df": red(np.add, "count"), "total_tf": red(np.add, "sum_tf"),
        "max_tf": red(np.maximum, "max_tf"), "total_w": total_w,
        "min_len_byte": red(np.minimum, "min_len_byte"),
        "max_len_byte": red(np.maximum, "max_len_byte"),
        "min_id": red(np.minimum, "min_id"), "max_id": red(np.maximum, "max_id"),
    }).cast(TERMSTATS_SCHEMA)


def _write_part(table: pa.Table, path: str) -> None:
    """One table as a Parquet directory of one part file, the layout the
    DataFrame placement writes."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def build_segment_rows(
    spark: SparkSession,
    rows: list[dict],
    schema: IndexSchema,
    index_dir: str,
    lineage: dict | None = None,
) -> SegmentInfo:
    """Driver placement of ``build_segment``: write the segment of
    driver-held ``rows`` (dicts with a ``doc_id``) with pyarrow and commit
    it, launching no Spark job. The tables equal the DataFrame
    placement's row for row (same kernels, same block encode), each as
    one sorted part file."""
    import time as _time

    _t0 = _time.time()
    name, seg_dir = _claim_segment_dir(index_dir)
    cols = list(dict.fromkeys(["doc_id", *(k for r in rows for k in r)]))
    orig_schema = schema
    schema = schema.bind_columns(cols)
    ids = np.asarray([int(r["doc_id"]) for r in rows], dtype=np.int64)
    tz = spark.conf.get("spark.sql.session.timeZone")
    ansi = spark.conf.get("spark.sql.ansi.enabled").lower() == "true"
    cfgs = [c for c in _field_configs(schema) if c[0] in cols]
    texts = pd.DataFrame({"doc_id": ids})
    for c in cfgs:
        texts[c[0]] = pd.Series([spark_cast.to_text(r.get(c[0]), tz) for r in rows],
                                dtype=object)

    # ---- posting blocks + term stats (+ term vectors) ----
    out_cfgs, has_boost, has_charfmt = _postings_cfgs(schema, cols)
    postings = tokenize_postings(texts, _doc_kernels(out_cfgs), has_boost, has_charfmt)
    if postings is None:
        blocks = pd.DataFrame({c: [] for c in _POSTINGS_COLS})
        postings = pd.DataFrame({c: [] for c in ("doc_id", "field", "term", "tf")})
    else:
        postings["bucket"] = (postings["doc_id"].to_numpy(dtype=np.int64)
                              / DEFAULT_BUCKET_WIDTH).astype(np.int64)
        needs_positions = any(schema[f].phrase for f in schema.indexed_fields())
        in_cols = ["field", "term", "bucket", "doc_id", "tf", "len_byte"] + (
            ["weight"] if "weight" in postings.columns else []
        ) + (["positions"] if needs_positions else []) + (
            ["boosts", "startchars", "endchars"] if has_charfmt else []
        )
        postings = postings.sort_values(["field", "term", "bucket", "doc_id"],
                                        ignore_index=True)
        blocks = encode_blocks(postings[in_cols])
    _write_part(pa.Table.from_pandas(blocks, schema=POSTINGS_ARROW, preserve_index=False),
                os.path.join(seg_dir, "postings.parquet"))
    termstats = _termstats(blocks)
    _write_part(termstats, os.path.join(seg_dir, "termstats.parquet"))
    vector_fields = [f for f in schema.indexed_fields() if schema[f].vector]
    if vector_fields:
        vec = postings.loc[postings["field"].isin(vector_fields),
                           ["doc_id", "field", "term", "tf"]]
        vec = vec.sort_values(["doc_id", "field", "term"], ignore_index=True)
        _write_part(pa.Table.from_pandas(vec, schema=to_arrow_schema(VECTORS_SCHEMA),
                                         preserve_index=False),
                    os.path.join(seg_dir, "vectors.parquet"))

    # ---- lengths ----
    lengths = doc_lengths(texts, cfgs)
    if lengths is None:
        lengths = pd.DataFrame({c: [] for c in LENGTHS_SCHEMA.names})
    _write_part(pa.Table.from_pandas(lengths, schema=to_arrow_schema(LENGTHS_SCHEMA),
                                     preserve_index=False),
                os.path.join(seg_dir, "lengths.parquet"))

    # ---- docs (stored fields, canonical types) ----
    stored = [c for c in schema.stored_fields() if c in cols and c != "doc_id"]
    docs = pa.table({"doc_id": pa.array(ids, type=pa.int64()), **{
        c: _stored_array([r.get(c) for r in rows], schema[c].kind, tz, ansi)
        for c in stored}})
    _write_part(docs, os.path.join(seg_dir, "docs.parquet"))

    field_lengths = {f: int(n) for f, n in lengths.groupby("field")["length"].sum().items()}
    field_term_counts = {f: int(n) for f, n in
                         pd.Series(termstats["field"].to_numpy()).value_counts().items()}
    info = _segment_info(
        name, seg_dir, _t0, len(rows), ids.min(), ids.max(),
        field_lengths, field_term_counts, docs.column_names, lineage)
    commit_segment(index_dir, orig_schema, info)
    return info


def commit_segment(index_dir: str, schema: IndexSchema, info: SegmentInfo, chunk_id=None) -> Manifest:
    from whoosh_spark.index.lock import index_lock

    # the read-modify-write below must not interleave with another
    # committer's (reference WRITELOCK, index.py:342-372)
    with index_lock(index_dir):
        manifest = read_manifest(index_dir) if index_exists(index_dir) else None
        if manifest is None:
            manifest = Manifest(generation=0, schema=schema_to_dict(schema), segments=[])
        manifest.generation += 1
        manifest.segments = [s for s in manifest.segments if s.name != info.name] + [info]
        if chunk_id is not None and chunk_id not in manifest.completed_chunks:
            manifest.completed_chunks.append(chunk_id)
        write_manifest(index_dir, manifest)
    return manifest


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    schema: IndexSchema,
    index_dir: str,
    doc_id_col: str = "doc_id",
    num_chunks: int = 1,
    bucket_width: int = DEFAULT_BUCKET_WIDTH,
    resume: bool = True,
    sha_col: str | None = "content",
) -> Manifest:
    """Chunked, checkpoint-resumable build: each chunk of the input becomes
    one segment; the manifest records completed chunks so a restarted build
    skips them (per-partition lineage per north_rule)."""
    done = set()
    if resume and index_exists(index_dir):
        done = set(read_manifest(index_dir).completed_chunks)
    if num_chunks == 1:
        if 0 not in done:
            info = build_segment(
                spark, docs, schema, index_dir, doc_id_col, bucket_width,
                lineage={"chunk_id": 0}, commit=False, sha_col=sha_col,
            )
            commit_segment(index_dir, schema, info, chunk_id=0)
    else:
        chunked = docs.withColumn("_chunk", F.pmod(F.col(doc_id_col), F.lit(num_chunks)).cast("int"))
        for chunk in range(num_chunks):
            if chunk in done:
                continue
            cdf = chunked.filter(F.col("_chunk") == chunk).drop("_chunk")
            rows = cdf.count()
            info = build_segment(
                spark, cdf, schema, index_dir, doc_id_col, bucket_width,
                lineage={"chunk_id": chunk, "rows": rows}, commit=False, sha_col=sha_col,
            )
            commit_segment(index_dir, schema, info, chunk_id=chunk)
    return read_manifest(index_dir)
