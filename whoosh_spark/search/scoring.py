"""Scoring models: BM25F (default), TF_IDF, Frequency.

Formulas are value-identical to the reference
(/root/reference/src/whoosh/scoring.py):

  idf        = log(N / (df + 1)) + 1            (scoring.py:53-60; N = doc_count_all)
  bm25       = idf * (w*(K1+1)) / (w + K1*((1-B) + B*fl/avgfl))   (scoring.py:266-274)
  tf_idf     = w * idf                          (scoring.py:449-474)
  frequency  = w                                (scoring.py:443-446)

where w = tf * field_boost (token boosts default 1.0), fl is the
*byte-quantized* field length and avgfl = total_field_length /
doc_count_all (or 1). idf and avgfl are computed driver-side with Python
floats and injected as literals; the remaining ops mirror the reference's
evaluation order so IEEE-754 doubles come out bit-identical.

Non-scorable fields fall back to the raw weight (WeightScorer,
scoring.py:138-162).
"""

from __future__ import annotations

import math

import pandas as pd  # module scope: pandas_udf resolves PEP-563 hints here

from pyspark.sql import Column, functions as F

from whoosh_spark.index.quantize import BYTE_TO_LENGTH

def byte_to_length_col(len_byte: Column) -> Column:
    """Dequantize a len_byte column via a 256-entry literal array (stays in
    whole-stage codegen — no UDF, no join). Built as one SQL expression:
    256 ``F.lit`` calls cost ~0.15s of py4j round trips per plan."""
    arr = F.expr("array(%s)" % ",".join(str(int(v)) for v in BYTE_TO_LENGTH))
    return F.element_at(arr, len_byte + 1).cast("double")


class WeightingModel:
    def idf(self, doc_count_all: int, df: int) -> float:
        return math.log(doc_count_all / (df + 1)) + 1

    #: extra per-term meta columns a model needs beyond idf/avgfl/b
    #: (cf = collection term frequency, fl_total = total field length,
    #: dc = doc_count_all) — populated for every model, cheap constants
    def score_col(self, w: Column, fl: Column, idf_col: Column, avgfl_col: Column,
                  b_col: Column, one_minus_b_col: Column, scorable: Column,
                  cf_col: Column | None = None, fl_total_col: Column | None = None,
                  dc_col: Column | None = None) -> Column:
        raise NotImplementedError


class BM25F(WeightingModel):
    def __init__(self, B: float = 0.75, K1: float = 1.2, **field_B: float):
        self.B = B
        self.K1 = K1
        self._field_B = {k[:-2]: v for k, v in field_B.items() if k.endswith("_B")}

    def field_B(self, fieldname: str) -> float:
        return self._field_B.get(fieldname, self.B)

    def score_col(self, w, fl, idf_col, avgfl_col, b_col, one_minus_b_col, scorable,
                  cf_col=None, fl_total_col=None, dc_col=None):
        K1 = self.K1
        # exact op order of reference bm25():
        #   idf * ((tf*(K1+1)) / (tf + K1*((1-B) + B*fl/avgfl)))
        bm25 = idf_col * ((w * F.lit(K1 + 1)) / (w + F.lit(K1) * (one_minus_b_col + b_col * fl / avgfl_col)))
        return F.when(scorable, bm25).otherwise(w)

    def score_py(self, idf: float, w: float, fl: float, avgfl: float, B: float) -> float:
        K1 = self.K1
        return idf * ((w * (K1 + 1)) / (w + K1 * ((1 - B) + B * fl / avgfl)))

    def score_np(self, idf: float, w, fl, avgfl: float, B: float):
        """Vectorized score_py: identical op order on float64 arrays, so
        every element is bit-equal to the scalar path (numpy elementwise
        IEEE-754 ops round exactly like Python floats)."""
        K1 = self.K1
        return idf * ((w * (K1 + 1)) / (w + K1 * ((1 - B) + B * fl / avgfl)))


class TF_IDF(WeightingModel):
    def score_col(self, w, fl, idf_col, avgfl_col, b_col, one_minus_b_col, scorable,
                  cf_col=None, fl_total_col=None, dc_col=None):
        return F.when(scorable, w * idf_col).otherwise(w)


class Frequency(WeightingModel):
    def score_col(self, w, fl, idf_col, avgfl_col, b_col, one_minus_b_col, scorable,
                  cf_col=None, fl_total_col=None, dc_col=None):
        return w


class DFree(WeightingModel):
    """DFR DFree model (reference scoring.py:337-383), exact op order.
    cf = collection term frequency, fl_total = total field length."""

    def score_col(self, w, fl, idf_col, avgfl_col, b_col, one_minus_b_col, scorable,
                  cf_col=None, fl_total_col=None, dc_col=None):
        prior = w / fl
        post = (w + F.lit(1.0)) / (fl + F.lit(1.0))
        invpriorcol = fl_total_col / cf_col
        norm = w * F.log(post / prior)
        score = norm * (
            w * F.log(prior * invpriorcol)
            + (w + F.lit(1.0)) * F.log(post * invpriorcol)
            + F.lit(0.5) * F.log(post / prior)
        )
        return F.when(scorable, score).otherwise(w)


class PL2(WeightingModel):
    """DFR PL2 model (reference scoring.py:389-438), exact op order."""

    REC_LOG2_E = 1.0 / math.log(2)

    def __init__(self, c: float = 1.0):
        self.c = c

    def score_col(self, w, fl, idf_col, avgfl_col, b_col, one_minus_b_col, scorable,
                  cf_col=None, fl_total_col=None, dc_col=None):
        TF = w * F.log(F.lit(1.0) + (F.lit(self.c) * avgfl_col) / fl)
        norm = F.lit(1.0) / (TF + F.lit(1.0))
        f = cf_col / dc_col
        score = norm * (
            TF * F.log(F.lit(1.0) / f)
            + f * F.lit(self.REC_LOG2_E)
            + F.lit(0.5) * F.log(F.lit(2 * math.pi) * TF)
            + TF * (F.log(TF) - F.lit(self.REC_LOG2_E))
        )
        return F.when(scorable, score).otherwise(w)


class MultiWeighting(WeightingModel):
    """Per-field model dispatch (reference scoring.py:547-571): the default
    model scores every field except those overridden by keyword, e.g.
    ``MultiWeighting(BM25F(), id=Frequency(), keys=TF_IDF())``. The engine
    builds a small CASE chain over the handful of overridden fields — the
    per-term meta constants (idf, B) already come from the field's model."""

    def __init__(self, default: WeightingModel, **weightings: WeightingModel):
        self.default = default
        self.weightings = dict(weightings)

    def for_field(self, fieldname: str) -> WeightingModel:
        return self.weightings.get(fieldname, self.default)

    def field_B(self, fieldname: str) -> float:
        m = self.for_field(fieldname)
        return m.field_B(fieldname) if hasattr(m, "field_B") else 0.0

    def idf(self, doc_count_all: int, df: int) -> float:
        # per-term idf is computed through for_field() in the engine; this
        # default exists for field-agnostic callers
        return self.default.idf(doc_count_all, df)

    def score_col_dispatch(self, field_col: Column, fields: list[str], *args, **kw) -> Column:
        expr = self.default.score_col(*args, **kw)
        for f in sorted(fields):
            if f in self.weightings:
                expr = F.when(field_col == f,
                              self.weightings[f].score_col(*args, **kw)).otherwise(expr)
        return expr


class ReverseWeighting(WeightingModel):
    """0 - wrapped model's score (reference scoring.py:574-602): lowest
    scores rank first. Block-max pruning is not offered (bounds invert)."""

    def __init__(self, weighting: WeightingModel):
        self.weighting = weighting

    def field_B(self, fieldname: str) -> float:
        w = self.weighting
        return w.field_B(fieldname) if hasattr(w, "field_B") else 0.0

    def idf(self, doc_count_all: int, df: int) -> float:
        return self.weighting.idf(doc_count_all, df)

    def score_col(self, w, fl, idf_col, avgfl_col, b_col, one_minus_b_col, scorable,
                  cf_col=None, fl_total_col=None, dc_col=None):
        return F.lit(0.0) - self.weighting.score_col(
            w, fl, idf_col, avgfl_col, b_col, one_minus_b_col, scorable,
            cf_col=cf_col, fl_total_col=fl_total_col, dc_col=dc_col,
        )


class FunctionWeighting(WeightingModel):
    """Custom per-posting scoring plug point (reference scoring.py:503-544
    FunctionWeighting, whose fn sees the matcher's weight and the searcher).

    ``fn(w, fl, idf, avgfl) -> Column`` builds a native Column expression —
    the Spark-first fast path (stays in whole-stage codegen).
    ``python_fn(w, fl, idf, avgfl) -> float`` is an arbitrary Python scalar
    function, applied as an Arrow-batched pandas UDF (the slow path, like
    the reference's per-posting Python call — use only when the formula
    can't be expressed as Columns).
    ``final(doc_id, score) -> Column`` post-processes each document's final
    accumulated score (the reference final() hook, scoring.py:69-85).
    """

    def __init__(self, fn=None, python_fn=None, final=None, base=None):
        if fn is None and python_fn is None and final is None:
            raise ValueError("FunctionWeighting needs fn, python_fn or final")
        self.fn = fn
        self.python_fn = python_fn
        self.final = final
        self.use_final = final is not None
        self.base = base or BM25F()  # underlying model when fn is absent

    def field_B(self, fieldname: str) -> float:
        return self.base.field_B(fieldname) if isinstance(self.base, BM25F) else 0.0

    def score_col(self, w, fl, idf_col, avgfl_col, b_col, one_minus_b_col, scorable,
                  cf_col=None, fl_total_col=None, dc_col=None):
        if self.fn is not None:
            return F.when(scorable, self.fn(w, fl, idf_col, avgfl_col)).otherwise(w)
        if self.python_fn is not None:
            from pyspark.sql.pandas.functions import pandas_udf

            pyfn = self.python_fn

            @pandas_udf("double")
            def _score(ws: pd.Series, fls: pd.Series, idfs: pd.Series, avgs: pd.Series) -> pd.Series:
                return pd.Series(
                    [pyfn(a, b, c, d) for a, b, c, d in zip(ws, fls, idfs, avgs)]
                )

            return F.when(scorable, _score(w, fl, idf_col, avgfl_col)).otherwise(w)
        # final-only wrapper: delegate to the underlying model
        return self.base.score_col(w, fl, idf_col, avgfl_col, b_col,
                                   one_minus_b_col, scorable,
                                   cf_col=cf_col, fl_total_col=fl_total_col,
                                   dc_col=dc_col)

    def final_col(self, doc_id: Column, score: Column) -> Column:
        if self.final is None:
            return score
        return self.final(doc_id, score)


def term_constants(searcher, stats: dict, terms) -> dict:
    """(field, term) -> the per-term constants every scoring route feeds
    its score formula: ``idf``, ``avgfl``, ``B``, ``fboost`` and
    ``scorable``. Computed once on the driver for the JVM score
    expression's broadcast meta rows and the numpy
    evaluator alike, so every route scores a posting from the same
    Python floats. Under MultiWeighting the field's model supplies idf
    and B; a term without stats gets idf 0.0."""
    w = searcher.weighting
    dc = searcher.index.doc_count_all()
    out = {}
    for field, term in terms:
        st = stats.get((field, term))
        df = int(st["df"]) if st else 0
        fm = w.for_field(field) if isinstance(w, MultiWeighting) else w
        ftype = searcher.schema[field] if field in searcher.schema else None
        out[(field, term)] = {
            "idf": fm.idf(dc, df) if df else 0.0,
            "avgfl": searcher.index.avg_field_length(field) or 1.0,
            "B": fm.field_B(field) if hasattr(fm, "field_B") else 0.0,
            "fboost": float(ftype.field_boost) if ftype else 1.0,
            "scorable": bool(ftype and ftype.scorable),
        }
    return out
