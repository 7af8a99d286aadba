"""Physical planner: query tree -> DataFrame plan -> top-k.

The reference evaluates queries with posting-iterator matcher trees
(/root/reference/src/whoosh/matching/*); here every matcher becomes a
DataFrame relation keyed by doc_id:

  Term            term-pruned posting-block scan -> decode -> score expr
  And             huffman-ordered inner-join chain, scores added in the
                  reference's make_weighted_tree order (util/__init__.py:81-97)
  Or              left-fold outer joins, scores added in original child order
                  (the ArrayUnionMatcher accumulation order, combo.py:211-215)
  DisjunctionMax  outer-join fold with greatest()
  Not             complement (anti join vs docs), constant score 1.0
  AndNot/Require/AndMaybe  anti / semi / left-outer joins
  Phrase          positional inner join + SpanNear2 chain in a pandas UDF
  top-k           orderBy(score desc, doc_id asc).limit(k)  — Whoosh
                  tie-breaking (collectors.py:465-471)

Score addition orders are replicated so BM25F results are bit-identical to
the reference on its fixtures. ``exact_scores=False`` switches n-ary And/Or
to single hash aggregations (groupBy(doc_id).sum) — the scalable path where
float association order is allowed to differ by ~1 ulp.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.functions import pandas_udf

from whoosh_spark.index.catalog import Index
from whoosh_spark.query import nodes as Q
from whoosh_spark.search.scoring import (
    BM25F, MultiWeighting, WeightingModel, term_constants,
)

NEG_INF = float("-inf")


class _Stats:
    """Combined term statistics view used by estimate_size ordering."""

    def __init__(self, stats_by_field: dict, doc_count_all: int):
        self._stats = stats_by_field  # {(field, term): row dict}
        self._dc = doc_count_all

    def df(self, field: str, term: str) -> int:
        row = self._stats.get((field, term))
        return int(row["df"]) if row else 0

    def doc_count(self) -> int:
        return self._dc


class _Compiled:
    """A compiled subquery: DataFrame(doc_id, score) (+ a negated marker for
    Not nodes, carrying the *matched* docs to be anti-joined)."""

    __slots__ = ("df", "negated")

    def __init__(self, df: DataFrame, negated: bool = False):
        self.df = df
        self.negated = negated


class _NotExpr(Exception):
    """Query shape outside the single-aggregation expression compiler."""


class _ExprC:
    """An expression-compiled subquery over the per-(field,term) aggregate
    row: ``score``/``present`` Columns (+ the Not marker, where ``present``
    is the *matched* set to be negated by the consumer)."""

    __slots__ = ("score", "present", "negated")

    def __init__(self, score, present, negated: bool = False):
        self.score = score
        self.present = present
        self.negated = negated


class Searcher:
    def __init__(self, index: Index, weighting: WeightingModel | None = None,
                 exact_scores: bool = True, cache_postings: bool = True,
                 max_expansion: int = 1024, use_local: bool = True,
                 local_threshold: int | None = None,
                 conjunctive_skip: bool = True):
        self.index = index
        self.schema = index.schema
        self.weighting = weighting or BM25F()
        self.exact_scores = exact_scores
        self.cache_postings = cache_postings
        self.max_expansion = max_expansion  # scored-multiterm clause cap
        # chunk-intersection block skipping for And-of-Terms/Phrase roots
        # (exact; False = decode full posting lists, for A/B benchmarking)
        self.conjunctive_skip = conjunctive_skip
        # adaptive driver-local top-k for small candidate sets
        # (search/local.py; None = the measured-crossover default there)
        self.use_local = use_local
        if local_threshold is None:
            from whoosh_spark.search.local import LOCAL_THRESHOLD

            local_threshold = LOCAL_THRESHOLD
        self.local_threshold = local_threshold
        self._persisted: list[DataFrame] = []

    # ------------------------------------------------------------------ API

    def search(self, q: Q.Query, limit: int | None = 10,
               filter_q: Q.Query | None = None, mask_q: Q.Query | None = None,
               use_wand: bool = False) -> DataFrame:
        """Top-k (score desc, doc_id asc) as a DataFrame(doc_id, score).

        ``use_wand=True`` routes a Term or flat Or of Terms without
        negative boosts through block-max pruning (search/wand.py); it
        returns the same (doc_id, score) top-k, bit for bit."""
        if (self.use_local and self.exact_scores and limit is not None
                and filter_q is None and mask_q is None
                and not getattr(self.weighting, "use_final", False)
                and isinstance(self.weighting, BM25F)):
            # exact_scores is required: the local evaluator replicates the
            # exact-order float ops, so an exact_scores=False searcher must
            # not return last-ulp-different scores depending on corpus size.
            # AQE-style adaptive choice: when every term's df (job-free from
            # prefetched stats) keeps total postings under local_threshold,
            # evaluate driver-side with pyarrow block reads — identical
            # results (tests/test_local_fastpath.py), ~50x lower latency.
            # Hot terms at corpus scale exceed the threshold and take the
            # distributed plan below.
            from whoosh_spark.search.local import try_local_search

            rows = try_local_search(self, q, limit)
            if rows is not None:
                return self.spark_rows_df(rows)
        if (use_wand and limit is not None and filter_q is None and mask_q is None
                and not getattr(self.weighting, "use_final", False)):
            wand = self.wand_search(q, limit)
            if wand is not None:
                return wand
        from whoosh_spark.search.local import bucket_topk, kernel_shape

        if (self.exact_scores and limit is not None and filter_q is None
                and mask_q is None and kernel_shape(q)):
            # past the local threshold: the same exact evaluator runs once
            # per doc-complete bucket partition (search/local.py) for flat
            # term bags, slop-1 phrases and AndNot/Require of a bag. Unlike
            # the expression/join plans below it never materializes or
            # shuffles the full matched set. Measured at 2.5M docs: or5
            # 4.9s -> ~1.5s, and2 3.4 -> ~1.2s. The relaxed
            # exact_scores=False contract keeps its aggregation plan:
            # oracle comparisons hash that plan's output.
            df = bucket_topk(self, [("q", q)], limit)
            if df is not None:
                return df.orderBy(F.asc("rank")).select("doc_id", "score")
        df = self.matches(q, filter_q=filter_q, mask_q=mask_q)
        df = df.orderBy(F.desc("score"), F.asc("doc_id"))
        if limit is not None:
            df = df.limit(limit)
        return df

    def spark_rows_df(self, rows: list) -> DataFrame:
        """Materialize locally-computed (doc_id, score) rows as a DataFrame
        (local relation: collecting it launches no cluster job).

        Goes through pandas so Spark takes the Arrow LocalRelation path —
        createDataFrame on a plain LIST detours through an RDD parallelize
        and costs ~0.5s of py4j round-trips per query (measured 577ms vs
        70ms for 10 rows), which dominated the adaptive local fast path."""
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "doc_id": pd.array([int(d) for d, _ in rows], dtype="int64"),
                "score": pd.array([float(s) for _, s in rows], dtype="float64"),
            }
        )
        return self.index.spark.createDataFrame(pdf, schema="doc_id long, score double")

    def wand_search(self, q: Q.Query, limit: int) -> DataFrame | None:
        """Block-max WAND (search/wand.py) for ``q`` as a batch of one;
        None if the query shape is not eligible (``_wand_terms``)."""
        from whoosh_spark.search.wand import block_max_wand

        spec = _wand_terms(_PlanContext(self)._resolve_multiterms(q))
        if spec is None:
            return None
        terms, boost = spec
        df = block_max_wand(self, [("q", terms, boost)], limit)
        # one query: its <= limit rows fit one partition, sorted there
        # without the sampling job a global orderBy launches
        return df.coalesce(1).sortWithinPartitions("rank").select("doc_id", "score")

    def search_results(self, q: Q.Query, limit: int | None = 10,
                       terms: bool = False, sortedby=None,
                       reverse: bool = False, groupedby=None, **kw):
        """Like :meth:`search` but returns the reference-style
        :class:`~whoosh_spark.search.results.Results` wrapper (list-like of
        Hit objects over the collected top-k; searching.py:934+).  The
        DataFrame API remains the scale path — this is the bounded-result
        convenience layer. ``terms=True`` records which query terms matched
        each hit (reference search(terms=True) + hit.matched_terms());
        ``sortedby=``/``reverse=`` order by stored field(s) instead of
        score (hits carry score None, like the reference's unscored sort);
        ``groupedby=`` attaches facet groups readable via
        Results.groups() (reference search(groupedby=...))."""
        from whoosh_spark.search.results import Results

        if sortedby is not None:
            if terms:
                raise ValueError("terms=True requires scored search "
                                 "(no sortedby)")
            from whoosh_spark.search.sorting import search_sorted

            # filter_q/mask_q apply on the sorted path too: the sort is
            # unscored, so they fold into the match set exactly as
            # Require (must also match) / AndNot (must not match).  Any
            # other kwarg would be silently dropped — refuse instead.
            filter_q = kw.pop("filter_q", None)
            mask_q = kw.pop("mask_q", None)
            if kw:
                raise TypeError(
                    f"unsupported search kwargs with sortedby: {sorted(kw)}")
            qq = q
            if filter_q is not None:
                qq = Q.Require(qq, filter_q)
            if mask_q is not None:
                qq = Q.AndNot(qq, mask_q)
            rows = search_sorted(self, qq, sortedby, limit=limit,
                                 reverse=reverse).select("doc_id").collect()
            res = Results(self, q, [(None, r["doc_id"]) for r in rows],
                          limit=limit)
            return self._attach_groups(res, q, groupedby)
        if groupedby is not None and not terms:
            res = self.search_results(q, limit=limit, **kw)
            return self._attach_groups(res, q, groupedby)
        if terms:
            from whoosh_spark.search.sorting import matched_terms

            rows = matched_terms(self, q, limit=limit, pairs=True,
                                 **kw).collect()
            res = Results(self, q, [(r["score"], r["doc_id"]) for r in rows],
                          limit=limit)
            res._termlists = {
                r["doc_id"]: {(p["field"], p["term"])
                              for p in (r["matched_terms"] or [])}
                for r in rows
            }
            return self._attach_groups(res, q, groupedby)
        rows = self.search(q, limit=limit, **kw).collect()
        return Results(self, q, [(r["score"], r["doc_id"]) for r in rows],
                       limit=limit)

    def _attach_groups(self, res, q: Q.Query, groupedby):
        """Record facet groups on a Results (reference FacetCollector with
        the default OrderedList map: facet value -> ranked doc ids)."""
        if groupedby is None:
            return res
        from whoosh_spark.search.sorting import facet_groups

        names = [groupedby] if isinstance(groupedby, str) else list(groupedby)
        res._groups = {}
        for name in names:
            rows = facet_groups(self, q, name).collect()
            res._groups[name] = {r["value"]: list(r["doc_ids"]) for r in rows}
        return res

    def search_page(self, q: Q.Query, pagenum: int, pagelen: int = 10, **kw):
        """Reference Searcher.search_page (searching.py:587-639): search
        with limit=pagenum*pagelen and slice the requested page."""
        from whoosh_spark.search.results import ResultsPage

        if pagenum < 1:
            raise ValueError("pagenum must be >= 1")
        results = self.search_results(q, limit=pagenum * pagelen, **kw)
        return ResultsPage(results, pagenum, pagelen)

    def search_with_stored(self, q: Q.Query, limit: int | None = 10, **kw) -> DataFrame:
        top = self.search(q, limit=limit, **kw)
        return top.join(self.index.docs(), on="doc_id", how="left").orderBy(
            F.desc("score"), F.asc("doc_id")
        )

    # ------------------------------------------- reader/browse conveniences
    # reference IndexReader/Searcher surface (reading.py:244-568,
    # searching.py:336-440) over search/browse.py DataFrame queries

    def lexicon(self, fieldname: str) -> list[str]:
        from whoosh_spark.search import browse

        return browse.lexicon(self.index, fieldname)

    def expand_prefix(self, fieldname: str, prefix: str) -> list[str]:
        from whoosh_spark.search import browse

        return browse.expand_prefix(self.index, fieldname, prefix)

    def frequency(self, fieldname: str, text: str) -> float:
        from whoosh_spark.search import browse

        return browse.frequency(self.index, fieldname, text)

    def doc_frequency(self, fieldname: str, text: str) -> int:
        from whoosh_spark.search import browse

        return browse.doc_frequency(self.index, fieldname, text)

    def most_frequent_terms(self, fieldname: str, number: int = 5,
                            prefix: str = ""):
        from whoosh_spark.search import browse

        return browse.most_frequent_terms(self.index, fieldname, number,
                                          prefix)

    def most_distinctive_terms(self, fieldname: str, number: int = 5,
                               prefix: str = ""):
        from whoosh_spark.search import browse

        return browse.most_distinctive_terms(self.index, fieldname, number,
                                             prefix)

    def doc_count(self) -> int:
        return self.index.doc_count()

    def doc_count_all(self) -> int:
        return self.index.doc_count_all()

    def document(self, **kw):
        from whoosh_spark.search import browse

        return browse.document(self, **kw)

    def documents(self, **kw):
        from whoosh_spark.search import browse

        return browse.documents(self, **kw)

    def document_number(self, **kw):
        from whoosh_spark.search import browse

        return browse.document_number(self, **kw)

    def document_numbers(self, **kw):
        from whoosh_spark.search import browse

        return browse.document_numbers(self, **kw)

    # ---- reference Searcher convenience surface (searching.py:236-585):
    # thin delegates so a switching user finds the same method names

    def reader(self) -> Index:
        return self.index

    def __contains__(self, term: tuple) -> bool:
        """``("content", "wobble") in searcher`` — reference
        searching.py:236-244 delegates to the reader's term check."""
        fieldname, text = term
        return self.doc_frequency(fieldname, text) > 0

    def is_empty(self) -> bool:
        return self.index.is_empty()

    def up_to_date(self) -> bool:
        return self.index.up_to_date()

    def refresh(self) -> "Searcher":
        """Reload the underlying index if it advanced (reference
        searching.py:302-320; in-place rather than a new object)."""
        if not self.index.up_to_date():
            self.index.reload()
            self.schema = self.index.schema
            self.clear_cache()
        return self

    def avg_field_length(self, fieldname: str, default: float | None = None) -> float:
        if fieldname not in self.schema or not self.schema[fieldname].scorable:
            return default
        return self.index.avg_field_length(fieldname)

    def field_length(self, fieldname: str) -> int:
        return self.index.manifest.field_length(fieldname)

    def docs_for_query(self, q: Q.Query) -> DataFrame:
        """Ids of every matching document (reference searching.py:650-664),
        as a DataFrame(doc_id) — stays distributed, unlike document_numbers."""
        return self.matches(q).select("doc_id")

    def suggest(self, fieldname: str, text: str, limit: int = 5,
                maxdist: int = 2, prefix: int = 0) -> list[str]:
        from whoosh_spark.search import spelling

        return spelling.suggest(self.index, fieldname, text, limit=limit,
                                maxdist=maxdist, prefix=prefix)

    def correct_query(self, q, qstring: str | None = None,
                      default_field: str | None = None,
                      maxdist: int = 2, prefix: int = 0):
        """Reference-shaped: pass a Query (+ optional original string) and
        get a Correction with .query/.string (searching.py:820-905). A bare
        string still works and returns the corrected string only."""
        from whoosh_spark.search import spelling

        if isinstance(q, str):
            return spelling.correct_query_string(self.index, q,
                                                 default_field or "content",
                                                 maxdist=maxdist,
                                                 prefix=prefix)
        return spelling.correct_query(self.index, q, qstring, default_field,
                                      maxdist=maxdist, prefix=prefix)

    def key_terms(self, docnums, fieldname: str, numterms: int = 5,
                  model: str = "bo1") -> list[tuple[str, float]]:
        from whoosh_spark.search import classify

        return classify.key_terms(self, fieldname, list(docnums),
                                  numterms=numterms, model=model)

    def key_terms_from_text(self, fieldname: str, text: str,
                            numterms: int = 5,
                            model: str = "bo1") -> list[tuple[str, float]]:
        from whoosh_spark.search import classify

        return classify.expanded_terms(self.index, fieldname, [text],
                                       numterms=numterms, model=model)

    def more_like(self, docnum: int, fieldname: str, text: str | None = None,
                  top: int = 10, numterms: int = 5,
                  model: str = "bo1") -> DataFrame:
        """Documents similar to the given document, source doc masked out
        (reference searching.py:543-585)."""
        if text is not None:
            kts = self.key_terms_from_text(fieldname, text,
                                           numterms=numterms, model=model)
        else:
            kts = self.key_terms([docnum], fieldname,
                                 numterms=numterms, model=model)
        if not kts:
            return self.index.spark.createDataFrame(
                [], "doc_id long, score double")
        q = Q.Or([Q.Term(fieldname, word, boost=weight)
                  for word, weight in kts])
        out = self.search(q, limit=None if top is None else top + 1)
        out = out.filter(F.col("doc_id") != docnum)
        if top is not None:
            out = out.orderBy(F.desc("score"), F.asc("doc_id")).limit(top)
        return out

    def matches(self, q: Q.Query, filter_q: Q.Query | None = None,
                mask_q: Q.Query | None = None) -> DataFrame:
        """All matches, unsorted: DataFrame(doc_id, score)."""
        plan = _PlanContext(self)
        out = plan.compile_root(q)
        if filter_q is not None:
            allow = plan.compile_root(filter_q).select("doc_id")
            out = out.join(allow, on="doc_id", how="left_semi")
        if mask_q is not None:
            deny = plan.compile_root(mask_q).select("doc_id")
            out = out.join(deny, on="doc_id", how="left_anti")
        if getattr(self.weighting, "use_final", False):
            # reference final() hook (scoring.py:69-85): post-process each
            # doc's accumulated score
            out = out.select(
                "doc_id",
                self.weighting.final_col(F.col("doc_id"), F.col("score")).alias("score"),
            )
        return out

    def clear_cache(self):
        for df in self._persisted:
            try:
                df.unpersist()
            except Exception:
                pass
        self._persisted = []

    # context manager: `with ix.searcher() as s:` (reference
    # searching.py:323-334 — close() releases cached resources)
    close = clear_cache

    def __enter__(self) -> "Searcher":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self.clear_cache()

    # ---------------------------------------------------------------- stats

    def idf(self, doc_count_all: int, df: int) -> float:
        return self.weighting.idf(doc_count_all, df)


def _wand_terms(q: Q.Query):
    """([(field, term, boost)], boost) when q is a Term or a flat Or of
    Terms, else None. WAND's bounds assume every contribution is >= 0, so
    a negative term or Or boost declines too (the exact route answers)."""
    if isinstance(q, Q.Term):
        terms, boost = [q], 1.0
    elif (isinstance(q, Q.Or) and q.minmatch == 0 and q.scale is None
          and all(isinstance(c, Q.Term) for c in q.subqueries)):
        terms, boost = q.subqueries, q.boost
    else:
        return None
    if boost < 0 or any(c.boost < 0 for c in terms):
        return None
    return [(c.field, c.text, c.boost) for c in terms], boost


class _PlanContext:
    """Per-query planning state: resolved multiterms, collected term stats,
    the scored posting base, and the positional base for phrases."""

    def __init__(self, searcher: Searcher):
        self.s = searcher
        self.ix = searcher.index
        self.spark = self.ix.spark

    # -------------------------------------------------------------- prepare

    def prepare(self, q: Q.Query) -> Q.Query:
        """Expand multiterms, collect stats, build scored bases.

        NOTE: deliberately does NOT call q.normalize() — the reference
        searcher evaluates the query tree as given (searching.py:731-787
        goes straight to q.matcher()), so duplicate subqueries score
        multiple times and nesting shapes the float addition order.
        normalize() remains available to users and is applied by the query
        parser, exactly like the reference."""
        q = self._resolve_multiterms(q)
        if isinstance(q, Q._NullQuery):
            self.stats = {}
            self.stats_view = _Stats({}, self.ix.doc_count_all())
            self.base = self.pos_base = None
            return q

        # collect leaf terms, split plain vs positional (phrase) usage
        plain: set[tuple[str, str]] = set()
        positional: set[tuple[str, str]] = set()
        self._collect_terms(q, plain, positional)
        all_terms = plain | positional

        self.stats = {}
        for field in {f for f, _ in all_terms}:
            terms = [t for f, t in all_terms if f == field]
            for t, row in self.ix.term_stats(field, terms).items():
                self.stats[(field, t)] = row
        self.stats_view = _Stats(self.stats, self.ix.doc_count_all())

        # conjunctive chunk-intersection skip (reference IntersectionMatcher
        # skip_to analog): when the ROOT query requires every collected term
        # in every match (And-of-Terms, Phrase), restrict the decoded base
        # to doc-id chunks where all terms have blocks — exact for any
        # scoring mode, and at scale it turns And(rare, hot) from a full
        # hot-list decode into ~df(rare)/N of one.
        conj = self._conjunctive_root(q) if self.s.conjunctive_skip else None
        all_set = plain | positional
        # pruning is exact only when the root requires EVERY collected term
        conj = conj if conj == all_set else None
        self.base = self._scored_base(
            all_set, with_positions=False, chunk_terms=conj
        )
        self.pos_base = (
            # positions decode only for the positional terms, but the chunk
            # restriction may use the full required set (And([Phrase, Term]))
            self._scored_base(positional, with_positions=True, chunk_terms=conj)
            if positional
            else None
        )
        return q

    @classmethod
    def _conjunctive_root(cls, q: Q.Query) -> set | None:
        """(field, term) set the root query REQUIRES in every match, or
        None when no such set exists (disjunctive / complex shapes).
        Covers every shape whose matches must contain ALL the collected
        terms: Term, Phrase (incl. Ordered), SpanNear/SpanNear2/Sequence
        over such shapes, Require over them, and And of any mix — e.g. the
        parser's `"foo bar" baz` => And([Phrase, Term]) prunes on all
        three terms' shared chunks."""
        from whoosh_spark.query import spans as S

        if isinstance(q, Q.Term):
            return {(q.field, q.text)}
        if isinstance(q, Q.Phrase) and q.words:  # Ordered subclasses Phrase
            return {(q.field, w) for w in q.words}
        subs = None
        if isinstance(q, Q.And):
            subs = q.subqueries
        elif isinstance(q, S.SpanNear2):
            subs = q.qs
        elif isinstance(q, (S.SpanNear, Q.Require)):
            subs = [q.a, q.b]
        if subs:
            parts = [cls._conjunctive_root(c) for c in subs]
            if all(p is not None for p in parts):
                out: set = set()
                for p in parts:
                    out |= p
                return out
        return None

    def compile_root(self, q: Q.Query) -> DataFrame:
        q = self.prepare(q)
        if isinstance(q, Q._NullQuery):
            return self._empty()
        if self.s.exact_scores:
            # single-aggregation compile for term-leaf trees: the pairwise
            # join chain below re-derives the decode subtree once per
            # reference (42 Exchanges for And-of-3 measured), while one
            # conditional aggregation over the shared scored base needs ONE
            # exchange and reproduces the identical float-op order as
            # explicit expressions (see _expr_compile_root)
            df = self._expr_compile_root(q)
            if df is not None:
                return df
        self.ensure_persisted()
        c = self._compile(q)
        if c.negated:
            # standalone Not: complement with constant score 1.0
            return self._complement(c.df)
        return c.df

    # ------------------------------------- single-aggregation expr compile

    def _expr_compile_root(self, q: Q.Query) -> DataFrame | None:
        """Compile a term-leaf query tree to ONE conditional aggregation.

        The generic path builds a DataFrame per node and combines them with
        joins — N-1 shuffles and a duplicated decode subtree per reference
        of the shared base. But every supported node's semantics are a
        per-doc function of which leaf terms matched and their scores, so
        the whole tree folds into expressions over one
        ``base.groupBy(doc_id)`` with a score and presence aggregate per
        (field, term): one exchange, map-side partial aggregation, no
        duplicated decode. The expressions mirror the join plan's float ops
        verbatim (same huffman/fold orders, same coalesce-to-0.0 /
        greatest(-inf) identities), so results are bit-identical — asserted
        by tests/test_search_differential + the fuzz campaign.

        Phrase leaves are supported too: their positions aggregate from the
        positional base (max-of-one array per (doc, word)) and the
        adjacency / span-chain check becomes a per-row expression (or
        pandas UDF for slop>1) over those array columns — replacing the
        old per-word positional join chain (56 Exchanges measured for a
        2-word phrase, now one or two aggregations).

        Returns None when the tree has other non-term leaves (Span/Every/
        multiterm-docs/Otherwise/...) or needs the doc universe
        (complemented Not), leaving those on the generic plan."""
        plain_pairs: set = set()
        pos_pairs: set = set()
        try:
            self._expr_collect(q, plain_pairs, pos_pairs)
        except _NotExpr:
            return None
        if len(plain_pairs | pos_pairs) < 2 and not pos_pairs:
            return None  # bare Term plans are already single-scan
        base_pairs = sorted(plain_pairs - pos_pairs)
        if (base_pairs and self.base is None) or (pos_pairs and self.pos_base is None):
            return None
        cols: dict[tuple[str, str], tuple] = {}
        pcols: dict[tuple[str, str], "F.Column"] = {}
        idx = 0
        g = None
        if base_pairs:
            aggs = []
            for f, t in base_pairs:
                cond = (F.col("field") == f) & (F.col("term") == t)
                aggs.append(F.max(F.when(cond, F.col("score"))).alias(f"_s{idx}"))
                aggs.append(F.max(F.when(cond, F.lit(1))).alias(f"_p{idx}"))
                cols[(f, t)] = (F.col(f"_s{idx}"), F.col(f"_p{idx}").isNotNull())
                idx += 1
            g = self.base.groupBy("doc_id").agg(*aggs)
        if pos_pairs:
            paggs = []
            for f, t in sorted(pos_pairs):
                cond = (F.col("field") == f) & (F.col("term") == t)
                paggs.append(F.max(F.when(cond, F.col("score"))).alias(f"_s{idx}"))
                paggs.append(F.max(F.when(cond, F.lit(1))).alias(f"_p{idx}"))
                paggs.append(F.max(F.when(cond, F.col("positions"))).alias(f"_q{idx}"))
                cols[(f, t)] = (F.col(f"_s{idx}"), F.col(f"_p{idx}").isNotNull())
                pcols[(f, t)] = F.col(f"_q{idx}")
                idx += 1
            gp = self.pos_base.groupBy("doc_id").agg(*paggs)
            g = gp if g is None else g.join(gp, on="doc_id", how="full_outer")
        try:
            c = self._expr(q, cols, pcols)
        except _NotExpr:
            return None
        if c.negated:
            return None  # standalone Not needs the complement universe
        return g.filter(c.present).select("doc_id", c.score.alias("score"))

    def _expr_collect(self, q: Q.Query, plain: set, pos: set) -> None:
        """Collect leaf (field, term) pairs of an expression-compilable
        tree into plain/positional sets; raises _NotExpr on any
        unsupported node."""
        if isinstance(q, Q.Term):
            plain.add((q.field, q.text))
            return
        if isinstance(q, Q._NullQuery):
            return
        if isinstance(q, Q.Phrase):
            if not q.words:
                raise _NotExpr
            pos.update((q.field, w) for w in q.words)
            return
        if isinstance(q, Q.Or) and q.scale is not None:
            raise _NotExpr  # CoordMatcher path — keep on the generic plan
        if isinstance(q, Q.Otherwise):
            raise _NotExpr  # needs an eager emptiness check
        if isinstance(q, (Q.And, Q.Or, Q.DisjunctionMax)):
            for c in q.subqueries:
                self._expr_collect(c, plain, pos)
            return
        if isinstance(q, (Q.AndNot, Q.Require, Q.AndMaybe)):
            self._expr_collect(q.a, plain, pos)
            self._expr_collect(q.b, plain, pos)
            return
        if isinstance(q, Q.Not):
            self._expr_collect(q.query, plain, pos)
            return
        if isinstance(q, Q.ConstantScore):
            self._expr_collect(q.child, plain, pos)
            return
        raise _NotExpr

    def _expr_boost(self, c: _ExprC, boost: float) -> _ExprC:
        if boost == 1.0:
            return c
        return _ExprC(c.score * F.lit(float(boost)), c.present, c.negated)

    def _expr(self, q: Q.Query, cols: dict, pcols: dict) -> _ExprC:
        if isinstance(q, Q._NullQuery):
            return _ExprC(F.lit(0.0), F.lit(False))
        if isinstance(q, Q.Term):
            if (q.field, q.text) not in self.stats:
                return _ExprC(F.lit(0.0), F.lit(False))
            s, p = cols[(q.field, q.text)]
            score = s if q.boost == 1.0 else s * F.lit(float(q.boost))
            return _ExprC(score, p)
        if isinstance(q, Q.And):
            return self._expr_and(q, cols, pcols)
        if isinstance(q, Q.Or):
            return self._expr_or(q, cols, pcols)
        if isinstance(q, Q.DisjunctionMax):
            return self._expr_dismax(q, cols, pcols)
        if isinstance(q, Q.Not):
            inner = self._expr(q.query, cols, pcols)
            if inner.negated:
                raise _NotExpr  # double-Not complement needs the universe
            return _ExprC(inner.score, inner.present, negated=True)
        if isinstance(q, Q.AndNot):
            a, b = (self._expr_realized(q.a, cols, pcols),
                    self._expr_realized(q.b, cols, pcols))
            return self._expr_boost(_ExprC(a.score, a.present & ~b.present), q.boost)
        if isinstance(q, Q.Require):
            a, b = (self._expr_realized(q.a, cols, pcols),
                    self._expr_realized(q.b, cols, pcols))
            return self._expr_boost(_ExprC(a.score, a.present & b.present), q.boost)
        if isinstance(q, Q.AndMaybe):
            a, b = (self._expr_realized(q.a, cols, pcols),
                    self._expr_realized(q.b, cols, pcols))
            # left join: score = _sl when _sr missing else _sl + _sr
            score = F.when(b.present, a.score + b.score).otherwise(a.score)
            return self._expr_boost(_ExprC(score, a.present), q.boost)
        if isinstance(q, Q.ConstantScore):
            child = self._expr_realized(q.child, cols, pcols)
            return self._expr_boost(
                _ExprC(F.lit(float(q.score)), child.present), q.boost)
        if isinstance(q, Q.Phrase):
            return self._expr_phrase(q, cols, pcols)
        raise _NotExpr

    def _expr_phrase(self, q: Q.Phrase, cols: dict, pcols: dict) -> _ExprC:
        """_compile_phrase's positional join chain as expressions over the
        per-word aggregated position arrays: same adjacency / span-chain
        predicates, same order-preserving binary-tree score sum."""
        words = q.words
        for w in words:
            if (q.field, w) not in self.stats:
                return _ExprC(F.lit(0.0), F.lit(False))
        present = None
        for w in words:
            _, p = cols[(q.field, w)]
            present = p if present is None else (present & p)
        qs = [pcols[(q.field, w)] for w in words]
        if len(words) == 1:
            matched = present
        elif q.slop == 1:
            # slop=1 ordered adjacency: exists p in pos0 with p+i in pos_i
            # (same degenerate form as the join plan's JVM expression)
            def adjacent(start_col):
                conds = [F.array_contains(qs[i], start_col + F.lit(i))
                         for i in range(1, len(qs))]
                out = conds[0]
                for c in conds[1:]:
                    out = out & c
                return out

            matched = present & F.exists(qs[0], adjacent)
        else:
            slop = q.slop

            @pandas_udf(T.BooleanType())
            def span_chain(*pcs: pd.Series) -> pd.Series:
                out = []
                n_rows = len(pcs[0])
                for ri in range(n_rows):
                    poslists = [
                        list(c.iloc[ri]) if c.iloc[ri] is not None else []
                        for c in pcs
                    ]
                    out.append(_span_near_chain(poslists, slop, True, 1))
                return pd.Series(out)

            matched = present & span_chain(*qs)

        # score: sum of word term-scores over the order-preserving binary
        # tree (same shape as tree_score / SpanNear2Matcher)
        def tree(lo: int, hi: int):
            if hi - lo == 1:
                s, _ = cols[(q.field, words[lo])]
                return s
            half = (hi - lo) // 2
            return tree(lo, lo + half) + tree(lo + half, hi)

        return self._expr_boost(_ExprC(tree(0, len(words)), matched), q.boost)

    def _expr_realized(self, q: Q.Query, cols: dict, pcols: dict) -> _ExprC:
        c = self._expr(q, cols, pcols)
        if c.negated:
            raise _NotExpr  # _realize would complement against the universe
        return c

    def _expr_and(self, q: Q.And, cols: dict, pcols: dict) -> _ExprC:
        subs = q.subqueries
        if not subs:
            return _ExprC(F.lit(0.0), F.lit(False))
        compiled = [self._expr(c, cols, pcols) for c in subs]
        ests = [c.estimate_size(self.stats_view) for c in subs]
        # same huffman merge as _compile_and (weight = -estimate_size)
        items: list[tuple[float, int, _ExprC]] = []
        seq = 0
        for est, c in zip(ests, compiled):
            items.append((float(0 - est), seq, c))
            seq += 1
        items.sort(key=lambda t: (t[0], t[1]))
        while len(items) > 1:
            wa, _, ca = items.pop(0)
            wb, _, cb = items.pop(0)
            merged = self._expr_intersect(ca, cb)
            seq += 1
            entry = (wa + wb, seq, merged)
            lo = 0
            while lo < len(items) and items[lo][0] <= entry[0]:
                lo += 1
            items.insert(lo, entry)
        c = items[0][2]
        if c.negated:
            raise _NotExpr
        return self._expr_boost(c, q.boost)

    @staticmethod
    def _expr_intersect(a: _ExprC, b: _ExprC) -> _ExprC:
        """_intersect's join arithmetic as expressions (InverseMatcher's
        constant 1.0 for Not children)."""
        if a.negated and b.negated:
            raise _NotExpr  # And of two Nots matches term-free docs
        if b.negated:
            return _ExprC(a.score + F.lit(1.0), a.present & ~b.present)
        if a.negated:
            return _ExprC(F.lit(1.0) + b.score, b.present & ~a.present)
        return _ExprC(a.score + b.score, a.present & b.present)

    def _expr_or(self, q: Q.Or, cols: dict, pcols: dict) -> _ExprC:
        if not q.subqueries:
            return _ExprC(F.lit(0.0), F.lit(False))
        if q.scale is not None:
            raise _NotExpr
        compiled = [self._expr_realized(c, cols, pcols) for c in q.subqueries]
        # ArrayUnionMatcher left fold: coalesce-to-0.0 per side, original
        # child order (0.0 + s == s exactly for finite BM25 scores)
        contribs = [F.when(c.present, c.score).otherwise(F.lit(0.0))
                    for c in compiled]
        score = contribs[0]
        for cb in contribs[1:]:
            score = score + cb
        present = compiled[0].present
        for c in compiled[1:]:
            present = present | c.present
        if q.minmatch:
            n = F.lit(0)
            for c in compiled:
                n = n + F.when(c.present, F.lit(1)).otherwise(F.lit(0))
            present = present & (n >= F.lit(int(q.minmatch)))
        return self._expr_boost(_ExprC(score, present), q.boost)

    def _expr_dismax(self, q: Q.DisjunctionMax, cols: dict, pcols: dict) -> _ExprC:
        if not q.subqueries:
            return _ExprC(F.lit(0.0), F.lit(False))
        compiled = [self._expr_realized(c, cols, pcols) for c in q.subqueries]
        # greatest(coalesce(., -inf)) pairwise fold, as _compile_dismax
        acc_s = F.when(compiled[0].present, compiled[0].score)
        acc_p = compiled[0].present
        for c in compiled[1:]:
            cs = F.when(c.present, c.score)
            acc_s = F.greatest(F.coalesce(acc_s, F.lit(NEG_INF)),
                               F.coalesce(cs, F.lit(NEG_INF)))
            acc_p = acc_p | c.present
        return self._expr_boost(_ExprC(acc_s, acc_p), q.boost)

    def _resolve_multiterms(self, q: Q.Query, in_span: bool = False) -> Q.Query:
        """Resolve Prefix/Wildcard/Regex/FuzzyTerm/TermRange.

        Constant-score multiterms (the reference default for pattern/range
        queries) stay fully DISTRIBUTED: only a 1-row aggregate of the
        filtered lexicon (match count + summed df + the single term when
        count==1) ever reaches the driver — the doc set itself is computed
        by pushing the term predicate into the posting-block scan
        (_compile_multiterm_docs). 0-term and 1-term expansions keep the
        reference's Null / scored-Term special cases (terms.py:173-191).

        Scored multiterms (FuzzyTerm, constantscore=False) need per-term idf,
        so they expand to Or-of-Terms — capped at Searcher.max_expansion
        (fail loudly, Lucene-clause-limit style) since a scored expansion is
        inherently a per-term plan."""
        if isinstance(q, Q.MultiTerm):
            # job-free fast path: a small-lexicon field's full stats are
            # already cached on the driver (catalog.py prefetch) — evaluate
            # the predicate over the cache instead of launching a job
            cached = None
            if q.field in getattr(self.ix, "_complete_fields", set()):
                cached = [
                    (t, row) for (f, t), row in self.ix._term_stats_cache.items()
                    if f == q.field and row is not None and q.term_predicate(t)
                ]
            lex = self.ix.field_terms(q.field)
            flt = q.spark_term_filter()
            if flt is not None:
                lex = lex.filter(flt)
            lex = lex.filter(q.spark_exact_predicate())
            if q.constantscore and in_span:
                # span context needs POSITIONS, so the ids-only doc-set plan
                # is out: expand to terms and wrap with the constant score
                # (reference: the multiterm matcher's spans come from its
                # per-term union, score from ConstantScoreMatcher)
                if cached is not None:
                    terms = sorted(t for t, _ in cached)
                else:
                    cap = self.s.max_expansion
                    rows = lex.select("term").orderBy("term").limit(cap + 1).collect()
                    terms = [r["term"] for r in rows]
                    if len(terms) > cap:
                        raise ValueError(
                            f"{type(q).__name__} inside a span query expands to "
                            f"more than max_expansion={cap} terms"
                        )
                if not terms:
                    return Q.NullQuery
                if len(terms) == 1:
                    return Q.Term(q.field, terms[0], boost=q.boost)
                return Q.ConstantScore(Q.Or([Q.Term(q.field, t) for t in terms]), 1.0)
            if q.constantscore:
                if cached is not None:
                    n = len(cached)
                    est = sum(int(r["df"]) for _, r in cached)
                    t0 = min((t for t, _ in cached), default=None)
                else:
                    row = lex.agg(
                        F.count("*").alias("n"),
                        F.sum("df").alias("est"),
                        F.min("term").alias("t0"),
                    ).collect()[0]
                    n, est, t0 = row["n"], row["est"], row["t0"]
                if n == 0:
                    return Q.NullQuery
                if n == 1:
                    return Q.Term(q.field, t0, boost=q.boost)
                return Q._MultiTermDocs(q, est=int(est))
            if cached is not None:
                cap = self.s.max_expansion
                terms = sorted(t for t, _ in cached)
                if len(terms) > cap:
                    raise ValueError(
                        f"{type(q).__name__} on field {q.field!r} expands to "
                        f"more than max_expansion={cap} terms"
                    )
                if not terms:
                    return Q.NullQuery
                if len(terms) == 1:
                    return Q.Term(q.field, terms[0], boost=q.boost)
                return Q.Or([Q.Term(q.field, t) for t in terms], boost=q.boost)
            cap = self.s.max_expansion
            rows = lex.select("term").orderBy("term").limit(cap + 1).collect()
            terms = [r["term"] for r in rows]
            if len(terms) > cap:
                raise ValueError(
                    f"{type(q).__name__} on field {q.field!r} expands to more "
                    f"than max_expansion={cap} terms; narrow the pattern or "
                    f"raise Searcher(max_expansion=...)"
                )
            if not terms:
                return Q.NullQuery
            if len(terms) == 1:
                return Q.Term(q.field, terms[0], boost=q.boost)
            return Q.Or([Q.Term(q.field, t) for t in terms], boost=q.boost)
        # recurse
        if isinstance(q, Q.CompoundQuery):
            return q._rebuild([self._resolve_multiterms(c, in_span) for c in q.subqueries])
        if isinstance(q, Q.Not):
            return Q.Not(self._resolve_multiterms(q.query, in_span), boost=q.boost)
        if isinstance(q, Q.BinaryQuery):
            return type(q)(
                self._resolve_multiterms(q.a, in_span),
                self._resolve_multiterms(q.b, in_span), boost=q.boost
            )
        if isinstance(q, Q.ConstantScore):
            return Q.ConstantScore(self._resolve_multiterms(q.child, in_span), q.score, boost=q.boost)
        from whoosh_spark.query import spans as SQ

        if isinstance(q, SQ.SpanNear2):  # incl. Sequence
            import copy as _copy

            clone = _copy.copy(q)
            clone.qs = [self._resolve_multiterms(c, True) for c in q.qs]
            return clone
        if isinstance(q, SQ.SpanOr):
            import copy as _copy

            clone = _copy.copy(q)
            clone.subqs = [self._resolve_multiterms(c, True) for c in q.subqs]
            return clone
        if isinstance(q, SQ.SpanFirst):
            import copy as _copy

            clone = _copy.copy(q)
            clone.q = self._resolve_multiterms(q.q, True)
            return clone
        if isinstance(q, (SQ.SpanNear, SQ._SpanBi)):
            import copy as _copy

            clone = _copy.copy(q)
            clone.a = self._resolve_multiterms(q.a, True)
            clone.b = self._resolve_multiterms(q.b, True)
            return clone
        return q

    def _collect_terms(self, q: Q.Query, plain: set, positional: set,
                       in_span: bool = False):
        from whoosh_spark.query import spans as SQ

        if isinstance(q, Q.Term):
            plain.add((q.field, q.text))
            if in_span:
                positional.add((q.field, q.text))
        elif isinstance(q, Q.Phrase):
            for w in q.words:
                positional.add((q.field, w))
                plain.add((q.field, w))
        elif isinstance(q, SQ.SpanQuery):
            for c in q.children():
                self._collect_terms(c, plain, positional, in_span=True)
        else:
            for c in q.children():
                self._collect_terms(c, plain, positional, in_span=in_span)

    # ---------------------------------------------------- scored base build

    #: per-(field, term) scoring constants of ``score_meta`` rows
    SCORE_META_SCHEMA = T.StructType(
        [
            T.StructField("field", T.StringType()),
            T.StructField("term", T.StringType()),
            T.StructField("idf", T.DoubleType()),
            T.StructField("avgfl", T.DoubleType()),
            T.StructField("b", T.DoubleType()),
            T.StructField("one_minus_b", T.DoubleType()),
            T.StructField("fboost", T.DoubleType()),
            T.StructField("scorable", T.BooleanType()),
            T.StructField("cf", T.DoubleType()),
            T.StructField("fl_total", T.DoubleType()),
            T.StructField("dc", T.DoubleType()),
        ]
    )

    def score_meta(self, terms: list[tuple[str, str]]) -> list[dict]:
        """One ``SCORE_META_SCHEMA`` row per (field, term): the driver-
        computed constants ``score_col`` reads (idf/avgfl literals,
        reference op order)."""
        dc = self.ix.doc_count_all()
        meta_rows = []
        for (field, term), c in term_constants(
                self.s, self.stats, sorted(set(terms))).items():
            st = self.stats.get((field, term))
            meta_rows.append(
                {
                    "field": field,
                    "term": term,
                    "idf": c["idf"],
                    "avgfl": c["avgfl"],
                    "b": c["B"],
                    "one_minus_b": 1 - c["B"],
                    "fboost": c["fboost"],
                    "scorable": c["scorable"],
                    # DFR-model statistics (cf: collection term frequency,
                    # fl_total: total field length, dc: doc_count_all)
                    "cf": float(st["total_tf"]) if st else 0.0,
                    "fl_total": float(self.ix.manifest.field_length(field)),
                    "dc": float(dc),
                }
            )
        return meta_rows

    def score_col(self, terms: list[tuple[str, str]]) -> "F.Column":
        """The posting score over decoded columns (``weight``, ``fl``,
        ``field``) joined with ``score_meta`` columns."""
        w = self.s.weighting
        # decoded `weight` is the token-boost sum (== tf unless the field's
        # analyzer carries delimited boosts); reference Frequency-format
        # weight semantics (formats.py:162-263)
        weight = F.col("weight") * F.col("fboost")
        fl = F.col("fl").cast("double")  # dequantized in the decode kernel
        score_args = (
            weight, fl, F.col("idf"), F.col("avgfl"), F.col("b"),
            F.col("one_minus_b"), F.col("scorable"),
        )
        score_kw = dict(cf_col=F.col("cf"), fl_total_col=F.col("fl_total"),
                        dc_col=F.col("dc"))
        if isinstance(w, MultiWeighting):
            # CASE chain only over the few OVERRIDDEN fields present (the
            # reverted O(n_terms) literal-CASE issue doesn't apply: this is
            # O(n_overridden_fields), typically 1-2)
            return w.score_col_dispatch(
                F.col("field"), sorted({f for f, _ in terms}), *score_args, **score_kw
            )
        return w.score_col(*score_args, **score_kw)

    def attach_scores(self, decoded: DataFrame, terms: list[tuple[str, str]],
                      keep_positions: bool = False, extra_cols: list[str] | None = None) -> DataFrame:
        """Join decoded postings with a broadcast per-term stats frame
        (``score_meta``) and evaluate ``score_col``."""
        # NOTE: inlining these constants as per-row literal CASE chains was
        # tried and REVERTED — it re-evaluates an O(n_terms) string-compare
        # chain per decoded posting row, which collapsed the 500-query batch
        # workload from 157s to 950s at 16 cores. The broadcast hash join is
        # O(1) per row and its exchange job is negligible.
        # pandas -> Arrow LocalRelation: a plain-list createDataFrame goes
        # through RDD parallelize and costs ~0.5s of py4j round-trips per
        # query (see spark_rows_df)
        schema = self.SCORE_META_SCHEMA
        meta_pdf = pd.DataFrame(self.score_meta(terms))[[f.name for f in schema.fields]]
        meta = self.spark.createDataFrame(meta_pdf, schema=schema)
        joined = decoded.join(F.broadcast(meta), on=["field", "term"])
        cols = ["field", "term", "doc_id"]
        if keep_positions:
            cols.append("positions")
        if extra_cols:
            cols.extend(extra_cols)
        return joined.select(*cols, self.score_col(terms).alias("score"))

    def _scored_base(self, terms: set[tuple[str, str]], with_positions: bool,
                     chunk_terms: set | None = None) -> DataFrame | None:
        """One decoded+scored DataFrame covering every query term:
        (field, term, doc_id, score[, positions]). ``chunk_terms`` (a
        superset of ``terms`` the root query REQUIRES in every match)
        activates the conjunctive skip — blocks outside the required
        terms' shared doc-id chunks are dropped before decode (exact)."""
        if not terms:
            return None
        by_field: dict[str, list[str]] = {}
        for field, term in sorted(terms):
            by_field.setdefault(field, []).append(term)
        if chunk_terms and len(chunk_terms) > 1:
            decoded = self.ix.postings_for_conjunction(
                by_field, with_positions=with_positions, chunk_terms=chunk_terms
            )
        else:
            parts = []
            for field, ts in by_field.items():
                parts.append(self.ix.postings_for(field, ts, with_positions=with_positions))
            decoded = parts[0]
            for p in parts[1:]:
                decoded = decoded.unionByName(p)
        return self.attach_scores(decoded, sorted(terms), keep_positions=with_positions)

    def ensure_persisted(self) -> None:
        """Persist the shared bases for plans that reference them more
        than once (the generic join path, WAND seeds, sorted search).
        Deliberately NOT called before the single-aggregation expression
        path: it reads each base exactly once, so caching would only add
        the materialization cost."""
        if not self.s.cache_postings or getattr(self, "_bases_persisted", False):
            return
        self._bases_persisted = True
        if self.base is not None:
            self.base = self.base.persist()
            self.s._persisted.append(self.base)
        if self.pos_base is not None:
            self.pos_base = self.pos_base.persist()
            self.s._persisted.append(self.pos_base)

    # ------------------------------------------------------------- compile

    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame(
            [], T.StructType([T.StructField("doc_id", T.LongType()), T.StructField("score", T.DoubleType())])
        )

    def _all_docs(self) -> DataFrame:
        return self.ix.docs().select("doc_id")

    def _complement(self, matched: DataFrame) -> DataFrame:
        return (
            self._all_docs()
            .join(matched.select("doc_id"), on="doc_id", how="left_anti")
            .withColumn("score", F.lit(1.0))
        )

    def _boosted(self, df: DataFrame, boost: float) -> DataFrame:
        if boost == 1.0:
            return df
        return df.withColumn("score", F.col("score") * F.lit(float(boost)))

    def _compile(self, q: Q.Query) -> _Compiled:
        if isinstance(q, Q._NullQuery):
            return _Compiled(self._empty())
        if isinstance(q, Q.Term):
            return _Compiled(self._compile_term(q))
        if isinstance(q, Q.And):
            return _Compiled(self._compile_and(q))
        if isinstance(q, Q.Or):
            return _Compiled(self._compile_or(q))
        if isinstance(q, Q.DisjunctionMax):
            return _Compiled(self._compile_dismax(q))
        if isinstance(q, Q.Not):
            inner = self._compile(q.query)
            df = self._complement(inner.df) if inner.negated else inner.df
            return _Compiled(df, negated=True)
        if isinstance(q, Q.AndNot):
            a = self._realize(self._compile(q.a))
            b = self._realize(self._compile(q.b))
            return _Compiled(self._boosted(a.join(b.select("doc_id"), "doc_id", "left_anti"), q.boost))
        if isinstance(q, Q.Require):
            a = self._realize(self._compile(q.a))
            b = self._realize(self._compile(q.b))
            return _Compiled(self._boosted(a.join(b.select("doc_id"), "doc_id", "left_semi"), q.boost))
        if isinstance(q, Q.AndMaybe):
            return _Compiled(self._compile_andmaybe(q))
        if isinstance(q, Q.Otherwise):
            a = self._realize(self._compile(q.a))
            if a.limit(1).count() > 0:
                return _Compiled(self._boosted(a, q.boost))
            return _Compiled(self._boosted(self._realize(self._compile(q.b)), q.boost))
        if isinstance(q, Q.Phrase):
            return _Compiled(self._compile_phrase(q))
        if isinstance(q, Q.Every):
            return _Compiled(self._compile_every(q))
        if isinstance(q, Q.ConstantScore):
            child = self._realize(self._compile(q.child))
            df = child.select("doc_id").withColumn("score", F.lit(float(q.score)))
            return _Compiled(self._boosted(df, q.boost))
        if isinstance(q, Q.WeightingQuery):
            # subtree weighting override (reference wrappers.py:186-198):
            # compile the child in a sub-plan whose searcher carries the
            # override model; stats/bases re-collect for just that subtree
            import copy as _copy

            sub_searcher = _copy.copy(self.s)
            sub_searcher.weighting = q.weighting
            sub = _PlanContext(sub_searcher)
            return _Compiled(self._boosted(sub.compile_root(q.child), q.boost))
        if isinstance(q, Q._MultiTermDocs):
            return _Compiled(self._compile_multiterm_docs(q))
        if isinstance(q, (Q.ColumnRange, Q.ColumnTerm)):
            # native predicate on the docs table: pushed into the Parquet
            # scan by Catalyst; constant score 1.0 (reference constantscore
            # NumericRange/DateRange/BOOLEAN semantics)
            df = (
                self.ix.docs()
                .filter(q.spark_predicate())
                .select("doc_id")
                .withColumn("score", F.lit(1.0))
            )
            return _Compiled(df)
        from whoosh_spark.query import spans as SQ

        if isinstance(q, SQ.SpanQuery):
            from whoosh_spark.search.spaneval import span_frame

            return _Compiled(span_frame(self, q).select("doc_id", "score"))
        raise TypeError(f"cannot compile query node {type(q).__name__}")

    def _compile_multiterm_docs(self, q: Q._MultiTermDocs) -> DataFrame:
        """Distributed constant-score multiterm: push the term predicate into
        the posting-block scan (partial filter pushes to Parquet row-group
        stats on the term-sorted files), decode ids only, distinct, score 1.0
        (boost ignored — reference quirk, terms.py:195-211)."""
        src = q.source
        docs = self.ix.postings_docs_where(
            src.field, pushdown=src.spark_term_filter(),
            exact_pred=src.spark_exact_predicate(),
        )
        return docs.withColumn("score", F.lit(1.0))

    def _realize(self, c: _Compiled) -> DataFrame:
        return self._complement(c.df) if c.negated else c.df

    def _compile_term(self, q: Q.Term) -> DataFrame:
        if (q.field, q.text) not in self.stats:
            return self._empty()
        df = self.base.filter((F.col("field") == q.field) & (F.col("term") == q.text)).select(
            "doc_id", "score"
        )
        return self._boosted(df, q.boost)

    # -- joins with exact score-order bookkeeping --

    @staticmethod
    def _join_add(a: DataFrame, b: DataFrame, how: str) -> DataFrame:
        """Join two (doc_id, score) frames; score = a.score + b.score with
        missing side contributing 0.0 for outer joins."""
        l = a.select("doc_id", F.col("score").alias("_sl"))
        r = b.select("doc_id", F.col("score").alias("_sr"))
        j = l.join(r, on="doc_id", how=how)
        sl = F.coalesce(F.col("_sl"), F.lit(0.0))
        sr = F.coalesce(F.col("_sr"), F.lit(0.0))
        return j.select("doc_id", (sl + sr).alias("score"))

    def _compile_and(self, q: Q.And) -> DataFrame:
        subs = q.subqueries
        if not subs:
            return self._empty()
        compiled = [self._compile(c) for c in subs]
        ests = [c.estimate_size(self.stats_view) for c in subs]
        if not self.s.exact_scores and all(not c.negated for c in compiled):
            u = compiled[0].df
            for c in compiled[1:]:
                u = u.unionByName(c.df)
            agg = u.groupBy("doc_id").agg(F.sum("score").alias("score"), F.count("*").alias("_n"))
            return self._boosted(agg.filter(F.col("_n") == len(subs)).select("doc_id", "score"), q.boost)

        # reference order: make_weighted_tree with weight = -estimate_size
        # (compound.py:262-269); items sorted ascending, two smallest merged
        items: list[tuple[float, int, _Compiled]] = []
        seq = 0
        for est, c in zip(ests, compiled):
            items.append((float(0 - est), seq, c))
            seq += 1
        items.sort(key=lambda t: (t[0], t[1]))
        while len(items) > 1:
            wa, _, ca = items.pop(0)
            wb, _, cb = items.pop(0)
            merged = self._intersect(ca, cb)
            seq += 1
            entry = (wa + wb, seq, merged)
            lo = 0
            while lo < len(items) and items[lo][0] <= entry[0]:
                lo += 1
            items.insert(lo, entry)
        return self._boosted(self._realize(items[0][2]), q.boost)

    def _intersect(self, a: _Compiled, b: _Compiled) -> _Compiled:
        """IntersectionMatcher analog; Not children anti-join and contribute
        the InverseMatcher's constant 1.0 (verified vs reference)."""
        if a.negated and b.negated:
            both = self._complement(a.df).join(
                self._complement(b.df).select("doc_id"), "doc_id", "left_semi"
            ).withColumn("score", F.lit(1.0) + F.lit(1.0))
            return _Compiled(both)
        if b.negated:
            df = a.df.join(b.df.select("doc_id"), "doc_id", "left_anti")
            return _Compiled(df.withColumn("score", F.col("score") + F.lit(1.0)))
        if a.negated:
            df = b.df.join(a.df.select("doc_id"), "doc_id", "left_anti")
            return _Compiled(df.withColumn("score", F.lit(1.0) + F.col("score")))
        return _Compiled(self._join_add(a.df, b.df, "inner"))

    def _minmatch_filter(self, dfs: list[DataFrame], out: DataFrame, m: int) -> DataFrame:
        """Keep docs matched by >= m of the Or's children. The reference's
        own minmatch is documented "not yet implemented"
        (query/compound.py:299); we implement the documented semantics
        uniformly across both scoring paths (like WeightingQuery). One
        narrow count aggregate + a semi join."""
        u = dfs[0].select("doc_id")
        for d in dfs[1:]:
            u = u.unionByName(d.select("doc_id"))
        ok = (
            u.groupBy("doc_id").agg(F.count("*").alias("_n"))
            .filter(F.col("_n") >= m).select("doc_id")
        )
        return out.join(ok, on="doc_id", how="left_semi")

    def _compile_or(self, q: Q.Or) -> DataFrame:
        if not q.subqueries:
            return self._empty()
        compiled = [self._compile(c) for c in q.subqueries]
        dfs = [self._realize(c) for c in compiled]
        if not self.s.exact_scores:
            u = dfs[0]
            for d in dfs[1:]:
                u = u.unionByName(d)
            out = u.groupBy("doc_id").agg(F.sum("score").alias("score"), F.count("*").alias("_n"))
            if q.minmatch:
                out = out.filter(F.col("_n") >= q.minmatch)
            out = self._boosted(out.select("doc_id", "score"), q.boost)
            if q.scale:
                out = self._coord_scale(out, q)
            return out
        if q.scale:
            # scale forces the reference's DefaultOr: a weighted huffman
            # tree of UnionMatchers ordered by +estimate_size
            # (compound.py:374-385) — replicate its addition order
            items = []
            for seq, (c, d) in enumerate(zip(q.subqueries, dfs)):
                items.append((float(c.estimate_size(self.stats_view)), seq, d))
            items.sort(key=lambda t: (t[0], t[1]))
            seq = len(items)
            while len(items) > 1:
                wa, _, da = items.pop(0)
                wb, _, db = items.pop(0)
                merged = self._join_add(da, db, "full_outer")
                seq += 1
                entry = (wa + wb, seq, merged)
                lo = 0
                while lo < len(items) and items[lo][0] <= entry[0]:
                    lo += 1
                items.insert(lo, entry)
            out = self._boosted(items[0][2], q.boost)
            if q.minmatch:
                out = self._minmatch_filter(dfs, out, q.minmatch)
            return self._coord_scale(out, q)
        # ArrayUnionMatcher accumulation: original child order, left fold
        # (combo.py:211-215); per-child boost multiplication happens at add
        acc = dfs[0]
        for d in dfs[1:]:
            acc = self._join_add(acc, d, "full_outer")
        out = self._boosted(acc, q.boost)
        if q.minmatch:
            out = self._minmatch_filter(dfs, out, q.minmatch)
        return out

    def _coord_scale(self, df: DataFrame, q: Q.Or) -> DataFrame:
        """Or(scale=s) coordination bonus — the reference CoordMatcher SQR
        function (matching/wrappers.py:541-558):
        sqr = (score + (matching-1)/(termcount-scale)**2) * ((termcount-1)/termcount)
        with matching = number of the tree's term matchers hitting the doc."""
        leaves = q.leaf_terms()  # duplicates count separately, like matchers
        termcount = len(leaves)
        if termcount == 0 or termcount == q.scale:
            return df.withColumn("score", F.lit(0.0))
        from collections import Counter

        counts = Counter(leaves)
        matched = None
        for (field, term), mult in counts.items():
            part = (
                self.base.filter((F.col("field") == field) & (F.col("term") == term))
                .select("doc_id")
                .withColumn("_m", F.lit(mult))
            )
            matched = part if matched is None else matched.unionByName(part)
        mdf = matched.groupBy("doc_id").agg(F.sum("_m").alias("_matching"))
        j = df.join(mdf, on="doc_id", how="left")
        matching = F.coalesce(F.col("_matching"), F.lit(0)).cast("double")
        scale = float(q.scale)
        sqr = (F.col("score") + (matching - 1) / F.lit(float((termcount - scale) ** 2))) * F.lit(
            (termcount - 1) / termcount
        )
        return j.select("doc_id", sqr.alias("score"))

    def _compile_dismax(self, q: Q.DisjunctionMax) -> DataFrame:
        if not q.subqueries:
            return self._empty()
        dfs = [self._realize(self._compile(c)) for c in q.subqueries]
        acc = dfs[0]
        for d in dfs[1:]:
            l = acc.select("doc_id", F.col("score").alias("_sl"))
            r = d.select("doc_id", F.col("score").alias("_sr"))
            j = l.join(r, on="doc_id", how="full_outer")
            score = F.greatest(
                F.coalesce(F.col("_sl"), F.lit(NEG_INF)), F.coalesce(F.col("_sr"), F.lit(NEG_INF))
            )
            acc = j.select("doc_id", score.alias("score"))
        return self._boosted(acc, q.boost)

    def _compile_andmaybe(self, q: Q.AndMaybe) -> DataFrame:
        a = self._realize(self._compile(q.a))
        b = self._realize(self._compile(q.b))
        l = a.select("doc_id", F.col("score").alias("_sl"))
        r = b.select("doc_id", F.col("score").alias("_sr"))
        j = l.join(r, on="doc_id", how="left")
        score = F.when(F.col("_sr").isNull(), F.col("_sl")).otherwise(F.col("_sl") + F.col("_sr"))
        return self._boosted(j.select("doc_id", score.alias("score")), q.boost)

    def _compile_every(self, q: Q.Every) -> DataFrame:
        if q.field is None:
            df = self._all_docs().withColumn("score", F.lit(1.0))
        else:
            df = (
                self.ix.lengths()
                .filter(F.col("field") == q.field)
                .select("doc_id")
                .distinct()
                .withColumn("score", F.lit(1.0))
            )
        return self._boosted(df, q.boost)

    # ------------------------------------------------------------- phrase

    def _compile_phrase(self, q: Q.Phrase) -> DataFrame:
        words = q.words
        # missing word -> no matches (reference positional.py:236-239)
        for w in words:
            if (q.field, w) not in self.stats:
                return self._empty()

        # per-word positional frames, inner-joined in word order
        joined = None
        pos_cols = []
        for i, w in enumerate(words):
            pw = (
                self.pos_base.filter((F.col("field") == q.field) & (F.col("term") == w))
                .select("doc_id", F.col("positions").alias(f"_p{i}"))
            )
            pos_cols.append(f"_p{i}")
            joined = pw if joined is None else joined.join(pw, on="doc_id", how="inner")

        slop, ordered, mindist = q.slop, True, 1

        if len(words) == 1:
            # un-normalized single-word phrase: the chain is trivially
            # satisfied, it scores as the bare term (reference
            # positional.py:187-191 normalizes to Term; the raw matcher
            # degenerates the same way)
            matched = joined.select("doc_id")
        elif slop == 1:
            # slop=1 ordered adjacency degenerates to: exists p in p0 with
            # p+i in p_i for every following word — a pure JVM expression
            # (higher-order array functions inside codegen, no Python).
            # Equivalent to the SpanNear2 chain: each pairwise combine with
            # mindist=1..slop=1 forces b_start == a_end + 1.
            def adjacent(start_col):
                conds = [
                    F.array_contains(F.col(pos_cols[i]), start_col + F.lit(i))
                    for i in range(1, len(pos_cols))
                ]
                out = conds[0]
                for c in conds[1:]:
                    out = out & c
                return out

            chain_ok = F.exists(F.col(pos_cols[0]), adjacent)
            matched = joined.filter(chain_ok).select("doc_id")
        else:

            @pandas_udf(T.BooleanType())
            def span_chain(*cols: pd.Series) -> pd.Series:
                out = []
                n_rows = len(cols[0])
                for ri in range(n_rows):
                    poslists = [list(c.iloc[ri]) for c in cols]
                    out.append(_span_near_chain(poslists, slop, ordered, mindist))
                return pd.Series(out)

            matched = joined.filter(span_chain(*[F.col(c) for c in pos_cols])).select("doc_id")

        # score = sum of word term-scores over an order-preserving binary
        # tree (SpanNear2Matcher wraps make_binary_tree(Intersection, ms))
        def tree_score(lo: int, hi: int) -> DataFrame:  # [lo, hi)
            if hi - lo == 1:
                w = words[lo]
                return self.base.filter(
                    (F.col("field") == q.field) & (F.col("term") == w)
                ).select("doc_id", "score")
            half = (hi - lo) // 2
            return self._join_add(tree_score(lo, lo + half), tree_score(lo + half, hi), "inner")

        scored = tree_score(0, len(words))
        out = scored.join(matched, on="doc_id", how="left_semi")
        return self._boosted(out, q.boost)


def _span_near_chain(poslists: list[list[int]], slop: int, ordered: bool, mindist: int) -> bool:
    """SpanNear2's pairwise span combination (reference spans.py:599-644)."""
    aspans = [(p, p) for p in poslists[0]]
    i = 1
    while i < len(poslists) and aspans:
        bspans = [(p, p) for p in poslists[i]]
        found = set()
        for a_start, a_end in aspans:
            start = a_start if ordered else max(0, a_start - slop)
            # bisect to first bspan with start >= `start`
            lo, hi = 0, len(bspans)
            while lo < hi:
                mid = (lo + hi) // 2
                if bspans[mid][0] < start:
                    lo = mid + 1
                else:
                    hi = mid
            j = lo
            while j < len(bspans):
                b_start, b_end = bspans[j]
                j += 1
                if b_end < a_start - slop or (ordered and a_start > b_start):
                    continue
                if b_start > a_end + slop:
                    break
                # Span.distance_to (spans.py:160-166)
                if not (a_end < b_start or b_end < a_start):
                    dist = 0
                elif a_end < b_start:
                    dist = b_start - a_end
                else:
                    dist = a_start - b_end
                if mindist <= dist <= slop:
                    found.add((min(a_start, b_start), max(a_end, b_end)))
        aspans = sorted(found)
        i += 1
    return bool(aspans) if i == len(poslists) else False
