"""The exact numpy evaluator and its two placements.

``LocalEvaluator`` evaluates a query tree over (sorted doc_id array, score
array) match sets with the exact float-op order of the DataFrame engine
(score formula = scoring.score_np, bit-equal to score_py; And in huffman
order; Or and DisjunctionMax folded in child order over aligned columns),
so every placement returns results IDENTICAL to the generic plan —
asserted across random query trees by tests/test_local_fastpath.py and
tests/test_fused_kernel.py. It reads a posting source, the
``postings``/``positions`` dicts both placements fill through
``codec.decode_term_blocks``, and per-term constants from
``scoring.term_constants``.

Driver placement (``try_local_search``): Spark's per-job overhead
(~0.3-0.8s: scheduling, Python-worker hops, a shuffle for top-k) dominates
interactive latency when a query's posting lists are tiny. Like an
AQE-style adaptive choice, the Searcher evaluates driver-side when EVERY
term's df keeps the total postings under ``local_threshold``. Nothing on
this path launches a Spark job, even on a freshly opened ``Index``: the
stats come from ``Index.term_stats`` (a pyarrow read of the segments'
termstats), pyarrow reads ONLY the query terms' blocks from the segment
Parquet files (row-group pruning on the term-sorted files still applies),
and ``Searcher.spark_rows_df`` wraps the rows as an Arrow local relation.
Measured ~8x faster than the dict evaluator it replaced (r6), which moves
the local-vs-distributed crossover into the millions of postings (see
LOCAL_THRESHOLD).

Bucket placement (``bucket_topk``): all of a doc's postings share the
build-time ``bucket`` (doc_id // bucket_width), so repartitioning the
ENCODED blocks by bucket makes each partition doc-complete. One
``mapInPandas`` decodes each partition's blocks, runs the evaluator for
every query of the batch and emits a local top-k; a small window merges
the partitions, exact by the top-k merge property (doc_id breaks score
ties). Only ``queries x k`` rows per partition reach a shuffle — this is
the scale path for hot terms past the threshold. ``Searcher.search`` sends
it the single-query shapes ``kernel_shape`` names and its ``use_wand``
Terms and flat Ors. ``batch_search`` sends it, in one call, every tree of
a batch that ``bucket_tree`` accepts — bags, slop-1 phrases, multiterms
expanded against the driver-cached lexicon, nested trees — except
FuzzyTerms and wide multiterm expansions, which its DataFrame kernels
serve faster; those kernels also serve the trees ``bucket_tree``
declines. Posting intersection and block-max WAND are two exact block
skips inside this placement (``_prune``), not plans of their own.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa

from whoosh_spark.index import codec
from whoosh_spark.index.catalog import parquet_files
from whoosh_spark.index.quantize import BYTE_TO_LENGTH
from whoosh_spark.query import nodes as Q
from whoosh_spark.search.scoring import term_constants

#: Max total postings for the driver-local path. Crossover measurement
#: (BENCH/LOCAL_CROSSOVER.json, r6): the vectorized evaluator answers a
#: 1M-posting disjunction in ~0.1-0.2s wall on one core, while the
#: distributed plan's floor is ~0.7-1.5s of job scheduling at any size —
#: so 2M postings (~50 MB transient driver memory) is still ~5x under the
#: distributed floor. Env-overridable for clusters where the driver is
#: weak (set 0 to disable) or beefy.
LOCAL_THRESHOLD = int(os.environ.get("WHOOSH_SPARK_LOCAL_THRESHOLD", "2000000"))

_EMPTY_M = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
_IDS_SCHEMA = pa.schema([("doc_id", pa.int64())])


def _collect_terms(q, plain: set, positional: set):
    if isinstance(q, Q.Term):
        plain.add((q.field, q.text))
    elif isinstance(q, Q.Phrase):
        for w in q.words:
            plain.add((q.field, w))
            positional.add((q.field, w))
    else:
        for c in q.children():
            _collect_terms(c, plain, positional)


_SUPPORTED = (Q.Term, Q.And, Q.Or, Q.DisjunctionMax, Q.Not, Q.AndNot,
              Q.Require, Q.AndMaybe, Q.Phrase, Q.ConstantScore, Q._NullQuery)


def _supported(q) -> bool:
    if isinstance(q, Q.Or) and q.scale is not None:
        return False
    if isinstance(q, Q.Phrase) and type(q) is not Q.Phrase:
        return _supported_children(q)  # Ordered subclass ok (same chain)
    if not isinstance(q, _SUPPORTED):
        return False
    return _supported_children(q)


def _supported_children(q) -> bool:
    return all(_supported(c) for c in q.children())


def _has_not(q) -> bool:
    if isinstance(q, Q.Not):
        return True
    return any(_has_not(c) for c in q.children())


#: posting-block columns, in codec.decode_term_blocks argument order
_BLOCK_COLS = ("count", "ids", "tfs", "len_bytes", "weights", "positions")


def _deleted_ids(ix):
    """The index's deleted doc ids, sorted (``codec.decode_term_blocks``
    binary-searches them), or None."""
    files = parquet_files(ix._delete_paths())
    if not files:
        return None
    import pyarrow.parquet as pq

    return np.unique(pq.read_table(files, schema=_IDS_SCHEMA)["doc_id"].to_numpy())


def _load_term(postings, positions, key, blocks, want_pos, deleted):
    """Decode one term's block columns (``_BLOCK_COLS`` order) into the
    evaluator's posting source."""
    *cols, pos = blocks
    ids, ws, lbs, pos = codec.decode_term_blocks(
        *cols, pos if want_pos else None, deleted=deleted)
    postings[key] = (ids, ws, BYTE_TO_LENGTH[lbs].astype(np.float64))
    if pos is not None:
        positions[key] = pos


def _read_postings(ix, plain, positional, deleted):
    """Driver posting source: one pyarrow read per field of just the
    query terms' blocks from every segment's files, decoded like a bucket
    partition's. Segments written before the weight channel read NULL
    weights."""
    import pyarrow.parquet as pq

    from whoosh_spark.index.build import POSTINGS_ARROW

    by_field: dict = {}
    for f, t in plain | positional:
        by_field.setdefault(f, set()).add(t)
    files = parquet_files(os.path.join(seg.path(ix.index_dir), "postings.parquet")
                          for seg in ix.manifest.segments)
    acc: dict = {}
    for field, terms in by_field.items():
        if not files:
            break
        want = _BLOCK_COLS if any(f == field for f, _ in positional) \
            else _BLOCK_COLS[:-1]
        tbl = pq.read_table(files, schema=POSTINGS_ARROW, columns=["term", *want],
                            filters=[("field", "==", field), ("term", "in", sorted(terms))])
        n = tbl.num_rows
        cols = [tbl[c].to_pylist() if c in want else [None] * n for c in _BLOCK_COLS]
        for i, t in enumerate(tbl["term"].to_pylist()):
            a = acc.setdefault((field, t), tuple([] for _ in _BLOCK_COLS))
            for col, out in zip(cols, a):
                out.append(col[i])
    postings: dict = {}
    positions: dict = {}
    for key, blocks in acc.items():
        _load_term(postings, positions, key, blocks, key in positional, deleted)
    return postings, positions


def _docs_universe(ix, deleted) -> np.ndarray:
    import pyarrow.parquet as pq

    ids = [
        pq.read_table(os.path.join(seg.path(ix.index_dir), "docs.parquet"),
                      columns=["doc_id"])["doc_id"].to_numpy()
        for seg in ix.manifest.segments
    ]
    universe = (np.unique(np.concatenate(ids)) if ids
                else np.empty(0, dtype=np.int64))
    if deleted is not None:
        universe = np.setdiff1d(universe, deleted)
    return universe.astype(np.int64)


class LocalEvaluator:
    """Mirror of engine.py's _compile over (sorted doc_id array, score
    array) match sets — per-doc float ops identical to the engine's.

    ``postings[(field, term)]`` -> (ids, weights, field lengths) and
    ``positions[(field, term)]`` -> (flat positions, per-posting lengths)
    are doc-id-sorted; ``consts`` holds ``scoring.term_constants`` for the
    terms with stats. ``universe`` returns every live doc id, for Not; only
    the driver placement has one."""

    def __init__(self, postings: dict, positions: dict, consts: dict,
                 stats_view, weighting, universe=None):
        self.postings = postings
        self.positions = positions
        self.consts = consts
        self.stats_view = stats_view
        self.w = weighting
        self._universe = universe
        self._all_docs = None

    # ---- scored leaf ----

    def term_scores(self, field: str, term: str, boost: float = 1.0):
        c = self.consts.get((field, term))
        entry = self.postings.get((field, term))
        if c is None or entry is None:
            return _EMPTY_M
        ids, ws, fls = entry
        wb = ws * c["fboost"]
        sc = (self.w.score_np(c["idf"], wb, fls, c["avgfl"], c["B"])
              if c["scorable"] else wb)
        if boost != 1.0:
            sc = sc * boost
        return ids, sc

    # ---- tree evaluation (same orders as engine.py) ----

    def evaluate(self, q):
        m, neg = self._eval(q)
        if neg:
            return self._complement(m)
        return m

    def _complement(self, m):
        if self._all_docs is None:
            self._all_docs = self._universe()
        ids = np.setdiff1d(self._all_docs, m[0], assume_unique=True)
        return ids, np.ones(ids.size, dtype=np.float64)

    def _eval(self, q):
        if isinstance(q, Q._NullQuery):
            return _EMPTY_M, False
        if isinstance(q, Q.Term):
            return self.term_scores(q.field, q.text, q.boost), False
        if isinstance(q, Q.Not):
            m, neg = self._eval(q.query)
            if neg:
                m = self._complement(m)
            return m, True
        if isinstance(q, Q.ConstantScore):
            m, neg = self._eval(q.child)
            if neg:
                m = self._complement(m)
            out = (m[0], np.full(m[0].size, float(q.score), dtype=np.float64))
            return self._boost(out, q.boost), False
        if isinstance(q, Q.And):
            return self._eval_and(q), False
        if isinstance(q, Q.Or):
            docs, sc, n = self._fold(q.subqueries, np.add)
            if q.minmatch:
                keep = n >= q.minmatch
                docs, sc = docs[keep], sc[keep]
            return self._boost((docs, sc), q.boost), False
        if isinstance(q, Q.DisjunctionMax):
            docs, sc, _ = self._fold(q.subqueries, np.maximum)
            return self._boost((docs, sc), q.boost), False
        if isinstance(q, Q.AndNot):
            a = self.evaluate(q.a)
            b = self.evaluate(q.b)
            keep = ~np.isin(a[0], b[0], assume_unique=True)
            return self._boost((a[0][keep], a[1][keep]), q.boost), False
        if isinstance(q, Q.Require):
            a = self.evaluate(q.a)
            b = self.evaluate(q.b)
            keep = np.isin(a[0], b[0], assume_unique=True)
            return self._boost((a[0][keep], a[1][keep]), q.boost), False
        if isinstance(q, Q.AndMaybe):
            a = self.evaluate(q.a)
            b = self.evaluate(q.b)
            _, ia, ib = np.intersect1d(a[0], b[0], assume_unique=True,
                                       return_indices=True)
            sc = a[1].copy()
            sc[ia] = a[1][ia] + b[1][ib]
            return self._boost((a[0], sc), q.boost), False
        if isinstance(q, Q.Phrase):
            return self._eval_phrase(q), False
        raise TypeError(type(q).__name__)

    @staticmethod
    def _boost(m, boost: float):
        if boost == 1.0:
            return m
        return m[0], m[1] * boost

    def _eval_and(self, q):
        # huffman order by -estimate_size, matching engine._compile_and
        items = []
        seq = 0
        for c in q.subqueries:
            est = c.estimate_size(self.stats_view)
            items.append((float(0 - est), seq, self._eval(c)))
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
        m, neg = items[0][2]
        if neg:
            m = self._complement(m)
        return self._boost(m, q.boost)

    def _intersect(self, a, b):
        (ma, na), (mb, nb) = a, b
        if na and nb:
            ca, cb = self._complement(ma), self._complement(mb)
            both = np.intersect1d(ca[0], cb[0], assume_unique=True)
            return (both, np.full(both.size, 2.0, dtype=np.float64)), False
        if nb:
            keep = ~np.isin(ma[0], mb[0], assume_unique=True)
            return (ma[0][keep], ma[1][keep] + 1.0), False
        if na:
            keep = ~np.isin(mb[0], ma[0], assume_unique=True)
            return (mb[0][keep], 1.0 + mb[1][keep]), False
        common, ia, ib = np.intersect1d(ma[0], mb[0], assume_unique=True,
                                        return_indices=True)
        return (common, ma[1][ia] + mb[1][ib]), False

    def _fold(self, subqueries, combine):
        """Aligned-column fold in child order: each child's scores land on
        the union doc set through one searchsorted ``combine`` (add or
        max), the per-doc op sequence of the engine's outer-join left fold
        (an absent child is the join's 0.0 / -inf coalesce, which leaves
        the sum unchanged). NOTE add.reduceat was tried and replaced:
        numpy reduces pairwise, which re-associates the sum by 1 ulp.
        Returns (docs, scores, per-doc count of matching children)."""
        ms = [self.evaluate(c) for c in subqueries]
        docs = np.unique(np.concatenate([m[0] for m in ms] or [_EMPTY_M[0]]))
        acc = (np.full(docs.size, -np.inf) if combine is np.maximum
               else np.zeros(docs.size, dtype=np.float64))
        n = np.zeros(docs.size, dtype=np.int64)
        for ids, sc in ms:
            idx = np.searchsorted(docs, ids)
            acc[idx] = combine(acc[idx], sc)
            n[idx] += 1
        return docs, acc, n

    def _positions_of(self, field: str, word: str):
        """(ids, pos_flat, pos_offsets) for one positional term, or None."""
        entry = self.postings.get((field, word))
        pos = self.positions.get((field, word))
        if entry is None or pos is None:
            return None
        ids = entry[0]
        pos_flat, pos_lens = pos
        offs = np.concatenate(([0], np.cumsum(pos_lens))).astype(np.int64)
        return ids, pos_flat, offs

    @staticmethod
    def _gather_ragged(flat, offs, idx):
        """Concatenate flat[offs[i]:offs[i+1]] for i in idx, plus the
        per-i group index of every gathered element."""
        lens = (offs[idx + 1] - offs[idx]).astype(np.int64)
        total = int(lens.sum())
        if total == 0:
            return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
        starts = np.repeat(offs[idx], lens)
        gstart = np.concatenate(([0], np.cumsum(lens)[:-1]))
        within = np.arange(total, dtype=np.int64) - np.repeat(gstart, lens)
        take = starts + within
        group = np.repeat(np.arange(idx.size, dtype=np.int64), lens)
        return flat[take], group

    def _eval_phrase(self, q):
        from whoosh_spark.search.engine import _span_near_chain

        for w in q.words:
            if (q.field, w) not in self.consts:
                return _EMPTY_M
        per_word = [self._positions_of(q.field, w) for w in q.words]
        if any(p is None for p in per_word):
            return _EMPTY_M
        docs = per_word[0][0]
        for pw in per_word[1:]:
            docs = np.intersect1d(docs, pw[0], assume_unique=True)
        if docs.size == 0:
            matched = docs
        elif q.slop == 1 and len(q.words) > 1:
            # ordered adjacency: exists p in pos0 with p+i in pos_i for all
            # following words (same degenerate form the engine uses; the
            # pairwise chain with slop=1/mindist=1 forces b == a_end + 1).
            # Vectorized via (candidate_index << 32 | position) keys.
            KEY = np.int64(1) << np.int64(32)
            keys = []
            for ids, flat, offs in per_word:
                idx = np.searchsorted(ids, docs)
                pvals, group = self._gather_ragged(flat, offs, idx)
                keys.append(group * KEY + pvals)
            survivors = keys[0]
            for i in range(1, len(keys)):
                survivors = survivors[np.isin(survivors + np.int64(i), keys[i])]
            matched = docs[np.unique(survivors // KEY)] if survivors.size else \
                np.empty(0, dtype=np.int64)
        elif len(q.words) == 1:
            matched = docs
        else:
            idxs = [np.searchsorted(pw[0], docs) for pw in per_word]
            out = []
            for j in range(docs.size):
                poslists = [
                    pw[1][pw[2][idxs[k][j]]:pw[2][idxs[k][j] + 1]].tolist()
                    for k, pw in enumerate(per_word)
                ]
                if _span_near_chain(poslists, q.slop, True, 1):
                    out.append(docs[j])
            matched = np.asarray(out, dtype=np.int64)

        # score: order-preserving binary tree sum (engine tree_score)
        def tree(lo, hi):
            if hi - lo == 1:
                ids, sc = self.term_scores(q.field, q.words[lo])
                return ids, sc
            half = (hi - lo) // 2
            (li, ls), (ri, rs) = tree(lo, lo + half), tree(lo + half, hi)
            common, ia, ib = np.intersect1d(li, ri, assume_unique=True,
                                            return_indices=True)
            return common, ls[ia] + rs[ib]

        tids, tsc = tree(0, len(q.words))
        keep = np.isin(tids, matched, assume_unique=True)
        return self._boost((tids[keep], tsc[keep]), q.boost)


class _NotLocal(Exception):
    pass


def _resolve_multiterms_local(q, searcher):
    """Expand multiterms against the driver-cached lexicon (zero jobs);
    raises _NotLocal when the field's lexicon isn't fully cached."""
    if isinstance(q, Q.MultiTerm):
        lexicon = searcher.index.cached_terms(q.field)
        if lexicon is None:
            raise _NotLocal
        terms = [t for t in lexicon if q.term_predicate(t)]
        if len(terms) > searcher.max_expansion:
            raise _NotLocal
        if not terms:
            return Q.NullQuery
        if len(terms) == 1:
            return Q.Term(q.field, terms[0], boost=q.boost)
        expanded = Q.Or([Q.Term(q.field, t) for t in terms])
        if q.constantscore:
            return Q.ConstantScore(expanded, 1.0)
        expanded.boost = q.boost
        return expanded
    if isinstance(q, Q.CompoundQuery):
        return q._rebuild([_resolve_multiterms_local(c, searcher) for c in q.subqueries])
    if isinstance(q, Q.Not):
        return Q.Not(_resolve_multiterms_local(q.query, searcher), boost=q.boost)
    if isinstance(q, Q.BinaryQuery):
        return type(q)(
            _resolve_multiterms_local(q.a, searcher),
            _resolve_multiterms_local(q.b, searcher), boost=q.boost,
        )
    if isinstance(q, Q.ConstantScore):
        return Q.ConstantScore(_resolve_multiterms_local(q.child, searcher), q.score, boost=q.boost)
    return q


def _contains_multiterm(q) -> bool:
    if isinstance(q, Q.MultiTerm):
        return True
    return any(_contains_multiterm(c) for c in q.children())


def _resolve(searcher, q):
    """``q`` with multiterms expanded against the driver-cached lexicon,
    or None when a lexicon is not cached or a node is outside the
    evaluator."""
    if _contains_multiterm(q):
        try:
            q = _resolve_multiterms_local(q, searcher)
        except _NotLocal:
            return None
    return q if _supported(q) else None


def _term_stats(ix, pairs) -> dict:
    stats = {}
    for field in {f for f, _ in pairs}:
        terms = [t for f, t in pairs if f == field]
        for t, row in ix.term_stats(field, terms).items():
            stats[(field, t)] = row
    return stats


def try_local_search(searcher, q, limit: int):
    """Driver placement: None when the query isn't eligible or a posting
    read fails; else the top-k rows [(doc_id, score)] computed entirely
    driver-side, with no Spark job."""
    import pyarrow as pa

    from whoosh_spark.search.engine import _Stats

    q = _resolve(searcher, q)
    if q is None:
        return None
    ix = searcher.index
    threshold = getattr(searcher, "local_threshold", LOCAL_THRESHOLD)
    if _has_not(q) and ix.doc_count_all() > threshold:
        return None  # complements need the doc universe — distributed territory
    plain: set = set()
    positional: set = set()
    _collect_terms(q, plain, positional)
    if not plain:
        return None
    stats = _term_stats(ix, plain)
    total_postings = sum(int(st["df"]) for st in stats.values() if st)
    if total_postings > threshold:
        return None
    # positional terms additionally pay per OCCURRENCE (ragged position
    # decode + the adjacency key join), measured ~5x cheaper per element
    # than a posting but far more numerous — budget them separately
    # (2.5M-doc calibration: 6.6M effective = 0.44s local, well under the
    # ~2s distributed floor; 33M effective = 23s, clearly past it)
    pos_occ = sum(
        int(st["df"]) + int(st["total_tf"])
        for (f, t), st in stats.items()
        if st is not None and (f, t) in positional
    )
    if pos_occ > 5 * threshold:
        return None
    try:
        deleted = _deleted_ids(ix)
        postings, positions = _read_postings(ix, plain, positional, deleted)
        ev = LocalEvaluator(postings, positions,
                            term_constants(searcher, stats, stats),
                            _Stats(stats, ix.doc_count_all()), searcher.weighting,
                            universe=lambda: _docs_universe(ix, deleted))
        ids, sc = ev.evaluate(q)
    except (OSError, pa.ArrowException, TypeError):
        # unreadable segment files: the distributed plan answers instead
        return None
    order = np.lexsort((ids, -sc))
    if limit is not None:
        order = order[:limit]
    return [(int(ids[i]), float(sc[i])) for i in order]


def _flat_bag(q) -> bool:
    """Term, or Or/DisjunctionMax/And of Terms on one field, all
    unboosted (Or without scale; And without a repeated term)."""
    if type(q) is Q.Term:
        return q.boost == 1.0
    subs = q.subqueries if isinstance(q, Q.CompoundQuery) else None
    if (not subs or q.boost != 1.0
            or type(q) not in (Q.Or, Q.DisjunctionMax, Q.And)
            or not all(type(c) is Q.Term and c.boost == 1.0 for c in subs)
            or len({c.field for c in subs}) != 1):
        return False
    if type(q) is Q.Or:
        return q.scale is None
    return type(q) is not Q.And or len({c.text for c in subs}) == len(subs)


def kernel_shape(q) -> bool:
    """The single-query shapes ``Searcher.search`` sends to the bucket
    placement past the local threshold: flat term bags (``_flat_bag``),
    an unboosted slop-1 Phrase, and AndNot/Require of a flat bag by a
    flat Term or Or bag without minmatch. These are the shapes the
    hot-term latency measurements covered; every other tree keeps the
    generic plan."""
    if type(q) is Q.Phrase:
        return q.slop == 1 and q.boost == 1.0 and bool(q.words)
    if type(q) in (Q.AndNot, Q.Require):
        b = q.b
        return (q.boost == 1.0 and _flat_bag(q.a) and _flat_bag(b)
                and (type(b) is Q.Term or (type(b) is Q.Or and not b.minmatch)))
    return _flat_bag(q)


def _sloppy_phrase(q) -> bool:
    if isinstance(q, Q.Phrase) and q.slop != 1 and len(q.words) > 1:
        return True
    return any(_sloppy_phrase(c) for c in q.children())


def bucket_tree(searcher, q):
    """``q`` with multiterms resolved when the bucket placement can answer
    it, else None: a weighting other than plain BM25F (score_np is
    bit-equal to that JVM expression only), a tree with Not (a complement
    needs each bucket's doc universe), Or(scale=) or a multi-word Phrase
    with slop other than 1 (its per-candidate Python span check has no
    cost cap here), or an uncached multiterm lexicon."""
    from whoosh_spark.search.scoring import BM25F

    if type(searcher.weighting) is not BM25F:
        return None
    q = _resolve(searcher, q)
    if q is None or _has_not(q) or _sloppy_phrase(q):
        return None
    return q


def wand_terms(q):
    """([((field, term), boost)], boost) when ``q`` is a Term or a flat Or
    of Terms, else None. Block-max bounds assume every contribution is
    >= 0, so a negative term or Or boost declines too."""
    if isinstance(q, Q.Term):
        terms, boost = [q], 1.0
    elif (isinstance(q, Q.Or) and q.minmatch == 0 and q.scale is None
          and all(isinstance(c, Q.Term) for c in q.subqueries)):
        terms, boost = q.subqueries, q.boost
    else:
        return None
    if boost < 0 or any(c.boost < 0 for c in terms):
        return None
    return [((c.field, c.text), c.boost) for c in terms], boost


def _required(q) -> set:
    """The (field, term) pairs every match of ``q`` contains."""
    if isinstance(q, Q.Term):
        return {(q.field, q.text)}
    if isinstance(q, Q.Phrase):
        return {(q.field, w) for w in q.words}
    if isinstance(q, (Q.Or, Q.DisjunctionMax)):
        subs = [_required(c) for c in q.subqueries]
        return set.intersection(*subs) if subs else set()
    if isinstance(q, (Q.AndNot, Q.AndMaybe)):
        return _required(q.a)
    if isinstance(q, (Q.And, Q.Require, Q.ConstantScore)):
        return set().union(*(_required(c) for c in q.children()))
    return set()


#: relative and absolute slack on a block-max bound, for float rounding
EPS = 1e-12


def _runs(lo, hi, val):
    """A term's block doc ranges merged into disjoint sorted runs:
    (starts, ends, max ``val`` per run plus a trailing 0.0)."""
    o = np.argsort(lo, kind="stable")
    lo, hi, val = lo[o], hi[o], val[o]
    at = np.flatnonzero(np.r_[True, lo[1:] > np.maximum.accumulate(hi)[:-1]])
    return lo[at], np.maximum.reduceat(hi, at), np.r_[np.maximum.reduceat(val, at), 0.0]


def _overlap(runs, lo, hi, scored=False):
    """Per doc range [lo, hi]: whether it overlaps any of ``runs`` or,
    ``scored``, the max value of the runs it overlaps (0.0 where none)."""
    rlo, rhi, rval = runs
    a = np.searchsorted(rhi, lo)            # first run ending at/after lo
    b = np.searchsorted(rlo, hi, "right")   # runs starting at/before hi
    if not scored:
        return b > a
    ab = np.empty(2 * a.size, dtype=np.int64)
    ab[0::2], ab[1::2] = a, b
    return np.where(b > a, np.maximum.reduceat(rval, ab)[::2], 0.0)


def _cols(fr):
    """A block-row frame's ``_BLOCK_COLS`` as lists (None where absent)."""
    return [fr[c].tolist() if c in fr else [None] * len(fr) for c in _BLOCK_COLS]


def _prune(frames, plans, k, slack, consts, weighting, deleted):
    """The block skips of one query group in a doc-complete partition,
    where ``frames`` maps (field, term) to its block rows; ``plans`` holds
    (query_id, terms, req, wand) per query. And skip: a block whose
    [min_id, max_id] overlaps no block of some other pair in ``req`` (the
    pairs every match contains) holds no match. Block-max skip: θ is the
    k-th best score of the strongest ``wand`` occurrence over its best
    blocks covering k postings (contributions are >= 0, so those k docs
    total >= θ); a block whose bound plus every other occurrence's best
    overlapping block bound cannot reach θ − ``slack`` is skipped. A doc
    scoring >= θ − ``slack`` keeps all its blocks; one that lost a block
    scores below the partition's k-th and its rounding window. Returns
    ({(field, term): decode mask}, [(query_id, blocks kept, blocks total,
    θ)]), blocks counted per (query, term)."""
    lo = {ft: fr["min_id"].to_numpy() for ft, fr in frames.items()}
    hi = {ft: fr["max_id"].to_numpy() for ft, fr in frames.items()}
    bounds: dict = {}
    runs: dict = {}
    seeds: dict = {}

    def bound(ft):  # each block's best posting score
        if ft not in bounds:
            c, fr = consts[ft], frames[ft]
            mw = fr["max_tf"].to_numpy(np.float64) * c["fboost"]
            fl = BYTE_TO_LENGTH[fr["min_len_byte"].to_numpy()].astype(np.float64)
            bounds[ft] = (weighting.score_np(c["idf"], mw, fl, c["avgfl"], c["B"])
                          if c["scorable"] else mw)
        return bounds[ft]

    def over(r, ft, scored=False):  # ft's blocks against r's runs
        if (r, scored) not in runs:
            runs[(r, scored)] = _runs(lo[r], hi[r], bound(r) if scored
                                      else np.zeros(lo[r].size))
        return _overlap(runs[(r, scored)], lo[ft], hi[ft], scored)

    keep = {ft: np.zeros(len(fr), dtype=bool) for ft, fr in frames.items()}
    out = []
    for qid, terms, req, wand in plans:
        need = {ft: np.ones(len(frames[ft]), dtype=bool) for ft in terms if ft in frames}
        for ft, m in need.items():
            for r in (req or set()) - {ft}:
                m &= r in frames and over(r, ft)
        theta = None
        occ = [(ft, w) for ft, w in (wand[0] if wand else []) if ft in frames]
        if occ:
            ft, w = max(occ, key=lambda o: bound(o[0]).max() * o[1])
            if ft not in seeds:  # the term's scores over its best blocks
                best = np.argsort(-bound(ft), kind="stable")
                best = best[:int(np.searchsorted(
                    np.cumsum(frames[ft]["count"].to_numpy()[best]), k)) + 1]
                seed: dict = {}
                _load_term(seed, {}, ft, _cols(frames[ft].iloc[np.sort(best)]), False, deleted)
                seeds[ft] = LocalEvaluator(seed, {}, consts, None, weighting).term_scores(*ft)[1]
            part = seeds[ft] * w if w != 1.0 else seeds[ft]  # term_scores' boost
            part = part * wand[1] if wand[1] != 1.0 else part
            if part.size >= k:
                theta = float(np.partition(part, -k)[-k])
                hit: dict = {}
                for i, (fi, wi) in enumerate(occ):
                    ub = bound(fi) * wi + sum(over(fj, fi, True) * wj
                                              for j, (fj, wj) in enumerate(occ) if j != i)
                    hit[fi] = hit.get(fi, False) | (
                        (ub * wand[1]) * (1 + EPS) + EPS >= theta - slack)
                for f, m in hit.items():
                    need[f] &= m
        for ft, m in need.items():
            keep[ft] |= m
        out.append((qid, sum(int(m.sum()) for m in need.values()),
                    sum(m.size for m in need.values()), theta))
    return keep, out


def _local_top(ids, sc, k: int, slack: float):
    """Indices of the partition's top ``k`` by (score desc, doc_id asc),
    widened to every doc within ``slack`` of the k-th score."""
    order = np.lexsort((ids, -sc))
    if slack and order.size > k:
        kth = sc[order[k - 1]]
        return order[:max(k, int(np.searchsorted(-sc[order], slack - kth, "right")))]
    return order[:k]


_STATS = ("query_id string, kept long, total long, theta double, "
          "dec_kept long, dec_total long")


def bucket_topk(searcher, queries, k: int, round_to: int | None = None,
                conjunctive_skip: bool = True, use_wand: bool = False,
                with_stats: bool = False):
    """Bucket placement: top-``k`` per query for ``queries`` =
    [(query_id, tree)], the evaluator run once per doc-complete bucket
    partition inside one ``mapInPandas``. Returns DataFrame(query_id,
    doc_id, score, rank), or None when ``bucket_tree`` declines any tree.
    Deleted doc ids ship in the kernel closure and are dropped during
    decode. ``batch_search`` makes one call per batch with the trees
    ``bucket_tree`` accepts, so a mixed query log is one job chain.

    Before decode, ``_prune`` runs the And skip (``conjunctive_skip``)
    and, for ``wand_terms`` trees, the block-max skip (``use_wand``) on
    block metadata shipped with the block rows; both are exact because a
    doc in the global top-k is in its partition's top-k. ``round_to``:
    each partition keeps every doc within 2·10^-round_to of its k-th
    exact score, then ``F.round`` and ``_topk_window`` run in the JVM.
    ``with_stats=True`` returns ``(df, stats)``: blocks kept vs total per
    (query, term) (``qt_blocks_*``) and per group (``decode_blocks_*``),
    and each query's best θ — one more Spark job.

    Parallelism below one task per core is recovered by replicating the
    block stream over G query groups: each query belongs to exactly one
    group, so per-(query, doc) work is never duplicated — only the cheap
    block decode (a block any query of the group needs), bounded by G."""
    import functools
    import zlib

    import pandas as pd
    from pyspark.sql import functions as F

    from whoosh_spark.index.build import DEFAULT_BUCKET_WIDTH
    from whoosh_spark.search.batch import _topk_window
    from whoosh_spark.search.engine import _Stats

    trees = []
    plain: set = set()
    positional: set = set()
    for qid, q in queries:
        q = bucket_tree(searcher, q)
        if q is None:
            return None
        terms: set = set()
        _collect_terms(q, terms, positional)
        plain |= terms
        req = _required(q) if conjunctive_skip else set()
        trees.append((qid, q, (qid, terms, req if len(req) > 1 or (req and req < terms) else None,
                               wand_terms(q) if use_wand else None)))
    ix = searcher.index
    if not plain:
        out = ix.spark.createDataFrame(
            [], "query_id string, doc_id long, score double, rank int")
        return (out, {"qt_blocks_total": 0, "qt_blocks_kept": 0, "decode_blocks_total": 0,
                      "decode_blocks_kept": 0, "theta": {}}) if with_stats else out
    w = searcher.weighting
    stats = _term_stats(ix, plain)
    consts = term_constants(searcher, stats, stats)
    stats_view = _Stats(stats, ix.doc_count_all())
    deleted = _deleted_ids(ix)
    slack = 0.0 if round_to is None else 2 * 10.0 ** -round_to

    nparts = max(1, ix.spark.sparkContext.defaultParallelism)
    segs = ix.manifest.segments
    span = (max((s.max_doc_id for s in segs), default=0)
            - min((s.min_doc_id for s in segs), default=0))
    G = int(max(1, min(len(trees), nparts // (span // DEFAULT_BUCKET_WIDTH + 1))))
    by_group: list = [[] for _ in range(G)]
    for t in trees:
        by_group[zlib.crc32(str(t[0]).encode()) % G].append(t)
    pruned = [any(p[2] or p[3] for _, _, p in grp) for grp in by_group]

    cols = ["field", "term", "bucket", *_BLOCK_COLS[:-1]]
    if positional:
        cols.append("positions")
    if any(pruned) or with_stats:
        cols += ["min_id", "max_id", "max_tf", "min_len_byte"]
    blocks = ix.postings_blocks().filter(
        F.col("term").isin(sorted({t for _, t in consts}))
        & F.col("field").isin(sorted({f for f, _ in consts}))
    ).select(*cols)
    blocks = blocks.withColumn(
        "g", F.explode(F.sequence(F.lit(0), F.lit(G - 1))) if G > 1 else F.lit(0))
    parts = blocks.repartition(nparts, "bucket", "g")

    def kernel(batches, report=False):
        acc: dict = {}  # g -> (field, term) -> [block-row frames]
        for pdf in batches:
            for (g, fld, trm), idx in pdf.groupby(
                    ["g", "field", "term"], sort=False).indices.items():
                acc.setdefault(g, {}).setdefault((fld, trm), []).append(pdf.iloc[idx])
        rows: list = []
        for g, by_term in acc.items():
            frames = {ft: pd.concat(v, ignore_index=True) for ft, v in by_term.items()}
            keep: dict = {}
            if pruned[g] or report:
                keep, qstats = _prune(frames, [p for _, _, p in by_group[g]],
                                      k, slack, consts, w, deleted)
            if report:
                rows += [(*st, 0, 0) for st in qstats]
                rows.append((None, 0, 0, None, sum(int(m.sum()) for m in keep.values()),
                             sum(m.size for m in keep.values())))
                continue
            postings: dict = {}
            positions: dict = {}
            for ft, fr in frames.items():
                fr = fr[keep[ft]] if ft in keep else fr
                if len(fr):
                    _load_term(postings, positions, ft, _cols(fr), ft in positional, deleted)
            ev = LocalEvaluator(postings, positions, consts, stats_view, w)
            for qid, q, _ in by_group[g]:
                ids, sc = ev.evaluate(q)
                top = _local_top(ids, sc, k, slack)
                rows.append(([qid] * top.size, ids[top], sc[top]))
        if report:
            yield pd.DataFrame(rows, columns=[c.split()[0] for c in _STATS.split(",")])
        elif rows:
            yield pd.DataFrame({"query_id": [qid for r in rows for qid in r[0]],
                                "doc_id": np.concatenate([r[1] for r in rows]),
                                "score": np.concatenate([r[2] for r in rows])}, copy=False)

    cand = parts.mapInPandas(kernel, "query_id string, doc_id long, score double")
    if round_to is not None:
        cand = cand.withColumn("score", F.round(F.col("score"), round_to))
    out = _topk_window(cand, k)
    if not with_stats:
        return out
    st = parts.mapInPandas(functools.partial(kernel, report=True), _STATS).toPandas()
    return out, {
        "qt_blocks_total": int(st["total"].sum()), "qt_blocks_kept": int(st["kept"].sum()),
        "decode_blocks_total": int(st["dec_total"].sum()),
        "decode_blocks_kept": int(st["dec_kept"].sum()),
        "theta": st.dropna(subset=["theta"]).groupby("query_id")["theta"].max().to_dict(),
    }
