"""Extended differential fuzz campaign: deeper trees + multiterm leaves
+ all three scoring paths, against the pure-python oracle from
tests/test_fuzz_differential.py.

Extends the in-suite fuzzer along the axes it holds fixed:

- tree depth up to 3 (suite caps at 2);
- MultiTerm leaves (Prefix / Wildcard / TermRange constantscore=True,
  FuzzyTerm scored) resolved for the oracle with the engine's documented
  expansion rules (0 -> Null, 1 -> Term(boost), n constantscore ->
  score-1.0 doc set with boost ignored — reference terms.py:195-211 quirk,
  n scored -> Or-of-Terms with the multiterm's boost at the Or);
- every tree graded on the adaptive local path AND the distributed
  exact-join path; a slice also on the aggregation path
  (exact_scores=False) and the WAND path where eligible;
- an independent TF_IDF oracle slice (idf*w composition under the same
  tree space).

Usage: python scripts/fuzz_campaign.py [n_trees] [base_seed]
Exit code 0 = no mismatches; prints each mismatch with its repro seed.
"""

from __future__ import annotations

import os
import random
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tests"))

import test_fuzz_differential as fz  # noqa: E402
import whoosh_spark.query as Q  # noqa: E402
from whoosh_spark.query import nodes as QN  # noqa: E402
from whoosh_spark.index import Index, build_index  # noqa: E402
from whoosh_spark.schema import IndexSchema, TEXT  # noqa: E402
from whoosh_spark.search import Searcher  # noqa: E402
from whoosh_spark.search.scoring import TF_IDF  # noqa: E402

VOCAB = fz.VOCAB
K = 15


class Oracle(fz.PyOracle):
    def eval(self, q):
        if isinstance(q, QN._NullQuery):
            return {}
        return super().eval(q)

    def tfidf_eval(self, q):
        """Independent TF_IDF composition: score(term) = idf * w (reference
        scoring.py TF_IDF), same compositional algebra as eval()."""
        import math

        if isinstance(q, QN._NullQuery):
            return {}
        if isinstance(q, Q.Term):
            out = {}
            df = sum(1 for t in self.toks if q.text in t)
            if not df:
                return out
            idf = math.log(self.N / (df + 1)) + 1
            for i, toks in enumerate(self.toks):
                w = toks.count(q.text)
                if w:
                    out[i] = idf * w * q.boost
            return out
        # reuse the compositional rules by temporarily swapping the leaf
        orig = Oracle.eval

        def leaf_eval(slf, qq):
            if isinstance(qq, Q.Term):
                return slf.tfidf_eval(qq)
            return orig(slf, qq)

        try:
            Oracle.eval = leaf_eval
            return fz.PyOracle.eval(self, q)
        finally:
            Oracle.eval = orig


def _mt_leaf(rng: random.Random):
    """A random MultiTerm leaf over the 8-word vocab (sometimes matching
    nothing, one term, or several)."""
    kind = rng.choice(["prefix", "prefix", "wildcard", "range", "fuzzy"])
    boost = rng.choice([1.0, 1.0, 2.0])
    if kind == "prefix":
        # 'x'/'zz' match nothing; 'c'/'go' one; '' and 'a'..'h' spread
        p = rng.choice(["a", "b", "c", "d", "e", "f", "g", "h", "go", "br",
                        "x", "zz", "alfa", "hot"])
        return Q.Prefix("text", p, boost=boost)
    if kind == "wildcard":
        w = rng.choice(VOCAB)
        pat = rng.choice([
            w[:-1] + "?", "?" + w[1:], w[:2] + "*", "*" + w[-2:],
            "*o*", "*a", "q*",
        ])
        return Q.Wildcard("text", pat, boost=boost)
    if kind == "range":
        lo, hi = sorted(rng.sample(VOCAB + ["aaa", "zzz"], 2))
        if rng.random() < 0.2:
            lo = None
        if rng.random() < 0.2:
            hi = None
        return Q.TermRange("text", lo, hi,
                           startexcl=rng.random() < 0.3,
                           endexcl=rng.random() < 0.3, boost=boost)
    w = rng.choice(VOCAB + ["golff", "hotell", "alpha"])
    return Q.FuzzyTerm("text", w, maxdist=rng.choice([1, 1, 2]),
                       prefixlength=rng.choice([0, 1]), boost=boost)


def gen(rng: random.Random, depth: int = 0, maxdepth: int = 3):
    if depth >= maxdepth or rng.random() < 0.35:
        if rng.random() < 0.30:
            return _mt_leaf(rng)
        return Q.Term("text", rng.choice(VOCAB),
                      boost=rng.choice([1.0, 1.0, 2.0]))
    kind = rng.choice(["and", "or", "andnot", "andmaybe", "require",
                       "dismax", "not_in_and", "phrase", "constscore",
                       "otherwise", "every_in_and", "or_minmatch"])
    g = lambda: gen(rng, depth + 1, maxdepth)  # noqa: E731
    if kind == "constscore":
        return Q.ConstantScore(g(), score=rng.choice([0.5, 1.0, 3.0]))
    if kind == "otherwise":
        a = (Q.Phrase("text", ["alfa"] * 4) if rng.random() < 0.5 else g())
        return Q.Otherwise(a, g())
    if kind == "every_in_and":
        return Q.And([Q.Every("text"), g()])
    if kind == "or_minmatch":
        subs = [g() for _ in range(rng.randint(3, 4))]
        return Q.Or(subs, minmatch=rng.randint(2, len(subs)))
    if kind in ("and", "or", "dismax"):
        subs = [g() for _ in range(rng.randint(2, 4))]
        cls = {"and": Q.And, "or": Q.Or, "dismax": Q.DisjunctionMax}[kind]
        return cls(subs)
    if kind in ("andnot", "andmaybe", "require"):
        cls = {"andnot": Q.AndNot, "andmaybe": Q.AndMaybe,
               "require": Q.Require}[kind]
        return cls(g(), g())
    if kind == "not_in_and":
        return Q.And([g(), Q.Not(g())])
    words = [rng.choice(VOCAB) for _ in range(rng.randint(2, 3))]
    return Q.Phrase("text", words, slop=rng.choice([1, 1, 2]))


def resolve_multiterms(q):
    """Engine-documented multiterm expansion for the oracle side."""
    if isinstance(q, QN.MultiTerm):
        terms = sorted(t for t in VOCAB if q.term_predicate(t))
        if not terms:
            return Q.NullQuery
        if len(terms) == 1:
            return Q.Term(q.field, terms[0], boost=q.boost)
        ors = Q.Or([Q.Term(q.field, t) for t in terms])
        if q.constantscore:
            return Q.ConstantScore(ors, 1.0)  # boost ignored (ref quirk)
        ors.boost = q.boost
        return ors
    if isinstance(q, QN.CompoundQuery):
        return q._rebuild([resolve_multiterms(c) for c in q.subqueries])
    if isinstance(q, Q.Not):
        return Q.Not(resolve_multiterms(q.query), boost=q.boost)
    if isinstance(q, QN.BinaryQuery):
        return type(q)(resolve_multiterms(q.a), resolve_multiterms(q.b),
                       boost=q.boost)
    if isinstance(q, Q.ConstantScore):
        return Q.ConstantScore(resolve_multiterms(q.child), q.score,
                               boost=q.boost)
    return q


def topk(scores: dict[int, float], nd: int = 9):
    return sorted(((d, round(s, nd)) for d, s in scores.items()),
                  key=lambda x: (-x[1], x[0]))[:K]


def canon(rows) -> list:
    """(doc, rounded-score) rows re-sorted by (score desc, doc asc): docs
    whose scores agree at nd digits form a tie GROUP whose internal order
    is not comparable across float-association orders (the engine and the
    python oracle can differ by 1 ulp inside a group, flipping it).
    Bit-exactness against the real reference is asserted in
    tests/test_search_differential.py; this campaign checks semantics."""
    return sorted(rows, key=lambda x: (-x[1], x[0]))


def equivalent_topk(got, want, want_full=None) -> bool:
    """Equal after tie-group canonicalization; the k-th (boundary) score
    group only needs matching GROUP SIZE — a 1-ulp flip at the cut can
    legitimately swap WHICH tied doc makes top-k — but every engine doc at
    the boundary score must come from the oracle's tie group at that score
    (``want_full``: the oracle's complete untruncated rows; without it the
    check can only see the oracle's in-k boundary docs). An engine result
    with fabricated doc ids at the boundary therefore fails."""
    if len(got) != len(want):
        return False
    if not got:
        return True
    g, w = canon(got), canon(want)
    if g == w:
        return True
    gb, wb = g[-1][1], w[-1][1]
    if gb != wb:
        return False
    g_in = [x for x in g if x[1] > gb]
    w_in = [x for x in w if x[1] > wb]
    if g_in != w_in:
        return False
    g_tie = {d for d, s in g if s == gb}
    cand_rows = want if want_full is None else want_full
    candidates = {d for d, s in cand_rows if s == wb}
    return g_tie <= candidates


def run(spark, n_trees: int, base_seed: int, workdir: str) -> int:
    docs = fz._docs()
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(docs)])
    d = os.path.join(workdir, "fuzz_campaign_ix")
    build_index(spark, df, IndexSchema.of(text=TEXT()), d, sha_col=None)
    ix = Index(spark, d)
    oracle = Oracle(docs)

    fails = 0
    t0 = time.time()
    s_local = Searcher(ix)
    s_dist = Searcher(ix, use_local=False)
    s_agg = Searcher(ix, use_local=False, exact_scores=False)
    s_tfidf = Searcher(ix, weighting=TF_IDF(), use_local=False)
    for i in range(n_trees):
        rng = random.Random(base_seed + i)
        q = gen(rng)
        rq = resolve_multiterms(q)
        raw = oracle.eval(rq)
        want = topk(raw)
        configs = [("local", s_local, 9)]
        if i % 4 == 0:
            configs.append(("dist", s_dist, 9))
        if i % 8 == 0:
            configs.append(("agg", s_agg, 6))
        if i % 8 == 4:  # the bucket placement's block-max skip: exact
            configs.append(("wand", s_dist, 9))
        for name, srch, nd in configs:
            got = [(r["doc_id"], round(r["score"], nd))
                   for r in srch.search(q, limit=K,
                                        use_wand=(name == "wand")).collect()]
            wr = [(dd, round(ss, nd)) for dd, ss in want]
            # the oracle's COMPLETE row set at this rounding (same
            # double-round as wr) anchors the boundary-tie check
            wf = [(dd, round(round(ss, 9), nd)) for dd, ss in raw.items()]
            if not equivalent_topk(got, wr, want_full=wf):
                fails += 1
                print(f"MISMATCH seed={base_seed + i} path={name}\n"
                      f"  q={q!r}\n  got ={got}\n  want={wr}")
        if i % 10 == 5:  # TF_IDF slice on the distributed path
            raw_t = oracle.tfidf_eval(rq)
            want_t = topk(raw_t)
            got_t = [(r["doc_id"], round(r["score"], 9))
                     for r in s_tfidf.search(q, limit=K).collect()]
            wf_t = [(dd, round(ss, 9)) for dd, ss in raw_t.items()]
            if not equivalent_topk(got_t, want_t, want_full=wf_t):
                fails += 1
                print(f"MISMATCH seed={base_seed + i} path=tfidf\n"
                      f"  q={q!r}\n  got ={got_t}\n  want={want_t}")
        if (i + 1) % 50 == 0:
            print(f"  {i + 1}/{n_trees} trees, {fails} mismatches, "
                  f"{time.time() - t0:.0f}s", flush=True)
        if (i + 1) % 100 == 0:
            # bound long-campaign JVM growth: drop cached posting frames
            # and any persisted RDDs before the next hundred trees
            for s in (s_local, s_dist, s_agg, s_tfidf):
                s.clear_cache()
            spark.catalog.clearCache()
    for s in (s_local, s_dist, s_agg, s_tfidf):
        s.clear_cache()
    print(f"DONE {n_trees} trees, {fails} mismatches, "
          f"{time.time() - t0:.0f}s")
    return fails


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 400
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    import tempfile

    # library session (8g driver heap): a long campaign accumulates JVM
    # state across ~40 stages/tree — the default 1g driver OOMs on
    # broadcast builds around tree 300
    from whoosh_spark.session import get_spark

    spark = get_spark(
        "fuzz_campaign",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=8,
    )
    with tempfile.TemporaryDirectory() as td:
        rc = run(spark, n, seed, td)
    spark.stop()
    sys.exit(1 if rc else 0)
