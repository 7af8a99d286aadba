"""Supplementary benchmarks cited in OPTIMIZATION_r06.md — NOT the driver
metric (bench.py is frozen; this file exists so the numbers in the round
report are reproducible).

  python bench_extra.py              # all sections at sf1.0
  python bench_extra.py --sf10      # also build the 10x replica corpus
                                     # and repeat the batch section there
  python bench_extra.py --wand-ab --sf-dir=DIR
                                     # only the wand_ab section, on
                                     # DIR/documents.parquet (the sf0.1
                                     # testdata for BENCH/WAND_AB.json)
  python bench_extra.py --sf-dir=DIR
                                     # only the batch section, on the
                                     # corpus DIR/documents.parquet
                                     # (e.g. the sf0.1 testdata) and on
                                     # a synthetic 45,000-word-lexicon
                                     # corpus

Sections:
  batch_ab     exact evaluator in each bucket partition (local.bucket_topk)
               vs DataFrame plan, disjunctive AND conjunctive 200-query
               batches, and vs the phrase, prefix, fuzzy and pattern
               batch kernels on up-to-100-query slop-1 phrase, Prefix
               (three expansion-width bands), FuzzyTerm (prefixlength 1
               and 0) and Wildcard batches (identical-results assert +
               best-of-2 wall times, cached lexicon size recorded);
               --sf-dir runs repeat it on a synthetic 45,000-word
               lexicon, where the driver-side multiterm expansion costs
               most
  local_dist   per-query driver-local vs distributed latency for the
               bench headline shapes (the crossover evidence backing
               BENCH/LOCAL_CROSSOVER.json)
  wand_ab      block-max WAND wall times (best-of-3) on a testdata
               corpus and a 20,000-doc synth_code_corpus: single-query
               search(use_wand=True) on the tests/test_wand.py shapes and
               a selective rare+hot bag batch through batch_wand_search,
               each against the exact route (rows asserted equal, bit
               equality recorded) with blocks kept/total, and the
               single-query conjunctive chunk intersection (And of a rare
               and a hot term, and of a rare term and a slop-2 phrase)
               against the full decode (BENCH/WAND_AB.json)

Env: SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))
#: distinct words of the synthetic large-lexicon corpus (below
#: Index.PREFETCH_TERMS = 50,000, so its lexicon is driver-cached)
LEXICON_TERMS = 45_000


def best_of(fn, n=2):
    """Best-of-``n`` wall seconds of ``fn()``."""
    best = None
    for _ in range(n):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    return round(best, 3)


def _bench_batch(spark, idx_dir: str, tag: str, out: dict, docs_pq: str):
    from pyspark.sql import functions as F

    import whoosh_spark.query as Q
    import whoosh_spark.search.batch as B
    from whoosh_spark.index import Index
    from whoosh_spark.search import Searcher
    from whoosh_spark.search import local as L

    ix = Index(spark, idx_dir)
    s = Searcher(ix, exact_scores=True, cache_postings=False)
    top_terms = [
        r["term"]
        for r in ix.termstats().filter(F.col("field") == "text")
        .orderBy(F.col("df").desc(), "term").limit(400).collect()
    ]
    rng = random.Random(1234)
    batch = [(f"b{i}", "text", rng.sample(top_terms, min(2, len(top_terms))))
             for i in range(200)]

    def rows(df):
        return sorted((r["query_id"], r["rank"], r["doc_id"],
                       round(r["score"], 9)) for r in df.collect())

    rec: dict = {}
    for conj in (False, True):
        name = "conjunctive" if conj else "disjunctive"
        node = Q.And if conj else Q.Or
        trees = [(qid, node([Q.Term(f, t) for t in terms]))
                 for qid, f, terms in batch]
        spark.sparkContext.setJobDescription(f"{tag} {name} bucket placement")
        bucket_rows = rows(L.bucket_topk(s, trees, 10))
        if conj:
            spark.sparkContext.setJobDescription(f"{tag} {name} chunk plan")
            df_rows = rows(B.batch_conjunctive_search(s, batch, k=10))
            df_sec = best_of(lambda: B.batch_conjunctive_search(s, batch, k=10).collect())
        else:
            orig = L.bucket_topk
            L.bucket_topk = lambda *a, **kw: None
            try:
                spark.sparkContext.setJobDescription(f"{tag} {name} DataFrame plan")
                df_rows = rows(B.batch_term_search(s, batch, k=10, use_wand=False))
                df_sec = best_of(lambda: B.batch_term_search(
                    s, batch, k=10, use_wand=False).collect())
            finally:
                L.bucket_topk = orig
        assert bucket_rows == df_rows, f"{tag} {name}: bucket placement/plan mismatch"
        bucket_sec = best_of(lambda: L.bucket_topk(s, trees, 10).collect())
        rec[name] = {"bucket_sec": bucket_sec, "dataframe_sec": df_sec,
                     "identical_results": True}
    # phrases are drawn from the corpus text
    texts = [r["text"] for r in
             spark.read.parquet(docs_pq).select("text").limit(500).collect()]
    rec.update(_bench_routed_shapes(spark, s, top_terms, texts))
    out[f"batch_ab_{tag}"] = rec


#: expansion-width bands of the prefix A/B, in expanded terms
PREFIX_BANDS = ((1, 4), (5, 16), (17, 1024))


def _bench_routed_shapes(spark, s, top_terms, texts) -> dict:
    """bucket_topk against the batch kernel of each shape batch_search
    may send to the bucket placement: slop-1 phrases (adjacent word pairs
    of ``texts``), Prefixes in three expansion-width bands (2-4 letter
    stems of the cached lexicon), FuzzyTerms (top terms with the last
    letter dropped; prefixlength 1, and 0 as the parser builds ``word~``)
    and Wildcards (``t?rm*`` shapes of the top terms). Up to 100 queries
    a batch. The bucket time includes the driver-side expansion against
    the cached lexicon; batch_search_sec is the route batch_search
    picks. Rows must be equal, scores bit for bit."""
    import bisect

    import whoosh_spark.query as Q
    import whoosh_spark.search.batch as B
    from whoosh_spark.search import local as L

    s.index._maybe_prefetch_field("text")
    lexicon = sorted(t for (f, t), row in s.index._term_stats_cache.items()
                     if f == "text" and row is not None)

    def width(stem):
        return (bisect.bisect_left(lexicon, stem + "\uffff")
                - bisect.bisect_left(lexicon, stem))

    rng = random.Random(4321)
    top = set(top_terms)
    pairs: set = set()
    for text in texts:
        words = text.lower().split()
        pairs.update((a, b) for a, b in zip(words, words[1:])
                     if a != b and a in top and b in top)
    phrases = rng.sample(sorted(pairs), min(100, len(pairs)))
    stem_width = {st: width(st) for st in
                  {t[:n] for t in lexicon for n in (2, 3, 4) if len(t) > n}}
    typos = sorted({t[:-1] for t in top_terms if len(t) > 3})
    typos = rng.sample(typos, min(100, len(typos)))
    globs = sorted({f"{t[0]}?{t[2:4]}*" for t in top_terms if len(t) > 3})
    globs = rng.sample(globs, min(100, len(globs)))

    def rows(df):
        return sorted((r["query_id"], r["rank"], r["doc_id"], r["score"])
                      for r in df.collect())

    def fuzzy(pl):
        return ([(f"f{pl}_{i}", "text", w) for i, w in enumerate(typos)],
                lambda qs: Q.FuzzyTerm("text", qs[2], maxdist=1, prefixlength=pl),
                lambda qs: B.batch_fuzzy_search(s, qs, k=10, maxdist=1,
                                                prefixlength=pl))

    shapes = {
        "phrase": ([(f"p{i}", "text", list(ws)) for i, ws in enumerate(phrases)],
                   lambda qs: Q.Phrase("text", qs[2]),
                   lambda qs: B.batch_phrase_search(s, qs, k=10)),
    }
    for lo, hi in PREFIX_BANDS:
        pool = sorted(st for st, w in stem_width.items() if lo <= w <= hi)
        if pool:
            stems = rng.sample(pool, min(100, len(pool)))
            shapes[f"prefix_{lo}-{hi}_terms"] = (
                [(f"x{i}", "text", st) for i, st in enumerate(stems)],
                lambda qs: Q.Prefix("text", qs[2]),
                lambda qs: B.batch_prefix_search(s, qs, k=10))
    shapes.update({
        "fuzzy_prefixlength1": fuzzy(1),
        "fuzzy_prefixlength0": fuzzy(0),
        "wildcard": ([(f"w{i}", "text", g) for i, g in enumerate(globs)],
                     lambda qs: Q.Wildcard("text", qs[2]),
                     lambda qs: B.batch_multiterm_search(
                         s, [(q[0], Q.Wildcard("text", q[2])) for q in qs], k=10)),
    })
    rec: dict = {"cached_lexicon_terms": len(lexicon)}
    for name, (queries, tree, kernel) in shapes.items():
        trees = [(q[0], tree(q)) for q in queries]
        spark.sparkContext.setJobDescription(f"{name} bucket placement")
        bucket_rows = rows(L.bucket_topk(s, trees, 10))
        spark.sparkContext.setJobDescription(f"{name} batch kernel")
        assert bucket_rows == rows(kernel(queries)), f"{name}: bucket/kernel mismatch"
        rec[name] = {
            "queries": len(trees),
            "bucket_sec": best_of(lambda: L.bucket_topk(s, trees, 10).collect()),
            "kernel_sec": best_of(lambda: kernel(queries).collect()),
            "batch_search_sec": best_of(lambda: B.batch_search(s, trees, k=10).collect()),
            "identical_results": True,
        }
        if name.startswith("prefix"):
            ws = sorted(stem_width[q[2]] for q in queries)
            rec[name]["median_expanded_terms"] = ws[len(ws) // 2]
    return rec


def _bench_local_dist(spark, idx_dir: str, out: dict):
    import whoosh_spark.query as Q
    from whoosh_spark.index import Index
    from whoosh_spark.search import Searcher, local

    ix = Index(spark, idx_dir)
    s = Searcher(ix, exact_scores=True, cache_postings=False)
    s.local_threshold = 10 ** 9
    sd = Searcher(ix, exact_scores=True, cache_postings=False, use_local=False)
    cases = {
        "q_and3": Q.And([Q.Term("text", t) for t in ["scan", "merge", "join"]]),
        "q_or5": Q.Or([Q.Term("text", t)
                       for t in ["scan", "join", "window", "sort", "batch"]]),
        "q_phrase2": Q.Phrase("text", ["order", "sort"]),
    }
    local.try_local_search(s, Q.Term("text", "scan"), 10)
    sd.search(Q.Term("text", "scan"), limit=10).collect()
    rec = {}
    for name, q in cases.items():
        lb = db = None
        for _ in range(3):
            t0 = time.time()
            local.try_local_search(s, q, 10)
            dt = time.time() - t0
            lb = dt if lb is None or dt < lb else lb
        for _ in range(2):
            t0 = time.time()
            sd.search(q, limit=10).collect()
            dt = time.time() - t0
            db = dt if db is None or dt < db else db
        rec[name] = {"local_sec": round(lb, 3), "distributed_sec": round(db, 3)}
    out["local_vs_distributed_sf1.0"] = rec


#: synth_code_corpus size of the wand_ab section; its ``sym_<i>`` tail
#: (df ~ 5.1 * docs / WAND_RARE_VOCAB ~ 50) supplies the rare terms
WAND_DOCS = 20_000
WAND_RARE_VOCAB = 2_000


def _bench_wand_ab(spark, out: dict, sf_dir: str):
    """WAND vs the exact route, single query and selective batch, on the
    testdata corpus ``sf_dir`` and a WAND_DOCS synth_code_corpus."""
    from pyspark.sql import functions as F

    import whoosh_spark.query as Q
    from whoosh_spark.corpus import synth_code_corpus
    from whoosh_spark.index import Index, build_index
    from whoosh_spark.schema import code_corpus_schema
    from whoosh_spark.search import Searcher
    from whoosh_spark.search.batch import batch_term_search, batch_wand_search

    synth = os.path.join(REPO, ".index_cache", f"wand_synth{WAND_DOCS}")
    if not os.path.exists(synth):
        build_index(spark, synth_code_corpus(spark, WAND_DOCS,
                                             rare_vocab=WAND_RARE_VOCAB),
                    code_corpus_schema(), synth, sha_col="content")
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    sf_idx = _bench_index(spark, os.path.join(sf_dir, "documents.parquet"),
                          f"bench_{sf_name}")
    # the tests/test_wand.py shapes; the testdata has its own 31-word
    # vocabulary
    words = {"content": ["def", "merge", "data", "cache", "mutex", "alpha",
                         "lima", "import", "golf"],
             "text": ["scan", "merge", "join", "window", "sort", "row",
                      "order", "group", "filter"]}
    for tag, idx, field in ((sf_name, sf_idx, "text"),
                            (f"synth{WAND_DOCS}", synth, "content")):
        ix = Index(spark, idx)
        s = Searcher(ix, exact_scores=True, cache_postings=False, use_local=False)
        w = words[field]
        shapes = {
            "term": [(w[0], 1.0)],
            "or2": [(w[0], 1.0), (w[1], 1.0)],
            "or3": [(w[2], 1.0), (w[3], 1.0), (w[4], 1.0)],
            "or3b": [(w[5], 1.0), (w[6], 1.0), (w[7], 1.0)],
            "or2_boosted": [(w[0], 2.0), (w[8], 1.0)],
        }
        rec: dict = {"docs": ix.doc_count_all(), "single": {}}
        for name, terms in shapes.items():
            q = (Q.Term(field, terms[0][0]) if len(terms) == 1 else
                 Q.Or([Q.Term(field, t, boost=b) for t, b in terms]))
            exact = [(r["doc_id"], r["score"])
                     for r in s.search(q, limit=10, use_wand=False).collect()]
            got = [(r["doc_id"], r["score"])
                   for r in s.search(q, limit=10, use_wand=True).collect()]
            # ranks must match; scores within 1e-9 so the section can also
            # time trees whose WAND was not bit-exact (recorded below)
            assert [d for d, _ in got] == [d for d, _ in exact], (tag, name)
            assert all(abs(a - b) <= 1e-9 * abs(b)
                       for (_, a), (_, b) in zip(got, exact)), (tag, name)
            _, st = batch_wand_search(s, [("q", field, [t for t, _ in terms])],
                                      k=10, with_stats=True)
            rec["single"][name] = {
                "wand_s": best_of(lambda: s.search(q, limit=10, use_wand=True).collect(), 3),
                "exact_s": best_of(lambda: s.search(q, limit=10, use_wand=False).collect(), 3),
                "bit_exact": got == exact,
                "blocks_kept": st["qt_blocks_kept"],
                "blocks_total": st["qt_blocks_total"],
            }
        # selective batch: each of the 20 rarest terms with df >= k (not
        # among the 5 hottest) paired with one of the 5 hottest
        by_df = [r["term"] for r in ix.termstats()
                 .filter((F.col("field") == field) & (F.col("df") >= 10))
                 .orderBy("df", "term").collect()]
        hot = by_df[-5:]
        rare = [t for t in by_df[:20] if t not in hot]
        batch = [(f"b{i}", field, [r, hot[i % len(hot)]])
                 for i, r in enumerate(rare)]

        def ranked(df):
            return sorted((r["query_id"], r["rank"], r["doc_id"], r["score"])
                          for r in df.collect())

        exact = ranked(batch_term_search(s, batch, k=10, use_wand=False))
        got = ranked(batch_wand_search(s, batch, k=10))
        assert [r[:3] for r in got] == [r[:3] for r in exact], tag
        _, st = batch_wand_search(s, batch, k=10, with_stats=True)
        rec["batch"] = {
            "queries": len(batch),
            "wand_s": best_of(lambda: batch_wand_search(s, batch, k=10).collect(), 3),
            "exact_s": best_of(lambda: batch_term_search(
                s, batch, k=10, use_wand=False).collect(), 3),
            "bit_exact": got == exact,
            "blocks_kept": st["qt_blocks_kept"],
            "blocks_total": st["qt_blocks_total"],
            "decode_blocks_kept": st["decode_blocks_kept"],
            "decode_blocks_total": st["decode_blocks_total"],
        }
        # single-query conjunctive chunk intersection (the generic plan's
        # skip, Index.postings_for_conjunction) vs the full decode
        noskip = Searcher(ix, exact_scores=True, cache_postings=False,
                          use_local=False, conjunctive_skip=False)
        conj = {
            "and_rare_hot": Q.And([Q.Term(field, rare[0]), Q.Term(field, hot[-1])]),
            "and_rare_phrase2": Q.And([Q.Term(field, rare[0]),
                                       Q.Phrase(field, [hot[-1], hot[-2]], slop=2)]),
        }
        rec["conjunctive"] = {}
        for name, q in conj.items():
            got = [(r["doc_id"], r["score"]) for r in s.search(q, limit=10).collect()]
            assert got == [(r["doc_id"], r["score"])
                           for r in noskip.search(q, limit=10).collect()], (tag, name)
            rec["conjunctive"][name] = {
                "skip_s": best_of(lambda: s.search(q, limit=10).collect(), 3),
                "full_decode_s": best_of(lambda: noskip.search(q, limit=10).collect(), 3),
                "rows": len(got),
            }
        out.setdefault("wand_ab", {})[tag] = rec


def _bench_index(spark, docs_pq: str, name: str) -> str:
    """The index of ``docs_pq`` under .index_cache/<name>, built once."""
    idx = os.path.join(REPO, ".index_cache", name)
    if not os.path.exists(idx):
        from whoosh_spark.index import build_index
        from whoosh_spark.schema import ID, TEXT, IndexSchema

        schema = IndexSchema.of(lang=ID(stored=True), source=ID(stored=True),
                                text=TEXT())
        build_index(spark, spark.read.parquet(docs_pq), schema, idx,
                    sha_col="text")
    return idx


def _bench_lexicon_corpus(spark, n_terms: int) -> str:
    """documents.parquet of a synthetic corpus whose text field holds
    ``n_terms`` distinct words (random 4-8 letter strings): every word
    once, round-robin over the docs, plus 40 Zipf draws per doc from the
    first 2,000 words so top terms and adjacent pairs repeat. The
    testdata corpora share a 31-word vocabulary, which leaves the
    driver-side expansion of a multiterm against the cached lexicon
    unmeasured; this one stays under Index.PREFETCH_TERMS so the whole
    lexicon is cached."""
    import pandas as pd

    path = os.path.join(REPO, ".index_cache", f"lex{n_terms}_docs", "documents.parquet")
    if os.path.exists(path):
        return path
    rng = random.Random(97)
    letters = "abcdefghiklmnoprstuw"
    vocab: dict = {}
    while len(vocab) < n_terms:
        vocab.setdefault("".join(rng.choice(letters)
                                 for _ in range(rng.randint(4, 8))), None)
    words = list(vocab)
    n_docs = 3000
    hot = [1.0 / (r + 1) for r in range(2000)]
    texts = []
    for d in range(n_docs):
        own = words[d::n_docs]
        draws = rng.choices(words[:2000], weights=hot, k=40)
        texts.append(" ".join(draws[:20] + own + draws[20:]))
    pdf = pd.DataFrame({"doc_id": range(n_docs), "text": texts,
                        "lang": "en", "source": "synthetic"})
    spark.createDataFrame(pdf).repartition(4).write.mode("overwrite").parquet(path)
    return path


def main():
    from whoosh_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench_extra", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"cpus": cpus}

    sf_dir = next((a.split("=", 1)[1] for a in sys.argv
                   if a.startswith("--sf-dir=")), None)
    if "--wand-ab" in sys.argv:
        _bench_wand_ab(spark, out, sf_dir)
        print(json.dumps(out))
        spark.stop()
        return
    if sf_dir:
        name = os.path.basename(os.path.normpath(sf_dir))
        docs_pq = os.path.join(sf_dir, "documents.parquet")
        _bench_batch(spark, _bench_index(spark, docs_pq, f"bench_{name}"), name,
                     out, docs_pq)
        lex_pq = _bench_lexicon_corpus(spark, LEXICON_TERMS)
        _bench_batch(spark, _bench_index(spark, lex_pq, f"bench_lex{LEXICON_TERMS}"),
                     f"lex{LEXICON_TERMS}", out, lex_pq)
        print(json.dumps(out))
        spark.stop()
        return

    sf1_pq = "/root/testdata/sf1.0/documents.parquet"
    sf1_idx = _bench_index(spark, sf1_pq, "bench_sf1.0")
    _bench_batch(spark, sf1_idx, "50k", out, sf1_pq)
    _bench_local_dist(spark, sf1_idx, out)
    _bench_wand_ab(spark, out, os.path.dirname(sf1_pq))

    if "--sf10" in sys.argv:
        from pyspark.sql import functions as F

        sf10_dir = os.path.join(REPO, ".index_cache", "sf10_docs")
        doc_pq = os.path.join(sf10_dir, "documents.parquet")
        if not os.path.exists(doc_pq):
            docs = spark.read.parquet(sf1_pq)
            n = docs.count()
            reps = spark.range(10).select(F.col("id").alias("_rep"))
            big = (docs.crossJoin(reps)
                   .select((F.col("doc_id") + F.col("_rep") * n).alias("doc_id"),
                           *[c for c in docs.columns if c != "doc_id"]))
            big.repartition(8).write.mode("overwrite").parquet(doc_pq)
        _bench_batch(spark, _bench_index(spark, doc_pq, "bench_sf10_docs"),
                     "500k", out, doc_pq)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
