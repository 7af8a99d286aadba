"""Supplementary benchmarks cited in OPTIMIZATION_r06.md — NOT the driver
metric (bench.py is frozen; this file exists so the numbers in the round
report are reproducible).

  python bench_extra.py              # all sections at sf1.0
  python bench_extra.py --sf10      # also build the 10x replica corpus
                                     # and repeat the batch section there

Sections:
  batch_ab     exact evaluator in each bucket partition (local.bucket_topk)
               vs DataFrame plan, disjunctive AND conjunctive 200-query
               batches (identical-results assert + best-of-2 wall times)
  local_dist   per-query driver-local vs distributed latency for the
               bench headline shapes (the crossover evidence backing
               BENCH/LOCAL_CROSSOVER.json)

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


def _bench_batch(spark, idx_dir: str, tag: str, out: dict):
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

    def best2(fn):
        best = None
        for _ in range(2):
            t0 = time.time()
            fn()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        return round(best, 2)

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
            df_sec = best2(lambda: B.batch_conjunctive_search(s, batch, k=10).collect())
        else:
            orig = L.bucket_topk
            L.bucket_topk = lambda *a, **kw: None
            try:
                spark.sparkContext.setJobDescription(f"{tag} {name} DataFrame plan")
                df_rows = rows(B.batch_term_search(s, batch, k=10, use_wand=False))
                df_sec = best2(lambda: B.batch_term_search(
                    s, batch, k=10, use_wand=False).collect())
            finally:
                L.bucket_topk = orig
        assert bucket_rows == df_rows, f"{tag} {name}: bucket placement/plan mismatch"
        bucket_sec = best2(lambda: L.bucket_topk(s, trees, 10).collect())
        rec[name] = {"bucket_sec": bucket_sec, "dataframe_sec": df_sec,
                     "identical_results": True}
    out[f"batch_ab_{tag}"] = rec


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


def main():
    from whoosh_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench_extra", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"cpus": cpus}

    sf1_idx = os.path.join(REPO, ".index_cache", "bench_sf1.0")
    if not os.path.exists(sf1_idx):
        from whoosh_spark.index import build_index
        from whoosh_spark.schema import ID, TEXT, IndexSchema

        docs = spark.read.parquet("/root/testdata/sf1.0/documents.parquet")
        schema = IndexSchema.of(lang=ID(stored=True), source=ID(stored=True),
                                text=TEXT())
        build_index(spark, docs, schema, sf1_idx, sha_col="text")
    _bench_batch(spark, sf1_idx, "50k", out)
    _bench_local_dist(spark, sf1_idx, out)

    if "--sf10" in sys.argv:
        from pyspark.sql import functions as F

        from whoosh_spark.index import build_index
        from whoosh_spark.schema import ID, TEXT, IndexSchema

        sf10_dir = os.path.join(REPO, ".index_cache", "sf10_docs")
        doc_pq = os.path.join(sf10_dir, "documents.parquet")
        if not os.path.exists(doc_pq):
            docs = spark.read.parquet("/root/testdata/sf1.0/documents.parquet")
            n = docs.count()
            reps = spark.range(10).select(F.col("id").alias("_rep"))
            big = (docs.crossJoin(reps)
                   .select((F.col("doc_id") + F.col("_rep") * n).alias("doc_id"),
                           *[c for c in docs.columns if c != "doc_id"]))
            big.repartition(8).write.mode("overwrite").parquet(doc_pq)
        idx10 = os.path.join(REPO, ".index_cache", "bench_sf10_docs")
        if not os.path.exists(idx10):
            schema = IndexSchema.of(lang=ID(stored=True), source=ID(stored=True),
                                    text=TEXT())
            build_index(spark, spark.read.parquet(doc_pq), schema, idx10,
                        sha_col="text")
        _bench_batch(spark, idx10, "500k", out)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
