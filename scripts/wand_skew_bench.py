"""The bucket placement's two block skips on a skewed corpus.

Builds (or reuses) a zipfian synthetic code corpus WITH a realistic
long-tail identifier vocabulary (rare_vocab symbols, df ≈ 60 — real code
corpora are full of df<100 identifiers), then times three batch workloads
through ``local.bucket_topk`` with and without the skip that applies,
asserting identical (query_id, rank, doc_id, score) rows:

- ``selective``: 1 hot head term + 1-2 rare ``sym_*`` tail terms, Or
  semantics — block-max skip (``batch_wand_search``) vs none
  (``batch_term_search``); θ is driven by the rare term's quality.
- ``saturated``: 1 hot head term + 1-2 mid-frequency ``VOCAB`` tail terms
  (df ≈ 15k), Or semantics — every term touches every block range, the
  control where no exact bound can prune.
- ``conjunctive``: the selective queries with And semantics — And skip
  (``conjunctive_skip=True``) vs none.

Each side runs ``WAND_RUNS`` times, alternating, and the best is kept;
block counts come from ``with_stats=True``. Writes BENCH/WAND_SKEW.json.

Env: WAND_DOCS (default 200000), WAND_QUERIES (200), WAND_CPUS (4),
WAND_K (10), WAND_RARE_VOCAB (16667), WAND_RUNS (3).
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_DOCS = int(os.environ.get("WAND_DOCS", "200000"))
N_QUERIES = int(os.environ.get("WAND_QUERIES", "200"))
CPUS = int(os.environ.get("WAND_CPUS", "4"))
K = int(os.environ.get("WAND_K", "10"))
RARE_VOCAB = int(os.environ.get("WAND_RARE_VOCAB", "16667"))
RUNS = int(os.environ.get("WAND_RUNS", "3"))

CORPUS_DIR = os.path.join(REPO, ".index_cache", f"wand_corpus_{N_DOCS}_r{RARE_VOCAB}")
IDX_DIR = os.path.join(REPO, ".index_cache", f"wand_idx_{N_DOCS}_r{RARE_VOCAB}")


def selective_workload(n: int) -> list[tuple[str, str, list[str]]]:
    """1 hot head term + 1-2 rare sym_* tail terms per query (df ≈ 60)."""
    from whoosh_spark.corpus import VOCAB

    rng = random.Random(4321)
    head = VOCAB[:20]
    out = []
    for i in range(n):
        terms = [rng.choice(head)] + [
            f"sym_{rng.randrange(RARE_VOCAB)}" for _ in range(rng.choice([1, 1, 2]))
        ]
        out.append((f"q{i}", "content", terms))
    return out


def saturated_workload(n: int) -> list[tuple[str, str, list[str]]]:
    """1 hot head term + 1-2 mid-frequency tail terms (df ≈ 15k): every
    term saturates every chunk — the no-prune control."""
    from whoosh_spark.corpus import VOCAB

    rng = random.Random(4321)
    head, tail = VOCAB[:20], VOCAB[-24:]
    out = []
    for i in range(n):
        terms = [rng.choice(head)] + rng.sample(tail, rng.choice([1, 1, 2]))
        out.append((f"q{i}", "content", terms))
    return out


def main() -> None:
    from whoosh_spark.corpus import synth_code_corpus
    from whoosh_spark.index import Index, build_index
    from whoosh_spark.schema import code_corpus_schema
    from whoosh_spark.search import Searcher
    from whoosh_spark.search.batch import (
        batch_conjunctive_search,
        batch_term_search,
        batch_wand_search,
    )
    from whoosh_spark.session import get_spark

    spark = get_spark("wand_skew", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS * 4, 8))
    spark.sparkContext.setLogLevel("ERROR")

    if not os.path.exists(os.path.join(CORPUS_DIR, "_SUCCESS")):
        synth_code_corpus(spark, N_DOCS, partitions=64,
                          rare_vocab=RARE_VOCAB).write.mode(
            "overwrite").parquet(CORPUS_DIR)
    docs = spark.read.parquet(CORPUS_DIR)

    from whoosh_spark.index.segment import index_exists, read_manifest

    rebuild = True
    if index_exists(IDX_DIR):
        try:
            rebuild = read_manifest(IDX_DIR).doc_count_all() != N_DOCS
        except Exception:
            rebuild = True
    if rebuild:
        import shutil

        shutil.rmtree(IDX_DIR, ignore_errors=True)
        build_index(spark, docs, code_corpus_schema(), IDX_DIR, sha_col="content")

    s = Searcher(Index(spark, IDX_DIR), exact_scores=True, cache_postings=False)

    def rows(df):
        return sorted((r["query_id"], r["rank"], r["doc_id"], r["score"])
                      for r in df.collect())

    def measure(name: str, qs: list, conjunctive: bool) -> dict:
        """Kernel without the skip vs with it, alternating, best of RUNS."""
        if conjunctive:
            off = lambda q: batch_term_search(s, q, k=K, conjunctive=True,  # noqa: E731
                                              conjunctive_skip=False)
            on = lambda q: batch_term_search(s, q, k=K, conjunctive=True)  # noqa: E731
            _, stats = batch_conjunctive_search(s, qs, k=K, with_stats=True)
        else:
            off = lambda q: batch_term_search(s, q, k=K)  # noqa: E731
            on = lambda q: batch_wand_search(s, q, k=K)  # noqa: E731
            _, stats = batch_wand_search(s, qs, k=K, with_stats=True)
        stats.pop("theta")
        off(qs[:2]).collect()  # warm footers, stats and Python workers
        on(qs[:2]).collect()
        best = {"off": None, "on": None}
        got = {}
        for _ in range(RUNS):
            for side, fn in (("off", off), ("on", on)):
                t0 = time.time()
                got[side] = rows(fn(qs))
                dt = time.time() - t0
                best[side] = dt if best[side] is None else min(best[side], dt)
        assert got["on"] == got["off"], f"the skip changed the rows on {name}"
        return {
            "workload": name,
            "kernel_no_skip_sec": round(best["off"], 2),
            "kernel_skip_sec": round(best["on"], 2),
            "skip_over_no_skip": round(best["on"] / best["off"], 2),
            **stats,
            "qt_prune_pct": round(
                100 * (1 - stats["qt_blocks_kept"] / stats["qt_blocks_total"]), 1),
            "decode_prune_pct": round(
                100 * (1 - stats["decode_blocks_kept"] / stats["decode_blocks_total"]), 1),
            "rows_identical": True,
        }

    out = {
        "n_docs": N_DOCS,
        "n_queries": N_QUERIES,
        "k": K,
        "cpus": CPUS,
        "rare_vocab": RARE_VOCAB,
        "runs": RUNS,
        "selective": measure(
            "selective Or: 1 hot head term + 1-2 rare sym_* terms (df~60); "
            "block-max skip", selective_workload(N_QUERIES), False),
        "saturated": measure(
            "saturated Or control: 1 hot head term + 1-2 mid-df (~15k) terms; "
            "block-max skip", saturated_workload(N_QUERIES), False),
        "conjunctive": measure(
            "And: 1 hot head term AND 1-2 rare sym_* terms (df~60); And skip",
            selective_workload(N_QUERIES), True),
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "WAND_SKEW.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
