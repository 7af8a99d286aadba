"""Fresh-reader probe: what a newly opened ``Index`` pays for its first
local search, split by layer, with the Spark jobs each layer launches.

    python scripts/fresh_read_probe.py --label change --out BENCH/FRESH_READ.json
    python scripts/fresh_read_probe.py --src /path/to/other/checkout --label parent \\
        --out BENCH/FRESH_READ.json

The index has the shape of the perfbench ``ingest`` workload: a bulk build
of 1,000 ``synth_code_corpus`` documents, then writer rounds of 60 adds,
10 updates by unique path and 10 deletes, each committed without merging.
Three readers then run, as ``ingest`` runs them, each on a freshly opened
``Index``: the last round's token (hits), the deleted paths (empty) and
the updated paths. Per reader and layer it records the median wall time
over ``--reps`` fresh opens and the Spark jobs launched:

- ``open``: ``Index(spark, dir)``
- ``stats``: the first ``Index.term_stats`` of the query terms
- ``evaluate``: ``search.local.try_local_search``
- ``materialize``: ``Searcher.spark_rows_df(rows).collect()``

``--src`` names the source tree whose ``whoosh_spark`` is imported (default:
this checkout), so two trees can be compared on the same machine. The
result is stored under ``--label`` in ``--out``; other labels are kept.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIELD = "content"
N_DOCS, ROUNDS, ADDS, UPDATES, DELETES = 1000, 3, 60, 10, 10
LAYERS = ("open", "stats", "evaluate", "materialize")


def _build(spark, d: str, seed: int):
    """Bulk build plus writer rounds; returns the three readers'
    (field, terms) and the segment count."""
    import random

    from whoosh_spark.corpus import synth_code_corpus
    from whoosh_spark.index import Index, build_index
    from whoosh_spark.schema import code_corpus_schema

    # doc i of the corpus does not depend on its size: the bulk documents
    # come first, the writer rounds add the ones after them
    corpus = synth_code_corpus(spark, N_DOCS + ROUNDS * (ADDS + UPDATES),
                               seed=seed, rare_vocab=1000)
    build_index(spark, corpus.filter(corpus.doc_id < N_DOCS), code_corpus_schema(), d,
                sha_col=FIELD)
    rows = corpus.toPandas().sort_values("doc_id").to_dict("records")
    paths = {r["doc_id"]: r["path"] for r in rows[:N_DOCS]}
    rng = random.Random(seed)
    pool = iter(rows[N_DOCS:])
    for k in range(ROUNDS):
        token = f"round_{seed}_{k}"
        picked = rng.sample(sorted(paths), UPDATES + DELETES)
        upd, dels = picked[:UPDATES], picked[UPDATES:]
        w = Index(spark, d).writer()
        for _ in range(ADDS):
            doc = {c: v for c, v in next(pool).items() if c != "doc_id"}
            paths[w.add_document(**dict(doc, content=f"{doc['content']} {token}"))] = doc["path"]
        for old in upd:
            doc = {c: v for c, v in next(pool).items() if c != "doc_id"}
            paths[w.update_document(**dict(doc, path=paths[old],
                                           content=f"{doc['content']} {token}"))] = paths[old]
        for old in dels:
            w.delete_document(old)
        w.commit(merge=False)
        readers = {"hit": (FIELD, [token]),
                   "empty": ("path", [paths[old] for old in dels]),
                   "updated": ("path", [paths[old] for old in upd])}
        for old in upd + dels:
            del paths[old]
    return readers, len(Index(spark, d).manifest.segments)


def _probe(spark, d: str, field: str, terms: list[str]) -> dict:
    import whoosh_spark.query as Q
    from whoosh_spark.index import Index
    from whoosh_spark.search import Searcher
    from whoosh_spark.search.local import try_local_search

    sc = spark.sparkContext
    out: dict = {}

    def step(name, fn):
        group = f"fresh-read-{name}-{time.monotonic_ns()}"
        sc.setJobGroup(group, name, interruptOnCancel=False)
        t = time.perf_counter()
        try:
            value = fn()
        finally:
            sc.setJobGroup(None, None)
        out[name] = ((time.perf_counter() - t) * 1e3,
                     len(sc.statusTracker().getJobIdsForGroup(group)))
        return value

    ix = step("open", lambda: Index(spark, d))
    step("stats", lambda: ix.term_stats(field, terms))
    s = Searcher(ix)
    q = Q.Or([Q.Term(field, t) for t in terms])
    rows = step("evaluate", lambda: try_local_search(s, q, 100))
    if rows is None:
        raise RuntimeError(f"the local route declined {q}")
    step("materialize", lambda: s.spark_rows_df(rows).collect())
    out["rows"] = len(rows)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--src", default=ROOT, help="source tree to import whoosh_spark from")
    ap.add_argument("--label", required=True)
    ap.add_argument("--out", default=os.path.join(ROOT, "BENCH", "FRESH_READ.json"))
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--seed", type=int, default=51)
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.src))

    from whoosh_spark.session import get_spark

    spark = get_spark("fresh-read-probe", master="local[4]", shuffle_partitions=4,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="fresh-read-")
    try:
        d = os.path.join(work, "ix")
        readers, n_segments = _build(spark, d, args.seed)
        result = {"segments": n_segments, "reps": args.reps, "readers": {}}
        for name, (field, terms) in readers.items():
            _probe(spark, d, field, terms)  # warm the JVM and Python paths
            runs = [_probe(spark, d, field, terms) for _ in range(args.reps)]
            rec = {"rows": runs[0]["rows"]}
            for layer in LAYERS:
                rec[f"{layer}_ms"] = round(statistics.median(r[layer][0] for r in runs), 2)
                rec[f"{layer}_jobs"] = max(r[layer][1] for r in runs)
            rec["total_ms"] = round(statistics.median(
                sum(r[layer][0] for layer in LAYERS) for r in runs), 2)
            rec["total_jobs"] = sum(rec[f"{layer}_jobs"] for layer in LAYERS)
            result["readers"][name] = rec
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    record = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            record = json.load(f)
    record.setdefault("what", (
        "Fresh-reader cost per layer (median ms over reps) and Spark jobs "
        "(max over reps), perfbench ingest index shape; "
        "produced by scripts/fresh_read_probe.py"))
    record.setdefault("hardware", f"{os.cpu_count()} vCPU {platform.machine()}, Spark local[4]")
    record[args.label] = result
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({args.label: result}))


if __name__ == "__main__":
    main()
