"""Writer-commit probe: what one ``IndexWriter.commit`` of a perfbench
``ingest`` round costs, split by layer, with the Spark jobs it launches;
and alternating perfbench pairs of two source trees.

    python scripts/writer_commit_probe.py probe --label change
    python scripts/writer_commit_probe.py probe --src /path/to/parent --label parent
    python scripts/writer_commit_probe.py pairs --parent /path/to/parent --pairs 10
    python scripts/writer_commit_probe.py traced --runs 3
    python scripts/writer_commit_probe.py traced --src /path/to/parent --label parent

``probe`` bulk-builds the perfbench corpus (``--docs`` documents of
``synth_code_corpus``, 1,000 by default, with a ``sym_<i>`` rare vocabulary
of 1,000), then commits ``--rounds`` writer rounds of 70 rows — 60 adds,
10 updates by unique ``path`` and 10 deletes — each with
``commit(merge=False)``. The library functions each layer runs in are
wrapped with timers (self time: a nested timed call counts in its own
layer only):

- ``tombstone_resolve``: ``merge.tombstone`` (the driver pass) without its
  file write: finding the rows the updates replace
- ``tombstone_write``: ``merge._tombstone_locked``, the numpy set
  arithmetic, the ``deletes.<gen>.parquet`` writes and the manifest commit
- ``tombstone_spark``: ``merge.delete_docs``, where the tree resolves and
  writes tombstones as Spark jobs
- ``tokenize``: ``build.tokenize_postings`` and ``build.doc_lengths``
- ``encode``: ``build.encode_blocks`` and ``build._termstats``
- ``table_write``: ``build._write_part``
- ``segment_spark``: ``build.build_segment``, where the tree tokenizes,
  encodes and writes the segment as Spark jobs
- ``manifest``: ``build.commit_segment``
- ``other``: the rest of the commit

A layer a tree does not have reads 0. ``peak_rss_mb`` is the probe
process's peak resident set before the first commit and after the last.
``--src`` names the tree whose ``whoosh_spark`` is imported (default: this
checkout).

``pairs`` runs ``perfbench/run.py --trace 0`` for each workload, once in
this checkout and once in ``--parent``, ``--pairs`` times with seeds from
``--seed0``, alternating which side runs first, and stores each metric's
values, quartiles, wins and median change. ``traced`` runs ``--runs``
``--trace 1`` ingest runs in ``--src`` and stores each run's round count
(``ops + traced_ops``) and its traced commit, delete and merge medians.
Every mode keeps the other keys of ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RARE_VOCAB, ADDS, UPDATES, DELETES = 1000, 60, 10, 10
LAYERS = {
    "tombstone_resolve": [("whoosh_spark.index.merge", "tombstone")],
    "tombstone_write": [("whoosh_spark.index.merge", "_tombstone_locked")],
    "tombstone_spark": [("whoosh_spark.index.merge", "delete_docs")],
    "tokenize": [("whoosh_spark.index.build", "tokenize_postings"),
                 ("whoosh_spark.index.build", "doc_lengths")],
    "encode": [("whoosh_spark.index.build", "encode_blocks"),
               ("whoosh_spark.index.build", "_termstats")],
    "table_write": [("whoosh_spark.index.build", "_write_part")],
    "segment_spark": [("whoosh_spark.index.build", "build_segment")],
    "manifest": [("whoosh_spark.index.build", "commit_segment")],
}
WORKLOADS = ("batch", "ingest")
#: end-to-end metric -> whether higher is better
END_TO_END = {"setup_s": False, "query_p50_ms": False, "ops_per_s": True,
              "build_docs_per_s": True, "index_bytes_per_input_byte": False,
              "peak_rss_mb": False}


class SelfTimer:
    """Accumulates the self time of wrapped calls per layer."""

    def __init__(self):
        self.t: dict = defaultdict(float)
        self.stack: list = []

    def wrap(self, layer: str, fn):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            self.stack.append(0.0)
            try:
                return fn(*args, **kwargs)
            finally:
                child = self.stack.pop()
                dt = time.perf_counter() - t0
                self.t[layer] += dt - child
                if self.stack:
                    self.stack[-1] += dt
        return timed


def _install(timer: SelfTimer) -> None:
    import importlib

    for layer, targets in LAYERS.items():
        for mod, attr in targets:
            m = importlib.import_module(mod)
            if hasattr(m, attr):
                setattr(m, attr, timer.wrap(layer, getattr(m, attr)))


def probe(args) -> dict:
    sys.path.insert(0, os.path.abspath(args.src))
    from whoosh_spark.corpus import synth_code_corpus
    from whoosh_spark.index import Index, build_index
    from whoosh_spark.schema import code_corpus_schema
    from whoosh_spark.session import get_spark

    spark = get_spark("writer-commit-probe", master="local[4]", shuffle_partitions=4,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    work = tempfile.mkdtemp(prefix="writer-commit-", dir=args.work)
    timer = SelfTimer()
    _install(timer)
    rounds = []
    try:
        d = os.path.join(work, "ix")
        corpus = synth_code_corpus(spark, args.docs + args.rounds * (ADDS + UPDATES),
                                   seed=args.seed, rare_vocab=RARE_VOCAB)
        bulk = corpus.filter(corpus.doc_id < args.docs)
        build_index(spark, bulk, code_corpus_schema(), d, sha_col="content")
        paths = {r["doc_id"]: r["path"] for r in bulk.select("doc_id", "path").collect()}
        pool = iter(corpus.filter(corpus.doc_id >= args.docs).toPandas()
                    .sort_values("doc_id").to_dict("records"))
        rss_before = _peak_rss_mb()
        rng = random.Random(args.seed)
        for k in range(args.rounds):
            picked = rng.sample(sorted(paths), UPDATES + DELETES)
            upd, dels = picked[:UPDATES], picked[UPDATES:]
            w = Index(spark, d).writer()
            for _ in range(ADDS):
                doc = {c: v for c, v in next(pool).items() if c != "doc_id"}
                paths[w.add_document(**doc)] = doc["path"]
            for old in upd:
                doc = {c: v for c, v in next(pool).items() if c != "doc_id"}
                w.update_document(**dict(doc, path=paths[old]))
            for old in dels:
                w.delete_document(old)
            for old in upd + dels:
                del paths[old]
            timer.t.clear()
            group = f"writer-commit-{k}"
            # build_segment's worker threads do not inherit the job group:
            # their jobs land in no group, counted by difference
            ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
            sc.setJobGroup(group, "commit", interruptOnCancel=False)
            t0 = time.perf_counter()
            try:
                w.commit(merge=False)
            finally:
                sc.setJobGroup(None, None)
            total = time.perf_counter() - t0
            rec = {layer: round(timer.t.get(layer, 0.0) * 1e3, 2) for layer in LAYERS}
            rec["other"] = round(total * 1e3 - sum(rec.values()), 2)
            rec["commit"] = round(total * 1e3, 2)
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group)) + len(
                set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped)
            rounds.append(rec)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    # the first commit runs its paths cold
    warm = rounds[1:] or rounds
    return {"docs": args.docs, "rounds": rounds,
            "peak_rss_mb": {"before_commits": rss_before, "after_commits": _peak_rss_mb()},
            "median_ms_after_first": {
                key: round(statistics.median(r[key] for r in warm), 2) for key in rounds[0]}}


def _peak_rss_mb() -> float:
    import resource

    return round(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1)


def _perfbench(tree: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One ``perfbench/run.py`` run in ``tree``; a run that exits non-zero
    raises with the tail of its stderr."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=tree, capture_output=True, text=True)
    if proc.returncode:
        raise RuntimeError(f"{tree} {workload} seed {seed} exited {proc.returncode}: "
                           f"{proc.stderr[-2000:]}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    info = [ln for ln in proc.stderr.splitlines() if ln.startswith('{"workload"')]
    out["info"] = json.loads(info[-1]) if info else {}
    return out


def _quartiles(v: list) -> list:
    q = statistics.quantiles(v, n=4)
    return [round(q[0], 4), round(statistics.median(v), 4), round(q[2], 4)]


def pairs(args) -> dict:
    out: dict = {}
    trees = {"parent": os.path.abspath(args.parent), "change": ROOT}
    for workload in WORKLOADS:
        runs: dict = {"parent": [], "change": []}
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                runs[side].append(_perfbench(trees[side], workload, args.seed0 + i,
                                             args.seconds, 0))
        rec: dict = {"seeds": [args.seed0 + i for i in range(args.pairs)],
                     "failed": {s: sum(r["failed"] for r in runs[s]) for s in runs},
                     "correct": {s: [r["correct"] for r in runs[s]] for s in runs},
                     "ops": {s: [r["info"].get("ops") for r in runs[s]] for s in runs},
                     "metrics": {}}
        for name, higher in END_TO_END.items():
            p = [r["metrics"][name]["value"] for r in runs["parent"]]
            c = [r["metrics"][name]["value"] for r in runs["change"]]
            better = (lambda a, b: a > b) if higher else (lambda a, b: a < b)
            rec["metrics"][name] = {
                "parent": p, "change": c, "pairs": len(p),
                "parent_q1_med_q3": _quartiles(p), "change_q1_med_q3": _quartiles(c),
                "change_wins": sum(better(b, a) for a, b in zip(p, c)),
                "median_change_pct": round(
                    (statistics.median(c) / statistics.median(p) - 1) * 100, 2),
            }
        out[workload] = rec
    return out


def traced(args) -> list:
    res = []
    for i in range(args.runs):
        r = _perfbench(os.path.abspath(args.src), "ingest", args.seed0 + i, args.seconds, 1)
        m = r["metrics"]
        res.append({"seed": args.seed0 + i, "correct": r["correct"],
                    "ops": r["info"].get("ops"), "traced_ops": r["info"].get("traced_ops"),
                    "rounds": r["info"].get("ops", 0) + r["info"].get("traced_ops", 0),
                    "index.writer.commit_s": m["index.writer.commit_s"]["value"],
                    "index.merge.delete_docs_s": m["index.merge.delete_docs_s"]["value"],
                    "index.merge.policy_s": m["index.merge.policy_s"]["value"],
                    "index.merge.segments_after": m["index.merge.segments_after"]["value"]})
    return res


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("mode", choices=("probe", "pairs", "traced"))
    ap.add_argument("--out", default=os.path.join(ROOT, "BENCH", "WRITER_COMMIT.json"))
    ap.add_argument("--src", default=ROOT, help="probe, traced: the source tree")
    ap.add_argument("--label", default="change", help="probe, traced: key of the result")
    ap.add_argument("--rounds", type=int, default=6)
    ap.add_argument("--docs", type=int, default=1000, help="probe: bulk-built documents")
    ap.add_argument("--seed", type=int, default=61)
    ap.add_argument("--work", default=None, help="probe: parent dir of the index")
    ap.add_argument("--parent", help="pairs: the other source tree")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--seed0", type=int, default=91)
    ap.add_argument("--seconds", type=float, default=12)
    args = ap.parse_args()

    if args.mode == "probe":
        key, value = f"probe_{args.label}", probe(args)
    elif args.mode == "pairs":
        key, value = "perfbench_pairs", pairs(args)
    else:
        key, value = f"traced_ingest_{args.label}", traced(args)
    record = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            record = json.load(f)
    record.setdefault("hardware", f"{os.cpu_count()} vCPU {platform.machine()}, "
                                  "Spark local[4]")
    record[key] = value
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({key: value})[:2000])


if __name__ == "__main__":
    main()
