"""Seeded whoosh_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. The corpus and the query log are
generated from ``--seed``; the library is imported from the checkout and
Spark runs as ``local[4]``. The run sets up (Spark, corpus, bulk index
build, warm-up), runs the workload's closed loop for ``--seconds``, checks
every output, and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones. With ``--trace 1``
the loop runs twice as long, alternating untraced and traced operations;
the metrics are the per-layer ones, and the spans are written to
``.perfbench_work/spans-<workload>-<seed>.json``. Everything the run
writes stays under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

#: name -> unit, printed with --trace 0
END_TO_END = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "ops_per_s": "1/s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}

#: name -> unit, printed with --trace 1
PER_LAYER = {
    "session.start_s": "s",
    "corpus.generate_s": "s",
    "analysis.tokenize_s": "s",
    "analysis.postings_rows": "count",
    "index.build.segment_s": "s",
    "index.build.jobs": "count",
    "index.build.postings_bytes": "bytes",
    "index.build.docs_bytes": "bytes",
    "index.build.termstats_bytes": "bytes",
    "index.build.lengths_bytes": "bytes",
    "index.catalog.open_ms": "ms",
    "query.parser.parse_ms": "ms",
    "index.catalog.term_stats_ms": "ms",
    "index.catalog.stats_jobs_per_query": "count",
    "search.local.evaluate_ms": "ms",
    "search.local.answered_ratio": "ratio",
    "search.local.postings_per_result": "ratio",
    "search.engine.materialize_ms": "ms",
    "search.engine.plan_ms": "ms",
    "search.engine.collect_ms": "ms",
    "spark.jobs_per_query": "count",
    "spark.stages_per_query": "count",
    "spark.tasks_per_query": "count",
    "search.batch.term_s": "s",
    "search.batch.and_s": "s",
    "search.batch.phrase_s": "s",
    "search.batch.prefix_s": "s",
    "search.batch.fallback_s": "s",
    "spark.jobs_per_batch": "count",
    "spark.stages_per_batch": "count",
    "spark.tasks_per_batch": "count",
    "index.writer.commit_s": "s",
    "index.merge.delete_docs_s": "s",
    "index.merge.policy_s": "s",
    "index.merge.bytes_rewritten": "bytes",
    "index.merge.segments_after": "count",
    "index.write_amplification": "ratio",
    "spark.jvm_rss_mb": "MB",
    "trace.overhead_pct": "%",
}


def _loop(wl, seconds: float, trace: bool) -> tuple[list[dict], list[dict]]:
    """Closed loop for ``seconds``: the next operation starts when the
    previous one ends. Traced, it alternates untraced and traced
    operations, so both see the same warm-up state. Returns the
    (untraced, traced) samples, at least one of each kind asked for."""
    run = wl.run
    untraced: list[dict] = []
    traced: list[dict] = []
    deadline = time.perf_counter() + seconds

    def whole(samples: list[dict]) -> bool:
        return len(samples) > 0 and len(samples) % wl.CYCLE == 0

    while not (whole(untraced) and (not trace or whole(traced))
               and time.perf_counter() >= deadline):
        on = trace and len(traced) < len(untraced)
        run.tracer.enabled = run.counter.enabled = on
        run.tracer.op = len(traced) if on else None
        (traced if on else untraced).append(wl.op())
    run.tracer.enabled = run.counter.enabled = False
    return untraced, traced


def _p50(samples: list[dict], key: str) -> float:
    from harness import median

    return median(s[key] for s in samples)


def end_to_end(run, wl, samples: list[dict]) -> dict:
    return {
        "setup_s": run.setup_s,
        "query_p50_ms": wl.p50_ms(samples),
        "ops_per_s": wl.throughput(samples),
        "build_docs_per_s": run.build_docs_per_s,
        "index_bytes_per_input_byte": getattr(wl, "bytes_ratio", run.index_bytes_per_input_byte),
        "peak_rss_mb": run.peak_rss_mb(),
    }


def per_layer(run, wl, samples: list[dict], untraced: list[dict]) -> dict:
    """Layer metrics of the traced loop (``samples``): per-query layers are
    medians, over the operations that entered the layer, of its self time
    per query; counts are means."""
    from harness import median

    tr = run.tracer
    counts = run.counter.resolve()

    def per_query_ms(name: str) -> float:
        return median(t * 1e3 / samples[op]["queries"]
                      for op, t in tr.per_op(name).items() if op is not None)

    def mean(key: str, field: str) -> float:
        calls = counts.get(key, [])
        return sum(c[field] for c in calls) / len(calls) if calls else 0.0

    def per_batch(field: str) -> float:
        # a whole batch: the sum over routes of each route call's mean
        return sum(mean(f"batch.{r}", field) for r in getattr(wl, "ROUTES", ()))

    evaluated = [s for s in tr.spans
                 if s["name"] == "search.local.evaluate" and s["op"] is not None]
    answered = [s for s in evaluated if s["answered"]]
    local_rows = sum(s["rows"] for s in answered)
    local_postings = sum(s["postings"] for s in answered)
    queries = sum(s["queries"] for s in samples)
    stats_jobs = sum(c["jobs"] for c in counts.get("stats", []))
    untraced_ms = wl.p50_ms(untraced)

    out = {k: run.setup.get(k, 0.0) for k in PER_LAYER}
    out.update({
        "index.build.jobs": mean("build", "jobs"),
        "query.parser.parse_ms": per_query_ms("query.parser.parse"),
        "index.catalog.term_stats_ms": per_query_ms("index.catalog.term_stats"),
        "index.catalog.stats_jobs_per_query": stats_jobs / queries,
        "search.local.evaluate_ms": per_query_ms("search.local.evaluate"),
        "search.local.answered_ratio": len(answered) / len(evaluated) if evaluated else 0.0,
        "search.local.postings_per_result": local_postings / local_rows if local_rows else 0.0,
        "search.engine.materialize_ms": per_query_ms("search.engine.materialize"),
        "search.engine.plan_ms": per_query_ms("search.engine.plan"),
        "search.engine.collect_ms": per_query_ms("search.engine.collect"),
        "spark.jobs_per_query": mean("query", "jobs"),
        "spark.stages_per_query": mean("query", "stages"),
        "spark.tasks_per_query": mean("query", "tasks"),
        "spark.jobs_per_batch": per_batch("jobs"),
        "spark.stages_per_batch": per_batch("stages"),
        "spark.tasks_per_batch": per_batch("tasks"),
        "index.writer.commit_s": tr.median("index.writer.commit"),
        "index.merge.delete_docs_s": tr.median("index.merge.delete_docs"),
        "index.merge.policy_s": tr.median("index.merge.policy"),
        "spark.jvm_rss_mb": run.jvm_peak_rss_mb(),
        "trace.overhead_pct": (wl.p50_ms(samples) - untraced_ms) / untraced_ms * 100,
    })
    for route in getattr(wl, "ROUTES", ()):  # one route call, whole
        out[f"search.batch.{route}_s"] = tr.median(f"search.batch.{route}", inclusive=True)
    if any(op is not None for op in tr.per_op("index.catalog.open")):
        # opened per query (ingest), else once in set-up
        out["index.catalog.open_ms"] = per_query_ms("index.catalog.open")
    for key in ("bytes_rewritten", "segments_after", "write_amplification"):
        if key in samples[0]:
            name = "index.write_amplification" if key == "write_amplification" \
                else f"index.merge.{key}"
            out[name] = _p50(samples, key)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "whoosh_spark")):
        print(f"no whoosh_spark package under {ROOT}: run from a source checkout",
              file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    # Spark's Python workers import the library from the checkout too, and
    # temporary files stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = WORK
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    sys.path.insert(0, ROOT)

    from harness import N_DOCS, Run
    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    tracer = Tracer(enabled=bool(args.trace))
    run = Run(args.workload, args.seed, WORK, tracer, args.seconds * (2 if args.trace else 1))
    try:
        run.start()
        tracer.enabled = run.counter.enabled = False  # warm-up is not traced
        wl = cls(run)
        wl.prepare()
        run.finish_setup()
        untraced, traced = _loop(wl, run.loop_s, bool(args.trace))
        failed = wl.check()
        if args.trace:
            values = per_layer(run, wl, traced, untraced)
            tracer.write(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))
        else:
            values = end_to_end(run, wl, untraced)
        attempted = sum(s["queries"] for s in untraced + traced) + cls.EXTRA_CHECKS
        info = {"workload": args.workload, "n_docs": N_DOCS,
                "lexicon_terms": run.lexicon_terms, "ops": len(untraced),
                "traced_ops": len(traced),
                "mismatch_by_shape": getattr(wl, "mismatch", {}),
                "samples": untraced}
    finally:
        run.stop()
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps(info, default=lambda x: round(x, 1)), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
