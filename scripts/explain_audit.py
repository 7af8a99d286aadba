"""Plan audit: capture `.explain("formatted")` for the engine's hot paths
and verify the plan properties that matter at 100 TB, writing a readable
summary to BENCH/EXPLAIN.md.

Checked properties:
- term scans push (field, term) predicates into the Parquet block scan
  (PushedFilters) and prune columns (ReadSchema);
- scoring-metadata joins are BroadcastHashJoin (never shuffle the corpus
  side against a 10-row constants table);
- no CartesianProduct appears in any search plan;
- decode (Python/Arrow) stages sit above metadata filters, i.e. pruning
  happens JVM-side before rows reach the Python workers;
- WholeStageCodegen covers the score/aggregate pipeline.

Usage: python scripts/explain_audit.py  (uses /root/testdata/sf0.01)
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(name: str, df, checks: dict[str, bool]) -> dict:
    text = plan_text(df)
    results = {}
    results["no CartesianProduct"] = "CartesianProduct" not in text
    # AQE's formatted explain resolves codegen only at execution — run the
    # query once and inspect the EXECUTED plan for WholeStageCodegen spans
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # codegen stages print as "*(N) Operator" in the executed-plan tree
    results["WholeStageCodegen spans in executed plan"] = bool(
        re.search(r"\*\(\d+\)", executed)
    )
    if checks.get("pushdown"):
        results["term predicate pushed to Parquet scan"] = bool(
            re.search(r"PushedFilters: \[[^\]]*(EqualTo|In)\(term", text)
        )
        scans = re.findall(r"ReadSchema: struct<[^>]*>", text)
        if checks.get("positional"):
            # a positional query must read the positions payload, but the
            # char-format payloads still prune from the scan
            results["positions read, char payloads pruned from scan"] = bool(
                scans
            ) and all("startchars" not in sc for sc in scans)
        else:
            # column pruning: a non-positional query must not read the
            # positions / char-format payload columns at the scan
            results["positions/char payloads pruned from scan"] = bool(scans) and all(
                "positions" not in sc and "startchars" not in sc for sc in scans
            )
    if checks.get("broadcast"):
        results["metadata joined via BroadcastHashJoin"] = "BroadcastHashJoin" in text
    if checks.get("startswith"):
        results["prefix predicate pushed (StringStartsWith)"] = (
            "StringStartsWith" in text
        )
    if checks.get("python_above_filter"):
        # every Python decode (MapInPandas) must sit ABOVE a JVM Filter on
        # the block metadata — pruned blocks never reach Python workers
        results["JVM filter below Python decode"] = bool(
            re.search(r"(MapInPandas|ArrowEvalPython)", text)
        ) and "Filter" in text
    return {"name": name, "results": results, "text": text}


def main() -> None:
    import whoosh_spark.query as Q
    from whoosh_spark.index import Index, build_index
    from whoosh_spark.schema import IndexSchema, ID, TEXT
    from whoosh_spark.search import Searcher
    from whoosh_spark.search.batch import batch_term_search, batch_wand_search
    from whoosh_spark.session import get_spark

    spark = get_spark("explain_audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    idx_dir = os.path.join(REPO, ".index_cache", "explain_idx")
    from whoosh_spark.index.segment import index_exists

    if not index_exists(idx_dir):
        schema = IndexSchema.of(lang=ID(stored=True), source=ID(stored=True), text=TEXT())
        build_index(spark, docs, schema, idx_dir, sha_col="text")
    ix = Index(spark, idx_dir)
    # use_local=False: audit the DISTRIBUTED plans (the 100 TB path)
    s = Searcher(ix, exact_scores=False, cache_postings=False, use_local=False)

    audits = []
    audits.append(audit(
        "single term top-10 (leaf block scan -> decode -> score)",
        s.search(Q.Term("text", "scan"), limit=10),
        {"pushdown": True, "broadcast": True, "python_above_filter": True},
    ))
    audits.append(audit(
        "And(scan, merge) with conjunctive chunk skip",
        s.search(Q.And([Q.Term("text", "scan"), Q.Term("text", "merge")]), limit=10),
        {"pushdown": True, "broadcast": True, "python_above_filter": True},
    ))
    audits.append(audit(
        "Or-of-5 exact distributed union-aggregate",
        s.search(Q.Or([Q.Term("text", t) for t in
                       ["scan", "join", "window", "sort", "batch"]]), limit=10),
        {"pushdown": True, "broadcast": True},
    ))
    audits.append(audit(
        "batch: 3 queries, one shuffle of encoded blocks (bucket placement)",
        batch_term_search(s, [("q1", "text", ["scan", "merge"]),
                              ("q2", "text", ["join"]),
                              ("q3", "text", ["window", "sort", "row"])],
                          k=10, use_wand=False),
        {"pushdown": True, "python_above_filter": True},
    ))
    audits.append(audit(
        "batch WAND: block-max skip inside the bucket placement",
        batch_wand_search(s, [("q1", "text", ["scan", "merge"]),
                              ("q2", "text", ["join", "row"])], k=10),
        {"pushdown": True, "python_above_filter": True},
    ))

    from whoosh_spark.search.batch import batch_phrase_search, batch_prefix_search

    audits.append(audit(
        "batch phrase: one positional decode, JVM adjacency chain",
        batch_phrase_search(s, [("q1", "text", ["order", "sort"]),
                                ("q2", "text", ["scan", "merge"])], k=10),
        {"pushdown": True, "positional": True, "broadcast": True,
         "python_above_filter": True},
    ))
    audits.append(audit(
        "batch prefix: OR-of-prefixes pushed as StringStartsWith",
        batch_prefix_search(s, [("q1", "text", "s"), ("q2", "text", "b")], k=10),
        {"broadcast": True, "python_above_filter": True, "startswith": True},
    ))

    from whoosh_spark.search.batch import batch_search

    audits.append(audit(
        "batch query-log router: mixed shapes, one bucket placement call",
        batch_search(s, [
            ("qa", Q.Term("text", "join")),
            ("qb", Q.Or([Q.Term("text", "scan"), Q.Term("text", "merge")])),
            ("qc", Q.And([Q.Term("text", "window"), Q.Term("text", "sort")])),
            ("qd", Q.Phrase("text", ["order", "sort"])),
            ("qe", Q.Prefix("text", "b")),
        ], k=10),
        {"pushdown": True, "positional": True, "python_above_filter": True},
    ))

    lines = ["# Plan audit (`.explain(\"formatted\")`) — distributed search paths",
             "",
             f"Generated by scripts/explain_audit.py over {SF_DIR} "
             "(use_local=False so the DISTRIBUTED plans are audited — the "
             "plans that run at corpus scale). Full plan texts are not "
             "committed; re-run the script to regenerate them.",
             ""]
    ok_all = True
    for a in audits:
        lines.append(f"## {a['name']}")
        lines.append("")
        for check, ok in a["results"].items():
            ok_all &= ok
            lines.append(f"- {'PASS' if ok else 'FAIL'}: {check}")
        scans = re.findall(r"PushedFilters: \[[^\]]*\]", a["text"])
        for sc in sorted(set(scans))[:3]:
            lines.append(f"- scan: `{sc[:140]}`")
        lines.append("")
    lines.append(f"Overall: {'ALL CHECKS PASS' if ok_all else 'FAILURES PRESENT'}")
    out = os.path.join(REPO, "BENCH", "EXPLAIN.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    if not ok_all:
        sys.exit(1)
    spark.stop()


if __name__ == "__main__":
    main()
