"""The workloads. Each is a closed loop driven by one client thread.

A workload has these phases, called by ``run.py``:

- ``prepare``: warm-up after the shared set-up (part of ``setup_s``);
- ``op``: one timed operation, called until ``--seconds`` have passed and
  the last cycle of ``CYCLE`` operations is complete (with ``--trace 1``,
  alternately untraced and traced);
- ``p50_ms`` and ``throughput``: the workload's latency and rate over the
  samples ``op`` returned;
- ``check``: untimed output checks over everything the loops executed,
  returning the number of failed checks.

Untraced operations call the public API the way a user does. Traced
operations reproduce the same path one layer call at a time, so that each
call gets its own span (see ``search_rows``).
"""

from __future__ import annotations

import hashlib
import random
import statistics
import time

from harness import FIELD, N_DOCS, RARE_VOCAB, dir_bytes, segment_bytes
from queries import BATCH_KIND, QueryGen

#: results per query
K = 10


def _rows(collected) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in collected]


def search_rows(run, searcher, q, fallback=None, limit: int = K) -> list[tuple[int, float]]:
    """Top-``limit`` (doc_id, score) rows of ``searcher.search(q)``.

    Traced, the call is split the way ``Searcher.search`` runs it: the
    per-term stats lookup, the driver-local evaluator, and then either
    materializing its rows as a DataFrame or, when the local route
    declines, planning and collecting the distributed query through
    ``fallback`` (a ``use_local=False`` searcher over the same index,
    which is exactly the path ``search`` continues on)."""
    tr = run.tracer
    if not tr.enabled:
        return _rows(searcher.search(q, limit=limit).collect())
    ix = searcher.index
    with tr.span("index.catalog.term_stats"), run.counter.count("stats"):
        by_field: dict[str, list[str]] = {}
        for f, t in sorted(q.all_terms()):
            by_field.setdefault(f, []).append(t)
        postings = 0
        for f, terms in by_field.items():
            postings += sum(int(r["df"]) for r in ix.term_stats(f, terms).values() if r)
    if searcher.use_local:
        from whoosh_spark.search.local import try_local_search

        with tr.span("search.local.evaluate") as sp:
            rows = try_local_search(searcher, q, limit)
        sp["answered"] = rows is not None
        if rows is not None:
            sp["postings"], sp["rows"] = postings, len(rows)
            with tr.span("search.engine.materialize"):
                return _rows(searcher.spark_rows_df(rows).collect())
        searcher = fallback
    with tr.span("search.engine.plan"):
        df = searcher.search(q, limit=limit)
    with tr.span("search.engine.collect"):
        return _rows(df.collect())


class Batch:
    """A fixed mixed query batch served by ``batch_search``, one route at a
    time. Trees no batch kernel serves fall back to the per-query engine;
    the searcher has ``use_local=False``, so they run the distributed plan
    they take at corpus scale instead of the driver-local route.

    ``batch_search`` routes a batch's queries by kernel and pays a fixed
    Spark cost per kernel call (0.6-3.5 s at 1,000 documents on 4 vCPUs,
    about the same for one query or four), so a whole 13-query batch
    takes ~8 s. One operation is therefore one route's share of the
    batch, sent as its own ``batch_search`` call, and the operations cycle
    through the routes."""

    #: one batch: 62% term bags, 31% phrase + prefix, 8% fallback trees
    #: (one AndNot: a fallback tree costs a distributed query, ~1 s, each).
    #: No and3: batch And-of-3 scores differ from the per-query engine's in
    #: the last ulp (a known mismatch of the library), and and2 is exact.
    BATCH = {"term": 2, "or3": 2, "or5": 1, "and2": 3,
             "phrase": 2, "prefix": 2, "not": 1}
    ROUTES = ("term", "and", "phrase", "prefix", "fallback")
    #: the loop ends on a whole batch
    CYCLE = len(ROUTES)
    #: checks made outside the loop: the warm-up batch
    EXTRA_CHECKS = sum(BATCH.values())

    def __init__(self, run):
        from whoosh_spark.query.parser import QueryParser
        from whoosh_spark.search import Searcher

        self.run = run
        self.parser = QueryParser(FIELD, run.ix.schema)
        self.searcher = Searcher(run.ix, use_local=False)
        self.reference = Searcher(run.ix)
        gen = QueryGen(run.seed * 7919 + 3, run.docs)
        # The seed's batch: the first queries of each shape, so its queries
        # have the same strata under every seed. Drawing batches afresh made
        # batch throughput spread ~0.4 between seeds, because a small
        # batch's cost hangs on which few phrase and fallback queries it
        # draws.
        batch = [(shape, qs) for shape, n in self.BATCH.items()
                 for qs in gen.distinct(shape, n)]
        self.routes = {r: [(f"q{i}", shape, qs) for i, (shape, qs) in enumerate(batch)
                           if BATCH_KIND[shape] == r] for r in self.ROUTES}
        #: operations run so far, untraced and traced: each kind of
        #: operation cycles through all the routes
        self.calls = {False: 0, True: 0}
        self.executed: list[tuple[str, str, list]] = []
        self.mismatch: dict[str, int] = {}

    def prepare(self) -> None:
        """One untimed batch, the loop's own calls: the first run of a call
        costs more than the runs after it (warming each route with one
        query still left the first measured batch ~20% slower)."""
        for _ in self.ROUTES:
            self.op()

    def op(self) -> dict:
        from whoosh_spark.search import batch_search

        run, tr = self.run, self.run.tracer
        route = self.ROUTES[self.calls[tr.enabled] % len(self.ROUTES)]
        self.calls[tr.enabled] += 1
        sub = self.routes[route]
        t = time.perf_counter()
        with tr.span("batch"), run.counter.count(f"batch.{route}"):
            if not tr.enabled:
                out = batch_search(self.searcher, [(qid, qs) for qid, _, qs in sub],
                                   k=K, parser=self.parser).collect()
            else:
                out = self._traced(route, sub)
        dt = time.perf_counter() - t
        by_q: dict[str, list] = {}
        for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
            by_q.setdefault(r["query_id"], []).append((int(r["doc_id"]), float(r["score"])))
        for qid, shape, qs in sub:
            self.executed.append((shape, qs, by_q.get(qid, [])))
        # every query of the call gets its answer when the call returns
        return {"query_ms": dt * 1e3, "queries": len(sub), "route": route}

    def _traced(self, route: str, sub) -> list[dict]:
        """The route's call under a ``search.batch.<route>`` span. Fallback
        trees run one per-query search each, split by layer: that is what
        ``batch_search`` runs for them before it unions the results."""
        from whoosh_spark.search import batch_search

        tr = self.run.tracer
        parsed = {}
        for qid, _, qs in sub:
            with tr.span("query.parser.parse"):
                parsed[qid] = self.parser.parse(qs)
        with tr.span(f"search.batch.{route}"):
            if route != "fallback":
                return batch_search(self.searcher, list(parsed.items()), k=K).collect()
            out = []
            for qid, q in parsed.items():
                with self.run.counter.count("query"):
                    rows = search_rows(self.run, self.searcher, q)
                out += [{"query_id": qid, "doc_id": d, "score": sc, "rank": i + 1}
                        for i, (d, sc) in enumerate(rows)]
            return out

    def _route_ms(self, samples: list[dict]) -> dict[str, float]:
        """Median call latency of each route."""
        by_route: dict[str, list[float]] = {}
        for s in samples:
            by_route.setdefault(s["route"], []).append(s["query_ms"])
        return {r: statistics.median(v) for r, v in by_route.items()}

    def p50_ms(self, samples: list[dict]) -> float:
        """Median over the batch's queries of the latency of the call that
        answers each (its route's median call latency)."""
        per = self._route_ms(samples)
        return statistics.median(ms for r, ms in per.items() for _ in self.routes[r])

    def throughput(self, samples: list[dict]) -> float:
        """Queries/s of the whole batch: its queries over the sum of the
        routes' median call latencies."""
        per = self._route_ms(samples)
        return 1e3 * sum(len(self.routes[r]) for r in per) / sum(per.values())

    def check(self) -> int:
        want: dict[str, list] = {}
        failed = 0
        for shape, qs, rows in self.executed:
            if qs not in want:
                want[qs] = _rows(self.reference.search(self.parser.parse(qs), limit=K).collect())
            if rows != want[qs]:
                failed += 1
                self.mismatch[shape] = self.mismatch.get(shape, 0) + 1
        return failed


class Ingest:
    """Writer rounds beside reads on a bulk-built index: adds, updates by
    unique ``path`` and deletes, a commit without merging, the
    MERGE_SMALL policy, then a freshly opened index must show exactly the
    round's writes."""

    #: per round; a commit pays a fixed ~3.5 s of Spark jobs whether it
    #: writes 20 documents or 200
    ADDS, UPDATES, DELETES = 60, 10, 10
    #: the shortest round the first document pool is sized for; a faster
    #: program extends the pool between rounds
    MIN_ROUND_S = 2.0
    CYCLE = 1
    #: checks made outside the loop: the bulk build's content hashes and
    #: the warm-up round's three readers
    EXTRA_CHECKS = 1 + 3

    def __init__(self, run):
        self.run = run
        self.failed = 0
        self.pool: list[dict] = []

    def prepare(self) -> None:
        run = self.run
        self._extend(int(run.loop_s / self.MIN_ROUND_S) + 2)
        # live model: doc_id -> (path, content bytes, sha256 or None)
        self.live = {
            int(r.doc_id): (r.path, len(r.content.encode()),
                            hashlib.sha256(r.content.encode()).hexdigest())
            for r in run.source.itertuples()
        }
        self.bulk_ok = self._sha_check()
        self.rng = random.Random(run.seed * 7919 + 4)
        self.round = 0
        # the first round runs the writer, delete and fresh-reader paths
        # cold, at about twice the time of the rounds after it
        self.op()
        #: index bytes per live content byte after the bulk build and one
        #: round: a fixed amount of writing, where the rounds of the loop
        #: depend on the machine's speed
        self.bytes_ratio = segment_bytes(run.index_dir) / sum(v[1] for v in self.live.values())

    def _extend(self, rounds: int) -> None:
        """Pool ``rounds`` more rounds of new documents: the seed's corpus
        continued past the bulk documents and those pooled already."""
        from whoosh_spark.corpus import synth_code_corpus

        start = N_DOCS + len(self.pool)
        df = synth_code_corpus(self.run.spark, start + rounds * (self.ADDS + self.UPDATES),
                               seed=self.run.seed, rare_vocab=RARE_VOCAB)
        rows = df.filter(df.doc_id >= start).toPandas().sort_values("doc_id")
        self.pool += rows.drop(columns=["doc_id"]).to_dict("records")

    def _sha_check(self) -> bool:
        """Every live bulk-built row's ``content_sha256`` equals the sha256
        of its source content (the build's per-row ingest invariant)."""
        from whoosh_spark.index import Index

        got = {int(r["doc_id"]): r["content_sha256"] for r in
               Index(self.run.spark, self.run.index_dir).docs()
               .select("doc_id", "content_sha256").collect()}
        want = {d: v[2] for d, v in self.live.items() if v[2] is not None}
        return all(got.get(d) == sha for d, sha in want.items())

    def op(self) -> dict:
        import whoosh_spark.query as Q
        from whoosh_spark.index import Index, read_manifest
        from whoosh_spark.index.merge import apply_merge_policy, delete_docs
        from whoosh_spark.index.writer import IndexWriter
        from whoosh_spark.search import Searcher

        run, tr = self.run, self.run.tracer
        k = self.round
        self.round += 1
        token = f"round_{run.seed}_{k}"
        per_round = self.ADDS + self.UPDATES
        if (k + 1) * per_round > len(self.pool):
            self._extend(k + 1)
        fresh = self.pool[k * per_round:(k + 1) * per_round]
        candidates = sorted(d for d, v in self.live.items() if v[2] is not None)
        picked = self.rng.sample(candidates, self.UPDATES + self.DELETES)
        upd, dels = picked[:self.UPDATES], picked[self.UPDATES:]

        t0 = time.perf_counter()
        with tr.span("round"), run.counter.count("round"):
            w = IndexWriter(Index(run.spark, run.index_dir))
            added, updated = {}, []
            for doc in fresh[:self.ADDS]:
                doc = dict(doc, content=f"{doc['content']} {token}")
                added[w.add_document(**doc)] = doc
            for d, doc in zip(upd, fresh[self.ADDS:]):
                doc = dict(doc, path=self.live[d][0], content=f"{doc['content']} {token}")
                updated.append(w.update_document(**doc))
                added[updated[-1]] = doc
            if tr.enabled:
                with tr.span("index.merge.delete_docs"):
                    delete_docs(run.spark, run.index_dir, sorted(dels))
            else:
                for d in dels:
                    w.delete_document(d)
            before = {s.name for s in w.index.manifest.segments}
            with tr.span("index.writer.commit"):
                w.commit(merge=False)
            new_seg = [s for s in read_manifest(run.index_dir).segments
                       if s.name not in before]
            with tr.span("index.merge.policy"):
                apply_merge_policy(run.spark, run.index_dir, "MERGE_SMALL")
            # three readers, each on a freshly opened index: the round's
            # adds and updates are visible, its deletes and the replaced
            # versions of updated documents are not
            readers = (
                (FIELD, [token], sorted(added)),
                ("path", [self.live[d][0] for d in dels], []),
                ("path", [self.live[d][0] for d in upd], sorted(updated)),
            )
            reads_ms = []
            for field, terms, want in readers:
                tq = time.perf_counter()
                with tr.span("query"), run.counter.count("query"):
                    with tr.span("index.catalog.open"):
                        ix = Index(run.spark, run.index_dir)
                        if tr.enabled:
                            ix.term_stats(field, terms)
                    q = Q.Or([Q.Term(field, t) for t in terms])
                    rows = search_rows(run, Searcher(ix), q, Searcher(ix, use_local=False),
                                       limit=len(added) + len(dels) + K)
                reads_ms.append((time.perf_counter() - tq) * 1e3)
                self.failed += sorted(d for d, _ in rows) != want
        t2 = time.perf_counter()

        for d in upd + dels:
            del self.live[d]
        for d, doc in added.items():
            self.live[d] = (doc["path"], len(doc["content"].encode()), None)
        # bytes the commit wrote, and bytes the merge policy rewrote
        idx = run.index_dir
        commit_bytes = sum(dir_bytes(s.path(idx)) for s in new_seg)
        known = before | {s.name for s in new_seg}
        rewritten = sum(dir_bytes(s.path(idx)) for s in ix.manifest.segments
                        if s.name not in known)
        return {"reads_ms": reads_ms, "queries": len(readers),
                "written": len(added) + len(dels), "busy_s": t2 - t0,
                "bytes_rewritten": rewritten,
                "segments_after": len(ix.manifest.segments),
                "write_amplification": (commit_bytes + rewritten) / commit_bytes}

    def p50_ms(self, samples: list[dict]) -> float:
        """Median over rounds of the round's mean fresh-reader query. The
        three readers differ in cost (the empty result costs one more Spark
        job), so a median over single reads lands on whichever reader sits
        in the middle; the mean of a round uses all three."""
        return statistics.median(statistics.mean(s["reads_ms"]) for s in samples)

    def throughput(self, samples: list[dict]) -> float:
        """Documents written per second over all rounds (writes, commit,
        merge policy and the reads that check them)."""
        return sum(s["written"] for s in samples) / sum(s["busy_s"] for s in samples)

    def check(self) -> int:
        return self.failed + (not (self.bulk_ok and self._sha_check()))


WORKLOADS = {
    "batch": Batch,
    "ingest": Ingest,
}
