"""Batch query serving: evaluate MANY queries in one Spark job.

The per-query DataFrame planner (engine.py) pays Spark job-scheduling
latency per query — right for interactive use, wrong for throughput. The
scalable serving pattern joins a *query table* against the index once:

    queries (query_id, field, term[, weight]) --broadcast-->
      posting blocks (filter term IN query terms) -> decode -> score
      -> join queries -> groupBy (query_id, doc_id) -> window top-k

One shuffle for any number of queries; throughput scales with cores and
cluster size (this powers the N vs 4N scaling evidence in bench.py).

Supported batch shapes: bags of weighted terms per query, scored BM25F and
combined by sum — the Or/term workload that dominates search serving.
Conjunctive batches add a HAVING count = n_terms filter.

One engine answers BM25F bag batches: ``local.bucket_topk``, the exact
evaluator ``Searcher.search`` also uses, run once per doc-complete bucket
partition. Posting intersection (``conjunctive_skip``) and block-max WAND
(``use_wand``) are two exact block skips inside it, and ``round_to``
rounds after each partition's widened top-k. The DataFrame bag plan
serves only other weightings. ``batch_search`` sends every tree the
placement accepts (``local.bucket_tree``) to ONE ``bucket_topk`` call —
bags, slop-1 phrases, multiterms expanded against the driver-cached
lexicon, nested trees — except FuzzyTerms (one JVM Levenshtein lexicon
scan per batch instead of a Python one per query) and Prefix/Wildcard/
Regex/TermRange expanding past ``BUCKET_MAX_EXPANSION`` terms (a distinct
doc-id set instead of every expanded term scored). The DataFrame kernels
serve those and what the placement declines (non-BM25F weightings,
phrases with slop other than 1, uncached lexicons, expansions past
``max_expansion``): phrase batches (``batch_phrase_search``) add a
positional adjacency chain evaluated as JVM higher-order array
expressions; prefix batches (``batch_prefix_search``) expand against one
lexicon scan per field and keep the reference's constant-score /
single-term-degenerate semantics; fuzzy batches (``batch_fuzzy_search``)
expand via one JVM-levenshtein lexicon scan into scored Or bags; generic
pattern/range batches (``batch_multiterm_search``) evaluate every
query's term predicate in one Arrow pass over the lexicon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from whoosh_spark.index.catalog import _conjunctive_prune, decode_blocks
from whoosh_spark.query import nodes as Q
from whoosh_spark.search.engine import Searcher, _PlanContext
from whoosh_spark.search.local import _term_stats


def _prepare(searcher: Searcher, queries: list[tuple[str, str, list[str]]]):
    """(qdf, all_terms, plan) for a bag batch. qdf has one row per term
    occurrence; its ``pos`` is the occurrence's place in the engine's
    huffman And order (df descending, then query order), which
    ``_and_agg`` sums in, and ``need`` the query's occurrence count."""
    import pandas as pd

    ix = searcher.index
    all_terms: dict[str, set] = {}
    for _, field, terms in queries:
        all_terms.setdefault(field, set()).update(terms)
    plan = _PlanContext(searcher)
    plan.stats = _term_stats(ix, {(f, t) for f, ts in all_terms.items() for t in ts})
    qrows = []
    for qid, field, terms in queries:
        # huffman pop order IS a left fold over (df desc, seq): the merged
        # weight of the two largest terms is more negative than any single
        # remaining one, so the accumulator stays at the front of the queue
        df = [int(plan.stats[(field, t)]["df"]) if plan.stats.get((field, t))
              else 0 for t in terms]
        order = sorted(range(len(terms)), key=lambda i: (-df[i], i))
        for pos, i in enumerate(order):
            qrows.append((qid, field, terms[i], pos, len(terms)))
    qdf = ix.spark.createDataFrame(
        pd.DataFrame(qrows, columns=["query_id", "field", "term", "pos", "need"]),
        schema="query_id string, field string, term string, pos int, need int",
    )
    return qdf, all_terms, plan


def _ordered_sum():
    """A (query_id, doc_id) group's ``score`` values summed from 0.0 in
    ``pos`` order — the engine's fold order, bit for bit (a plain sum's
    order is the shuffle's)."""
    return F.aggregate(F.array_sort(F.collect_list(F.struct("pos", "score"))),
                       F.lit(0.0), lambda acc, x: acc + x["score"])


def _and_agg(per_query: DataFrame) -> DataFrame:
    """Conjunctive (query_id, doc_id, score) from per-(query, term
    occurrence, doc) rows carrying qdf's ``pos`` and ``need``: scores
    summed in ``pos`` (huffman) order — the engine's And, bit for bit —
    keeping docs that match every occurrence."""
    return per_query.groupBy("query_id", "doc_id").agg(
        _ordered_sum().alias("score"),
        (F.count("*") == F.first("need")).alias("_all"),
    ).filter("_all").select("query_id", "doc_id", "score")


def _topk_window(agg: DataFrame, k: int) -> DataFrame:
    # NOTE a partition-local pre-top-k via mapInPandas was tried here and
    # REVERTED: shipping the full aggregated (query, doc) set across the
    # JVM->Python boundary cost ~2x the Tungsten window sort it displaced
    # (27.8s -> 52s at 500k docs). The volume fix lives upstream: the
    # bucket placement (local.bucket_topk) never materializes that set.
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", F.col("score"), "rank")
    )


def _bags(queries, conjunctive: bool) -> list:
    node = Q.And if conjunctive else Q.Or
    return [(qid, node([Q.Term(field, t) for t in terms]))
            for qid, field, terms in queries]


def _bucket_stats(searcher, bags, k, **kw):
    from whoosh_spark.search.local import bucket_topk

    out = bucket_topk(searcher, bags, k, with_stats=True, **kw)
    if out is None:
        raise ValueError("with_stats needs the BM25F bucket placement")
    return out


def batch_term_search(
    searcher: Searcher,
    queries: list[tuple[str, str, list[str]]],
    k: int = 10,
    conjunctive: bool = False,
    use_wand: bool = False,
    round_to: int | None = None,
    conjunctive_skip: bool = True,
) -> DataFrame:
    """queries: [(query_id, field, [terms...])] -> top-k per query, each
    query scored as ``Or`` (or ``And`` when ``conjunctive``) of its terms.
    Returns DataFrame(query_id, doc_id, score, rank).

    A BM25F batch runs ``local.bucket_topk``: each query scored
    bit-identically to ``Searcher.search``, with the And skip
    (``conjunctive_skip``, And batches) or the block-max skip
    (``use_wand``, Or batches) deciding which blocks decode. ``round_to``
    rounds scores BEFORE the top-k window so the k-boundary tie-cut is
    deterministic across engines (oracle comparisons). Other weightings
    take the DataFrame bag plan below (its rounded disjunctive plan sums
    in shuffle order)."""
    from whoosh_spark.search.local import bucket_topk

    out = bucket_topk(searcher, _bags(queries, conjunctive), k, round_to=round_to,
                      conjunctive_skip=conjunctive_skip,
                      use_wand=use_wand and not conjunctive)
    if out is not None:
        return out
    ix = searcher.index
    qdf, all_terms, plan = _prepare(searcher, queries)
    term_pairs = {(f, t) for f, ts in all_terms.items() for t in ts}
    # spread the encoded blocks across the cluster BEFORE decode — the
    # batch fan-out (score x queries-per-term) is the heavy stage and must
    # not inherit the 1-2 packed Parquet input splits (Parquet packs small
    # block files into one or two 128 MB splits; shuffling encoded blocks
    # is cheap, ~128x fewer rows than postings). One task per core: the r6
    # vectorized block decode made finer splits pure overhead (64
    # partitions measured 0.6s slower end-to-end than 32 on 32 cores).
    blocks = ix.postings_blocks().filter(
        F.col("term").isin(sorted({t for _, t in term_pairs}))
        & F.col("field").isin(sorted(all_terms))
    ).repartition(max(1, ix.spark.sparkContext.defaultParallelism))
    scored = plan.attach_scores(ix._mask_deleted(decode_blocks(blocks)),
                                sorted(term_pairs))
    joined = scored.join(F.broadcast(qdf), on=["field", "term"])
    if conjunctive:
        out = _and_agg(joined)
    else:
        # no match-count needed for disjunctive scoring — dropping the
        # count column narrows the (query, doc) shuffle rows
        out = joined.groupBy("query_id", "doc_id").agg(
            F.sum("score").alias("score")
        )
    if round_to is not None:
        out = out.withColumn("score", F.round(F.col("score"), round_to))
    return _topk_window(out, k)


def batch_conjunctive_search(
    searcher: Searcher,
    queries: list[tuple[str, str, list[str]]],
    k: int = 10,
    round_to: int | None = None,
    with_stats: bool = False,
):
    """Conjunctive (all-terms-required) batch with the And skip inside
    ``local.bucket_topk``: a term's block decodes only where every other
    term of the query has an overlapping block — the reference's
    IntersectionMatcher ``skip_to`` jump (matching/binary.py,
    codec/whoosh3.py:1018-1036) on block metadata. Exact: skipped blocks
    only hold docs missing some required term. ``with_stats=True``
    additionally returns the block keep/total counts (one extra Spark
    job — diagnostics only)."""
    if with_stats:
        return _bucket_stats(searcher, _bags(queries, True), k, round_to=round_to)
    return batch_term_search(searcher, queries, k, conjunctive=True, round_to=round_to)


def batch_wand_search(
    searcher: Searcher,
    queries: list[tuple[str, str, list[str]]],
    k: int = 10,
    with_stats: bool = False,
    round_to: int | None = None,
):
    """Block-max WAND for a bag batch [(query_id, field, [terms...])], each
    query scored as ``Or`` of its terms: ``local.bucket_topk`` with its
    block-max skip (θ seeded per partition from the strongest term's best
    blocks). Returns the exact route's top-k, bit for bit, repeated terms
    included. ``with_stats=True`` returns ``(df, stats)`` with the
    ``qt_blocks_*`` / ``decode_blocks_*`` keep/total counts and each
    query's best partition θ (one extra Spark job — diagnostics only)."""
    if with_stats:
        return _bucket_stats(searcher, _bags(queries, False), k, round_to=round_to,
                             use_wand=True)
    return batch_term_search(searcher, queries, k, use_wand=True, round_to=round_to)


def batch_phrase_search(
    searcher: Searcher,
    queries: list[tuple[str, str, list[str]]],
    k: int = 10,
    slop: int = 1,
    round_to: int | None = None,
    conjunctive_skip: bool = True,
) -> DataFrame:
    """queries: [(query_id, field, [words in phrase order])] -> top-k per
    query with EXACT single-query Phrase semantics (reference
    query/positional.py: ordered proximity chain, score = sum of the word
    term-scores, repeated words summed per occurrence) — evaluated for the
    whole batch in ONE positional decode pass. The n-gram / exact-quote
    lookup shape a training-data pipeline runs at thousands of phrases per
    job.

    Phrases are conjunctive, so each query prunes to doc-id chunks where
    EVERY word has a block (``_conjunctive_prune``) before positions are
    decoded. ``slop=1`` (exact adjacency, the default) evaluates the chain
    as pure JVM higher-order array expressions — no Python in the match
    loop; ``slop>1`` falls back to an Arrow-batched UDF running the same
    ``_span_near_chain`` the single-query planner uses."""
    import pandas as pd

    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from whoosh_spark.search.engine import _span_near_chain

    ix = searcher.index
    qrows = []
    for qid, field, words in queries:
        for i, w in enumerate(words):
            qrows.append((qid, field, w, i))
    qdf = ix.spark.createDataFrame(
        pd.DataFrame(qrows, columns=["query_id", "field", "term", "ordinal"]),
        schema="query_id string, field string, term string, ordinal int",
    )
    all_terms: dict[str, set] = {}
    for _, field, words in queries:
        all_terms.setdefault(field, set()).update(words)
    plan = _PlanContext(searcher)
    plan.stats = _term_stats(ix, {(f, t) for f, ts in all_terms.items() for t in ts})
    term_pairs = {(f, t) for f, ts in all_terms.items() for t in ts}

    blocks = ix.postings_blocks().filter(
        F.col("term").isin([t for _, t in term_pairs])
        & F.col("field").isin(list(all_terms))
    )
    qdf_u = qdf.dropDuplicates(["query_id", "field", "term"])
    if conjunctive_skip:
        allowed, surv_blocks = _conjunctive_prune(blocks, qdf_u)
    else:
        allowed, surv_blocks = None, blocks
    decoded = ix._mask_deleted(
        decode_blocks(surv_blocks, with_positions=True, with_block_id=True)
    )
    scored = plan.attach_scores(decoded, sorted(term_pairs),
                                keep_positions=True,
                                extra_cols=["bucket", "block_no"])
    if allowed is not None:
        scored = scored.join(allowed, on=["field", "term", "bucket", "block_no"])
        per_query = scored.join(F.broadcast(qdf), on=["query_id", "field", "term"])
    else:
        per_query = scored.join(F.broadcast(qdf), on=["field", "term"])

    agg = per_query.groupBy("query_id", "doc_id").agg(
        F.sum("score").alias("score"),
        F.count_distinct(F.col("ordinal")).alias("_n"),
        F.array_sort(F.collect_list(F.struct("ordinal", "positions"))).alias("_op"),
    )
    n_words = qdf.groupBy("query_id").agg(
        F.count_distinct(F.col("ordinal")).alias("_need")
    )
    agg = agg.join(F.broadcast(n_words), on="query_id").filter(
        F.col("_n") == F.col("_need")
    )
    ps = F.transform(F.col("_op"), lambda s: s["positions"])
    agg = agg.withColumn("_ps", ps)
    if slop == 1:
        # exists p in ps[0] with p+i in ps[i] for every following ordinal —
        # the SpanNear2 chain at slop=1 as JVM codegen (engine.py
        # _compile_phrase uses the same degenerate form per query)
        chain_ok = F.when(F.size("_ps") == 1, F.lit(True)).otherwise(
            F.exists(
                F.element_at("_ps", 1),
                lambda x: F.forall(
                    F.sequence(F.lit(1), F.size("_ps") - 1),
                    lambda i: F.array_contains(F.element_at("_ps", i + 1), x + i),
                ),
            )
        )
    else:
        _slop = int(slop)

        # no type hints: `from __future__ import annotations` stringifies
        # them, which PySpark's hint inference rejects
        @pandas_udf(T.BooleanType())
        def _chain(ps_col):
            return ps_col.apply(
                lambda ps: _span_near_chain([list(p) for p in ps], _slop, True, 1)
            )

        chain_ok = _chain(F.col("_ps"))
    out = agg.filter(chain_ok).select("query_id", "doc_id", "score")
    if round_to is not None:
        out = out.withColumn("score", F.round(F.col("score"), round_to))
    return _topk_window(out, k)


def batch_prefix_search(
    searcher: Searcher,
    queries: list[tuple[str, str, str]],
    k: int = 10,
    round_to: int | None = None,
) -> DataFrame:
    """queries: [(query_id, field, prefix)] -> top-k per query with EXACT
    single-query Prefix semantics (reference terms.py:173-211 as resolved
    by engine._resolve_multiterms): an expansion of >=2 terms is a
    constant-score-1.0 doc set (the boost-ignored reference quirk), exactly
    one term degenerates to a scored BM25F Term, zero terms to no rows.
    The query-expansion shape (autocomplete, identifier lookup over a code
    corpus) served for the whole batch at once.

    Scale shape: ONE lexicon scan per field, broadcast-joined against the
    batch's prefixes on a JVM ``startswith`` (no term list ever reaches the
    driver for multi-term queries); ONE posting scan whose OR-of-prefixes
    predicate pushes to the term-sorted Parquet files (StringStartsWith
    row-group pruning); ids-only use of the decoded rows with a per-query
    distinct. The only driver traffic is the <=1-row-per-query list of
    single-term expansions (bounded, same class as the WAND seed collect),
    which routes through ``batch_term_search`` for exact term scoring."""
    import pandas as pd

    ix = searcher.index
    qdf = ix.spark.createDataFrame(
        pd.DataFrame(queries, columns=["query_id", "field", "prefix"]),
        schema="query_id string, field string, prefix string",
    )
    fields = sorted({f for _, f, _ in queries})

    exp_parts = []
    for field in fields:
        lex = ix.field_terms(field).select("term")
        qf = qdf.filter(F.col("field") == field).select("query_id", "prefix")
        exp_parts.append(
            lex.join(F.broadcast(qf), F.col("term").startswith(F.col("prefix")))
            .select("query_id", F.lit(field).alias("field"), "term")
        )
    expansion = exp_parts[0]
    for p in exp_parts[1:]:
        expansion = expansion.unionByName(p)
    counts = expansion.groupBy("query_id").agg(F.count("*").alias("_n_exp"))

    # single-term degenerates (reference: Prefix expanding to one term IS
    # that scored Term) — bounded collect, <= 1 row per query
    ones = (
        expansion.join(F.broadcast(counts.filter(F.col("_n_exp") == 1)),
                       on="query_id")
        .select("query_id", "field", "term")
        .collect()
    )
    outs = []
    if ones:
        outs.append(batch_term_search(
            searcher,
            [(r["query_id"], r["field"], [r["term"]]) for r in ones],
            k=k, use_wand=False, round_to=round_to,
        ))

    one_qids = {r["query_id"] for r in ones}
    multi_queries = [(qid, f, p) for qid, f, p in queries if qid not in one_qids]
    if multi_queries:
        pred = None
        for _, field, prefix in multi_queries:
            c = (F.col("field") == field) & F.col("term").startswith(prefix)
            pred = c if pred is None else (pred | c)
        blocks = ix.postings_blocks().filter(pred)
        decoded = ix._mask_deleted(decode_blocks(blocks)).select(
            "field", "term", "doc_id"
        )
        multi = expansion.join(
            F.broadcast(counts.filter(F.col("_n_exp") >= 2)), on="query_id"
        ).select("query_id", "field", "term")
        matched = (
            decoded.join(F.broadcast(multi), on=["field", "term"])
            .select("query_id", "doc_id")
            .distinct()
            .withColumn("score", F.lit(1.0))
        )
        if round_to is not None:
            matched = matched.withColumn("score", F.round(F.col("score"), round_to))
        outs.append(_topk_window(matched, k))

    if not outs:
        return ix.spark.createDataFrame(
            [], "query_id string, doc_id bigint, score double, rank int"
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def batch_fuzzy_search(
    searcher: Searcher,
    queries: list[tuple[str, str, str]],
    k: int = 10,
    maxdist: int = 1,
    prefixlength: int = 1,
    round_to: int | None = None,
    use_wand: bool = False,
) -> DataFrame:
    """queries: [(query_id, field, word)] -> top-k per query with EXACT
    single-query FuzzyTerm semantics (reference terms.py:420-485 as a
    SCORED multiterm: expands to Or-of-Terms, each expanded term scored
    with its own idf, scores summed). The typo-tolerant lookup shape a
    dedup / entity-resolution pipeline runs in bulk.

    Expansion is ONE lexicon scan per field, broadcast-joined against the
    batch's words on JVM ``levenshtein`` + prefix guard (Spark's builtin
    is plain Levenshtein, identical to the single-query predicate). The
    expanded bags then route through ``batch_term_search``
    (sum-of-term-scores == Or). Driver traffic is the expansion itself,
    clipped at ``Searcher.max_expansion`` terms per query with a loud
    failure beyond — the same contract as the single-query scored
    expansion (engine._resolve_multiterms)."""
    import pandas as pd

    ix = searcher.index
    qdf = ix.spark.createDataFrame(
        pd.DataFrame(queries, columns=["query_id", "field", "word"]),
        schema="query_id string, field string, word string",
    )
    fields = sorted({f for _, f, _ in queries})
    cap = searcher.max_expansion

    exp_parts = []
    for field in fields:
        lex = ix.field_terms(field).select("term")
        qf = qdf.filter(F.col("field") == field).select("query_id", "word")
        cond = F.levenshtein(F.col("term"), F.col("word")) <= F.lit(int(maxdist))
        if prefixlength:
            cond = cond & F.col("term").startswith(
                F.substring(F.col("word"), 1, int(prefixlength))
            )
        exp_parts.append(
            lex.join(F.broadcast(qf), cond)
            .select("query_id", F.lit(field).alias("field"), "term")
        )
    expansion = exp_parts[0]
    for p in exp_parts[1:]:
        expansion = expansion.unionByName(p)
    # <= cap+1 terms per query ever reach the driver (slice before collect)
    rows = (
        expansion.groupBy("query_id", "field")
        .agg(F.slice(F.sort_array(F.collect_list("term")), 1, cap + 1).alias("terms"))
        .collect()
    )
    bags = []
    for r in rows:
        if len(r["terms"]) > cap:
            raise ValueError(
                f"fuzzy query {r['query_id']!r} expands to more than "
                f"max_expansion={cap} terms; lower maxdist or raise "
                f"Searcher(max_expansion=...)"
            )
        bags.append((r["query_id"], r["field"], list(r["terms"])))
    if not bags:
        return ix.spark.createDataFrame(
            [], "query_id string, doc_id bigint, score double, rank int"
        )
    return batch_term_search(searcher, bags, k=k, use_wand=use_wand,
                             round_to=round_to)


def batch_multiterm_search(
    searcher: Searcher,
    queries: list[tuple[str, "object"]],
    k: int = 10,
    round_to: int | None = None,
) -> DataFrame:
    """queries: [(query_id, MultiTerm node)] — any mix of constant-score
    pattern/range queries (Wildcard / Regex / Prefix / TermRange) served
    for the whole batch at once with EXACT single-query semantics: >=2
    expanded terms are a constant-score-1.0 doc set (boost-ignored
    reference quirk), exactly one term degenerates to a scored BM25F Term,
    zero terms to no rows. Scored multiterms (FuzzyTerm) belong in
    ``batch_fuzzy_search`` and are rejected here.

    Scale shape: ONE lexicon scan per field evaluates EVERY query's
    ``term_predicate`` in a single Arrow-batched pass (the per-query
    Python regexes are broadcast in the UDF closure and run over distinct
    terms only — the same work the reference does per term, batched); the
    posting scan is then restricted to exactly the expansion's terms via a
    broadcast join (plus each query's native pushdown as a Parquet
    row-group filter when every query provides one). Driver traffic is
    the <=1-row-per-query single-term-degenerate list, as in
    ``batch_prefix_search``."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    ix = searcher.index
    for qid, q in queries:
        if not getattr(q, "constantscore", False):
            raise ValueError(
                f"query {qid!r}: {type(q).__name__} is not a constant-score "
                "multiterm; use batch_fuzzy_search for scored expansions"
            )
    fields = sorted({q.field for _, q in queries})

    exp_parts = []
    for field in fields:
        plist = [(qid, q.term_predicate) for qid, q in queries if q.field == field]

        @pandas_udf(T.ArrayType(T.StringType()))
        def _match(s, _plist=plist):
            return s.map(lambda t: [qid for qid, p in _plist if p(t)])

        lex = ix.field_terms(field).select("term")
        exp_parts.append(
            lex.withColumn("query_id", F.explode(_match(F.col("term"))))
            .select("query_id", F.lit(field).alias("field"), "term")
        )
    expansion = exp_parts[0]
    for p in exp_parts[1:]:
        expansion = expansion.unionByName(p)
    counts = expansion.groupBy("query_id").agg(F.count("*").alias("_n_exp"))

    # single-term degenerates (scored Term) — bounded collect
    ones = (
        expansion.join(F.broadcast(counts.filter(F.col("_n_exp") == 1)),
                       on="query_id")
        .select("query_id", "field", "term")
        .collect()
    )
    outs = []
    if ones:
        outs.append(batch_term_search(
            searcher,
            [(r["query_id"], r["field"], [r["term"]]) for r in ones],
            k=k, use_wand=False, round_to=round_to,
        ))

    one_qids = {r["query_id"] for r in ones}
    multi_nodes = [(qid, q) for qid, q in queries if qid not in one_qids]
    if multi_nodes:
        multi = expansion.join(
            F.broadcast(counts.filter(F.col("_n_exp") >= 2)), on="query_id"
        ).select("query_id", "field", "term")
        blocks = ix.postings_blocks().filter(F.col("field").isin(fields))
        pds = [(q.field, q.spark_term_filter()) for _, q in multi_nodes]
        if all(p is not None for _, p in pds):
            pred = None
            for field, p in pds:
                c = (F.col("field") == field) & p
                pred = c if pred is None else (pred | c)
            blocks = blocks.filter(pred)
        blocks = blocks.join(
            F.broadcast(multi.select("field", "term").distinct()),
            on=["field", "term"],
        )
        decoded = ix._mask_deleted(decode_blocks(blocks)).select(
            "field", "term", "doc_id"
        )
        matched = (
            decoded.join(F.broadcast(multi), on=["field", "term"])
            .select("query_id", "doc_id")
            .distinct()
            .withColumn("score", F.lit(1.0))
        )
        if round_to is not None:
            matched = matched.withColumn("score", F.round(F.col("score"), round_to))
        outs.append(_topk_window(matched, k))

    if not outs:
        return ix.spark.createDataFrame(
            [], "query_id string, doc_id bigint, score double, rank int"
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


#: Widest multiterm expansion ``batch_search`` sends to the bucket
#: placement. Its evaluator scores every expanded term once per bucket
#: partition, where the prefix and pattern kernels need only a distinct
#: doc-id set, so the placement's cost grows with the expansion while the
#: kernels' barely does. 100-prefix batches over 45,000 cached terms on 4
#: cores (BENCH/BATCH_AB_LEXICON.json): 1-4 terms 1.8-1.9 s in the
#: placement vs 2.3-2.4 s in ``batch_prefix_search``; 5-16 terms near the
#: crossover (1.9-2.8 vs 2.3-2.4 s); ~113 terms 15-18 vs 2.6-7.9 s.
BUCKET_MAX_EXPANSION = 16


def _bucket_route(searcher, q, c):
    """``q`` resolved for the ``batch_search`` bucket call, or None to
    leave it to its kernel (``c`` is its ``_classify_for_batch`` result).
    FuzzyTerms stay on ``batch_fuzzy_search``: resolving one here runs a
    Python Levenshtein over every driver-cached term, once per query,
    where the kernel tests the whole batch in one JVM lexicon scan.
    Prefix/Wildcard/Regex/TermRange join only up to
    ``BUCKET_MAX_EXPANSION`` expanded terms; a Prefix is measured first
    by bisecting the sorted cached lexicon (``Index.cached_terms``), so a
    wide one skips the per-query resolve."""
    import bisect

    from whoosh_spark.search.local import bucket_tree

    kind = c[0] if c else None
    if kind == "fuzzy":
        return None
    lex = searcher.index.cached_terms(q.field) if kind == "prefix" and q.text else None
    if lex is not None:
        p = q.text
        lo = bisect.bisect_left(lex, p)
        hi = bisect.bisect_left(lex, p[:-1] + chr(ord(p[-1]) + 1), lo)
        if hi - lo > BUCKET_MAX_EXPANSION:
            return None
    t = bucket_tree(searcher, q)
    if (t is not None and kind in ("prefix", "multiterm")
            and sum(1 for _ in t.leaves()) > BUCKET_MAX_EXPANSION):
        return None
    return t


def _classify_for_batch(q):
    """Map a query tree onto the batch kernel that serves it when the
    bucket placement declines it.

    Returns (kind, payload) where kind is one of "null", "term", "and",
    "phrase", "prefix", "fuzzy", "multiterm" — the shapes the batch
    kernels serve with exact single-query semantics — or None for trees
    no batch kernel serves (boosts, minmatch/scale, Not, nested boolean,
    spans, ranges over stored columns, ...): the bucket placement or the
    per-query engine answers those."""
    from whoosh_spark import query as Q
    from whoosh_spark.query.nodes import _NullQuery

    if isinstance(q, _NullQuery):
        return ("null", None)
    if q.boost != 1.0:
        return None
    if type(q) is Q.Term:
        return ("term", (q.field, [q.text]))
    if type(q) is Q.Or and q.minmatch == 0 and q.scale is None:
        subs = q.subqueries
        if (subs and all(type(s) is Q.Term and s.boost == 1.0 for s in subs)
                and len({s.field for s in subs}) == 1):
            terms = [s.text for s in subs]
            if len(set(terms)) == len(terms):
                return ("term", (subs[0].field, terms))
        return None
    if type(q) is Q.And:
        subs = q.subqueries
        if (subs and all(type(s) is Q.Term and s.boost == 1.0 for s in subs)
                and len({s.field for s in subs}) == 1):
            terms = [s.text for s in subs]
            if len(set(terms)) == len(terms):
                return ("and", (subs[0].field, terms))
        return None
    if type(q) is Q.Phrase:
        return ("phrase", (q.slop, q.field, list(q.words)))
    if type(q) is Q.Prefix:
        return ("prefix", (q.field, q.text))
    if type(q) is Q.FuzzyTerm:
        return ("fuzzy", ((q.maxdist, q.prefixlength), q.field, q.text))
    if type(q) is Q.Variations:
        return ("term", (q.field, sorted(q._candidates())))
    if getattr(q, "constantscore", False) and hasattr(q, "term_predicate"):
        return ("multiterm", q)
    return None


def batch_search(
    searcher: Searcher,
    queries: "list[tuple[str, object]]",
    k: int = 10,
    parser=None,
    round_to: int | None = None,
    strict: bool = False,
) -> DataFrame:
    """Serve a query log: ``queries`` is [(query_id, query)] where each
    query is a Query node or a raw query-language string (parsed with
    ``parser``). Returns DataFrame(query_id, doc_id, score, rank); queries
    with no matches contribute no rows.

    One routing rule: every tree the bucket placement accepts
    (``local.bucket_tree``) joins ONE ``local.bucket_topk`` call — the
    exact evaluator in each doc-complete bucket partition, so those
    queries equal ``Searcher.search`` bit for bit, with the And skip
    deciding which blocks of And and phrase trees decode, and with
    ``round_to`` applied before the top-k cut — except FuzzyTerms and
    Prefix/Wildcard/Regex/TermRange nodes expanding past
    ``BUCKET_MAX_EXPANSION`` terms (see ``_bucket_route``). Multiterms
    join it expanded against the driver-cached lexicon. The batch kernels
    serve those exceptions and what the placement declines, one job chain
    per shape: bags to ``batch_term_search``, phrases to
    ``batch_phrase_search`` (grouped by slop), Prefixes to
    ``batch_prefix_search``, FuzzyTerms to ``batch_fuzzy_search`` (grouped
    by (maxdist, prefixlength)) and constant-score Wildcard/Regex/TermRange
    to ``batch_multiterm_search``. The bucket placement declines:

    - every tree when the weighting is not plain BM25F
    - multi-word phrases with slop other than 1
    - multiterms on a field whose lexicon is past ``Index.PREFETCH_TERMS``
      (not driver-cached), or that expand past ``max_expansion``
    - trees with Not or Or(scale=)

    Trees no batch kernel serves (Not, Or(scale=), spans, column ranges,
    ...) fall back to the per-query engine inside the same returned
    union; pass ``strict=True`` to raise on any tree outside the batch
    kernels' shapes instead (a serving deployment that must never run
    per-query jobs).

    Fallback note: the bucket placement and the batch kernels apply
    ``round_to`` BEFORE their top-k tie-cut; fallback queries keep the
    engine's exact-score cut and round after, which can differ at a
    rounded k-boundary tie."""
    ix = searcher.index
    if any(isinstance(q, str) for _, q in queries):
        if parser is None:
            raise ValueError("string queries need a parser")
        queries = [(qid, parser.parse(q) if isinstance(q, str) else q)
                   for qid, q in queries]

    routed = []  # (query_id, tree, _classify_for_batch result)
    for qid, q in queries:
        c = _classify_for_batch(q)
        if c is None and strict:
            raise ValueError(
                f"query {qid!r}: {type(q).__name__} tree has no exact "
                "batch kernel (strict=True)")
        if c is None or c[0] != "null":
            routed.append((qid, q, c))

    from whoosh_spark.search.local import bucket_topk

    outs = []
    exact, declined = [], []
    for qid, q, c in routed:
        t = _bucket_route(searcher, q, c)
        if t is None:
            declined.append((qid, q, c))
        else:
            exact.append((qid, t))
    if exact:
        outs.append(bucket_topk(searcher, exact, k, round_to=round_to))

    buckets: dict = {"term": [], "and": [], "prefix": [], "multiterm": []}
    phrase_by_slop: dict = {}
    fuzzy_by_params: dict = {}
    fallback = []
    for qid, q, c in declined:
        if c is None:
            fallback.append((qid, q))
            continue
        kind, payload = c
        if kind == "phrase":
            slop, field, words = payload
            phrase_by_slop.setdefault(slop, []).append((qid, field, words))
        elif kind == "fuzzy":
            params, field, text = payload
            fuzzy_by_params.setdefault(params, []).append((qid, field, text))
        elif kind == "multiterm":
            buckets["multiterm"].append((qid, payload))
        else:
            field, terms = payload
            buckets[kind].append((qid, field, terms))

    if buckets["term"]:
        outs.append(batch_term_search(
            searcher, buckets["term"], k=k, round_to=round_to))
    if buckets["and"]:
        outs.append(batch_term_search(
            searcher, buckets["and"], k=k, conjunctive=True,
            round_to=round_to))
    for slop, qs in sorted(phrase_by_slop.items()):
        outs.append(batch_phrase_search(
            searcher, qs, k=k, slop=slop, round_to=round_to))
    if buckets["prefix"]:
        outs.append(batch_prefix_search(
            searcher, buckets["prefix"], k=k, round_to=round_to))
    for (maxdist, prefixlength), qs in sorted(fuzzy_by_params.items()):
        outs.append(batch_fuzzy_search(
            searcher, qs, k=k, maxdist=maxdist, prefixlength=prefixlength,
            round_to=round_to))
    if buckets["multiterm"]:
        outs.append(batch_multiterm_search(
            searcher, buckets["multiterm"], k=k, round_to=round_to))
    for qid, q in fallback:
        r = searcher.search(q, limit=k).select(
            F.lit(qid).alias("query_id"), "doc_id", "score")
        if round_to is not None:
            r = r.withColumn("score", F.round(F.col("score"), round_to))
        outs.append(_topk_window(r, k))

    if not outs:
        return ix.spark.createDataFrame(
            [], "query_id string, doc_id bigint, score double, rank int")
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
