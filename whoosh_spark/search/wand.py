"""Block-max WAND: exact top-k with block-metadata pruning.

One implementation serves a single query (``Searcher.search(use_wand=True)``,
a batch of one) and a batch (``batch.batch_wand_search``). A query is a
flat disjunction ``(query_id, [(field, term, boost), ...], boost)``. Re-
expresses the reference's quality optimization (collectors.py:405-413
skip_to_quality, matching/binary.py:511-548, codec/whoosh3.py:1038-1051;
bounds per scoring.py:199-221) as two collected Spark steps and a final
plan.

Phase 1 — seed θ from seed blocks: each query's strongest term t has its
best-quality blocks covering k postings decoded and scored exactly; the
k-th best is θ_t, and the query's θ is (θ_t * w) * qb, the k-th best of
its partials (a factor >= 0 keeps their order). Every contribution is
>= 0 (callers decline negative boosts), so a doc's total is >= its
partial: θ <= the k-th best total. θ_t is collected per term, so queries
sharing a strongest term seed once.

Phase 2 — chunk-aligned pruning on block metadata, JVM side. A block's
[min_id, max_id] span names the ``BOUND_CHUNK``-id chunks it scores into;
per (query, chunk) the sum of each term occurrence's best overlapping
block quality bounds every doc total there (an absent term adds 0). A
(query, occurrence, block) survives iff some chunk it overlaps has
block_quality + (chunk_bound − its own chunk max) >= θ. The surviving
keys are collected (what broadcasting them would ship anyway) and return
as one local relation that selects the blocks to decode and joins each
posting to the query occurrences that kept its block.

Exactness: every block of a doc whose total reaches θ covers the doc's
chunk, so it survives and the doc is scored in full; a doc that lost a
block has total < θ and cannot enter the top k (``round_to`` lowers θ by
10^-round_to so it cannot tie after rounding either). A repeated term
scores once per occurrence; each term's score times its boost is summed
in child order by the ordered aggregate the conjunctive plans use, and
the sum is multiplied by the query boost — the exact evaluator's op
order, so WAND returns the ``Searcher.search`` top-k bit for bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Window, functions as F, types as T

from whoosh_spark.index.catalog import _chunk_col, decode_blocks
from whoosh_spark.search.scoring import byte_to_length_col

EPS = 1e-12

_KEY = ["field", "term", "bucket", "block_no"]


def _max_quality(searcher, c: dict, st: dict) -> float:
    """A term's best posting score bound from its ``score_meta`` row ``c``
    and term stats ``st``."""
    from whoosh_spark.index.quantize import byte_to_length

    max_w = float(st["max_tf"]) * c["fboost"]
    if not c["scorable"]:
        return max_w
    min_fl = float(byte_to_length(int(st["min_len_byte"])))
    return searcher.weighting.max_quality(c["idf"], max_w, min_fl, c["avgfl"], c["b"])


def block_max_wand(searcher, queries: list, k: int, with_stats: bool = False,
                   round_to: int | None = None):
    """Top-k per query for ``queries`` = [(query_id, [(field, term, boost),
    ...], boost)], every boost >= 0. Returns DataFrame(query_id, doc_id,
    score, rank); ``round_to`` rounds scores before the top-k window.

    ``with_stats=True`` returns ``(df, stats)``: per-(query, occurrence)
    blocks kept vs total (``qt_blocks_*``), physical blocks decoded vs the
    full scan (``decode_blocks_*``) and the seeded θ per query (``theta``)
    — extra count jobs, for diagnostics and benchmarks only."""
    from whoosh_spark.search.batch import _ordered_sum, _topk_window
    from whoosh_spark.search.engine import _PlanContext
    from whoosh_spark.search.local import _term_stats

    ix = searcher.index
    spark = ix.spark
    plan = _PlanContext(searcher)
    plan.stats = _term_stats(ix, {(f, t) for _, terms, _ in queries for f, t, _ in terms})
    live_terms = sorted(plan.stats)
    meta = {(r["field"], r["term"]): r for r in plan.score_meta(live_terms)}
    mq = {ft: _max_quality(searcher, c, plan.stats[ft]) for ft, c in meta.items()}

    # one row per (query, term occurrence) carrying its term's score
    # constants: pos = child order, w = term boost, qb = query boost; and
    # each query's strongest occurrence (its star)
    occ_rows, stars = [], {}
    for qid, terms, qb in queries:
        live = [(pos, f, t, float(b)) for pos, (f, t, b) in enumerate(terms)
                if (f, t) in meta]
        if live:
            _, f, t, b = max(live, key=lambda o: mq[(o[1], o[2])] * o[3])
            stars[qid] = ((f, t), b, float(qb))
            occ_rows.extend(dict(meta[(f, t)], query_id=qid, pos=pos, w=b, qb=float(qb))
                            for pos, f, t, b in live)
    if not occ_rows:
        empty = spark.createDataFrame(
            [], "query_id string, doc_id long, score double, rank int")
        if not with_stats:
            return empty
        return empty, {"qt_blocks_total": 0, "qt_blocks_kept": 0,
                       "decode_blocks_total": 0, "decode_blocks_kept": 0, "theta": {}}
    occ_pdf = pd.DataFrame(occ_rows)
    schema = T.StructType([T.StructField("query_id", T.StringType()),
                           T.StructField("pos", T.IntegerType()), T.StructField("w", T.DoubleType()),
                           T.StructField("qb", T.DoubleType()), *plan.SCORE_META_SCHEMA.fields])
    qocc = spark.createDataFrame(occ_pdf[schema.names], schema=schema)

    blocks = ix.postings_blocks().filter(
        F.col("term").isin(sorted({t for _, t in live_terms}))
        & F.col("field").isin(sorted({f for f, _ in live_terms}))
    )
    # a block's quality bound (JVM-side, from its max_tf and min_len_byte)
    bq = searcher.weighting.score_col(
        F.col("max_tf") * F.col("fboost"), byte_to_length_col(F.col("min_len_byte")),
        F.col("idf"), F.col("avgfl"), F.col("b"), F.col("one_minus_b"),
        F.col("scorable"),
    )

    # ---- phase 1: θ_t per star term over its best blocks; a query's θ
    # is (θ_t * w) * qb, its partials' k-th best as the engine computes them
    star_terms = sorted({ft for ft, _, _ in stars.values()})
    star_meta = spark.createDataFrame(
        pd.DataFrame([meta[ft] for ft in star_terms])[plan.SCORE_META_SCHEMA.names],
        schema=plan.SCORE_META_SCHEMA)
    seed = (
        blocks.join(F.broadcast(star_meta), on=["field", "term"])
        .withColumn("_cum", F.sum("count").over(Window.partitionBy("field", "term").orderBy(
            bq.desc(), F.asc("bucket"), F.asc("block_no"))))
        .filter(F.col("_cum") - F.col("count") < k)
        .select(*_KEY)
    )
    score = plan.score_col(live_terms)
    partial = ix._mask_deleted(decode_blocks(
        blocks.join(F.broadcast(seed), on=_KEY, how="left_semi"))).join(
        F.broadcast(star_meta), on=["field", "term"]).select(
        "field", "term", score.alias("score")).toPandas()
    theta_t = {ft: float(np.sort(g.to_numpy())[-k])
               for ft, g in partial.groupby(["field", "term"])["score"] if len(g) >= k}
    theta = {qid: (theta_t[ft] * w) * qb
             for qid, (ft, w, qb) in stars.items() if ft in theta_t}
    slack = 0.0 if round_to is None else 10.0 ** -round_to
    qtheta = spark.createDataFrame(
        pd.DataFrame({"query_id": list(theta), "theta": [v - slack for v in theta.values()]}),
        schema="query_id string, theta double")

    # ---- phase 2: chunk-aligned pruning, one shuffle by query (every
    # window and the dedup run inside it). tcq = the occurrence's best
    # block quality in the chunk, chunk_bound = the sum of tcq over the
    # query's occurrences; a block survives via any chunk it overlaps
    w_occ = Window.partitionBy("query_id", "chunk", "pos")
    occ = blocks.join(F.broadcast(qocc), on=["field", "term"]).select(
        "query_id", "pos", *_KEY, "min_id", "max_id",
        (bq * (F.col("w") * F.col("qb"))).alias("bqm"))
    kept = (
        occ.join(F.broadcast(qtheta), on="query_id", how="left")
        .select("*", _chunk_col())
        .repartition("query_id")
        .withColumn("tcq", F.max("bqm").over(w_occ))
        .withColumn("_rn", F.row_number().over(w_occ.orderBy("bucket", "block_no")))
        .withColumn("chunk_bound", F.sum(F.when(F.col("_rn") == 1, F.col("tcq")))
                    .over(Window.partitionBy("query_id", "chunk")))
        .filter(
            F.col("theta").isNull()
            | ((F.col("bqm") + (F.col("chunk_bound") - F.col("tcq")))
               * F.lit(1 + EPS) + F.lit(EPS) >= F.col("theta"))
        )
        .select("query_id", "pos", *_KEY)
        .distinct()
        .toPandas()
    )
    # each posting of a kept block once per query occurrence that kept
    # it; the keys ship with the occurrences' constants as one local
    # relation (broadcast without a Spark job) and bound the decode too
    key_schema = T.StructType([*schema.fields, T.StructField("bucket", T.LongType()),
                               T.StructField("block_no", T.IntegerType())])
    keys = F.broadcast(spark.createDataFrame(
        kept.merge(occ_pdf, on=["query_id", "pos", "field", "term"])[key_schema.names],
        schema=key_schema))
    decoded = ix._mask_deleted(decode_blocks(
        blocks.join(keys, on=_KEY, how="left_semi"), with_block_id=True))
    # each query's postings in one partition: the ordered sum and the
    # top-k window share one shuffle
    agg = (
        decoded.join(keys, on=_KEY)
        .select("query_id", "doc_id", "pos", "qb",
                (score * F.col("w")).alias("score"))
        .repartition("query_id").groupBy("query_id", "doc_id")
        .agg((_ordered_sum() * F.first("qb")).alias("score"))
    )
    if round_to is not None:
        agg = agg.withColumn("score", F.round(F.col("score"), round_to))
    out = _topk_window(agg, k)
    if not with_stats:
        return out
    return out, {
        # per-(query, occurrence) pruning decisions — the WAND skip rate
        "qt_blocks_total": occ.count(),
        "qt_blocks_kept": len(kept),
        # physical blocks decoded once vs the full batch scan
        "decode_blocks_total": blocks.count(),
        "decode_blocks_kept": len(kept.drop_duplicates(_KEY)),
        "theta": theta,
    }
